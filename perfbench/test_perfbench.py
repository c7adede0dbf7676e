"""The benchmark's own tests.

    python3 -m pytest perfbench/test_perfbench.py -q

The smoke tests run ``run.py`` end to end at ``--size tiny`` (about a
minute per workload); the parser test traces one tiny query in-process.
"""

from __future__ import annotations

import json
import os
import re
import shutil
import subprocess
import sys
from unittest import mock

import numpy as np
import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path[:0] = [HERE, ROOT]

import oracle                                    # noqa: E402
import report                                    # noqa: E402
from tracing import union_ms                     # noqa: E402
from workloads import TRACED_MIN_CALLS           # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _f:
    BENCHMARK = json.load(_f)


def _run(args, cwd=ROOT, timeout=600):
    return subprocess.run([sys.executable, "perfbench/run.py", *args],
                          cwd=cwd, capture_output=True, text=True,
                          timeout=timeout)


# ---------------------------------------------------------------------------
# references
# ---------------------------------------------------------------------------

def test_exact_topk_matches_brute_force():
    base, queries = oracle.clustered_vectors(3, 500, 20, 8, 4)
    got = oracle.exact_topk(base, queries, 10)
    for q, ids in zip(queries, got):
        d = np.sqrt(((base - q) ** 2).sum(axis=1))
        assert list(ids) == list(np.lexsort((np.arange(len(base)), d))[:10])


def test_check_topk_flags_bad_answers():
    base, queries = oracle.clustered_vectors(3, 200, 1, 8, 4)
    truth = oracle.exact_topk(base, queries, 3)[0]
    q = queries[0]
    good = [(int(i), float(np.sqrt(((base[i] - q) ** 2).sum())), r + 1)
            for r, i in enumerate(truth)]
    assert oracle.check_topk(good, base, q, 3, truth) == ([], 1.0)
    wrong_distance = [good[0], (good[1][0], good[1][1] + 1e-6, 2), good[2]]
    assert oracle.check_topk(wrong_distance, base, q, 3, truth)[0]
    dropped = good[:2]
    assert oracle.check_topk(dropped, base, q, 3, truth)[0]


def test_corpus_plants_pairs_on_both_sides_of_the_threshold():
    docs = oracle.near_dup_corpus(5, 600)
    assert sorted(i for i, _ in docs) == list(range(600))
    sets = {i: oracle.shingle_set(t, 3) for i, t in docs}
    pairs = oracle.jaccard_pairs(docs, 3, 0.5)
    near_miss = oracle.jaccard_pairs(docs, 3, 0.3)
    assert pairs and len(near_miss) > len(pairs)
    for a, b in pairs:
        inter = len(sets[a] & sets[b])
        assert inter / (len(sets[a]) + len(sets[b]) - inter) >= 0.5
    sizes = {}
    for c in oracle.components([i for i, _ in docs], pairs).values():
        sizes[c] = sizes.get(c, 0) + 1
    assert max(sizes.values()) >= 4        # drift chains survive verification


def test_check_dedup_scores_clusters():
    truth = {1: 1, 2: 1, 3: 3, 4: 3}
    good = [(1, 1, 1), (2, 1, 0), (3, 3, 1), (4, 3, 0)]
    assert oracle.check_dedup(good, [1, 2, 3, 4], truth) == ([], 1.0, 1.0)
    merged = [(1, 1, 1), (2, 1, 0), (3, 1, 0), (4, 1, 0)]
    problems, recall, precision = oracle.check_dedup(merged, [1, 2, 3, 4], truth)
    assert problems == [] and recall == 1.0 and precision == pytest.approx(2 / 6)
    bad_canonical = [(1, 2, 0), (2, 2, 1), (3, 3, 1), (4, 3, 0)]
    assert oracle.check_dedup(bad_canonical, [1, 2, 3, 4], truth)[0]


def test_union_and_drift():
    assert union_ms([(0, 10), (5, 15), (20, 30)]) == 25
    assert union_ms([]) == 0
    assert report.drift_ratio([1, 1, 1, 1, 2, 2, 2, 2]) == 2.0
    assert report.drift_ratio([1, 1, 5, 5, 3, 3]) == 3.0


# ---------------------------------------------------------------------------
# event-log parser on one tiny traced query
# ---------------------------------------------------------------------------

def test_parser_on_a_tiny_traced_query(tmp_path):
    import run as bench
    from tracing import driver_ms, parse_event_log
    from workloads import AnnFixture, Run
    work = str(tmp_path)
    events = os.path.join(work, "events")
    with mock.patch.dict(os.environ):
        bench.confine(work)
        spark = bench.start_spark(work, "perfbench-test", events)
        try:
            run = Run(spark, 1, 1, "tiny", work, traced=True)
            fx = AnnFixture(run, 20)
            fx.index()
            fx.search(range(10), "api.search.first")
            fx.search(range(10, 20))
        finally:
            bench.stop_jvm(spark)
    groups = parse_event_log(events)
    for sp in run.tracer.spans:
        assert len(groups[sp.group].jobs) == sp.jobs > 0
    sp = run.tracer.of("api.search")[0]
    st = groups[sp.group]
    assert st.tasks >= st.stages > 0
    assert st.cpu_ns > 0 and st.shuffle_write > 0
    assert set(st.python_ms) == {"lsh.code", "query.route",
                                 "crypto.decrypt_score"}
    assert 0 <= driver_ms(sp, st) <= sp.wall * 1000
    assert {a for a, _ in st.executions.values()} >= {"count"}


# ---------------------------------------------------------------------------
# end to end
# ---------------------------------------------------------------------------

@pytest.mark.parametrize("workload", ["search_batch", "near_dup_text"])
def test_smoke_tiny(workload):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", "0", "--size", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, p.stdout
    assert set(result["metrics"]) == {m["name"] for m in BENCHMARK["end_to_end"]}
    assert all(m["value"] > 0 for m in result["metrics"].values())


def test_fails_without_the_package(tmp_path):
    shutil.copy(os.path.join(ROOT, "BENCHMARK.json"), tmp_path)
    shutil.copytree(HERE, tmp_path / "perfbench",
                    ignore=shutil.ignore_patterns("__pycache__"))
    p = _run(["--workload", "search_batch", "--seed", "1", "--seconds", "1",
              "--trace", "0"], cwd=tmp_path, timeout=120)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout


def test_failed_check_exits_nonzero(capsys):
    import run as bench
    failed = {"correct": False, "attempted": 1, "failed": 1, "metrics": {}}
    with mock.patch.dict(os.environ), \
            mock.patch.object(bench, "measure", return_value=(failed, [])):
        rc = bench.main(["--workload", "search_batch", "--seed", "1",
                         "--seconds", "1"])
    assert rc == 1
    assert json.loads(capsys.readouterr().out.splitlines()[-1]) == failed


@pytest.mark.parametrize("workload", ["search_batch", "near_dup_text"])
def test_traced_tiny(workload):
    p = _run(["--workload", workload, "--seed", "3", "--seconds", "1",
              "--trace", "1", "--size", "tiny"])
    assert p.returncode == 0, p.stderr[-3000:]
    result = json.loads(p.stdout.strip().splitlines()[-1])
    assert result["correct"] and result["failed"] == 0, p.stdout
    metrics = result["metrics"]
    assert set(metrics) == {m["name"] for m in BENCHMARK["per_layer"]}
    assert metrics["trace.overhead_ratio"]["value"] > 0
    prefix = "api.search." if workload == "search_batch" else "ops.dedup."
    assert metrics[prefix + "jobs"]["value"] > 0
    calls = int(re.search(r"(\d+) timed calls", p.stdout).group(1))
    assert calls >= TRACED_MIN_CALLS          # enough calls to show drift
    assert metrics["loop.drift_ratio"]["value"] > 0
