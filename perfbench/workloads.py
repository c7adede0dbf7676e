"""The benchmark's workloads.

Each workload drives the engine the way its users do — the
``ForwardSecureANNSystem`` facade, or ``near_dup_pipeline`` — as a closed
loop with one client: the next call starts when the previous answer has
been consumed.  A workload function sets the engine up (timed as set-up),
runs the loop until the deadline, then checks every answer against the
numpy / pure-Python references in ``oracle.py`` (untimed).
"""

from __future__ import annotations

import os
import time
from dataclasses import dataclass, field, replace

import numpy as np

from fspann_query_system_spark.api import ForwardSecureANNSystem
from fspann_query_system_spark.config import SystemConfig

import oracle
from tracing import Tracer

#: corpus sizes: "full" is what the benchmark measures, "tiny" is for the
#: benchmark's own tests
SIZES = {
    "full": {"n": 10_000, "dim": 64, "clusters": 64, "batch": 100,
             "docs": 3_000},
    "tiny": {"n": 1_500, "dim": 16, "clusters": 8, "batch": 10,
             "docs": 300},
}
#: the facade's defaults (adaptive retry on, reenc_mode="end", top-10)
CONFIG = SystemConfig()
K = CONFIG.top_k
#: near_dup_pipeline's defaults, the geometry the registry also runs
DEDUP = {"k": 3, "n_hashes": 8, "bands": 8, "threshold": 0.5}
#: timed calls a traced run makes at least, whatever ``--seconds`` says,
#: so that ``loop.drift_ratio`` compares two calls with two calls ...
TRACED_MIN_CALLS = 6
#: ... unless its loop has run this long: six search() calls take about
#: 38 s, and the whole traced run must end within three minutes
TRACED_LOOP_CAP_S = 40.0
#: untimed pipeline calls before the loop: the second call still ran
#: 10-20 % slower than later ones while the JVM compiled
DEDUP_WARM_CALLS = 2


@dataclass
class Run:
    """One workload execution: inputs, timings and check results."""
    spark: object
    seed: int
    seconds: float
    size: str
    work_dir: str
    traced: bool
    check: bool = True          # False: timing-only reference pass
    tracer: Tracer = None
    setup_s: float = 0.0
    latencies: list = field(default_factory=list)   # seconds per timed op
    items: int = 0              # queries / documents in the loop
    loop_s: float = 0.0
    recall: list = field(default_factory=list)
    attempted: int = 0
    failed: int = 0
    problems: list = field(default_factory=list)
    info: dict = field(default_factory=dict)        # printed, not gated

    def __post_init__(self):
        if self.tracer is None:
            self.tracer = Tracer(self.spark.sparkContext)

    @property
    def dims(self) -> dict:
        return SIZES[self.size]

    def verdict(self, problems: list[str]) -> None:
        """Count one checked operation."""
        self.attempted += 1
        if problems:
            self.failed += 1
            self.problems.extend(problems[:3])

    def timed_loop(self, op) -> None:
        """Call ``op(i)`` until ``seconds`` have passed (at least once, and
        when traced at least ``TRACED_MIN_CALLS`` times within
        ``TRACED_LOOP_CAP_S``); ``op`` returns the number of items it
        processed."""
        min_calls = TRACED_MIN_CALLS if self.traced else 1
        start = time.perf_counter()
        deadline = start + self.seconds
        cap = start + max(self.seconds, TRACED_LOOP_CAP_S)
        i = 0
        while ((i < min_calls and time.perf_counter() < cap)
               or time.perf_counter() < deadline):
            t = time.perf_counter()
            self.items += op(i)
            self.latencies.append(time.perf_counter() - t)
            i += 1
        self.loop_s = time.perf_counter() - start


# ---------------------------------------------------------------------------
# encrypted ANN
# ---------------------------------------------------------------------------

def _write_fvecs(path: str, matrix: np.ndarray) -> None:
    m = np.ascontiguousarray(matrix, dtype="<f4")
    rec = np.empty((len(m), m.shape[1] + 1), dtype="<f4")
    rec[:, 1:] = m
    rec[:, :1] = np.array([m.shape[1]], dtype="<i4").view("<f4")
    rec.tofile(path)


class AnnFixture:
    """A facade indexed from a seeded ``.fvecs`` file, plus the plaintext
    the checks compare against."""

    def __init__(self, run: Run, pool: int):
        d = run.dims
        self.run = run
        self.config = replace(CONFIG, dim=d["dim"])
        self.base, self.queries = oracle.clustered_vectors(
            run.seed, d["n"], pool, d["dim"], d["clusters"])
        self.path = os.path.join(run.work_dir, "base.fvecs")
        _write_fvecs(self.path, self.base)
        self.calls: list[list] = []     # per call: [(query index, rows)]
        self.system = None
        run.info["n_vectors"] = d["n"]

    def index(self) -> None:
        run = self.run
        key = np.random.default_rng(run.seed).bytes(32)
        self.system = ForwardSecureANNSystem(run.spark, self.config,
                                             master_key=key)
        with run.tracer.span("api.index"):
            self.system.index_path(self.path)

    def frame(self, pairs) -> object:
        """Query DataFrame of (q_id, query index) pairs."""
        return self.run.spark.createDataFrame(
            [(q_id, self.queries[q].tolist()) for q_id, q in pairs],
            "q_id LONG, vector ARRAY<DOUBLE>")

    def search(self, qs, layer: str = "api.search") -> int:
        """One ``search()`` call over query indexes ``qs`` (sent as their
        own q_ids); returns the number of queries."""
        df = self.frame((q, q) for q in qs)
        with self.run.tracer.span(layer):
            rows = self.system.search(df).collect()
        self._keep({q: q for q in qs}, rows)
        return len(qs)

    def lookup(self, q_id: int, q: int, layer: str = "api.lookup") -> bool:
        """One ``search_cached()`` call for query index ``q`` sent under
        ``q_id``; returns whether the result cache answered it."""
        hits = self.system.cache.hits
        df = self.frame([(q_id, q)])
        with self.run.tracer.span(layer):
            rows = self.system.search_cached(df).collect()
        self._keep({q_id: q}, rows)
        return self.system.cache.hits > hits

    def _keep(self, q_of: dict, rows) -> None:
        by_q = {q_id: [] for q_id in q_of}
        for r in rows:
            by_q.setdefault(r.q_id, []).append((r.id, r.distance, r.rank))
        self.calls.append([(q_of.get(q_id, -1), got)
                           for q_id, got in by_q.items()])

    def check_answers(self) -> None:
        """Every call's answers against numpy exact top-k."""
        run = self.run
        used = sorted({q for call in self.calls for q, _ in call if q >= 0})
        truth = dict(zip(used, oracle.exact_topk(self.base,
                                                 self.queries[used], K)))
        for call in self.calls:
            problems = []
            for q, rows in call:
                if q < 0:
                    problems.append("rows for a q_id that was not sent")
                    continue
                p, rec = oracle.check_topk(rows, self.base, self.queries[q],
                                           K, truth[q])
                problems += [f"query {q}: {x}" for x in p]
                run.recall.append(rec)
            run.verdict(problems)

    def touched(self) -> set:
        return {pid for call in self.calls for _, rows in call
                for pid, _, _ in rows}

    def routing_fingerprint(self) -> tuple:
        """Row count and order-independent hash of the routing tables."""
        from pyspark.sql import functions as F
        idx = self.system.index
        return tuple(
            tuple(df.select(F.count("*"),
                            F.bit_xor(F.xxhash64(*df.columns))).first())
            for df in (idx.codes, idx.bounds))


def _ingest(run: Run, fx: AnnFixture, first_call) -> None:
    """``index_path``, then the first answer: ``index_vectors`` leaves lazy
    work to the first query, so ingest ends there."""
    t = time.perf_counter()
    fx.index()
    first_call()
    run.info["ingest_s"] = time.perf_counter() - t
    run.info["first_search_s"] = run.tracer.spans[-1].wall
    run.info["index_jobs"] = run.tracer.of("api.index")[0].jobs


def search_batch(run: Run, t0: float) -> None:
    """Bulk encrypted top-10, ``batch`` queries per ``search()`` call.

    After the timed loop every answer is checked.  The traced run also
    adds a cache miss and hit, then rotates the touched rows onto a new
    key and checks the forward-security invariants: the rotation takes a
    fifth of an untraced run and no end-to-end metric times it, so it
    runs where its per-layer figures are taken."""
    batch = run.dims["batch"]
    fx = AnnFixture(run, 3 * batch)
    _ingest(run, fx, lambda: fx.search(range(batch), "api.search.first"))
    run.setup_s = time.perf_counter() - t0

    # the loop alternates between two query batches: a traced run's six
    # calls then touch the rows an untraced run's two touch, and the
    # rotation after the loop re-encrypts as much in both
    def op(i):
        lo = (1 + i % 2) * batch
        return fx.search(range(lo, lo + batch))

    run.timed_loop(op)
    if not run.check:
        return
    if run.traced:
        _cache_pair(run, fx)
    fx.check_answers()
    if run.traced:
        _rotate_and_check(run, fx)
        _diagnostics(run, fx)
        _ingest_layers(run, fx)


def _cache_pair(run: Run, fx: AnnFixture) -> None:
    """Two ``search_cached()`` calls for the same query under different
    q_ids: the first must miss the result cache, the second must hit it."""
    q = 0
    miss = fx.lookup(q, q)
    miss_span = run.tracer.spans[-1]
    hit = fx.lookup(len(fx.queries) + q, q)
    hit_span = run.tracer.spans[-1]
    run.info.update(cache_hits=int(miss) + int(hit), cache_lookups=2,
                    miss_jobs=miss_span.jobs, hit_ms=1000 * hit_span.wall,
                    miss_ms=1000 * miss_span.wall)
    run.verdict([] if hit and not miss else
                [f"cache answered the first lookup: {miss}, "
                 f"the repeat: {hit}"])


def _rotate_and_check(run: Run, fx: AnnFixture) -> None:
    """Rotate, selectively re-encrypt what the searches touched, and check
    the forward-security invariants."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.crypto.aes import decrypt_vectors
    system = fx.system
    before = fx.routing_fingerprint()
    touched = fx.touched()
    with run.tracer.span("crypto.rotate"):
        out = system.rotate_and_reencrypt_touched()
    run.info["rotate_s"] = run.tracer.spans[-1].wall
    run.info["touched_rows"] = len(touched)
    run.info["migrated_rows"] = out["migrated"]
    problems = []
    census = out.get("census", {})
    if sum(census.values()) != len(fx.base):
        problems.append(f"census {census} does not sum to {len(fx.base)}")
    if out["migrated"] != len(touched):
        problems.append(f"migrated {out['migrated']} != {len(touched)} "
                        f"touched rows on the old key")
    live = run.spark.sparkContext.broadcast(system.keys.key_map())
    plain = decrypt_vectors(system.encrypted, live, mode="strict")
    try:
        n, total = plain.select(F.count("*"), F.sum(F.aggregate(
            "vector", F.lit(0.0), lambda acc, x: acc + x))).first()
    except Exception as e:      # strict mode raises on a row it cannot decrypt
        problems.append(f"strict decrypt failed: {str(e)[:200]}")
    else:
        if n != len(fx.base):
            problems.append(f"{n} rows decrypt, expected {len(fx.base)}")
        elif abs(total - fx.base.sum()) > 1e-6 * np.abs(fx.base).sum():
            problems.append("decrypted vectors differ from the plaintext")
    if fx.routing_fingerprint() != before:
        problems.append("routing tables changed under rotation")
    run.verdict(problems)


def _diagnostics(run: Run, fx: AnnFixture) -> None:
    """Untimed ``with_diagnostics=True`` search: candidate counts per query."""
    batch = run.dims["batch"]
    rows = fx.system.search(fx.frame((q, q) for q in range(batch)),
                            with_diagnostics=True).collect()
    per_q = {}
    for r in rows:
        per_q[r.q_id] = (r._cand_raw, r._cand_kept, r._cand_decrypted)
    raw, kept, dec = (float(np.mean([v[j] for v in per_q.values()]))
                      for j in range(3))
    run.info.update(cand_raw_per_q=raw, cand_kept_per_q=kept,
                    decrypts_per_q=dec, useful_ratio=K / dec if dec else 0.0)


def _ingest_layers(run: Run, fx: AnnFixture) -> None:
    """The index build's layer functions called one by one, in the order
    ``index_vectors`` calls them, each in its own span."""
    from pyspark.sql import functions as F
    from fspann_query_system_spark.crypto.aes import encrypt_vectors
    from fspann_query_system_spark.lsh.coding import code_vectors
    from fspann_query_system_spark.lsh.params import fit_params_from_df
    from fspann_query_system_spark.lsh.partitioner import build_partitions
    from fspann_query_system_spark.sources.registry import load_vectors
    cfg = fx.config.lsh()
    tr = run.tracer
    with tr.span("sources.load"):
        vec = (load_vectors(run.spark, fx.path, expected_dim=cfg.dim)
               .select("id", F.col("vector").cast("array<double>")
                       .alias("vector")).persist())
        vec.count()
    with tr.span("lsh.fit"):
        params = fit_params_from_df(vec, cfg)
    with tr.span("lsh.code"):
        codes = code_vectors(vec, params).persist()
        codes.count()
    with tr.span("lsh.partition"):
        parts, bounds = build_partitions(
            codes, cfg.block_size,
            n_codes=len(fx.base) * cfg.tables * cfg.divisions)
        parts, bounds = parts.persist(), bounds.persist()
        parts.count()
        bounds.count()
    keys = run.spark.sparkContext.broadcast(fx.system.keys.key_map())
    with tr.span("crypto.encrypt"):
        enc = encrypt_vectors(vec, keys, fx.system.keys.current_version).persist()
        enc.count()
    for df in (vec, codes, parts, bounds, enc):
        df.unpersist()


# ---------------------------------------------------------------------------
# text near-duplicates
# ---------------------------------------------------------------------------

def near_dup_text(run: Run, t0: float) -> None:
    """``near_dup_pipeline`` over a seeded corpus with planted clusters."""
    from fspann_query_system_spark.ops.dedup import near_dup_pipeline
    docs = oracle.near_dup_corpus(run.seed, run.dims["docs"])
    df = run.spark.createDataFrame(docs, "doc_id LONG, text STRING").persist()
    df.count()
    stats: dict = {}
    for _ in range(DEDUP_WARM_CALLS):
        with run.tracer.span("ops.dedup.first"):
            near_dup_pipeline(df, stats=stats, **DEDUP).collect()
    run.info.update(cc_rounds=stats.get("rounds", 0),
                    candidates=stats.get("n_candidates", 0))
    run.setup_s = time.perf_counter() - t0
    outputs = []

    def op(i):
        with run.tracer.span("ops.dedup"):
            outputs.append(near_dup_pipeline(df, **DEDUP).collect())
        return len(docs)

    run.timed_loop(op)
    if not run.check:
        return
    ids = [i for i, _ in docs]
    pairs = oracle.jaccard_pairs(docs, DEDUP["k"], DEDUP["threshold"])
    truth = oracle.components(ids, pairs)
    run.info["true_pairs"] = len(pairs)
    precision = []
    for rows in outputs:
        problems, rec, prec = oracle.check_dedup(
            [(r.doc_id, r.canonical_id, r.keep) for r in rows], ids, truth)
        run.verdict(problems)
        run.recall.append(rec)
        precision.append(prec)
    run.info["dup_precision"] = float(np.mean(precision))
    if run.traced:
        _dedup_layers(run, df, docs)


def _dedup_layers(run: Run, df, docs) -> None:
    """Banding and connected components called on their own.  The share of
    band candidates that verifies comes from the exact Jaccard in
    ``oracle.py``, not from the pipeline's verify stage; candidate and
    round counts stay those the pipeline reported."""
    from fspann_query_system_spark.ops.dedup import (connected_components,
                                                     minhash_band_pairs)
    tr = run.tracer
    with tr.span("ops.dedup.band"):
        cand = minhash_band_pairs(df, k=DEDUP["k"], n_hashes=DEDUP["n_hashes"],
                                  bands=DEDUP["bands"]) \
            .select("id_a", "id_b").collect()
    sets = {i: oracle.shingle_set(t, DEDUP["k"]) for i, t in docs}
    verified = [(a, b) for a, b in cand
                if oracle.similar(sets[a], sets[b], DEDUP["threshold"])]
    stats: dict = {}
    pairs = run.spark.createDataFrame(verified, "id_a LONG, id_b LONG")
    with tr.span("ops.dedup.cc"):
        connected_components(pairs, stats=stats).collect()
    rounds = stats.get("rounds", 0)
    run.info.update(
        verified_pairs=len(verified),
        verify_ratio=len(verified) / len(cand) if cand else 0.0,
        cc_jobs_per_round=tr.spans[-1].jobs / rounds if rounds else 0.0)


WORKLOADS = {"search_batch": search_batch, "near_dup_text": near_dup_text}
