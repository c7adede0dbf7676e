"""Turns a finished ``Run`` into the benchmark's metrics.

End-to-end metrics come from the untraced run.  Per-layer metrics come
from the traced run: its spans, the parsed event log, and the counts the
workload recorded.  A layer the workload does not exercise reports 0.
"""

from __future__ import annotations

import statistics

from tracing import GroupStats, driver_ms

END_TO_END = {                      # name -> unit
    "setup_s": "s",
    "op_p50_ms": "ms",
    "throughput": "items/s",
    "recall": "ratio",
    "peak_rss_mb": "MB",
}

#: the span layer of each workload's timed operation
OP_LAYER = {"search_batch": "api.search", "near_dup_text": "ops.dedup"}

PER_LAYER = {
    "api.search.jobs": "count",
    "api.search.stages": "count",
    "api.search.tasks": "count",
    "api.search.driver_ms": "ms",
    "api.search.executor_cpu_s": "s",
    "api.search.gc_s": "s",
    "api.search.shuffle_read_bytes": "bytes",
    "api.search.shuffle_write_bytes": "bytes",
    "api.search.spill_bytes": "bytes",
    "api.index.jobs": "count",
    "lsh.code.py_s": "s",
    "query.route.py_s": "s",
    "crypto.decrypt_score.py_s": "s",
    "query.cand_raw_per_q": "count",
    "query.cand_kept_per_q": "count",
    "crypto.decrypts_per_q": "count",
    "query.useful_ratio": "ratio",
    "api.lookup.miss_jobs": "count",
    "query.cache.hit_rate": "ratio",
    "query.cache.hit_ms": "ms",
    "query.cache.miss_ms": "ms",
    "sources.load_s": "s",
    "lsh.fit_s": "s",
    "lsh.code_s": "s",
    "lsh.partition_s": "s",
    "lsh.partition.shuffle_bytes": "bytes",
    "crypto.encrypt_rows_per_s": "rows/s",
    "query.first_search_s": "s",
    "crypto.touched_rows": "count",
    "crypto.migrated_rows": "count",
    "crypto.reencrypt_s": "s",
    "crypto.census_s": "s",
    "ops.dedup.jobs": "count",
    "ops.dedup.driver_ms": "ms",
    "ops.dedup.band_s": "s",
    "ops.dedup.candidates": "count",
    "ops.dedup.verified_pairs": "count",
    "ops.dedup.verify_ratio": "ratio",
    "ops.dedup.cc_rounds": "count",
    "ops.dedup.cc_jobs_per_round": "count",
    "ops.dedup.cc_s": "s",
    "ops.dedup.shuffle_bytes": "bytes",
    "loop.drift_ratio": "ratio",
    "trace.overhead_ratio": "ratio",
}


def median(xs) -> float:
    return float(statistics.median(xs)) if xs else 0.0


def drift_ratio(latencies: list[float]) -> float:
    """Mean latency of the last quarter of the timed calls over that of
    the first quarter, each quarter rounded up to whole calls (last over
    first with up to four calls; a traced run makes at least six)."""
    if not latencies:
        return 0.0
    q = -(-len(latencies) // 4)
    return statistics.fmean(latencies[-q:]) / statistics.fmean(latencies[:q])


def end_to_end(run, peak_rss_mb: float) -> dict:
    values = {
        "setup_s": run.setup_s,
        "op_p50_ms": 1000.0 * median(run.latencies),
        "throughput": run.items / run.loop_s,
        "recall": statistics.fmean(run.recall) if run.recall else 0.0,
        "peak_rss_mb": peak_rss_mb,
    }
    return {k: {"value": v, "unit": END_TO_END[k]} for k, v in values.items()}


def per_layer(run, workload: str, groups: dict[str, GroupStats],
              reference) -> dict:
    """Per-layer metrics of a traced run; ``reference`` is the untraced
    timing pass of the same workload in the same process."""
    tr = run.tracer

    def stats(sp):
        return groups.get(sp.group, GroupStats())

    def one(layer):
        return tr.of(layer)[0]

    op_spans = tr.of(OP_LAYER[workload])
    op_stats = [stats(sp) for sp in op_spans]
    v = dict.fromkeys(PER_LAYER, 0.0)

    def per_op(fn):
        return median([fn(st) for st in op_stats])

    if workload == "search_batch":
        rotate = one("crypto.rotate")
        census_ms = sum(ms for action, ms in stats(rotate).executions.values()
                        if action == "collectToPython")
        n = run.info["n_vectors"]
        v.update({
            "api.search.jobs": per_op(lambda s: len(s.jobs)),
            "api.search.stages": per_op(lambda s: s.stages),
            "api.search.tasks": per_op(lambda s: s.tasks),
            "api.search.driver_ms": median([driver_ms(sp, stats(sp))
                                            for sp in op_spans]),
            "api.search.executor_cpu_s": per_op(lambda s: s.cpu_ns / 1e9),
            "api.search.gc_s": per_op(lambda s: s.gc_ms / 1e3),
            "api.search.shuffle_read_bytes": per_op(lambda s: s.shuffle_read),
            "api.search.shuffle_write_bytes": per_op(lambda s: s.shuffle_write),
            "api.search.spill_bytes": per_op(lambda s: s.spill),
            "api.index.jobs": len(stats(one("api.index")).jobs),
            "query.first_search_s": run.info["first_search_s"],
            "query.cand_raw_per_q": run.info["cand_raw_per_q"],
            "query.cand_kept_per_q": run.info["cand_kept_per_q"],
            "crypto.decrypts_per_q": run.info["decrypts_per_q"],
            "query.useful_ratio": run.info["useful_ratio"],
            "api.lookup.miss_jobs": run.info["miss_jobs"],
            "query.cache.hit_rate":
                run.info["cache_hits"] / run.info["cache_lookups"],
            "query.cache.hit_ms": run.info["hit_ms"],
            "query.cache.miss_ms": run.info["miss_ms"],
            "sources.load_s": one("sources.load").wall,
            "lsh.fit_s": one("lsh.fit").wall,
            "lsh.code_s": one("lsh.code").wall,
            "lsh.partition_s": one("lsh.partition").wall,
            "lsh.partition.shuffle_bytes":
                stats(one("lsh.partition")).shuffle_write,
            "crypto.encrypt_rows_per_s": n / one("crypto.encrypt").wall,
            "crypto.touched_rows": run.info["touched_rows"],
            "crypto.migrated_rows": run.info["migrated_rows"],
            "crypto.census_s": census_ms / 1e3,
            "crypto.reencrypt_s": rotate.wall - census_ms / 1e3,
        })
        for kernel in ("lsh.code", "query.route", "crypto.decrypt_score"):
            v[f"{kernel}.py_s"] = per_op(
                lambda s: s.python_ms.get(kernel, 0.0) / 1e3)
    if workload == "near_dup_text":
        v.update({
            "ops.dedup.jobs": per_op(lambda s: len(s.jobs)),
            "ops.dedup.driver_ms": median([driver_ms(sp, stats(sp))
                                           for sp in op_spans]),
            "ops.dedup.shuffle_bytes": per_op(lambda s: s.shuffle_write),
            "ops.dedup.band_s": one("ops.dedup.band").wall,
            "ops.dedup.cc_s": one("ops.dedup.cc").wall,
        })
        for key in ("candidates", "verified_pairs", "verify_ratio",
                    "cc_rounds", "cc_jobs_per_round"):
            v[f"ops.dedup.{key}"] = run.info[key]
    v["loop.drift_ratio"] = drift_ratio(run.latencies)
    v["trace.overhead_ratio"] = median(run.latencies) / median(reference.latencies)
    return {k: {"value": float(x), "unit": PER_LAYER[k]} for k, x in v.items()}


def job_counts(run, workload: str) -> list[int]:
    """Jobs of each timed call, from the status tracker."""
    return [sp.jobs for sp in run.tracer.of(OP_LAYER[workload])]


def summary(run, workload: str, peak_rss_mb: float) -> list[str]:
    """Human-readable lines printed ahead of the result line."""
    lat = sorted(1000.0 * x for x in run.latencies)
    lines = [f"workload {workload}: {len(lat)} timed calls, "
             f"{run.items} items in {run.loop_s:.2f} s; "
             f"{run.attempted} checked, {run.failed} failed"]
    if lat:
        p90 = lat[min(len(lat) - 1, int(0.9 * len(lat)))]
        lines.append(f"  call latency ms: p50 {median(lat):.1f}  "
                     f"p90 {p90:.1f} ({len(lat)} samples)  "
                     f"drift (last/first quarter) {drift_ratio(run.latencies):.3f}")
        lines.append("  in call order: " + " ".join(
            f"{1000.0 * x:.0f}" for x in run.latencies))
    jobs = job_counts(run, workload)
    if jobs:
        lines.append(f"  jobs per timed call: {sorted(set(jobs))}")
    lines.append(f"  setup {run.setup_s:.2f} s, peak RSS {peak_rss_mb:.0f} MB")
    for key in sorted(run.info):
        val = run.info[key]
        lines.append(f"  {key}: {val:.4g}" if isinstance(val, float)
                     else f"  {key}: {val}")
    lines += [f"  problem: {p}" for p in run.problems[:10]]
    return lines
