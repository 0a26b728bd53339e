"""Per-layer metrics of a traced run.

``PER_LAYER`` is the catalogue: (name, unit, better, end-to-end metric
it should move, workload). ``BENCHMARK.json`` lists the same names and
units (``test_perfbench.py`` keeps the two in step); every name is
measured by at least one listed workload. Every traced run reports
every name: a name whose layer the workload never calls reads 0, the
time (or count) that layer takes per unit on that workload.

Times are medians per call unless the name says otherwise; ``spark.*``
counters are totals over the traced phase divided by the number of
headline ops, so they do not grow with run length.
"""

from __future__ import annotations

import statistics

from spans import covered_seconds, descendants, jobs_by_span, net_seconds, totals
from workloads import DAY_STEPS, TrainingRelease, median

DAY_STEP_NAMES = [name for name, _ in DAY_STEPS]

CORPUS_OPS = [
    "text.winnow_fingerprints", "text.quality_score", "llm_prep.scrub_pii", "dedup.exact_dedup",
    "dedup.minhash_lsh_pairs", "llm_prep.shuffle_shards", "sinks.writers",
]
INDEX_OPS = ["bootstrap_index", "append_batch", "lookup", "maintenance_cycle"]
QUERIES = TrainingRelease.QUERIES

MD, TR, ALL = "medallion_daily", "training_release", "all"

PER_LAYER: list[tuple[str, str, str, str, str]] = (
    [(f"{t}.s", "s", "lower", "op_p50_s (chain_day_p50_s), units_per_s (backfill_s)", MD)
     for t in DAY_STEP_NAMES]
    + [(f"{t}.jobs", "count", "lower", "op_p50_s (chain_day_p50_s)", MD)
       for t in DAY_STEP_NAMES]
    + [("driver.outside_jobs_s", "s", "lower", "op_p50_s (chain_day_p50_s)", ALL)]
    + [(f"{op}.s", "s", "lower", "op_p50_s (corpus_build_s)", TR) for op in CORPUS_OPS]
    + [(n, "count", "higher", "none: correctness guard, must repeat exactly", TR)
       for n in ("rows.scored", "rows.kept", "rows.deduped", "rows.final", "pairs.neardup")]
    + [(f"index_maintenance.{op}.s", "s", "lower",
        "op_p50_s (lookup_p50_s, lookup_tail_s)" if op == "lookup" else "op_p50_s (append_p50_s, maintenance_p50_s)", TR)
       for op in INDEX_OPS]
    + [(n, "count" if n != "index.bytes" else "bytes", "lower",
        "op_p50_s: lookup (read) against append and maintenance (write)", TR)
       for n in ("index.bytes", "index.files", "index.versions")]
    + [("recall_at_10", "ratio", "higher", "none: quality guard (check floor 0.8)", TR)]
    + [(n, "s", "lower", "op_p50_s, units_per_s", TR)
       for n in ("queries.build_s", "catalyst.optimize_s", "catalyst.plan_s", "execute_s")]
    + [(f"q.{q}.s", "s", "lower", "op_p50_s, units_per_s", TR) for q in QUERIES]
    + [("spark.jobs", "count", "lower", "the workload's op_p50_s", ALL),
       ("spark.stages", "count", "lower", "the workload's op_p50_s", ALL),
       ("spark.tasks", "count", "lower", "the workload's op_p50_s", ALL),
       ("spark.executor_run_s", "s", "lower", "the workload's op_p50_s", ALL),
       ("spark.executor_cpu_s", "s", "lower", "the workload's op_p50_s", ALL),
       ("spark.gc_s", "s", "lower", "the workload's op_p50_s and peak_rss_mb", ALL),
       ("spark.shuffle_write_bytes", "bytes", "lower", "the workload's op_p50_s", ALL),
       ("spark.spill_bytes", "bytes", "lower", "the workload's op_p50_s and peak_rss_mb", ALL),
       ("spark.output_bytes", "bytes", "lower", "the workload's op_p50_s", ALL),
       ("spark.core_busy_share", "ratio", "higher", "units_per_s", ALL),
       ("session.create_s", "s", "lower", "setup_s", ALL),
       ("peak_rss_mb", "MB", "lower", "none: the JVM's VmHWM, set mostly by G1 heap sizing", ALL),
       ("trace.overhead_s", "s", "lower", "none: traced (less probe spans) minus untraced headline p50", ALL)]
)


def per_layer(wl, spans, log, wall: float, session_s: float, extra: dict) -> dict[str, tuple[float, str]]:
    """Every ``PER_LAYER`` metric for one traced phase, as name -> (value,
    unit). ``trace.overhead_s`` needs an untraced run and is left 0."""
    jobs = jobs_by_span(spans, log)

    def jobs_under(i: int) -> list:
        return [j for k in descendants(spans, i) for j in jobs[k]]

    def spanmedian(name: str) -> float:
        return median(net_seconds(spans, i) for i, s in enumerate(spans) if s.name == name)

    v: dict[str, float] = {}
    for name in DAY_STEP_NAMES:
        v[f"{name}.s"] = spanmedian(name)
        v[f"{name}.jobs"] = median(len(jobs_under(i)) for i, s in enumerate(spans) if s.name == name)
    heads = [i for i, s in enumerate(spans) if s.name == wl.HEADLINE]
    v["driver.outside_jobs_s"] = median(
        spans[i].seconds - covered_seconds(spans[i], jobs_under(i)) for i in heads
    )
    for op in CORPUS_OPS:
        v[f"{op}.s"] = spanmedian(op)
    for op in INDEX_OPS:
        v[f"index_maintenance.{op}.s"] = spanmedian(f"index_maintenance.{op}")
    for part in getattr(wl, "parts", (wl,)):
        if hasattr(part, "space"):
            v |= part.space()
            rec = part.recalls()
            v["recall_at_10"] = statistics.fmean(rec) if rec else 0.0
        for k, total in getattr(part, "phases", {}).items():
            v[k] = total / max(part.units, 1)
    for q in QUERIES:
        v[f"q.{q}.s"] = spanmedian(f"q.{q}")
    n = max(len(heads), 1)
    attributed = [j for js in jobs.values() for j in js]
    tot = totals(attributed)
    v["spark.jobs"] = len(attributed) / n
    for k in ("stages", "tasks", "executor_run_s", "executor_cpu_s", "gc_s",
              "shuffle_write_bytes", "spill_bytes", "output_bytes"):
        v[f"spark.{k}"] = tot[k] / n
    v["spark.core_busy_share"] = tot["executor_run_s"] / (wall * log.cores) if log.cores else 0.0
    v["session.create_s"] = session_s
    v |= extra
    return {name: (v.get(name, 0.0), unit) for name, unit, *_ in PER_LAYER}
