"""Benchmark harness: headline queries at $SPARK_GRAFT_SF_DIR.

Usage:
    python bench.py                      # the HEADLINE set (BENCH_ALL=1: every query)
    python bench.py q1_pricing_summary dedup_minhash_lsh ...   # just these

Runs on local[$SPARK_GRAFT_CPUS] (default: all cores) and prints ONE JSON
line: {"metric": ..., "value": total_sec, "unit": "sec",
"queries": {name: sec}, "sf": ..., "codegen_compiles": [per rep],
"jit_compile_s": [per rep], "codegen_compiles_by_query": {name: n}
(last rep), "metaspace_mb": ...}.

``codegen_compiles`` counts the classes Spark's code generator compiled
while building and running each rep's queries; with every class of the
set cached, a second rep compiles none.  ``BENCH_ALL=1 BENCH_REPS=2``
is therefore the whole registry's codegen census, and ``metaspace_mb``
(the JVM's class-metadata space when the last rep ends) its memory cost.

``jit_compile_s`` is the time the JVM's JIT compiler threads spent
compiling during each rep (the change in the compilation MXBean's
total), summed over those threads: HotSpot, not Spark, compiling the
engine's and Spark's own methods to machine code.  It falls from the
first rep to the steady ones as the hot code settles.

Each query is materialized through the ``noop`` sink so the full physical
plan executes (scan → shuffle → agg) without paying collect/serialization
or disk-write costs — the measurement is engine time, not driver I/O.
"""

from __future__ import annotations

import json
import os
import re
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from dataframework_spark.registry import all_queries  # noqa: E402
from dataframework_spark.session import codegen_compiles, get_spark  # noqa: E402

# Headline subset: one representative per operator family (agg, multi-join,
# window, sessionization, dedup, similarity, text). BENCH_ALL=1 runs the
# full registry.
HEADLINE = [
    "q1_pricing_summary",
    "q3_shipping_priority",
    "q5_local_supplier_volume",
    "q6_revenue_forecast",
    "q8_market_share",
    "window_topk_per_group",
    "window_running_sum",
    "events_sessionize",
    "events_user_retention",
    "agg_count_distinct",
    "dedup_minhash_lsh",
    "dedup_contamination",
    "sim_cosine_topk",
    "text_quality_score",
    "text_unigram_perplexity",
    "mm_decode_features",
    "sink_bucketed_join",
]


def main() -> None:
    sf_dir = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")
    cpus = os.environ.get("SPARK_GRAFT_CPUS") or (os.cpu_count() or 4)
    m = re.search(r"sf([0-9.]+)", sf_dir)
    sf = float(m.group(1)) if m else None

    specs = all_queries()
    names = sys.argv[1:]
    unknown = [n for n in names if n not in specs]
    if unknown:
        raise SystemExit(f"unknown queries: {unknown}")
    if not names:
        names = [n for n in (specs if os.environ.get("BENCH_ALL") else HEADLINE) if n in specs]
    spark = get_spark(app_name="dfx-bench", cpus=cpus)

    # Warmups (untimed) so one-time initialization is not charged to the
    # first queries that happen to hit each subsystem: a trivial plan for
    # JVM/codegen, one cheap parquet aggregate for the scan/broadcast/noop
    # path (q1 was absorbing footer reads + codegen of the first real
    # plan), and one tiny Arrow batch for the Python-worker pool
    # (mm_decode_features was absorbing worker spawn).  The measured
    # queries themselves are unchanged.
    spark.range(1000).selectExpr("sum(id)").collect()
    if "q6_revenue_forecast" in specs:
        specs["q6_revenue_forecast"].fn(spark, sf_dir).write.format("noop").mode(
            "overwrite"
        ).save()
    spark.range(64).toDF("x").mapInPandas(
        lambda it: it, "x bigint"
    ).write.format("noop").mode("overwrite").save()

    # Repetitions: single-JVM local timings are noisy (GC pauses, and a
    # generated class evicted from Spark's codegen cache is compiled again
    # by Janino and then re-JITted: sim_cosine_topk once ran 0.8 s and
    # 4.0 s back-to-back while the cache held 100 classes, fewer than one
    # pass generates; session.get_spark now sizes it to the registry).
    # Run the whole suite BENCH_REPS times and report the per-query
    # MEDIAN, plus the observed min/max spread so any remaining variance
    # is visible in the published number instead of hiding behind a lucky
    # run.
    reps_raw = os.environ.get("BENCH_REPS") or ("1" if os.environ.get("BENCH_ALL") else "3")
    try:
        reps = max(1, int(reps_raw))  # <1 would make median([]) raise IndexError
    except ValueError as exc:
        raise SystemExit(f"BENCH_REPS must be an integer, got {reps_raw!r}") from exc
    samples: dict[str, list[float]] = {n: [] for n in names}
    compiles: list[int] = []
    jit_s: list[float] = []
    jit = spark.sparkContext._jvm.java.lang.management.ManagementFactory.getCompilationMXBean()
    for _ in range(reps):
        rep_start = codegen_compiles(spark)
        jit_start = jit.getTotalCompilationTime()
        by_query: dict[str, int] = {}
        for name in names:
            start = codegen_compiles(spark)
            df = specs[name].fn(spark, sf_dir)
            spark.sparkContext.setJobDescription(f"bench:{name}")
            t0 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            samples[name].append(round(time.perf_counter() - t0, 3))
            spark.sparkContext.setJobDescription(None)
            by_query[name] = codegen_compiles(spark) - start
            # Per-query lifecycle: drop this query's cached intermediates so
            # a 200-query BENCH_ALL run doesn't accumulate every query's
            # cache in one JVM (observed heap OOM).  Untimed — cache
            # population IS timed inside the query above; only the cleanup
            # is free.
            spark.catalog.clearCache()
        compiles.append(codegen_compiles(spark) - rep_start)
        jit_s.append(round((jit.getTotalCompilationTime() - jit_start) / 1000, 2))

    def median(xs: list[float]) -> float:
        s = sorted(xs)
        n = len(s)
        return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2

    timings = {n: round(median(v), 3) for n, v in samples.items()}
    spread = {n: [min(v), max(v)] for n, v in samples.items()}
    total = round(sum(timings.values()), 3)
    mgmt = spark.sparkContext._jvm.java.lang.management.ManagementFactory
    metaspace = sum(
        p.getUsage().getUsed() for p in mgmt.getMemoryPoolMXBeans() if p.getName() == "Metaspace"
    )
    print(
        json.dumps(
            {
                "metric": "headline_suite_wall",
                "value": total,
                "unit": "sec",
                "queries": timings,
                "sf": sf,
                "cpus": int(cpus),
                "reps": reps,
                "spread": spread,
                "codegen_compiles": compiles,
                "jit_compile_s": jit_s,
                "codegen_compiles_by_query": by_query,
                "metaspace_mb": round(metaspace / 2**20, 1),
            }
        )
    )
    spark.stop()


if __name__ == "__main__":
    main()
