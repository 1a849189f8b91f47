"""SparkSession factory tuned for the engine.

The reference (Alrash/DataFramework) has no session concept — it is a
single-process NumPy library whose "session" is ``PreProcessTransfer``
(``/root/reference/DFW/preprocess.py:24-42``).  Here the session is a real
``SparkSession`` configured for scale:

* **AQE on** (adaptive shuffle-partition coalescing, runtime broadcast-join
  conversion, skew-join splitting) so the same declarative plans survive a
  100x scale-up without re-tuning.
* **AQE for cached plans** (``canChangeCachedPlanOutputPartitioning``):
  Spark otherwise plans a ``.cache()``/``.persist()`` query without AQE,
  so it is stored and re-read as ``spark.sql.shuffle.partitions`` mostly
  empty partitions.  With it, a cached frame is coalesced like any other
  plan (an 11k-row windowed frame on ``local[2]``: 32 partitions → 1).
  Measured with ``perfbench/run.py`` (``local[2]``, 4-vCPU VM, 10
  seed pairs): ``llm_corpus``, which caches often and never reaches the
  facade, fell from a 40.1 to a 29.2 CPU-second warm pass (median, -27%)
  and from 77.4 to 58.9 CPU-seconds cold (-24%).
* **Each generated class compiled once per session.**  Spark compiles
  every whole-stage pipeline and generated projection with Janino and
  keeps the classes in an LRU cache of ``spark.sql.codegen.cache.maxEntries``
  entries, 100 by default.  One llm_corpus pass generates about 220
  classes, so every warm pass compiled every class again, and the JVM
  then JIT-compiled the new classes again too.  Two settings fix it:
  the cache holds 4096 classes, and whole-stage classes are named
  without their stage id (``spark.sql.codegen.useIdInClassName``).  AQE
  numbers a plan's stages in the order their child stages finish, so
  with the id in the name the same pipeline became a new class from run
  to run.  Census of the whole registry at sf0.01 (``bench.py`` with
  ``BENCH_ALL=1 BENCH_REPS=2``, ``local[4]``): the first rep compiles
  3,461 classes and the second 20 (7,258 and 7,256 with Spark's
  defaults).  Memory cost: Metaspace at the end is 257 MB, against
  232 MB with the defaults, whose evicted classes are unloaded.
  ``maxEntries`` is a static conf: it takes effect only when
  ``get_spark`` launches the JVM, and a session the caller built keeps
  the cache it was started with.
* **The JIT compiles only what is hot.**  HotSpot's tiered compiler
  kept compiling Spark's own planner and runtime methods pass after
  pass: the long tail of a code base this size, one lukewarm method at
  a time.  On perfbench's ``local[2]`` session (llm_corpus, seed 7),
  the JVM's compiler threads took 15.5 CPU-s of the first warm pass
  against 2.9 for the task threads, and ``-XX:+LogCompilation``
  counted 2,914 level-3 and 935 level-4 compiles in that pass and still
  1,397 and 390 in the third; with k=2, 7.9 CPU-s, 2,214 and 721, then
  937 and 319.  ``-XX:CompileThresholdScaling=2`` doubles every
  tier's invocation and back-edge thresholds, so a method a pass calls
  a few hundred times stays at a lower tier, while per-row and
  per-batch loops reach C2 a few thousand iterations later.  k was
  chosen by measurement.  On perfbench tabular (5 seed pairs,
  ``e2e_cpu_s`` median) the parent took 31.2 CPU-s, k=2 29.7, k=4
  24.1 and k=8 26.3.  But k=4 fails the sf0.1 check (``bench.py``
  HEADLINE, ``local[4]``, 3 pairs): its fourth rep took 32.5 CPU-s
  and 21.7 s of wall against 27.3 and 14.4, and in reps 6-8 of 8 its
  wall was 19% higher, because it defers compiles rather than avoiding
  them and runs the code in between in profiled C1.  k=2 was no worse
  by the fourth rep (28.6 CPU-s and 16.3 s against 28.9 and 17.4).
  C1 alone (``-XX:TieredStopAtLevel=1``) cut the warm pass further
  but, without C2, raised the sf0.1 steady rep from 31.7 to 39.0
  CPU-s.  ``SCALE.md`` has the tables.  The flag goes in
  ``spark.driver.defaultJavaOptions``, which Spark puts before
  ``spark.driver.extraJavaOptions``; HotSpot takes a flag's last
  value, so a caller overrides k through ``extraJavaOptions``.  Like
  the heap size, it applies only when ``get_spark`` launches the JVM.
* **Arrow** enabled for any pandas interchange (vectorized, never row-wise).
* ``spark.sql.shuffle.partitions`` defaults to a small value for local test
  runs; on a real cluster AQE coalescing makes the initial number mostly
  irrelevant as long as it is an upper bound (set it to ~2-3x total cores).
* Session timezone pinned to UTC so timestamp semantics are deterministic
  and match the DuckDB oracle (naive timestamps).
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

DEFAULT_SHUFFLE_PARTITIONS = 32


def get_spark(
    app_name: str = "dataframework-spark",
    cpus: int | str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with scale-oriented defaults.

    ``cpus`` sets ``local[N]`` when provided; otherwise an existing master
    (or ``local[*]``) is used.  All settings are plain conf — nothing here
    is required for correctness, only for performance.
    """
    builder = SparkSession.builder.appName(app_name)
    if cpus is not None:
        builder = builder.master(f"local[{cpus}]")
    else:
        builder = builder.master("local[*]")

    sp = shuffle_partitions or int(
        os.environ.get("SPARK_GRAFT_SHUFFLE_PARTITIONS", DEFAULT_SHUFFLE_PARTITIONS)
    )
    conf = {
        # local[N] runs executors inside the driver JVM; the 1 GiB default
        # heap OOMs once a long session accumulates caches/broadcasts
        # (observed on the 197-query full-registry bench).  Applies only
        # when THIS process launches the JVM — a driver-provided session
        # keeps its own setting.
        "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"),
        # Adaptive execution: coalesce post-shuffle partitions, convert
        # sort-merge joins to broadcast at runtime, split skewed partitions.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        # AQE for cached plans too (see the module docstring).
        "spark.sql.optimizer.canChangeCachedPlanOutputPartitioning": "true",
        # Generated-class cache sized to the registry's working set, and
        # whole-stage classes named without their stage id, so a re-run
        # compiles nothing (see the module docstring).
        "spark.sql.codegen.cache.maxEntries": "4096",
        "spark.sql.codegen.useIdInClassName": "false",
        # JIT only what is hot: every tier's compile thresholds doubled
        # (see the module docstring).  Spark puts extraJavaOptions after
        # these, so a caller's own flag there wins.
        "spark.driver.defaultJavaOptions": "-XX:CompileThresholdScaling=2",
        "spark.sql.shuffle.partitions": str(sp),
        # Vectorized Arrow transfer for any pandas_udf / toPandas path.
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Deterministic timestamp semantics (matches DuckDB naive TS).
        "spark.sql.session.timeZone": "UTC",
        # Dimension tables (region/nation/...) are tiny: let Spark broadcast
        # them aggressively. 64 MB is safe with multi-GB executors.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Scan parallelism: at 100 TB this yields ~800k input splits of
        # 128 MB — the right granularity for 1000 executors.
        "spark.sql.files.maxPartitionBytes": str(128 * 1024 * 1024),
        # NOTE deliberately NOT set: spark.sql.optimizer.runtime.bloomFilter
        # .enabled (+ semiJoinReduction) — runtime row-level join pruning
        # would help selective dim-filtered fact joins at 100 TB, but on
        # this Spark build enabling them sends the optimizer into a
        # non-terminating loop on plain explain() (reproduced on the q1
        # plan test); leave them to cluster-level tuning where the build
        # is validated.
        # Quieter local runs.
        "spark.ui.showConsoleProgress": "false",
        # Read parquet TIMESTAMP(NANOS) as int64: catalog._load_events and
        # streaming._events_stream branch on the ts dtype actually read (the
        # testdata has shipped both NANOS and MICROS) and set this conf
        # just-in-time on sessions the engine did not build.  Setting it at
        # start keeps it constant: the conf is part of every cached parquet
        # schema's key (catalog.parquet_schema), so flipping it mid-session
        # re-resolves every table read before the flip.
        "spark.sql.legacy.parquet.nanosAsLong": "true",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def codegen_compiles(spark: SparkSession) -> int:
    """Classes Spark's code generator has compiled in this JVM so far (the
    count of ``CodegenMetrics``' compilation-time histogram): one per miss
    of the generated-class cache."""
    metrics = spark.sparkContext._jvm.org.apache.spark.metrics.source.CodegenMetrics
    return metrics.METRIC_COMPILATION_TIME().getCount()
