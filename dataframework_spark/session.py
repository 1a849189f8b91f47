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
        # NOTE: spark.sql.legacy.parquet.nanosAsLong is set just-in-time by
        # catalog._load_events / streaming._events_stream, which branch on
        # the ts dtype actually read — the testdata has shipped both
        # TIMESTAMP(NANOS) and TIMESTAMP(MICROS) across rounds.
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark
