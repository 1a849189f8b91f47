"""Per-microbatch streaming profile: fixed trigger cost vs state growth.

VERDICT r3 #5: the 100× sweep's slowest entries were streaming queries
(`stream_multibatch_totals` 78 s, `stream_session_window` 29 s) — is that
microbatch FIXED cost (fine: a real pipeline amortizes it over long-lived
triggers) or STATE-STORE growth (a scale bug once a job has run for 1000
microbatches)?  This tool answers with data: it stages the events table
as N time-ranged files, streams them one file per trigger, and records
every microbatch's trigger duration, input rows, and state-store row
count from ``query.recentProgress``.  A healthy stateful operator shows
flat-ish per-batch duration while state rows grow to the key cardinality
and plateau; duration growing WITH batch index at constant input is the
bug signature.

Usage:  python tools/stream_profile.py [M] [NFILES]
        (M = replica factor, default 1 = sf0.1; NFILES default 16)
Writes one JSON line per workload with the per-batch series.
"""

from __future__ import annotations

import json
import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataframework_spark.catalog import load_table
from dataframework_spark.session import get_spark

BASE = "/root/testdata/sf0.1"


def _stage_files(spark, sf_dir: str, nfiles: int, tag: str) -> tuple[str, object]:
    from dataframework_spark.sources.io import _scratch

    ev = load_table(spark, sf_dir, "events", columns=["user_id", "ts", "value"])
    path = _scratch(sf_dir, f"events_profile_{tag}")
    ev.repartitionByRange(nfiles, "ts").write.mode("overwrite").parquet(path)
    return path, spark.read.parquet(path).schema


def _profile(q) -> list[dict]:
    q.processAllAvailable()
    q.stop()
    q.awaitTermination()
    out = []
    for p in q.recentProgress:
        state = p.get("stateOperators") or [{}]
        out.append(
            {
                "batch": p.get("batchId"),
                "trigger_ms": (p.get("durationMs") or {}).get("triggerExecution"),
                "input_rows": p.get("numInputRows"),
                "state_rows": state[0].get("numRowsTotal"),
                "state_updated": state[0].get("numRowsUpdated"),
            }
        )
    return [r for r in out if r["input_rows"]]


def run_stateful(spark, path, schema) -> list[dict]:
    from pyspark.sql.streaming.state import GroupStateTimeout

    from dataframework_spark.streaming import (
        _STATE_SCHEMA,
        _USER_TOTALS_SCHEMA,
        _user_totals,
    )

    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .withWatermark("ts", "1 hour")
    )
    totals = ev.groupBy("user_id").applyInPandasWithState(
        _user_totals,
        outputStructType=_USER_TOTALS_SCHEMA,
        stateStructType=_STATE_SCHEMA,
        outputMode="update",
        timeoutConf=GroupStateTimeout.NoTimeout,
    )
    q = (
        totals.writeStream.format("noop")
        .outputMode("update")
        .trigger(availableNow=True)
        .start()
    )
    return _profile(q)


def run_session_window(spark, path, schema) -> list[dict]:
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
        .withWatermark("ts", "1 hour")
    )
    sess = ev.groupBy(F.session_window("ts", "30 minutes"), "user_id").agg(
        F.count(F.lit(1)).alias("n_events")
    )
    q = (
        sess.writeStream.format("noop")
        .outputMode("append")
        .trigger(availableNow=True)
        .start()
    )
    return _profile(q)


def run_exactly_once_merge(spark, path, schema) -> list[dict]:
    """The r5-r6 exactly-once MERGE path (VERDICT r7 #8): drain the same
    file-per-trigger stream through the versioned-commit foreachBatch
    writer.  recentProgress has no state operator here (state lives in
    the parquet versions), so the series records trigger duration and
    the committed state's row count per batch via the ledger."""
    import shutil

    from dataframework_spark.sources.io import _scratch
    from dataframework_spark.streaming import exactly_once_merge_writer

    base = _scratch(BASE, "events_eo_profile")
    shutil.rmtree(base, ignore_errors=True)
    os.makedirs(base, exist_ok=True)
    writer = exactly_once_merge_writer(base)
    ev = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", "1")
        .parquet(path)
    )
    q = ev.writeStream.foreachBatch(writer).trigger(availableNow=True).start()
    series = _profile(q)
    # committed state size: the per-user totals row count of the final version
    _, applied, totals = writer.read_latest(spark)
    n_state = totals.count() if totals is not None else 0
    for r in series:
        r["committed_batches"] = len(applied)
        r["final_state_rows"] = n_state
    return series


def main() -> None:
    m = int(sys.argv[1]) if len(sys.argv) > 1 else 1
    nfiles = int(sys.argv[2]) if len(sys.argv) > 2 else 16
    spark = get_spark(app_name="stream-profile", cpus=os.cpu_count() or 8)
    if m > 1:
        from tools.scale_probe import build_replica

        sf_dir = build_replica(BASE, m)
    else:
        sf_dir = BASE
    path, schema = _stage_files(spark, sf_dir, nfiles, f"{m}x_{nfiles}")
    for name, fn in (("stateful_user_totals", run_stateful),
                     ("session_window", run_session_window),
                     ("exactly_once_merge", run_exactly_once_merge)):
        series = fn(spark, path, schema)
        print(json.dumps({"workload": name, "m": m, "nfiles": nfiles,
                          "batches": series}))
    spark.stop()


if __name__ == "__main__":
    main()
