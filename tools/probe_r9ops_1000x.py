"""Scale probe of ``dedup_simhash_hamming`` on the token-renamed corpus.

The operator is NOT probed on the 1000x replica: M-way exact duplicates
share identical 64-bit signatures, so in-band pairs grow ~M² by
construction — the same degeneracy that excludes the 16-bit version.
It is probed instead at 1x/10x/100x on the token-renamed corpus
(``probe_textmut_r9.build_corpus``): per-copy vocabularies are disjoint
so signatures re-roll per copy, the true pair set grows ~M, and any
cross-copy pair is a measured 2⁻⁶⁴-scale accident (vs the 16-bit form's
measured n²/2¹⁶ birthday mass — the comparison this operator exists to
win).

Usage:  python tools/probe_r9ops_1000x.py
Prints one JSON line: the ``dedup_simhash_hamming`` entry of
SCALEPROBE_R9OPS_r9.json.  That file's replica rows (``mm_decode_router``,
``mm_gif_decode``) come from
``SPARK_GRAFT_PROBE=mm_decode_router,mm_gif_decode python tools/scale_probe.py 1000``.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

from dataframework_spark.registry import all_queries, get_spec
from dataframework_spark.session import get_spark

all_queries()  # import the operator modules so the registry is populated
from tools.probe_textmut_r9 import OFFSET, build_corpus


def probe_simhash64(spark, sf_dir: str) -> dict:
    fn = get_spec("dedup_simhash_hamming").fn
    same = (F.col("doc_a") / OFFSET).cast("bigint") == (
        F.col("doc_b") / OFFSET
    ).cast("bigint")
    t0 = time.perf_counter()
    row = fn(spark, sf_dir).agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(F.sum(same.cast("bigint")), F.lit(0)).alias("w"),
    ).collect()[0]
    dt = round(time.perf_counter() - t0, 3)
    spark.catalog.clearCache()
    return {
        "pairs": row.n,
        "pairs_within_copy": int(row.w),
        "pairs_cross_copy": int(row.n - row.w),
        "wall_sec": dt,
    }


def main() -> None:
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    sh: dict = {"corpus": "token-renamed (probe_textmut_r9), sf0.1 base"}
    base = probe_simhash64(spark, build_corpus(1))
    sh["m1"] = base
    for mm in (10, 100):
        r = probe_simhash64(spark, build_corpus(mm))
        r["data_ratio"] = mm
        if base["pairs"]:
            r["pairs_ratio_vs_1x"] = round(r["pairs"] / base["pairs"], 2)
        r["wall_ratio_vs_1x"] = round(r["wall_sec"] / base["wall_sec"], 2)
        sh[f"m{mm}"] = r
        print(f"# dedup_simhash_hamming m{mm}: {r}", file=sys.stderr)
    print(json.dumps({"results": {"dedup_simhash_hamming": sh}}))


if __name__ == "__main__":
    main()
