"""Non-replica scale probe for the r10 near-dup index lifecycle
(``dedup_lsh_persist_serve`` / ``dedup_lsh_incremental_append``).

Corpus: the token-renamed synthesis of ``probe_textmut_r9.py`` (copy j
renames every token ``tok → tok~j`` — a per-copy vocabulary bijection,
so copies are shingle-DISJOINT and true near-dup structure grows ~M,
not M²).  Reuses the cached ``.scratch/textmut_scale/m{M}`` corpora.

Measured claims, per M ∈ {1, 10, 100}:

1. **Lifecycle wall**: index build (one base-corpus signature pass),
   serve of the M-scaled crawl batch, verdict counts.  Both should
   track ~M (signature pass + band joins are linear; no all-pairs path).
2. **Zero cross-copy dup evidence**: every verified ≥12/16 signature
   match between a delta doc and an indexed doc must stay within one
   copy — disjoint vocabularies cannot produce 12 simultaneous 31-bit
   minhash equalities (~P⁻¹² per component set).  A nonzero count would
   mean the banding emits replica artifacts; the probe counts them
   exactly.
3. **The ingest claim — fixed batch vs growing index**: serve copy-0's
   crawl batch (FIXED size) against the M×-bigger persisted index.
   This is the production shape (a daily crawl delta against a 100 TB
   corpus index): wall should grow far sublinearly in M — the delta
   signature pass is constant and the band join touches only matching
   buckets.

Usage: python tools/probe_lsh_lifecycle.py [M ...]   (default: 10 100)
Writes SCALEPROBE_LSHLIFE_r10.json (one JSON line).
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, "SCALEPROBE_LSHLIFE_r11.json")
OFFSET = 10_000_000_000  # probe_textmut copy stride (synth offsets ≤ 6e6 ≪ this)


def _copy(col: str) -> F.Column:
    return (F.col(col) / OFFSET).cast("bigint")


def probe(spark, sf_dir: str, m: int, scratch: str) -> dict:
    from dataframework_spark.operators.dedup import (
        _LSH_MATCH,
        _MH_K,
        LSH_LAYOUT,
        _lsh_delta1,
        _lsh_nmatch,
        lsh_corpus_split,
        lsh_index_build,
        lsh_serve,
        minhash_signature_frame,
    )
    from dataframework_spark.sources import index_store

    r: dict = {}
    base_docs, f1, _, _b = lsh_corpus_split(spark, sf_dir)
    path = os.path.join(scratch, f"lshidx_m{m}")

    t0 = time.perf_counter()
    lsh_index_build(spark, base_docs, path)
    r["build_wall_sec"] = round(time.perf_counter() - t0, 3)

    delta = _lsh_delta1(base_docs, f1)
    t0 = time.perf_counter()
    verdicts, dsig, dcache = lsh_serve(spark, path, delta)
    counts = {row["verdict"]: row["n"] for row in
              verdicts.groupBy("verdict").agg(F.count(F.lit(1)).alias("n")).collect()}
    r["serve_wall_sec"] = round(time.perf_counter() - t0, 3)
    r["verdicts"] = counts

    # cross-copy dup evidence must be exactly zero: recompute the
    # verified (delta doc, index doc) match pairs and decompose by copy
    xsig = index_store.read(spark, LSH_LAYOUT, path, "sigs")
    xbands = index_store.read(spark, LSH_LAYOUT, path, "bands")
    from dataframework_spark.operators.dedup import _lsh_band_frame

    dbands = _lsh_band_frame(dsig)
    cand = (
        dbands.alias("d")
        .join(
            xbands.hint("shuffle_hash").alias("x"),
            (F.col("d.band") == F.col("x.band")) & (F.col("d.bk") == F.col("x.bk")),
        )
        .select(F.col("d.doc_id").alias("ddoc"), F.col("x.doc_id").alias("xdoc"))
        .distinct()
    )
    a = dsig.select(F.col("doc_id").alias("ddoc"),
                    *[F.col(f"h{i}").alias(f"a{i}") for i in range(_MH_K)])
    b = xsig.select(F.col("doc_id").alias("xdoc"),
                    *[F.col(f"h{i}").alias(f"b{i}") for i in range(_MH_K)])
    pairs = (
        cand.join(a, "ddoc").join(b.hint("shuffle_hash"), "xdoc")
        .where(_lsh_nmatch("a", "b") >= _LSH_MATCH)
        .select("ddoc", "xdoc")
    )
    d = pairs.agg(
        F.count(F.lit(1)).alias("n"),
        F.coalesce(
            F.sum((_copy("ddoc") != _copy("xdoc")).cast("bigint")), F.lit(0)
        ).alias("cross"),
    ).collect()[0]
    r["verified_index_pairs"] = int(d["n"])
    r["cross_copy_pairs"] = int(d["cross"])

    # the ingest claim: copy-0's FIXED batch against the M×-bigger index
    delta0 = _lsh_delta1(
        base_docs.where(F.col("doc_id") < OFFSET),
        f1.where(F.col("doc_id") < OFFSET),
    )
    t0 = time.perf_counter()
    v0, _, dcache0 = lsh_serve(spark, path, delta0)
    n0 = v0.count()
    r["fixed_batch_serve_wall_sec"] = round(time.perf_counter() - t0, 3)
    r["fixed_batch_docs"] = int(n0)
    spark.catalog.clearCache()
    return r


def main() -> None:
    sys.path.insert(0, ROOT)
    from dataframework_spark.session import get_spark

    sys.path.insert(0, os.path.join(ROOT, "tools"))
    from probe_textmut_r9 import build_corpus

    ms = [int(x) for x in sys.argv[1:]] or [10, 100]
    spark = get_spark()
    spark.sparkContext.setLogLevel("ERROR")
    scratch = os.path.join(ROOT, ".scratch", "lshlife_probe")

    d1 = build_corpus(1)
    probe(spark, d1, 1, scratch)  # warm-up, discarded (JVM/codegen)
    base = probe(spark, d1, 1, scratch)
    results = {"m1": base}
    for m in ms:
        r = probe(spark, build_corpus(m), m, scratch)
        r["data_ratio"] = m
        for k in ("build_wall_sec", "serve_wall_sec", "fixed_batch_serve_wall_sec"):
            if base[k]:
                r[f"{k.removesuffix('_sec')}_ratio_vs_1x"] = round(r[k] / base[k], 2)
        results[f"m{m}"] = r
    out = {
        "probe": "lsh_lifecycle_nonreplica_r11",
        "ops": ["dedup_lsh_persist_serve", "dedup_lsh_incremental_append"],
        "note": (
            "token-renamed corpus (copies shingle-disjoint): build+serve "
            "track ~M, verified index matches must have ZERO cross-copy "
            "pairs, and a FIXED crawl batch served against the M×-bigger "
            "persisted index is the production ingest shape — sublinear "
            "wall is the claim the replica sweep cannot measure"
        ),
        "results": results,
    }
    line = json.dumps(out)
    print(line)
    with open(OUT, "w") as f:
        f.write(line + "\n")


if __name__ == "__main__":
    main()
