"""The MinHash-LSH core shared by ``dedup_minhash_lsh``, the persisted
index and the streamed ingest (``operators/dedup.py``).

The oracle twins that check the two engines against each other run only
with ``DFX_FULL_TESTS=1``; the parity test here checks the Spark signature
and band frames against their DuckDB twins (``lsh_sig_sql`` /
``lsh_bands_sql``) on a handful of in-memory docs, in seconds.  The empty
input test pins that the batch emitters and the serve path return zero
rows, not an error, when there is nothing to dedup.  The key-hash parity
case checks the hashing core under every key-driven operator
(``functions/arrays.py``: the seeded md5-prefix id and the
normalized-text fingerprint) on edge-case keys, NULL included.
"""

from __future__ import annotations

import duckdb
import pytest
from pyspark.sql import functions as F

from dataframework_spark.catalog import DEFAULT_SF_DIR

_DOCS = [
    (1, "alpha beta"),  # 2 tokens: no shingle, no signature on either engine
    (2, "one two three"),  # exactly 3 tokens: one shingle
    (3, "la la la la la la la la"),  # six copies of one shingle
    (4, "Café, naïve — déjà-vu!  東京 タワー (ok?) ünïcode… fin"),
    (5, "the quick brown fox jumps over the lazy dog"),
    (6, "the quick brown fox jumps over the lazy dog"),  # exact copy of 5
    (7, "  padded   text with    runs of spaces  "),
]
_SCHEMA = "doc_id bigint, text string"


def _duck_rows(sql: str) -> list[tuple]:
    con = duckdb.connect()
    try:
        con.execute("CREATE TABLE docs (doc_id BIGINT, text VARCHAR)")
        con.executemany("INSERT INTO docs VALUES (?, ?)", _DOCS)
        return sorted(tuple(r) for r in con.execute(sql).fetchall())
    finally:
        con.close()


def test_signature_and_band_frames_match_duckdb(spark):
    from dataframework_spark.operators.dedup import (
        _MH_K,
        _lsh_band_frame,
        lsh_bands_sql,
        lsh_sig_sql,
        minhash_signature_frame,
    )

    sig = minhash_signature_frame(spark.createDataFrame(_DOCS, _SCHEMA)).cache()
    h = [f"h{i}" for i in range(_MH_K)]
    spark_sigs = sorted(tuple(r) for r in sig.select("doc_id", *h).collect())
    bands = _lsh_band_frame(sig).select("doc_id", "band", "bk")
    spark_bands = sorted(tuple(r) for r in bands.collect())
    sig.unpersist()

    duck_sigs = _duck_rows(f"SELECT doc_id, {', '.join(h)} FROM ({lsh_sig_sql('docs')})")
    duck_bands = _duck_rows(
        f"WITH sig AS ({lsh_sig_sql('docs')}) "
        f"SELECT doc_id, band, bk FROM ({lsh_bands_sql('sig')})"
    )

    assert spark_sigs == duck_sigs
    assert spark_bands == duck_bands
    assert [r[0] for r in spark_sigs] == [2, 3, 4, 5, 6, 7]  # the 2-token doc is dropped
    by_id = {r[0]: r[1:] for r in spark_sigs}
    assert by_id[5] == by_id[6]  # exact copies sign alike
    assert len(spark_bands) == 4 * len(spark_sigs)


@pytest.mark.parametrize(
    ("key", "spark_type", "duck_type"),
    [
        (None, "string", "VARCHAR"),
        ("", "string", "VARCHAR"),
        ("Café NAÏVE — déjà-vu 東京 タワー", "string", "VARCHAR"),
        ("\t  Tabs\tand\n\nnew  lines \r\n", "string", "VARCHAR"),
        (-9_007_199_254_740_993, "bigint", "BIGINT"),
        (2**53 + 1, "bigint", "BIGINT"),
        ("a\x0bb", "string", "VARCHAR"),
        ("İstanbul", "string", "VARCHAR"),
        ("ΣΑΣ", "string", "VARCHAR"),
    ],
    ids=[
        "null",
        "empty",
        "non-ascii",
        "whitespace",
        "negative-bigint",
        "bigint-above-2^53",
        "vertical-tab",
        "dotted-capital-i",
        "final-sigma",
    ],
)
def test_key_hash_core_matches_duckdb(spark, key, spark_type, duck_type):
    """The seeded id (``seeded_order``), a salted multi-part id with a
    modulus and the normalized-text fingerprint are equal on both engines;
    a NULL key gives a NULL id on both."""
    from dataframework_spark.functions.arrays import (
        DUCK_TEXT_FP_SQL,
        duck_tid_sql,
        text_fp,
        tid_sql,
    )
    from dataframework_spark.operators.ml_prep import duck_seeded_order_sql, seeded_order

    parts = ("'cms'", "k", "':'", "k")
    row = spark.createDataFrame([(key,)], f"k {spark_type}").select(
        "k", F.col("k").cast("string").alias("text")
    )
    got = row.select(seeded_order("k"), F.expr(tid_sql(*parts, mod=97)), text_fp()).first()
    con = duckdb.connect()
    try:
        want = con.execute(
            f"SELECT {duck_seeded_order_sql('k')}, {duck_tid_sql(*parts, mod=97)}, "
            f"{DUCK_TEXT_FP_SQL} FROM (SELECT k, CAST(k AS VARCHAR) AS text "
            f"FROM (SELECT CAST(? AS {duck_type}) AS k))",
            [key],
        ).fetchone()
    finally:
        con.close()
    assert tuple(got) == want
    assert (got[0] is None) == (key is None)


def test_lsh_emitters_return_zero_rows_on_empty_input(spark, tmp_path):
    from dataframework_spark.operators.dedup import (
        dedup_minhash_lsh,
        dedup_simhash_hamming,
        lsh_index_build,
        lsh_serve,
    )

    empty = spark.createDataFrame([], _SCHEMA)
    assert dedup_minhash_lsh(spark, DEFAULT_SF_DIR, docs=empty).count() == 0
    assert dedup_simhash_hamming(spark, DEFAULT_SF_DIR, docs=empty).count() == 0

    idx = str(tmp_path / "idx")
    lsh_index_build(spark, spark.createDataFrame(_DOCS, _SCHEMA), idx)
    verdicts, dsig, cache = lsh_serve(spark, idx, empty)
    assert verdicts.count() == 0
    assert dsig.count() == 0
    cache.unpersist()
