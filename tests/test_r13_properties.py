"""r13 optimization-round pins: the broadcast hatch + restructured shapes.

The exact-substring dedup keeps a ``broadcast_dups`` hatch (a broadcast
size guard): flipping it must never change the result.
"""

from __future__ import annotations

from tests.conftest import ORACLE_SF_DIR


def _rows(df):
    return sorted(tuple(r) for r in df.collect())


def test_exact_substring_broadcast_hatch(spark):
    """broadcast_dups=False falls back to a shuffled dup join (no broadcast
    build of the >=2x hash set) with identical output."""
    from dataframework_spark.operators.dedup import dedup_exact_substring

    on = dedup_exact_substring(spark, ORACLE_SF_DIR)
    off = dedup_exact_substring(spark, ORACLE_SF_DIR, broadcast_dups=False)
    assert _rows(on) == _rows(off)


def test_rfm_boundary_buckets_match_global_ntile(spark):
    """The boundary-broadcast quartiles must equal the chained
    with_global_ntile assignment on every metric (same closed-form
    positions, total order => tuple comparison == rank comparison)."""
    from pyspark.sql import functions as F

    from dataframework_spark.catalog import load_table
    from dataframework_spark.functions.ranking import with_global_ntile
    from dataframework_spark.operators.relational import window_rfm_segments

    new = window_rfm_segments(spark, ORACLE_SF_DIR)

    orders = load_table(
        spark, ORACLE_SF_DIR, "orders", columns=["o_custkey", "o_orderdate", "o_totalprice"]
    )
    cust = load_table(spark, ORACLE_SF_DIR, "customer", columns=["c_custkey"])
    per_cust = (
        orders.join(F.broadcast(cust), orders.o_custkey == cust.c_custkey)
        .groupBy("c_custkey")
        .agg(
            F.max("o_orderdate").alias("_last"),
            F.count(F.lit(1)).alias("n_orders"),
            F.sum("o_totalprice").alias("_spend"),
        )
    )
    r = with_global_ntile(
        per_cust, 4, [F.col("_last").desc(), F.col("c_custkey")], "r_quartile"
    )
    r = with_global_ntile(
        r, 4, [F.col("n_orders").desc(), F.col("c_custkey")], "f_quartile"
    )
    r = with_global_ntile(
        r, 4, [F.col("_spend").desc(), F.col("c_custkey")], "m_quartile"
    )
    old = r.select(
        "c_custkey",
        "r_quartile",
        "f_quartile",
        "m_quartile",
        "n_orders",
        F.round("_spend", 2).alias("total_spend"),
    )
    assert _rows(new) == _rows(old)
