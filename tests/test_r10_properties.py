"""r10 cents-recipe properties (VERDICT r9 "Next round" #1).

The integer-cents money sums migrated from ``ROUND(x*100, 0)::BIGINT``
(Spark's per-row BigDecimal Round — the measured ~1.5-2x constant
factor on scan-dominated aggregates, CENTSAB_r10.json) to
``FLOOR(x*100 + 0.5)::BIGINT``.  These tests pin:

1. value equivalence of the two fix-point forms on the REAL data (the
   migration changed cost, not cents) — per-row, strictest possible;
2. the static recipe: the round-cents pattern must not reappear in the
   money-sum modules (the floor form is the shipped recipe);
3. exactness survives: the floor form is partitioning-invariant by
   construction (bigint sums), spot-checked 1-vs-32 partitions here at
   sf0.01 (the 10x canary in test_r9_advice.py covers the replica
   case).
"""

from __future__ import annotations

import re
from pathlib import Path

import pytest

from pyspark.sql import functions as F

from dataframework_spark.catalog import load_table

SF_DIR = "/root/testdata/sf0.01"
REPO = Path(__file__).resolve().parent.parent

MONEY_MODULES = [
    "dataframework_spark/operators/relational.py",
    "dataframework_spark/operators/tpch_shapes.py",
    "dataframework_spark/sources/io.py",
]


@pytest.mark.parametrize(
    "money_sf_dir",
    ["/root/testdata/sf0.001", "/root/testdata/sf0.01", "/root/testdata/sf0.1"],
)
def test_floor_cents_equals_round_cents_on_real_money_rows(spark, money_sf_dir):
    """Per-row equality of FLOOR(x*100+0.5) and ROUND(x*100,0)::bigint
    over every money expression the migrated tier aggregates — on the
    actual lineitem/orders/customer values, including the derived
    products (disc price, charge, revenue) where ties could in
    principle live.

    Pinned at EVERY locally available scale factor, including the
    largest (sf0.1 — the bench/driver scale), because the claim is
    data-dependent (r10 ADVICE): FLOOR(x*100 + 0.5) is half-UP (toward
    +inf) while ROUND's bigint cast was half-away-from-zero, so the
    forms can only diverge on a NEGATIVE exact half-cent after FP
    multiply — c_acctbal is the one signed money column, and this test
    proves no such value exists in any SF we run."""
    li = load_table(spark, money_sf_dir, "lineitem")
    ep = F.col("l_extendedprice")
    exprs = {
        "ep": ep,
        "disc_price": ep * (1 - F.col("l_discount")),
        "charge": ep * (1 - F.col("l_discount")) * (1 + F.col("l_tax")),
        "revenue": ep * F.col("l_discount"),
        "discount": F.col("l_discount"),
    }
    checks = [
        F.sum(
            (F.floor(e * 100 + 0.5) != F.round(e * 100, 0).cast("bigint")).cast("int")
        ).alias(k)
        for k, e in exprs.items()
    ]
    row = li.agg(*checks).collect()[0]
    assert all(v == 0 for v in row), row.asDict()

    for tbl, col in (("orders", "o_totalprice"), ("customer", "c_acctbal")):
        t = load_table(spark, money_sf_dir, tbl)
        n = t.agg(
            F.sum(
                (
                    F.floor(F.col(col) * 100 + 0.5)
                    != F.round(F.col(col) * 100, 0).cast("bigint")
                ).cast("int")
            ).alias("n")
        ).collect()[0][0]
        assert n == 0, (tbl, col, n)


def test_round_cents_pattern_is_retired():
    """The BigDecimal-per-row form must not come back in the money
    modules (oracle or Spark side)."""
    py_pat = re.compile(r"F\.round\([^\n]*\* 100, 0\)\s*\.cast\(\"bigint\"\)")
    sql_pat = re.compile(r"ROUND\([^\n]*\* 100, 0\)\s*AS BIGINT")
    for rel in MONEY_MODULES:
        text = (REPO / rel).read_text()
        assert not py_pat.search(text), f"round-cents Spark form back in {rel}"
        assert not sql_pat.search(text), f"round-cents oracle form back in {rel}"


def test_floor_cents_sum_partitioning_invariant(spark):
    li = load_table(spark, SF_DIR, "lineitem")
    charge = (
        F.col("l_extendedprice")
        * (1 - F.col("l_discount"))
        * (1 + F.col("l_tax"))
    )

    def total(df):
        return df.agg(F.sum(F.floor(charge * 100 + 0.5)).alias("s")).collect()[0][0]

    assert total(li.coalesce(1)) == total(li.repartition(32))


# ---------------------------------------------------------------------------
# Near-dup LSH index lifecycle (VERDICT r9 "Next round" #3)
# ---------------------------------------------------------------------------


def _mini_docs(spark, ids, mutate=None):
    rows = []
    for i in ids:
        text = f"alpha bravo charlie delta{i % 7} echo foxtrot{i} golf hotel india{i * 3}"
        if mutate:
            text = mutate(i, text)
        rows.append((i, text))
    return spark.createDataFrame(rows, "doc_id bigint, text string")


def test_lsh_serve_never_scans_corpus(spark, tmp_path):
    """The serve plan must read ONLY the persisted index tables and the
    delta — no documents parquet scan anywhere (the 'corpus never
    rescans on ingest' contract, VERDICT r9 #3)."""
    from dataframework_spark.operators.dedup import (
        lsh_index_build,
        lsh_serve,
    )
    from dataframework_spark.plans.explain import plan_string

    base = str(tmp_path / "idx")
    lsh_index_build(spark, _mini_docs(spark, range(20)), base)
    delta = _mini_docs(spark, [3, 7, 100])
    verdicts, _, _c = lsh_serve(spark, base, delta)
    plan = plan_string(verdicts)
    assert "documents" not in plan, "serve plan touches the corpus"
    assert "idx/sigs" in plan.replace("\\", "/") and "idx/bands" in plan.replace(
        "\\", "/"
    ), "serve plan must read the persisted index"
    got = {r["doc_id"]: r["verdict"] for r in verdicts.collect()}
    assert got[3] == "dup_of_base" and got[7] == "dup_of_base"
    assert got[100] == "new"


def test_lsh_append_then_serve_equals_rebuild_then_serve(spark, tmp_path):
    """Engine-side twin of the dedup_lsh_incremental_append oracle
    property: appending batch-1 'new' signatures into the persisted
    index yields the SAME batch-2 verdicts as rebuilding the index from
    scratch over base ∪ batch-1-new."""
    from dataframework_spark.operators.dedup import (
        _lsh_delta1,
        _lsh_delta2,
        lsh_corpus_split,
        lsh_index_append,
        lsh_index_build,
        lsh_serve,
    )

    sf_dir = "/root/testdata/sf0.001"
    base_docs, f1, f2, _b = lsh_corpus_split(spark, sf_dir)
    delta1 = _lsh_delta1(base_docs, f1)

    inc = str(tmp_path / "inc")
    lsh_index_build(spark, base_docs, inc)
    v1, dsig1, _c1 = lsh_serve(spark, inc, delta1)
    new_ids = v1.where("verdict = 'new'").select("doc_id")
    # stage-then-commit, as the registered op does: an in-place append
    # invalidates path-derived caches and would flip the new-set
    staging = inc + "/staging"
    dsig1.join(new_ids, "doc_id").write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    lsh_index_append(spark, staged, inc)
    new_docs = delta1.join(staged.select("doc_id"), "doc_id")
    delta2 = _lsh_delta2(base_docs, f2, new_docs)
    appended = sorted(map(tuple, lsh_serve(spark, inc, delta2)[0].collect()))

    full = str(tmp_path / "full")
    lsh_index_build(spark, base_docs.unionAll(new_docs), full)
    rebuilt = sorted(map(tuple, lsh_serve(spark, full, delta2)[0].collect()))

    assert appended == rebuilt and len(appended) > 0


def test_lsh_new_set_is_append_stable(spark, tmp_path):
    """The ingest race the registered op stages around: appending a
    batch's new signatures into the index path invalidates plans that
    read that path (Spark recaches by path), so an UNSTAGED new-set
    re-evaluated post-append is UNDEFINED — depending on cache and
    file-index state it may see the batch's own rows in the index and
    flip every `new` to `dup_of_base` (observed as 0 survivors in the
    registered op before the staging fix).  Only the STAGED parquet
    record is the batch's decision of record; this test pins its
    stability across the append."""
    from dataframework_spark.operators.dedup import (
        _lsh_delta1,
        lsh_corpus_split,
        lsh_index_append,
        lsh_index_build,
        lsh_serve,
    )

    sf_dir = "/root/testdata/sf0.001"
    base_docs, f1, _, _b = lsh_corpus_split(spark, sf_dir)
    idx = str(tmp_path / "idx")
    lsh_index_build(spark, base_docs, idx)
    delta1 = _lsh_delta1(base_docs, f1)
    v1, dsig1, _c1 = lsh_serve(spark, idx, delta1)
    new_ids = v1.where("verdict = 'new'").select("doc_id")
    n_pre = new_ids.count()
    assert n_pre > 0
    staging = idx + "/staging"
    dsig1.join(new_ids, "doc_id").write.mode("overwrite").parquet(staging)
    staged = spark.read.parquet(staging)
    lsh_index_append(spark, staged, idx)
    # the staged record is append-stable — the only guarantee a correct
    # ingest may rely on (the live new_ids plan is undefined post-append)
    assert staged.count() == n_pre
    assert sorted(r.doc_id for r in staged.select("doc_id").collect()) == sorted(
        set(r.doc_id for r in staged.select("doc_id").collect())
    )


def test_stream_lsh_ingest_is_reprocess_deterministic(spark):
    """The streamed ingest rebuilds its index + results from zero each
    run (fresh checkpoint, static-overwrite build), so running it twice
    must produce identical verdict aggregates — the property the
    oracle's sequential replay depends on."""
    from dataframework_spark.streaming import stream_lsh_ingest

    sf_dir = "/root/testdata/sf0.001"
    a = sorted(map(tuple, stream_lsh_ingest(spark, sf_dir).collect()))
    b = sorted(map(tuple, stream_lsh_ingest(spark, sf_dir).collect()))
    assert a == b and len(a) > 0
