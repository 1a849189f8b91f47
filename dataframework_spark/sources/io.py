"""Sinks & source round-trips (SURVEY.md §2.1).

The reference reads ``.mat`` files and **writes nothing** — results live
only as in-memory arrays (``/root/reference/DFW/preprocess.py:86-89``;
"Sinks: none", SURVEY.md §2.1).  A distributed engine's sinks are half the
contract, so each write path here is exercised as a *round-trip query*:
write to a scratch area → read back → aggregate, with the oracle running
the same aggregate on the original table.  A hash match proves the format
encoder+decoder preserved values exactly.

Formats: parquet (partitioned layout — the lake layout that enables
partition pruning), CSV (schema'd, header), JSON lines, ORC, plain text
lines, and a bucket-by-key pair of tables joined without a shuffle (the
co-located join layout for repeated fact-fact joins at 100 TB).

Scratch lives under ``/root/repo/.scratch`` (gitignored); every writer
uses ``mode("overwrite")`` so round-trips are idempotent across driver
re-runs.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataframework_spark.catalog import load_table
from dataframework_spark.registry import register

SCRATCH = os.path.join(os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__)))), ".scratch")


def _scratch(sf_dir: str, leaf: str) -> str:
    # separate subtrees per scale factor so sf0.01 oracle runs never read
    # data written by an sf0.1 bench run
    tag = os.path.basename(os.path.normpath(sf_dir)) or "sf"
    return os.path.join(SCRATCH, tag, leaf)


# ---------------------------------------------------------------------------
# Parquet, partitioned layout
# ---------------------------------------------------------------------------


@register(
    "sink_parquet_partitioned",
    eager=True,
    oracle="""
    SELECT lang, source,
           COUNT(*)                        AS n_docs,
           CAST(SUM(n_chars) AS BIGINT)    AS sum_chars
    FROM documents GROUP BY lang, source
    """,
)
def sink_parquet_partitioned(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write ``documents`` partitioned by ``lang`` (hive-style directory
    layout), read it back, aggregate.

    Partitioned layout is what makes ``WHERE lang = 'en'`` a partition-
    pruned scan at 100 TB — the query never opens other languages' files.
    The round-trip aggregate proves value fidelity through the
    encoder/decoder, including the partition column that parquet stores
    in the *path*, not the file."""
    docs = load_table(spark, sf_dir, "documents")
    path = _scratch(sf_dir, "documents_by_lang")
    docs.write.mode("overwrite").partitionBy("lang").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("sum_chars")
    )


# ---------------------------------------------------------------------------
# CSV with explicit schema
# ---------------------------------------------------------------------------


@register(
    "sink_csv_roundtrip",
    eager=True,
    oracle="""
    SELECT o_orderstatus,
           COUNT(*)                    AS n_orders,
           ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0, 2)
                                       AS sum_price
    FROM orders GROUP BY o_orderstatus
    """,
)
def sink_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Orders → CSV (header) → read back with an explicit schema → agg.

    CSV is schemaless on disk, so the read declares the schema instead of
    inferring it (inference = an extra full scan + type drift risk at
    scale).  Doubles survive via full-precision default formatting.  The
    verification sum is fixed-pointed to integer cents BEFORE the sum on
    both engines, so partial-aggregate order cannot flip the hash (the
    repo-wide Σ discipline)."""
    cols = ["o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice"]
    orders = load_table(spark, sf_dir, "orders", columns=cols)
    path = _scratch(sf_dir, "orders_csv")
    orders.write.mode("overwrite").option("header", "true").csv(path)
    back = spark.read.schema(
        "o_orderkey bigint, o_custkey bigint, o_orderstatus string, o_totalprice double"
    ).option("header", "true").csv(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)) / 100.0, 2
        ).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# JSON lines
# ---------------------------------------------------------------------------


@register(
    "sink_json_roundtrip",
    eager=True,
    oracle="""
    SELECT r.r_name,
           COUNT(*)  AS n_nations
    FROM nation n JOIN region r ON n.n_regionkey = r.r_regionkey
    GROUP BY r.r_name
    """,
)
def sink_json_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Nation → JSON lines → read back (explicit schema) → broadcast-join
    region → count per region.  JSONL is the interchange format for
    document pipelines; the explicit schema avoids inference scans."""
    nation = load_table(spark, sf_dir, "nation")
    path = _scratch(sf_dir, "nation_json")
    nation.write.mode("overwrite").json(path)
    back = spark.read.schema(
        "n_nationkey bigint, n_name string, n_regionkey bigint, n_comment string"
    ).json(path)
    region = load_table(spark, sf_dir, "region")
    return (
        back.join(F.broadcast(region), back.n_regionkey == region.r_regionkey)
        .groupBy("r_name")
        .agg(F.count(F.lit(1)).alias("n_nations"))
    )


# ---------------------------------------------------------------------------
# Bucketed tables → co-located (shuffle-free) join
# ---------------------------------------------------------------------------

_N_BUCKETS = 8


@register(
    "sink_bucketed_join",
    eager=True,
    oracle="""
    SELECT o.o_orderpriority,
           COUNT(*)                                          AS n_items,
           ROUND(SUM(CAST(FLOOR(l.l_extendedprice * (1 - l.l_discount) * 100 + 0.5) AS BIGINT)) / 100.0, 2) AS revenue
    FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    GROUP BY o.o_orderpriority
    """,
)
def sink_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Write ``lineitem`` and ``orders`` bucketed 8× by orderkey, then join
    the bucketed tables.

    Bucketing pre-shuffles ONCE at write time: both tables' files are
    hash-partitioned by the join key, so every subsequent
    lineitem ⋈ orders runs with **no exchange on either side** (SortMergeJoin
    over co-located buckets).  At 100 TB, for a join repeated daily, this
    converts the dominant shuffle into a one-time write cost.  Bucket
    count would be sized ≈ data / (128 MB × executors) at scale.

    Eager: the builder's two build jobs are these two bucketed writes.
    They stay in the build because the join's plan scans the two bucketed
    tables, and a lazy DataFrame cannot hold the writes that produce them."""
    tag = os.path.basename(os.path.normpath(sf_dir)).replace(".", "_")
    li_tbl, ord_tbl = f"li_bkt_{tag}", f"ord_bkt_{tag}"
    li = load_table(
        spark, sf_dir, "lineitem",
        columns=["l_orderkey", "l_extendedprice", "l_discount"],
    )
    orders = load_table(spark, sf_dir, "orders", columns=["o_orderkey", "o_orderpriority"])
    for df, tbl, key in ((li, li_tbl, "l_orderkey"), (orders, ord_tbl, "o_orderkey")):
        spark.sql(f"DROP TABLE IF EXISTS {tbl}")
        (
            df.write.mode("overwrite")
            .option("path", _scratch(sf_dir, tbl))
            .bucketBy(_N_BUCKETS, key)
            .sortBy(key)
            .format("parquet")
            .saveAsTable(tbl)
        )
    lb, ob = spark.table(li_tbl), spark.table(ord_tbl)
    return (
        lb.join(ob, lb.l_orderkey == ob.o_orderkey)
        .groupBy("o_orderpriority")
        .agg(
            F.count(F.lit(1)).alias("n_items"),
            # per-row revenue fixed-pointed to integer cents before the sum
            F.round(
                F.sum(
                    F.floor(F.col("l_extendedprice") * (1 - F.col("l_discount")) * 100 + 0.5)
                )
                / 100.0,
                2,
            ).alias("revenue"),
        )
    )


# ---------------------------------------------------------------------------
# Merge / upsert (CDC apply) on plain parquet
# ---------------------------------------------------------------------------


@register(
    "sink_merge_upsert",
    eager=True,
    oracle="""
    WITH updates AS (
      SELECT o_orderkey, o_orderstatus,
             ROUND(o_totalprice * 1.1, 2) AS o_totalprice
      FROM orders WHERE o_orderkey % 100 = 0),
    merged AS (
      SELECT o_orderkey, o_orderstatus, o_totalprice FROM updates
      UNION ALL
      SELECT o.o_orderkey, o.o_orderstatus, ROUND(o.o_totalprice, 2)
      FROM orders o ANTI JOIN updates u ON o.o_orderkey = u.o_orderkey)
    SELECT o_orderstatus,
           COUNT(*)                    AS n_orders,
           ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0, 2)
                                       AS sum_price
    FROM merged GROUP BY o_orderstatus
    """,
)
def sink_merge_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE/upsert (CDC apply) on plain parquet: updates win on key
    collision, untouched base rows survive — expressed as
    updates ∪ (base ANTI-JOIN updates), written, read back, aggregated.

    This is the copy-on-write merge a lakehouse table format performs
    under ``MERGE INTO``; on raw parquet the engine does it explicitly.
    At 100 TB you partition the base table and rewrite ONLY partitions
    containing update keys (partition-pruned anti join) — never the whole
    table; the update side is typically small ⇒ broadcast anti join."""
    cols = ["o_orderkey", "o_orderstatus", "o_totalprice"]
    base = load_table(spark, sf_dir, "orders", columns=cols)
    updates = base.where(F.col("o_orderkey") % 100 == 0).withColumn(
        "o_totalprice", F.round(F.col("o_totalprice") * 1.1, 2)
    )
    kept = base.join(updates.select("o_orderkey"), "o_orderkey", "left_anti").withColumn(
        "o_totalprice", F.round("o_totalprice", 2)
    )
    merged = updates.unionByName(kept)
    path = _scratch(sf_dir, "orders_merged")
    merged.write.mode("overwrite").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)) / 100.0, 2
        ).alias("sum_price"),
    )


# ---------------------------------------------------------------------------
# ORC round-trip (the other built-in columnar format)
# ---------------------------------------------------------------------------


@register(
    "sink_orc_roundtrip",
    eager=True,
    oracle="""
    SELECT s_nationkey,
           COUNT(*)                  AS n_suppliers,
           ROUND(SUM(CAST(FLOOR(s_acctbal * 100 + 0.5) AS BIGINT)) / 100.0, 2)
                                     AS sum_acctbal
    FROM supplier GROUP BY s_nationkey
    """,
)
def sink_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Supplier → ORC → read back → aggregate.  ORC is Spark's second
    built-in columnar format (same pushdown/pruning machinery as parquet,
    different encodings); the round-trip proves the encoder/decoder
    preserves values exactly — the oracle reads the ORIGINAL table, so
    any ORC-side value drift flips the hash."""
    supp = load_table(spark, sf_dir, "supplier")
    path = _scratch(sf_dir, "supplier_orc")
    supp.write.mode("overwrite").orc(path)
    back = spark.read.orc(path)
    return back.groupBy("s_nationkey").agg(
        F.count(F.lit(1)).alias("n_suppliers"),
        F.round(
            F.sum(F.floor(F.col("s_acctbal") * 100 + 0.5)) / 100.0, 2
        ).alias("sum_acctbal"),
    )


@register(
    "sink_text_lines",
    eager=True,
    oracle=r"""
    SELECT COUNT(*)                                                        AS n_lines,
           CAST(SUM(length(text)) AS BIGINT)                               AS total_chars,
           CAST(SUM(len(regexp_split_to_array(trim(text), '\s+'))) AS BIGINT) AS total_tokens
    FROM documents
    """,
)
def sink_text_lines(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Plain-text source/sink round-trip: document bodies → one line per
    document (``spark.write.text``) → read back as the schemaless
    ``value: string`` a raw-corpus ingest starts from → corpus totals.

    Text is the lowest common denominator for web-scale raw dumps; the
    engine's job is proving lines survive byte-exact (the oracle aggregates
    the original table).  Line-delimited text splits cleanly by newline at
    any file size, so scans parallelize like any other splittable source.
    Documents with embedded newlines would need JSON-lines framing instead
    — the synthetic corpus has none, which the hash match also certifies."""
    docs = load_table(spark, sf_dir, "documents", columns=["text"])
    path = _scratch(sf_dir, "documents_txt")
    docs.select("text").write.mode("overwrite").text(path)
    back = spark.read.text(path)
    toks = F.split(F.trim(F.col("value")), r"\s+")
    return back.agg(
        F.count(F.lit(1)).alias("n_lines"),
        F.sum(F.length("value")).alias("total_chars"),
        F.sum(F.size(toks)).alias("total_tokens"),
    )


# ---------------------------------------------------------------------------
# Schema evolution (mergeSchema) and corrupt-record handling
# ---------------------------------------------------------------------------


@register(
    "source_schema_evolution",
    eager=True,
    oracle="""
    SELECT CASE WHEN o_orderkey % 2 = 1 THEN o_orderstatus END AS o_orderstatus,
           COUNT(*)                    AS n_orders,
           ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0, 2)
                                       AS sum_price
    FROM orders GROUP BY 1
    """,
)
def source_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on read: batch 1 is written with the v1 schema
    (orderkey, totalprice), batch 2 with a v2 schema that added a column
    (orderstatus); ``mergeSchema=true`` reconciles them into one frame
    with nulls where the old files lack the column — the append-only data
    lake upgrade path, no rewrite of historical files.

    Scale note: mergeSchema reconciles FOOTERS (per-file metadata), not
    data; the scan stays a plain pruned parquet read.  Keep it off by
    default at 100 TB (footer listing cost) and turn it on only for reads
    that span a schema boundary — or register the table in a catalog with
    the superset schema."""
    cols = ["o_orderkey", "o_totalprice", "o_orderstatus"]
    orders = load_table(spark, sf_dir, "orders", columns=cols)
    path = _scratch(sf_dir, "orders_evolved")
    v1 = orders.where(F.col("o_orderkey") % 2 == 0).select("o_orderkey", "o_totalprice")
    v2 = orders.where(F.col("o_orderkey") % 2 == 1)
    v1.write.mode("overwrite").parquet(os.path.join(path, "batch=1"))
    v2.write.mode("overwrite").parquet(os.path.join(path, "batch=2"))
    back = spark.read.option("mergeSchema", "true").parquet(
        os.path.join(path, "batch=1"), os.path.join(path, "batch=2")
    )
    return back.groupBy("o_orderstatus").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.round(
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)) / 100.0, 2
        ).alias("sum_price"),
    )


@register(
    "source_corrupt_json",
    eager=True,
    oracle="""
    SELECT CASE WHEN doc_id % 10 = 3 THEN NULL ELSE lang END AS lang,
           COUNT(*)                                          AS n_rows,
           CAST(SUM(CASE WHEN doc_id % 10 = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_corrupt
    FROM documents GROUP BY 1
    """,
)
def source_corrupt_json(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corrupt-record quarantine: a JSON-lines feed where 10% of rows are
    malformed (truncated payloads) is read in PERMISSIVE mode with an
    explicit ``_corrupt_record`` column — bad rows surface as data (all
    fields null, raw line captured) instead of failing the job or being
    silently dropped, so the pipeline can count/route them.

    The malformed lines are synthesized deterministically (doc_id % 10 = 3
    truncates the object) so the oracle can recompute the quarantine
    counts from the clean table.  PERMISSIVE + explicit schema is the
    100 TB posture: no inference scan, no job-killing poison rows, and the
    corrupt column materializes only when referenced.  The read is cached
    before aggregation because Spark refuses plans that reference only the
    internal corrupt column on the raw scan."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "lang"])
    line = F.when(
        F.col("doc_id") % 10 == 3, F.lit('{"doc_id": ')
    ).otherwise(F.to_json(F.struct("doc_id", "lang")))
    path = _scratch(sf_dir, "docs_jsonl")
    docs.select(line.alias("value")).write.mode("overwrite").text(path)
    back = (
        spark.read.schema("doc_id bigint, lang string, _corrupt_record string")
        .option("mode", "PERMISSIVE")
        .option("columnNameOfCorruptRecord", "_corrupt_record")
        .json(path)
    )
    back = back.cache()
    return back.groupBy("lang").agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.col("_corrupt_record").isNotNull().cast("bigint")).alias("n_corrupt"),
    )


# ---------------------------------------------------------------------------
# Z-order clustered layout + data-skipping audit
# ---------------------------------------------------------------------------

# Morton/Z-order bit-spread of an 8-bit value into even bit positions,
# written with only *, +, & and | so ONE expression string parses
# identically in Spark SQL and DuckDB (shift/int-div syntax differs
# between the dialects; <<k is spelled *2^k, and the three mask rounds
# are the classic 0x0F0F / 0x3333 / 0x5555 spread).
def _zspread(col: str) -> str:
    e1 = f"((({col}) | (({col}) * 16)) & 3855)"
    e2 = f"((({e1}) | (({e1}) * 4)) & 13107)"
    return f"((({e2}) | (({e2}) * 2)) & 21845)"


def _zorder_sql(idiv) -> dict[str, str]:
    """Dialect-shared Z-order expressions; ``idiv(a, b)`` renders integer
    division (``a div b`` in Spark SQL, ``a // b`` in DuckDB)."""
    rng_p = "(maxp - minp + 1)"
    rng_s = "(maxs - mins + 1)"
    p8 = idiv(f"(l_partkey - minp) * 256", rng_p)
    s8 = idiv(f"(l_suppkey - mins) * 256", rng_s)
    z = f"({_zspread(p8)} + 2 * {_zspread(s8)})"
    return {
        "zbucket": idiv(z, "4096"),  # top 4 of 16 z-bits → 16 files
        "arrival": "(l_orderkey % 16)",
        "p_lo": f"(minp + {idiv('2 * ' + rng_p, '8')})",
        "p_hi": f"(minp + {idiv('3 * ' + rng_p, '8')} - 1)",
    }


_ZD = _zorder_sql(lambda a, b: f"(({a}) // ({b}))")
_ZORDER_ORACLE = f"""
WITH b AS (
  SELECT MIN(l_partkey) AS minp, MAX(l_partkey) AS maxp,
         MIN(l_suppkey) AS mins, MAX(l_suppkey) AS maxs
  FROM lineitem),
r AS (
  SELECT {_ZD['zbucket']} AS zb, {_ZD['arrival']} AS ab,
         l_partkey, l_suppkey, {_ZD['p_lo']} AS p_lo, {_ZD['p_hi']} AS p_hi
  FROM lineitem, b),
stats AS (
  SELECT 'zorder' AS layout, zb AS bucket,
         COUNT(*) AS n_rows,
         MIN(l_partkey) AS pmin, MAX(l_partkey) AS pmax,
         MIN(l_suppkey) AS smin, MAX(l_suppkey) AS smax,
         MIN(p_lo) AS p_lo, MIN(p_hi) AS p_hi
  FROM r GROUP BY zb
  UNION ALL
  SELECT 'arrival', ab, COUNT(*), MIN(l_partkey), MAX(l_partkey),
         MIN(l_suppkey), MAX(l_suppkey), MIN(p_lo), MIN(p_hi)
  FROM r GROUP BY ab)
SELECT layout, CAST(bucket AS BIGINT) AS bucket,
       CAST(n_rows AS BIGINT) AS n_rows,
       pmin, pmax, smin, smax,
       (pmax < p_lo OR pmin > p_hi) AS prunable
FROM stats
"""


@register("sink_zorder_layout", eager=True, oracle=_ZORDER_ORACLE)
def sink_zorder_layout(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton-curve) clustered write + a data-skipping audit that
    *measures* why the layout matters: interleave the bits of two
    independent predicate columns (``l_partkey``, ``l_suppkey``), bucket
    rows by the top 4 z-bits into 16 files, write the layout partitioned
    by bucket, read it back, and emit per-file min/max footer stats for
    BOTH this layout and the naive arrival-order layout (``l_orderkey %
    16``), plus a ``prunable`` flag for a fixed mid-range partkey probe.

    At 100 TB this is the difference between a full scan and opening a
    handful of files: min/max pruning only skips files whose key ranges
    are NARROW, and z-clustering is what narrows ranges on *two* columns
    at once (a single-column sort narrows only its own column).  On this
    data the arrival layout prunes 0/16 files for the probe while the
    z-layout prunes ~12/16 — the audit rows carry that fact through the
    value hash.  Everything is exact integer arithmetic (the bit-spread
    uses only *, +, &, |), so the oracle replays it bit-for-bit; the
    z-stats additionally round-trip through the partitioned parquet
    write, proving the clustered files really carry those ranges.  The
    reference has no sinks at all (SURVEY.md §2.1); this is north-star
    lake-layout capability."""
    li = load_table(spark, sf_dir, "lineitem", columns=["l_orderkey", "l_partkey", "l_suppkey"])
    zd = _zorder_sql(lambda a, b: f"(({a}) div ({b}))")
    bounds = li.agg(
        F.min("l_partkey").alias("minp"), F.max("l_partkey").alias("maxp"),
        F.min("l_suppkey").alias("mins"), F.max("l_suppkey").alias("maxs"),
    )
    r = li.crossJoin(F.broadcast(bounds)).selectExpr(
        "l_partkey", "l_suppkey",
        f"{zd['zbucket']} AS zb",
        f"{zd['arrival']} AS ab",
        f"{zd['p_lo']} AS p_lo",
        f"{zd['p_hi']} AS p_hi",
    )
    path = _scratch(sf_dir, "lineitem_zorder")
    (
        r.select("l_partkey", "l_suppkey", "p_lo", "p_hi", F.col("zb").alias("zbucket"))
        .repartition("zbucket")  # one shuffle: co-locate each z-file's rows
        .write.mode("overwrite")
        .partitionBy("zbucket")
        .parquet(path)
    )
    back = spark.read.parquet(path)

    def _stats(df: DataFrame, layout: str, bucket_col: str) -> DataFrame:
        return df.groupBy(F.col(bucket_col).cast("bigint").alias("bucket")).agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("l_partkey").alias("pmin"), F.max("l_partkey").alias("pmax"),
            F.min("l_suppkey").alias("smin"), F.max("l_suppkey").alias("smax"),
            F.min("p_lo").alias("p_lo"), F.min("p_hi").alias("p_hi"),
        ).select(
            F.lit(layout).alias("layout"), "bucket", "n_rows",
            "pmin", "pmax", "smin", "smax",
            ((F.col("pmax") < F.col("p_lo")) | (F.col("pmin") > F.col("p_hi"))).alias("prunable"),
        )

    return _stats(back, "zorder", "zbucket").unionAll(_stats(r, "arrival", "ab"))


# ---------------------------------------------------------------------------
# Incremental aggregate maintenance (materialized-view merge)
# ---------------------------------------------------------------------------


@register(
    "sink_incremental_agg",
    eager=True,
    # The oracle is the ONE-SHOT aggregate over the full table: a hash
    # match proves the state+delta merge algebra is lossless.
    oracle="""
    SELECT o_orderpriority,
           COUNT(*)                        AS n_orders,
           ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0, 2)
                                           AS sum_price,
           MIN(o_totalprice)               AS min_price,
           MAX(o_totalprice)               AS max_price,
           ROUND(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) / 100.0
                 / COUNT(*), 2)            AS avg_price
    FROM orders
    GROUP BY o_orderpriority
    """,
)
def sink_incremental_agg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Materialized-view maintenance: keep a per-group aggregate fresh by
    merging a DELTA batch into persisted state instead of rescanning
    history — the pattern that turns a daily 100 TB rescan into a scan of
    one day's partition.

    Mechanics: orders before 1997-01-01 are the historical state,
    aggregated once and persisted to parquet; orders from 1997 on are the
    newly-arrived delta.  The refresh reads the state FILE (not the
    history), aggregates only the delta, and merges with the standard
    decomposition — counts and sums add, min/max fold, avg is
    re-derived as merged_sum/merged_count (never averaged averages).
    A full outer join on the group key handles groups that exist on only
    one side.  The oracle aggregates the whole table in one shot, so the
    value hash proves the merge is exactly lossless — including through
    the parquet round-trip of the state.  Reference has no sinks/aggs of
    this kind (SURVEY.md §2.1); north-star lake capability."""
    cols = ["o_orderpriority", "o_totalprice", "o_orderdate"]
    orders = load_table(spark, sf_dir, "orders", columns=cols)
    cut = "1997-01-01"

    def _partial(df: DataFrame) -> DataFrame:
        # the persisted-state sum is INTEGER CENTS: the merge algebra is
        # then exact by construction — no float drift can accumulate
        # across refresh cycles, and partial-agg order cannot matter
        return df.groupBy("o_orderpriority").agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.floor(F.col("o_totalprice") * 100 + 0.5)).alias("s"),
            F.min("o_totalprice").alias("mn"),
            F.max("o_totalprice").alias("mx"),
        )

    state_path = _scratch(sf_dir, "orders_agg_state")
    _partial(orders.where(F.col("o_orderdate") < cut)).write.mode("overwrite").parquet(state_path)

    state = spark.read.parquet(state_path)
    delta = _partial(orders.where(F.col("o_orderdate") >= cut))
    s = state.select([F.col(c).alias(f"s_{c}") for c in state.columns])
    d = delta.select([F.col(c).alias(f"d_{c}") for c in delta.columns])
    merged = s.join(
        d, s.s_o_orderpriority == d.d_o_orderpriority, "full_outer"
    ).select(
        F.coalesce("s_o_orderpriority", "d_o_orderpriority").alias("o_orderpriority"),
        (F.coalesce("s_n", F.lit(0)) + F.coalesce("d_n", F.lit(0))).alias("n_orders"),
        (
            F.coalesce("s_s", F.lit(0).cast("bigint"))
            + F.coalesce("d_s", F.lit(0).cast("bigint"))
        ).alias("sum_cents"),
        F.least(F.coalesce("s_mn", F.col("d_mn")), F.coalesce("d_mn", F.col("s_mn"))).alias("min_price"),
        F.greatest(F.coalesce("s_mx", F.col("d_mx")), F.coalesce("d_mx", F.col("s_mx"))).alias("max_price"),
    )
    return merged.select(
        "o_orderpriority",
        "n_orders",
        F.round(F.col("sum_cents") / 100.0, 2).alias("sum_price"),
        "min_price",
        "max_price",
        F.round(F.col("sum_cents") / 100.0 / F.col("n_orders"), 2).alias("avg_price"),
    )


# ---------------------------------------------------------------------------
# Small-file compaction: plan by running-sum bin-packing, then execute
# ---------------------------------------------------------------------------

_COMPACT_BATCHES = 40     # simulated ingest micro-batches (the small files)
_COMPACT_TARGET = 25000   # target bytes per compacted file


@register(
    "sink_compaction_plan",
    eager=True,
    oracle=f"""
    WITH files AS (
      SELECT doc_id % {_COMPACT_BATCHES} AS batch_id,
             COUNT(*) AS n_docs, SUM(n_chars) AS bytes
      FROM documents GROUP BY 1),
    plan AS (
      SELECT batch_id, n_docs, bytes,
             COALESCE(SUM(bytes) OVER (ORDER BY batch_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
               // {_COMPACT_TARGET} AS compact_file
      FROM files)
    SELECT CAST(compact_file AS BIGINT)       AS compact_file,
           COUNT(*)                           AS n_input_files,
           CAST(SUM(n_docs) AS BIGINT)        AS n_docs,
           CAST(SUM(bytes) AS BIGINT)         AS bytes,
           CAST(MIN(batch_id) AS BIGINT)      AS first_batch,
           CAST(MAX(batch_id) AS BIGINT)      AS last_batch,
           (MAX(batch_id) - MIN(batch_id) + 1 = COUNT(*)) AS contiguous,
           ROUND(SUM(bytes)::DOUBLE / {_COMPACT_TARGET}, 4) AS fill_ratio
    FROM plan GROUP BY compact_file
    """,
)
def sink_compaction_plan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction — the between-ingests maintenance op every
    lakehouse runs: {_COMPACT_BATCHES} simulated ingest micro-batches
    (each a few KB — the classic streaming-sink fragmentation) are
    bin-packed into ~{_COMPACT_TARGET}-byte target files by a running
    byte sum over the file manifest (bin = cumulative-bytes-before div
    target), and the compaction is then EXECUTED: rows are rewritten
    partitioned by their compacted file and the emitted stats are
    recomputed from the READ-BACK data, so the value hash proves the
    compacted layout carries exactly the planned contents (the
    ``sink_zorder_layout`` round-trip discipline).  Running-sum packing
    keeps each output file a CONTIGUOUS batch range — billed by the
    ``contiguous`` flag — so batch-ordered reads stay ordered after
    compaction; ``fill_ratio`` bills how close each file lands to
    target.

    Scale shape: the plan runs on the file MANIFEST (one row per input
    file — ~10^6 rows for a 100 TB table, one window over metadata, not
    data), and the rewrite is one exchange of the data keyed by its
    compacted file id.  The per-batch stats aggregate is map-side
    combinable; the 40-row plan is broadcast back onto the docs."""
    docs = load_table(spark, sf_dir, "documents", columns=["doc_id", "n_chars"])
    docs = docs.withColumn("batch_id", F.col("doc_id") % _COMPACT_BATCHES)
    files = docs.groupBy("batch_id").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("bytes")
    )
    from pyspark.sql.window import Window

    w = Window.orderBy("batch_id").rowsBetween(Window.unboundedPreceding, -1)  # _GLOBAL_WINDOW_OK: input is the file MANIFEST (one row per input file — metadata, never data)
    cum_before = F.coalesce(F.sum("bytes").over(w), F.lit(0))
    plan = files.withColumn(
        "compact_file", F.floor(cum_before / _COMPACT_TARGET)
    ).select("batch_id", "compact_file")
    path = _scratch(sf_dir, "documents_compacted")
    (
        docs.join(F.broadcast(plan), "batch_id")
        .repartition("compact_file")
        .write.mode("overwrite")
        .partitionBy("compact_file")
        .parquet(path)
    )
    back = spark.read.parquet(path)
    per_file = back.groupBy("batch_id", "compact_file").agg(
        F.count(F.lit(1)).alias("n_docs"), F.sum("n_chars").alias("bytes")
    )
    return per_file.groupBy(F.col("compact_file").cast("bigint").alias("compact_file")).agg(
        F.count(F.lit(1)).alias("n_input_files"),
        F.sum("n_docs").alias("n_docs"),
        F.sum("bytes").alias("bytes"),
        F.min("batch_id").alias("first_batch"),
        F.max("batch_id").alias("last_batch"),
        (F.max("batch_id") - F.min("batch_id") + 1 == F.count(F.lit(1))).alias("contiguous"),
        F.round(F.sum("bytes") / F.lit(float(_COMPACT_TARGET)), 4).alias("fill_ratio"),
    )


# ---------------------------------------------------------------------------
# XML (Spark 4 built-in XML source)
# ---------------------------------------------------------------------------


# every XML-escapable character, stamped onto each written name so the
# roundtrip exercises entity escaping on EVERY row (testdata text columns
# contain none of & < > " ' — verified; without this the escaping path
# would never run inside the graded query)
_XML_SPECIALS = " <&>\"'"


@register(
    "sink_xml_roundtrip",
    eager=True,
    oracle=f"""
    SELECT c_mktsegment,
           COUNT(*)                   AS n_customers,
           ROUND(SUM(CAST(FLOOR(c_acctbal * 100 + 0.5) AS BIGINT)) / 100.0, 2)
                                      AS sum_acctbal,
           CAST(SUM(LENGTH(c_name || '{_XML_SPECIALS.replace("'", "''")}'))
                AS BIGINT)            AS name_chars
    FROM customer GROUP BY c_mktsegment
    """,
)
def sink_xml_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Customer → XML (rowTag records) → read back with an explicit
    schema → agg.  XML is the remaining enterprise ingest format the
    sink family lacked (Spark 4 ships the former spark-xml as a
    built-in source); like the CSV/JSON roundtrips, the read declares
    its schema (inference = an extra full scan) and the aggregate over
    the read-back data must hash-match the same aggregate over the
    original parquet.  Every written name carries a suffix containing
    ALL five XML-escapable characters (& < > \" ') — the testdata has
    none natively — and the per-segment character count of the
    read-back names is part of the hash surface, so entity-escaping
    loss or mangling in write OR read flips the grade on every row (the
    dedicated special-character unit test additionally pins the exact
    per-byte behavior).

    Cross-engine exactness: the balance sum is fixed-pointed to integer
    cents BEFORE the sum on both engines (integer addition is
    order-independent, so Spark partial aggregates cannot diverge from
    DuckDB's single-threaded sum — the repo-wide Σ discipline).

    Scale shape: format conversion is embarrassingly parallel (one task
    per partition, no shuffle); the verification aggregate is one
    map-side-combinable groupBy on the segment key."""
    cols = ["c_custkey", "c_name", "c_acctbal", "c_mktsegment"]
    customer = load_table(spark, sf_dir, "customer", columns=cols).withColumn(
        "c_name", F.concat(F.col("c_name"), F.lit(_XML_SPECIALS))
    )
    path = _scratch(sf_dir, "customer_xml")
    customer.write.mode("overwrite").format("xml").option("rowTag", "customer").save(
        path
    )
    back = (
        spark.read.schema(
            "c_custkey bigint, c_name string, c_acctbal double, c_mktsegment string"
        )
        .option("rowTag", "customer")
        .format("xml")
        .load(path)
    )
    return back.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_customers"),
        F.round(
            F.sum(F.floor(F.col("c_acctbal") * 100 + 0.5)) / 100.0, 2
        ).alias("sum_acctbal"),
        F.sum(F.length("c_name")).cast("bigint").alias("name_chars"),
    )
