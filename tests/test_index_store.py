"""Persisted-index store pins (``sources/index_store.py``).

Both index families — MinHash-LSH (``LSH_LAYOUT``) and IVF-PQ
(``IVFPQ_LAYOUT``) — declare their tables once and go through one set of
parquet mechanics.  These tests pin what that buys: reads launch no Spark
job, writes refuse a frame whose types drift from the layout, compaction
pays the small-file debt without touching content, an index with zero rows
builds, serves and compacts, and the stream feed is staged in tag order.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F


def _layouts():
    from dataframework_spark.operators.dedup import LSH_LAYOUT
    from dataframework_spark.operators.similarity import IVFPQ_LAYOUT

    return {"lsh": LSH_LAYOUT, "ivfpq": IVFPQ_LAYOUT}


def _rows(spark, ddl, n, offset=0):
    """``n`` rows of the DDL schema ``ddl``; the last column (the
    partition column of a partitioned table) cycles over 3 values."""
    cols = [c.split(" ", 1) for c in ddl.split(", ")]
    exprs = []
    for i, (name, typ) in enumerate(cols):
        if i == len(cols) - 1 and typ == "int":
            e = F.col("id") % 3
        elif typ.startswith("array"):
            e = F.array(F.col("id"), F.col("id") + 1)
        else:
            e = F.col("id") + offset
        exprs.append(e.cast(typ).alias(name))
    return spark.range(n).select(*exprs)


def _appended_index(spark, layout, base):
    """Every table written once and appended to twice: ≥ 3 files per
    table (per partition for a partitioned one)."""
    from dataframework_spark.sources import index_store

    for table, (ddl, _) in layout.items():
        for gen, mode in enumerate(("overwrite", "append", "append")):
            rows = _rows(spark, ddl, 6, offset=100 * gen)
            index_store.write(rows, layout, base, table, mode)


@pytest.mark.parametrize("family", ["lsh", "ivfpq"])
def test_reads_launch_no_job(spark, tmp_path, family):
    from dataframework_spark.sources import index_store

    layout = _layouts()[family]
    base = str(tmp_path / family)
    _appended_index(spark, layout, base)
    sc, group = spark.sparkContext, f"dfx-index-read:{family}"
    sc.setJobGroup(group, "index store read census")
    try:
        for table, (ddl, part) in layout.items():
            frames = [index_store.read(spark, layout, base, table)]
            if part:
                frames.append(index_store.read(spark, layout, base, table, parts=[0, 2, 7]))
            for df in frames:
                assert [f.name for f in df.schema] == [c.split(" ")[0] for c in ddl.split(", ")]
        jobs = list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert jobs == []


def test_partition_read_opens_only_the_named_partitions(spark, tmp_path):
    from dataframework_spark.operators.similarity import IVFPQ_LAYOUT
    from dataframework_spark.sources import index_store

    base = str(tmp_path / "ivfpq")
    _appended_index(spark, IVFPQ_LAYOUT, base)
    got = index_store.read(spark, IVFPQ_LAYOUT, base, "codes", parts=[0, 2, 7])
    # the scan's file index (not its filter) holds only the named cells'
    # files: cid=1 is never listed
    scanned = {os.path.basename(os.path.dirname(f)) for f in got.inputFiles()}
    assert scanned == {"cid=0", "cid=2"}
    assert {r.cid for r in got.collect()} == {0, 2}
    assert index_store.read(spark, IVFPQ_LAYOUT, base, "codes", parts=[7]).count() == 0


@pytest.mark.parametrize(
    "family, table, frame_ddl",
    [
        ("lsh", "bands", "doc_id bigint, bk string, band bigint"),  # partition type
        ("lsh", "sigs", "doc_id bigint, h0 bigint"),  # missing columns
        ("ivfpq", "codes", "vec_id bigint, codes array<bigint>, cid int"),  # element type
        ("ivfpq", "centroids", "cid int, c array<double>, extra int"),  # extra column
    ],
)
def test_write_refuses_types_that_differ_from_the_layout(
    spark, tmp_path, family, table, frame_ddl
):
    from dataframework_spark.sources import index_store

    base = str(tmp_path / family)
    with pytest.raises(TypeError, match=table):
        index_store.write(_rows(spark, frame_ddl, 2), _layouts()[family], base, table)
    assert not os.path.exists(os.path.join(base, table))


def test_write_ignores_nullability(spark, tmp_path):
    from dataframework_spark.operators.similarity import IVFPQ_LAYOUT
    from dataframework_spark.sources import index_store

    base = str(tmp_path / "ivfpq")
    # array(...) of non-null ints: containsNull=false, the layout says true
    codes = spark.range(4).select(
        F.col("id").alias("vec_id"),
        F.array(F.lit(1), F.lit(2)).alias("codes"),
        F.lit(3).alias("cid"),
    )
    assert not codes.schema["codes"].dataType.containsNull
    index_store.write(codes, IVFPQ_LAYOUT, base, "codes")
    assert index_store.read(spark, IVFPQ_LAYOUT, base, "codes").count() == 4


@pytest.mark.parametrize("family", ["lsh", "ivfpq"])
def test_compact_leaves_one_file_per_partition_and_equal_content(
    spark, tmp_path, family
):
    from dataframework_spark.sources import index_store

    layout = _layouts()[family]
    base, cmp_base = str(tmp_path / family), str(tmp_path / f"{family}_c")
    _appended_index(spark, layout, base)
    for table in layout:
        assert all(n >= 3 for n in index_store.file_counts(layout, base, table).values())
    index_store.compact(spark, layout, base, cmp_base)
    for table, (_, part) in layout.items():
        after = index_store.file_counts(layout, cmp_base, table)
        assert set(after) == set(index_store.file_counts(layout, base, table))
        assert after and all(n == 1 for n in after.values())
        assert set(after) == ({None} if part is None else {0, 1, 2})
        assert index_store.frames_equal(
            index_store.read(spark, layout, base, table),
            index_store.read(spark, layout, cmp_base, table),
        )


def test_file_counts_is_empty_without_files(spark, tmp_path):
    from dataframework_spark.operators.dedup import LSH_LAYOUT
    from dataframework_spark.sources import index_store

    base = str(tmp_path / "lsh")
    assert index_store.file_counts(LSH_LAYOUT, base, "bands") == {}  # no directory at all
    rows = _rows(spark, LSH_LAYOUT["bands"][0], 0)
    index_store.write(rows, LSH_LAYOUT, base, "bands")
    assert index_store.file_counts(LSH_LAYOUT, base, "bands") == {}  # partitioned, no rows


def test_empty_lsh_index_builds_serves_and_compacts(spark, tmp_path):
    """An index built from zero docs serves a 2-doc delta (both ``new``:
    nothing to match) and compacts.  Reading it used to infer a schema
    from a band table with no partition files, which raises
    ``UNABLE_TO_INFER_SCHEMA``."""
    from dataframework_spark.operators.dedup import lsh_index_build, lsh_serve

    idx, cmp_idx = str(tmp_path / "idx"), str(tmp_path / "idx_c")
    docs = "doc_id bigint, text string"
    lsh_index_build(spark, spark.createDataFrame([], docs), idx)
    delta = spark.createDataFrame(
        [
            (1, "alpha bravo charlie delta echo foxtrot golf"),
            (2, "hotel india juliet kilo lima mike november"),
        ],
        docs,
    )
    verdicts, _, cache = lsh_serve(spark, idx, delta)
    assert {r.doc_id: r.verdict for r in verdicts.collect()} == {1: "new", 2: "new"}
    cache.unpersist()

    from dataframework_spark.operators.dedup import LSH_LAYOUT
    from dataframework_spark.sources import index_store

    index_store.compact(spark, LSH_LAYOUT, idx, cmp_idx)
    assert index_store.file_counts(LSH_LAYOUT, cmp_idx, "bands") == {}
    for table in LSH_LAYOUT:
        assert index_store.read(spark, LSH_LAYOUT, cmp_idx, table).count() == 0
    verdicts, _, cache = lsh_serve(spark, cmp_idx, delta)
    assert {r.verdict for r in verdicts.collect()} == {"new"}
    cache.unpersist()


def test_ordered_feed_stamps_increasing_mtimes_in_tag_order(spark, tmp_path):
    import pyarrow.parquet as pq

    from dataframework_spark.streaming import _ordered_feed

    tags = [3, 1, 2]  # feed order is the given order, not sorted order
    frame = spark.range(30).select("id", (F.col("id") % 3 + 1).cast("bigint").alias("tag"))
    path = str(tmp_path / "feed")
    stream = _ordered_feed(spark, frame, "tag", tags, path)
    assert stream.isStreaming
    assert stream.schema.simpleString() == frame.schema.simpleString()
    files = sorted(
        (os.path.getmtime(os.path.join(path, n)), n)
        for n in os.listdir(path)
        if n.endswith(".parquet")
    )
    assert len(files) == len(tags)
    mtimes = [m for m, _ in files]
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
    in_mtime_order = [
        set(pq.read_table(os.path.join(path, n)).column("tag").to_pylist()) for _, n in files
    ]
    assert in_mtime_order == [{t} for t in tags]
