"""One store for the persisted indexes (MinHash-LSH in ``operators/dedup.py``,
IVF-PQ in ``operators/similarity.py``).

An index is a directory holding one parquet table per subdirectory.  Each
index module declares its on-disk format once, as a *layout*: table name →
(DDL schema, partition column or ``None``).  Build, serve, append and
compact — batch and streamed — all go through the five operations below, so
the parquet mechanics exist once:

* :func:`write` partitions by the layout and refuses a frame whose column
  types differ from the declared ones, so what is on disk is what every read
  declares;
* :func:`read` passes the declared schema instead of inferring one: no Spark
  job, and a partitioned table with no rows reads as an empty frame (schema
  inference raises ``UNABLE_TO_INFER_SCHEMA`` there);
* :func:`compact` rewrites an appended-to index into one file per partition
  (one exchange keyed by the partition column) or one file per table;
* :func:`file_counts` and :func:`frames_equal` are the file bill and the
  content check a compaction is judged by.
"""

from __future__ import annotations

import os
from collections.abc import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegralType, StructType

Layout = dict[str, tuple[str, str | None]]


def _types(schema: StructType) -> dict[str, str]:
    # simpleString drops nullability, nested element nullability included
    return {f.name: f.dataType.simpleString() for f in schema}


def write(
    frame: DataFrame, layout: Layout, base: str, table: str, mode: str = "overwrite"
) -> None:
    """Write ``frame`` as ``base/table`` (``mode`` overwrite or append),
    partitioned as the layout says; raises ``TypeError`` if its columns or
    their types differ from the declared schema."""
    ddl, part = layout[table]
    want = _types(StructType.fromDDL(ddl))
    got = _types(frame.schema)
    if got != want:
        raise TypeError(f"index table {table!r}: columns {got} differ from {want}")
    writer = frame.select(*want).write.mode(mode)
    if part:
        writer = writer.partitionBy(part)
    writer.parquet(os.path.join(base, table))


def read(
    spark: SparkSession,
    layout: Layout,
    base: str,
    table: str,
    parts: Iterable | None = None,
) -> DataFrame:
    """Lazy scan of ``base/table`` under its declared schema.

    ``parts`` (partitioned tables only) reads just those partition
    directories, with ``basePath`` so the partition column survives: a
    manifest-style read that never lists the other partitions.  Values with
    no directory are skipped; the partition filter stays on top, so the
    pruning is also visible in the plan."""
    ddl, part = layout[table]
    root = os.path.join(base, table)
    reader = spark.read.schema(ddl)
    if parts is None:
        return reader.parquet(root)
    parts = list(parts)
    dirs = [d for v in parts if os.path.isdir(d := os.path.join(root, f"{part}={v}"))]
    rows = reader.option("basePath", root).parquet(*dirs) if dirs else reader.parquet(root)
    return rows.where(F.col(part).isin(parts))


def compact(spark: SparkSession, layout: Layout, base: str, compacted: str) -> None:
    """Rewrite the index at ``base`` into ``compacted``: one file per
    partition for a partitioned table, one file otherwise.  Rows are read
    and rewritten, nothing is recomputed; appends stay O(delta) and this is
    the maintenance pass that pays their small-file debt back."""
    for table, (_, part) in layout.items():
        rows = read(spark, layout, base, table)
        write(rows.repartition(part) if part else rows.coalesce(1), layout, compacted, table)


def file_counts(layout: Layout, base: str, table: str) -> dict:
    """Parquet data files per partition of ``base/table``, keyed by the
    partition value (typed as the layout declares it; ``None`` for an
    unpartitioned table).  A filesystem listing, never a Spark job; ``{}``
    when there are none."""
    ddl, part = layout[table]
    root = os.path.join(base, table)
    integral = part and isinstance(StructType.fromDDL(ddl)[part].dataType, IntegralType)
    counts = {}
    for d, _, files in os.walk(root):
        n = sum(f.endswith(".parquet") for f in files)
        if n:
            v = os.path.relpath(d, root).split("=", 1)[1] if part else None
            counts[int(v) if integral else v] = n
    return counts


def frames_equal(a: DataFrame, b: DataFrame) -> bool:
    """Exact multiset equality of two frames (same column order assumed);
    two anti-diffs instead of a hash so a mismatch is falsifiable in
    either direction."""
    return a.exceptAll(b).isEmpty() and b.exceptAll(a).isEmpty()
