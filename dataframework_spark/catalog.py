"""Catalog: named parquet tables → DataFrames / temp views.

Reference counterpart: ``LoadFeatureFromMatFile`` eagerly loads whole
``.mat`` files into RAM and *then* selects variables
(``/root/reference/DFW/tools.py:58-79``, ``preprocess.py:390-407``).  Here a
"database" is a lazy DataFrame over columnar parquet: column pruning and
predicate pushdown happen *at the scan* (Catalyst pushes ``select``/
``filter`` into the parquet reader), which is the behavior that survives
100 TB — we never materialize a table to apply a projection.

Nothing is materialized to *plan* a query either: :func:`read_parquet`
resolves a path's schema (one Spark job over the parquet footers) once
per session and reads with it thereafter, so building a query over
already-seen tables launches no job.
"""

from __future__ import annotations

import os

from py4j.java_gateway import JavaClass
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

# Tables small enough to broadcast in joins at any scale factor (region and
# nation are constant-size; the others scale but stay dimension-like).
BROADCAST_TABLES = ("region", "nation")

DEFAULT_SF_DIR = "/root/testdata/sf0.001"


def table_path(sf_dir: str, name: str) -> str:
    return os.path.join(sf_dir, f"{name}.parquet")


# Session confs that change the types Spark infers from a parquet footer.
_SCHEMA_CONFS = (
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.legacy.parquet.nanosAsLong",
)


def _fingerprint(spark: SparkSession, path: str) -> tuple | None:
    """What the schema inferred for ``path`` depends on: the path's
    modification time, every part file's name, size and modification time,
    and the type-shaping confs; None when the path does not exist.  The
    listing is driver-side through Hadoop ``FileSystem`` (as Spark's
    ``InMemoryFileIndex`` lists), so any URI Spark can read is keyed alike.
    """
    sc = spark.sparkContext
    # JavaClass by full name: one gateway round trip, where walking the
    # JVM view's packages costs one per name segment.
    hpath = JavaClass("org.apache.hadoop.fs.Path", sc._gateway._gateway_client)(path)
    fs = hpath.getFileSystem(sc._jsc.hadoopConfiguration())
    if not fs.exists(hpath):
        return None
    root = fs.getFileStatus(hpath)
    stats = [root]
    if root.isDirectory():
        stats, files = [], fs.listFiles(hpath, True)
        while files.hasNext():
            stats.append(files.next())
    parts = tuple(
        (st.getPath().toString(), st.getLen(), st.getModificationTime()) for st in stats
    )
    confs = tuple(spark.conf.get(k) for k in _SCHEMA_CONFS)
    return root.getModificationTime(), parts, confs


def parquet_schema(spark: SparkSession, path: str) -> StructType:
    """The schema Spark infers for the parquet at ``path``, inferred once
    per session and fingerprint (see :func:`_fingerprint`).

    The cache lives on the session object, so a new or restarted session
    infers again.  A path the listing does not find (missing, or a glob) is
    left to Spark's reader uncached: it expands a glob, and raises its own
    ``AnalysisException`` (PATH_NOT_FOUND) for a missing path.
    """
    key = _fingerprint(spark, path)
    if key is None:
        return spark.read.parquet(path).schema
    schemas = spark.__dict__.setdefault("_dfx_parquet_schemas", {})
    if schemas.get(path, (None,))[0] != key:
        schemas[path] = (key, spark.read.parquet(path).schema)
    return schemas[path][1]


def read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """Lazy parquet scan that launches no job once ``path``'s schema is
    known to this session."""
    return spark.read.schema(parquet_schema(spark, path)).parquet(path)


def load_table(
    spark: SparkSession,
    sf_dir: str,
    name: str,
    columns: list[str] | None = None,
) -> DataFrame:
    """Lazy scan of one table; optional projection is pushed to the reader.

    Mirrors the reference's ``loadmat(filename, domain)`` variable selection
    (``tools.py:72-79``) but with true scan-time pruning instead of
    load-then-drop.
    """
    if name == "events":
        df = _load_events(spark, table_path(sf_dir, name))
    else:
        df = read_parquet(spark, table_path(sf_dir, name))
    if columns:
        df = df.select(*columns)
    return df


def _load_events(spark: SparkSession, path: str) -> DataFrame:
    """Load the events table, normalizing ``ts`` to TIMESTAMP.

    The driver has shipped ``ts`` both as parquet TIMESTAMP(NANOS) (which
    Spark's vectorized reader only accepts as raw int64 via the legacy
    conf) and as TIMESTAMP(MICROS) (read as TIMESTAMP_NTZ).  Branch on
    the dtype Spark actually reads rather than assuming either encoding,
    so a testdata regeneration flips a branch instead of breaking every
    event-time query.  The engine guarantee is plain TIMESTAMP: NTZ is
    rejected by ``withWatermark`` / ``unix_micros``, and with the session
    timezone pinned to UTC (``session.py``) the NTZ → TIMESTAMP cast
    preserves wall-clock values exactly.  The nanos path truncates
    ns → µs with integer div (nanos exceed double precision), matching
    DuckDB's coercion.
    """
    from pyspark.sql import functions as F
    from pyspark.sql.types import LongType, TimestampNTZType

    # Harmless for micros files; required to even read nanos files.
    spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
    df = read_parquet(spark, path)
    ts_type = df.schema["ts"].dataType
    if isinstance(ts_type, LongType):
        df = df.withColumn("ts", F.timestamp_micros(F.expr("ts div 1000")))
    elif isinstance(ts_type, TimestampNTZType):
        df = df.withColumn("ts", F.col("ts").cast("timestamp"))
    return df


def load_tables(spark: SparkSession, sf_dir: str) -> dict[str, DataFrame]:
    return {name: load_table(spark, sf_dir, name) for name in TABLES}


def register_views(spark: SparkSession, sf_dir: str) -> None:
    """Register every table as a temp view (the engine's ``spark.sql`` face)."""
    for name in TABLES:
        load_table(spark, sf_dir, name).createOrReplaceTempView(name)
