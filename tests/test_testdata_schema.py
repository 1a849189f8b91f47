"""Testdata schema-drift canary.

The driver regenerates ``/root/testdata`` between rounds and has already
changed an encoding once (``events.ts``: TIMESTAMP(NANOS) in r1/r2 data →
TIMESTAMP(MICROS) in r3 data), which silently broke 49 downstream tests.
This module pins (a) the raw parquet footer types we *accept* per table
and (b) the normalized Spark-side dtypes the engine *guarantees* after
``load_table``.  A future regeneration now fails one named test here
instead of a pile of unrelated ones.

Uses pyarrow footers (no Spark session needed for the raw check) so the
canary is cheap and runs first in any session.
"""

from __future__ import annotations

import datetime
import glob
import os

import pyarrow.parquet as pq
import pytest

from dataframework_spark.catalog import TABLES, load_table, table_path

SF_DIRS = sorted(glob.glob("/root/testdata/sf*"))

# Raw parquet footer types.  Where the driver has shipped more than one
# encoding across rounds, every accepted variant is listed — the engine
# normalizes all of them (see catalog._load_events).
EXPECTED_RAW = {
    "region": {"r_regionkey": {"int32"}, "r_name": {"string", "large_string"}},
    "nation": {"n_nationkey": {"int32"}, "n_regionkey": {"int32"}},
    "customer": {"c_custkey": {"int64"}, "c_acctbal": {"double"}},
    "supplier": {"s_suppkey": {"int64"}, "s_acctbal": {"double"}},
    "part": {"p_partkey": {"int64"}, "p_size": {"int32"}, "p_retailprice": {"double"}},
    # Accepted sets list ONLY encodings the engine has actually been
    # verified against (r1-r3 shipped timestamp[us] here; a driver using
    # vanilla sessions could never have shipped ns, which needs a conf).
    # A new encoding must fail here loudly, get loader support + tests,
    # and only then be added.
    "orders": {
        "o_orderkey": {"int64"},
        "o_totalprice": {"double"},
        "o_orderdate": {"timestamp[us]"},
    },
    "lineitem": {
        "l_orderkey": {"int64"},
        "l_quantity": {"double"},
        "l_extendedprice": {"double"},
        "l_discount": {"double"},
        "l_shipdate": {"timestamp[us]"},
    },
    "events": {
        "event_id": {"int64"},
        # both encodings the driver has shipped; the loader branches on this
        "ts": {"timestamp[us]", "timestamp[ns]", "int64"},
        "user_id": {"int64"},
        "value": {"double"},
        "props": {"string", "large_string"},
    },
    "documents": {
        "doc_id": {"int64"},
        "text": {"string", "large_string"},
        "n_chars": {"int64"},
    },
    "embeddings": {
        "vec_id": {"int64"},
        "embedding": {"list<element: float>", "list<item: float>"},
        "label": {"int32"},
    },
}

# Spark-side dtype guarantees after load_table (simpleString form).
EXPECTED_NORMALIZED = {
    "events": {"ts": "timestamp"},  # normalized whatever the raw encoding
}


@pytest.mark.parametrize("sf_dir", SF_DIRS)
@pytest.mark.parametrize("table", TABLES)
def test_raw_parquet_schema(sf_dir, table):
    path = table_path(sf_dir, table)
    if not os.path.exists(path):
        pytest.skip(f"{path} absent")
    schema = pq.read_schema(path)
    fields = {f.name: str(f.type) for f in schema}
    for col, accepted in EXPECTED_RAW.get(table, {}).items():
        assert col in fields, (
            f"testdata drift: {table}.{col} missing from {path} "
            f"(have {sorted(fields)})"
        )
        assert fields[col] in accepted, (
            f"testdata drift: {table}.{col} is {fields[col]!r}, engine "
            f"accepts {sorted(accepted)} — update the loader AND this canary"
        )


def test_events_ts_normalized_to_timestamp(spark, sf_dir):
    """Whatever raw encoding ships, load_table must yield plain TIMESTAMP.

    TIMESTAMP_NTZ is not enough: ``withWatermark`` and ``unix_micros``
    reject it (r3: 9 stream/interval tests failed on NTZ passthrough).
    """
    df = load_table(spark, sf_dir, "events")
    dtype = df.schema["ts"].dataType.simpleString()
    assert dtype == "timestamp", (
        f"events.ts normalized to {dtype!r}; event-time operators require "
        "plain TIMESTAMP (watermarks reject NTZ)"
    )
    # and it must actually be scannable (the r2 failure mode was an
    # AnalysisException at first action, not at load)
    assert df.limit(1).count() in (0, 1)


def test_events_loader_handles_every_known_encoding(spark, tmp_path):
    """The loader's dtype branches must ALL stay alive: the driver has
    flipped events.ts encoding once already (ns in r1/r2 → µs in r3), so
    each branch is exercised against synthesized parquet — whichever
    encoding the real testdata currently uses, the others are one
    regeneration away from coming back.
    """
    import pyarrow as pa

    from dataframework_spark.catalog import _load_events

    base = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    micros = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    cases = {
        "ns": pa.table(
            {"event_id": pa.array([1], pa.int64()),
             "ts": pa.array([micros * 1000], pa.timestamp("ns"))}
        ),
        "us_ntz": pa.table(
            {"event_id": pa.array([1], pa.int64()),
             "ts": pa.array([micros], pa.timestamp("us"))}
        ),
        "us_utc": pa.table(
            {"event_id": pa.array([1], pa.int64()),
             "ts": pa.array([micros], pa.timestamp("us", tz="UTC"))}
        ),
    }
    for label, table in cases.items():
        path = str(tmp_path / f"events_{label}.parquet")
        pq.write_table(table, path)
        df = _load_events(spark, path)
        assert df.schema["ts"].dataType.simpleString() == "timestamp", (
            label,
            df.schema["ts"].dataType,
        )
        row = df.collect()[0]
        assert row["ts"] == base, (label, row["ts"], base)


def test_events_loader_follows_rewrite_in_same_session(spark, tmp_path):
    """The session's cached schema is keyed on the file listing: rewriting
    one path from ns to µs ``ts`` must re-resolve, not reuse the int64
    schema of the ns file."""
    import pyarrow as pa

    from dataframework_spark.catalog import _load_events

    base = datetime.datetime(2024, 1, 2, 3, 4, 5, 678901)
    micros = int(base.replace(tzinfo=datetime.timezone.utc).timestamp() * 1_000_000)
    path = str(tmp_path / "events.parquet")
    for unit, scale in (("ns", 1000), ("us", 1)):
        pq.write_table(
            pa.table(
                {"event_id": pa.array([1], pa.int64()),
                 "ts": pa.array([micros * scale], pa.timestamp(unit))}
            ),
            path,
        )
        df = _load_events(spark, path)
        assert df.schema["ts"].dataType.simpleString() == "timestamp", unit
        assert df.collect()[0]["ts"] == base, unit


def test_schema_follows_binary_as_string(spark, tmp_path):
    """Type-shaping confs are part of the cache key: flipping
    ``binaryAsString`` between two reads of one file changes the schema."""
    import pyarrow as pa

    from dataframework_spark.catalog import parquet_schema

    path = str(tmp_path / "blob.parquet")
    pq.write_table(pa.table({"b": pa.array([b"x"], pa.binary())}), path)
    conf = "spark.sql.parquet.binaryAsString"
    before = spark.conf.get(conf)
    try:
        spark.conf.set(conf, "false")
        as_binary = parquet_schema(spark, path)
        spark.conf.set(conf, "true")
        as_string = parquet_schema(spark, path)
    finally:
        spark.conf.set(conf, before)
    assert as_binary["b"].dataType.simpleString() == "binary"
    assert as_string["b"].dataType.simpleString() == "string"


def _read_jobs(session, path, group):
    from dataframework_spark.catalog import read_parquet

    sc = session.sparkContext
    sc.setJobGroup(group, "schema resolution probe")
    try:
        read_parquet(session, path)
        return list(sc.statusTracker().getJobIdsForGroup(group))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)


def test_schema_resolved_once_per_session(spark, sf_dir):
    """A warm path reads with 0 jobs; a new session resolves it again, even
    with the same type-shaping confs."""
    from dataframework_spark.catalog import _SCHEMA_CONFS, read_parquet

    path = table_path(sf_dir, "orders")
    read_parquet(spark, path)
    assert _read_jobs(spark, path, "dfx-schema-warm") == []
    fresh = spark.newSession()
    for conf in _SCHEMA_CONFS:
        fresh.conf.set(conf, spark.conf.get(conf))
    assert _read_jobs(fresh, path, "dfx-schema-new-session")


def test_missing_path_raises_spark_path_not_found(spark, tmp_path):
    from pyspark.errors import AnalysisException

    with pytest.raises(AnalysisException) as err:
        load_table(spark, str(tmp_path), "orders")
    assert err.value.getCondition() == "PATH_NOT_FOUND"
