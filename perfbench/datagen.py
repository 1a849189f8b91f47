"""Deterministic benchmark inputs.

``write_tables`` writes the ten catalog tables (TPC-H-style star schema,
an ``events`` stream, a ``documents`` corpus and an ``embeddings`` set) as
one parquet file each, in the layout ``dataframework_spark.catalog``
reads.  Value domains follow the engine's test data: the same flag and
segment vocabularies, date windows, 30-word document vocabulary with 5%
near-duplicate documents, and unit-norm 64-dim embeddings in 10 classes.

``write_mat_database`` writes a reference-layout MAT v5 database: a 1×C
cell ``x`` of ``dims × samples`` float64 class matrices and a 1×C cell
``r`` of 1-based permutation rows.  It is written here rather than with
the engine's own ``write_mat`` so the inputs do not depend on the reader
and writer under test.

Both are pure functions of their arguments, so one seed always yields
the same bytes.
"""

from __future__ import annotations

import os
import struct
import zlib

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

REGIONS = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
SEGMENTS = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
PART_TYPES = ["ECONOMY", "LARGE", "MEDIUM", "PROMO", "SMALL", "STANDARD"]
ADJECTIVES = ["small", "red", "blue", "hot", "green", "cold", "big", "old"]
NOUNS = ["ring", "widget", "bolt", "gear", "nut", "spring", "valve", "pipe"]
PRIORITIES = ["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"]
EVENT_TYPES = ["click", "error", "purchase", "signup", "view"]
LANGS = ["en", "de", "es", "fr", "zh"]
LANG_P = [0.41, 0.14, 0.15, 0.15, 0.15]
VOCAB = (
    "a agg batch big column customer data fast filter group hash join key line "
    "merge order part query row scan slow small sort spark stream table the "
    "value vector window"
).split()

# Rows per unit of scale factor; the engine's test data uses the same ratios.
ROWS_PER_SF = {
    "customer": 150_000,
    "supplier": 10_000,
    "part": 200_000,
    "orders": 1_500_000,
    "lineitem": 6_000_000,
    "events": 1_000_000,
    "documents": 50_000,
    "embeddings": 50_000,
}

_US_PER_DAY = 86_400 * 1_000_000


def _days(iso: str) -> int:
    return int(np.datetime64(iso, "D").astype(np.int64))


def _timestamps(rng: np.random.Generator, n: int, first: str, last: str) -> pa.Array:
    days = rng.integers(_days(first), _days(last) + 1, n).astype(np.int64)
    return pa.array(days * _US_PER_DAY, pa.timestamp("us"))


def _money(rng: np.random.Generator, n: int, lo: float, hi: float) -> np.ndarray:
    return np.round(rng.uniform(lo, hi, n), 2)


def _pick(rng: np.random.Generator, values: list[str], n: int, p=None) -> pa.Array:
    idx = rng.choice(len(values), n, p=p)
    return pa.DictionaryArray.from_arrays(pa.array(idx, pa.int32()), pa.array(values)).cast(
        pa.string()
    )


def _keyed_names(prefix: str, n: int) -> pa.Array:
    return pa.array([f"{prefix}#{i:09d}" for i in range(n)])


def _documents(rng: np.random.Generator, n: int) -> pa.Table:
    lengths = rng.integers(10, 101, n)
    words = np.array(VOCAB)[rng.integers(0, len(VOCAB), int(lengths.sum()))]
    bounds = np.concatenate([[0], np.cumsum(lengths)])
    texts = [" ".join(words[bounds[i] : bounds[i + 1]]) for i in range(n)]
    # 5% near-duplicates: a copy of another document with one marker token.
    n_dup = n // 20
    dup_at = rng.choice(n, n_dup, replace=False)
    for i in dup_at:
        src = int(rng.integers(0, n))
        if src != i:
            texts[i] = texts[src] + " dup"
    doc_id = np.arange(n, dtype=np.int64)
    return pa.table(
        {
            "doc_id": doc_id,
            "text": pa.array(texts),
            "lang": _pick(rng, LANGS, n, LANG_P),
            "source": pa.array([f"src{i % 20}" for i in range(n)]),
            "n_chars": np.array([len(t) for t in texts], dtype=np.int64),
        }
    )


def _embeddings(rng: np.random.Generator, n: int, dim: int = 64, classes: int = 10) -> pa.Table:
    label = rng.integers(0, classes, n).astype(np.int32)
    centers = rng.normal(0.0, 1.0, (classes, dim))
    vec = rng.normal(0.0, 1.0, (n, dim)) + 0.5 * centers[label]
    vec /= np.linalg.norm(vec, axis=1, keepdims=True)
    flat = pa.array(vec.astype(np.float32).ravel())
    return pa.table(
        {
            "vec_id": np.arange(n, dtype=np.int64),
            "embedding": pa.ListArray.from_arrays(
                pa.array(np.arange(0, n * dim + 1, dim, dtype=np.int32)), flat
            ),
            "label": label,
        }
    )


def _events(rng: np.random.Generator, n: int, users: int) -> pa.Table:
    start = _days("2024-01-01") * _US_PER_DAY
    span = 30 * _US_PER_DAY
    ts = np.sort(rng.integers(0, span, n)) + start
    return pa.table(
        {
            "event_id": np.arange(n, dtype=np.int64),
            "ts": pa.array(ts, pa.timestamp("us")),
            "user_id": rng.integers(0, users, n).astype(np.int64),
            "event_type": _pick(rng, EVENT_TYPES, n),
            "value": np.round(rng.exponential(50.0, n), 2),
            "props": pa.array([f'{{"k": {k}}}' for k in rng.integers(0, 100, n)]),
        }
    )


def build_tables(sf: float, seed: int) -> dict[str, pa.Table]:
    """All ten catalog tables at scale factor ``sf``."""
    rng = np.random.default_rng(seed)
    n = {t: max(1, int(round(r * sf))) for t, r in ROWS_PER_SF.items()}
    tables: dict[str, pa.Table] = {}
    tables["region"] = pa.table(
        {"r_regionkey": np.arange(5, dtype=np.int32), "r_name": pa.array(REGIONS)}
    )
    tables["nation"] = pa.table(
        {
            "n_nationkey": np.arange(25, dtype=np.int32),
            "n_name": pa.array([f"NATION_{i}" for i in range(25)]),
            "n_regionkey": (np.arange(25) % 5).astype(np.int32),
        }
    )
    nc, ns, npart, no, nl = (n[t] for t in ("customer", "supplier", "part", "orders", "lineitem"))
    tables["customer"] = pa.table(
        {
            "c_custkey": np.arange(nc, dtype=np.int64),
            "c_name": _keyed_names("Customer", nc),
            "c_nationkey": rng.integers(0, 25, nc).astype(np.int32),
            "c_acctbal": _money(rng, nc, -999.99, 9999.99),
            "c_mktsegment": _pick(rng, SEGMENTS, nc),
        }
    )
    tables["supplier"] = pa.table(
        {
            "s_suppkey": np.arange(ns, dtype=np.int64),
            "s_name": _keyed_names("Supplier", ns),
            "s_nationkey": rng.integers(0, 25, ns).astype(np.int32),
            "s_acctbal": _money(rng, ns, -999.99, 9999.99),
        }
    )
    names = [f"{a} {b}" for a in ADJECTIVES for b in NOUNS]
    tables["part"] = pa.table(
        {
            "p_partkey": np.arange(npart, dtype=np.int64),
            "p_name": _pick(rng, names, npart),
            "p_brand": pa.array([f"Brand#{b}" for b in rng.integers(1, 26, npart)]),
            "p_type": _pick(rng, PART_TYPES, npart),
            "p_size": rng.integers(1, 51, npart).astype(np.int32),
            "p_retailprice": np.round(900.0 + (np.arange(npart) % 1000) / 10.0, 2),
        }
    )
    tables["orders"] = pa.table(
        {
            "o_orderkey": np.arange(no, dtype=np.int64),
            "o_custkey": rng.integers(0, nc, no).astype(np.int64),
            "o_orderstatus": _pick(rng, ["F", "O", "P"], no),
            "o_totalprice": _money(rng, no, 1000.0, 500_000.0),
            "o_orderdate": _timestamps(rng, no, "1995-01-01", "2001-08-01"),
            "o_orderpriority": _pick(rng, PRIORITIES, no),
        }
    )
    tables["lineitem"] = pa.table(
        {
            "l_orderkey": rng.integers(0, no, nl).astype(np.int64),
            "l_partkey": rng.integers(0, npart, nl).astype(np.int64),
            "l_suppkey": rng.integers(0, ns, nl).astype(np.int64),
            "l_linenumber": rng.integers(1, 8, nl).astype(np.int32),
            "l_quantity": rng.integers(1, 51, nl).astype(np.float64),
            "l_extendedprice": _money(rng, nl, 900.0, 105_000.0),
            "l_discount": rng.integers(0, 11, nl) / 100.0,
            "l_tax": rng.integers(0, 9, nl) / 100.0,
            "l_returnflag": _pick(rng, ["A", "N", "R"], nl),
            "l_linestatus": _pick(rng, ["F", "O"], nl),
            "l_shipdate": _timestamps(rng, nl, "1995-01-02", "2001-11-04"),
        }
    )
    tables["events"] = _events(rng, n["events"], users=max(1, int(round(15_000 * sf))))
    tables["documents"] = _documents(rng, n["documents"])
    tables["embeddings"] = _embeddings(rng, n["embeddings"])
    return tables


def write_tables(out_dir: str, sf: float, seed: int) -> dict[str, int]:
    """Write every table to ``{out_dir}/{name}.parquet``; return row counts."""
    os.makedirs(out_dir, exist_ok=True)
    rows = {}
    for name, table in build_tables(sf, seed).items():
        pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
        rows[name] = table.num_rows
    return rows


def mat_arrays(
    seed: int, classes: int, samples: int, dims: int, replicates: int = 3
) -> tuple[list[np.ndarray], list[np.ndarray]]:
    """Per-class ``samples_c × dims`` feature blocks and 1-based permutation
    rows.  Class sizes spread evenly over ±20% around ``samples`` and do not
    depend on the seed, so every seed has the same row count."""
    rng = np.random.default_rng(seed)
    xs, rs = [], []
    for c in range(classes):
        n = int(round(samples * (0.8 + 0.4 * c / max(1, classes - 1))))
        center = rng.normal(0.0, 3.0, dims)
        xs.append(np.round(center + rng.normal(0.0, 1.0, (n, dims)), 4))
        rs.append(np.stack([rng.permutation(n) + 1 for _ in range(replicates)]).astype(np.float64))
    return xs, rs


# MAT v5 element and class codes (MathWorks "MAT-File Format", v5 section).
_MI_INT8, _MI_INT32, _MI_UINT32, _MI_DOUBLE, _MI_MATRIX, _MI_COMPRESSED = 1, 5, 6, 9, 14, 15
_MX_CELL, _MX_DOUBLE = 1, 6


def _mat_element(mtype: int, payload: bytes) -> bytes:
    pad = (-len(payload)) % 8
    return struct.pack("<II", mtype, len(payload)) + payload + b"\0" * pad


def _mat_matrix(name: str, value: np.ndarray) -> bytes:
    """One miMATRIX body: a double matrix, or a cell of double matrices."""
    is_cell = value.dtype == object
    body = (
        _mat_element(_MI_UINT32, struct.pack("<II", _MX_CELL if is_cell else _MX_DOUBLE, 0))
        + _mat_element(_MI_INT32, struct.pack(f"<{value.ndim}i", *value.shape))
        + _mat_element(_MI_INT8, name.encode("ascii"))
    )
    if is_cell:
        return body + b"".join(
            _mat_element(_MI_MATRIX, _mat_matrix("", c)) for c in value.reshape(-1, order="F")
        )
    return body + _mat_element(_MI_DOUBLE, value.astype("<f8").tobytes(order="F"))


def write_mat_database(path: str, xs: list[np.ndarray], rs: list[np.ndarray]) -> int:
    """Write ``xs``/``rs`` in the reference's MAT layout (features as rows,
    zlib-compressed variables as MATLAB's default ``-v7`` save does);
    return the file size in bytes."""
    header = b"MATLAB 5.0 MAT-file, benchmark input".ljust(116) + b"\0" * 8
    header += struct.pack("<HH", 0x0100, 0x4D49)
    parts = []
    for name, blocks in (("x", [x.T for x in xs]), ("r", rs)):
        cells = np.empty((1, len(blocks)), dtype=object)
        for i, block in enumerate(blocks):
            cells[0, i] = np.ascontiguousarray(block, dtype=np.float64)
        raw = _mat_element(_MI_MATRIX, _mat_matrix(name, cells))
        parts.append(_mat_element(_MI_COMPRESSED, zlib.compress(raw)))
    data = header + b"".join(parts)
    with open(path, "wb") as f:
        f.write(data)
    return len(data)
