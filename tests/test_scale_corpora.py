"""The scale probes' corpus syntheses keep the invariants SCALE.md reads
their numbers through.

Each synthesis is built at M=2 from sf0.001 by the probes' one copy writer
(``tools/scale_probe.py::write_copies``): copy j's ids sit in
``[j·OFFSET, (j+1)·OFFSET)``; the token rename keeps every within-copy
shingle-set Jaccard and shares no shingle across copies; the circular
rotation keeps every within-copy cosine, and copy 0 of the QR-rotated
corpus is the base verbatim; time-shifted copies occupy disjoint days; a
flood of N copies holds N identical texts.
"""

from __future__ import annotations

import itertools

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
import pytest

from dataframework_spark.catalog import table_path
from tools.scale_probe import (
    OFFSET,
    circular_rotate,
    flood,
    offset_keys,
    qr_rotate,
    rename_tokens,
    time_shift,
    write_copies,
)

SF = "/root/testdata/sf0.001"
M = 2


def _copies(tmp_path, table: str, copy, m: int = M):
    base = pq.read_table(table_path(SF, table))
    dst = str(tmp_path / f"{table}.parquet")
    write_copies(base, m, dst, copy)
    return base, pq.read_table(dst)


@pytest.mark.parametrize(
    ("table", "copy", "keys"),
    [
        ("documents", offset_keys("doc_id"), ["doc_id"]),
        ("documents", rename_tokens, ["doc_id"]),
        ("embeddings", qr_rotate, ["vec_id"]),
        ("embeddings", circular_rotate, ["vec_id"]),
        ("events", time_shift, ["event_id", "user_id"]),
    ],
    ids=["offset_keys", "rename_tokens", "qr_rotate", "circular_rotate", "time_shift"],
)
def test_copies_own_disjoint_id_ranges(tmp_path, table, copy, keys):
    base, out = _copies(tmp_path, table, copy)
    assert out.num_rows == M * base.num_rows
    n = base.num_rows
    for key in keys:
        ids = out.column(key).to_numpy()
        for j in range(M):
            part = ids[j * n : (j + 1) * n]
            assert (part // OFFSET == j).all()
            assert (part - j * OFFSET == base.column(key).to_numpy()).all()


def _shingles(text: str) -> set:
    toks = text.split()
    return set(zip(toks, toks[1:], toks[2:]))


def _jaccard(a: set, b: set) -> float:
    return len(a & b) / len(a | b) if a | b else 1.0


def test_token_rename_keeps_jaccard_and_shares_no_shingle(tmp_path):
    base, out = _copies(tmp_path, "documents", rename_tokens)
    n = base.num_rows
    texts = out.column("text").to_pylist()
    copies = [[_shingles(t) for t in texts[j * n : (j + 1) * n]] for j in range(M)]
    orig = [_shingles(t) for t in base.column("text").to_pylist()]
    assert not set().union(*copies[0]) & set().union(*copies[1])
    for j in range(M):
        for a, b in itertools.combinations(range(60), 2):
            assert _jaccard(copies[j][a], copies[j][b]) == _jaccard(orig[a], orig[b])
    assert out.column("n_chars").to_pylist() == [len(t) for t in texts]


def _unit(v: np.ndarray) -> np.ndarray:
    return v / np.linalg.norm(v, axis=1, keepdims=True)


def _vectors(t) -> np.ndarray:
    return np.asarray(t.column("embedding").to_pylist(), dtype=np.float64)


def test_circular_rotation_keeps_within_copy_cosines(tmp_path):
    # M=2 stays below d, so also check a sign-flipped copy (j >= d)
    base, out = _copies(tmp_path, "embeddings", circular_rotate, m=M)
    v0 = _vectors(base)
    n, d = v0.shape
    cos0 = _unit(v0) @ _unit(v0).T
    v = _vectors(out)
    flipped = _vectors(circular_rotate(base, d + 1))
    for vj in (v[:n], v[n:], flipped):
        np.testing.assert_allclose(_unit(vj) @ _unit(vj).T, cos0, atol=1e-5)
    assert not np.allclose(v[n:], v0)
    with pytest.raises(ValueError):
        circular_rotate(base, 2 * d)


def test_qr_rotation_copy0_is_the_base(tmp_path):
    base, out = _copies(tmp_path, "embeddings", qr_rotate)
    n = base.num_rows
    assert out.column("embedding").to_pylist()[:n] == base.column("embedding").to_pylist()
    assert not np.allclose(_vectors(out)[n:], _vectors(base))


def test_time_shift_copies_occupy_disjoint_days(tmp_path):
    base, out = _copies(tmp_path, "events", time_shift)
    n = base.num_rows
    days = pc.cast(pc.cast(out.column("ts"), "date32"), "int32").to_numpy()
    per_copy = [set(days[j * n : (j + 1) * n]) for j in range(M)]
    assert not per_copy[0] & per_copy[1]
    base_days = pc.cast(pc.cast(base.column("ts"), "date32"), "int32").to_numpy()
    assert (days[:n] == base_days).all()  # copy 0 unshifted


def test_flood_holds_n_identical_texts(tmp_path):
    page = "service unavailable please retry"
    template = pa.table({"doc_id": pa.array([1_000], pa.int64()), "text": [page]})
    dst = str(tmp_path / "flood.parquet")
    write_copies(template, 37, dst, flood)
    out = pq.read_table(dst)
    assert out.column("text").to_pylist() == [page] * 37
    assert out.column("doc_id").to_pylist() == list(range(1_000, 1_037))
    near = flood(pa.table({"doc_id": [5], "text": ["x {0} {1} {2}"]}), 3)
    assert near.column("text").to_pylist() == ["x 3 21 39"]
