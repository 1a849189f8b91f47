"""MAT-file (v5) ingestion: the reference's literal input format.

The reference loads MATLAB ``.mat`` files via ``scipy.io.loadmat``
(``/root/reference/DFW/tools.py:58-79``) and expects each database variable
to be a 1×C cell array of per-class matrices: ``data[group][0][i]`` is class
``i``'s ``features × samples`` matrix, and a parallel ``group_rand`` cell
holds 1-based permutation indices (``preprocess.py:390-426``).

This engine is parquet-primary (SURVEY.md §1.4): ``.mat`` is a single-file,
single-machine format, so the scale story is **convert once → parquet →
every query scans parquet**.  This module supplies that converter without
scipy (not installed here): a pure-numpy reader/writer for the MAT v5
container, covering the subset the reference uses — numeric matrices and
cell arrays of numeric matrices, plus zlib-compressed elements, which is
what MATLAB and ``scipy.io.savemat(..., do_compression=True)`` emit.

The v5 layout implemented here is from the public "MAT-File Format"
specification: a 128-byte header, then tagged data elements
(``uint32 type, uint32 nbytes`` + 8-byte-aligned payload, with the 4-byte
"small data element" packing), ``miMATRIX`` elements holding array flags /
dimensions / name subelements, ``miCOMPRESSED`` wrapping a zlib stream.

Reference-behavior parity (``preprocess.py:409-426`` ``_adapt_range``):

* ``domain`` selection = pick named variables (``tools.py:71-78``);
* ``range=[lo, hi]`` = 1-based inclusive cell (class) slice, ``-1`` ⇒ all;
* ``labeled=True`` strips the trailing label row from each class matrix —
  the *intended* semantics (the reference's ternary at
  ``preprocess.py:422`` strips in both branches; SURVEY.md §2.2 P3
  documents keeping the intent, not the quirk);
* permutation cells whose 1-based max equals their length are normalized
  to 0-based (``preprocess.py:423-424``).
"""

from __future__ import annotations

import io
import os
import struct
import tempfile
import zlib
from typing import Any

import numpy as np
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from dataframework_spark.registry import register

# --- MAT v5 constants (public MAT-File Format spec, Level 5) ---------------

MI_INT8, MI_UINT8, MI_INT16, MI_UINT16 = 1, 2, 3, 4
MI_INT32, MI_UINT32, MI_SINGLE, MI_DOUBLE = 5, 6, 7, 9
MI_INT64, MI_UINT64, MI_MATRIX, MI_COMPRESSED, MI_UTF8 = 12, 13, 14, 15, 16

MX_CELL, MX_STRUCT, MX_OBJECT, MX_CHAR = 1, 2, 3, 4
MX_DOUBLE, MX_SINGLE = 6, 7
MX_INT8, MX_UINT8, MX_INT16, MX_UINT16, MX_INT32, MX_UINT32 = 8, 9, 10, 11, 12, 13

_MI_DTYPE = {
    MI_INT8: np.int8,
    MI_UINT8: np.uint8,
    MI_INT16: np.int16,
    MI_UINT16: np.uint16,
    MI_INT32: np.int32,
    MI_UINT32: np.uint32,
    MI_SINGLE: np.float32,
    MI_DOUBLE: np.float64,
    MI_INT64: np.int64,
    MI_UINT64: np.uint64,
}

_MX_DTYPE = {
    MX_DOUBLE: np.float64,
    MX_SINGLE: np.float32,
    MX_INT8: np.int8,
    MX_UINT8: np.uint8,
    MX_INT16: np.int16,
    MX_UINT16: np.uint16,
    MX_INT32: np.int32,
    MX_UINT32: np.uint32,
}


# --- reader -----------------------------------------------------------------


def _read_tag(buf: io.BytesIO) -> tuple[int, int, bytes | None]:
    """Read one element tag; returns (type, nbytes, small_payload|None)."""
    raw = buf.read(8)
    if len(raw) < 8:
        raise EOFError
    word0, word1 = struct.unpack("<II", raw)
    if word0 >> 16:  # small data element: nbytes in high 16 bits of word0
        mtype, nbytes = word0 & 0xFFFF, word0 >> 16
        return mtype, nbytes, raw[4 : 4 + nbytes]
    return word0, word1, None


def _read_element(buf: io.BytesIO) -> tuple[int, bytes]:
    mtype, nbytes, small = _read_tag(buf)
    if small is not None:
        return mtype, small
    data = buf.read(nbytes)
    pad = (-nbytes) % 8
    if pad:
        buf.read(pad)
    return mtype, data


def _numeric(mtype: int, data: bytes) -> np.ndarray:
    return np.frombuffer(data, dtype=np.dtype(_MI_DTYPE[mtype]).newbyteorder("<"))


def _parse_matrix(data: bytes) -> tuple[str, Any]:
    """Parse one miMATRIX payload → (name, value).

    Numeric → float/int ndarray (column-major dims honored); char → str;
    cell → object ndarray of parsed values (scipy-compatible shape).
    """
    buf = io.BytesIO(data)
    ftype, fdata = _read_element(buf)
    flags = _numeric(MI_UINT32, fdata)
    mx_class = int(flags[0]) & 0xFF
    dtag, ddata = _read_element(buf)
    dims = tuple(int(d) for d in _numeric(MI_INT32, ddata))
    _, ndata = _read_element(buf)
    name = ndata.decode("ascii")

    if mx_class == MX_CELL:
        n = int(np.prod(dims)) if dims else 0
        cells = np.empty(n, dtype=object)
        for i in range(n):
            mtype, mdata = _read_element(buf)
            if mtype != MI_MATRIX:
                raise ValueError(f"cell {i}: expected miMATRIX, got {mtype}")
            _, cells[i] = _parse_matrix(mdata)
        return name, cells.reshape(dims, order="F")
    if mx_class == MX_CHAR:
        mtype, mdata = _read_element(buf)
        if mtype == MI_UTF8:
            return name, mdata.decode("utf-8")
        return name, _numeric(mtype, mdata).astype(np.uint32).view()
    if mx_class in _MX_DTYPE:
        mtype, mdata = _read_element(buf)
        arr = _numeric(mtype, mdata).astype(_MX_DTYPE[mx_class])
        return name, arr.reshape(dims, order="F")
    raise ValueError(
        f"unsupported MATLAB array class {mx_class} for variable {name!r} "
        "(this converter covers the numeric/cell/char subset the reference uses)"
    )


def read_mat(path: str, domain: list[str] | None = None) -> dict[str, Any] | None:
    """Load a MAT v5 file → ``{variable: ndarray}``.

    Mirrors the reference's ``loadmat`` contract (``tools.py:58-79``):
    missing file → ``None``; ``domain`` selects variables (``None``/empty →
    all).  Unlike the reference (which ``KeyError``s), unknown domain names
    raise a clear ``KeyError`` naming the file.
    """
    if not os.path.exists(path):
        return None
    out: dict[str, Any] = {}
    with open(path, "rb") as f:
        header = f.read(128)
        if len(header) < 128:
            raise ValueError(f"{path}: truncated MAT header")
        version, endian = struct.unpack("<HH", header[124:128])
        if endian != 0x4D49:  # 'IM' little-endian
            raise ValueError(f"{path}: big-endian MAT files not supported")
        body = f.read()
    buf = io.BytesIO(body)
    while True:
        try:
            mtype, data = _read_element(buf)
        except EOFError:
            break
        if mtype == MI_COMPRESSED:
            inner = io.BytesIO(zlib.decompress(data))
            mtype, data = _read_element(inner)
        if mtype != MI_MATRIX:
            continue  # skip subsystem / unknown top-level elements
        name, value = _parse_matrix(data)
        out[name] = value
    if domain is None or len(domain) == 0:
        return out
    missing = [k for k in domain if k not in out]
    if missing:
        raise KeyError(f"{path}: variables {missing} not found (has {sorted(out)})")
    return {k: out[k] for k in domain}


# --- writer (fixtures / round-trips; numeric + cell subset) -----------------


def _element(mtype: int, payload: bytes) -> bytes:
    if len(payload) <= 4:
        return struct.pack("<HH", mtype, len(payload)) + payload.ljust(4, b"\0")
    pad = (-len(payload)) % 8
    return struct.pack("<II", mtype, len(payload)) + payload + b"\0" * pad


def _matrix_bytes(name: str, value: Any) -> bytes:
    if isinstance(value, np.ndarray) and value.dtype == object:
        dims = value.shape if value.ndim >= 2 else (1, value.size)
        sub = b"".join(
            _element(MI_MATRIX, _matrix_bytes("", c))
            for c in value.reshape(-1, order="F")
        )
        body = (
            _element(MI_UINT32, struct.pack("<II", MX_CELL, 0))
            + _element(MI_INT32, struct.pack(f"<{len(dims)}i", *dims))
            + _element(MI_INT8, name.encode("ascii"))
            + sub
        )
        return body
    arr = np.asarray(value, dtype=np.float64)
    if arr.ndim < 2:
        arr = arr.reshape(1, -1)
    dims = arr.shape
    body = (
        _element(MI_UINT32, struct.pack("<II", MX_DOUBLE, 0))
        + _element(MI_INT32, struct.pack(f"<{len(dims)}i", *dims))
        + _element(MI_INT8, name.encode("ascii"))
        + _element(MI_DOUBLE, arr.flatten(order="F").tobytes())
    )
    return body


def write_mat(path: str, variables: dict[str, Any], compress: bool = True) -> None:
    """Write a MAT v5 file (float64 matrices + object-array cells).

    Exists so fixture round-trips need no scipy; the byte layout follows
    the public v5 spec, and ``read_mat`` (plus scipy, where available)
    reads the output.
    """
    desc = b"MATLAB 5.0 MAT-file, created by dataframework_spark"
    header = desc.ljust(116) + b"\0" * 8 + struct.pack("<HH", 0x0100, 0x4D49)
    parts = []
    for name, value in variables.items():
        elem = _element(MI_MATRIX, _matrix_bytes(name, value))
        if compress:
            parts.append(_element(MI_COMPRESSED, zlib.compress(elem)))
        else:
            parts.append(elem)
    with open(path, "wb") as f:
        f.write(header + b"".join(parts))


# --- reference-semantics converter → long-format DataFrame ------------------


def adapt_range(
    data: dict[str, Any],
    group: str,
    group_rand: str,
    drange: tuple[int, int] | list[int] | None = None,
    labeled: bool = False,
) -> dict[str, np.ndarray]:
    """Reference ``_adapt_range`` (``preprocess.py:414-426``), intended
    semantics: 1-based inclusive class slice (``-1`` ⇒ all), transpose each
    class matrix to samples-major, strip the trailing label row only when
    ``labeled`` (the reference quirk strips always — documented divergence),
    normalize 1-based permutations to 0-based."""
    x_cells = np.asarray(data[group]).reshape(-1, order="F")
    r_cells = np.asarray(data[group_rand]).reshape(-1, order="F")
    if drange is not None and drange[0] != -1:
        sel = slice(drange[0] - 1, drange[1])
        x_cells, r_cells = x_cells[sel], r_cells[sel]
    xs, rs = [], []
    for x, r in zip(x_cells, r_cells):
        x = np.asarray(x, dtype=np.float64)
        xs.append((x[:-1] if labeled else x).T)
        r = np.asarray(r, dtype=np.float64)
        row0 = r[0, :] if r.ndim == 2 else r
        if row0.size and row0.max() == row0.shape[-1]:
            r = r - 1
        rs.append(r.astype(np.int64))
    return {"x": xs, "r": rs}


def mat_to_long_df(
    spark: SparkSession,
    path: str,
    group: str = "x",
    group_rand: str = "r",
    drange: tuple[int, int] | list[int] | None = None,
    labeled: bool = False,
) -> DataFrame:
    """Convert one reference-layout ``.mat`` database to the engine's long
    format: one row per sample — ``(label, sample_id, features
    array<double>, perm_order)`` — ready to write to parquet and feed every
    registered operator.

    This is deliberately a driver-side, convert-ONCE utility (a ``.mat``
    file is one blob; there is nothing to distribute until it becomes
    parquet).  ``perm_order`` carries the file's stored permutation for
    replicate ``no`` = row index of ``r``; the engine's seeded-hash
    permutation (SURVEY §2.2 P4) replaces stored perms for new data.
    """
    data = read_mat(path, [group, group_rand])
    if data is None:
        raise FileNotFoundError(f"could not find MAT file [{path}]")
    adapted = adapt_range(data, group, group_rand, drange, labeled)
    rows = []
    for label, (x, r) in enumerate(zip(adapted["x"], adapted["r"])):
        order = r[0] if r.ndim == 2 else r
        pos = {int(sample): int(rank) for rank, sample in enumerate(order)}
        for sid in range(x.shape[0]):
            rows.append((label, sid, [float(v) for v in x[sid]], pos.get(sid, -1)))
    return spark.createDataFrame(
        rows, "label INT, sample_id INT, features ARRAY<DOUBLE>, perm_order INT"
    )


@register(
    "source_mat_roundtrip",
    eager=True,
    # the oracle recomputes the same per-label stats straight from parquet:
    # if the MAT container round-trip is byte-faithful, the hashes agree
    oracle="""
    WITH sel AS (
      SELECT label, CAST(embedding[1] AS DOUBLE) AS e0
      FROM (SELECT label, embedding,
                   ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
            FROM embeddings)
      WHERE rn <= 60
    )
    SELECT label, COUNT(*) AS n, ROUND(SUM(e0), 4) AS sum_x0
    FROM sel GROUP BY label
    """,
)
def source_mat_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end ``.mat`` ingestion proof (reference ``tools.py:58-79``):
    take a BOUNDED 60-row slice of ``embeddings``, lay it out exactly like
    a reference database file (1×C cells of ``(features+label-row) ×
    samples`` plus 1-based permutation cells), write a real MAT v5 file,
    read it back through ``mat_to_long_df`` (labeled strip + perm
    normalization), and aggregate per label.

    The driver-side collect is a fixed 60 rows — the converter is a
    convert-once utility by design (a ``.mat`` file is one undistributable
    blob; parquet is the scan format)."""
    from dataframework_spark.catalog import load_table

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(60)
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("e"))
        .collect()  # bounded: limit(60) convert-once fixture above
    )
    labels = sorted({r.label for r in rows})
    x_cells = np.empty((1, len(labels)), dtype=object)
    r_cells = np.empty((1, len(labels)), dtype=object)
    for i, lab in enumerate(labels):
        cols = [r.e for r in rows if r.label == lab]
        m = np.empty((len(cols[0]) + 1, len(cols)), dtype=np.float64)
        m[:-1, :] = np.array(cols, dtype=np.float64).T
        m[-1, :] = lab  # trailing label row, stripped by labeled=True
        x_cells[0, i] = m
        r_cells[0, i] = np.arange(1, len(cols) + 1, dtype=np.float64).reshape(1, -1)
    path = os.path.join(tempfile.gettempdir(), "dfw_source_mat_roundtrip.mat")
    write_mat(path, {"x": x_cells, "r": r_cells})
    long_df = mat_to_long_df(spark, path, labeled=True)
    label_arr = F.array(*[F.lit(l) for l in labels])
    return (
        long_df.withColumn("label", F.element_at(label_arr, F.col("label") + 1))
        .groupBy("label")
        .agg(
            F.count("*").alias("n"),
            F.round(F.sum(F.element_at("features", 1)), 4).alias("sum_x0"),
        )
    )


# ---------------------------------------------------------------------------
# MAT v7.3: the HDF5-layout container (r11 VERDICT #6 — S2 settled)
# ---------------------------------------------------------------------------
#
# MATLAB saves ``-v7.3`` for > 2 GB variables (and it is the only MAT
# format that supports them): a 512-byte MAT userblock followed by an
# HDF5 file, one dataset per variable, stored TRANSPOSED (MATLAB is
# column-major; the HDF5 dataset carries the reversed dims in C order)
# with a ``MATLAB_class`` string attribute.  The reference itself
# short-circuits h5py (``/root/reference/DFW/tools.py:62-69``), so parity
# never needs this — but unlike mp3 (whose synthesis windows are 512
# underivable tabulated constants — externals-only, FINAL), every HDF5
# structure here derives from the public HDF5 File Format Specification:
# superblock v0, v1 symbol-table B-tree + local heap + SNOD, v1 object
# headers (dataspace/datatype/layout/attribute messages), contiguous raw
# layout.  By the repo's own mp3/FLAC test, that makes S2 IMPLEMENTABLE,
# so it is implemented: writer and reader are independent subset
# implementations, differential-tested like every codec in the tier.
#
# Subset boundaries (rejected with clear errors, never guessed):
# float64 contiguous datasets only (MATLAB's default numeric class);
# no chunked/compressed layout, no B-tree depth > 0 (needs > 8 variables
# per node), no object-header continuations, v0 superblock only.

_H5_SIG = b"\x89HDF\r\n\x1a\n"
_H5_UNDEF = 0xFFFFFFFFFFFFFFFF
_H5_USERBLOCK = 512  # the MAT header lives in the HDF5 userblock


def _h5_msg(mtype: int, body: bytes) -> bytes:
    pad = (-len(body)) % 8
    body += b"\0" * pad
    return struct.pack("<HH B 3x", mtype, len(body), 0) + body


def _h5_f64_datatype() -> bytes:
    # class 1 (float) v1, little-endian, IEEE binary64: implied-msb
    # mantissa normalization (bits 4-5 = 10b), sign bit 63
    return struct.pack(
        "<BBBBI HH BBBB I",
        0x11, 0x20, 0x3F, 0x00, 8,   # class/ver, bitfields, size
        0, 64,                        # bit offset, precision
        52, 11, 0, 52,                # exp loc/size, mant loc/size
        1023,                         # exponent bias
    )


def _h5_scalar_dataspace() -> bytes:
    return struct.pack("<BBB5x", 1, 0, 0)


def write_mat73(path: str, variables: dict[str, Any]) -> None:
    """Write a MAT v7.3 file: 512-byte MAT userblock + HDF5 (superblock
    v0, root group via v1 B-tree/heap/SNOD, one contiguous float64
    dataset per variable with the transposed-dims convention and a
    ``MATLAB_class = 'double'`` attribute)."""
    names = sorted(variables)  # SNOD entries must be name-ordered
    arrays = {}
    for name in names:
        arr = np.asarray(variables[name], dtype=np.float64)
        if arr.ndim < 2:
            arr = arr.reshape(1, -1)
        arrays[name] = arr
    # a symbol node holds 2K = 8 entries (leaf K = 4); more variables
    # split across multiple SNOD leaves under the one level-0 B-tree node,
    # which itself holds up to 2·K_internal = 32 children
    groups = [names[i : i + 8] for i in range(0, len(names), 8)]
    if len(groups) > 32:
        raise ValueError("subset writer: at most 256 variables (32 SNOD leaves)")

    chunks: list[bytes] = []
    cursor = 0  # address space is RELATIVE to the base address (512)

    def put(b: bytes) -> int:
        nonlocal cursor
        at = cursor
        chunks.append(b)
        cursor += len(b)
        return at

    # --- placeholders laid out first so their addresses are known -----
    sb_at = put(b"\0" * 96)                    # superblock v0 (patched below)
    root_oh_at = put(b"\0" * 40)               # root object header (patched)
    # local heap: 8-byte empty-string slot + padded names
    heap_offsets, heap_data = {}, bytearray(b"\0" * 8)
    for name in names:
        heap_offsets[name] = len(heap_data)
        nb = name.encode("ascii") + b"\0"
        heap_data += nb + b"\0" * ((-len(nb)) % 8)
    heap_hdr_at = put(b"\0" * 32)              # heap header (patched)
    heap_data_at = put(bytes(heap_data))
    # v1 node sized for 2·K_internal = 32 children (patched below)
    btree_at = put(b"\0" * (24 + 8 + 16 * 32))
    snod_ats = [put(b"\0" * (8 + 40 * 8)) for _ in groups]  # (patched)

    # --- per-variable dataset object headers + raw data ---------------
    oh_addrs: dict[str, int] = {}
    for name in names:
        arr = arrays[name]
        hdims = tuple(reversed(arr.shape))  # MATLAB transposed convention
        raw = arr.flatten(order="F").tobytes()  # == C order of the transpose
        space = struct.pack("<BBB5x", 1, len(hdims), 0) + b"".join(
            struct.pack("<Q", d) for d in hdims
        )
        attr_name = b"MATLAB_class\0"
        attr_name += b"\0" * ((-len(attr_name)) % 8)
        attr_dt = struct.pack("<BBBBI", 0x13, 0, 0, 0, 6)  # string(6), nullterm
        attr_body = (
            struct.pack("<BxHHH", 1, 13, len(attr_dt), len(_h5_scalar_dataspace()))
            + attr_name + attr_dt + _h5_scalar_dataspace() + b"double"
        )
        msgs = _h5_msg(0x0001, space) + _h5_msg(0x0003, _h5_f64_datatype())
        # layout is patched after the data address is known
        layout_placeholder_len = len(_h5_msg(0x0008, struct.pack("<BBQQ", 3, 1, 0, 0)))
        msgs_tail = _h5_msg(0x000C, attr_body)
        total = len(msgs) + layout_placeholder_len + len(msgs_tail)
        oh = struct.pack("<BxHII4x", 1, 4, 1, total)
        oh_at = put(b"\0" * (len(oh) + total))
        data_at = put(raw)
        layout = _h5_msg(0x0008, struct.pack("<BBQQ", 3, 1, data_at, len(raw)))
        chunks[-2] = oh + msgs + layout + msgs_tail  # patch the header slot
        oh_addrs[name] = oh_at

    eof = cursor

    # --- patch the structural nodes ------------------------------------
    root_ste = struct.pack(
        "<QQII QQ", 0, root_oh_at, 1, 0, btree_at, heap_at := heap_hdr_at
    )
    chunks[0] = (
        _H5_SIG
        + struct.pack("<BBBBBBBB HH I", 0, 0, 0, 0, 0, 8, 8, 0, 4, 16, 0)
        + struct.pack("<QQQQ", _H5_USERBLOCK, _H5_UNDEF, eof, _H5_UNDEF)
        + root_ste
    )
    symtab_msg = _h5_msg(0x0011, struct.pack("<QQ", btree_at, heap_at))
    chunks[1] = struct.pack("<BxHII4x", 1, 1, 1, len(symtab_msg)) + symtab_msg
    chunks[2] = struct.pack(
        "<4sB3xQQQ", b"HEAP", 0, len(heap_data), _H5_UNDEF, heap_data_at
    )
    # chunk order: 0 superblock, 1 root header, 2 heap header,
    # 3 heap data (already final), 4 B-tree, 5.. SNODs, then datasets
    keyed_children = b"".join(
        struct.pack("<QQ", snod_ats[i], heap_offsets[g[-1]])
        for i, g in enumerate(groups)
    )
    btree = (
        struct.pack("<4sBBHQQ", b"TREE", 0, 0, len(groups), _H5_UNDEF, _H5_UNDEF)
        + struct.pack("<Q", 0)  # key 0 brackets from below
        + keyed_children
    )
    chunks[4] = btree + b"\0" * (len(chunks[4]) - len(btree))
    for i, g in enumerate(groups):
        entries = b"".join(
            struct.pack("<QQII16x", heap_offsets[n], oh_addrs[n], 0, 0) for n in g
        )
        snod = struct.pack("<4sBBH", b"SNOD", 1, 0, len(g)) + entries
        chunks[5 + i] = snod + b"\0" * (len(chunks[5 + i]) - len(snod))

    desc = b"MATLAB 7.3 MAT-file, created by dataframework_spark"
    header = desc.ljust(116) + b"\0" * 8 + struct.pack("<HH", 0x0200, 0x4D49)
    with open(path, "wb") as f:
        f.write(header.ljust(_H5_USERBLOCK, b"\0"))
        for c in chunks:
            f.write(c)


class _H5Reader:
    """Minimal classic-format HDF5 walker for the MAT v7.3 subset."""

    def __init__(self, buf: bytes, base: int):
        self.buf, self.base = buf, base

    def at(self, addr: int) -> int:
        if addr == _H5_UNDEF:
            raise ValueError("undefined address dereferenced")
        off = self.base + addr
        if off > len(self.buf):
            raise ValueError("address past end of file")
        return off

    def object_header(self, addr: int) -> list[tuple[int, bytes]]:
        o = self.at(addr)
        version, nmsgs, _refs, hsize = struct.unpack_from("<BxHII", self.buf, o)
        if version != 1:
            raise ValueError(f"unsupported object header version {version}")
        o += 16  # 12-byte prefix + 4-byte alignment pad
        end, msgs = o + hsize, []
        while o < end and len(msgs) < nmsgs:
            mtype, msize, _flags = struct.unpack_from("<HHB3x", self.buf, o)
            body = self.buf[o + 8 : o + 8 + msize]
            if o + 8 + msize > end:
                raise ValueError("object header message overruns header")
            if mtype == 0x0010:
                raise ValueError("object header continuations unsupported")
            msgs.append((mtype, body))
            o += 8 + msize
        return msgs

    def group_links(self, btree_addr: int, heap_addr: int) -> dict[str, int]:
        ho = self.at(heap_addr)
        sig, _ver, _size, _free, data_addr = struct.unpack_from(
            "<4sB3xQQQ", self.buf, ho
        )
        if sig != b"HEAP":
            raise ValueError("bad local heap signature")
        heap_base = self.at(data_addr)

        def name_at(off: int) -> str:
            end = self.buf.index(b"\0", heap_base + off)
            return self.buf[heap_base + off : end].decode("ascii")

        out: dict[str, int] = {}

        def walk(addr: int) -> None:
            o = self.at(addr)
            sig = self.buf[o : o + 4]
            if sig == b"TREE":
                ntype, level, used = struct.unpack_from("<BBH", self.buf, o + 4)
                if ntype != 0:
                    raise ValueError("non-group B-tree node in group walk")
                if level != 0:
                    raise ValueError(
                        "B-tree depth > 0 unsupported (subset reader)"
                    )
                p = o + 24 + 8  # skip node header + key 0
                for _ in range(used):
                    (child,) = struct.unpack_from("<Q", self.buf, p)
                    walk(child)
                    p += 16  # child + next key
            elif sig == b"SNOD":
                (count,) = struct.unpack_from("<H", self.buf, o + 6)
                p = o + 8
                for _ in range(count):
                    name_off, oh_addr = struct.unpack_from("<QQ", self.buf, p)
                    out[name_at(name_off)] = oh_addr
                    p += 40
            else:
                raise ValueError(f"unexpected node signature {sig!r}")

        walk(btree_addr)
        return out

    def dataset(self, addr: int) -> tuple[np.ndarray, str]:
        dims: tuple[int, ...] | None = None
        data_span = None
        mat_class = "double"
        for mtype, body in self.object_header(addr):
            if mtype == 0x0001:
                version, rank = struct.unpack_from("<BB", body, 0)
                if version != 1:
                    raise ValueError(f"dataspace version {version} unsupported")
                dims = struct.unpack_from(f"<{rank}Q", body, 8)
            elif mtype == 0x0003:
                cv, _b0, _b1, _b2, size = struct.unpack_from("<BBBBI", body, 0)
                if cv & 0x0F != 1 or size != 8:
                    raise ValueError(
                        "subset reader: float64 datasets only "
                        f"(datatype class {cv & 0x0F}, size {size})"
                    )
            elif mtype == 0x0008:
                version, klass = struct.unpack_from("<BB", body, 0)
                if version != 3:
                    raise ValueError(f"layout version {version} unsupported")
                if klass != 1:
                    raise ValueError(
                        "chunked/compact layout unsupported (subset reader "
                        "covers the contiguous default)"
                    )
                data_span = struct.unpack_from("<QQ", body, 2)
            elif mtype == 0x000C:
                nsz, dtsz, dssz = struct.unpack_from("<HHH", body, 2)
                name = body[8 : 8 + nsz - 1].decode("ascii")
                if name == "MATLAB_class":
                    p = 8 + nsz + ((-nsz) % 8)
                    p += dtsz + ((-dtsz) % 8) + dssz + ((-dssz) % 8)
                    strlen = struct.unpack_from("<I", body, 8 + nsz + ((-nsz) % 8) + 4)[0]
                    mat_class = body[p : p + strlen].split(b"\0")[0].decode("ascii")
        if dims is None or data_span is None:
            raise ValueError("dataset object header missing dataspace/layout")
        data_addr, size = data_span
        o = self.at(data_addr)
        n = int(np.prod(dims)) if dims else 1
        if size != 8 * n or o + size > len(self.buf):
            raise ValueError("contiguous data span inconsistent with dataspace")
        arr = np.frombuffer(self.buf[o : o + size], dtype="<f8").reshape(dims)
        return arr.T, mat_class  # undo the MATLAB transposed convention


def read_mat73(path: str, domain: list[str] | None = None) -> dict[str, Any] | None:
    """Load a MAT v7.3 (HDF5-layout) file → ``{variable: ndarray}`` with
    the same contract as :func:`read_mat`: missing file → None, ``domain``
    selects variables.  Verifies the MAT userblock version (0x0200), the
    HDF5 superblock signature/version at offset 512, and every structural
    node signature on the way down; anything outside the documented
    subset is REJECTED with a clear error, never guessed at."""
    if not os.path.exists(path):
        return None
    with open(path, "rb") as f:
        buf = f.read()
    if len(buf) < _H5_USERBLOCK + 96:
        raise ValueError(f"{path}: truncated MAT v7.3 file")
    version, endian = struct.unpack_from("<HH", buf, 124)
    if version != 0x0200 or endian != 0x4D49:
        raise ValueError(
            f"{path}: not a MAT v7.3 header (version {version:#06x})"
        )
    if buf[_H5_USERBLOCK : _H5_USERBLOCK + 8] != _H5_SIG:
        raise ValueError(f"{path}: HDF5 superblock signature missing at 512")
    (sb_ver, _fs, _rg, _r0, _sh, so, sl) = struct.unpack_from(
        "<BBBBBBB", buf, _H5_USERBLOCK + 8
    )
    if sb_ver != 0:
        raise ValueError(f"{path}: superblock version {sb_ver} unsupported")
    if (so, sl) != (8, 8):
        raise ValueError(f"{path}: non-8-byte offsets/lengths unsupported")
    base_addr, _free, _eof, _drv = struct.unpack_from(
        "<QQQQ", buf, _H5_USERBLOCK + 24
    )
    rdr = _H5Reader(buf, int(base_addr))
    # root symbol table entry: cache type 1 scratch carries btree + heap
    _nameoff, root_oh, cache = struct.unpack_from(
        "<QQI", buf, _H5_USERBLOCK + 56
    )
    if cache == 1:
        btree_addr, heap_addr = struct.unpack_from("<QQ", buf, _H5_USERBLOCK + 80)
    else:  # fall back to the root object header's symbol table message
        sym = [b for t, b in rdr.object_header(root_oh) if t == 0x0011]
        if not sym:
            raise ValueError(f"{path}: root group has no symbol table")
        btree_addr, heap_addr = struct.unpack("<QQ", sym[0][:16])
    links = rdr.group_links(btree_addr, heap_addr)
    out = {name: rdr.dataset(addr)[0] for name, addr in sorted(links.items())}
    if domain is None or len(domain) == 0:
        return out
    missing = [k for k in domain if k not in out]
    if missing:
        raise KeyError(f"{path}: variables {missing} not found (has {sorted(out)})")
    return {k: out[k] for k in domain}


@register(
    "source_mat73_roundtrip",
    eager=True,
    # identical stats contract to source_mat_roundtrip: the v7.3 container
    # must round-trip the same 60-row fixture to the same per-label hashes
    oracle="""
    WITH sel AS (
      SELECT label, CAST(embedding[1] AS DOUBLE) AS e0
      FROM (SELECT label, embedding,
                   ROW_NUMBER() OVER (ORDER BY vec_id) AS rn
            FROM embeddings)
      WHERE rn <= 60
    )
    SELECT label, COUNT(*) AS n, ROUND(SUM(e0), 4) AS sum_x0
    FROM sel GROUP BY label
    """,
)
def source_mat73_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end MAT **v7.3** ingestion proof (S2, settled r12): the same
    BOUNDED 60-row embeddings fixture as ``source_mat_roundtrip``, laid
    out as one ``features × samples`` matrix per label, written as a real
    HDF5-layout v7.3 file (superblock v0, B-tree/heap/SNOD root group,
    contiguous float64 datasets with MATLAB's transposed-dims convention),
    read back through the independent subset reader, and aggregated per
    label.  The oracle recomputes the stats straight from parquet, so a
    byte slipped anywhere in the container round-trip — a dims reversal,
    a heap offset off by one, a data span misplaced — breaks the hash.

    Convert-once semantics, same as the v5 twin: a ``.mat`` file is one
    undistributable blob; parquet is the scan format."""
    from dataframework_spark.catalog import load_table

    rows = (
        load_table(spark, sf_dir, "embeddings")
        .orderBy("vec_id")
        .limit(60)
        .select("vec_id", "label", F.col("embedding").cast("array<double>").alias("e"))
        .collect()  # bounded: limit(60) convert-once fixture above
    )
    labels = sorted({r.label for r in rows})
    variables = {
        f"x{int(lab)}": np.array(
            [r.e for r in rows if r.label == lab], dtype=np.float64
        ).T  # features × samples, MATLAB orientation
        for lab in labels
    }
    path = os.path.join(tempfile.gettempdir(), "dfw_source_mat73_roundtrip.mat")
    write_mat73(path, variables)
    back = read_mat73(path, [f"x{int(lab)}" for lab in labels])
    out_rows = []
    for lab in labels:
        m = back[f"x{int(lab)}"].T  # back to samples-major
        for sample in m:
            out_rows.append((int(lab), [float(v) for v in sample]))
    df = spark.createDataFrame(out_rows, "label BIGINT, features ARRAY<DOUBLE>")
    return df.groupBy("label").agg(
        F.count("*").alias("n"),
        F.round(F.sum(F.element_at("features", 1)), 4).alias("sum_x0"),
    )
