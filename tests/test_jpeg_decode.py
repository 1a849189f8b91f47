"""Unit tests for the real baseline-JPEG decoder (huffman + IDCT, numpy).

The oracle-differential test proves synth → entropy-decode → dequant →
IDCT round-trips on constant blocks at corpus scale; these pin what a
hash can't see: the GENERAL path (non-constant blocks — huffman trees,
AC run-lengths, ZRL, byte stuffing) must reproduce an independent
dequant+IDCT reference exactly, and malformed containers must be
REJECTED (missing SOI, progressive SOF2, multi-component, 16-bit quant
tables, truncated entropy stream), never silently mis-decoded.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataframework_spark.operators.multimodal import (
    _JPEG_QTABLE,
    _dct_basis,
    _encode_jpeg,
    _rnd_away,
    decode_jpeg,
    jpeg_color_pixels,
    jpeg_pixels,
    synth_jpeg,
)


def _reference_roundtrip(img: np.ndarray) -> np.ndarray:
    """Independent dequant+IDCT reference over the same quantized
    coefficients — no bitstream involved, so an exact match proves the
    huffman/bit-level machinery is lossless."""
    basis, s2 = _dct_basis()
    q = np.array(_JPEG_QTABLE, dtype=np.float64).reshape(8, 8)
    h, w = img.shape
    out = np.zeros_like(img, dtype=np.uint8)
    sh = img.astype(np.float64) - 128.0
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = sh[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8]
            qc = _rnd_away(s2 * (basis @ blk @ basis.T) / q)
            rec = basis.T @ (s2 * (qc * q)) @ basis
            out[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = np.clip(
                _rnd_away(rec + 128.0), 0, 255
            ).astype(np.uint8)
    return out


@pytest.mark.parametrize("doc_id", [0, 1, 2, 5, 137, 499])
def test_constant_blocks_match_closed_form(doc_id):
    payload, w, h = synth_jpeg(doc_id)
    px = jpeg_pixels(payload)
    assert px.shape == (h, w)
    for by in range(h // 8):
        for bx in range(w // 8):
            v = (doc_id + 11 * bx + 23 * by) % 256
            want = int(
                np.clip(_rnd_away(_rnd_away(8.0 * (v - 128) / 16) * 2 + 128), 0, 255)
            )
            assert (px[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] == want).all()


@pytest.mark.parametrize("shape", [(8, 8), (16, 24), (32, 32), (24, 8), (40, 48)])
def test_general_path_matches_reference(shape):
    """Random (non-constant) images: every AC symbol class, DC diffs of
    both signs, and typically byte stuffing — decode(encode(img)) must
    equal the reference EXACTLY."""
    rng = np.random.default_rng(sum(shape))
    img = rng.integers(0, 256, size=shape).astype(np.float64)
    got = jpeg_pixels(_encode_jpeg((img,)))
    assert (got == _reference_roundtrip(img)).all()


def test_byte_stuffing_is_exercised_and_lossless():
    """Find an encoding whose entropy stream contains a stuffed FF00 and
    prove it decodes exactly — the destuffing path, on real data."""
    rng = np.random.default_rng(7)
    for _ in range(300):
        img = rng.integers(0, 256, size=(16, 16)).astype(np.float64)
        payload = _encode_jpeg((img,))
        if b"\xff\x00" in payload[20:-2]:
            assert (jpeg_pixels(payload) == _reference_roundtrip(img)).all()
            return
    pytest.fail("no encoding produced a stuffed byte in 300 tries")


def test_dc_scale_is_exact_dyadic():
    """The regression the codec shipped with: (0.5/sqrt(2))**2 is one ulp
    below 0.125, which flipped a constant block's -58.5 quantization to
    -58.  The scale matrix must carry the exact dyadic DC entry."""
    _, s2 = _dct_basis()
    assert s2[0, 0] == 0.125


def test_rejects_missing_soi():
    payload, _, _ = synth_jpeg(3)
    with pytest.raises(ValueError, match="SOI"):
        jpeg_pixels(b"\x00\x00" + payload[2:])


def test_rejects_progressive_sof2():
    payload, _, _ = synth_jpeg(3)
    mutated = payload.replace(b"\xff\xc0", b"\xff\xc2", 1)
    with pytest.raises(ValueError, match="baseline"):
        jpeg_pixels(mutated)


def test_rejects_multi_component():
    img = np.full((8, 8), 99.0)
    payload = bytearray(_encode_jpeg((img,)))
    i = payload.find(b"\xff\xc0")
    payload[i + 9] = 3  # ncomp byte inside SOF0
    with pytest.raises(ValueError, match="components"):
        jpeg_pixels(bytes(payload))


def test_rejects_16bit_quant_table():
    payload = bytearray(_encode_jpeg((np.full((8, 8), 99.0),)))
    i = payload.find(b"\xff\xdb")
    payload[i + 4] = 0x10  # Pq=1 (16-bit)
    with pytest.raises(ValueError, match="16-bit"):
        jpeg_pixels(bytes(payload))


def test_rejects_truncated_entropy_stream():
    payload, _, _ = synth_jpeg(9)
    with pytest.raises(ValueError):
        jpeg_pixels(payload[: len(payload) // 2])


def test_decode_jpeg_features():
    payload, w, h = synth_jpeg(4)
    fw, fh, mean_e4, tl, br, nb = decode_jpeg(payload)
    assert (fw, fh) == (w, h)
    assert nb == (w // 8) * (h // 8)
    px = jpeg_pixels(payload)
    n = w * h
    assert mean_e4 == (int(px.astype(np.int64).sum()) * 20000 + n) // (2 * n)
    assert tl == px[0, 0] and br == px[-1, -1]


# ---------------------------------------------------------------------------
# r11: restart intervals (DRI / RSTn)
# ---------------------------------------------------------------------------


def test_restart_decode_equals_plain_decode():
    """Restart markers are error-resilience plumbing, not data: the same
    image encoded with and without DRI must decode identically — for
    greyscale and for 4:2:0 color (interleaved MCUs, one predictor per
    component)."""
    rng = np.random.RandomState(23)
    inputs = []
    for _ in range(10):
        h, w = 8 * rng.randint(1, 6), 8 * rng.randint(1, 6)
        img = rng.randint(0, 256, size=(h, w)).astype(np.float64)
        inputs.append((img,))
    for _ in range(4):
        h, w = 16 * rng.randint(1, 4), 16 * rng.randint(1, 4)
        inputs.append(tuple(
            rng.randint(0, 256, size=s).astype(np.float64)
            for s in ((h, w), (h // 2, w // 2), (h // 2, w // 2))
        ))
    for planes in inputs:
        decode = jpeg_pixels if len(planes) == 1 else jpeg_color_pixels
        plain = decode(_encode_jpeg(planes))
        for ri in (1, 3, 7):
            rst = decode(_encode_jpeg(planes, restart_interval=ri))
            assert np.array_equal(plain, rst)


def test_restart_marker_out_of_sequence_rejected():
    img = np.random.RandomState(1).randint(0, 256, (16, 32)).astype(float)
    payload = bytearray(_encode_jpeg((img,), restart_interval=1))
    # find the first RST0 (FFD0) in the entropy stream and bump it to RST5
    sos = payload.find(b"\xff\xda")
    i = payload.find(b"\xff\xd0", sos)
    assert i > 0
    payload[i + 1] = 0xD5
    with pytest.raises(ValueError, match="out of sequence"):
        jpeg_pixels(bytes(payload))


def test_missing_restart_marker_rejected():
    """DRI promises a marker every interval; a stream without them is
    corrupt and must not decode silently."""
    import struct

    img = np.random.RandomState(2).randint(0, 256, (16, 32)).astype(float)
    plain = _encode_jpeg((img,))  # no RSTs in the stream
    # splice a DRI=1 segment before SOF0 (after DQT) without re-encoding
    sof = plain.find(b"\xff\xc0")
    dri = b"\xff\xdd\x00\x04\x00\x01"
    spliced = plain[:sof] + dri + plain[sof:]
    with pytest.raises(ValueError):
        jpeg_pixels(spliced)


def test_restart_synthesis_closed_form():
    from dataframework_spark.operators.multimodal import (
        decode_jpeg_restart,
        synth_jpeg_restart,
    )

    q00 = 16
    for d in (0, 5, 11, 42):
        payload, w, h = synth_jpeg_restart(d)
        got = decode_jpeg_restart(payload)
        wb, hb = w // 8, h // 8

        def pix(bx, by):
            v = (d * 7 + 13 * bx + 19 * by) % 256
            d1 = 8.0 * (v - 128) / q00
            r1 = np.floor(d1 + 0.5) if d1 >= 0 else -np.floor(-d1 + 0.5)
            d2 = r1 * q00 / 8.0
            r2 = np.floor(d2 + 0.5) if d2 >= 0 else -np.floor(-d2 + 0.5)
            return int(min(max(r2 + 128, 0), 255))

        total = sum(pix(bx, by) * 64 for bx in range(wb) for by in range(hb))
        n = w * h
        assert got == (
            w, h, (total * 20000 + n) // (2 * n), pix(0, 0),
            pix(wb - 1, hb - 1), wb * hb, wb,
        )
