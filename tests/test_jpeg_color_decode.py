"""4:2:0 color baseline JPEG tests (r10) — the r8 greyscale discipline
extended to three components: the interleaved-MCU bit machinery (4 Y +
Cb + Cr per MCU, per-component DC predictors, separate luma/chroma
quant + huffman tables) must reproduce an independent dequant+IDCT
reference exactly on RANDOM planes, the chroma upsample + derived
YCbCr→RGB matrix must be bit-stable, and non-4:2:0 or malformed
containers must be REJECTED, never silently mis-decoded.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataframework_spark.operators.multimodal import (
    _JPEG_CB_B,
    _JPEG_CB_G,
    _JPEG_CR_G,
    _JPEG_CR_R,
    _JPEG_QTABLE,
    _JPEG_QTABLE_C,
    _dct_basis,
    _encode_jpeg,
    _rnd_away,
    decode_jpeg_color,
    jpeg_color_pixels,
    jpeg_pixels,
    synth_jpeg_color,
)


def _plane_roundtrip(img: np.ndarray, qtable) -> np.ndarray:
    """Independent per-block dequant+IDCT reference (no bitstream)."""
    basis, s2 = _dct_basis()
    q = np.array(qtable, dtype=np.float64).reshape(8, 8)
    h, w = img.shape
    out = np.zeros_like(img, dtype=np.float64)
    sh = img.astype(np.float64) - 128.0
    for by in range(h // 8):
        for bx in range(w // 8):
            blk = sh[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8]
            qc = _rnd_away(s2 * (basis @ blk @ basis.T) / q)
            rec = basis.T @ (s2 * (qc * q)) @ basis
            out[by * 8 : (by + 1) * 8, bx * 8 : (bx + 1) * 8] = np.clip(
                _rnd_away(rec + 128.0), 0, 255
            )
    return out


def _reference_rgb(Y, Cb, Cr) -> np.ndarray:
    yd = _plane_roundtrip(Y, _JPEG_QTABLE)
    cbd = _plane_roundtrip(Cb, _JPEG_QTABLE_C)
    crd = _plane_roundtrip(Cr, _JPEG_QTABLE_C)
    cb = np.repeat(np.repeat(cbd, 2, axis=0), 2, axis=1) - 128.0
    cr = np.repeat(np.repeat(crd, 2, axis=0), 2, axis=1) - 128.0
    r = yd + _JPEG_CR_R * cr
    g = yd - _JPEG_CB_G * cb - _JPEG_CR_G * cr
    b = yd + _JPEG_CB_B * cb
    return np.stack(
        [np.clip(_rnd_away(c), 0, 255).astype(np.uint8) for c in (r, g, b)],
        axis=-1,
    )


@pytest.mark.parametrize("shape", [(16, 16), (32, 16), (16, 48), (32, 32)])
def test_general_path_matches_reference(shape):
    """Random (non-constant) planes: the full bitstream roundtrip must
    equal the no-bitstream reference exactly — DC chains, AC runs, ZRL,
    byte stuffing, per-component predictors, MCU interleave all proven
    lossless at once."""
    rng = np.random.default_rng(shape[0] * 1000 + shape[1])
    h, w = shape
    Y = rng.integers(0, 256, size=(h, w)).astype(np.float64)
    Cb = rng.integers(0, 256, size=(h // 2, w // 2)).astype(np.float64)
    Cr = rng.integers(0, 256, size=(h // 2, w // 2)).astype(np.float64)
    got = jpeg_color_pixels(_encode_jpeg((Y, Cb, Cr)))
    exp = _reference_rgb(Y, Cb, Cr)
    assert (got == exp).all()


@pytest.mark.parametrize("doc_id", [0, 1, 2, 5, 8, 13, 44])
def test_mcu_constant_synthesis_decodes_blockwise_constant(doc_id):
    payload, w, h = synth_jpeg_color(doc_id)
    rgb = jpeg_color_pixels(payload)
    assert rgb.shape == (h, w, 3)
    for my in range(h // 16):
        for mx in range(w // 16):
            mcu = rgb[my * 16 : (my + 1) * 16, mx * 16 : (mx + 1) * 16]
            assert (mcu == mcu[0, 0]).all()


def test_color_matrix_is_derived_not_tabulated():
    """The coefficients must equal the closed forms from Kr/Kb — the
    'no magic constants' discipline, pinned."""
    kr, kb = 0.299, 0.114
    assert _JPEG_CR_R == 2 * (1 - kr)
    assert _JPEG_CB_B == 2 * (1 - kb)
    assert _JPEG_CB_G == 2 * kb * (1 - kb) / (1 - kr - kb)
    assert _JPEG_CR_G == 2 * kr * (1 - kr) / (1 - kr - kb)
    # and they land on the familiar published values
    assert abs(_JPEG_CR_R - 1.402) < 1e-12
    assert abs(_JPEG_CB_B - 1.772) < 1e-12
    assert abs(_JPEG_CB_G - 0.344136) < 1e-6
    assert abs(_JPEG_CR_G - 0.714136) < 1e-6


def test_greyscale_decoder_still_rejects_color():
    payload, _, _ = synth_jpeg_color(4)
    with pytest.raises(ValueError, match="components=3"):
        jpeg_pixels(payload)


def test_color_decoder_rejects_greyscale():
    from dataframework_spark.operators.multimodal import synth_jpeg

    with pytest.raises(ValueError, match="components=1"):
        jpeg_color_pixels(synth_jpeg(4)[0])


def _patch_sof_sampling(payload: bytes, samp0: int) -> bytes:
    out = bytearray(payload)
    i = out.index(b"\xff\xc0")
    # SOF0: marker(2) len(2) prec(1) h(2) w(2) ncomp(1) [id samp tq]*3
    out[i + 11] = samp0  # Y component sampling byte
    return bytes(out)


def test_rejects_non_420_sampling():
    payload, _, _ = synth_jpeg_color(4)
    for samp in (0x11, 0x21, 0x12):  # 4:4:4, 4:2:2, 4:4:0 Y factors
        with pytest.raises(ValueError, match="4:2:0"):
            jpeg_color_pixels(_patch_sof_sampling(payload, samp))


def test_rejects_progressive_and_truncation():
    payload, _, _ = synth_jpeg_color(4)
    out = bytearray(payload)
    i = out.index(b"\xff\xc0")
    out[i + 1] = 0xC2  # SOF2
    with pytest.raises(ValueError, match="baseline"):
        jpeg_color_pixels(bytes(out))
    with pytest.raises(ValueError):
        jpeg_color_pixels(payload[:40])


def test_rejects_absent_chroma_tables():
    """Drop the second DHT half (chroma tables): the SOS selectors then
    point at absent trees."""
    payload, _, _ = synth_jpeg_color(4)
    out = bytearray(payload)
    i = out.index(b"\xff\xc4")
    import struct

    (size,) = struct.unpack(">H", payload[i + 2 : i + 4])
    body = payload[i + 4 : i + 2 + size]
    # keep only the luma DC + AC tables (ids 0x00, 0x10)
    off = 0
    keep_end = None
    count = 0
    while off < len(body):
        nv = sum(body[off + 1 : off + 17])
        off += 17 + nv
        count += 1
        if count == 2:
            keep_end = off
            break
    new_body = body[:keep_end]
    new_seg = struct.pack(">HH", 0xFFC4, len(new_body) + 2) + new_body
    patched = payload[:i] + new_seg + payload[i + 2 + size :]
    with pytest.raises(ValueError, match="absent huffman"):
        jpeg_color_pixels(patched)


def test_decode_features_shape():
    feats = decode_jpeg_color(synth_jpeg_color(9)[0])
    assert len(feats) == 8
    w, h = feats[0], feats[1]
    assert w % 16 == 0 and h % 16 == 0
    assert feats[7] == (w // 16) * (h // 16)
