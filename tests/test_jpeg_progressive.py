"""Progressive (SOF2) JPEG codec tests (r11 VERDICT "Next round" #2).

The load-bearing property: progressive transmission is a LOSSLESS
re-ordering of the same quantized coefficients, so a complete
progressive decode must equal the BASELINE decode of the same image
byte-for-byte.  The differential runs the general machinery (random
images → dense coefficients → correction bits, run/size codes, band
splits), the crafted cases pin the rare paths (pure-EOBRUN streams,
ZRL inside a refinement scan, negative-DC refinement), and the
rejection tests pin the honest-limit boundary.
"""

from __future__ import annotations

import numpy as np
import pytest

from dataframework_spark.operators.multimodal import (
    _dct_basis,
    _encode_jpeg,
    _entropy_end,
    decode_jpeg_progressive,
    jpeg_pixels,
    jpeg_progressive_pixels,
    route_media,
    synth_jpeg_progressive,
)


def _roundtrip_equal(img) -> bool:
    base = jpeg_pixels(_encode_jpeg((img,)))
    prog, n_scans = jpeg_progressive_pixels(_encode_jpeg((img,), progressive=True))
    assert n_scans == 6
    return np.array_equal(base, prog)


def test_progressive_equals_baseline_on_random_images():
    rng = np.random.RandomState(17)
    for _ in range(30):
        h, w = 8 * rng.randint(1, 6), 8 * rng.randint(1, 6)
        img = rng.randint(0, 256, size=(h, w)).astype(np.float64)
        assert _roundtrip_equal(img)


def test_progressive_constant_image_pure_eobrun():
    """A constant image has zero ACs everywhere: both AC-first scans and
    both refinement scans are pure EOBRUN streams spanning all blocks."""
    for v in (0, 77, 128, 255):
        assert _roundtrip_equal(np.full((32, 40), float(v)))


def test_progressive_smooth_gradients():
    """Smooth images produce long zero runs with sparse low-frequency
    ACs — the EOBRUN + small-run regime of real photographs."""
    y, x = np.mgrid[0:24, 0:32]
    for img in (
        (x * 255 / 31),
        (y * 255 / 23),
        ((x + y) * 4 % 256),
    ):
        assert _roundtrip_equal(img.astype(np.float64))


def test_progressive_zrl_in_refinement():
    """A nearly-flat block with only a tiny highest-frequency component
    forces >16 still-zero positions before a newly-nonzero coefficient
    in the refinement band — the ZRL-inside-refinement path."""
    basis, s2 = _dct_basis()
    F = np.zeros((8, 8))
    F[7, 7] = 99.0  # ≈ one quantizer step at (7,7) → quantized ±1
    F[0, 0] = 8.0
    blk = np.clip(np.round(basis.T @ (s2 * F) @ basis + 128.0), 0, 255)
    assert _roundtrip_equal(np.tile(blk, (2, 3)))


def test_progressive_negative_dc_refinement():
    """Dark images (v < 128) have negative DC coefficients; the DC
    refinement OR must reconstruct them exactly (arithmetic point
    transform + two's-complement bit OR)."""
    rng = np.random.RandomState(3)
    img = rng.randint(0, 60, size=(16, 16)).astype(np.float64)
    assert _roundtrip_equal(img)


def test_synth_features_closed_form():
    """Block-constant synthesis must decode to the oracle's closed form."""
    q00 = 16
    for d in (0, 7, 19, 123, 4567):
        payload, w, h = synth_jpeg_progressive(d)
        got = decode_jpeg_progressive(payload)
        wb, hb = w // 8, h // 8

        def pix(bx, by):
            v = (d * 3 + 17 * bx + 29 * by) % 256
            d1 = 8.0 * (v - 128) / q00
            r1 = np.floor(d1 + 0.5) if d1 >= 0 else -np.floor(-d1 + 0.5)
            d2 = r1 * q00 / 8.0
            r2 = np.floor(d2 + 0.5) if d2 >= 0 else -np.floor(-d2 + 0.5)
            return int(min(max(r2 + 128, 0), 255))

        total = sum(pix(bx, by) * 64 for bx in range(wb) for by in range(hb))
        n = w * h
        assert got == (
            w, h, (total * 20000 + n) // (2 * n), pix(0, 0),
            pix(wb - 1, hb - 1), wb * hb, 6,
        )


def test_progressive_rejects_baseline_and_vice_versa():
    img = np.full((16, 16), 90.0)
    with pytest.raises(ValueError, match="progressive"):
        jpeg_progressive_pixels(_encode_jpeg((img,)))
    with pytest.raises(ValueError, match="baseline"):
        jpeg_pixels(_encode_jpeg((img,), progressive=True))


def test_progressive_rejects_truncated_scan():
    payload = _encode_jpeg((np.full((16, 16), 90.0),), progressive=True)
    with pytest.raises(ValueError):
        jpeg_progressive_pixels(payload[: len(payload) // 2])


def test_progressive_rejects_restart_interval():
    payload = bytearray(_encode_jpeg((np.full((16, 16), 90.0),), progressive=True))
    # splice a DRI segment right after SOI
    dri = b"\xff\xdd\x00\x04\x00\x08"
    payload = bytes(payload[:2]) + dri + bytes(payload[2:])
    with pytest.raises(ValueError, match="restart"):
        jpeg_progressive_pixels(payload)


def test_progressive_rejects_bad_refinement_amplitude():
    """A refinement scan whose huffman stream yields s >= 2 is corrupt."""
    rng = np.random.RandomState(5)
    img = rng.randint(0, 256, size=(16, 16)).astype(np.float64)
    payload = bytearray(_encode_jpeg((img,), progressive=True))
    # find the LAST SOS (an AC refinement scan) and corrupt its stream by
    # replacing it with an AC-first style (run, size=3) code; all codes in
    # the progressive AC table are 8 bits, symbol index = code value
    import struct

    pos = payload.rfind(b"\xff\xda")
    (size,) = struct.unpack(">H", payload[pos + 2 : pos + 4])
    data_start = pos + 2 + size
    # symbol (0<<4)|3 sits at canonical index 15+1+2 = 18 → code 18, 8 bits
    payload[data_start] = 18
    with pytest.raises(ValueError):
        jpeg_progressive_pixels(bytes(payload))


def test_entropy_end_skips_stuffing():
    data = b"\x12\xff\x00\x34\xff\xd9"
    assert _entropy_end(data, 0) == 4
    with pytest.raises(ValueError, match="restart"):
        _entropy_end(b"\x12\xff\xd3\x00", 0)


def test_router_dispatches_progressive():
    payload, w, h = synth_jpeg_progressive(19)
    assert jpeg_progressive_pixels(payload)[0].ndim == 2  # SOF2, one component
    fmt, verdict, rw, rh, n, feat = route_media(payload)
    assert (fmt, verdict, rw, rh, n) == ("jpeg", "decoded", w, h, w * h)
    assert feat == decode_jpeg_progressive(payload)[2]


# ---------------------------------------------------------------------------
# r11: progressive COLOR (SOF2 over 4:2:0 YCbCr)
# ---------------------------------------------------------------------------


def test_color_progressive_equals_color_baseline():
    from dataframework_spark.operators.multimodal import (
        jpeg_color_pixels,
        jpeg_color_progressive_pixels,
    )

    rng = np.random.RandomState(31)
    for _ in range(10):
        hm, wm = rng.randint(1, 4), rng.randint(1, 4)
        h, w = 16 * hm, 16 * wm
        Y = rng.randint(0, 256, (h, w)).astype(float)
        Cb = rng.randint(0, 256, (h // 2, w // 2)).astype(float)
        Cr = rng.randint(0, 256, (h // 2, w // 2)).astype(float)
        base = jpeg_color_pixels(_encode_jpeg((Y, Cb, Cr)))
        prog, ns = jpeg_color_progressive_pixels(
            _encode_jpeg((Y, Cb, Cr), progressive=True)
        )
        assert ns == 8
        assert np.array_equal(base, prog)


def test_color_progressive_rejections():
    from dataframework_spark.operators.multimodal import (
        jpeg_color_pixels,
        jpeg_color_progressive_pixels,
        synth_jpeg_color_progressive,
    )

    payload, _, _ = synth_jpeg_color_progressive(7)
    # baseline color decoder must reject the progressive container
    with pytest.raises(ValueError, match="baseline"):
        jpeg_color_pixels(payload)
    # progressive color decoder must reject a baseline container
    Y = np.full((16, 16), 80.0)
    C = np.full((8, 8), 120.0)
    with pytest.raises(ValueError, match="progressive"):
        jpeg_color_progressive_pixels(_encode_jpeg((Y, C, C)))
    # and truncation dies, never mis-decodes
    with pytest.raises(ValueError):
        jpeg_color_progressive_pixels(payload[: len(payload) // 2])


def test_router_dispatches_progressive_color():
    from dataframework_spark.operators.multimodal import (
        decode_jpeg_color_progressive,
        jpeg_color_progressive_pixels,
        synth_jpeg_color_progressive,
    )

    payload, w, h = synth_jpeg_color_progressive(21)  # 21 % 11 == 10 in the mix
    assert jpeg_color_progressive_pixels(payload)[0].ndim == 3  # SOF2, 3 components
    fmt, verdict, rw, rh, n, feat = route_media(payload)
    assert (fmt, verdict, rw, rh, n) == ("jpeg", "decoded", w, h, w * h * 3)
    assert feat == decode_jpeg_color_progressive(payload)[2]
