"""JPEG codec pins that hold across encoder/decoder refactors.

1. The synthesized payloads behind every ``mm_jpeg_*`` query and the
   router are pinned byte-for-byte (sha256 over doc_id 0..63 per
   synthesis function), so an encoder rewrite that moves a single bit —
   and with it an oracle hash — fails here first.
2. A DQT segment may carry several tables (T.81 B.2.4.1).  A greyscale
   image whose single DQT segment holds tables 0 and 1, with the frame
   component selecting Tq=1, must decode exactly like the single-table
   original, baseline and progressive alike.
"""

from __future__ import annotations

import hashlib
import struct

import numpy as np
import pytest

from dataframework_spark.operators import multimodal as mm

_PAYLOAD_SHA256 = {
    "synth_jpeg": "e2cb018f27e533bdc38c5f92fce02aa611ff1ce1987665ddc8d94f67558167b6",
    "synth_jpeg_restart": "120ca41da5124536724d15de80421bd35d2d5cc65ad5eb3803f4bd0dfe4c685a",
    "synth_jpeg_color": "0b733f7c08424290cad43cffaedd9bf161bed8dd6e22bcb66bc15ab1acf9b030",
    "synth_jpeg_progressive": "13f2ceda4cd7b0c870334056fdec7280662dede797073b837e38fd55ba0fa1db",
    "synth_jpeg_color_progressive": "17e185b95f2c56a62c034f2a1301206f1f83be5fdac507b804c598bc56371c2f",
}


@pytest.mark.parametrize("name", sorted(_PAYLOAD_SHA256))
def test_synthesized_payload_bytes_are_pinned(name):
    synth = getattr(mm, name)
    h = hashlib.sha256()
    for doc_id in range(64):
        h.update(synth(doc_id)[0])
    assert h.hexdigest() == _PAYLOAD_SHA256[name]


def _segments(payload: bytes):
    """(marker, start) of every header segment up to the first SOS."""
    pos = 2
    while True:
        marker, size = struct.unpack(">HH", payload[pos : pos + 4])
        yield marker, pos
        if marker == 0xFFDA:
            return
        pos += 2 + size


def _two_table_dqt(payload: bytes) -> bytes:
    """Rewrite a single-table greyscale payload so its DQT segment
    carries table 0 = all ones and table 1 = the real table, and the
    frame component selects Tq=1."""
    out = bytearray(payload)
    segs = dict(_segments(payload))
    sof = segs.get(0xFFC0, segs.get(0xFFC2))
    assert out[sof + 9] == 1 and out[sof + 12] == 0  # one component, Tq=0
    out[sof + 12] = 1
    dqt = segs[0xFFDB]
    (size,) = struct.unpack(">H", payload[dqt + 2 : dqt + 4])
    body = payload[dqt + 4 : dqt + 2 + size]
    assert len(body) == 65 and body[0] == 0x00
    new_body = bytes([0x00]) + bytes([1] * 64) + bytes([0x01]) + body[1:]
    seg = struct.pack(">HH", 0xFFDB, len(new_body) + 2) + new_body
    return bytes(out[:dqt]) + seg + bytes(out[dqt + 2 + size :])


@pytest.mark.parametrize("doc_id", [0, 3, 17, 42])
def test_greyscale_multi_table_dqt_baseline(doc_id):
    payload = mm.synth_jpeg(doc_id)[0]
    want = mm.jpeg_pixels(payload)
    assert np.array_equal(mm.jpeg_pixels(_two_table_dqt(payload)), want)


@pytest.mark.parametrize("doc_id", [0, 3, 17, 42])
def test_greyscale_multi_table_dqt_progressive(doc_id):
    payload = mm.synth_jpeg_progressive(doc_id)[0]
    want, n_scans = mm.jpeg_progressive_pixels(payload)
    got, got_scans = mm.jpeg_progressive_pixels(_two_table_dqt(payload))
    assert got_scans == n_scans
    assert np.array_equal(got, want)
