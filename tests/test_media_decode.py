"""Real BMP/WAV decoders: byte-level round trips including the
format corners a header-fake would miss — bottom-up vs top-down
row order, 4-byte row padding, nonstandard pixel-data offsets,
RIFF chunk walking with odd-sized (word-aligned) chunks."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from osmgraft.operators.multimodal import (
    _bmp_payload,
    _wav_payload,
    decode_bmp,
    decode_image_real,
    decode_wav,
)


def _expected_pixels(doc_id: int) -> np.ndarray:
    w = 4 + (doc_id * 7) % 29
    h = 4 + (doc_id * 13) % 23
    X, Y = np.meshgrid(np.arange(w), np.arange(h))
    return np.stack(
        [
            (X * 3 + Y * 7 + doc_id) % 256,
            (X * 5 + Y * 11 + doc_id * 2) % 256,
            (X * 13 + Y * 17 + doc_id * 3) % 256,
        ],
        axis=-1,
    ).astype(np.uint8)


def test_bmp_roundtrip_many_sizes():
    # doc_ids chosen so widths cover every stride-padding residue
    for doc_id in range(0, 60, 2):
        a = decode_bmp(_bmp_payload(doc_id))
        assert a.shape == _expected_pixels(doc_id).shape
        assert np.array_equal(a, _expected_pixels(doc_id))


def test_bmp_top_down_negative_height():
    # rewrite a payload as top-down (negative biHeight, rows not
    # flipped): decoder must return the identical top-down array
    doc_id = 6
    p = bytearray(_bmp_payload(doc_id))
    w, h = struct.unpack_from("<ii", p, 18)
    stride = (3 * w + 3) // 4 * 4
    off = struct.unpack_from("<I", p, 10)[0]
    body = bytes(p[off:])
    flipped = b"".join(
        body[(h - 1 - y) * stride:(h - y) * stride] for y in range(h)
    )
    struct.pack_into("<i", p, 22, -h)
    p[off:] = flipped
    assert np.array_equal(decode_bmp(bytes(p)), _expected_pixels(doc_id))


def test_bmp_nonstandard_data_offset():
    # insert a 12-byte gap between headers and pixel data (legal:
    # bfOffBits points wherever the pixels are)
    doc_id = 4
    p = _bmp_payload(doc_id)
    off = struct.unpack_from("<I", p, 10)[0]
    moved = bytearray(p[:off] + b"\x00" * 12 + p[off:])
    struct.pack_into("<I", moved, 10, off + 12)
    assert np.array_equal(
        decode_bmp(bytes(moved)), _expected_pixels(doc_id)
    )


def test_bmp_rejects_unsupported():
    p = bytearray(_bmp_payload(2))
    struct.pack_into("<H", p, 28, 8)  # 8bpp
    with pytest.raises(ValueError):
        decode_bmp(bytes(p))
    with pytest.raises(ValueError):
        decode_bmp(b"PNG\x00garbage")


def test_decode_image_real_routes_bmp():
    assert np.array_equal(
        decode_image_real(_bmp_payload(8)), _expected_pixels(8)
    )


def test_wav_roundtrip():
    for doc_id in range(1, 41, 2):
        rate, s = decode_wav(_wav_payload(doc_id))
        assert rate == 8000 + (doc_id % 4) * 4000
        n = 200 + (doc_id * 31) % 800
        i = np.arange(n)
        assert np.array_equal(s, (doc_id * 7 + i * 13) % 2001 - 1000)


def test_wav_walks_odd_sized_chunks():
    # plant an odd-sized chunk (word-aligned advance: size 5 ->
    # skip 6) between fmt and data; decode must still find data
    p = _wav_payload(3)
    fmt_end = 12 + 8 + 16
    odd = b"junk" + struct.pack("<I", 5) + b"abcde" + b"\x00"
    hacked = bytearray(p[:fmt_end] + odd + p[fmt_end:])
    struct.pack_into(
        "<I", hacked, 4, len(hacked) - 8
    )
    rate, s = decode_wav(bytes(hacked))
    rate0, s0 = decode_wav(p)
    assert rate == rate0 and np.array_equal(s, s0)


def test_wav_rejects_non_pcm():
    p = bytearray(_wav_payload(5))
    struct.pack_into("<H", p, 20, 3)  # IEEE float format tag
    with pytest.raises(ValueError):
        decode_wav(bytes(p))
    with pytest.raises(ValueError):
        decode_wav(b"OggS\x00\x00")


def _ref_ahash(doc_id: int) -> tuple[int, int]:
    # independent straightforward reference: per-block double loop
    a = _expected_pixels(doc_id).astype(np.int64)
    h, w = a.shape[:2]
    luma = a[:, :, 2] * 299 + a[:, :, 1] * 587 + a[:, :, 0] * 114
    vals = np.zeros(64, dtype=np.int64)
    cnt = np.zeros(64, dtype=np.int64)
    for y in range(h):
        for x in range(w):
            b = (y * 8 // h) * 8 + (x * 8 // w)
            vals[b] += luma[y, x]
            cnt[b] += 1
    # an image narrower or shorter than 8 px leaves blocks with no
    # pixel; like bmp_ahash they average to 0
    vals = vals // np.maximum(cnt, 1)
    mean = int(vals.sum()) // 64
    bits = (vals > mean).astype(np.int64)
    idx = np.arange(64)
    lo = int(np.sum(bits[idx < 32] << idx[idx < 32]))
    hi = int(np.sum(bits[idx >= 32] << (idx[idx >= 32] - 32)))
    return hi, lo


def test_bmp_ahash_matches_reference(spark):
    from osmgraft.operators.multimodal import bmp_ahash, synth_bmp

    got = {
        r.doc_id: (r.ahash_hi, r.ahash_lo)
        for r in bmp_ahash(synth_bmp(spark, 40)).collect()
    }
    assert got == {d: _ref_ahash(d) for d in range(0, 40, 2)}
