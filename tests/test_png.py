"""From-scratch PNG codec (operators/png.py): every filter type and
color layout must decode to the original pixels, verified against an
independent pure-Python unfilter reimplementation."""

from __future__ import annotations

import random
import struct
import zlib

import numpy as np
import pytest

from etfconstituentextractor_spark.operators.png import (
    PNG_SIGNATURE,
    decode_png,
    encode_png,
)


def _rand_img(rng, h, w, c):
    return np.array(
        [[[rng.randrange(256) for _ in range(c)] for _ in range(w)] for _ in range(h)],
        dtype=np.uint8,
    )


def _py_unfilter(raw: bytes, h: int, w: int, c: int) -> list[int]:
    """Scalar from-scratch unfilter (RFC 2083 §6) — independent of the
    numpy decoder's vectorization choices."""
    stride = w * c
    out: list[list[int]] = []
    pos = 0
    for y in range(h):
        ftype = raw[pos]
        line = list(raw[pos + 1 : pos + 1 + stride])
        pos += 1 + stride
        prev = out[y - 1] if y > 0 else [0] * stride
        cur: list[int] = []
        for i in range(stride):
            a = cur[i - c] if i >= c else 0
            b = prev[i]
            cc = prev[i - c] if i >= c else 0
            if ftype == 0:
                v = line[i]
            elif ftype == 1:
                v = line[i] + a
            elif ftype == 2:
                v = line[i] + b
            elif ftype == 3:
                v = line[i] + ((a + b) // 2)
            elif ftype == 4:
                p = a + b - cc
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - cc)
                pred = a if pa <= pb and pa <= pc else (b if pb <= pc else cc)
                v = line[i] + pred
            else:
                raise ValueError(ftype)
            cur.append(v & 0xFF)
        out.append(cur)
    return [v for row in out for v in row]


@pytest.mark.parametrize("channels", [1, 2, 3, 4])
@pytest.mark.parametrize("ftype", [0, 1, 2, 3, 4])
def test_roundtrip_every_filter_and_layout(channels, ftype):
    rng = random.Random(1000 + channels * 10 + ftype)
    img = _rand_img(rng, 5, 7, channels)
    blob = encode_png(img, row_filters=ftype)
    w, h, c, got = decode_png(blob)
    assert (w, h, c) == (7, 5, channels)
    assert np.array_equal(got, img)


def test_mixed_row_filters_match_python_oracle():
    rng = random.Random(7)
    img = _rand_img(rng, 5, 4, 3)
    filters = [0, 1, 2, 3, 4]
    blob = encode_png(img, row_filters=filters)
    # decode via the numpy decoder
    _, _, _, got = decode_png(blob)
    assert np.array_equal(got, img)
    # independently: inflate the IDAT ourselves and unfilter scalar-wise
    pos = len(PNG_SIGNATURE)
    idat = b""
    while pos + 8 <= len(blob):
        (length,) = struct.unpack(">I", blob[pos : pos + 4])
        ctype = blob[pos + 4 : pos + 8]
        if ctype == b"IDAT":
            idat += blob[pos + 8 : pos + 8 + length]
        pos += 12 + length
    raw = zlib.decompress(idat)
    assert _py_unfilter(raw, 5, 4, 3) == list(img.reshape(-1))


def test_decode_rejects_out_of_profile():
    img = np.zeros((2, 2, 3), np.uint8)
    good = encode_png(img)
    with pytest.raises(ValueError, match="signature"):
        decode_png(b"JFIF" + good[4:])
    # palette color type (3) is IN profile since the finish session —
    # but only with its PLTE chunk; color type 7 stays out of profile
    bad_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 3, 0, 0, 0)
    blob = PNG_SIGNATURE + _chunk(b"IHDR", bad_ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="PLTE"):
        decode_png(blob)
    bad_ihdr = struct.pack(">IIBBBBB", 2, 2, 8, 7, 0, 0, 0)
    blob = PNG_SIGNATURE + _chunk(b"IHDR", bad_ihdr) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="color type"):
        decode_png(blob)
    # 16-bit depth is out of profile
    bad_depth = struct.pack(">IIBBBBB", 2, 2, 16, 2, 0, 0, 0)
    blob = PNG_SIGNATURE + _chunk(b"IHDR", bad_depth) + _chunk(b"IEND", b"")
    with pytest.raises(ValueError, match="bit depth"):
        decode_png(blob)
    # truncated pixel stream
    with pytest.raises(ValueError):
        decode_png(good[:-20])


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload))
    )


def test_adam7_and_palette_roundtrips():
    """The finish-session close of the PNG surface: Adam7-interlaced
    streams (every filter type, ragged shapes incl. passes that are
    empty) and color-type-3 palettes (with and without tRNS alpha)
    decode exactly."""
    import numpy as np

    from etfconstituentextractor_spark.operators.png import encode_png_paletted

    rng = np.random.default_rng(4)
    for shape in [(1, 1, 1), (3, 5, 3), (16, 16, 4), (9, 8, 3), (7, 1, 1), (1, 9, 4)]:
        img = rng.integers(0, 256, shape, np.uint8)
        for f in range(5):
            _, _, _, out = decode_png(encode_png(img, row_filters=f, interlace=True))
            assert np.array_equal(out, img), (shape, f)
        # interlaced and sequential decode to the same pixels
        _, _, _, seq = decode_png(encode_png(img))
        _, _, _, il = decode_png(encode_png(img, interlace=True))
        assert np.array_equal(seq, il)

    idx = rng.integers(0, 5, (11, 13), np.uint8)
    pal = rng.integers(0, 256, (5, 3), np.uint8)
    for interlace in (False, True):
        w, h, c, out = decode_png(encode_png_paletted(idx, pal, interlace=interlace))
        assert (w, h, c) == (13, 11, 3)
        assert np.array_equal(out, pal[idx])
        w, h, c, out = decode_png(
            encode_png_paletted(idx, pal, trns=bytes([10, 20, 30]), interlace=interlace)
        )
        alpha = np.full(5, 255, np.uint8)
        alpha[:3] = [10, 20, 30]
        assert c == 4
        assert np.array_equal(out[..., :3], pal[idx])
        assert np.array_equal(out[..., 3], alpha[idx])

    # error paths: missing PLTE, out-of-range index
    import pytest as _pytest

    from etfconstituentextractor_spark.operators.png import _chunk

    no_plte = encode_png_paletted(idx, pal)
    plte_at = no_plte.find(b"PLTE") - 4
    stripped = no_plte[:plte_at] + no_plte[plte_at + 4 + 4 + 15 + 4 :]
    with _pytest.raises(ValueError, match="PLTE"):
        decode_png(stripped)
    with _pytest.raises(ValueError, match="palette range"):
        encode_png_paletted(np.full((2, 2), 9, np.uint8), pal)
