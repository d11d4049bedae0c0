"""GIF codec (operators/gif.py): encode→decode roundtrips across the
encoder subset (palettes to 256 colors, interlace, transparency,
dictionary-clear streams), LZW micro-checks against hand-computed
streams (including the KwKwK case and the early width change), and
malformed-input error paths."""

from __future__ import annotations

import struct

import numpy as np
import pytest

from etfconstituentextractor_spark.operators.gif import (
    decode_gif,
    encode_gif,
    is_gif,
    lzw_decode,
    lzw_encode,
)


def _rgba(img):
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    if img.shape[2] == 3:
        img = np.concatenate(
            [img, np.full(img.shape[:2] + (1,), 255, np.uint8)], axis=2
        )
    return img


# ---------------------------------------------------------------------------
# LZW core
# ---------------------------------------------------------------------------


def test_lzw_roundtrip_patterns():
    rng = np.random.default_rng(5)
    cases = [
        bytes([0]),
        bytes([0, 1, 0, 1, 0, 1, 0, 1]),
        bytes(rng.integers(0, 4, 50000, np.uint8)),   # forces clear-on-full
        bytes(rng.integers(0, 256, 4096, np.uint8)),  # 8-bit alphabet
        bytes(4096 * [7]),                            # long single-symbol run
    ]
    for data in cases:
        mcs = max(2, int(max(data)).bit_length())
        enc = lzw_encode(data, mcs)
        assert bytes(lzw_decode(enc, mcs, len(data))) == data


def test_lzw_kwkwk_hand_stream():
    """'aaaa' compresses to [clear, 0, 4, eoi] where 4 is emitted
    before the decoder has defined it — the KwKwK rule."""
    enc = lzw_encode(b"\x00\x00\x00", 2)
    # decode code stream manually: width 3, clear=4, eoi=5
    codes = []
    pos = 0
    for _ in range(4):
        c = 0
        for i in range(3):
            c |= ((enc[(pos + i) >> 3] >> ((pos + i) & 7)) & 1) << i
        codes.append(c)
        pos += 3
    assert codes == [4, 0, 6, 5]  # clear, 'a', KwKwK code 6 ('aa'), eoi
    assert bytes(lzw_decode(enc, 2, 3)) == b"\x00\x00\x00"


def test_lzw_rejects_out_of_range_code():
    # width 3 after clear: code 7 is beyond next assignable (6)
    bits = [4, 7]  # clear, invalid
    buf = bytearray()
    pos = 0
    for c in bits:
        for i in range(3):
            if (c >> i) & 1:
                while (pos + i) >> 3 >= len(buf):
                    buf.append(0)
                buf[(pos + i) >> 3] |= 1 << ((pos + i) & 7)
        while (pos + 2) >> 3 >= len(buf):
            buf.append(0)
        pos += 3
    with pytest.raises(ValueError, match="out of range"):
        lzw_decode(bytes(buf), 2, 10)
    with pytest.raises(ValueError, match="min code size"):
        lzw_decode(b"", 1, 1)


# ---------------------------------------------------------------------------
# container roundtrips
# ---------------------------------------------------------------------------


def test_roundtrip_shapes_and_palettes():
    rng = np.random.default_rng(11)
    for shape, levels in [((1, 1), 2), ((3, 5), 4), ((16, 16), 16), ((37, 53), 256)]:
        img = (rng.integers(0, levels, shape, np.uint8) * (256 // levels)).astype(
            np.uint8
        )
        out = decode_gif(encode_gif(img))
        assert (out == _rgba(img)).all(), (shape, levels)


def test_roundtrip_rgb_and_interlace():
    rng = np.random.default_rng(3)
    # 200 distinct colors over a 40x30 image
    pal = rng.integers(0, 256, (200, 3), np.uint8)
    idx = rng.integers(0, 200, (30, 40))
    img = pal[idx]
    plain = decode_gif(encode_gif(img))
    inter = decode_gif(encode_gif(img, interlace=True))
    assert (plain == _rgba(img)).all()
    assert (inter == plain).all()  # interlace is layout, not content


def test_interlace_row_order_hand_check():
    """A column gradient pins the 4-pass row permutation: the stored
    rows must be 0,8,4,2,6,1,3,5,7,9... and decode must invert it."""
    img = np.repeat(np.arange(10, dtype=np.uint8)[:, None] * 20, 4, axis=1)
    img3 = np.stack([img] * 3, axis=-1)
    out = decode_gif(encode_gif(img3, interlace=True))
    assert (out[..., 0] == img).all()


def test_transparency_via_gce():
    img = np.zeros((4, 4, 4), np.uint8)
    img[..., :3] = 100
    img[..., 3] = 255
    img[1, 1, 3] = 0  # fully transparent pixel
    out = decode_gif(encode_gif(img, transparent_threshold=128))
    assert out[1, 1, 3] == 0
    assert out[0, 0, 3] == 255 and (out[0, 0, :3] == 100).all()


def test_palette_limits_raise():
    rng = np.random.default_rng(0)
    img = rng.integers(0, 256, (32, 32, 3), np.uint8)  # ~1024 colors
    with pytest.raises(ValueError, match="exceed"):
        encode_gif(img)
    # exactly 256 colors is fine without transparency...
    img = np.zeros((16, 16, 3), np.uint8)
    img[..., 0] = np.arange(256, dtype=np.uint8).reshape(16, 16)
    assert (decode_gif(encode_gif(img)) == _rgba(img)).all()
    # ...but transparency needs a free slot
    img4 = np.concatenate([img, np.full((16, 16, 1), 255, np.uint8)], axis=2)
    with pytest.raises(ValueError, match="transparency"):
        encode_gif(img4, transparent_threshold=1)


def test_first_frame_of_animation_and_offsets():
    """Hand-built 2-frame GIF: decode returns frame 1 composited at
    its offset; frame 2 is structurally skipped but must be walkable."""
    base = encode_gif(np.full((2, 2, 3), 50, np.uint8))
    # strip trailer, re-point the image descriptor to offset (1,1) on a
    # 4x3 screen, then append a second frame and the trailer
    assert base[:6] == b"GIF89a"
    frame = base[13 + 2 * 3 :]  # skip header + 1-bit GCT (2 entries)
    gct = base[13 : 13 + 6]
    hdr = b"GIF89a" + struct.pack("<HHBBB", 4, 3, 0x80, 0, 0) + gct
    desc = bytearray(frame[:-1])  # drop trailer
    assert desc[0] == 0x2C
    desc[1:5] = struct.pack("<HH", 1, 1)
    blob = hdr + bytes(desc) + bytes(desc) + b"\x3b"
    out = decode_gif(blob)
    assert out.shape == (3, 4, 4)
    assert (out[1:3, 1:3, :3] == 50).all() and (out[1:3, 1:3, 3] == 255).all()
    assert (out[0, :, 3] == 0).all()  # uncovered screen is transparent


def test_malformed_inputs():
    good = encode_gif(np.full((3, 3, 3), 9, np.uint8))
    assert is_gif(good) and not is_gif(b"PNG")
    with pytest.raises(ValueError, match="signature"):
        decode_gif(b"NOTAGIF" + good[6:])
    with pytest.raises(ValueError, match="truncated header"):
        decode_gif(good[:10])
    with pytest.raises(ValueError):
        decode_gif(good[:-5])  # truncated stream
    with pytest.raises(ValueError, match="unknown block"):
        decode_gif(good[:-1] + b"\x99")
    # frame larger than the logical screen
    bad = bytearray(good)
    bad[6:8] = struct.pack("<H", 2)  # shrink screen width under frame
    with pytest.raises(ValueError, match="exceeds logical screen"):
        decode_gif(bytes(bad))


def test_fuzz_roundtrip():
    rng = np.random.default_rng(99)
    for _ in range(25):
        h, w = int(rng.integers(1, 24)), int(rng.integers(1, 24))
        levels = int(rng.integers(2, 17))
        img = (rng.integers(0, levels, (h, w), np.uint8) * 15).astype(np.uint8)
        inter = bool(rng.integers(0, 2))
        assert (decode_gif(encode_gif(img, interlace=inter)) == _rgba(img)).all()


def test_gce_scoping_last_one_wins():
    """Two GCEs before the image: the LAST governs — a clear
    transparency flag must reset an earlier set index (review r7)."""
    base = encode_gif(
        np.concatenate(
            [np.full((2, 2, 3), 40, np.uint8), np.full((2, 2, 1), 255, np.uint8)], axis=2
        ),
        transparent_threshold=None,
    )
    # base has no GCE; splice two in before the image descriptor
    idesc = base.index(b"\x2c")
    gce_on = b"\x21\xf9\x04" + bytes((1, 0, 0, 0)) + b"\x00"   # transparent idx 0
    gce_off = b"\x21\xf9\x04" + bytes((0, 0, 0, 0)) + b"\x00"  # flag clear
    # on -> off: nothing transparent
    blob = base[:idesc] + gce_on + gce_off + base[idesc:]
    assert (decode_gif(blob)[..., 3] == 255).all()
    # off -> on: index 0 transparent (all pixels are palette idx 0)
    blob = base[:idesc] + gce_off + gce_on + base[idesc:]
    assert (decode_gif(blob)[..., 3] == 0).all()
