"""Property-based fuzz over the from-scratch lossless codecs
(hypothesis): PNG and VP8L must round-trip EXACTLY on arbitrary
images, and PNG decoding must fail with ValueError only. These
complement the structured-oracle tests with adversarial shapes
(1-pixel images, odd dims, extreme values)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from etfconstituentextractor_spark.operators.png import decode_png, encode_png


@st.composite
def _images(draw, max_h=24, max_w=24, channels=(1, 3)):
    h = draw(st.integers(1, max_h))
    w = draw(st.integers(1, max_w))
    c = draw(st.sampled_from(channels))
    data = draw(
        st.binary(min_size=h * w * c, max_size=h * w * c).map(
            lambda b: np.frombuffer(b, dtype=np.uint8).reshape(h, w, c).copy()
        )
    )
    return data


@settings(max_examples=25, deadline=None)
@given(_images(channels=(1, 2, 3, 4)), st.booleans())
def test_png_roundtrip_exact_on_arbitrary_images(img, interlace):
    decoded = decode_png(encode_png(img, interlace=interlace))[3]
    assert decoded.shape == img.shape
    assert np.array_equal(decoded, img)


@settings(max_examples=25, deadline=None)
@given(_images(channels=(1, 3, 4)), st.booleans())
def test_vp8l_roundtrip_exact_on_arbitrary_images(img, subtract_green):
    from etfconstituentextractor_spark.operators.vp8l import (
        decode_vp8l,
        encode_vp8l,
    )

    decoded = decode_vp8l(encode_vp8l(img, use_subtract_green=subtract_green))
    h, w, c = img.shape
    assert decoded.shape == (h, w, 4)
    if c == 1:
        assert np.array_equal(decoded[..., 0], img[..., 0])
        assert np.array_equal(decoded[..., 1], img[..., 0])
    else:
        assert np.array_equal(decoded[..., :c], img)
    if c != 4:
        assert (decoded[..., 3] == 255).all()


def test_decode_error_contract_is_valueerror_only():
    """decode_png promises ValueError on malformed input; corruption
    that internally raises zlib.error / struct.error / IndexError must
    be converted (so the documented 'except ValueError' pattern in
    mapInPandas layers really does yield error rows, not task
    failures)."""
    import pytest

    from etfconstituentextractor_spark.operators.png import PNG_SIGNATURE

    img = np.zeros((9, 11, 3), dtype=np.uint8)
    png = encode_png(img)
    # PNG with its IDAT payload zeroed -> zlib.error internally
    broken = bytearray(png)
    i = bytes(broken).find(b"IDAT")
    broken[i + 4 : i + 12] = b"\x00" * 8
    with pytest.raises(ValueError):
        decode_png(bytes(broken))
    # PNG with a truncated IHDR payload -> struct.error internally
    with pytest.raises(ValueError):
        decode_png(PNG_SIGNATURE + b"\x00\x00\x00\x04IHDR\x00\x00\x00\x00")
