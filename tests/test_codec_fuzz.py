"""Property-based fuzz over the from-scratch VP8L lossless codec
(hypothesis): it must round-trip EXACTLY on arbitrary images. This
complements the structured-oracle tests in test_vp8l.py with
adversarial shapes (1-pixel images, odd dims, extreme values)."""

from __future__ import annotations

import numpy as np
from hypothesis import given, settings, strategies as st

from etfconstituentextractor_spark.operators.vp8l import decode_vp8l, encode_vp8l


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
@given(_images(channels=(1, 3, 4)), st.booleans())
def test_vp8l_roundtrip_exact_on_arbitrary_images(img, subtract_green):
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

