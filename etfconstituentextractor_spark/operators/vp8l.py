"""WebP-lossless (VP8L) codec, from scratch on the stdlib + numpy
(SURVEY.md §2B "LLM-pipeline — multimodal": closing the codec family
beside the from-scratch PNG codec (`operators/png.py`); reference
R12/R22 parity — decode
failures become error rows, never prints,
`ETFQuarterlyHoldingsExtractor.py:120-126`).

Decoder implements the full VP8L stream per the public spec (RFC
9649 / the WebP lossless bitstream document): LSB-first bitstream,
canonical prefix codes (simple and code-length-coded variants,
including max-symbol short-circuit), optional color cache, optional
meta-prefix group image, LZ77 backward references with the 120-entry
2-D short-distance map, and all four transforms (predictor, color,
subtract-green, color-indexing incl. sub-byte bundling) inverted in
reverse bitstream order.

Encoder emits a deliberately small VALID subset — literal-only (no
LZ77, no color cache, no meta groups), optional subtract-green, one
prefix group with length-limited canonical Huffman codes and
RLE-coded code lengths. That is enough to roundtrip arbitrary images
through the decoder; decoder-only paths (predictor/color/palette
transforms, cache, back-references) are exercised by hand-built
streams in tests/test_vp8l.py via the same _BitWriter.

Pure-Python per-pixel loops: this codec runs inside mapInPandas
workers on individual blobs (documents are the parallel unit — the
operator scales by partitioning blobs, not by vectorizing one image).
"""

from __future__ import annotations

import struct

import numpy as np

# ---------------------------------------------------------------------------
# bitstream
# ---------------------------------------------------------------------------


class _BitReader:
    """LSB-first bit reader (VP8L convention: the first bit of a byte
    is its least significant)."""

    def __init__(self, data: bytes):
        self.data = data
        self.pos = 0  # bit position

    def read(self, n: int) -> int:
        v = 0
        for i in range(n):
            byte_i, bit_i = divmod(self.pos, 8)
            if byte_i >= len(self.data):
                raise ValueError("truncated VP8L stream")
            v |= ((self.data[byte_i] >> bit_i) & 1) << i
            self.pos += 1
        return v

    def read_bit(self) -> int:
        byte_i, bit_i = divmod(self.pos, 8)
        if byte_i >= len(self.data):
            raise ValueError("truncated VP8L stream")
        self.pos += 1
        return (self.data[byte_i] >> bit_i) & 1


class _BitWriter:
    """LSB-first bit writer (the encoder/test-vector twin)."""

    def __init__(self):
        self.bytes = bytearray()
        self.bit = 0

    def write(self, value: int, n: int) -> None:
        for i in range(n):
            if self.bit == 0:
                self.bytes.append(0)
            if (value >> i) & 1:
                self.bytes[-1] |= 1 << self.bit
            self.bit = (self.bit + 1) % 8

    def write_code(self, code: int, length: int) -> None:
        """Prefix-code bits go MSB-first (decoder accumulates
        code = (code << 1) | bit)."""
        for i in range(length - 1, -1, -1):
            self.write((code >> i) & 1, 1)

    def getvalue(self) -> bytes:
        return bytes(self.bytes)


# ---------------------------------------------------------------------------
# canonical prefix codes
# ---------------------------------------------------------------------------

#: order in which code-length-code lengths are transmitted
_CLC_ORDER = (17, 18, 0, 1, 2, 3, 4, 5, 6, 7, 8, 9, 10, 11, 12, 13, 14, 15, 16)

#: 2-D short-distance map: first 120 distance codes address a pixel
#: neighborhood, (dx, dy) pairs pinned as a LITERAL, verified
#: byte-for-byte against libwebp's kCodeToPlane table (extracted from
#: the system libwebp.so binary — all 120 entries match): the window
#: is dx∈[-7,8], dy∈[0,7] (dy=0 → dx>0) — exactly 120 entries, the
#: range the spec's nibble encoding can represent (xoffset =
#: 8 - (code & 0xF) spans -7..8; yoffset = code >> 4 spans 0..7) —
#: ordered by (squared distance, then larger dy, then larger dx),
#: INCLUDING the d²=61 tie group at codes 93-96 which reads
#: (5,6),(-5,6),(6,5),(-6,5). A literal rather than the equivalent
#: sort so any future tweak to the heuristic cannot silently move
#: tie groups (full-table + window-shape pins in tests/test_vp8l.py).
_DIST_MAP = [
    (0, 1), (1, 0), (1, 1), (-1, 1), (0, 2), (2, 0), (1, 2), (-1, 2),
    (2, 1), (-2, 1), (2, 2), (-2, 2), (0, 3), (3, 0), (1, 3), (-1, 3),
    (3, 1), (-3, 1), (2, 3), (-2, 3), (3, 2), (-3, 2), (0, 4), (4, 0),
    (1, 4), (-1, 4), (4, 1), (-4, 1), (3, 3), (-3, 3), (2, 4), (-2, 4),
    (4, 2), (-4, 2), (0, 5), (3, 4), (-3, 4), (4, 3), (-4, 3), (5, 0),
    (1, 5), (-1, 5), (5, 1), (-5, 1), (2, 5), (-2, 5), (5, 2), (-5, 2),
    (4, 4), (-4, 4), (3, 5), (-3, 5), (5, 3), (-5, 3), (0, 6), (6, 0),
    (1, 6), (-1, 6), (6, 1), (-6, 1), (2, 6), (-2, 6), (6, 2), (-6, 2),
    (4, 5), (-4, 5), (5, 4), (-5, 4), (3, 6), (-3, 6), (6, 3), (-6, 3),
    (0, 7), (7, 0), (1, 7), (-1, 7), (5, 5), (-5, 5), (7, 1), (-7, 1),
    (4, 6), (-4, 6), (6, 4), (-6, 4), (2, 7), (-2, 7), (7, 2), (-7, 2),
    (3, 7), (-3, 7), (7, 3), (-7, 3), (5, 6), (-5, 6), (6, 5), (-6, 5),
    (8, 0), (4, 7), (-4, 7), (7, 4), (-7, 4), (8, 1), (8, 2), (6, 6),
    (-6, 6), (8, 3), (5, 7), (-5, 7), (7, 5), (-7, 5), (8, 4), (6, 7),
    (-6, 7), (7, 6), (-7, 6), (8, 5), (7, 7), (-7, 7), (8, 6), (8, 7),
]
assert len(_DIST_MAP) == 120


class _PrefixCode:
    """Decode table for one canonical prefix code. ``zero_bit`` marks
    the degenerate single-symbol code that consumes no bits."""

    def __init__(self, table: dict[tuple[int, int], int], max_len: int, only: int | None):
        self.table = table
        self.max_len = max_len
        self.only = only  # single-symbol code → no bits read

    def decode(self, br: _BitReader) -> int:
        if self.only is not None:
            return self.only
        code = 0
        for length in range(1, self.max_len + 1):
            code = (code << 1) | br.read_bit()
            sym = self.table.get((length, code))
            if sym is not None:
                return sym
        raise ValueError("invalid prefix code in stream")


def _canonical_codes(lengths: list[int]) -> dict[int, tuple[int, int]]:
    """symbol → (code, length), DEFLATE-style canonical assignment
    (ascending length, then ascending symbol)."""
    max_len = max(lengths, default=0)
    bl_count = [0] * (max_len + 1)
    for l in lengths:
        if l:
            bl_count[l] += 1
    code = 0
    next_code = [0] * (max_len + 2)
    for l in range(1, max_len + 1):
        code = (code + bl_count[l - 1]) << 1
        next_code[l] = code
    out = {}
    for sym, l in enumerate(lengths):
        if l:
            out[sym] = (next_code[l], l)
            next_code[l] += 1
    return out


def _build_prefix(lengths: list[int]) -> _PrefixCode:
    used = [(s, l) for s, l in enumerate(lengths) if l > 0]
    if not used:
        raise ValueError("prefix code with no symbols")
    if len(used) == 1:
        return _PrefixCode({}, 0, used[0][0])
    # completeness check: Kraft sum must be exactly 1 for >1 symbol
    kraft = sum(2 ** -l for _, l in used)
    if abs(kraft - 1.0) > 1e-12:
        raise ValueError(f"incomplete/over-subscribed prefix code (kraft={kraft})")
    codes = _canonical_codes(lengths)
    table = {(l, c): s for s, (c, l) in codes.items()}
    return _PrefixCode(table, max(l for _, l in used), None)


def _read_prefix_code(br: _BitReader, alphabet_size: int) -> _PrefixCode:
    """One prefix code: 'simple' (1-2 symbols inline) or 'normal'
    (code lengths themselves prefix-coded)."""
    if br.read_bit():  # simple
        num_symbols = br.read_bit() + 1
        if br.read_bit():  # first symbol is 8 bits
            sym0 = br.read(8)
        else:
            sym0 = br.read_bit()
        if sym0 >= alphabet_size:
            raise ValueError("simple-code symbol out of range")
        if num_symbols == 1:
            return _PrefixCode({}, 0, sym0)
        sym1 = br.read(8)
        if sym1 >= alphabet_size or sym1 == sym0:
            raise ValueError("bad simple-code second symbol")
        # simple codes assign bit 0/1 in TRANSMISSION order
        return _PrefixCode({(1, 0): sym0, (1, 1): sym1}, 1, None)
    # normal: read code-length-code, then the symbol lengths
    num_clc = 4 + br.read(4)
    clc_lengths = [0] * 19
    for i in range(num_clc):
        clc_lengths[_CLC_ORDER[i]] = br.read(3)
    clc = _build_prefix(clc_lengths)
    if br.read_bit():  # use max_symbol
        length_nbits = 2 + 2 * br.read(3)
        max_symbol = 2 + br.read(length_nbits)
    else:
        max_symbol = alphabet_size
    lengths = [0] * alphabet_size
    prev_len = 8
    sym = 0
    while sym < alphabet_size:
        if max_symbol == 0:
            break
        max_symbol -= 1
        cl = clc.decode(br)
        if cl < 16:
            lengths[sym] = cl
            sym += 1
            if cl:
                prev_len = cl
        elif cl == 16:
            for _ in range(3 + br.read(2)):
                if sym >= alphabet_size:
                    raise ValueError("code-length repeat overruns alphabet")
                lengths[sym] = prev_len
                sym += 1
        elif cl == 17:
            sym += 3 + br.read(3)
        else:  # 18
            sym += 11 + br.read(7)
        if sym > alphabet_size:
            raise ValueError("code-length zero-run overruns alphabet")
    return _build_prefix(lengths)


def _lz77_value(prefix_code: int, br: _BitReader) -> int:
    """Length/distance prefix value: 0-3 literal, then (2+parity)
    << extra ranges."""
    if prefix_code < 4:
        return prefix_code + 1
    extra = (prefix_code - 2) >> 1
    offset = (2 + (prefix_code & 1)) << extra
    return offset + br.read(extra) + 1


def _map_distance(dist_code: int, width: int) -> int:
    if dist_code > 120:
        return dist_code - 120
    dx, dy = _DIST_MAP[dist_code - 1]
    return max(1, dy * width + dx)


# ---------------------------------------------------------------------------
# entropy-coded image
# ---------------------------------------------------------------------------

_NUM_LENGTH_CODES = 24
_NUM_DISTANCE_CODES = 40
_CACHE_MULT = 0x1E35A7BD


def _read_code_group(br: _BitReader, cache_size: int) -> list[_PrefixCode]:
    return [
        _read_prefix_code(br, 256 + _NUM_LENGTH_CODES + cache_size),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, 256),
        _read_prefix_code(br, _NUM_DISTANCE_CODES),
    ]


def _decode_image(br: _BitReader, width: int, height: int, is_main: bool) -> list[int]:
    """Decode one spatially-coded ARGB image to a row-major list of
    uint32 ARGB values. Transform sub-images and the entropy image are
    the is_main=False case (no meta-prefix allowed)."""
    cache_bits = 0
    if br.read_bit():
        cache_bits = br.read(4)
        if not 1 <= cache_bits <= 11:
            raise ValueError(f"bad color-cache bits {cache_bits}")
    cache_size = (1 << cache_bits) if cache_bits else 0

    meta = None
    meta_bits = 0
    n_groups = 1
    if is_main and br.read_bit():
        meta_bits = br.read(3) + 2
        mw = (width + (1 << meta_bits) - 1) >> meta_bits
        mh = (height + (1 << meta_bits) - 1) >> meta_bits
        meta_px = _decode_image(br, mw, mh, False)
        meta = [((p >> 8) & 0xFFFF) for p in meta_px]  # (red<<8)|green
        n_groups = max(meta) + 1

    groups = [_read_code_group(br, cache_size) for _ in range(n_groups)]
    cache = [0] * cache_size
    cache_shift = 32 - cache_bits if cache_bits else 0

    out: list[int] = []
    n = width * height
    mw = (width + (1 << meta_bits) - 1) >> meta_bits if meta is not None else 0

    def group_at(pos: int) -> list[_PrefixCode]:
        if meta is None:
            return groups[0]
        x, y = pos % width, pos // width
        return groups[meta[(y >> meta_bits) * mw + (x >> meta_bits)]]

    def emit(argb: int) -> None:
        out.append(argb)
        if cache_size:
            cache[((_CACHE_MULT * argb) & 0xFFFFFFFF) >> cache_shift] = argb

    while len(out) < n:
        g = group_at(len(out))
        s = g[0].decode(br)
        if s < 256:
            red = g[1].decode(br)
            blue = g[2].decode(br)
            alpha = g[3].decode(br)
            emit((alpha << 24) | (red << 16) | (s << 8) | blue)
        elif s < 256 + _NUM_LENGTH_CODES:
            length = _lz77_value(s - 256, br)
            dist_code = _lz77_value(g[4].decode(br), br)
            dist = _map_distance(dist_code, width)
            if dist > len(out):
                raise ValueError("LZ77 distance before image start")
            for _ in range(length):
                if len(out) >= n:
                    raise ValueError("LZ77 copy overruns image")
                emit(out[-dist])
        else:
            if not cache_size:
                raise ValueError("cache symbol without color cache")
            idx = s - 256 - _NUM_LENGTH_CODES
            emit(cache[idx])
    return out


# ---------------------------------------------------------------------------
# inverse transforms
# ---------------------------------------------------------------------------


def _avg2(a: int, b: int) -> int:
    return (
        ((((a >> 24) & 0xFF) + ((b >> 24) & 0xFF)) >> 1) << 24
        | ((((a >> 16) & 0xFF) + ((b >> 16) & 0xFF)) >> 1) << 16
        | ((((a >> 8) & 0xFF) + ((b >> 8) & 0xFF)) >> 1) << 8
        | ((a & 0xFF) + (b & 0xFF)) >> 1
    )


def _channels(p: int) -> tuple[int, int, int, int]:
    return (p >> 24) & 0xFF, (p >> 16) & 0xFF, (p >> 8) & 0xFF, p & 0xFF


def _select(l: int, t: int, tl: int) -> int:
    la, lr, lg, lb = _channels(l)
    ta, tr, tg, tb = _channels(t)
    ca, cr, cg, cb = _channels(tl)
    pa, pr, pg, pb = la + ta - ca, lr + tr - cr, lg + tg - cg, lb + tb - cb
    p_l = abs(pa - la) + abs(pr - lr) + abs(pg - lg) + abs(pb - lb)
    p_t = abs(pa - ta) + abs(pr - tr) + abs(pg - tg) + abs(pb - tb)
    return l if p_l < p_t else t


def _clamp(v: int) -> int:
    return 0 if v < 0 else 255 if v > 255 else v


def _cas_full(l: int, t: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        out |= _clamp(((l >> shift) & 0xFF) + ((t >> shift) & 0xFF) - ((tl >> shift) & 0xFF)) << shift
    return out


def _cas_half(ave: int, tl: int) -> int:
    out = 0
    for shift in (24, 16, 8, 0):
        a = (ave >> shift) & 0xFF
        b = (tl >> shift) & 0xFF
        d = a - b
        # C truncation toward zero
        out |= _clamp(a + (d // 2 if d >= 0 else -((-d) // 2))) << shift
    return out


def _predict(mode: int, px: list[int], x: int, y: int, w: int, i: int) -> int:
    l = px[i - 1]
    t = px[i - w]
    tl = px[i - w - 1] if x > 0 else px[i - w]
    tr = px[i - w + 1]  # at x == w-1 this wraps to the current row's first pixel
    if mode == 0:
        return 0xFF000000
    if mode == 1:
        return l
    if mode == 2:
        return t
    if mode == 3:
        return tr
    if mode == 4:
        return tl
    if mode == 5:
        return _avg2(_avg2(l, tr), t)
    if mode == 6:
        return _avg2(l, tl)
    if mode == 7:
        return _avg2(l, t)
    if mode == 8:
        return _avg2(tl, t)
    if mode == 9:
        return _avg2(t, tr)
    if mode == 10:
        return _avg2(_avg2(l, tl), _avg2(t, tr))
    if mode == 11:
        return _select(l, t, tl)
    if mode == 12:
        return _cas_full(l, t, tl)
    if mode == 13:
        return _cas_half(_avg2(l, t), tl)
    raise ValueError(f"bad predictor mode {mode}")


def _add_px(a: int, b: int) -> int:
    """Per-channel modular addition."""
    return (
        ((((a >> 24) + (b >> 24)) & 0xFF) << 24)
        | ((((a >> 16) + (b >> 16)) & 0xFF) << 16)
        | ((((a >> 8) + (b >> 8)) & 0xFF) << 8)
        | ((a + b) & 0xFF)
    )


def _inv_predictor(px: list[int], w: int, h: int, bits: int, sub: list[int]) -> None:
    sw = (w + (1 << bits) - 1) >> bits
    for i in range(w * h):
        x, y = i % w, i // w
        if x == 0 and y == 0:
            pred = 0xFF000000
        elif y == 0:
            pred = px[i - 1]  # top row: left
        elif x == 0:
            pred = px[i - w]  # first column: top
        else:
            mode = (sub[(y >> bits) * sw + (x >> bits)] >> 8) & 0xFF
            pred = _predict(mode, px, x, y, w, i)
        px[i] = _add_px(px[i], pred)


def _s8(v: int) -> int:
    return v - 256 if v > 127 else v


def _ct_delta(t: int, c: int) -> int:
    return (_s8(t) * _s8(c)) >> 5


def _inv_color(px: list[int], w: int, h: int, bits: int, sub: list[int]) -> None:
    sw = (w + (1 << bits) - 1) >> bits
    for i in range(w * h):
        x, y = i % w, i // w
        cte = sub[(y >> bits) * sw + (x >> bits)]
        red_to_blue = (cte >> 16) & 0xFF
        green_to_blue = (cte >> 8) & 0xFF
        green_to_red = cte & 0xFF
        a, r, g, b = _channels(px[i])
        r = (r + _ct_delta(green_to_red, g)) & 0xFF
        b = (b + _ct_delta(green_to_blue, g) + _ct_delta(red_to_blue, r)) & 0xFF
        px[i] = (a << 24) | (r << 16) | (g << 8) | b


def _inv_subtract_green(px: list[int]) -> None:
    for i, p in enumerate(px):
        g = (p >> 8) & 0xFF
        r = (((p >> 16) & 0xFF) + g) & 0xFF
        b = ((p & 0xFF) + g) & 0xFF
        px[i] = (p & 0xFF00FF00) | (r << 16) | b


def _inv_palette(
    px: list[int], packed_w: int, h: int, orig_w: int, width_bits: int, palette: list[int]
) -> list[int]:
    out = [0] * (orig_w * h)
    if width_bits == 0:
        for i, p in enumerate(px):
            idx = (p >> 8) & 0xFF
            out[i] = palette[idx] if idx < len(palette) else 0
        return out
    per = 1 << width_bits  # pixels per packed green byte
    bits = 8 >> width_bits  # bits per index
    mask = (1 << bits) - 1
    for y in range(h):
        for x in range(orig_w):
            packed = px[y * packed_w + (x >> width_bits)]
            green = (packed >> 8) & 0xFF
            idx = (green >> ((x % per) * bits)) & mask
            out[y * orig_w + x] = palette[idx] if idx < len(palette) else 0
    return out


# ---------------------------------------------------------------------------
# decoder entry
# ---------------------------------------------------------------------------

_SIGNATURE = 0x2F


def is_vp8l(data: bytes) -> bool:
    """True when ``data`` is a decodable-format candidate: a bare VP8L
    stream or a RIFF/WEBP container holding a VP8L chunk. False for
    lossy 'VP8 ' payloads, non-WEBP RIFF (e.g. WAV), and anything
    else — those stay in the caller's declared ``codec_unsupported``
    category; only true VP8L candidates that then fail to parse are
    decode ERRORS. A bare stream is claimed only when the 5-byte
    header is present AND its 3 version bits (top bits of byte 4,
    LSB-first layout: 14w+14h+1alpha+3version) are zero — ordinary
    text/binary blobs that merely start with 0x2F ('/') are not
    routed to decode."""
    if data[:1] == bytes([_SIGNATURE]):
        return len(data) >= 5 and (data[4] >> 5) == 0
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        return False
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        if tag == b"VP8L":
            return True
        if tag == b"VP8 ":
            return False
        pos += 8 + size + (size & 1)
    return False


def strip_riff(data: bytes) -> bytes:
    """Extract the VP8L chunk payload from a RIFF/WEBP container (or
    return bare VP8L data unchanged). Lossy 'VP8 ' chunks raise."""
    if data[:1] == bytes([_SIGNATURE]):
        return data
    if data[:4] != b"RIFF" or data[8:12] != b"WEBP":
        raise ValueError("neither bare VP8L nor RIFF/WEBP container")
    pos = 12
    while pos + 8 <= len(data):
        tag = data[pos : pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4 : pos + 8])
        body = data[pos + 8 : pos + 8 + size]
        if tag == b"VP8L":
            return body
        if tag == b"VP8 ":
            raise ValueError("lossy VP8 payload (only VP8L lossless supported)")
        pos += 8 + size + (size & 1)
    raise ValueError("no VP8L chunk in WEBP container")


def decode_vp8l(data: bytes) -> np.ndarray:
    """Decode a VP8L stream (bare or RIFF-wrapped) to an (h, w, 4)
    RGBA uint8 array."""
    stream = strip_riff(data)
    br = _BitReader(stream)
    if br.read(8) != _SIGNATURE:
        raise ValueError("bad VP8L signature")
    w = br.read(14) + 1
    h = br.read(14) + 1
    br.read(1)  # alpha hint
    if br.read(3) != 0:
        raise ValueError("unsupported VP8L version")

    cur_w = w
    transforms: list[tuple[int, tuple]] = []
    seen: set[int] = set()
    while br.read_bit():
        t = br.read(2)
        if t in seen:
            raise ValueError(f"duplicate transform {t}")
        seen.add(t)
        if t == 2:  # subtract green
            transforms.append((t, ()))
        elif t in (0, 1):  # predictor / color
            bits = br.read(3) + 2
            sw = (cur_w + (1 << bits) - 1) >> bits
            sh = (h + (1 << bits) - 1) >> bits
            sub = _decode_image(br, sw, sh, False)
            transforms.append((t, (cur_w, bits, sub)))
        elif t == 3:  # color indexing
            psize = br.read(8) + 1
            pal_delta = _decode_image(br, psize, 1, False)
            palette = []
            prev = 0
            for p in pal_delta:  # palette entries are delta-coded
                prev = _add_px(prev, p)
                palette.append(prev)
            width_bits = 3 if psize <= 2 else 2 if psize <= 4 else 1 if psize <= 16 else 0
            packed_w = (cur_w + (1 << width_bits) - 1) >> width_bits
            transforms.append((t, (cur_w, width_bits, palette)))
            cur_w = packed_w

    px = _decode_image(br, cur_w, h, True)

    for t, args in reversed(transforms):
        if t == 2:
            _inv_subtract_green(px)
        elif t == 0:
            tw, bits, sub = args
            _inv_predictor(px, tw, h, bits, sub)
            cur_w = tw
        elif t == 1:
            tw, bits, sub = args
            _inv_color(px, tw, h, bits, sub)
            cur_w = tw
        else:
            orig_w, width_bits, palette = args
            px = _inv_palette(px, cur_w, h, orig_w, width_bits, palette)
            cur_w = orig_w

    arr = np.array(px, dtype=np.uint32).reshape(h, w)
    rgba = np.empty((h, w, 4), dtype=np.uint8)
    rgba[..., 0] = (arr >> 16) & 0xFF
    rgba[..., 1] = (arr >> 8) & 0xFF
    rgba[..., 2] = arr & 0xFF
    rgba[..., 3] = (arr >> 24) & 0xFF
    return rgba


# ---------------------------------------------------------------------------
# encoder (valid literal-only subset)
# ---------------------------------------------------------------------------


def _limited_huffman(counts: list[int], max_len: int) -> list[int]:
    """Canonical Huffman code lengths, length-limited by the classic
    halve-counts-and-retry heuristic. Symbols with count 0 get length
    0; a single used symbol gets the degenerate zero-bit code."""
    import heapq

    cur = list(counts)
    while True:
        used = [(c, s) for s, c in enumerate(cur) if c > 0]
        if not used:
            raise ValueError("empty histogram")
        if len(used) == 1:
            return [0] * len(cur)  # single symbol → zero-bit code
        # heap entries: (count, tiebreak, node); node is a symbol int
        # or a (left, right) pair — tiebreak keeps comparisons on ints
        heap: list[tuple[int, int, object]] = [(c, s, s) for c, s in used]
        heapq.heapify(heap)
        tiebreak = len(cur)
        while len(heap) > 1:
            c1, _, n1 = heapq.heappop(heap)
            c2, _, n2 = heapq.heappop(heap)
            heapq.heappush(heap, (c1 + c2, tiebreak, (n1, n2)))
            tiebreak += 1
        lengths = [0] * len(cur)
        stack: list[tuple[object, int]] = [(heap[0][2], 0)]
        while stack:
            node, depth = stack.pop()
            if isinstance(node, int):
                lengths[node] = max(depth, 1)
            else:
                stack.append((node[0], depth + 1))
                stack.append((node[1], depth + 1))
        if max(lengths) <= max_len:
            return lengths
        cur = [(c + 1) // 2 if c > 0 else 0 for c in cur]


def _write_code_lengths(bw: _BitWriter, lengths: list[int]) -> None:
    """Transmit one prefix code's symbol lengths: RLE to the
    code-length alphabet (16=repeat prev, 17/18=zero runs), then the
    code-length code itself, then the coded sequence."""
    # RLE — a 16-run is only ever emitted immediately after its
    # literal length, which is what satisfies the decoder's
    # repeat-previous-nonzero contract without tracking it here
    seq: list[tuple[int, int]] = []  # (symbol, extra_value)
    i = 0
    n = len(lengths)
    while i < n:
        l = lengths[i]
        run = 1
        while i + run < n and lengths[i + run] == l:
            run += 1
        if l == 0:
            r = run
            while r >= 11:
                take = min(r, 138)
                seq.append((18, take - 11))
                r -= take
            while r >= 3:
                take = min(r, 10)
                seq.append((17, take - 3))
                r -= take
            for _ in range(r):
                seq.append((0, -1))
        else:
            seq.append((l, -1))
            r = run - 1
            while r >= 3:
                take = min(r, 6)
                seq.append((16, take - 3))
                r -= take
            for _ in range(r):
                seq.append((l, -1))
        i += run
    clc_counts = [0] * 19
    for s, _ in seq:
        clc_counts[s] += 1
    clc_lengths = _limited_huffman(clc_counts, 7)
    if max(clc_lengths) == 0:
        # single code-length symbol: give it (and a dummy) length 1 so
        # the transmitted code-length code is complete
        only = next(s for s, c in enumerate(clc_counts) if c > 0)
        other = 0 if only != 0 else 1
        clc_lengths[only] = clc_lengths[other] = 1
    clc_codes = _canonical_codes(clc_lengths)
    bw.write(0, 1)  # not simple
    bw.write(19 - 4, 4)  # num_code_lengths = 19
    for s in _CLC_ORDER:
        bw.write(clc_lengths[s], 3)
    bw.write(0, 1)  # no max_symbol shortcut
    for s, extra in seq:
        code, length = clc_codes[s]
        bw.write_code(code, length)
        if s == 16:
            bw.write(extra, 2)
        elif s == 17:
            bw.write(extra, 3)
        elif s == 18:
            bw.write(extra, 7)


def _write_prefix_code(bw: _BitWriter, lengths: list[int], counts: list[int]) -> dict:
    """Write one prefix code (simple where possible) and return the
    symbol → (code, length) encode map."""
    used = [s for s, c in enumerate(counts) if c > 0]
    if len(used) == 1 and used[0] < 256:
        bw.write(1, 1)  # simple
        bw.write(0, 1)  # one symbol
        if used[0] <= 1:
            bw.write(0, 1)
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        return {used[0]: (0, 0)}
    if len(used) == 2 and all(s < 256 for s in used):
        bw.write(1, 1)
        bw.write(1, 1)  # two symbols
        if used[0] <= 1:
            bw.write(0, 1)
            bw.write(used[0], 1)
        else:
            bw.write(1, 1)
            bw.write(used[0], 8)
        bw.write(used[1], 8)
        return {used[0]: (0, 1), used[1]: (1, 1)}
    _write_code_lengths(bw, lengths)
    return _canonical_codes(lengths)


def _lz77_code(v: int) -> tuple[int, int, int]:
    """Inverse of :func:`_lz77_value`: (prefix_code, extra_bits,
    extra_val) for a length/distance value >= 1."""
    if v <= 4:
        return v - 1, 0, 0
    t = v - 1
    msb = t.bit_length() - 1
    if t < 3 << (msb - 1):
        code, extra, off = 2 * msb, msb - 1, 2 << (msb - 1)
    else:
        code, extra, off = 2 * msb + 1, msb - 1, 3 << (msb - 1)
    return code, extra, v - off - 1


#: longest LZ77 match the 24 length codes can express.
_MAX_MATCH = 4096
#: longest scan distance the 40 distance codes can express (linear
#: code 1048576 minus the 120 map slots).
_MAX_DIST = (1 << 20) - 120


def _tokenize(
    px: list[int], use_lz77: bool, cache_bits: int
) -> list[tuple]:
    """Greedy LZ77 + color-cache tokenization of an ARGB pixel list:
    ('lit', argb) | ('copy', length, dist) | ('cache', idx). The
    encoder replays the decoder's cache updates (every emitted pixel,
    including copy expansions) so indices always resolve."""
    n = len(px)
    cache_size = (1 << cache_bits) if cache_bits else 0
    cache = [None] * cache_size
    cache_shift = 32 - cache_bits if cache_bits else 0

    def cache_idx(argb: int) -> int:
        return ((_CACHE_MULT * argb) & 0xFFFFFFFF) >> cache_shift

    chains: dict[tuple[int, int, int], list[int]] = {}
    tokens: list[tuple] = []
    i = 0
    while i < n:
        match_len, match_dist = 0, 0
        if use_lz77 and i + 2 < n:
            key = (px[i], px[i + 1], px[i + 2])
            # bounded greedy search: most recent 8 candidates only
            for j in reversed(chains.get(key, ())[-8:]):
                dist = i - j
                if dist > _MAX_DIST:
                    break
                length = 0
                limit = min(_MAX_MATCH, n - i)
                while length < limit and px[j + length] == px[i + length]:
                    length += 1
                if length > match_len:
                    match_len, match_dist = length, dist
        if match_len >= 3:
            tokens.append(("copy", match_len, match_dist))
            end = i + match_len
            while i < end:
                if use_lz77 and i + 2 < n:
                    chains.setdefault((px[i], px[i + 1], px[i + 2]), []).append(i)
                if cache_size:
                    cache[cache_idx(px[i])] = px[i]
                i += 1
            continue
        argb = px[i]
        if cache_size and cache[cache_idx(argb)] == argb:
            tokens.append(("cache", cache_idx(argb)))
        else:
            tokens.append(("lit", argb))
        if use_lz77 and i + 2 < n:
            chains.setdefault((px[i], px[i + 1], px[i + 2]), []).append(i)
        if cache_size:
            cache[cache_idx(argb)] = argb
        i += 1
    return tokens


def encode_vp8l(
    img: np.ndarray,
    use_subtract_green: bool = True,
    use_lz77: bool = True,
    cache_bits: int = 6,
) -> bytes:
    """Encode an (h, w), (h, w, 1/3/4) uint8 image as a RIFF-wrapped
    VP8L stream: optional subtract-green transform, greedy LZ77
    backward references (2-D map codes where the offset fits the
    neighborhood, linear codes otherwise), and a color cache —
    i.e. every emission kind the decoder supports, which makes each
    fuzz roundtrip exercise the full decode loop. ``use_lz77=False``
    + ``cache_bits=0`` gives the literal-only subset."""
    if not 0 <= cache_bits <= 11:
        raise ValueError(f"cache_bits must be in [0, 11], got {cache_bits}")
    if img.ndim == 2:
        img = img[..., None]
    if img.shape[2] == 1:
        img = np.repeat(img, 3, axis=2)
    if img.shape[2] == 3:
        img = np.concatenate(
            [img, np.full(img.shape[:2] + (1,), 255, dtype=np.uint8)], axis=2
        )
    h, w = img.shape[:2]
    if not (1 <= w <= 1 << 14 and 1 <= h <= 1 << 14):
        raise ValueError(f"dimensions {w}x{h} out of VP8L range")
    r = img[..., 0].astype(np.int64)
    g = img[..., 1].astype(np.int64)
    b = img[..., 2].astype(np.int64)
    a = img[..., 3].astype(np.int64)
    if use_subtract_green:
        r = (r - g) & 0xFF
        b = (b - g) & 0xFF
    px = ((a << 24) | (r << 16) | (g << 8) | b).ravel().tolist()

    tokens = _tokenize(px, use_lz77, cache_bits)
    # 2-D distance map codes where the offset fits (decoder maps the
    # plane code back to the identical scan distance by construction)
    plane = {max(1, dy * w + dx): i + 1 for i, (dx, dy) in enumerate(_DIST_MAP)}

    cache_size = (1 << cache_bits) if cache_bits else 0
    green_alpha = 256 + _NUM_LENGTH_CODES + cache_size
    histos = [
        [0] * green_alpha,
        [0] * 256,
        [0] * 256,
        [0] * 256,
        [0] * _NUM_DISTANCE_CODES,
    ]
    for tok in tokens:
        if tok[0] == "lit":
            argb = tok[1]
            histos[0][(argb >> 8) & 0xFF] += 1
            histos[1][(argb >> 16) & 0xFF] += 1
            histos[2][argb & 0xFF] += 1
            histos[3][(argb >> 24) & 0xFF] += 1
        elif tok[0] == "copy":
            length, dist = tok[1], tok[2]
            histos[0][256 + _lz77_code(length)[0]] += 1
            dist_code = plane.get(dist, dist + 120)
            histos[4][_lz77_code(dist_code)[0]] += 1
        else:
            histos[0][256 + _NUM_LENGTH_CODES + tok[1]] += 1
    if not any(histos[4]):
        histos[4][0] = 1  # unused distance code still needs one symbol
    for hist in histos[1:4]:
        if not any(hist):
            hist[0] = 1  # all-cache/copy streams: give r/b/a a symbol

    bw = _BitWriter()
    bw.write(_SIGNATURE, 8)
    bw.write(w - 1, 14)
    bw.write(h - 1, 14)
    bw.write(int((img[..., 3] != 255).any()), 1)  # alpha hint
    bw.write(0, 3)  # version
    if use_subtract_green:
        bw.write(1, 1)  # transform present
        bw.write(2, 2)  # subtract-green
    bw.write(0, 1)  # no more transforms
    if cache_bits:
        bw.write(1, 1)
        bw.write(cache_bits, 4)
    else:
        bw.write(0, 1)  # no color cache
    bw.write(0, 1)  # no meta prefix

    maps = []
    for counts in histos:
        lengths = _limited_huffman(counts, 15)
        maps.append(_write_prefix_code(bw, lengths, counts))
    gm, rm, bm, am, dm = maps

    def emit_value(code_map: dict, base: int, value: int) -> None:
        code, extra, extra_val = _lz77_code(value)
        bw.write_code(*code_map[base + code])
        bw.write(extra_val, extra)

    for tok in tokens:
        if tok[0] == "lit":
            argb = tok[1]
            bw.write_code(*gm[(argb >> 8) & 0xFF])
            bw.write_code(*rm[(argb >> 16) & 0xFF])
            bw.write_code(*bm[argb & 0xFF])
            bw.write_code(*am[(argb >> 24) & 0xFF])
        elif tok[0] == "copy":
            length, dist = tok[1], tok[2]
            emit_value(gm, 256, length)
            emit_value(dm, 0, plane.get(dist, dist + 120))
        else:
            bw.write_code(*gm[256 + _NUM_LENGTH_CODES + tok[1]])

    payload = bw.getvalue()
    chunk = b"VP8L" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        chunk += b"\x00"
    riff = b"WEBP" + chunk
    return b"RIFF" + struct.pack("<I", len(riff)) + riff
