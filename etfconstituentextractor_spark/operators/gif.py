"""GIF (87a/89a) codec, from scratch on the stdlib + numpy
(SURVEY.md §2B "LLM-pipeline — multimodal": continuing the codec
family beside the from-scratch PNG (`operators/png.py`) and VP8L
WebP (`operators/vp8l.py`) decoders;
reference R12/R22 parity — decode failures become error rows, never
prints, `ETFQuarterlyHoldingsExtractor.py:120-126`).

Decoder implements the published GIF89a specification: logical screen
descriptor, global/local color tables, variable-width LZW with clear/
EOI codes, dictionary growth to 4095 with the KwKwK (code == next
unassigned entry) rule, deferred-clear handling, 4-pass interlacing,
and the Graphic Control Extension's transparency index. Animated
files decode to their FIRST frame composited onto the logical screen
(the still-image semantic every thumbnail/feature pipeline uses);
remaining frames are skipped structurally (sub-block walk), so
trailing garbage is still detected.

Encoder emits a valid single-frame subset: palette build (<= 256
unique colors required), optional interlace, optional transparency
via GCE, and REAL variable-width LZW compression (dictionary growth +
clear-on-full) — so decoder paths including code-width bumps and
dictionary resets are exercised by every roundtrip.

Pure-Python per-pixel work: this codec runs inside mapInPandas
workers on individual blobs; the operator scales by partitioning
blobs, not by vectorizing one image.
"""

from __future__ import annotations

import struct

import numpy as np

_SIGS = (b"GIF87a", b"GIF89a")

#: interlace passes: (first row, step)
_INTERLACE = ((0, 8), (4, 8), (2, 4), (1, 2))


def is_gif(data: bytes) -> bool:
    return data[:6] in _SIGS


# ---------------------------------------------------------------------------
# bit-level LZW
# ---------------------------------------------------------------------------


class _LZWReader:
    """LSB-first variable-width code reader over concatenated
    data sub-blocks."""

    def __init__(self, data: bytes):
        self.data = data
        self.bitpos = 0

    def read(self, width: int) -> int:
        end = self.bitpos + width
        if end > len(self.data) * 8:
            raise ValueError("LZW stream exhausted mid-code")
        out = 0
        for i in range(width):
            p = self.bitpos + i
            out |= ((self.data[p >> 3] >> (p & 7)) & 1) << i
        self.bitpos = end
        return out


def lzw_decode(data: bytes, min_code_size: int, max_pixels: int) -> bytearray:
    """Decode a GIF LZW stream to at most ``max_pixels`` indices
    (decoding stops once the frame is full — conformant files then
    present EOI, but trailing codes are tolerated per practice)."""
    if not 2 <= min_code_size <= 11:
        raise ValueError(f"bad LZW min code size {min_code_size}")
    clear = 1 << min_code_size
    eoi = clear + 1
    br = _LZWReader(data)
    out = bytearray()

    def reset():
        return {i: bytes([i]) for i in range(clear)}, min_code_size + 1

    table, width = reset()
    prev: bytes | None = None
    while len(out) < max_pixels:
        code = br.read(width)
        if code == clear:
            table, width = reset()
            prev = None
            continue
        if code == eoi:
            break
        nxt = len(table) + 2  # +2: clear and EOI occupy code space
        if code in table:
            entry = table[code]
        elif code == nxt and prev is not None:
            entry = prev + prev[:1]  # KwKwK
        else:
            raise ValueError(f"LZW code {code} out of range (next={nxt})")
        out.extend(entry)
        if prev is not None and nxt < 4096:
            table[nxt] = prev + entry[:1]
            # the "early change": the decoder assigns one slot behind
            # the encoder, so it widens when slot 2^width - 1 fills
            if nxt + 1 == (1 << width) and width < 12:
                width += 1
        prev = entry
    return out


def lzw_encode(indices: bytes, min_code_size: int) -> bytes:
    """Variable-width LZW with dictionary growth and clear-on-full —
    the inverse of ``lzw_decode`` (roundtrip-pinned in tests)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    outbits = bytearray()
    bitpos = 0

    def emit(code: int, width: int):
        nonlocal bitpos
        for i in range(width):
            p = bitpos + i
            if p >> 3 >= len(outbits):
                outbits.append(0)
            if (code >> i) & 1:
                outbits[p >> 3] |= 1 << (p & 7)
        bitpos += width

    def reset():
        return {bytes([i]): i for i in range(clear)}, clear + 2, min_code_size + 1

    table, nxt, width = reset()
    emit(clear, width)
    run = b""
    for b in indices:
        cand = run + bytes([b])
        if cand in table:
            run = cand
            continue
        emit(table[run], width)
        if nxt < 4096:
            table[cand] = nxt
            if nxt == (1 << width) and width < 12:
                width += 1
            nxt += 1
        else:
            emit(clear, width)
            table, nxt, width = reset()
        run = bytes([b])
    if run:
        emit(table[run], width)
    emit(eoi, width)
    return bytes(outbits)


# ---------------------------------------------------------------------------
# container walk
# ---------------------------------------------------------------------------


def _subblocks(data: bytes, pos: int) -> tuple[bytes, int]:
    """Concatenate data sub-blocks starting at ``pos``; return
    (payload, position past the terminator)."""
    chunks = []
    while True:
        if pos >= len(data):
            raise ValueError("truncated sub-block chain")
        n = data[pos]
        pos += 1
        if n == 0:
            return b"".join(chunks), pos
        if pos + n > len(data):
            raise ValueError("truncated sub-block")
        chunks.append(data[pos : pos + n])
        pos += n


def _color_table(data: bytes, pos: int, n: int) -> tuple[np.ndarray, int]:
    end = pos + 3 * n
    if end > len(data):
        raise ValueError("truncated color table")
    return np.frombuffer(data[pos:end], np.uint8).reshape(n, 3), end


def decode_gif(data: bytes) -> np.ndarray:
    """Decode to an (h, w, 4) RGBA uint8 array (first frame,
    composited at its offset onto the logical screen; uncovered
    screen area is transparent)."""
    if not is_gif(data):
        raise ValueError("bad GIF signature")
    if len(data) < 13:
        raise ValueError("truncated header")
    sw, sh, packed, _bg, _aspect = struct.unpack("<HHBBB", data[6:13])
    if sw == 0 or sh == 0:
        raise ValueError("zero logical screen dimension")
    pos = 13
    gct = None
    if packed & 0x80:
        gct, pos = _color_table(data, pos, 2 << (packed & 7))

    transparent: int | None = None
    screen = np.zeros((sh, sw, 4), np.uint8)
    seen_image = False

    while True:
        if pos >= len(data):
            raise ValueError("missing trailer")
        b = data[pos]
        pos += 1
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension
            if pos >= len(data):
                raise ValueError("truncated extension")
            label = data[pos]
            pos += 1
            payload, pos = _subblocks(data, pos)
            if label == 0xF9 and not seen_image:  # GCE for the first frame
                if len(payload) < 4:
                    raise ValueError("short graphic control extension")
                # a GCE governs only the NEXT graphic block, and the
                # LAST one before the image wins — a later GCE with
                # the transparency flag clear must RESET the index
                # (review r7: sticky state mis-rendered that case)
                transparent = payload[3] if payload[0] & 1 else None
            continue
        if b == 0x2C:  # image descriptor
            if pos + 9 > len(data):
                raise ValueError("truncated image descriptor")
            left, top, iw, ih, ipacked = struct.unpack("<HHHHB", data[pos : pos + 9])
            pos += 9
            if iw == 0 or ih == 0:
                raise ValueError("zero image dimension")
            if left + iw > sw or top + ih > sh:
                raise ValueError("frame exceeds logical screen")
            table = gct
            if ipacked & 0x80:
                table, pos = _color_table(data, pos, 2 << (ipacked & 7))
            if table is None:
                raise ValueError("no color table for frame")
            if pos >= len(data):
                raise ValueError("missing LZW min code size")
            mincode = data[pos]
            pos += 1
            lzw, pos = _subblocks(data, pos)
            if seen_image:
                continue  # later frames: structural skip only
            seen_image = True
            idx = lzw_decode(lzw, mincode, iw * ih)
            if len(idx) < iw * ih:
                raise ValueError(
                    f"LZW stream ended early ({len(idx)}/{iw * ih} pixels)"
                )
            arr = np.frombuffer(bytes(idx[: iw * ih]), np.uint8).reshape(ih, iw)
            if int(arr.max()) >= len(table):
                raise ValueError("pixel index outside color table")
            if ipacked & 0x40:  # interlaced: reorder rows
                order = []
                for first, step in _INTERLACE:
                    order.extend(range(first, ih, step))
                deinterlaced = np.empty_like(arr)
                deinterlaced[np.array(order)] = arr
                arr = deinterlaced
            rgba = np.zeros((ih, iw, 4), np.uint8)
            rgba[..., :3] = table[arr]
            rgba[..., 3] = 255
            if transparent is not None and transparent < len(table):
                rgba[arr == transparent, 3] = 0
            screen[top : top + ih, left : left + iw] = rgba
            continue
        raise ValueError(f"unknown block 0x{b:02x}")
    if not seen_image:
        raise ValueError("no image data")
    return screen


# ---------------------------------------------------------------------------
# encoder (valid single-frame subset)
# ---------------------------------------------------------------------------


def encode_gif(
    img: np.ndarray,
    *,
    interlace: bool = False,
    transparent_threshold: int | None = None,
) -> bytes:
    """Encode an (h, w, 3|4) uint8 image as single-frame GIF89a.
    Requires <= 256 unique colors (GIF is palettized; quantization is
    a modeling choice this engine does not hide behind the codec).
    With ``transparent_threshold``, pixels whose alpha is below it
    map to a reserved transparent palette index (GCE)."""
    if img.ndim == 2:
        img = np.stack([img] * 3, axis=-1)
    if img.ndim != 3 or img.shape[2] not in (3, 4):
        raise ValueError(f"expected (h, w, 3|4), got {img.shape}")
    h, w = img.shape[:2]
    if h == 0 or w == 0 or h > 0xFFFF or w > 0xFFFF:
        raise ValueError(f"dimensions out of GIF range: {img.shape}")
    rgb = img[..., :3]
    alpha = img[..., 3] if img.shape[2] == 4 else None

    transparent_mask = None
    if transparent_threshold is not None:
        if alpha is None:
            raise ValueError("transparent_threshold needs an alpha channel")
        transparent_mask = alpha < transparent_threshold

    flat = rgb.reshape(-1, 3)
    colors, inverse = np.unique(flat, axis=0, return_inverse=True)
    palette = [tuple(c) for c in colors]
    indices = inverse.astype(np.int32)
    t_index = None
    if transparent_mask is not None:
        if len(palette) >= 256:
            raise ValueError(
                f"{len(palette)} colors + transparency exceed the 256-entry palette"
            )
        t_index = len(palette)
        palette = palette + [(0, 0, 0)]
        indices = indices.copy()
        indices[transparent_mask.reshape(-1)] = t_index
    if len(palette) > 256:
        raise ValueError(f"{len(palette)} unique colors exceed GIF's 256")

    depth = max(1, (len(palette) - 1).bit_length())
    table_n = 1 << depth
    mincode = max(2, depth)

    out = bytearray()
    out += b"GIF89a"
    out += struct.pack("<HHBBB", w, h, 0x80 | (depth - 1), 0, 0)
    for r, g, bl in palette:
        out += bytes((r, g, bl))
    out += b"\x00\x00\x00" * (table_n - len(palette))

    if t_index is not None:
        out += b"\x21\xf9\x04"
        out += bytes((1, 0, 0, t_index))
        out += b"\x00"

    grid = indices.reshape(h, w)
    if interlace:
        order = []
        for first, step in _INTERLACE:
            order.extend(range(first, h, step))
        grid = grid[np.array(order)]
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, w, h, 0x40 if interlace else 0)
    out += bytes([mincode])
    lzw = lzw_encode(bytes(grid.reshape(-1).astype(np.uint8)), mincode)
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes([len(chunk)]) + chunk
    out += b"\x00"
    out += b"\x3b"
    return bytes(out)
