"""From-scratch PNG codec (stdlib zlib + numpy) — closes the media
surface's last declared stub for the one compressed format whose
decompression needs no external library (SURVEY.md §2B "LLM-pipeline —
multimodal": the decode step; PNG's pixel stream is DEFLATE, which
``zlib`` ships, plus five per-scanline byte filters restated below
from the public spec, RFC 2083 §6).

Scope: 8-bit-per-sample images, color types 0 (gray), 2 (RGB),
3 (palette, incl. tRNS alpha entries), 4 (gray+alpha), 6 (RGBA), in
BOTH the sequential and Adam7-INTERLACED layouts (seven
independently-filtered sub-images in one DEFLATE stream, scattered by
the standard (start, step) grid — the finish-session close, like
progressive JPEG); 16-bit depth raises a clear error. WebP-lossless
has its own from-scratch codec (operators/vp8l.py).

The decoder is the production path (vectorized where the filter's
data dependencies allow: Up/None are whole-row numpy ops, Sub/Avg/
Paeth carry a per-pixel prefix dependency by construction and run a
bounded per-byte loop). The encoder exists for fixtures and sinks; it
can pin a per-row filter type so tests can exercise every decode
branch against hand-computed expectations.

No reference counterpart (the reference never touches binary media);
cited for parity bookkeeping: ETFQuarterlyHoldingsExtractor.py has no
media path at all.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

#: 8-byte PNG file signature (RFC 2083 §3.1).
PNG_SIGNATURE = b"\x89PNG\r\n\x1a\n"

#: color type -> samples per pixel (8-bit depth only).
_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}


def _chunks(b: bytes):
    """Yield (type, payload) for each chunk; stops after IEND.

    CRCs are not verified: the decoder's contract is deterministic
    decode-or-raise on structure, and corrupt pixel data already fails
    at zlib/length checks; a CRC pass would double the byte reads for
    fixtures this code path sees.
    """
    pos = len(PNG_SIGNATURE)
    while pos + 8 <= len(b):
        (length,) = struct.unpack(">I", b[pos : pos + 4])
        ctype = b[pos + 4 : pos + 8]
        payload = b[pos + 8 : pos + 8 + length]
        if len(payload) != length:
            raise ValueError(f"truncated {ctype!r} chunk")
        yield ctype, payload
        pos += 12 + length  # length + type + payload + crc
        if ctype == b"IEND":
            return
    raise ValueError("missing IEND chunk")


def _paeth(a: int, b: int, c: int) -> int:
    """Paeth predictor (RFC 2083 §6.6): nearest of left/up/up-left to
    the linear estimate a + b - c, ties broken left, up, up-left."""
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


def decode_png(b: bytes) -> tuple[int, int, int, np.ndarray]:
    """(width, height, channels, (h, w, c) uint8 array) of a PNG blob.

    Raises ValueError on anything outside the supported profile OR
    malformed data — callers turn that into an error ROW, the R22
    contract. Lower layers raise zlib.error / struct.error /
    IndexError on corrupt streams; those are converted here so
    ``except ValueError`` really is the whole contract.
    """
    import zlib as _zlib

    try:
        return _decode_png_unchecked(b)
    except ValueError:
        raise
    except (_zlib.error, struct.error, IndexError) as exc:
        raise ValueError(f"malformed PNG: {exc}") from exc


#: Adam7 pass parameters: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8),
    (4, 0, 8, 8),
    (0, 4, 4, 8),
    (2, 0, 4, 4),
    (0, 2, 2, 4),
    (1, 0, 2, 2),
    (0, 1, 1, 2),
)


def _unfilter_region(raw: bytes, offset: int, n_rows: int, stride: int, bpp: int):
    """Unfilter ``n_rows`` scanlines of ``stride`` bytes starting at
    ``offset`` (each prefixed by its filter byte); returns the
    (n_rows, stride) array and the offset past the region. Shared by
    the sequential path and every Adam7 pass."""
    out = np.zeros((n_rows, stride), dtype=np.uint8)
    for y in range(n_rows):
        ftype = raw[offset]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=offset + 1
        ).astype(np.int32)
        offset += stride + 1
        prev = out[y - 1].astype(np.int32) if y > 0 else np.zeros(stride, np.int32)
        if ftype == 0:  # None
            cur = line
        elif ftype == 2:  # Up — no intra-row dependency: one vector add
            cur = (line + prev) & 0xFF
        elif ftype in (1, 3, 4):  # Sub/Average/Paeth: left-prefix dependency
            cur = np.zeros(stride, np.int32)
            for i in range(stride):
                a = cur[i - bpp] if i >= bpp else 0
                up = prev[i]
                c = prev[i - bpp] if i >= bpp else 0
                if ftype == 1:
                    cur[i] = (line[i] + a) & 0xFF
                elif ftype == 3:
                    cur[i] = (line[i] + ((a + up) >> 1)) & 0xFF
                else:
                    cur[i] = (line[i] + _paeth(a, up, c)) & 0xFF
        else:
            raise ValueError(f"unknown filter type {ftype} on row {y}")
        out[y] = cur.astype(np.uint8)
    return out, offset


def _decode_png_unchecked(b: bytes) -> tuple[int, int, int, np.ndarray]:
    if b[: len(PNG_SIGNATURE)] != PNG_SIGNATURE:
        raise ValueError("not a PNG (bad signature)")
    width = height = None
    channels = 0
    interlace = 0
    paletted = False
    plte: bytes | None = None
    trns: bytes | None = None
    idat = bytearray()
    for ctype, payload in _chunks(b):
        if ctype == b"IHDR":
            width, height, depth, color, comp, filt, interlace = struct.unpack(
                ">IIBBBBB", payload
            )
            if depth != 8:
                raise ValueError(f"unsupported bit depth {depth} (8 only)")
            if color == 3:
                paletted = True
                channels = 1  # one palette index per pixel in the stream
            elif color in _CHANNELS:
                channels = _CHANNELS[color]
            else:
                raise ValueError(f"unsupported color type {color}")
            if interlace not in (0, 1):
                raise ValueError(f"bad interlace method {interlace}")
            if comp != 0 or filt != 0:
                raise ValueError("nonstandard compression/filter method")
        elif ctype == b"PLTE":
            if len(payload) % 3 or not payload:
                raise ValueError("bad PLTE length")
            plte = payload
        elif ctype == b"tRNS":
            trns = payload
        elif ctype == b"IDAT":
            idat.extend(payload)
    if width is None:
        raise ValueError("missing IHDR chunk")
    if width < 1 or height < 1:
        raise ValueError(f"bad dimensions {width}x{height}")
    if paletted and plte is None:
        raise ValueError("paletted image without PLTE chunk")
    raw = zlib.decompress(bytes(idat))
    bpp = channels  # bytes per pixel at 8-bit depth

    if interlace == 0:
        stride = width * channels
        if len(raw) != height * (stride + 1):
            raise ValueError(
                f"pixel stream {len(raw)} != {height}x(1+{stride}) expected"
            )
        grid, _ = _unfilter_region(raw, 0, height, stride, bpp)
        grid = grid.reshape(height, width, channels)
    else:
        # Adam7: seven independently-filtered sub-images in one zlib
        # stream, scattered onto the full grid by (start, step)
        grid = np.zeros((height, width, channels), dtype=np.uint8)
        offset = 0
        for x0, y0, dx, dy in _ADAM7:
            pw = (width - x0 + dx - 1) // dx if width > x0 else 0
            ph = (height - y0 + dy - 1) // dy if height > y0 else 0
            if pw == 0 or ph == 0:
                continue
            sub, offset = _unfilter_region(raw, offset, ph, pw * channels, bpp)
            grid[y0::dy, x0::dx] = sub.reshape(ph, pw, channels)
        if offset != len(raw):
            raise ValueError(
                f"interlaced stream has {len(raw) - offset} trailing bytes"
            )

    if not paletted:
        return width, height, channels, grid

    # palette mapping: index → RGB (PLTE), + alpha when tRNS present
    n_entries = len(plte) // 3
    pal = np.frombuffer(plte, dtype=np.uint8).reshape(n_entries, 3)
    idx = grid[..., 0]
    if int(idx.max()) >= n_entries:
        raise ValueError("palette index out of range")
    rgb = pal[idx]
    if trns is None:
        return width, height, 3, rgb
    if len(trns) > n_entries:
        raise ValueError(
            f"tRNS has {len(trns)} entries for a {n_entries}-entry palette"
        )
    alpha = np.full(n_entries, 255, dtype=np.uint8)
    alpha[: len(trns)] = np.frombuffer(trns, dtype=np.uint8)
    rgba = np.concatenate([rgb, alpha[idx][..., None]], axis=2)
    return width, height, 4, rgba


def _filter_row(
    ftype: int, line: np.ndarray, prev: np.ndarray, bpp: int
) -> np.ndarray:
    """Apply filter ``ftype`` to an unfiltered row (encoder side)."""
    cur = line.astype(np.int32)
    pr = prev.astype(np.int32)
    n = len(cur)
    out = np.zeros(n, np.int32)
    for i in range(n):
        a = cur[i - bpp] if i >= bpp else 0
        up = pr[i]
        c = pr[i - bpp] if i >= bpp else 0
        if ftype == 0:
            out[i] = cur[i]
        elif ftype == 1:
            out[i] = cur[i] - a
        elif ftype == 2:
            out[i] = cur[i] - up
        elif ftype == 3:
            out[i] = cur[i] - ((a + up) >> 1)
        elif ftype == 4:
            out[i] = cur[i] - _paeth(a, up, c)
        else:
            raise ValueError(f"unknown filter type {ftype}")
    return (out & 0xFF).astype(np.uint8)


def _chunk(ctype: bytes, payload: bytes) -> bytes:
    return (
        struct.pack(">I", len(payload))
        + ctype
        + payload
        + struct.pack(">I", zlib.crc32(ctype + payload))
    )


def _filter_grid(flat: np.ndarray, filters: list[int], bpp: int) -> bytearray:
    """Per-row filter bytes + filtered scanlines for a (rows, stride)
    grid — shared by the sequential body and each Adam7 pass."""
    raw = bytearray()
    stride = flat.shape[1]  # flat is always (rows, stride)
    for y in range(flat.shape[0]):
        prev = flat[y - 1] if y > 0 else np.zeros(stride, np.uint8)
        raw.append(filters[y])
        raw.extend(_filter_row(filters[y], flat[y], prev, bpp).tobytes())
    return raw


def _png_body(
    img: np.ndarray, row_filters: list[int] | int, interlace: bool
) -> bytes:
    """Filtered (and possibly Adam7-split) pixel stream of an
    (h, w, c) array, pre-compression."""
    h, w, c = img.shape
    if not interlace:
        filters = (
            [row_filters] * h if isinstance(row_filters, int) else list(row_filters)
        )
        if len(filters) != h:
            raise ValueError(f"{len(filters)} row filters for {h} rows")
        return bytes(_filter_grid(img.reshape(h, w * c), filters, c))
    if not isinstance(row_filters, int):
        raise ValueError("per-row filter lists are for the sequential layout")
    raw = bytearray()
    for x0, y0, dx, dy in _ADAM7:
        sub = img[y0::dy, x0::dx]
        if sub.shape[0] == 0 or sub.shape[1] == 0:
            continue
        ph, pw = sub.shape[:2]
        raw.extend(
            _filter_grid(sub.reshape(ph, pw * c), [row_filters] * ph, c)
        )
    return bytes(raw)


def encode_png(
    img: np.ndarray, row_filters: list[int] | int = 0, interlace: bool = False
) -> bytes:
    """Encode an (h, w, c) uint8 array as an 8-bit PNG, sequential or
    Adam7-interlaced.

    ``row_filters`` pins the per-row filter type (int for all rows, or
    one per row in the sequential layout) so tests can exercise every
    decoder branch; real encoders pick per-row heuristically, which
    matters for ratio, not correctness.
    """
    if img.ndim == 2:
        img = img[:, :, None]
    h, w, c = img.shape
    color = {1: 0, 3: 2, 2: 4, 4: 6}.get(c)
    if color is None:
        raise ValueError(f"unsupported channel count {c}")
    body = _png_body(img, row_filters, interlace)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, color, 0, 0, 1 if interlace else 0)
    return (
        PNG_SIGNATURE
        + _chunk(b"IHDR", ihdr)
        + _chunk(b"IDAT", zlib.compress(body))
        + _chunk(b"IEND", b"")
    )


def encode_png_paletted(
    indices: np.ndarray,
    palette: np.ndarray,
    trns: bytes | None = None,
    interlace: bool = False,
) -> bytes:
    """Encode an (h, w) uint8 index array + (n, 3) uint8 palette as a
    color-type-3 PNG (optional tRNS alpha entries, optional Adam7)."""
    if indices.ndim != 2:
        raise ValueError("indices must be (h, w)")
    palette = np.asarray(palette, dtype=np.uint8)
    if palette.ndim != 2 or palette.shape[1] != 3 or not len(palette):
        raise ValueError("palette must be (n, 3)")
    if len(palette) > 256:
        raise ValueError(
            f"palette has {len(palette)} entries; PNG palettes hold at "
            "most 256 (8-bit index stream)"
        )
    if int(indices.max(initial=0)) >= len(palette):
        raise ValueError("index out of palette range")
    if trns is not None and len(trns) > len(palette):
        raise ValueError(
            f"tRNS has {len(trns)} entries for a {len(palette)}-entry palette"
        )
    h, w = indices.shape
    body = _png_body(indices[..., None].astype(np.uint8), 0, interlace)
    ihdr = struct.pack(">IIBBBBB", w, h, 8, 3, 0, 0, 1 if interlace else 0)
    out = PNG_SIGNATURE + _chunk(b"IHDR", ihdr) + _chunk(b"PLTE", palette.tobytes())
    if trns is not None:
        out += _chunk(b"tRNS", trns)
    return out + _chunk(b"IDAT", zlib.compress(body)) + _chunk(b"IEND", b"")
