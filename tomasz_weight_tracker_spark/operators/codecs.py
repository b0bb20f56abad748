"""Pure-stdlib media codecs: BMP + PNG + GIF + baseline JPEG (image)
and WAV/PCM (audio).

Real decoders — no external libraries — so the multimodal pipeline has
a genuinely exercised decode path in this container (Pillow/soundfile
are absent).  The formats are simple enough that a header-struct +
sample-array parse IS the reference decode:

- BMP: BITMAPFILEHEADER + BITMAPINFOHEADER (``struct`` little-endian),
  uncompressed 24-bit pixel rows (bottom-up, 4-byte row padding).
- PNG: chunk walk (IHDR/IDAT/IEND), stdlib ``zlib`` inflate, and the
  full per-scanline unfilter (None/Sub/Up/Average/Paeth) for 8-bit
  gray / gray+alpha / RGB / RGBA, non-interlaced.
- WAV: RIFF chunk walk to ``fmt `` / ``data``, 16-bit PCM samples.

Parsers return ``None`` for anything that doesn't validate, so the
caller can fall through to other decoders — corrupt blobs are data,
not exceptions (same tolerance posture as the corrupt-document scan).
"""

from __future__ import annotations

import struct
import zlib


def parse_bmp(raw: bytes) -> dict | None:
    """Decode a BMP header (+ pixels when uncompressed 24-bit).

    Returns {width, height, bpp, pixels} where ``pixels`` is a list of
    (b, g, r) tuples in row-major top-down order, or None for
    compressed/deep formats (header-only decode still returns dims).
    """
    if len(raw) < 54 or raw[:2] != b"BM":
        return None
    try:
        data_offset = struct.unpack_from("<I", raw, 10)[0]
        dib_size = struct.unpack_from("<I", raw, 14)[0]
        if dib_size < 40:  # BITMAPCOREHEADER not supported
            return None
        width, height = struct.unpack_from("<ii", raw, 18)
        planes, bpp = struct.unpack_from("<HH", raw, 26)
        compression = struct.unpack_from("<I", raw, 30)[0]
    except struct.error:
        return None
    if width <= 0 or height == 0 or planes != 1:
        return None
    top_down = height < 0
    abs_h = abs(height)
    out = {"width": width, "height": abs_h, "bpp": bpp, "pixels": None}
    if bpp != 24 or compression != 0:
        return out  # header-only decode
    row_stride = (width * 3 + 3) & ~3  # rows pad to 4 bytes
    if data_offset + row_stride * abs_h > len(raw):
        return None
    pixels: list[tuple[int, int, int]] = []
    rows = range(abs_h) if top_down else range(abs_h - 1, -1, -1)
    for row in rows:
        base = data_offset + row * row_stride
        for x in range(width):
            off = base + 3 * x
            pixels.append((raw[off], raw[off + 1], raw[off + 2]))
    out["pixels"] = pixels
    return out


PNG_SIG = b"\x89PNG\r\n\x1a\n"
# channels per PNG color type (palette images need a PLTE decode this
# container has no consumer for — they fall back to header-only).
_PNG_CHANNELS = {0: 1, 2: 3, 4: 2, 6: 4}
# Pixel-decode ceiling: the header's w*h is UNTRUSTED, and both the
# inflate and the per-pixel Python loop are O(w*h).  A 64 MP cap keeps
# a crafted IHDR (or an IDAT decompression bomb — see parse_png's
# bounded decompressobj) from pinning an executor; real blobs above
# the cap still get the header-only decode.
_PNG_MAX_PIXELS = 1 << 26


def parse_png(raw: bytes) -> dict | None:
    """Decode a PNG: IHDR header always; full pixels for 8-bit-depth
    gray / gray+alpha / RGB / RGBA, non-interlaced (inflate + the five
    scanline unfilters).  Returns the same shape as :func:`parse_bmp` —
    {width, height, bpp, pixels} with ``pixels`` row-major top-down
    (b, g, r) tuples (gray replicated across channels; alpha dropped) —
    so the downstream feature extractors are codec-agnostic.  Unsupported
    variants (16-bit, palette, interlaced) decode header-only
    (``pixels=None``); anything malformed returns None.
    """
    if len(raw) < 8 or raw[:8] != PNG_SIG:
        return None
    pos, ihdr, idat = 8, None, bytearray()
    while pos + 8 <= len(raw):
        try:
            ln = struct.unpack_from(">I", raw, pos)[0]
        except struct.error:
            return None
        ctype = raw[pos + 4 : pos + 8]
        body = raw[pos + 8 : pos + 8 + ln]
        if len(body) < ln:
            return None
        if ctype == b"IHDR":
            if ln < 13:
                return None
            ihdr = struct.unpack_from(">IIBBBBB", body, 0)
        elif ctype == b"IDAT":
            idat += body
        elif ctype == b"IEND":
            break
        pos += 12 + ln  # length + type + crc
    if ihdr is None:
        return None
    w, h, depth, color_type, comp, filt, interlace = ihdr
    channels = _PNG_CHANNELS.get(color_type)
    if w <= 0 or h <= 0 or comp != 0 or filt != 0:
        return None
    out = {
        "width": w,
        "height": h,
        "bpp": depth * (channels or 1),
        "pixels": None,
    }
    if depth != 8 or channels is None or interlace != 0 or not idat:
        return out  # header-only decode
    if w * h > _PNG_MAX_PIXELS:
        return out  # untrusted geometry too large for pixel decode
    stride = w * channels
    expected = h * (1 + stride)
    try:
        # Bound inflation by the raster size the header promised: a
        # crafted IDAT that inflates past w*h (decompression bomb)
        # stops at expected+1 bytes instead of filling executor memory.
        dec = zlib.decompressobj()
        data = dec.decompress(bytes(idat), expected + 1)
    except zlib.error:
        return out
    if len(data) != expected or dec.decompress(b"", 1):
        return out  # truncated or oversized raster: keep header decode
    pixels: list[tuple[int, int, int]] = []
    prev = bytearray(stride)
    dp = 0
    for _y in range(h):
        ft = data[dp]
        dp += 1
        row = bytearray(data[dp : dp + stride])
        dp += stride
        if ft == 1:  # Sub
            for i in range(channels, stride):
                row[i] = (row[i] + row[i - channels]) & 0xFF
        elif ft == 2:  # Up
            for i in range(stride):
                row[i] = (row[i] + prev[i]) & 0xFF
        elif ft == 3:  # Average
            for i in range(stride):
                a = row[i - channels] if i >= channels else 0
                row[i] = (row[i] + ((a + prev[i]) >> 1)) & 0xFF
        elif ft == 4:  # Paeth
            for i in range(stride):
                a = row[i - channels] if i >= channels else 0
                b = prev[i]
                c = prev[i - channels] if i >= channels else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                row[i] = (row[i] + pred) & 0xFF
        elif ft != 0:
            return out  # unknown filter byte: keep the header decode
        prev = row
        for x in range(w):
            o = x * channels
            if channels <= 2:  # gray / gray+alpha
                v = row[o]
                pixels.append((v, v, v))
            else:  # RGB / RGBA scanline order is R,G,B[,A]
                pixels.append((row[o + 2], row[o + 1], row[o]))
    out["pixels"] = pixels
    return out


GIF_SIGS = (b"GIF87a", b"GIF89a")


def _lzw_decode(data: bytes, min_code_size: int, max_out: int) -> list[int] | None:
    """GIF-variant LZW: LSB-first bitstream, CLEAR/EOI codes, code
    width grows (min+1)..12 as the table fills.  Output is bounded by
    ``max_out`` (the declared raster size), so a crafted stream cannot
    expand past the geometry the header promised."""
    clear = 1 << min_code_size
    eoi = clear + 1
    out: list[int] = []
    table: dict[int, tuple[int, ...]] = {}
    width = next_code = 0
    prev: tuple[int, ...] | None = None

    def reset() -> None:
        nonlocal table, width, next_code, prev
        table = {i: (i,) for i in range(clear)}
        width = min_code_size + 1
        next_code = eoi + 1
        prev = None

    reset()
    acc = nbits = 0
    for byte in data:
        acc |= byte << nbits
        nbits += 8
        while nbits >= width:
            code = acc & ((1 << width) - 1)
            acc >>= width
            nbits -= width
            if code == clear:
                reset()
                continue
            if code == eoi:
                return out
            if prev is None:
                entry = table.get(code)
                if entry is None:
                    return None
                out.extend(entry)
            else:
                if code in table:
                    entry = table[code]
                elif code == next_code:  # the KwKwK case
                    entry = prev + (prev[0],)
                else:
                    return None
                out.extend(entry)
                if next_code < 4096:
                    table[next_code] = prev + (entry[0],)
                    next_code += 1
                    if next_code == (1 << width) and width < 12:
                        width += 1
            prev = entry
            if len(out) >= max_out:
                return out[:max_out]
    return out


def parse_gif(raw: bytes) -> dict | None:
    """Decode a GIF: logical-screen header always; full pixels (real
    LZW inflate + palette lookup) for a single non-interlaced
    full-screen frame.  Returns the parse_bmp shape — {width, height,
    bpp, pixels} with (b, g, r) row-major tuples — so downstream
    feature extractors stay codec-agnostic.  Interlaced / partial /
    multi-frame-first-partial images decode header-only; malformed
    data returns None (corrupt blobs are data, same posture as the
    other parsers).  The pixel decode is bomb-bounded twice: declared
    geometry capped at _PNG_MAX_PIXELS, and the LZW output capped at
    the declared raster size."""
    if len(raw) < 13 or raw[:6] not in GIF_SIGS:
        return None
    w, h = struct.unpack_from("<HH", raw, 6)
    flags = raw[10]
    if w <= 0 or h <= 0:
        return None
    pos, gct = 13, None
    if flags & 0x80:
        n = 2 << (flags & 7)
        gct = raw[13 : 13 + 3 * n]
        pos += 3 * n
    out = {"width": w, "height": h, "bpp": 8, "pixels": None}
    while pos < len(raw):
        block = raw[pos]
        if block == 0x3B:  # trailer
            return out
        if block == 0x21:  # extension: label byte + sub-blocks
            pos += 2
            while pos < len(raw) and raw[pos] != 0:
                pos += 1 + raw[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            if pos + 10 > len(raw):
                return out
            ix, iy, iw, ih = struct.unpack_from("<HHHH", raw, pos + 1)
            iflags = raw[pos + 9]
            pos += 10
            table = gct
            if iflags & 0x80:
                n = 2 << (iflags & 7)
                table = raw[pos : pos + 3 * n]
                pos += 3 * n
            if pos >= len(raw):
                return out
            min_code = raw[pos]
            pos += 1
            data = bytearray()
            while pos < len(raw) and raw[pos] != 0:
                ln = raw[pos]
                data += raw[pos + 1 : pos + 1 + ln]
                pos += 1 + ln
            pos += 1
            if (
                (iflags & 0x40)  # interlaced: no consumer here
                or (ix, iy, iw, ih) != (0, 0, w, h)  # partial frame
                or table is None
                or not 2 <= min_code <= 11
                or w * h > _PNG_MAX_PIXELS  # untrusted geometry cap
            ):
                return out  # header-only decode
            idxs = _lzw_decode(bytes(data), min_code, w * h)
            if idxs is None or len(idxs) < w * h:
                return out
            ncol = len(table) // 3
            pixels: list[tuple[int, int, int]] = []
            for i in idxs:
                if i >= ncol:
                    return out
                pixels.append((table[3 * i + 2], table[3 * i + 1], table[3 * i]))
            out["pixels"] = pixels
            return out
        else:
            return out  # unknown block: keep the header decode
    return out


def _lzw_encode(indices: list[int], min_code_size: int) -> bytes:
    """Real GIF LZW compression (string table, growing code width,
    table-full reset) — the encoder twin that exercises every decoder
    path including KwKwK and width growth.  Width-bump sync: encoder
    bumps at next_code == (1<<width)+1, decoder at next_code ==
    (1<<width) — the standard one-entry offset (the decoder learns
    each entry one code late)."""
    clear = 1 << min_code_size
    eoi = clear + 1
    bits: list[tuple[int, int]] = []  # (code, width)
    table: dict[tuple[int, ...], int] = {(i,): i for i in range(clear)}
    width = min_code_size + 1
    next_code = eoi + 1
    bits.append((clear, width))
    seq: tuple[int, ...] = ()
    for i in indices:
        cand = seq + (i,)
        if cand in table:
            seq = cand
            continue
        bits.append((table[seq], width))
        if next_code < 4096:
            table[cand] = next_code
            next_code += 1
            if next_code == (1 << width) + 1 and width < 12:
                width += 1
        else:
            bits.append((clear, width))
            table = {(j,): j for j in range(clear)}
            width = min_code_size + 1
            next_code = eoi + 1
        seq = (i,)
    if seq:
        bits.append((table[seq], width))
    bits.append((eoi, width))
    # LSB-first bit packing.
    out = bytearray()
    acc = nbits = 0
    for code, cw in bits:
        acc |= code << nbits
        nbits += cw
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def make_gif(
    width: int, height: int, index_fn, palette: list[tuple[int, int, int]]
) -> bytes:
    """Serialize a single-frame non-interlaced GIF (test fixture /
    oracle twin).  ``index_fn(x, y) -> palette index`` with y=0 the
    top row; ``palette`` is a list of (r, g, b), padded to the next
    power of two >= 2."""
    ncol = 2
    while ncol < len(palette):
        ncol *= 2
    depth = max(ncol.bit_length() - 1, 1)
    pal = bytearray()
    for j in range(ncol):
        r, g, b = palette[j] if j < len(palette) else (0, 0, 0)
        pal += bytes((r, g, b))
    indices = [index_fn(x, y) for y in range(height) for x in range(width)]
    min_code = max(depth, 2)
    lzw = _lzw_encode(indices, min_code)
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", width, height, 0x80 | (depth - 1), 0, 0)
    out += pal
    out += struct.pack("<BHHHHB", 0x2C, 0, 0, width, height, 0)
    out += bytes((min_code,))
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out += bytes((len(chunk),)) + chunk
    out += b"\x00\x3b"
    return bytes(out)


def parse_wav(raw: bytes) -> dict | None:
    """Decode a WAV header (+ samples when 16-bit PCM).

    Returns {n_channels, sample_rate, bits_per_sample, n_frames,
    duration_ms, samples} with ``samples`` a flat list of ints
    (interleaved channels) for 16-bit PCM, else None samples.
    """
    if len(raw) < 44 or raw[:4] != b"RIFF" or raw[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(raw):
        chunk_id = raw[pos : pos + 4]
        try:
            chunk_size = struct.unpack_from("<I", raw, pos + 4)[0]
        except struct.error:
            return None
        body = raw[pos + 8 : pos + 8 + chunk_size]
        if chunk_id == b"fmt " and len(body) >= 16:
            fmt = struct.unpack_from("<HHIIHH", body, 0)
        elif chunk_id == b"data":
            data = body
        pos += 8 + chunk_size + (chunk_size & 1)  # chunks pad to even
    if fmt is None or data is None:
        return None
    audio_format, n_channels, sample_rate, _rate, block_align, bits = fmt
    if n_channels == 0 or sample_rate == 0 or block_align == 0:
        return None
    n_frames = len(data) // block_align
    out = {
        "n_channels": n_channels,
        "sample_rate": sample_rate,
        "bits_per_sample": bits,
        "n_frames": n_frames,
        "duration_ms": n_frames * 1000 // sample_rate,
        "samples": None,
    }
    if audio_format == 1 and bits == 16:
        n = (len(data) // 2) * 2
        out["samples"] = list(struct.unpack(f"<{n // 2}h", data[:n]))
    return out


def bmp_features(decoded: dict, dim: int) -> list[float] | None:
    """Real image features from decoded BMP pixels: per-channel means
    (R, G, B), luma mean, and a 4-bin luma histogram — all in [0, 1]."""
    pixels = decoded.get("pixels")
    if not pixels:
        return None
    n = len(pixels)
    sum_b = sum(p[0] for p in pixels)
    sum_g = sum(p[1] for p in pixels)
    sum_r = sum(p[2] for p in pixels)
    lumas = [(2126 * p[2] + 7152 * p[1] + 722 * p[0]) // 10000 for p in pixels]
    hist = [0, 0, 0, 0]
    for v in lumas:
        hist[min(v >> 6, 3)] += 1
    feats = [
        sum_r / n / 255.0,
        sum_g / n / 255.0,
        sum_b / n / 255.0,
        sum(lumas) / n / 255.0,
        *[h / n for h in hist],
    ]
    return (feats + [0.0] * dim)[:dim]


def wav_features(decoded: dict, dim: int) -> list[float] | None:
    """Real audio features from 16-bit PCM samples: normalized mean
    absolute amplitude, RMS, zero-crossing rate, peak — in [0, 1]."""
    samples = decoded.get("samples")
    if not samples:
        return None
    n = len(samples)
    mean_abs = sum(abs(s) for s in samples) / n / 32768.0
    rms = (sum(s * s for s in samples) / n) ** 0.5 / 32768.0
    zc = sum(
        1 for i in range(1, n) if (samples[i - 1] < 0) != (samples[i] < 0)
    ) / max(n - 1, 1)
    peak = max(abs(s) for s in samples) / 32768.0
    feats = [mean_abs, rms, zc, peak]
    return (feats + [0.0] * dim)[:dim]


def make_bmp(width: int, height: int, pixel_fn) -> bytes:
    """Serialize an uncompressed 24-bit bottom-up BMP (test fixture /
    round-trip check).  ``pixel_fn(x, y) -> (b, g, r)`` with y=0 the
    TOP row."""
    row_stride = (width * 3 + 3) & ~3
    pixel_bytes = bytearray()
    for y in range(height - 1, -1, -1):  # bottom-up storage
        row = bytearray()
        for x in range(width):
            b, g, r = pixel_fn(x, y)
            row += bytes((b, g, r))
        row += b"\x00" * (row_stride - len(row))
        pixel_bytes += row
    header = struct.pack("<2sIHHI", b"BM", 54 + len(pixel_bytes), 0, 0, 54)
    dib = struct.pack("<IiiHHIIiiII", 40, width, height, 1, 24, 0, len(pixel_bytes), 2835, 2835, 0, 0)
    return header + dib + bytes(pixel_bytes)


def make_png(width: int, height: int, pixel_fn, filter_type: int = 0) -> bytes:
    """Serialize an 8-bit RGB PNG (test fixture / oracle twin).
    ``pixel_fn(x, y) -> (r, g, b)`` with y=0 the top row.

    ``filter_type`` applies that scanline filter to EVERY row (0=None,
    1=Sub, 2=Up, 3=Average, 4=Paeth) so the decoder's unfilter paths
    are each exercisable.  IDAT uses zlib level 0 (stored blocks):
    compression adds nothing to synthetic fixtures, and stored blocks
    make the byte size CLOSED-FORM — for raw scanline bytes
    ``R = height*(1+3*width) <= 65535`` the file is exactly
    ``68 + R`` bytes (8 sig + 25 IHDR + 12 IEND + IDAT 12+2+5+R+4:
    chunk framing, zlib header, one stored-block header, adler32) —
    which is what lets a SQL oracle recompute n_bytes without zlib.
    """
    stride = width * 3
    data = bytearray()
    prev = bytes(stride)
    for y in range(height):
        rowb = bytes(v for x in range(width) for v in pixel_fn(x, y))
        if filter_type == 0:
            filt = rowb
        elif filter_type == 1:
            filt = bytes(
                (rowb[i] - (rowb[i - 3] if i >= 3 else 0)) & 0xFF
                for i in range(stride)
            )
        elif filter_type == 2:
            filt = bytes((rowb[i] - prev[i]) & 0xFF for i in range(stride))
        elif filter_type == 3:
            filt = bytes(
                (rowb[i] - (((rowb[i - 3] if i >= 3 else 0) + prev[i]) >> 1)) & 0xFF
                for i in range(stride)
            )
        elif filter_type == 4:
            filt = bytearray()
            for i in range(stride):
                a = rowb[i - 3] if i >= 3 else 0
                b = prev[i]
                c = prev[i - 3] if i >= 3 else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                filt.append((rowb[i] - pred) & 0xFF)
            filt = bytes(filt)
        else:
            raise ValueError(f"unsupported PNG filter {filter_type}")
        data += bytes([filter_type]) + filt
        prev = rowb

    def chunk(ctype: bytes, body: bytes) -> bytes:
        return (
            struct.pack(">I", len(body))
            + ctype
            + body
            + struct.pack(">I", zlib.crc32(ctype + body))
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    idat = zlib.compress(bytes(data), 0)
    return PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat) + chunk(b"IEND", b"")


def resize_nearest(decoded: dict, out_w: int, out_h: int) -> dict | None:
    """Nearest-neighbor resize of decoded BMP pixels.

    Source pixel for output (x, y) is (x*w_in // out_w, y*h_in // out_h)
    — pure integer math, so an oracle can recompute the mapping
    closed-form.  Returns a decoded-dict shape {width, height, bpp,
    pixels} over the resized grid.
    """
    pixels = decoded.get("pixels")
    if not pixels or out_w <= 0 or out_h <= 0:
        return None
    w, h = decoded["width"], decoded["height"]
    out = []
    for y in range(out_h):
        sy = y * h // out_h
        base = sy * w
        for x in range(out_w):
            out.append(pixels[base + x * w // out_w])
    return {"width": out_w, "height": out_h, "bpp": decoded.get("bpp"), "pixels": out}


# ---------------------------------------------------------------------------
# JPEG (baseline sequential, ITU T.81) — the last codec stub closed
# (round-10 verdict item 5).  Pure stdlib: marker walk, canonical
# Huffman decode with byte-unstuffing and restart markers, dequantize +
# dezigzag, float IDCT, nearest-neighbor chroma upsample, integer
# YCbCr->RGB.  The encoder emits baseline JFIF with the spec's Annex K
# quantization + Huffman tables (public constants), 4:4:4 or grayscale,
# with PORTABLE away-from-zero coefficient rounding so DC-only blobs
# decode to closed-form values an SQL oracle can replay exactly (see
# plans/media.py:media_decode_jpeg).

_ZIGZAG = [
    0, 1, 8, 16, 9, 2, 3, 10, 17, 24, 32, 25, 18, 11, 4, 5,
    12, 19, 26, 33, 40, 48, 41, 34, 27, 20, 13, 6, 7, 14, 21, 28,
    35, 42, 49, 56, 57, 50, 43, 36, 29, 22, 15, 23, 30, 37, 44, 51,
    58, 59, 52, 45, 38, 31, 39, 46, 53, 60, 61, 54, 47, 55, 62, 63,
]

# Annex K.1/K.2 quantization tables (row-major natural order).
_JPEG_QT_LUMA = [
    16, 11, 10, 16, 24, 40, 51, 61,
    12, 12, 14, 19, 26, 58, 60, 55,
    14, 13, 16, 24, 40, 57, 69, 56,
    14, 17, 22, 29, 51, 87, 80, 62,
    18, 22, 37, 56, 68, 109, 103, 77,
    24, 35, 55, 64, 81, 104, 113, 92,
    49, 64, 78, 87, 103, 121, 120, 101,
    72, 92, 95, 98, 112, 100, 103, 99,
]
_JPEG_QT_CHROMA = [
    17, 18, 24, 47, 99, 99, 99, 99,
    18, 21, 26, 66, 99, 99, 99, 99,
    24, 26, 56, 99, 99, 99, 99, 99,
    47, 66, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
    99, 99, 99, 99, 99, 99, 99, 99,
]

# Annex K.3 standard Huffman tables: (bits[1..16], values).
_DC_LUMA = ([0, 1, 5, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0, 0, 0], list(range(12)))
_DC_CHROMA = ([0, 3, 1, 1, 1, 1, 1, 1, 1, 1, 1, 0, 0, 0, 0, 0], list(range(12)))
_AC_LUMA = (
    [0, 2, 1, 3, 3, 2, 4, 3, 5, 5, 4, 4, 0, 0, 1, 125],
    [
        0x01, 0x02, 0x03, 0x00, 0x04, 0x11, 0x05, 0x12, 0x21, 0x31, 0x41,
        0x06, 0x13, 0x51, 0x61, 0x07, 0x22, 0x71, 0x14, 0x32, 0x81, 0x91,
        0xA1, 0x08, 0x23, 0x42, 0xB1, 0xC1, 0x15, 0x52, 0xD1, 0xF0, 0x24,
        0x33, 0x62, 0x72, 0x82, 0x09, 0x0A, 0x16, 0x17, 0x18, 0x19, 0x1A,
        0x25, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x34, 0x35, 0x36, 0x37, 0x38,
        0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A, 0x53,
        0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65, 0x66,
        0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78, 0x79,
        0x7A, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A, 0x92, 0x93,
        0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3, 0xA4, 0xA5,
        0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5, 0xB6, 0xB7,
        0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7, 0xC8, 0xC9,
        0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9, 0xDA, 0xE1,
        0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF1, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)
_AC_CHROMA = (
    [0, 2, 1, 2, 4, 4, 3, 4, 7, 5, 4, 4, 0, 1, 2, 119],
    [
        0x00, 0x01, 0x02, 0x03, 0x11, 0x04, 0x05, 0x21, 0x31, 0x06, 0x12,
        0x41, 0x51, 0x07, 0x61, 0x71, 0x13, 0x22, 0x32, 0x81, 0x08, 0x14,
        0x42, 0x91, 0xA1, 0xB1, 0xC1, 0x09, 0x23, 0x33, 0x52, 0xF0, 0x15,
        0x62, 0x72, 0xD1, 0x0A, 0x16, 0x24, 0x34, 0xE1, 0x25, 0xF1, 0x17,
        0x18, 0x19, 0x1A, 0x26, 0x27, 0x28, 0x29, 0x2A, 0x35, 0x36, 0x37,
        0x38, 0x39, 0x3A, 0x43, 0x44, 0x45, 0x46, 0x47, 0x48, 0x49, 0x4A,
        0x53, 0x54, 0x55, 0x56, 0x57, 0x58, 0x59, 0x5A, 0x63, 0x64, 0x65,
        0x66, 0x67, 0x68, 0x69, 0x6A, 0x73, 0x74, 0x75, 0x76, 0x77, 0x78,
        0x79, 0x7A, 0x82, 0x83, 0x84, 0x85, 0x86, 0x87, 0x88, 0x89, 0x8A,
        0x92, 0x93, 0x94, 0x95, 0x96, 0x97, 0x98, 0x99, 0x9A, 0xA2, 0xA3,
        0xA4, 0xA5, 0xA6, 0xA7, 0xA8, 0xA9, 0xAA, 0xB2, 0xB3, 0xB4, 0xB5,
        0xB6, 0xB7, 0xB8, 0xB9, 0xBA, 0xC2, 0xC3, 0xC4, 0xC5, 0xC6, 0xC7,
        0xC8, 0xC9, 0xCA, 0xD2, 0xD3, 0xD4, 0xD5, 0xD6, 0xD7, 0xD8, 0xD9,
        0xDA, 0xE2, 0xE3, 0xE4, 0xE5, 0xE6, 0xE7, 0xE8, 0xE9, 0xEA, 0xF2,
        0xF3, 0xF4, 0xF5, 0xF6, 0xF7, 0xF8, 0xF9, 0xFA,
    ],
)

import math as _math

_COS = [
    [_math.cos((2 * x + 1) * u * _math.pi / 16) for u in range(8)]
    for x in range(8)
]
_C = [1 / _math.sqrt(2)] + [1.0] * 7

# Full-decode pixel ceiling (untrusted SOF dims; the Python IDCT loop
# is O(w*h) — same posture as _PNG_MAX_PIXELS).
_JPEG_MAX_PIXELS = 1 << 22


def _div_round(a: int, q: int) -> int:
    """Away-from-zero integer rounding of a/q — portable (no float, no
    banker's rounding), the property the closed-form oracle replays."""
    if a >= 0:
        return (a + q // 2) // q
    return -((-a + q // 2) // q)


def _fdct_quant(block: list[int], qt: list[int]) -> list[int]:
    """Forward DCT + quantization of one level-shifted 8x8 block,
    natural order in, natural order out."""
    out = [0] * 64
    for v in range(8):
        for u in range(8):
            s = 0.0
            for y in range(8):
                cy = _COS[y][v]
                base = 8 * y
                for x in range(8):
                    s += block[base + x] * _COS[x][u] * cy
            coef = 0.25 * _C[u] * _C[v] * s
            out[v * 8 + u] = _div_round(int(round(coef)), qt[v * 8 + u])
    return out


class _BitWriter:
    def __init__(self) -> None:
        self.buf = bytearray()
        self.acc = 0
        self.nbits = 0

    def write(self, value: int, length: int) -> None:
        if length == 0:
            return
        self.acc = (self.acc << length) | (value & ((1 << length) - 1))
        self.nbits += length
        while self.nbits >= 8:
            byte = (self.acc >> (self.nbits - 8)) & 0xFF
            self.buf.append(byte)
            if byte == 0xFF:
                self.buf.append(0x00)  # byte stuffing
            self.nbits -= 8
            self.acc &= (1 << self.nbits) - 1

    def flush(self) -> None:
        if self.nbits:
            pad = 8 - self.nbits
            self.write((1 << pad) - 1, pad)  # pad with 1-bits per spec


def _huff_encode_map(bits: list[int], vals: list[int]) -> dict[int, tuple[int, int]]:
    """Canonical Huffman: symbol -> (code, length)."""
    out: dict[int, tuple[int, int]] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[vals[k]] = (code, length)
            code += 1
            k += 1
        code <<= 1
    return out


def _category(v: int) -> int:
    """JPEG magnitude category: number of bits in |v| (0 for 0)."""
    a = abs(v)
    n = 0
    while a:
        a >>= 1
        n += 1
    return n


def _encode_block(bw, plane, stride, bx, by, qt, dcm, acm, pred: int) -> int:
    """Level-shift, FDCT-quantize and Huffman-code the 8x8 block at
    (bx, by) of ``plane`` (row stride ``stride``) against DC predictor
    ``pred``; returns the block's DC, the next predictor."""
    block = [
        plane[(by + y) * stride + (bx + x)] - 128
        for y in range(8)
        for x in range(8)
    ]
    coefs = _fdct_quant(block, qt)
    zz = [coefs[_ZIGZAG[i]] for i in range(64)]
    diff = zz[0] - pred
    cat = _category(diff)
    code, ln = dcm[cat]
    bw.write(code, ln)
    if cat:
        bw.write(diff if diff > 0 else diff + (1 << cat) - 1, cat)
    run = 0
    for i in range(1, 64):
        if zz[i] == 0:
            run += 1
            continue
        while run > 15:
            code, ln = acm[0xF0]  # ZRL
            bw.write(code, ln)
            run -= 16
        cat = _category(zz[i])
        code, ln = acm[(run << 4) | cat]
        bw.write(code, ln)
        bw.write(zz[i] if zz[i] > 0 else zz[i] + (1 << cat) - 1, cat)
        run = 0
    if run:
        code, ln = acm[0x00]  # EOB
        bw.write(code, ln)
    return zz[0]


def make_jpeg(
    width: int,
    height: int,
    pixel_fn,
    gray: bool = True,
    restart_interval: int = 0,
    subsample_420: bool = False,
) -> bytes:
    """Serialize a baseline JFIF JPEG.  ``gray=True``: one component,
    ``pixel_fn(x, y) -> int`` (a tuple's first element is accepted).
    ``gray=False``: 4:4:4 color, ``pixel_fn(x, y) -> (r, g, b)``;
    ``subsample_420=True`` additionally emits 4:2:0 chroma (luma 2x2
    sampling, chroma planes averaged over 2x2 pixel quads — the
    dominant shape in real crawls/cameras).  Planes pad to 8-multiples
    (16 for 4:2:0 luma) by edge replication; coefficients round
    away-from-zero (``_div_round``), so a per-8x8-block CONSTANT image
    quantizes to a DC-only stream whose decode is closed-form:
    value' = clamp(2 * _div_round(value - 128, 2) + 128) under the
    Annex K luminance table's DC step of 16.  ``restart_interval > 0``
    emits a DRI segment and byte-aligned RSTn markers every that many
    MCUs with DC predictors reset (the camera-output shape)."""
    if subsample_420 and not gray:
        return _make_jpeg_420(width, height, pixel_fn, restart_interval)

    def sample(x: int, y: int):
        px = pixel_fn(min(x, width - 1), min(y, height - 1))
        return px

    pw, ph = (width + 7) & ~7, (height + 7) & ~7
    if gray:
        planes = [
            [
                (lambda p: p[0] if isinstance(p, tuple) else p)(sample(x, y)) & 0xFF
                for y in range(ph)
                for x in range(pw)
            ]
        ]
        qts = [_JPEG_QT_LUMA]
        comp_qt = [0]
    else:
        ys: list[int] = []
        cbs: list[int] = []
        crs: list[int] = []
        for y in range(ph):
            for x in range(pw):
                r, g, b = sample(x, y)
                ys.append(max(0, min(255, round(0.299 * r + 0.587 * g + 0.114 * b))))
                cbs.append(
                    max(0, min(255, round(128 - 0.168736 * r - 0.331264 * g + 0.5 * b)))
                )
                crs.append(
                    max(0, min(255, round(128 + 0.5 * r - 0.418688 * g - 0.081312 * b)))
                )
        planes = [ys, cbs, crs]
        qts = [_JPEG_QT_LUMA, _JPEG_QT_CHROMA]
        comp_qt = [0, 1, 1]

    out = bytearray(b"\xff\xd8")  # SOI
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, qt in enumerate(qts):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(qt[_ZIGZAG[i]] for i in range(64))
    ncomp = len(planes)
    out += b"\xff\xc0" + struct.pack(">HBHHB", 8 + 3 * ncomp, 8, height, width, ncomp)
    for ci in range(ncomp):
        out += bytes([ci + 1, 0x11, comp_qt[ci]])  # 1x1 sampling
    huffs = [(_DC_LUMA, 0x00), (_AC_LUMA, 0x10)]
    if ncomp == 3:
        huffs += [(_DC_CHROMA, 0x01), (_AC_CHROMA, 0x11)]
    for (bits, vals), tc_th in huffs:
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes([tc_th])
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 6 + 2 * ncomp, ncomp)
    for ci in range(ncomp):
        tabs = 0x00 if ci == 0 else 0x11
        out += bytes([ci + 1, tabs])
    out += b"\x00\x3f\x00"  # Ss=0 Se=63 Ah/Al=0

    dc_maps = [_huff_encode_map(*_DC_LUMA)]
    ac_maps = [_huff_encode_map(*_AC_LUMA)]
    if ncomp == 3:
        dc_maps += [_huff_encode_map(*_DC_CHROMA)] * 2
        ac_maps += [_huff_encode_map(*_AC_CHROMA)] * 2
    bw = _BitWriter()
    pred = [0] * ncomp
    mcu_count = 0
    rst_n = 0
    for by in range(0, ph, 8):
        for bx in range(0, pw, 8):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                bw.buf += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) & 7
                pred = [0] * ncomp
            mcu_count += 1
            for ci in range(ncomp):
                pred[ci] = _encode_block(
                    bw, planes[ci], pw, bx, by, qts[comp_qt[ci]],
                    dc_maps[ci], ac_maps[ci], pred[ci],
                )
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"  # EOI
    return bytes(out)


def _make_jpeg_420(width: int, height: int, pixel_fn, restart_interval: int) -> bytes:
    """4:2:0 color JPEG: luma 2x2 sampling, chroma averaged over 2x2
    pixel quads, MCU = four Y blocks (raster order) + Cb + Cr.  Split
    out of :func:`make_jpeg` because the MCU geometry differs (16-px
    tiles, interleave order); the block coder and tables are shared."""

    def sample(x: int, y: int):
        return pixel_fn(min(x, width - 1), min(y, height - 1))

    pw, ph = (width + 15) & ~15, (height + 15) & ~15
    ys = [0] * (pw * ph)
    cbf = [0.0] * (pw * ph)
    crf = [0.0] * (pw * ph)
    for y in range(ph):
        for x in range(pw):
            r, g, b = sample(x, y)
            ys[y * pw + x] = max(0, min(255, round(0.299 * r + 0.587 * g + 0.114 * b)))
            cbf[y * pw + x] = 128 - 0.168736 * r - 0.331264 * g + 0.5 * b
            crf[y * pw + x] = 128 + 0.5 * r - 0.418688 * g - 0.081312 * b
    cw, chh = pw // 2, ph // 2
    cbs = [0] * (cw * chh)
    crs = [0] * (cw * chh)
    for y in range(chh):
        for x in range(cw):
            quad = [(2 * y) * pw + 2 * x, (2 * y) * pw + 2 * x + 1,
                    (2 * y + 1) * pw + 2 * x, (2 * y + 1) * pw + 2 * x + 1]
            cbs[y * cw + x] = max(0, min(255, round(sum(cbf[i] for i in quad) / 4)))
            crs[y * cw + x] = max(0, min(255, round(sum(crf[i] for i in quad) / 4)))

    out = bytearray(b"\xff\xd8")
    out += b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00\x00\x01\x00\x01\x00\x00"
    for tq, qt in ((0, _JPEG_QT_LUMA), (1, _JPEG_QT_CHROMA)):
        out += b"\xff\xdb" + struct.pack(">H", 67) + bytes([tq])
        out += bytes(qt[_ZIGZAG[i]] for i in range(64))
    out += b"\xff\xc0" + struct.pack(">HBHHB", 17, 8, height, width, 3)
    out += bytes([1, 0x22, 0]) + bytes([2, 0x11, 1]) + bytes([3, 0x11, 1])
    for (bits, vals), tc_th in (
        (_DC_LUMA, 0x00), (_AC_LUMA, 0x10), (_DC_CHROMA, 0x01), (_AC_CHROMA, 0x11)
    ):
        out += b"\xff\xc4" + struct.pack(">H", 19 + len(vals)) + bytes([tc_th])
        out += bytes(bits) + bytes(vals)
    if restart_interval:
        out += b"\xff\xdd" + struct.pack(">HH", 4, restart_interval)
    out += b"\xff\xda" + struct.pack(">HB", 12, 3)
    out += bytes([1, 0x00, 2, 0x11, 3, 0x11]) + b"\x00\x3f\x00"

    dc_maps = [_huff_encode_map(*_DC_LUMA), _huff_encode_map(*_DC_CHROMA)]
    ac_maps = [_huff_encode_map(*_AC_LUMA), _huff_encode_map(*_AC_CHROMA)]
    bw = _BitWriter()
    pred = [0, 0, 0]

    def emit(plane, stride, bx, by, ci):
        pred[ci] = _encode_block(
            bw, plane, stride, bx, by,
            _JPEG_QT_LUMA if ci == 0 else _JPEG_QT_CHROMA,
            dc_maps[min(ci, 1)], ac_maps[min(ci, 1)], pred[ci],
        )

    mcu_count = 0
    rst_n = 0
    for my in range(0, ph, 16):
        for mx in range(0, pw, 16):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                bw.flush()
                bw.buf += bytes([0xFF, 0xD0 + rst_n])
                rst_n = (rst_n + 1) & 7
                pred = [0, 0, 0]
            mcu_count += 1
            for by in (0, 8):
                for bx in (0, 8):
                    emit(ys, pw, mx + bx, my + by, 0)
            emit(cbs, cw, mx // 2, my // 2, 1)
            emit(crs, cw, mx // 2, my // 2, 2)
    bw.flush()
    out += bw.buf
    out += b"\xff\xd9"
    return bytes(out)


class _BitReader:
    """Entropy-segment bit reader with 0xFF00 unstuffing; stops at any
    real marker (0xFF xx, xx != 0) and reports it."""

    def __init__(self, data: bytes, pos: int) -> None:
        self.data = data
        self.pos = pos
        self.acc = 0
        self.nbits = 0
        self.marker: int | None = None

    def _fill(self) -> bool:
        if self.marker is not None:
            return False
        if self.pos >= len(self.data):
            return False
        b = self.data[self.pos]
        if b == 0xFF:
            if self.pos + 1 >= len(self.data):
                return False
            nxt = self.data[self.pos + 1]
            if nxt == 0x00:
                self.pos += 2
            else:
                self.marker = nxt
                return False
        else:
            self.pos += 1
        self.acc = (self.acc << 8) | b
        self.nbits += 8
        return True

    def read_bit(self) -> int | None:
        if self.nbits == 0 and not self._fill():
            return None
        self.nbits -= 1
        bit = (self.acc >> self.nbits) & 1
        self.acc &= (1 << self.nbits) - 1
        return bit

    def receive(self, n: int) -> int | None:
        v = 0
        for _ in range(n):
            b = self.read_bit()
            if b is None:
                return None
            v = (v << 1) | b
        return v

    def restart(self) -> None:
        """Consume an RSTn marker and byte-align (DC predictors are the
        caller's to reset).  In a well-formed stream the reader stops at
        the interval boundary BEFORE _fill() ever touches the marker, so
        self.marker is usually still None here — peek the raw bytes
        directly rather than relying on the marker having been latched."""
        self.acc = 0
        self.nbits = 0
        if self.marker is not None:
            if 0xD0 <= self.marker <= 0xD7:
                self.pos += 2
                self.marker = None
            return
        if (
            self.pos + 1 < len(self.data)
            and self.data[self.pos] == 0xFF
            and 0xD0 <= self.data[self.pos + 1] <= 0xD7
        ):
            self.pos += 2


def _huff_decode_map(bits: list[int], vals: list[int]) -> dict[tuple[int, int], int]:
    out: dict[tuple[int, int], int] = {}
    code = 0
    k = 0
    for length in range(1, 17):
        for _ in range(bits[length - 1]):
            out[(length, code)] = vals[k]
            code += 1
            k += 1
        code <<= 1
    return out


def _huff_read(br: _BitReader, table: dict[tuple[int, int], int]) -> int | None:
    code = 0
    for length in range(1, 17):
        b = br.read_bit()
        if b is None:
            return None
        code = (code << 1) | b
        if (length, code) in table:
            return table[(length, code)]
    return None


def _extend(v: int, cat: int) -> int:
    if cat == 0:
        return 0
    return v if v >= (1 << (cat - 1)) else v - (1 << cat) + 1


def _idct_block(coefs: list[int]) -> list[int]:
    """Float separable IDCT of one dequantized natural-order block;
    returns 64 level-shifted, clamped samples."""
    # rows (u over columns), then columns — direct O(8*8*8) per pass
    tmp = [0.0] * 64
    for y in range(8):
        base = 8 * y
        for x in range(8):
            s = 0.0
            for v in range(8):
                cv = _C[v] * _COS[y][v]
                inner = 0.0
                row = 8 * v
                for u in range(8):
                    inner += _C[u] * coefs[row + u] * _COS[x][u]
                s += cv * inner
            tmp[base + x] = 0.25 * s
    return [max(0, min(255, round(t + 128))) for t in tmp]


def parse_jpeg(raw: bytes) -> dict | None:
    """Decode a baseline (SOF0) JPEG: marker walk, canonical Huffman,
    dequantize + dezigzag, float IDCT, nearest-neighbor chroma
    upsample, integer YCbCr->RGB.  Returns {width, height, pixels}
    with (b, g, r) row-major tuples (the parse_bmp convention), or
    pixels=None for header-only decodes (progressive SOF2, missing
    tables, over-cap dims, truncated streams), or None if the blob is
    not a JPEG at all."""
    if len(raw) < 4 or raw[:2] != b"\xff\xd8":
        return None
    pos = 2
    qts: dict[int, list[int]] = {}
    dc_tabs: dict[int, dict] = {}
    ac_tabs: dict[int, dict] = {}
    comps: list[tuple[int, int, int, int]] = []  # (id, h, v, tq)
    scan: list[tuple[int, int, int]] = []  # (comp index, dc id, ac id)
    width = height = 0
    restart_interval = 0
    sof_ok = False
    data_pos = -1
    while pos + 4 <= len(raw):
        if raw[pos] != 0xFF:
            return None
        marker = raw[pos + 1]
        if marker == 0xD9:  # EOI before SOS
            break
        seg_len = struct.unpack_from(">H", raw, pos + 2)[0]
        body = raw[pos + 4 : pos + 2 + seg_len]
        if marker == 0xDB:  # DQT
            i = 0
            while i < len(body):
                pq, tq = body[i] >> 4, body[i] & 0x0F
                i += 1
                if pq != 0 or i + 64 > len(body):
                    return {"width": width, "height": height, "pixels": None}
                zz = list(body[i : i + 64])
                nat = [0] * 64
                for j in range(64):
                    nat[_ZIGZAG[j]] = zz[j]
                qts[tq] = nat
                i += 64
        elif marker == 0xC4:  # DHT
            i = 0
            while i + 17 <= len(body):
                tc, th = body[i] >> 4, body[i] & 0x0F
                bits = list(body[i + 1 : i + 17])
                n = sum(bits)
                vals = list(body[i + 17 : i + 17 + n])
                if len(vals) < n:
                    return {"width": width, "height": height, "pixels": None}
                (dc_tabs if tc == 0 else ac_tabs)[th] = _huff_decode_map(bits, vals)
                i += 17 + n
        elif marker == 0xC0:  # SOF0 baseline
            if len(body) < 6:
                return None
            height, width = struct.unpack_from(">HH", body, 1)
            nc = body[5]
            if len(body) < 6 + 3 * nc:
                return {"width": width, "height": height, "pixels": None}
            comps = []
            for c in range(nc):
                cid, hv, tq = body[6 + 3 * c], body[7 + 3 * c], body[8 + 3 * c]
                comps.append((cid, hv >> 4, hv & 0x0F, tq))
            sof_ok = True
        elif marker in (0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB,
                        0xCD, 0xCE, 0xCF):
            # non-baseline frame: header-only (dims still useful)
            if len(body) >= 5:
                height, width = struct.unpack_from(">HH", body, 1)
            return {"width": width, "height": height, "pixels": None}
        elif marker == 0xDD:  # DRI
            restart_interval = struct.unpack_from(">H", body, 0)[0]
        elif marker == 0xDA:  # SOS
            if len(body) < 1 or len(body) < 1 + 2 * body[0]:
                # truncated scan header: header-only, never IndexError
                return {"width": width, "height": height, "pixels": None}
            ns = body[0]
            scan = []
            for s in range(ns):
                cs, tabs = body[1 + 2 * s], body[2 + 2 * s]
                idx = next((i for i, c in enumerate(comps) if c[0] == cs), None)
                if idx is None:
                    return {"width": width, "height": height, "pixels": None}
                scan.append((idx, tabs >> 4, tabs & 0x0F))
            data_pos = pos + 2 + seg_len
            break
        pos += 2 + seg_len
    if not sof_ok or width == 0 or height == 0:
        return None if not sof_ok else {"width": width, "height": height, "pixels": None}
    out = {"width": width, "height": height, "pixels": None}
    if data_pos < 0 or not scan or width * height > _JPEG_MAX_PIXELS:
        return out
    for idx, td, ta in scan:
        if td not in dc_tabs or ta not in ac_tabs or comps[idx][3] not in qts:
            return out

    hmax = max(c[1] for c in comps)
    vmax = max(c[2] for c in comps)
    if hmax < 1 or vmax < 1 or hmax > 4 or vmax > 4:
        return out
    mcux = (width + 8 * hmax - 1) // (8 * hmax)
    mcuy = (height + 8 * vmax - 1) // (8 * vmax)
    planes = []
    for cid, h, v, tq in comps:
        planes.append([0] * (mcux * h * 8 * mcuy * v * 8))
    br = _BitReader(raw, data_pos)
    pred = [0] * len(comps)
    mcu_count = 0
    for my in range(mcuy):
        for mx in range(mcux):
            if restart_interval and mcu_count and mcu_count % restart_interval == 0:
                br.restart()
                pred = [0] * len(comps)
            mcu_count += 1
            for si, (ci, td, ta) in enumerate(scan):
                _, ch, cv, tq = comps[ci]
                qt = qts[tq]
                pw = mcux * ch * 8
                for by in range(cv):
                    for bx in range(ch):
                        cat = _huff_read(br, dc_tabs[td])
                        if cat is None:
                            return out  # truncated: header-only
                        bits_v = br.receive(cat)
                        if bits_v is None:
                            return out
                        pred[ci] += _extend(bits_v, cat)
                        zz = [0] * 64
                        zz[0] = pred[ci] * qt[0]
                        i = 1
                        while i < 64:
                            rs = _huff_read(br, ac_tabs[ta])
                            if rs is None:
                                return out
                            if rs == 0x00:  # EOB
                                break
                            if rs == 0xF0:  # ZRL
                                i += 16
                                continue
                            run, cat = rs >> 4, rs & 0x0F
                            i += run
                            if i > 63:
                                return out
                            bits_v = br.receive(cat)
                            if bits_v is None:
                                return out
                            zz[_ZIGZAG[i]] = _extend(bits_v, cat) * qt[_ZIGZAG[i]]
                            i += 1
                        block = _idct_block(zz)
                        ox = (mx * ch + bx) * 8
                        oy = (my * cv + by) * 8
                        plane = planes[ci]
                        for y in range(8):
                            dst = (oy + y) * pw + ox
                            src = 8 * y
                            plane[dst : dst + 8] = block[src : src + 8]

    pixels: list[tuple[int, int, int]] = []
    if len(comps) == 1:
        pw = mcux * comps[0][1] * 8
        plane = planes[0]
        for y in range(height):
            base = y * pw
            for x in range(width):
                g = plane[base + x]
                pixels.append((g, g, g))
    elif len(comps) == 3:
        for y in range(height):
            for x in range(width):
                smp = []
                for ci, (cid, ch, cv, tq) in enumerate(comps):
                    pw = mcux * ch * 8
                    sx = x * ch // hmax
                    sy = y * cv // vmax
                    smp.append(planes[ci][sy * pw + sx])
                yy, cb, cr = smp
                r = max(0, min(255, round(yy + 1.402 * (cr - 128))))
                g = max(
                    0,
                    min(255, round(yy - 0.344136 * (cb - 128) - 0.714136 * (cr - 128))),
                )
                b = max(0, min(255, round(yy + 1.772 * (cb - 128))))
                pixels.append((b, g, r))
    else:
        return out
    out["pixels"] = pixels
    return out
