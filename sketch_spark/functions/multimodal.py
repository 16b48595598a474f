"""Multimodal column handling: image/audio/video as opaque binary
columns with typed metadata.

Decode is REAL for PPM/PGM (netpbm binary), 24-bit BMP, PCM WAV
(8/16/24/32-bit), every legal PNG (all five scanline filters, Adam7
interlace, 1/2/4/8/16-bit depths, color types 0/2/3/4/6), GIF87a/89a
first frame (full LZW with KwKwK and 4096-code dictionary handling,
global/local palettes, 4-pass deinterlace), baseline AND progressive
JPEG (``jpegcodec.py``: SOF0/SOF1/SOF2, DRI/RSTn, 4:4:4/4:2:2/4:2:0),
and uncompressed-DIB AVI — pure python/numpy (serial recurrences run
compiled kernels via ``core.native``, byte-equal python fallbacks), no
media library needed — and hash-oracle-able end-to-end (``pixel_md5``
is md5 over the RGB buffer's lowercase hex, reproducible in ANSI SQL
from the same bytes).  Only arithmetic-coded/12-bit JPEG keeps a
clearly-marked PIL/opencv swap point (``NotImplementedError``) for
clusters that have the libraries; the deterministic fake feature
extractor remains for plumbing tests over arbitrary blobs.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, functions as F

from sketch_spark.core import native as _native

__all__ = [
    "ahash_bands",
    "audio_near_duplicates",
    "wav_energy_bands",
    "binary_metadata",
    "corpus_luma_histogram",
    "image_near_duplicates",
    "video_clip_signatures",
    "video_duplicates",
    "decode_image",
    "decode_images_df",
    "decode_avi_frames",
    "decode_avi_frames_df",
    "decode_wav",
    "decode_wavs_df",
    "encode_avi",
    "encode_gif",
    "encode_png",
    "resize_rgb",
    "fake_features",
    "image_exact_duplicates",
    "image_stats_df",
    "wav_features_df",
    "extract_features_df",
    "resize_images_df",
    "sample_video_frames_df",
]

_MAGIC = {
    b"\xff\xd8\xff": "jpeg",
    b"\x89PNG": "png",
    b"GIF8": "gif",
    b"RIFF": "riff",
    b"<htm": "html",
    b"<!DO": "html",
    b"%PDF": "pdf",
}


def _spread(df: DataFrame) -> DataFrame:
    """Decode/feature passes are CPU-bound python stages: spread an
    underpartitioned (e.g. single-split) input first so they
    parallelize; a well-partitioned big input passes through untouched
    (see operators.aggregate.ensure_min_partitions).  Streaming inputs
    pass through as-is: partition inspection needs ``df.rdd`` (illegal
    on a stream), and micro-batch parallelism is the trigger's job."""
    if df.isStreaming:
        return df
    from sketch_spark.operators.aggregate import ensure_min_partitions

    return ensure_min_partitions(df)


_PNM_WS = b" \t\r\n\x0b\x0c"


def _blob_bytes(b) -> bytes:
    """Coerce a parquet binary cell to bytes; a NULL blob (routine in
    web-corpus joins) raises the skippable ValueError, never TypeError."""
    if b is None:
        raise ValueError("null blob")
    return bytes(b)


def _blob_or_empty(b) -> bytes:
    """Null policy for TOTAL operators (resize / frame-sample / fake
    features): a NULL blob decodes as an empty buffer, which routes to
    the deterministic fallback instead of raising."""
    return b"" if b is None else bytes(b)


def _pnm_tokens(buf: bytes, pos: int, n: int) -> tuple[list[int], int]:
    """Read ``n`` whitespace-separated integer tokens from a netpbm
    header starting at ``pos``; ``#`` comments run to end-of-line and
    count as whitespace (netpbm spec)."""
    out: list[int] = []
    while len(out) < n:
        while pos < len(buf) and (buf[pos : pos + 1] in (b"#",) or buf[pos] in _PNM_WS):
            if buf[pos : pos + 1] == b"#":
                nl = buf.find(b"\n", pos)
                pos = len(buf) if nl < 0 else nl + 1
            else:
                pos += 1
        start = pos
        while pos < len(buf) and buf[pos] not in _PNM_WS:
            pos += 1
        if pos == start:
            raise ValueError("truncated netpbm header")
        out.append(int(buf[start:pos]))
    return out, pos


def _decode_pnm(buf: bytes) -> tuple[str, int, int, bytes]:
    kind = "ppm" if buf[:2] == b"P6" else "pgm"
    (w, h, maxval), pos = _pnm_tokens(buf, 2, 3)
    if w <= 0 or h <= 0:
        raise ValueError(f"bad {kind} dimensions {w}x{h}")
    if not (0 < maxval <= 255):
        raise ValueError(f"netpbm maxval {maxval} out of supported range (1-255)")
    pos += 1  # exactly ONE whitespace byte separates header from raster
    need = w * h * (3 if kind == "ppm" else 1)
    raster = buf[pos : pos + need]
    if len(raster) < need:
        raise ValueError(f"truncated {kind} raster: need {need} bytes, have {len(raster)}")
    if kind == "pgm":  # expand gray to RGB so every decoder yields one layout
        raster = np.repeat(np.frombuffer(raster, np.uint8), 3).tobytes()
    return kind, w, h, raster


def _decode_bmp(buf: bytes) -> tuple[str, int, int, bytes]:
    if len(buf) < 54:
        raise ValueError("truncated BMP header")
    data_off = struct.unpack_from("<I", buf, 10)[0]
    w, h_raw = struct.unpack_from("<ii", buf, 18)
    bpp = struct.unpack_from("<H", buf, 28)[0]
    compression = struct.unpack_from("<I", buf, 30)[0]
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit BMP supported (got {bpp}-bit, "
            f"compression={compression}); swap in PIL for other variants"
        )
    top_down, h = h_raw < 0, abs(h_raw)
    if w <= 0 or h <= 0:
        raise ValueError(f"bad BMP dimensions {w}x{h_raw}")
    stride = (w * 3 + 3) & ~3
    need = stride * h
    body = buf[data_off : data_off + need]
    if len(body) < need:
        raise ValueError(f"truncated BMP body: need {need} bytes, have {len(body)}")
    rows = np.frombuffer(body, np.uint8).reshape(h, stride)[:, : w * 3]
    px = rows.reshape(h, w, 3)[:, :, ::-1]  # BGR -> RGB
    if not top_down:
        px = px[::-1]
    return "bmp", w, h, np.ascontiguousarray(px).tobytes()


_PNG_SIG = b"\x89PNG\r\n\x1a\n"
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_unfilter(arr: np.ndarray, h: int, stride: int, bpp: int) -> np.ndarray:
    """Reverse the five PNG scanline filters (spec §9).  Average/Paeth
    decode is a TRUE intra-row recurrence (recon[x] needs
    recon[x-bpp]) — and organic PNGs are Paeth-heavy (libpng's
    adaptive default) — so the whole image routes through the compiled
    row kernel (core.native: ~40 lines of C via cc+ctypes, one pass,
    cached per machine) when a system compiler exists.  The python
    fallback vectorizes Sub (per-channel cumsum) and Up (prior-row
    add) in numpy and scans Average/Paeth rows over plain int lists
    (~20x the numpy-scalar loop this replaces); both paths are
    property-tested byte-equal across all filters."""
    nat = _native.png_unfilter(arr, h, stride, bpp)
    if nat is not None:
        return nat
    out = np.empty((h, stride), np.uint8)
    prev = np.zeros(stride, np.int64)
    for y in range(h):
        base = y * (stride + 1)
        f = arr[base]
        line = arr[base + 1 : base + 1 + stride].astype(np.int64)
        if f == 0:
            rec = line
        elif f == 1:  # Sub: recon[x] = filt[x] + recon[x-bpp]
            rec = (line.reshape(-1, bpp).cumsum(axis=0) & 255).reshape(-1)
        elif f == 2:  # Up
            rec = (line + prev) & 255
        elif f == 3:  # Average
            rl, pl = line.tolist(), prev.tolist()
            for x in range(stride):
                left = rl[x - bpp] if x >= bpp else 0
                rl[x] = (rl[x] + ((left + pl[x]) >> 1)) & 255
            rec = np.array(rl, np.int64)
        elif f == 4:  # Paeth
            rl, pl = line.tolist(), prev.tolist()
            for x in range(stride):
                a = rl[x - bpp] if x >= bpp else 0
                b = pl[x]
                c = pl[x - bpp] if x >= bpp else 0
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pr = a if (pa <= pb and pa <= pc) else (b if pb <= pc else c)
                rl[x] = (rl[x] + pr) & 255
            rec = np.array(rl, np.int64)
        else:
            raise ValueError(f"bad PNG filter byte {f} on row {y}")
        out[y] = rec
        prev = rec
    return out


# Adam7 pass grid: (x0, y0, dx, dy) per pass (PNG spec §8.2)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_stride(w: int, channels: int, bitd: int) -> int:
    return (w * channels * bitd + 7) // 8


def _png_samples(flt: np.ndarray, w: int, h: int, channels: int, bitd: int) -> np.ndarray:
    """Unfiltered scanline bytes -> (h, w, channels) uint8 samples.
    16-bit strips to the high byte (libpng's default 16->8); 1/2/4-bit
    gray scales to full range (15 -> 255 at depth 4), palette indices
    pass through unscaled."""
    if bitd == 8:
        return flt.reshape(h, w, channels)
    if bitd == 16:
        return flt.reshape(h, w, channels, 2)[..., 0]
    # sub-byte depths: spec restricts them to 1-channel color types
    bits = np.unpackbits(flt.reshape(h, -1), axis=1)[:, : w * bitd]
    weights = 1 << np.arange(bitd - 1, -1, -1)
    vals = (bits.reshape(h, w, bitd) * weights).sum(axis=2).astype(np.uint8)
    return vals[..., None]


def _decode_png(buf: bytes) -> tuple[str, int, int, bytes]:
    """PNG via stdlib zlib: walk chunks, inflate the concatenated IDAT
    stream (capped at the exact expected raster size), reverse the
    scanline filters, then map color types 0 (gray), 2 (RGB),
    3 (palette), 4 (gray+alpha), 6 (RGBA) to one packed-RGB layout
    (alpha dropped, gray expanded, palette applied).  All legal bit
    depths decode (1/2/4-bit gray+palette, 8, 16 stripped to the high
    byte) and Adam7 interlace deinterlaces pass by pass — no PIL seam
    left in PNG."""
    pos, w = 8, None
    idat: list[bytes] = []
    plte = None
    while pos + 8 <= len(buf):
        length, ctype = struct.unpack_from(">I4s", buf, pos)
        data = buf[pos + 8 : pos + 8 + length]
        if len(data) < length:
            raise ValueError("truncated PNG chunk")
        pos += 12 + length  # 4 length + 4 type + data + 4 crc
        if ctype == b"IHDR":
            w, h, bitd, colort, _comp, _filt, interlace = struct.unpack(">IIBBBBB", data)
            if w <= 0 or h <= 0:
                raise ValueError(f"bad PNG dimensions {w}x{h}")
            if interlace not in (0, 1):
                raise ValueError(f"bad PNG interlace {interlace}")
            if colort not in _PNG_CHANNELS:
                raise ValueError(f"bad PNG color type {colort}")
            if bitd not in (1, 2, 4, 8, 16) or (
                bitd < 8 and colort not in (0, 3)
            ) or (bitd == 16 and colort == 3):
                raise ValueError(f"bad PNG bit depth {bitd} for color type {colort}")
        elif ctype == b"PLTE":
            plte = np.frombuffer(data, np.uint8)
            if len(plte) % 3:
                raise ValueError("PLTE length not a multiple of 3")
            plte = plte.reshape(-1, 3)
        elif ctype == b"IDAT":
            idat.append(data)
        elif ctype == b"IEND":
            break
    if w is None or not idat:
        raise ValueError("PNG missing IHDR/IDAT")
    channels = _PNG_CHANNELS[colort]
    bpp = max(1, channels * bitd // 8)
    if interlace == 0:
        passes = [(0, 0, 1, 1)]
    else:
        passes = list(_ADAM7)
    dims = []
    need = 0
    for x0, y0, dx, dy in passes:
        pw = max(0, -(-(w - x0) // dx))
        ph = max(0, -(-(h - y0) // dy))
        dims.append((pw, ph))
        if pw and ph:
            need += (_png_stride(pw, channels, bitd) + 1) * ph
    # cap inflation at the expected raster size: a crafted ~1KB blob can
    # otherwise inflate to gigabytes before the length check (zlib bombs
    # are a real hazard in untrusted web corpora)
    raw = np.frombuffer(
        zlib.decompressobj().decompress(b"".join(idat), need), np.uint8
    )
    if len(raw) < need:
        raise ValueError("truncated PNG raster")
    px = np.zeros((h, w, channels), np.uint8)
    off = 0
    for (x0, y0, dx, dy), (pw, ph) in zip(passes, dims):
        if not (pw and ph):
            continue
        stride = _png_stride(pw, channels, bitd)
        span = (stride + 1) * ph
        flt = _png_unfilter(raw[off : off + span], ph, stride, bpp)
        off += span
        px[y0::dy, x0::dx] = _png_samples(flt, pw, ph, channels, bitd)
    if colort == 0:
        if bitd < 8:
            px = (px.astype(np.int64) * 255 // ((1 << bitd) - 1)).astype(np.uint8)
        rgb = np.repeat(px, 3, axis=2)
    elif colort == 2:
        rgb = px
    elif colort == 3:
        if plte is None:
            raise ValueError("palette PNG without PLTE chunk")
        if int(px.max(initial=0)) >= len(plte):
            raise ValueError("PNG pixel index outside the palette")
        rgb = plte[px[:, :, 0]]
    elif colort == 4:
        rgb = np.repeat(px[:, :, :1], 3, axis=2)
    else:  # 6: RGBA
        rgb = px[:, :, :3]
    return "png", w, h, np.ascontiguousarray(rgb).tobytes()


def _png_chunk(ctype: bytes, data: bytes) -> bytes:
    return (
        struct.pack(">I", len(data))
        + ctype
        + data
        + struct.pack(">I", zlib.crc32(ctype + data) & 0xFFFFFFFF)
    )


def _png_filter_rows(rows: np.ndarray, filter_type: int, bpp: int) -> bytes:
    """Filter a (ph, stride) byte matrix row by row (one filter type for
    all rows), returning filter-byte-prefixed scanlines."""
    ph, stride = rows.shape
    lines: list[bytes] = []
    prev = np.zeros(stride, np.int64)
    for y in range(ph):
        rec = rows[y]
        if filter_type == 0:
            filt = rec
        elif filter_type == 1:
            left = np.concatenate([np.zeros(bpp, np.int64), rec[:-bpp]])
            filt = (rec - left) & 255
        elif filter_type == 2:
            filt = (rec - prev) & 255
        elif filter_type == 3:
            left = np.concatenate([np.zeros(bpp, np.int64), rec[:-bpp]])
            filt = (rec - ((left + prev) >> 1)) & 255
        elif filter_type == 4:
            # Paeth on the ENCODE side is non-recursive (a/b/c all come
            # from known raw rows), so it vectorizes fully — unlike the
            # decode recurrence (see _png_unfilter / core.native)
            a = np.concatenate([np.zeros(bpp, np.int64), rec[:-bpp]])
            b, c = prev, np.concatenate([np.zeros(bpp, np.int64), prev[:-bpp]])
            p = a + b - c
            pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
            pr = np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))
            filt = (rec - pr) & 255
        else:
            raise ValueError(f"bad filter type {filter_type}")
        lines.append(bytes([filter_type]) + filt.astype(np.uint8).tobytes())
        prev = rec
    return b"".join(lines)


def _png_pack_rows(sub: np.ndarray, bit_depth: int) -> np.ndarray:
    """(ph, pw, ch) uint8 samples -> (ph, stride) int64 scanline bytes
    at the given depth.  16-bit writes each sample as (v, v) — i.e.
    v * 257 — so the decoder's high-byte strip roundtrips exactly;
    sub-byte depths MSB-pack (values must already fit the depth)."""
    ph, pw, ch = sub.shape
    if bit_depth == 8:
        return sub.reshape(ph, pw * ch).astype(np.int64)
    if bit_depth == 16:
        return np.repeat(sub.reshape(ph, pw * ch), 2, axis=1).astype(np.int64)
    if int(sub.max(initial=0)) >= (1 << bit_depth):
        raise ValueError(f"sample exceeds {bit_depth}-bit range")
    weights = 1 << np.arange(bit_depth - 1, -1, -1)
    bits = ((sub.reshape(ph, pw, 1).astype(np.int64) // weights) & 1).reshape(ph, -1)
    pad = (-bits.shape[1]) % 8
    if pad:
        bits = np.concatenate([bits, np.zeros((ph, pad), np.int64)], axis=1)
    return np.packbits(bits.astype(np.uint8), axis=1).astype(np.int64)


def encode_png(
    rgb: bytes,
    w: int,
    h: int,
    filter_type: int = 0,
    gray: bool = False,
    interlace: bool = False,
    bit_depth: int = 8,
) -> bytes:
    """Minimal PNG encoder — the thumbnail/fixture sink dual of
    :func:`_decode_png`, and the generator the contract oracle relies
    on: pixels in, spec-compliant bytes out, byte-deterministic.
    RGB or grayscale; one filter type for every row; single IDAT.
    ``interlace=True`` writes Adam7 (filters restart per pass);
    ``bit_depth`` accepts 8, 16 (samples doubled so the decoder's
    high-byte strip roundtrips), and 1/2/4 for grayscale (caller
    provides already-quantized values)."""
    ch = 1 if gray else 3
    if bit_depth not in (8, 16) and not (gray and bit_depth in (1, 2, 4)):
        raise ValueError(f"bad bit depth {bit_depth} for {'gray' if gray else 'rgb'}")
    px = np.frombuffer(rgb, np.uint8).reshape(h, w, ch)
    bpp = max(1, ch * bit_depth // 8)
    passes = list(_ADAM7) if interlace else [(0, 0, 1, 1)]
    parts: list[bytes] = []
    for x0, y0, dx, dy in passes:
        sub = px[y0::dy, x0::dx]
        if sub.size == 0:
            continue
        parts.append(
            _png_filter_rows(_png_pack_rows(sub, bit_depth), filter_type, bpp)
        )
    ihdr = struct.pack(
        ">IIBBBBB", w, h, bit_depth, 0 if gray else 2, 0, 0, 1 if interlace else 0
    )
    return (
        _PNG_SIG
        + _png_chunk(b"IHDR", ihdr)
        + _png_chunk(b"IDAT", zlib.compress(b"".join(parts), 6))
        + _png_chunk(b"IEND", b"")
    )


def _lzw_decode(minsize: int, data: bytes, npix: int) -> bytes:
    """GIF variable-width LZW (LSB-first): clear/end codes, dictionary
    growth to 4096 with deferred-clear tolerance, and the KwKwK case
    (code == next table slot)."""
    if not (1 <= minsize <= 11):  # spec: max code width is 12 bits
        raise ValueError(f"bad GIF LZW minimum code size {minsize}")
    clear, end = 1 << minsize, (1 << minsize) + 1
    out = bytearray()
    bitpos, total_bits = 0, len(data) * 8

    def read(nbits: int) -> int:
        nonlocal bitpos
        if bitpos + nbits > total_bits:
            raise ValueError("truncated GIF LZW stream")
        byte_i, bit_i = bitpos >> 3, bitpos & 7
        val = int.from_bytes(data[byte_i : byte_i + 4], "little") >> bit_i
        bitpos += nbits
        return val & ((1 << nbits) - 1)

    table: list[bytes] = [bytes([i]) for i in range(clear)] + [b"", b""]
    width = minsize + 1
    prev: bytes | None = None
    while len(out) < npix:
        code = read(width)
        if code == clear:
            table = table[: clear + 2]
            width = minsize + 1
            prev = None
            continue
        if code == end:
            break
        if prev is None:
            if code >= len(table):  # first code after a clear must exist
                raise ValueError(f"bad LZW code {code}")
            entry = table[code]
        elif code < len(table):
            entry = table[code]
            table.append(prev + entry[:1])
        elif code == len(table):  # KwKwK
            entry = prev + prev[:1]
            table.append(entry)
        else:
            raise ValueError(f"bad LZW code {code}")
        out += entry
        prev = entry
        if len(table) == (1 << width) and width < 12:
            width += 1
    return bytes(out[:npix])


def _lzw_encode(minsize: int, pix: bytes) -> bytes:
    """GIF LZW encoder (the dual of :func:`_lzw_decode`): real
    dictionary compression with width growth and a clear code at the
    4096 boundary — fixture/sink path, spec-compliant output."""
    clear, end = 1 << minsize, (1 << minsize) + 1
    out = bytearray()
    cur = nbits = 0
    width = minsize + 1
    next_code = end + 1
    table: dict[bytes, int] = {bytes([i]): i for i in range(clear)}

    def emit(code: int) -> None:
        nonlocal cur, nbits
        cur |= code << nbits
        nbits += width
        while nbits >= 8:
            out.append(cur & 255)
            cur >>= 8
            nbits -= 8

    emit(clear)
    w = b""
    for b in pix:
        wk = w + bytes([b])
        if wk in table:
            w = wk
            continue
        emit(table[w])
        table[wk] = next_code
        next_code += 1
        if next_code - 1 == (1 << width) and width < 12:
            width += 1
        if next_code == 4096:
            emit(clear)
            table = {bytes([i]): i for i in range(clear)}
            next_code = end + 1
            width = minsize + 1
        w = bytes([b])
    if w:
        emit(table[w])
    emit(end)
    if nbits:
        out.append(cur & 255)
    return bytes(out)


_GIF_INTERLACE_PASSES = ((0, 8), (4, 8), (2, 4), (1, 2))


def _decode_gif(buf: bytes) -> tuple[str, int, int, bytes]:
    """GIF87a/89a first frame: skip extensions, inflate the LZW stream,
    apply the (global or local) palette, deinterlace if flagged."""
    _sw, _sh, packed, _bg, _ar = struct.unpack_from("<HHBBB", buf, 6)
    pos, gct = 13, None
    if packed & 0x80:
        n = 2 << (packed & 7)
        gct = np.frombuffer(buf[pos : pos + 3 * n], np.uint8).reshape(n, 3)
        pos += 3 * n
    while pos < len(buf):
        block = buf[pos]
        if block == 0x21:  # extension: introducer + label + sub-blocks
            pos += 2
            while pos < len(buf) and buf[pos] != 0:
                pos += 1 + buf[pos]
            pos += 1
        elif block == 0x2C:  # image descriptor
            _l, _t, w, h, ipacked = struct.unpack_from("<HHHHB", buf, pos + 1)
            if w <= 0 or h <= 0:
                raise ValueError(f"bad GIF frame dimensions {w}x{h}")
            pos += 10
            pal = gct
            if ipacked & 0x80:
                n = 2 << (ipacked & 7)
                pal = np.frombuffer(buf[pos : pos + 3 * n], np.uint8).reshape(n, 3)
                pos += 3 * n
            if pal is None:
                raise ValueError("GIF frame without a color table")
            if pos >= len(buf):
                raise ValueError("truncated GIF: missing LZW code size")
            minsize = buf[pos]
            pos += 1
            chunks = []
            while pos < len(buf) and buf[pos] != 0:
                ln = buf[pos]
                chunks.append(buf[pos + 1 : pos + 1 + ln])
                pos += 1 + ln
            idx = np.frombuffer(_lzw_decode(minsize, b"".join(chunks), w * h), np.uint8)
            if len(idx) < w * h:
                raise ValueError("truncated GIF raster")
            rows = idx.reshape(h, w)
            if ipacked & 0x40:
                out_rows = np.empty_like(rows)
                src = 0
                for start, step in _GIF_INTERLACE_PASSES:
                    for y in range(start, h, step):
                        out_rows[y] = rows[src]
                        src += 1
                rows = out_rows
            if int(rows.max(initial=0)) >= len(pal):
                raise ValueError("GIF pixel index outside the color table")
            return "gif", w, h, np.ascontiguousarray(pal[rows]).tobytes()
        elif block == 0x3B:
            break
        else:
            raise ValueError(f"bad GIF block 0x{block:02x}")
    raise ValueError("GIF contains no image frame")


def encode_gif(
    indices: bytes, w: int, h: int, palette: bytes, interlace: bool = False
) -> bytes:
    """Minimal single-frame GIF89a encoder (global color table padded
    to a power of two, real LZW, optional interlace) — the fixture/sink
    dual of :func:`_decode_gif`."""
    n = len(palette) // 3
    bits = max(1, (n - 1).bit_length())
    size = 1 << bits
    out = bytearray(b"GIF89a")
    out += struct.pack("<HHBBB", w, h, 0x80 | (bits - 1), 0, 0)
    out += palette + b"\x00" * (3 * (size - n))
    out += b"\x2c" + struct.pack("<HHHHB", 0, 0, w, h, 0x40 if interlace else 0)
    minsize = max(2, bits)
    out.append(minsize)
    rows = np.frombuffer(indices, np.uint8).reshape(h, w)
    if interlace:
        order = [y for start, step in _GIF_INTERLACE_PASSES for y in range(start, h, step)]
        rows = rows[order]
    lzw = _lzw_encode(minsize, rows.tobytes())
    for i in range(0, len(lzw), 255):
        chunk = lzw[i : i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


def decode_avi_frames(
    buf: bytes, frame_indices: list[int] | None = None
) -> tuple[int, int, list[bytes]]:
    """REAL AVI container parse (RIFF walk): read width/height from the
    ``avih`` main header, require uncompressed 24-bit DIB streams from
    ``strf``, and return every ``00db``/``00dc`` frame in the ``movi``
    list as packed top-down RGB — the same layout every image decoder
    here yields.  ``frame_indices`` converts ONLY those frames (the
    walk records byte offsets, so sampling 4 frames of a 10k-frame
    clip never materializes the other 9,996 RGB buffers); a CALLABLE
    receives the total frame count and returns the indices (how the
    frame sampler picks an even spread without a second parse); None
    converts all.  Compressed codecs raise ``NotImplementedError``
    (the ffmpeg/PyAV swap point for real clusters)."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"AVI ":
        raise ValueError("not a RIFF/AVI buffer")
    w = h = None
    bpp, compression = 24, 0
    spans: list[tuple[int, int]] = []  # (offset, size) per frame chunk

    def walk(start: int, end: int, depth: int = 0) -> None:
        nonlocal w, h, bpp, compression
        if depth > 16:  # real AVIs nest 2-3 LISTs; a bomb nests thousands
            raise ValueError("corrupt AVI: LIST nesting too deep")
        pos = start
        while pos + 8 <= end:
            cid, size = buf[pos : pos + 4], struct.unpack_from("<I", buf, pos + 4)[0]
            body = pos + 8
            if cid == b"LIST":
                walk(body + 4, body + size, depth + 1)  # skip the 4-byte list type
            elif cid == b"avih":
                w, h = struct.unpack_from("<II", buf, body + 32)
            elif cid == b"strf" and size >= 40:
                bpp = struct.unpack_from("<H", buf, body + 14)[0]
                compression = struct.unpack_from("<I", buf, body + 16)[0]
            elif cid[2:4] in (b"db", b"dc") and cid[:2].isdigit():
                spans.append((body, size))
            pos = body + size + (size & 1)  # chunks are word-aligned

    try:
        walk(12, len(buf))
    except struct.error as e:  # truncated header fields -> skippable
        raise ValueError(f"corrupt AVI container: {e}") from e
    if w is None:
        raise ValueError("AVI missing avih header")
    if w <= 0 or h <= 0:
        raise ValueError(f"bad AVI dimensions {w}x{h}")
    if bpp != 24 or compression != 0:
        raise NotImplementedError(
            f"only uncompressed 24-bit DIB AVI supported (got {bpp}-bit, "
            f"compression={compression}); swap in PyAV/ffmpeg for codecs"
        )
    stride = (w * 3 + 3) & ~3
    if frame_indices is None:
        selected = list(range(len(spans)))
    elif callable(frame_indices):
        selected = list(frame_indices(len(spans)))
    else:
        selected = [i for i in frame_indices]
    if any(i < 0 or i >= len(spans) for i in selected):
        raise ValueError(
            f"frame index out of range (clip has {len(spans)} frames)"
        )
    out = []
    for i in selected:
        off, size = spans[i]
        if min(size, len(buf) - off) < stride * h:
            raise ValueError("truncated AVI frame")
        rows = np.frombuffer(buf, np.uint8, stride * h, off).reshape(h, stride)[:, : w * 3]
        px = rows.reshape(h, w, 3)[::-1, :, ::-1]  # bottom-up BGR -> top-down RGB
        out.append(np.ascontiguousarray(px).tobytes())
    return w, h, out


def encode_avi(frames_rgb: list[bytes], w: int, h: int, fps: int = 25) -> bytes:
    """Minimal uncompressed-DIB AVI writer (single 24-bit video stream)
    — the fixture/sink dual of :func:`decode_avi_frames`."""
    stride = (w * 3 + 3) & ~3

    def chunk(cid: bytes, body: bytes) -> bytes:
        return cid + struct.pack("<I", len(body)) + body + (b"\x00" if len(body) & 1 else b"")

    def lst(ltype: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", ltype + body)

    dib_frames = []
    for rgb in frames_rgb:
        px = np.frombuffer(rgb, np.uint8).reshape(h, w, 3)
        rows = px[::-1, :, ::-1].reshape(h, w * 3)  # top-down RGB -> bottom-up BGR
        body = b"".join(rows[r].tobytes().ljust(stride, b"\x00") for r in range(h))
        dib_frames.append(chunk(b"00db", body))
    avih = struct.pack(
        "<IIIIIIIIII4I",
        1_000_000 // fps, stride * h * fps, 0, 0x10, len(frames_rgb), 0, 1,
        stride * h, w, h, 0, 0, 0, 0,
    )
    strh = (
        b"vidsDIB "
        + struct.pack("<IHHIIIIIIiI", 0, 0, 0, 0, 1, fps, 0, len(frames_rgb), stride * h, -1, 0)
        + struct.pack("<4H", 0, 0, w, h)
    )
    strf = struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, stride * h, 0, 0, 0, 0)
    hdrl = lst(b"hdrl", chunk(b"avih", avih) + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)))
    movi = lst(b"movi", b"".join(dib_frames))
    riff_body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


def decode_avi_frames_df(
    df: DataFrame, bin_col: str = "video", id_col: str = "url", on_error: str = "raise"
) -> DataFrame:
    """REAL video frame extraction over an opaque AVI column: N output
    rows per clip — ``(id, frame_idx, width, height, frame_md5)`` with
    frame_md5 = md5 over the frame's RGB hex (the decode_images_df
    convention, ANSI-SQL reproducible).  Map-only, shuffle-free row
    multiplication; at 100 TB the cost is scan + python parse, scaling
    with partitions."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, ws, hs, md5s = [], [], [], [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                try:
                    w, h, frames = decode_avi_frames(_blob_bytes(b))
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    continue
                for i, rgb in enumerate(frames):
                    ids.append(rid)
                    idxs.append(i)
                    ws.append(w)
                    hs.append(h)
                    md5s.append(hashlib.md5(rgb.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {id_col: ids, "frame_idx": idxs, "width": ws, "height": hs, "frame_md5": md5s}
            )

    id_ddl = df.schema[id_col].dataType.simpleString()
    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run, f"{id_col} {id_ddl}, frame_idx int, width int, height int, frame_md5 string"
    )


def decode_image(buf: bytes) -> tuple[int, int, bytes]:
    """Decode an image blob to ``(width, height, rgb_bytes)`` — REAL
    pure-python/numpy decode for PPM (P6), PGM (P5), uncompressed
    24-bit BMP, 8-bit non-interlaced PNG (stdlib zlib), GIF first
    frame (full LZW), and baseline JPEG (``jpegcodec.py``).
    Progressive/arithmetic JPEG raises ``NotImplementedError`` with
    the documented PIL swap point (``PIL.Image.open(io.BytesIO(buf))``)
    so a cluster with the libraries can drop one in."""
    _, w, h, rgb = _decode_image_full(_blob_bytes(buf))
    return w, h, rgb


def _decode_image_full(buf: bytes) -> tuple[str, int, int, bytes]:
    # struct/zlib errors from truncated or bit-flipped blobs normalize
    # to ValueError so ``on_error='skip'`` can filter corrupt web data
    # instead of crashing the job (pinned by the decode fuzz tests)
    try:
        if buf[:2] in (b"P6", b"P5"):
            return _decode_pnm(buf)
        if buf[:2] == b"BM":
            return _decode_bmp(buf)
        if buf[:8] == _PNG_SIG:
            return _decode_png(buf)
        if buf[:4] == b"GIF8":
            return _decode_gif(buf)
    except (struct.error, zlib.error) as e:
        raise ValueError(f"corrupt image blob: {e}") from e
    if buf[:3] == b"\xff\xd8\xff":
        # real decoder (jpegcodec.py): baseline via the native scan
        # kernel + progressive/SOF2 (spectral selection, successive
        # approximation), 4:4:4/4:2:2/4:2:0; arithmetic/12-bit/CMYK
        # modes still raise NotImplementedError toward the PIL seam
        from .jpegcodec import decode_jpeg

        w, h, _, rgb = decode_jpeg(buf)
        return "jpeg", w, h, rgb
    raise ValueError(f"unrecognized image format (magic {buf[:4]!r})")


def decode_wav(buf: bytes) -> tuple[int, int, int, bytes]:
    """Parse a PCM WAV blob to ``(channels, sample_rate,
    bytes_per_sample, pcm_data)`` by walking RIFF chunks (word-aligned,
    unknown chunks skipped) — pure python, no audio library."""
    buf = bytes(buf)
    if buf[:4] != b"RIFF" or buf[8:12] != b"WAVE":
        raise ValueError("not a RIFF/WAVE buffer")
    channels = rate = bits = None
    data = None
    pos = 12
    try:
        while pos + 8 <= len(buf):
            cid, size = buf[pos : pos + 4], struct.unpack_from("<I", buf, pos + 4)[0]
            if cid == b"fmt ":
                _, channels, rate, _, _, bits = struct.unpack_from("<HHIIHH", buf, pos + 8)
            elif cid == b"data":
                data = buf[pos + 8 : pos + 8 + size]
            pos += 8 + size + (size & 1)  # chunks are word-aligned
    except struct.error as e:  # truncated fmt chunk -> skippable
        raise ValueError(f"corrupt WAVE buffer: {e}") from e
    if channels is None or data is None:
        raise ValueError("missing fmt/data chunk in WAVE buffer")
    return channels, rate, bits // 8, data


def resize_rgb(rgb: bytes, src_w: int, src_h: int, out_w: int, out_h: int) -> bytes:
    """Nearest-neighbor resize of a packed RGB buffer (floor index map
    ``src_i = (out_i * src) // out``) — deterministic integer-only
    sampling, so byte-reproducible across engines; identity dims are a
    byte-exact no-op."""
    if (src_w, src_h) == (out_w, out_h):
        return bytes(rgb)
    px = np.frombuffer(rgb, np.uint8).reshape(src_h, src_w, 3)
    ri = (np.arange(out_h) * src_h) // out_h
    ci = (np.arange(out_w) * src_w) // out_w
    return np.ascontiguousarray(px[ri][:, ci]).tobytes()


def decode_images_df(
    df: DataFrame,
    bin_col: str = "image",
    id_col: str = "url",
    resize_to: tuple[int, int] | None = None,
    on_error: str = "raise",
) -> DataFrame:
    """REAL decode over an opaque image column (PPM/PGM/BMP): one row
    per image with parsed ``(width, height, format)`` and ``pixel_md5``
    = md5 over the decoded RGB buffer's lowercase hex.  Hex (not raw
    bytes) is hashed so an ANSI-SQL oracle can reproduce the value from
    the same source bytes without blob support.  ``resize_to=(w, h)``
    applies :func:`resize_rgb` before hashing (reported dims stay the
    SOURCE dims).  Embarrassingly parallel mapInPandas — no shuffle; at
    100 TB the cost is the scan + python decode, scaling with
    partitions.  ``on_error='skip'`` drops undecodable blobs instead of
    failing the job (corrupt blobs are a fact of life in web corpora)."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, fmts, md5s = [], [], [], [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                try:
                    fmt, w, h, rgb = _decode_image_full(_blob_bytes(b))
                    if resize_to is not None:
                        rgb = resize_rgb(rgb, w, h, *resize_to)
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    continue
                ids.append(rid)
                ws.append(w)
                hs.append(h)
                fmts.append(fmt)
                md5s.append(hashlib.md5(rgb.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {id_col: ids, "width": ws, "height": hs, "format": fmts, "pixel_md5": md5s}
            )

    id_ddl = df.schema[id_col].dataType.simpleString()
    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run, f"{id_col} {id_ddl}, width int, height int, format string, pixel_md5 string"
    )


def decode_wavs_df(
    df: DataFrame, bin_col: str = "audio", id_col: str = "url", on_error: str = "raise"
) -> DataFrame:
    """REAL PCM WAV decode over an opaque audio column: per blob the
    parsed ``(channels, sample_rate, bytes_per_sample, n_pcm_bytes)``
    and ``pcm_md5`` = md5 over the PCM payload's lowercase hex (ANSI-SQL
    reproducible, same convention as :func:`decode_images_df`).
    Map-only, no shuffle."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, chs, rates, widths, nbytes, md5s = [], [], [], [], [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                try:
                    ch, rate, width, data = decode_wav(_blob_bytes(b))
                except ValueError:
                    if on_error == "raise":
                        raise
                    continue
                ids.append(rid)
                chs.append(ch)
                rates.append(rate)
                widths.append(width)
                nbytes.append(len(data))
                md5s.append(hashlib.md5(data.hex().encode()).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "channels": chs,
                    "sample_rate": rates,
                    "bytes_per_sample": widths,
                    "n_pcm_bytes": nbytes,
                    "pcm_md5": md5s,
                }
            )

    id_ddl = df.schema[id_col].dataType.simpleString()
    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run,
        f"{id_col} {id_ddl}, channels int, sample_rate int, "
        "bytes_per_sample int, n_pcm_bytes int, pcm_md5 string",
    )


def image_stats_df(
    df: DataFrame, bin_col: str = "image", id_col: str = "url", on_error: str = "raise"
) -> DataFrame:
    """Per-image channel statistics over the DECODED RGB buffer —
    integer-exact ``(width, height, n_px, sum_r, sum_g, sum_b,
    min_lum, max_lum)`` where lum is the integer luma proxy
    ``(r+g+b)``, so every value is a BIGINT/INT an ANSI-SQL oracle can
    recompute from the same source bytes with no float drift.  This is
    the multimodal quality gate (drop black/blank/overexposed
    thumbnails before training) — map-only, no shuffle, decode cost
    scales with partitions."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("id", "w", "h", "npx", "r", "g", "b", "lo", "hi")}
            for rid, buf in zip(pdf[id_col], pdf[bin_col]):
                try:
                    _, w, h, rgb = _decode_image_full(_blob_bytes(buf))
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    continue
                px = np.frombuffer(rgb, np.uint8).reshape(-1, 3).astype(np.int64)
                lum = px.sum(axis=1)
                out["id"].append(rid)
                out["w"].append(w)
                out["h"].append(h)
                out["npx"].append(w * h)
                sums = px.sum(axis=0)
                out["r"].append(int(sums[0]))
                out["g"].append(int(sums[1]))
                out["b"].append(int(sums[2]))
                out["lo"].append(int(lum.min()))
                out["hi"].append(int(lum.max()))
            yield pd.DataFrame(
                {
                    id_col: out["id"],
                    "width": out["w"],
                    "height": out["h"],
                    "n_px": out["npx"],
                    "sum_r": out["r"],
                    "sum_g": out["g"],
                    "sum_b": out["b"],
                    "min_lum": out["lo"],
                    "max_lum": out["hi"],
                }
            )

    id_ddl = df.schema[id_col].dataType.simpleString()
    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run,
        f"{id_col} {id_ddl}, width int, height int, n_px int, "
        "sum_r bigint, sum_g bigint, sum_b bigint, min_lum int, max_lum int",
    )


def _pcm_to_i16(data: bytes, width: int) -> np.ndarray:
    """Decode an interleaved PCM byte stream of 8/16/24/32-bit samples
    to the COMMON 16-bit scale (int64 values in [-32768, 32767]):
    unsigned 8-bit recenters then shifts up (``(u8-128) << 8``), wider
    widths arithmetic-shift down (``>> 8`` / ``>> 16``).  Arithmetic
    shift preserves sign (negative stays negative, non-negative stays
    non-negative), so zero-crossings computed on the normalized stream
    equal those on the raw samples; sumsq/peak become width-comparable
    — the whole point of gating a mixed-provenance audio corpus on one
    RMS threshold.  Trailing bytes short of one sample are dropped
    (truncated final sample, routine in crawled media)."""
    if width not in (1, 2, 3, 4):
        raise ValueError(f"unsupported PCM sample width {width * 8}-bit")
    data = data[: len(data) - len(data) % width]
    if width == 1:
        return (np.frombuffer(data, np.uint8).astype(np.int64) - 128) << 8
    if width == 2:
        return np.frombuffer(data, "<i2").astype(np.int64)
    if width == 4:
        return np.frombuffer(data, "<i4").astype(np.int64) >> 16
    # 3-byte little-endian: assemble, sign-extend via the 2^23 bit
    b = np.frombuffer(data, np.uint8).reshape(-1, 3).astype(np.int64)
    v = b[:, 0] | (b[:, 1] << 8) | (b[:, 2] << 16)
    return (v - ((v & 0x800000) << 1)) >> 8


def wav_features_df(
    df: DataFrame, bin_col: str = "audio", id_col: str = "url", on_error: str = "raise"
) -> DataFrame:
    """Per-clip PCM features over the decoded sample stream, any of
    8/16/24/32-bit PCM (mixed widths are the norm in a crawl; see
    :func:`_pcm_to_i16` for the common 16-bit normalization that makes
    one RMS/clipping threshold apply across widths) — integer-exact
    ``(n_samples, sumsq, peak, zero_crossings)`` (sumsq = sum of
    squared normalized samples as BIGINT, peak = max |sample|,
    crossings = sign flips between consecutive samples of the
    interleaved stream; sign is invariant under the normalization).
    RMS/silence/clipping gates for audio training corpora derive from
    these without any float leaving the executor.  Map-only."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            out = {k: [] for k in ("id", "n", "ss", "pk", "zc")}
            for rid, buf in zip(pdf[id_col], pdf[bin_col]):
                try:
                    _ch, _rate, width, data = decode_wav(_blob_bytes(buf))
                    s = _pcm_to_i16(data, width)
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    continue
                neg = s < 0
                out["id"].append(rid)
                out["n"].append(len(s))
                out["ss"].append(int((s * s).sum()))
                out["pk"].append(int(np.abs(s).max()) if len(s) else 0)
                out["zc"].append(int((neg[1:] != neg[:-1]).sum()) if len(s) > 1 else 0)
            yield pd.DataFrame(
                {
                    id_col: out["id"],
                    "n_samples": out["n"],
                    "sumsq": out["ss"],
                    "peak": out["pk"],
                    "zero_crossings": out["zc"],
                }
            )

    id_ddl = df.schema[id_col].dataType.simpleString()
    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run,
        f"{id_col} {id_ddl}, n_samples int, sumsq bigint, peak int, zero_crossings int",
    )


def image_exact_duplicates(
    df: DataFrame, bin_col: str = "image", id_col: str = "url", on_error: str = "skip"
) -> DataFrame:
    """Format-invariant exact image dedup: group by the DECODED pixel
    hash rather than the blob hash, so the same pixels stored as PPM,
    PNG, GIF, or BMP all dedup together — a crawl serves the same
    thumbnail through many containers and re-encodes, and blob-level
    md5 misses every one of them.  One row per duplicated pixel buffer
    with the copy count and min-id survivor.  Scale shape: map-only
    decode, then one (width, height, pixel_md5) shuffle of key+id
    tuples — pixels never ride the exchange."""
    d = decode_images_df(df, bin_col, id_col, on_error=on_error)
    return (
        # width/height join the key: two solid-color images of different
        # shapes share raster BYTES, and bytes alone would merge them
        d.groupBy("width", "height", "pixel_md5")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("survivor"))
        .filter(F.col("n_copies") > 1)
    )


def ahash_bands(
    rgb: bytes, w: int, h: int, grid: int = 8, band_bits: int = 16
) -> list[int]:
    """Perceptual average-hash signature of a decoded RGB buffer,
    integer-exact so two engines (and an ANSI-SQL oracle) agree bit for
    bit: nearest-neighbor ``grid x grid`` resample (:func:`resize_rgb`'s
    floor index map), luma proxy ``r+g+b`` per sample (0..765), bit
    ``m`` set iff ``grid^2 * luma_m > sum(luma)`` (a division-free
    strict mean compare), packed LSB-first into ``band_bits``-wide
    unsigned ints.  Because floor division nests
    (``(a//b)//c == a//(b*c)``), an exact k-times integer upscale
    samples the IDENTICAL source pixels and yields the identical
    signature, and mild re-quantization flips only knife-edge bits —
    which is what the Hamming-banded join in
    :func:`image_near_duplicates` recovers.  This is the multimodal
    twin of the reference's near-duplicate frequency structure
    (sketch.cpp:144-162): a compact fingerprint whose collisions mark
    the heavy (repeated) content."""
    if not 1 <= band_bits <= 32:
        # > 32 would overflow: the packed band must fit an int64 weight
        # (band_bits=64 shifts into the sign bit) and downstream engines
        raise ValueError(f"band_bits must be in 1..32, got {band_bits}")
    if grid < 1 or (grid * grid) % band_bits != 0:
        raise ValueError(f"grid^2 ({grid * grid}) must be a multiple of band_bits")
    sampled = np.frombuffer(resize_rgb(rgb, w, h, grid, grid), np.uint8)
    lum = sampled.reshape(-1, 3).astype(np.int64).sum(axis=1)
    total = int(lum.sum())
    bits = (lum * (grid * grid) > total).astype(np.int64)
    weights = np.int64(1) << np.arange(band_bits, dtype=np.int64)
    return [
        int((bits[k * band_bits : (k + 1) * band_bits] * weights).sum())
        for k in range((grid * grid) // band_bits)
    ]


def _banded_hamming_pairs(
    sigs: DataFrame, id_col: str, bucket_cap: int, max_hamming: int
) -> DataFrame:
    """Shared near-dup candidate+verify tail over a ``(id, bands)``
    signature table (images: :func:`ahash_bands`; audio:
    :func:`wav_energy_bands`): banded self-join — rows sharing ANY
    exact band land in one bucket, so two signatures within Hamming
    distance ``bands - 1`` are guaranteed a shared band (pigeonhole) —
    with degenerate buckets (> bucket_cap members) dropped from
    candidate generation exactly like the LSH bucket cap, then a
    JVM-side Hamming verify (``bit_count`` over xor'd bands, no second
    python stage).  Input contract: ``sigs`` is cheap to recompute OR
    already checkpointed — it is referenced three times (band explode
    + both pair sides)."""
    b = sigs.select(id_col, F.posexplode("bands").alias("band_idx", "band_val"))
    ok = (
        b.groupBy("band_idx", "band_val")
        .agg(F.count("*").alias("n_members"))
        .filter(F.col("n_members") <= bucket_cap)
        .drop("n_members")
    )
    inb = b.join(ok, ["band_idx", "band_val"])
    pairs = (
        inb.alias("x")
        .join(inb.alias("y"), ["band_idx", "band_val"])
        .filter(F.col(f"x.{id_col}") < F.col(f"y.{id_col}"))
        .select(
            F.col(f"x.{id_col}").alias("id_a"), F.col(f"y.{id_col}").alias("id_b")
        )
        .distinct()
    )
    hamming = F.expr(
        "aggregate(zip_with(bands_a, bands_b, (x, y) -> bit_count(x ^ y)), "
        "0, (acc, v) -> acc + v)"
    ).cast("int")
    return (
        pairs.join(
            sigs.select(F.col(id_col).alias("id_a"), F.col("bands").alias("bands_a")),
            "id_a",
        )
        .join(
            sigs.select(F.col(id_col).alias("id_b"), F.col("bands").alias("bands_b")),
            "id_b",
        )
        .withColumn("hamming", hamming)
        .filter(F.col("hamming") <= max_hamming)
        .select("id_a", "id_b", "hamming")
    )


def image_near_duplicates(
    df: DataFrame,
    bin_col: str = "image",
    id_col: str = "url",
    grid: int = 8,
    band_bits: int = 16,
    max_hamming: int | None = None,
    bucket_cap: int = 256,
    on_error: str = "skip",
) -> DataFrame:
    """PERCEPTUAL image near-dup pairs: a resized or re-quantized copy
    of the same picture (the common crawl case exact pixel dedup
    misses) pairs with its original.  One row per matched pair
    ``(id_a, id_b, hamming)`` with ``id_a < id_b`` and Hamming distance
    over the 64-bit :func:`ahash_bands` signature ``<= max_hamming``.

    Scale shape (the 100-TB discipline of dedup.py's MinHash path —
    never all-pairs): the decode + signature pass is map-only python;
    after it only ``grid^2/band_bits`` small ints per image exist.
    Candidates come from a banded self-join — images sharing ANY exact
    ``band_bits``-bit band of the signature land in one bucket, so two
    signatures within Hamming distance ``bands - 1`` are guaranteed a
    shared band (pigeonhole) — with degenerate buckets (> bucket_cap
    members, e.g. solid-color boilerplate) dropped from candidate
    generation exactly like the LSH bucket cap.  The Hamming verify is
    JVM-side (``bit_count`` over xor'd bands), no second python stage,
    and pixels never ride any exchange.

    Recall contract: ``max_hamming`` defaults to ``bands - 1``
    (``grid^2/band_bits - 1``), the largest distance the banding
    GUARANTEES to recall.  Passing a larger ``max_hamming`` widens the
    verify filter but recall above ``bands - 1`` is best-effort — a
    pair whose differing bits spread across every band shares no exact
    band and is never generated as a candidate."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    # validate signature params at the driver: inside the UDF these
    # raise ValueError per image, which on_error='skip' would silently
    # swallow into an empty result
    if not 1 <= band_bits <= 32:
        raise ValueError(f"band_bits must be in 1..32, got {band_bits}")
    if grid < 1 or (grid * grid) % band_bits != 0:
        raise ValueError(f"grid^2 ({grid * grid}) must be a multiple of band_bits")
    if max_hamming is None:
        max_hamming = (grid * grid) // band_bits - 1
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, bands_out = [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                try:
                    _, w, h, rgb = _decode_image_full(_blob_bytes(b))
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    continue
                ids.append(rid)
                bands_out.append(ahash_bands(rgb, w, h, grid, band_bits))
            # an all-skipped batch yields nothing: an EMPTY pandas frame
            # defaults its columns to float64, which Arrow cannot cast
            # to the list<int> bands type
            if ids:
                yield pd.DataFrame({id_col: ids, "bands": bands_out})

    id_ddl = df.schema[id_col].dataType.simpleString()
    sigs = _spread(df.select(id_col, bin_col)).mapInPandas(
        run, f"{id_col} {id_ddl}, bands array<bigint>"
    )
    # referenced 3x below (band explode + both pair sides): checkpoint
    # once so the decode pass runs once (CLAUDE.md persist discipline)
    sigs = sigs.localCheckpoint(eager=True)
    return _banded_hamming_pairs(sigs, id_col, bucket_cap, max_hamming)


def video_clip_signatures(
    df: DataFrame,
    bin_col: str = "video",
    id_col: str = "url",
    sample_frames: int = 4,
    on_error: str = "skip",
) -> DataFrame:
    """Per-clip content signature from ``sample_frames`` evenly-spread
    frames: one row per clip ``(id, width, height, n_frames, n_sampled,
    clip_md5)``.  The RIFF walk records every frame's byte offset but
    converts ONLY the selected frames to RGB (``idx_j = (j*n) //
    sample_frames``; all frames when ``n <= sample_frames``) — sampling
    4 frames of a 10k-frame clip never materializes the other 9,996 —
    and ``clip_md5`` is md5 over the concatenated per-frame RGB-hex
    md5 hexdigests in sampled order (the decode_avi_frames_df hash
    convention, so ANSI-SQL reproducible).  Container metadata (fps,
    chunk layout, padding) never enters the hash: the same content
    re-muxed at another frame rate signs identically.  Map-only."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    if sample_frames < 1:
        raise ValueError(f"sample_frames must be >= 1, got {sample_frames}")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, ws, hs, nfs, nss, sigs = [], [], [], [], [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                seen: dict[str, int] = {}

                def pick(n: int) -> list[int]:
                    seen["n"] = n
                    if n <= sample_frames:
                        return list(range(n))
                    return [(j * n) // sample_frames for j in range(sample_frames)]

                try:
                    w, h, frames = decode_avi_frames(_blob_bytes(b), frame_indices=pick)
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    continue
                frame_md5s = [
                    hashlib.md5(rgb.hex().encode()).hexdigest() for rgb in frames
                ]
                ids.append(rid)
                ws.append(w)
                hs.append(h)
                nfs.append(seen["n"])
                nss.append(len(frames))
                sigs.append(hashlib.md5("".join(frame_md5s).encode()).hexdigest())
            yield pd.DataFrame(
                {
                    id_col: ids,
                    "width": ws,
                    "height": hs,
                    "n_frames": nfs,
                    "n_sampled": nss,
                    "clip_md5": sigs,
                }
            )

    id_ddl = df.schema[id_col].dataType.simpleString()
    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run,
        f"{id_col} {id_ddl}, width int, height int, n_frames int, "
        "n_sampled int, clip_md5 string",
    )


def video_duplicates(
    df: DataFrame,
    bin_col: str = "video",
    id_col: str = "url",
    sample_frames: int = 4,
    on_error: str = "skip",
) -> DataFrame:
    """Clip-level video dedup from sampled-frame signatures: group by
    ``(width, height, n_frames, clip_md5)`` — the full shape plus the
    sampled-content hash, so a prefix clip never merges with a longer
    one — and keep groups with more than one member.  Scale shape:
    map-only decode of ``sample_frames`` frames per clip (lazy byte
    offsets), then ONE shuffle of (key, id) tuples; frame pixels never
    leave the decode stage."""
    sigs = video_clip_signatures(df, bin_col, id_col, sample_frames, on_error)
    return (
        sigs.groupBy("width", "height", "n_frames", "clip_md5")
        .agg(F.count("*").alias("n_copies"), F.min(id_col).alias("survivor"))
        .filter(F.col("n_copies") > 1)
    )


def _validate_band_params(
    n_windows: int, samples_per_window: int, band_bits: int
) -> None:
    """Shared by :func:`wav_energy_bands` (per clip) and
    :func:`audio_near_duplicates` (at the driver, so on_error='skip'
    can't silently swallow a bad parameterization into an empty
    result) — one definition, no drift."""
    if not 1 <= band_bits <= 32:
        # > 32 would overflow: the packed band must fit an int64 weight
        raise ValueError(f"band_bits must be in 1..32, got {band_bits}")
    if n_windows < 1 or n_windows % band_bits != 0:
        raise ValueError(
            f"n_windows ({n_windows}) must be a positive multiple of band_bits"
        )
    if samples_per_window < 1:
        raise ValueError(f"samples_per_window must be >= 1, got {samples_per_window}")


def wav_energy_bands(
    samples: np.ndarray,
    n_windows: int = 64,
    samples_per_window: int = 4,
    band_bits: int = 16,
) -> list[int]:
    """Perceptual energy-envelope signature of a decoded PCM stream
    (normalized int64 samples, :func:`_pcm_to_i16` scale), integer-exact
    so two engines and an ANSI-SQL oracle agree bit for bit — the audio
    twin of :func:`ahash_bands`.  ``n_windows * samples_per_window``
    probe positions are floor-mapped onto the stream
    (``idx_p = (p * n) // P``, the :func:`resize_rgb` index map), each
    window's energy is the sum of ``|sample|`` at its probes, and bit
    ``j`` is set iff ``n_windows * e_j > sum(e)`` (division-free strict
    mean compare), packed LSB-first into ``band_bits``-wide unsigned
    ints.  Because floor division nests (``(a//b)//c == a//(b*c)``), a
    k-times sample-repeated copy (naive upsample / re-rate) probes the
    IDENTICAL source samples, and an exact volume scale multiplies
    every window energy alike — both sign identically; re-quantization
    (width down-conversion, dither) flips only knife-edge bits, which
    the Hamming-banded join in :func:`audio_near_duplicates` recovers.
    An empty stream signs all-zero."""
    _validate_band_params(n_windows, samples_per_window, band_bits)
    n = len(samples)
    n_bands = n_windows // band_bits
    if n == 0:
        return [0] * n_bands
    probes = n_windows * samples_per_window
    idx = (np.arange(probes, dtype=np.int64) * n) // probes
    mag = np.abs(np.asarray(samples, dtype=np.int64)[idx])
    e = mag.reshape(n_windows, samples_per_window).sum(axis=1)
    total = int(e.sum())
    bits = (e * n_windows > total).astype(np.int64)
    weights = np.int64(1) << np.arange(band_bits, dtype=np.int64)
    return [
        int((bits[k * band_bits : (k + 1) * band_bits] * weights).sum())
        for k in range(n_bands)
    ]


def audio_near_duplicates(
    df: DataFrame,
    bin_col: str = "audio",
    id_col: str = "url",
    n_windows: int = 64,
    samples_per_window: int = 4,
    band_bits: int = 16,
    max_hamming: int | None = None,
    bucket_cap: int = 256,
    on_error: str = "skip",
) -> DataFrame:
    """PERCEPTUAL audio near-dup pairs: a re-rated (sample-repeated),
    volume-scaled, or width-re-quantized copy of the same clip — the
    cases format-level and even decoded-sample exact dedup miss — pairs
    with its original.  One row per matched pair ``(id_a, id_b,
    hamming)`` with ``id_a < id_b`` and Hamming distance over the
    :func:`wav_energy_bands` signature ``<= max_hamming``.  Completes
    the multimodal near-dup trio (image :func:`image_near_duplicates`,
    video :func:`video_duplicates`).

    Scale shape (the 100-TB discipline — never all-pairs): the WAV
    decode + signature pass is map-only python; after it only
    ``n_windows/band_bits`` small ints per clip exist.  Candidates and
    the JVM-side Hamming verify run through the same banded self-join
    as images (:func:`_banded_hamming_pairs`): clips within Hamming
    ``bands - 1`` are guaranteed a shared exact band (pigeonhole),
    degenerate buckets (> bucket_cap members, e.g. silence) are dropped
    like the LSH bucket cap, and PCM bytes never ride any exchange.
    Signatures are computed over the interleaved normalized stream, so
    a remux to a different channel layout is out of scope (that's a
    different sample stream, not a near-dup of this one).

    Recall contract: ``max_hamming`` defaults to ``bands - 1``
    (``n_windows/band_bits - 1``), the largest distance the banding
    GUARANTEES to recall; larger values widen the verify filter
    best-effort, exactly as in :func:`image_near_duplicates`."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    _validate_band_params(n_windows, samples_per_window, band_bits)
    if max_hamming is None:
        max_hamming = n_windows // band_bits - 1
    if max_hamming < 0:
        raise ValueError(f"max_hamming must be >= 0, got {max_hamming}")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, bands_out = [], []
            for rid, b in zip(pdf[id_col], pdf[bin_col]):
                try:
                    _ch, _rate, width, data = decode_wav(_blob_bytes(b))
                    s = _pcm_to_i16(data, width)
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    continue
                ids.append(rid)
                bands_out.append(
                    wav_energy_bands(s, n_windows, samples_per_window, band_bits)
                )
            # an all-skipped batch yields nothing: an EMPTY pandas frame
            # defaults its columns to float64, which Arrow cannot cast
            if ids:
                yield pd.DataFrame({id_col: ids, "bands": bands_out})

    id_ddl = df.schema[id_col].dataType.simpleString()
    sigs = _spread(df.select(id_col, bin_col)).mapInPandas(
        run, f"{id_col} {id_ddl}, bands array<bigint>"
    )
    # referenced 3x by the pair tail: checkpoint so decode runs once
    sigs = sigs.localCheckpoint(eager=True)
    return _banded_hamming_pairs(sigs, id_col, bucket_cap, max_hamming)


def corpus_luma_histogram(
    df: DataFrame,
    bin_col: str = "image",
    id_col: str = "url",
    bins: int = 8,
    on_error: str = "raise",
) -> DataFrame:
    """Corpus-level brightness distribution over decoded images: one
    row per luma bin with the exact BIGINT pixel count, where luma is
    the integer proxy ``r+g+b`` (0..765) and ``bin = luma * bins //
    766``.  The scale shape is the partial-aggregate pattern: each
    PARTITION emits at most ``bins`` partial rows (one numpy
    accumulator across its whole Arrow iterator), so the shuffle
    carries bins x partitions rows no matter how many petabytes of
    images went in."""
    if on_error not in ("raise", "skip"):
        raise ValueError("on_error must be 'raise' or 'skip'")
    if bins < 1:
        raise ValueError(f"bins must be >= 1, got {bins}")

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        # one partial frame per PARTITION, not per Arrow batch: the
        # shuffle carries bins x partitions rows no matter the input
        counts = np.zeros(bins, np.int64)
        for pdf in it:
            for b in pdf[bin_col]:
                try:
                    _, _w, _h, rgb = _decode_image_full(_blob_bytes(b))
                except (ValueError, NotImplementedError):
                    if on_error == "raise":
                        raise
                    continue
                lum = np.frombuffer(rgb, np.uint8).reshape(-1, 3).astype(np.int64).sum(axis=1)
                counts += np.bincount(lum * bins // 766, minlength=bins)
        nz = np.nonzero(counts)[0]
        yield pd.DataFrame({"bin": nz.astype("int32"), "partial": counts[nz]})

    partials = _spread(df.select(id_col, bin_col)).mapInPandas(run, "bin int, partial bigint")
    return partials.groupBy("bin").agg(F.sum("partial").alias("n_pixels"))


def fake_features(buf: bytes, dim: int = 16) -> np.ndarray:
    """Deterministic stand-in for a decode->feature-extract step: a
    unit-norm float vector derived from the content digest.  Stable
    across processes/executors (hash-based, no RNG state)."""
    digest = hashlib.sha256(buf).digest()
    raw = np.frombuffer((digest * ((dim * 8) // len(digest) + 1))[: dim * 8], dtype=np.uint64)
    v = (raw % np.uint64(2**53)).astype(np.float64) / float(2**53) - 0.5
    n = np.linalg.norm(v)
    return v / (n if n else 1.0)


def binary_metadata(
    df: DataFrame, bin_col: str = "html", id_col: str = "url", id_type: str = "string"
) -> DataFrame:
    """Typed metadata over an opaque binary column as PURE Catalyst
    expressions — (id, n_bytes, content_md5, format) via ``F.length`` /
    ``F.md5`` / ``F.substring``+CASE, all whole-stage codegen'd
    JVM-side (no Python stage at all; mapInPandas is reserved for real
    decoders, see ``extract_features_df``).  ``id_type`` is retained
    for API compatibility; the id column keeps its input type.

    Decode support behind each sniffed format: png/gif/riff(avi,wav)
    and the netpbm/bmp families decode in this module; ``jpeg``
    decodes via :mod:`sketch_spark.functions.jpegcodec` (baseline +
    progressive; arithmetic/12-bit keep the PIL seam); ``pdf`` routes to
    :mod:`sketch_spark.functions.pdftext` (object scan, FlateDecode,
    text extraction); ``html`` is sniff-only here (text extraction
    lives in ``sources.pages``).
    """
    c = F.col(bin_col)
    fmt = None
    for magic, kind in _MAGIC.items():
        cond = F.substring(c, 1, len(magic)) == F.lit(magic)
        fmt = F.when(cond, kind) if fmt is None else fmt.when(cond, kind)
    fmt = fmt.otherwise("unknown")
    return df.select(
        F.col(id_col),
        F.length(c).cast("long").alias("n_bytes"),
        F.md5(c).alias("content_md5"),
        fmt.alias("format"),
    )


def extract_features_df(
    df: DataFrame, bin_col: str = "html", id_col: str = "url", dim: int = 16
) -> DataFrame:
    """Decode->feature-extract plumbing with the deterministic fake
    extractor (see ``decode_image`` for the real-decoder swap point)."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            feats = [
                fake_features(_blob_or_empty(b), dim).tolist() for b in pdf[bin_col]
            ]
            yield pd.DataFrame({id_col: pdf[id_col], "features": feats})

    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run, f"{id_col} string, features array<double>"
    )


def _fake_pixels(buf: bytes, width: int, height: int) -> bytes:
    """STUB pixel decode — deterministic digest-derived RGB buffer of the
    right size (no PIL/opencv in this container); the Spark plumbing
    around it (schema, batch shape, per-row sizing) is real."""
    need = width * height * 3
    digest = hashlib.sha256(buf).digest()
    return (digest * (need // len(digest) + 1))[:need]


def resize_images_df(
    df: DataFrame,
    bin_col: str = "image",
    id_col: str = "url",
    width: int = 64,
    height: int = 64,
) -> DataFrame:
    """Decode + resize to fixed thumbnail pixels over an opaque image
    column: one output row per image with typed (width, height,
    pixels:binary).  Blobs in a natively-decodable format
    (PPM/PGM/BMP/PNG/GIF) go through the REAL decode + nearest-neighbor
    :func:`resize_rgb`; anything else (JPEG, unknown magic, corrupt)
    falls back to the clearly-marked deterministic ``_fake_pixels``
    stub so the plumbing stays total (swap the fallback for
    ``PIL.Image.open(io.BytesIO(buf)).resize((w, h)).tobytes()`` on a
    cluster with the libraries).  Embarrassingly parallel mapInPandas,
    no shuffle."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            pixels = []
            for b in pdf[bin_col]:
                b = _blob_or_empty(b)
                try:
                    _, sw, sh, rgb = _decode_image_full(b)
                    pixels.append(resize_rgb(rgb, sw, sh, width, height))
                except (ValueError, NotImplementedError):
                    pixels.append(_fake_pixels(b, width, height))
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col],
                    "width": width,
                    "height": height,
                    "pixels": pixels,
                }
            )

    id_ddl = df.schema[id_col].dataType.simpleString()
    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run, f"{id_col} {id_ddl}, width int, height int, pixels binary"
    )


def sample_video_frames_df(
    df: DataFrame,
    bin_col: str = "video",
    id_col: str = "url",
    n_frames: int = 4,
    width: int = 32,
    height: int = 32,
) -> DataFrame:
    """Frame sampling over an opaque video column: N output rows per
    input row, (id, frame_idx, frame:binary) with every frame resized
    to (width, height) RGB.  Uncompressed-DIB AVI containers go through
    the REAL :func:`decode_avi_frames` parse, sampling N frames evenly
    by the floor index map (frame ``(i * total) // n_frames``) and
    nearest-neighbor resizing each; other containers (mp4/webm/corrupt)
    fall back to the deterministic ``_fake_pixels`` stub (the
    ffmpeg/PyAV swap point) so the plumbing stays total.  Output is
    N x input rows but still shuffle-free; downstream per-frame feature
    extraction parallelizes over the same partitions."""

    def run(it: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in it:
            ids, idxs, frames = [], [], []
            for rid, buf in zip(pdf[id_col], pdf[bin_col]):
                b = _blob_or_empty(buf)
                real: list[bytes] | None = None
                try:
                    sw, sh, decoded = decode_avi_frames(
                        b,
                        frame_indices=lambda total: [
                            (i * total) // n_frames for i in range(n_frames)
                        ]
                        if total
                        else [],
                    )
                    if decoded:
                        real = [resize_rgb(f, sw, sh, width, height) for f in decoded]
                except (ValueError, NotImplementedError):
                    pass
                for i in range(n_frames):
                    ids.append(rid)
                    idxs.append(i)
                    frames.append(
                        real[i]
                        if real is not None
                        else _fake_pixels(b + i.to_bytes(4, "little"), width, height)
                    )
            yield pd.DataFrame({id_col: ids, "frame_idx": idxs, "frame": frames})

    id_ddl = df.schema[id_col].dataType.simpleString()
    return _spread(df.select(id_col, bin_col)).mapInPandas(
        run, f"{id_col} {id_ddl}, frame_idx int, frame binary"
    )
