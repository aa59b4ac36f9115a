"""Dependency-free media codecs.

The runtime ships no image/audio libraries, so these decoders are
implemented from the public format specifications using only stdlib
``zlib``/``struct`` and numpy:

- PNG  (ISO/IEC 15948): 8-bit gray / gray+alpha / RGB / RGBA / palette,
  non-interlaced; all five scanline filters; CRC-verified chunks.
  Deflate is stdlib ``zlib`` — the only non-trivial compression in play.
- BMP  (BITMAPINFOHEADER): uncompressed 24/32-bit, top-down or
  bottom-up.
- PNM  (P5 grayscale / P6 RGB, binary, maxval <= 255).
- WAV  (RIFF/PCM): 8-bit unsigned / 16-bit signed, any channel count.
- Y4M  (YUV4MPEG2): C420*/C444 planar frames.

Matching encoders exist for every decoder so tests can round-trip
without an external golden source.

Decoders are per-blob scalar code by design: one Python call per media
object, not per pixel — all pixel math is numpy. GIF87a/89a (LZW
implemented from the spec, interlace supported) lives below.
"""

from __future__ import annotations

import struct
import zlib

import numpy as np

__all__ = [
    "MediaDecodeError",
    "decode_png", "encode_png",
    "decode_bmp", "encode_bmp",
    "decode_gif", "encode_gif",
    "decode_pnm", "encode_pnm",
    "decode_wav", "encode_wav",
    "decode_y4m", "encode_y4m",
    "to_rgb", "resize_nearest", "resize_bilinear",
]


class MediaDecodeError(ValueError):
    """A blob is not decodable: truncated, corrupt, or an unsupported
    (entropy-coded) format."""


# Allocation guard for hostile headers: a 16-byte blob may claim
# 2^32 x 2^32 pixels; decoders refuse anything above this rather than
# attempting the allocation. Generous for real pipeline media.
MAX_PIXELS = 64 * 1024 * 1024


def _check_dims(w: int, h: int, what: str) -> None:
    if w <= 0 or h <= 0:
        raise MediaDecodeError(f"{what}: bad dimensions {w}x{h}")
    if w * h > MAX_PIXELS:
        raise MediaDecodeError(
            f"{what}: {w}x{h} exceeds MAX_PIXELS={MAX_PIXELS}")


# --------------------------------------------------------------------------
# PNG
# --------------------------------------------------------------------------

_PNG_SIG = b"\x89PNG\r\n\x1a\n"
# color type -> samples per pixel (bit depth 8 only)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _png_chunks(data: bytes):
    if data[:8] != _PNG_SIG:
        raise MediaDecodeError("not a PNG: bad signature")
    pos = 8
    n = len(data)
    while pos + 8 <= n:
        (length,) = struct.unpack(">I", data[pos:pos + 4])
        ctype = data[pos + 4:pos + 8]
        end = pos + 8 + length
        if end + 4 > n:
            raise MediaDecodeError(f"truncated PNG chunk {ctype!r}")
        body = data[pos + 8:end]
        (crc,) = struct.unpack(">I", data[end:end + 4])
        if zlib.crc32(ctype + body) & 0xFFFFFFFF != crc:
            raise MediaDecodeError(f"PNG chunk {ctype!r} CRC mismatch")
        yield ctype, body
        pos = end + 4
        if ctype == b"IEND":
            return
    raise MediaDecodeError("PNG missing IEND")


def _paeth(a: np.ndarray, b: np.ndarray, c: np.ndarray) -> np.ndarray:
    # PaethPredictor from the spec; operates on int32 arrays
    p = a + b - c
    pa, pb, pc = np.abs(p - a), np.abs(p - b), np.abs(p - c)
    return np.where((pa <= pb) & (pa <= pc), a, np.where(pb <= pc, b, c))


def _unfilter_row(ftype: int, cur: np.ndarray, prev: np.ndarray,
                  bpp: int) -> np.ndarray:
    """Reconstruct one scanline. cur/prev are int32; returns int32 in
    [0,256). Filters 0/1/2 are fully vectorized; 3/4 need the serial
    left-neighbor recurrence, looped per PIXEL with the channels
    vectorized (width iterations, not width*channels)."""
    if ftype == 0:
        return cur & 0xFF
    if ftype == 2:
        return (cur + prev) & 0xFF
    if ftype == 1:
        # recon[i] = filt[i] + recon[i-bpp]: cumsum over pixel groups
        return (np.cumsum(cur.reshape(-1, bpp), axis=0) & 0xFF).reshape(-1)
    out = np.empty_like(cur)
    zero = np.zeros(bpp, dtype=np.int32)
    npix = cur.size // bpp
    if ftype == 3:
        for px in range(npix):
            lo = px * bpp
            a = out[lo - bpp:lo] if px else zero
            out[lo:lo + bpp] = (cur[lo:lo + bpp]
                                + ((a + prev[lo:lo + bpp]) >> 1)) & 0xFF
        return out
    if ftype == 4:
        for px in range(npix):
            lo = px * bpp
            if px:
                a, c = out[lo - bpp:lo], prev[lo - bpp:lo]
            else:
                a = c = zero
            out[lo:lo + bpp] = (cur[lo:lo + bpp]
                                + _paeth(a, prev[lo:lo + bpp], c)) & 0xFF
        return out
    raise MediaDecodeError(f"PNG: unknown filter type {ftype}")


def decode_png(data: bytes) -> np.ndarray:
    """Decode a PNG blob to a uint8 array: HxW (grayscale) or HxWxC.

    Supports bit depth 8, color types 0/2/3/4/6, non-interlaced.
    Palette images are expanded to RGB. Raises MediaDecodeError on
    anything else (16-bit, Adam7) — loudly, never a wrong answer."""
    ihdr = None
    idat = bytearray()
    plte = None
    for ctype, body in _png_chunks(bytes(data)):
        if ctype == b"IHDR":
            if len(body) != 13:
                raise MediaDecodeError("PNG: bad IHDR length")
            ihdr = struct.unpack(">IIBBBBB", body)
        elif ctype == b"IDAT":
            idat.extend(body)
        elif ctype == b"PLTE":
            plte = np.frombuffer(body, dtype=np.uint8)
            if plte.size % 3:
                raise MediaDecodeError("PNG PLTE length not divisible by 3")
            plte = plte.reshape(-1, 3)
    if ihdr is None:
        raise MediaDecodeError("PNG missing IHDR")
    w, h, depth, ctype_i, comp, filt, interlace = ihdr
    if comp != 0 or filt != 0:
        raise MediaDecodeError("PNG: unknown compression/filter method")
    if interlace != 0:
        raise MediaDecodeError("PNG: Adam7 interlacing not supported")
    if depth != 8:
        raise MediaDecodeError(f"PNG: bit depth {depth} not supported")
    if ctype_i not in _PNG_CHANNELS:
        raise MediaDecodeError(f"PNG: color type {ctype_i} not supported")
    _check_dims(w, h, "PNG")
    ch = _PNG_CHANNELS[ctype_i]
    stride = w * ch
    expected = h * (1 + stride)
    # decompressobj with max_length bounds a decompression bomb to the
    # declared image size (+1 byte to detect oversized streams)
    try:
        d = zlib.decompressobj()
        raw = d.decompress(bytes(idat), expected + 1)
    except zlib.error as e:
        raise MediaDecodeError(f"PNG IDAT inflate failed: {e}") from e
    if len(raw) != expected:
        raise MediaDecodeError(
            f"PNG: decompressed size {len(raw)} != expected {expected}")
    rows = np.frombuffer(raw, dtype=np.uint8).reshape(h, 1 + stride)
    ftypes = rows[:, 0]
    filt_bytes = rows[:, 1:].astype(np.int32)
    out = np.empty((h, stride), dtype=np.int32)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        prev = _unfilter_row(int(ftypes[y]), filt_bytes[y], prev, ch)
        out[y] = prev
    img = out.astype(np.uint8)
    if ctype_i == 3:
        if plte is None:
            raise MediaDecodeError("PNG: palette image without PLTE")
        idx = img.reshape(h, w)
        if int(idx.max(initial=0)) >= plte.shape[0]:
            raise MediaDecodeError("PNG: palette index out of range")
        return plte[idx]               # HxWx3
    if ch == 1:
        return img.reshape(h, w)
    return img.reshape(h, w, ch)


def encode_png(arr: np.ndarray, filter_type: int | str = 0,
               compress_level: int = 6) -> bytes:
    """Encode a uint8 array (HxW, HxWx2, HxWx3, HxWx4) as PNG.

    filter_type: 0..4 applies that scanline filter to every row;
    "cycle" uses filter (y % 5) per row — the test harness uses this to
    exercise every decoder unfilter path in one image."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = a[:, :, None]
    if a.ndim != 3 or a.shape[2] not in (1, 2, 3, 4):
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w, ch = a.shape
    ctype = {1: 0, 2: 4, 3: 2, 4: 6}[ch]
    flat = a.reshape(h, w * ch).astype(np.int32)
    zero_row = np.zeros(w * ch, dtype=np.int32)
    body = bytearray()
    for y in range(h):
        ft = (y % 5) if filter_type == "cycle" else int(filter_type)
        cur = flat[y]
        prev = flat[y - 1] if y else zero_row
        left = np.concatenate([np.zeros(ch, np.int32), cur[:-ch]])
        ul = (np.concatenate([np.zeros(ch, np.int32), prev[:-ch]])
              if y else zero_row)
        if ft == 0:
            fr = cur
        elif ft == 1:
            fr = cur - left
        elif ft == 2:
            fr = cur - prev
        elif ft == 3:
            fr = cur - ((left + prev) >> 1)
        elif ft == 4:
            fr = cur - _paeth(left, prev, ul)
        else:
            raise ValueError(f"bad filter type {ft}")
        body.append(ft)
        body.extend((fr & 0xFF).astype(np.uint8).tobytes())

    def chunk(ctag: bytes, payload: bytes) -> bytes:
        return (struct.pack(">I", len(payload)) + ctag + payload
                + struct.pack(">I", zlib.crc32(ctag + payload) & 0xFFFFFFFF))

    ihdr = struct.pack(">IIBBBBB", w, h, 8, ctype, 0, 0, 0)
    idat = zlib.compress(bytes(body), compress_level)
    return (_PNG_SIG + chunk(b"IHDR", ihdr) + chunk(b"IDAT", idat)
            + chunk(b"IEND", b""))


# --------------------------------------------------------------------------
# BMP (BITMAPINFOHEADER, uncompressed 24/32-bit)
# --------------------------------------------------------------------------

def decode_bmp(data: bytes) -> np.ndarray:
    data = bytes(data)
    if data[:2] != b"BM" or len(data) < 54:
        raise MediaDecodeError("not a BMP / truncated header")
    (offset,) = struct.unpack("<I", data[10:14])
    (hdr_size,) = struct.unpack("<I", data[14:18])
    if hdr_size < 40:
        raise MediaDecodeError(f"BMP: unsupported DIB header size {hdr_size}")
    w, h = struct.unpack("<ii", data[18:26])
    (bpp,) = struct.unpack("<H", data[28:30])
    (compression,) = struct.unpack("<I", data[30:34])
    if compression not in (0, 3):  # BI_RGB / BI_BITFIELDS
        raise MediaDecodeError(f"BMP: compression {compression} unsupported")
    if bpp not in (24, 32):
        raise MediaDecodeError(f"BMP: {bpp}-bit not supported")
    if compression == 3:
        # BI_BITFIELDS is only accepted when the masks ARE the default
        # BGR(A) layout the fixed swizzle below assumes — decoding
        # RGBA-masked files channel-swapped would be a silent wrong
        # answer. Masks sit at offset 54 (after a 40-byte header, and
        # at the same position inside V4/V5 headers).
        if bpp != 32 or len(data) < 66:
            raise MediaDecodeError("BMP: unsupported BI_BITFIELDS form")
        rm, gm, bm = struct.unpack("<III", data[54:66])
        if (rm, gm, bm) != (0x00FF0000, 0x0000FF00, 0x000000FF):
            raise MediaDecodeError(
                f"BMP: non-default bit masks {rm:#x}/{gm:#x}/{bm:#x} "
                "unsupported")
    bottom_up = h > 0
    h = abs(h)
    _check_dims(w, h, "BMP")
    nch = bpp // 8
    row_bytes = (w * nch + 3) & ~3
    need = offset + row_bytes * h
    if len(data) < need:
        raise MediaDecodeError("BMP: pixel data truncated")
    rows = np.frombuffer(data, dtype=np.uint8, count=row_bytes * h,
                         offset=offset).reshape(h, row_bytes)
    px = rows[:, :w * nch].reshape(h, w, nch)
    if bottom_up:
        px = px[::-1]
    # BGR(A) -> RGB
    return np.ascontiguousarray(px[:, :, 2::-1])


def encode_bmp(arr: np.ndarray) -> bytes:
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError("encode_bmp expects HxWx3")
    h, w, _ = a.shape
    row_bytes = (w * 3 + 3) & ~3
    pad = row_bytes - w * 3
    bgr = a[::-1, :, ::-1]  # bottom-up, BGR
    body = bytearray()
    padding = b"\x00" * pad
    for y in range(h):
        body.extend(bgr[y].tobytes())
        body.extend(padding)
    pixel_off = 14 + 40
    size = pixel_off + len(body)
    header = (b"BM" + struct.pack("<IHHI", size, 0, 0, pixel_off)
              + struct.pack("<IiiHHIIiiII", 40, w, h, 1, 24, 0, len(body),
                            2835, 2835, 0, 0))
    return header + bytes(body)


# --------------------------------------------------------------------------
# PNM (P5 gray / P6 RGB binary)
# --------------------------------------------------------------------------

def decode_pnm(data: bytes) -> np.ndarray:
    data = bytes(data)
    if data[:2] not in (b"P5", b"P6"):
        raise MediaDecodeError("not a binary PNM (P5/P6)")
    nch = 1 if data[:2] == b"P5" else 3
    # header: magic, width, height, maxval as whitespace-separated
    # tokens; '#' comments run to end of line
    pos, tokens = 2, []
    n = len(data)
    while len(tokens) < 3:
        while pos < n and data[pos:pos + 1].isspace():
            pos += 1
        if pos < n and data[pos:pos + 1] == b"#":
            while pos < n and data[pos] != 0x0A:
                pos += 1
            continue
        start = pos
        while pos < n and not data[pos:pos + 1].isspace():
            pos += 1
        if start == pos:
            raise MediaDecodeError("PNM: truncated header")
        tokens.append(data[start:pos])
    pos += 1  # single whitespace after maxval
    try:
        w, h, maxval = (int(t) for t in tokens)
    except ValueError as e:
        raise MediaDecodeError(f"PNM: bad header token: {e}") from e
    if maxval <= 0 or maxval > 255:
        raise MediaDecodeError(f"PNM: maxval {maxval} not supported")
    _check_dims(w, h, "PNM")
    need = w * h * nch
    if n - pos < need:
        raise MediaDecodeError("PNM: pixel data truncated")
    px = np.frombuffer(data, dtype=np.uint8, count=need, offset=pos)
    return px.reshape(h, w) if nch == 1 else px.reshape(h, w, 3)


def encode_pnm(arr: np.ndarray) -> bytes:
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        magic = b"P5"
        h, w = a.shape
    elif a.ndim == 3 and a.shape[2] == 3:
        magic = b"P6"
        h, w = a.shape[:2]
    else:
        raise ValueError("encode_pnm expects HxW or HxWx3")
    return magic + f"\n{w} {h}\n255\n".encode() + a.tobytes()


# --------------------------------------------------------------------------
# WAV (RIFF / PCM 8|16-bit)
# --------------------------------------------------------------------------

def decode_wav(data: bytes) -> tuple[np.ndarray, int]:
    """Decode RIFF/WAVE PCM. Returns (samples, sample_rate); samples is
    (n_frames, n_channels) — int16 for 16-bit, uint8 for 8-bit."""
    data = bytes(data)
    if len(data) < 12 or data[:4] != b"RIFF" or data[8:12] != b"WAVE":
        raise MediaDecodeError("not a RIFF/WAVE blob")
    pos, n = 12, len(data)
    fmt = None
    payload = None
    while pos + 8 <= n:
        tag = data[pos:pos + 4]
        (size,) = struct.unpack("<I", data[pos + 4:pos + 8])
        body_end = pos + 8 + size
        if body_end > n:
            raise MediaDecodeError(f"WAV: chunk {tag!r} truncated")
        body = data[pos + 8:body_end]
        if tag == b"fmt ":
            if size < 16:
                raise MediaDecodeError("WAV: fmt chunk too short")
            fmt = struct.unpack("<HHIIHH", body[:16])
        elif tag == b"data":
            payload = body
        pos = body_end + (size & 1)  # chunks are word-aligned
    if fmt is None or payload is None:
        raise MediaDecodeError("WAV: missing fmt/data chunk")
    audio_format, channels, rate, _byte_rate, _block_align, bits = fmt
    if audio_format != 1:
        raise MediaDecodeError(
            f"WAV: audio format {audio_format} (non-PCM) not supported")
    if channels < 1:
        raise MediaDecodeError("WAV: zero channels")
    if bits == 16:
        samples = np.frombuffer(payload, dtype="<i2",
                                count=len(payload) // 2)
    elif bits == 8:
        samples = np.frombuffer(payload, dtype=np.uint8)
    else:
        raise MediaDecodeError(f"WAV: {bits}-bit PCM not supported")
    frames = samples.size // channels
    return samples[:frames * channels].reshape(frames, channels), rate


def encode_wav(samples: np.ndarray, sample_rate: int) -> bytes:
    """Encode (n_frames[, n_channels]) int16 or uint8 samples as PCM WAV."""
    a = np.asarray(samples)
    if a.ndim == 1:
        a = a[:, None]
    if a.dtype == np.uint8:
        bits = 8
        payload = np.ascontiguousarray(a).tobytes()
    else:
        bits = 16
        payload = np.ascontiguousarray(a.astype("<i2")).tobytes()
    channels = a.shape[1]
    block_align = channels * bits // 8
    fmt = struct.pack("<HHIIHH", 1, channels, int(sample_rate),
                      int(sample_rate) * block_align, block_align, bits)
    data_chunk = b"data" + struct.pack("<I", len(payload)) + payload
    if len(payload) & 1:
        data_chunk += b"\x00"
    fmt_chunk = b"fmt " + struct.pack("<I", len(fmt)) + fmt
    riff_body = b"WAVE" + fmt_chunk + data_chunk
    return b"RIFF" + struct.pack("<I", len(riff_body)) + riff_body


# --------------------------------------------------------------------------
# Y4M (YUV4MPEG2) — planar video
# --------------------------------------------------------------------------

def decode_y4m(data: bytes, every_n: int = 1,
               max_frames: int | None = None):
    """Parse a YUV4MPEG2 stream; yields (frame_idx, y_plane uint8 HxW)
    for every ``every_n``-th frame. Supports C420* (chroma subsampled
    2x2) and C444; chroma planes are skipped (only luma is returned)."""
    data = bytes(data)
    nl = data.find(b"\n")
    if nl < 0 or not data.startswith(b"YUV4MPEG2"):
        raise MediaDecodeError("not a YUV4MPEG2 stream")
    w = h = None
    colorspace = "420"
    for param in data[9:nl].split():
        p = param.decode("ascii", "replace")
        try:
            if p[0] == "W":
                w = int(p[1:])
            elif p[0] == "H":
                h = int(p[1:])
        except ValueError as e:
            raise MediaDecodeError(f"Y4M: bad header param {p!r}") from e
        if p[0] == "C":
            colorspace = p[1:]
    if not w or not h:
        raise MediaDecodeError("Y4M: missing W/H in stream header")
    _check_dims(w, h, "Y4M")
    if colorspace.startswith("420"):
        chroma = 2 * ((w + 1) // 2) * ((h + 1) // 2)
    elif colorspace == "444":
        chroma = 2 * w * h
    elif colorspace == "mono":
        chroma = 0
    else:
        raise MediaDecodeError(f"Y4M: colorspace C{colorspace} unsupported")
    ysize = w * h
    pos = nl + 1
    idx = 0
    emitted = 0
    n = len(data)
    while pos < n:
        if data[pos:pos + 5] != b"FRAME":
            raise MediaDecodeError(f"Y4M: bad FRAME marker at {pos}")
        fnl = data.find(b"\n", pos)
        if fnl < 0:
            raise MediaDecodeError("Y4M: truncated FRAME header")
        pos = fnl + 1
        if pos + ysize + chroma > n:
            raise MediaDecodeError(f"Y4M: frame {idx} truncated")
        if idx % every_n == 0:
            y = np.frombuffer(data, dtype=np.uint8, count=ysize,
                              offset=pos).reshape(h, w)
            yield idx, y
            emitted += 1
            if max_frames is not None and emitted >= max_frames:
                return
        pos += ysize + chroma
        idx += 1


def encode_y4m(frames, width: int, height: int,
               colorspace: str = "420") -> bytes:
    """Encode an iterable of Y planes (HxW uint8) as YUV4MPEG2 with
    neutral (128) chroma."""
    if colorspace.startswith("420"):
        chroma = b"\x80" * (2 * ((width + 1) // 2) * ((height + 1) // 2))
    elif colorspace == "444":
        chroma = b"\x80" * (2 * width * height)
    elif colorspace == "mono":
        chroma = b""
    else:
        raise ValueError(f"colorspace {colorspace} unsupported")
    out = bytearray(
        f"YUV4MPEG2 W{width} H{height} F25:1 Ip A1:1 C{colorspace}\n"
        .encode())
    for y in frames:
        a = np.ascontiguousarray(y, dtype=np.uint8)
        if a.shape != (height, width):
            raise ValueError(f"frame shape {a.shape} != ({height},{width})")
        out.extend(b"FRAME\n")
        out.extend(a.tobytes())
        out.extend(chroma)
    return bytes(out)


# --------------------------------------------------------------------------
# GIF (87a/89a) — LZW implemented from the public spec
# --------------------------------------------------------------------------

def _lzw_decode(mcs: int, data: bytes, max_out: int) -> bytes:
    """GIF-variant LZW: LSB-first bit packing, dynamic code width
    mcs+1..12, clear/end codes. Bounded by max_out (pixel count)."""
    # literals are palette indices (bytes), so the spec caps the min
    # code size at 8; anything larger is a corrupt header
    if not 2 <= mcs <= 8:
        raise MediaDecodeError(f"GIF: bad LZW min code size {mcs}")
    clear = 1 << mcs
    end = clear + 1
    base = [bytes([i]) for i in range(clear)] + [b"", b""]
    table = list(base)
    size = mcs + 1
    out = bytearray()
    prev = None
    acc = nbits = pos = 0
    n = len(data)
    while True:
        while nbits < size:
            if pos >= n:
                raise MediaDecodeError("GIF: LZW stream truncated")
            acc |= data[pos] << nbits
            nbits += 8
            pos += 1
        code = acc & ((1 << size) - 1)
        acc >>= size
        nbits -= size
        if code == clear:
            table = list(base)
            size = mcs + 1
            prev = None
            continue
        if code == end:
            return bytes(out)
        if prev is None:
            if code >= clear:
                raise MediaDecodeError("GIF: LZW starts with non-literal")
            entry = table[code]
        else:
            if code < len(table):
                entry = table[code]
            elif code == len(table):
                entry = prev + prev[:1]
            else:
                raise MediaDecodeError("GIF: LZW code out of range")
            if len(table) < 4096:
                table.append(prev + entry[:1])
                if len(table) == (1 << size) and size < 12:
                    size += 1
        out += entry
        if len(out) > max_out:
            raise MediaDecodeError("GIF: LZW output exceeds image size")
        prev = entry


def decode_gif(data: bytes) -> np.ndarray:
    """Decode the FIRST image of a GIF87a/89a to HxWx3 uint8 (palette
    expanded; interlace supported; animation frames beyond the first
    and transparency are out of scope for feature extraction)."""
    data = bytes(data)
    if data[:6] not in (b"GIF87a", b"GIF89a"):
        raise MediaDecodeError("not a GIF: bad signature")
    if len(data) < 13:
        raise MediaDecodeError("GIF: truncated screen descriptor")
    packed = data[10]
    gct = None
    pos = 13
    if packed & 0x80:
        ncols = 2 << (packed & 0x07)
        if pos + 3 * ncols > len(data):
            raise MediaDecodeError("GIF: truncated global color table")
        gct = np.frombuffer(data, np.uint8, 3 * ncols, pos).reshape(-1, 3)
        pos += 3 * ncols
    while pos < len(data):
        b = data[pos]
        if b == 0x3B:  # trailer
            break
        if b == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(data) and data[pos]:
                pos += 1 + data[pos]
            pos += 1
            continue
        if b != 0x2C:
            raise MediaDecodeError(f"GIF: unknown block 0x{b:02x}")
        if pos + 10 > len(data):
            raise MediaDecodeError("GIF: truncated image descriptor")
        _l, _t, w, h = struct.unpack("<HHHH", data[pos + 1:pos + 9])
        ipacked = data[pos + 9]
        pos += 10
        _check_dims(w, h, "GIF")
        pal = gct
        if ipacked & 0x80:
            ncols = 2 << (ipacked & 0x07)
            if pos + 3 * ncols > len(data):
                raise MediaDecodeError("GIF: truncated local color table")
            pal = np.frombuffer(data, np.uint8, 3 * ncols,
                                pos).reshape(-1, 3)
            pos += 3 * ncols
        if pal is None:
            raise MediaDecodeError("GIF: image without color table")
        if pos >= len(data):
            raise MediaDecodeError("GIF: missing LZW min code size")
        mcs = data[pos]
        pos += 1
        lzw = bytearray()
        while pos < len(data) and data[pos]:
            ln = data[pos]
            if pos + 1 + ln > len(data):
                raise MediaDecodeError("GIF: truncated data sub-block")
            lzw += data[pos + 1:pos + 1 + ln]
            pos += 1 + ln
        idx_b = _lzw_decode(mcs, bytes(lzw), w * h)
        if len(idx_b) < w * h:
            raise MediaDecodeError(
                f"GIF: {len(idx_b)} pixels decoded, {w * h} expected")
        idx = np.frombuffer(idx_b, np.uint8, w * h).reshape(h, w)
        if ipacked & 0x40:  # interlace: 4-pass row shuffle
            rows = np.concatenate([np.arange(0, h, 8),
                                   np.arange(4, h, 8),
                                   np.arange(2, h, 4),
                                   np.arange(1, h, 2)])
            de = np.empty_like(idx)
            de[rows] = idx
            idx = de
        if int(idx.max(initial=0)) >= pal.shape[0]:
            raise MediaDecodeError("GIF: palette index out of range")
        return pal[idx]
    raise MediaDecodeError("GIF: no image block before trailer")


def encode_gif(arr: np.ndarray) -> bytes:
    """Encode HxW palette-index-able RGB (<=256 distinct colors) or
    HxW grayscale as a single-frame GIF89a. Uses the clear-code-cycling
    LZW form (literal codes, periodic clears) — larger output than a
    dictionary encoder but spec-valid and exactly decodable."""
    a = np.ascontiguousarray(arr, dtype=np.uint8)
    if a.ndim == 2:
        a = np.repeat(a[:, :, None], 3, axis=2)
    if a.ndim != 3 or a.shape[2] != 3:
        raise ValueError(f"unsupported array shape {arr.shape}")
    h, w, _ = a.shape
    flat = a.reshape(-1, 3)
    pal, idx = np.unique(flat, axis=0, return_inverse=True)
    if pal.shape[0] > 256:
        raise ValueError("encode_gif needs <=256 distinct colors")
    mcs = max(2, int(pal.shape[0] - 1).bit_length())
    ncols = 1 << mcs
    clear = 1 << mcs
    end = clear + 1
    size = mcs + 1

    bits = bytearray()
    acc = nbits = 0

    def put(code: int):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += size
        while nbits >= 8:
            bits.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    put(clear)
    burst = 0
    for v in idx:
        # the decoder's table grows by 1 per literal after the first
        # and widens its code size when it reaches 2^(mcs+1) entries —
        # which happens after literal 2^mcs - 1 — so clear one literal
        # earlier to keep every emitted code at mcs+1 bits
        if burst == (1 << mcs) - 2:
            put(clear)
            burst = 0
        put(int(v))
        burst += 1
    put(end)
    if nbits:
        bits.append(acc & 0xFF)

    out = bytearray(b"GIF89a")
    out += struct.pack("<HH", w, h)
    out.append(0x80 | (mcs - 1))  # GCT present, size 2^mcs
    out += b"\x00\x00"
    table = np.zeros((ncols, 3), dtype=np.uint8)
    table[:pal.shape[0]] = pal
    out += table.tobytes()
    out += b"\x2c" + struct.pack("<HHHH", 0, 0, w, h) + b"\x00"
    out.append(mcs)
    for i in range(0, len(bits), 255):
        chunk = bits[i:i + 255]
        out.append(len(chunk))
        out += chunk
    out += b"\x00\x3b"
    return bytes(out)


# --------------------------------------------------------------------------
# Pixel utilities
# --------------------------------------------------------------------------

def to_rgb(img: np.ndarray) -> np.ndarray:
    """Normalize a decoded image to HxWx3 uint8: grayscale is
    replicated, alpha is dropped (the pipeline treats alpha as
    metadata, not signal)."""
    if img.ndim == 2:
        return np.repeat(img[:, :, None], 3, axis=2)
    ch = img.shape[2]
    if ch == 1:
        return np.repeat(img, 3, axis=2)
    if ch == 2:  # gray+alpha
        return np.repeat(img[:, :, :1], 3, axis=2)
    if ch == 3:
        return img
    if ch == 4:
        return np.ascontiguousarray(img[:, :, :3])
    raise MediaDecodeError(f"cannot normalize {ch}-channel image to RGB")


def resize_nearest(img: np.ndarray, width: int, height: int) -> np.ndarray:
    ih, iw = img.shape[:2]
    yy = (np.arange(height) * ih) // height
    xx = (np.arange(width) * iw) // width
    return img[yy[:, None], xx[None, :]]


def resize_bilinear(img: np.ndarray, width: int, height: int) -> np.ndarray:
    """Bilinear resampling with half-pixel centers (the convention
    shared by OpenCV/PIL default): src = (dst + 0.5) * scale - 0.5,
    clamped at the borders. Fully vectorized."""
    ih, iw = img.shape[:2]
    a = img.astype(np.float32)
    if a.ndim == 2:
        a = a[:, :, None]
    sy = (np.arange(height, dtype=np.float32) + 0.5) * (ih / height) - 0.5
    sx = (np.arange(width, dtype=np.float32) + 0.5) * (iw / width) - 0.5
    sy = np.clip(sy, 0, ih - 1)
    sx = np.clip(sx, 0, iw - 1)
    y0 = np.floor(sy).astype(np.int64)
    x0 = np.floor(sx).astype(np.int64)
    y1 = np.minimum(y0 + 1, ih - 1)
    x1 = np.minimum(x0 + 1, iw - 1)
    wy = (sy - y0)[:, None, None]
    wx = (sx - x0)[None, :, None]
    top = a[y0[:, None], x0[None, :]] * (1 - wx) + a[y0[:, None],
                                                     x1[None, :]] * wx
    bot = a[y1[:, None], x0[None, :]] * (1 - wx) + a[y1[:, None],
                                                     x1[None, :]] * wx
    out = top * (1 - wy) + bot * wy
    out = np.clip(np.rint(out), 0, 255).astype(np.uint8)
    return out[:, :, 0] if img.ndim == 2 else out
