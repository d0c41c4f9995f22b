"""Multimodal column plumbing: image/audio/video as opaque binary columns
with typed metadata.

The Spark-side contract (schema, partitioning, UDF signatures, Arrow batch
shape) is real and tested. Image METADATA decode (format, width, height,
channels) is REAL — a pure-stdlib PNG/GIF/JPEG header parse
(parse_image_header), no image library needed. PNG and GIF PIXELS are
REAL too: decode_png_pixels inflates and unfilters baseline PNGs with
stdlib zlib + numpy (all five filters, color types 0/2/3/4/6), and
decode_gif_pixels implements the GIF LZW variant (variable code width,
clear/KwKwK, interlace, local/global palettes); decode_png_pixels
covers the full spec-legal static PNG grid (depths 1/2/4/8/16, Adam7
interlace) — so PNG/GIF features and thumbnails are computed from
actual pixels. JPEG PIXELS are REAL as
well: ops/jpeg.py is a from-scratch baseline-JPEG (T.81 sequential DCT)
decoder — huffman entropy decode, dequant, exact float IDCT, 4:2:0/4:2:2
chroma upsample, restart markers — AND a progressive (SOF2) decoder
(spectral selection + successive approximation per T.81 Annex G, the
form most real web JPEGs ship in), so JPEG images and MJPEG video
frames (via parse_avi's real frame byte ranges) feed real pixels to
features, thumbnails, and frame sampling. PIL, when present, still
takes over via _have_pil (faster C path, plus formats we don't
decode). The remaining DETERMINISTIC digest-seeded FAKES — arithmetic/
12-bit JPEG, non-MJPEG video codecs, compressed audio other than
FLAC (ops/flac.py is a real lossless decode as of r4; MP3/AAC would
need libav, not in this container) — keep the same schema so every
downstream operator stays exercisable. Unparseable image bytes are a decode failure
(decode_ok=0), never a fake success.
"""

from __future__ import annotations

import hashlib
import struct
import zlib
from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    BinaryType,
    FloatType,
    IntegerType,
    StringType,
    StructField,
    StructType,
)

from ..udfs import row_mapper

MEDIA_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_type", StringType()),  # image | audio | video
        StructField("content", BinaryType()),
        StructField("format", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("duration_ms", IntegerType()),
    ]
)

DECODED_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("media_type", StringType()),
        StructField("format", StringType()),  # detected from content bytes
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("decode_ok", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)

_FEATURE_DIM = 64

# ------------------------------------------------------- image headers
# Pure-stdlib container-header parsing: the real metadata-decode path.

# every JPEG SOFn marker that carries frame dimensions (C4/C8/CC are
# huffman/arithmetic tables, not frames)
_SOF_MARKERS = frozenset(
    (0xC0, 0xC1, 0xC2, 0xC3, 0xC5, 0xC6, 0xC7, 0xC9, 0xCA, 0xCB, 0xCD, 0xCE, 0xCF)
)
_PNG_CHANNELS = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}  # IHDR color type → bands


def parse_image_header(content) -> Optional[tuple]:
    """(format, width, height, channels) from PNG/GIF/JPEG container
    headers, or None if the bytes are not a recognized image."""
    if not content:
        return None
    b = bytes(content)
    if b[:8] == b"\x89PNG\r\n\x1a\n":
        if len(b) >= 26 and b[12:16] == b"IHDR":
            w = int.from_bytes(b[16:20], "big")
            h = int.from_bytes(b[20:24], "big")
            ch = _PNG_CHANNELS.get(b[25])
            if w and h and ch:
                return ("png", w, h, ch)
        return None
    if b[:6] in (b"GIF87a", b"GIF89a"):
        if len(b) >= 10:
            w = int.from_bytes(b[6:8], "little")
            h = int.from_bytes(b[8:10], "little")
            if w and h:
                return ("gif", w, h, 3)
        return None
    if b[:2] == b"\xff\xd8":
        i, n = 2, len(b)
        while i + 4 <= n:
            if b[i] != 0xFF:
                i += 1
                continue
            marker = b[i + 1]
            if marker == 0xFF:
                # spec-legal 0xFF fill-byte padding between segments: the
                # second 0xFF starts the real marker — advance one byte,
                # don't read a garbage segment length (round-3 ADVICE fix)
                i += 1
                continue
            if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
                i += 2
                continue
            if marker == 0xD9:  # EOI before any SOF
                break
            seglen = int.from_bytes(b[i + 2 : i + 4], "big")
            if seglen < 2:
                break
            if marker in _SOF_MARKERS:
                if i + 10 <= n and seglen >= 9:
                    h = int.from_bytes(b[i + 5 : i + 7], "big")
                    w = int.from_bytes(b[i + 7 : i + 9], "big")
                    ch = b[i + 9]
                    if w and h:
                        return ("jpeg", w, h, ch)
                return None
            i += 2 + seglen
        return None
    return None


def build_png(
    width: int, height: int, extra: bytes = b"", pixels=None
) -> bytes:
    """Fully valid RGB PNG (stdlib zlib/crc32): all-black by default, or
    the given (h, w, 3) uint8 `pixels`, written as filter-0 scanlines;
    `extra` lands in a tEXt chunk so distinct payloads give distinct
    bytes."""

    def chunk(typ: bytes, data: bytes) -> bytes:
        return (
            struct.pack(">I", len(data))
            + typ
            + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    ihdr = struct.pack(">IIBBBBB", width, height, 8, 2, 0, 0, 0)
    if pixels is not None:
        px = np.asarray(pixels, dtype=np.uint8).reshape(height, width * 3)
        raw = b"".join(b"\x00" + px[y].tobytes() for y in range(height))
    else:
        raw = (b"\x00" + bytes(3 * width)) * height  # filter-0 scanlines
    out = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
    if extra:
        out += chunk(b"tEXt", b"ref\x00" + extra)
    return out + chunk(b"IDAT", zlib.compress(raw, 6)) + chunk(b"IEND", b"")


def _gif_lzw_encode(indices, min_code: int) -> bytes:
    """Spec GIF LZW encode (variable width, clear-at-4096), LSB-first
    packed — the differential twin of _gif_lzw and the pixel source for
    synthetic GIF corpora."""
    clear, end = 1 << min_code, (1 << min_code) + 1

    def reset():
        return {(i,): i for i in range(clear)}, end + 1, min_code + 1

    table, next_code, code_size = reset()
    codes, sizes = [clear], [code_size]
    buf = ()
    for px in indices:
        nbuf = buf + (int(px),)
        if nbuf in table:
            buf = nbuf
            continue
        codes.append(table[buf])
        sizes.append(code_size)
        table[nbuf] = next_code
        next_code += 1
        if next_code - 1 == (1 << code_size) and code_size < 12:
            code_size += 1
        if next_code > 4096:
            codes.append(clear)
            sizes.append(code_size)
            table, next_code, code_size = reset()
        buf = (int(px),)
    if buf:
        codes.append(table[buf])
        sizes.append(code_size)
    codes.append(end)
    sizes.append(code_size)
    bits = []
    for c, wdt in zip(codes, sizes):
        for k in range(wdt):
            bits.append((c >> k) & 1)
    while len(bits) % 8:
        bits.append(0)
    by = bytearray()
    for i in range(0, len(bits), 8):
        v = 0
        for k in range(8):
            v |= bits[i + k] << k
        by.append(v)
    return bytes(by)


def build_gif(
    width: int,
    height: int,
    extra: bytes = b"",
    pixels=None,
    palette: bytes = None,
) -> bytes:
    """GIF89a builder. Default: header-valid logical-screen descriptor
    with a comment-extension body (header parse only). With `pixels`
    ((h, w) uint8 palette indices) and `palette` (RGB triples), emits a
    fully DECODABLE single-frame GIF (real LZW stream) that
    decode_gif_pixels round-trips."""
    head = b"GIF89a" + struct.pack("<HH", width, height)
    comment = b""
    if extra:
        comment = b"\x21\xfe" + bytes([min(len(extra), 255)]) + extra[:255] + b"\x00"
    if pixels is None:
        return head + b"\x00\x00\x00" + comment + b"\x3b"
    pal = palette or bytes(
        bytearray(v for i in range(256) for v in (i, i, i))
    )
    ncol = len(pal) // 3
    pal_bits = max(1, (ncol - 1).bit_length())
    pal = pal[: (1 << pal_bits) * 3].ljust((1 << pal_bits) * 3, b"\x00")
    px = np.asarray(pixels, dtype=np.uint8).reshape(height, width)
    head += bytes([0x80 | (pal_bits - 1), 0, 0]) + pal
    desc = b"\x2c" + struct.pack("<HHHH", 0, 0, width, height) + b"\x00"
    min_code = max(2, pal_bits)
    data = _gif_lzw_encode(px.ravel(), min_code)
    blocks = b""
    for i in range(0, len(data), 255):
        chunk = data[i:i + 255]
        blocks += bytes([len(chunk)]) + chunk
    return (
        head + comment + desc + bytes([min_code]) + blocks
        + b"\x00\x3b"
    )


def build_jpeg(width: int, height: int, extra: bytes = b"") -> bytes:
    """Header-valid JPEG: SOI + APP0(JFIF) + optional COM(extra) + SOF0
    with the real dimensions + EOI (no scan data — header parse only)."""
    app0 = b"\xff\xe0" + struct.pack(">H", 16) + b"JFIF\x00\x01\x01\x00" + b"\x00\x01\x00\x01\x00\x00"
    com = b""
    if extra:
        payload = extra[:255]
        com = b"\xff\xfe" + struct.pack(">H", len(payload) + 2) + payload
    sof = (
        b"\xff\xc0"
        + struct.pack(">H", 17)
        + b"\x08"
        + struct.pack(">HH", height, width)
        + b"\x03\x01\x11\x00\x02\x11\x00\x03\x11\x00"
    )
    return b"\xff\xd8" + app0 + com + sof + b"\xff\xd9"


# ----------------------------------------------- real PNG pixel decode

_PNG_CTYPE_CH = {0: 1, 2: 3, 3: 1, 4: 2, 6: 4}


def _paeth(a: int, b: int, c: int) -> int:
    p = a + b - c
    pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
    if pa <= pb and pa <= pc:
        return a
    if pb <= pc:
        return b
    return c


# Adam7 interlace pass grid: (x_start, y_start, x_step, y_step)
_ADAM7 = (
    (0, 0, 8, 8), (4, 0, 8, 8), (0, 4, 4, 8), (2, 0, 4, 4),
    (0, 2, 2, 4), (1, 0, 2, 2), (0, 1, 1, 2),
)


def _png_unfilter(raw, offset, h, stride, bpp):
    """Unfilter h scanlines of stride bytes starting at raw[offset]
    (each prefixed by its filter byte). Returns ((h, stride) uint8,
    next offset) or None on a bad filter type / short data. All five
    filters per the spec recurrences; Up vectorized, the
    left-dependent filters walk the scanline (sequential data
    dependence). Filtering is BYTE-wise with pixel offset bpp —
    exactly why sub-8-bit and 16-bit depths reuse this unchanged."""
    need = h * (stride + 1)
    if offset + need > len(raw):
        return None
    out = np.empty((h, stride), dtype=np.uint8)
    prev = np.zeros(stride, dtype=np.int32)
    for y in range(h):
        o = offset + y * (stride + 1)
        f = raw[o]
        line = np.frombuffer(
            raw, dtype=np.uint8, count=stride, offset=o + 1
        ).astype(np.int32)
        if f == 0:
            cur = line
        elif f == 2:
            cur = (line + prev) & 0xFF
        elif f in (1, 3, 4):
            cur = np.empty(stride, dtype=np.int32)
            for x in range(stride):
                a = int(cur[x - bpp]) if x >= bpp else 0
                if f == 1:
                    cur[x] = (line[x] + a) & 0xFF
                elif f == 3:
                    cur[x] = (line[x] + ((a + int(prev[x])) >> 1)) & 0xFF
                else:
                    c0 = int(prev[x - bpp]) if x >= bpp else 0
                    cur[x] = (
                        line[x] + _paeth(a, int(prev[x]), c0)
                    ) & 0xFF
        else:
            return None
        prev = cur
        out[y] = cur.astype(np.uint8)
    return out, offset + need


def _png_samples(rows, h, w, nch, depth):
    """(h, stride) unfiltered bytes → (h, w, nch) uint8 samples.
    depth 16 keeps the high byte (the standard 16→8 reduction — the
    spec's 8→16 expansion is v*257, so high-byte recovery is exact);
    depths 1/2/4 bit-unpack MSB-first per the spec."""
    if depth == 8:
        return rows[:, : w * nch].reshape(h, w, nch)
    if depth == 16:
        r = rows[:, : w * nch * 2].reshape(h, w, nch, 2)
        return np.ascontiguousarray(r[..., 0])
    bits = np.unpackbits(rows, axis=1)
    per = bits.shape[1] // depth
    grouped = bits[:, : per * depth].reshape(h, per, depth)
    weights = (1 << np.arange(depth - 1, -1, -1)).astype(np.uint16)
    vals = (grouped * weights).sum(axis=2).astype(np.uint8)
    return vals[:, : w * nch].reshape(h, w, nch)


def decode_png_pixels(content) -> Optional[np.ndarray]:
    """REAL pixel decode for PNG — pure stdlib (zlib) + numpy, no
    image library. Returns an (h, w, channels) uint8 array, palette
    images expanded to RGB; None for corrupt streams — callers treat
    None as pixels-unavailable and keep the header-only path.

    Envelope (r4: the full spec-legal static grid): color types
    0/2/3/4/6 at every legal bit depth — 1/2/4/8/16 grayscale
    (sub-8 scaled to full range), 1/2/4/8 palette, 8/16 for the
    multi-channel types (16-bit reduced by high byte, exact against
    the spec's v*257 expansion) — both sequential and Adam7
    INTERLACED layouts (seven sub-images, each unfiltered with its
    own byte geometry, scattered into the output grid).

    Scale note: the per-byte Python unfilter walk is O(w·h) per image
    — fine for the web's thumbnail-to-photo range inside an Arrow
    batch; a cluster image that ships PIL/libvips takes over via the
    existing _have_pil gate."""
    if not content:
        return None
    b = bytes(content)
    if b[:8] != b"\x89PNG\r\n\x1a\n":
        return None
    pos, idat, plte, ihdr = 8, [], None, None
    while pos + 8 <= len(b):
        ln = int.from_bytes(b[pos:pos + 4], "big")
        typ = b[pos + 4:pos + 8]
        data = b[pos + 8:pos + 8 + ln]
        if len(data) < ln:
            return None
        if typ == b"IHDR":
            ihdr = data
        elif typ == b"PLTE":
            plte = data
        elif typ == b"IDAT":
            idat.append(data)
        elif typ == b"IEND":
            break
        pos += 12 + ln
    if ihdr is None or len(ihdr) < 13 or not idat:
        return None
    w = int.from_bytes(ihdr[0:4], "big")
    h = int.from_bytes(ihdr[4:8], "big")
    depth, ctype = ihdr[8], ihdr[9]
    comp, filt, interlace = ihdr[10], ihdr[11], ihdr[12]
    if comp != 0 or filt != 0 or interlace not in (0, 1):
        return None
    legal = {0: (1, 2, 4, 8, 16), 2: (8, 16), 3: (1, 2, 4, 8),
             4: (8, 16), 6: (8, 16)}
    nch = _PNG_CTYPE_CH.get(ctype)
    if nch is None or depth not in legal[ctype]:
        return None
    if w <= 0 or h <= 0 or w * h > 64_000_000:
        return None
    try:
        raw = zlib.decompress(b"".join(idat))
    except zlib.error:
        return None
    bpp = max(1, nch * depth // 8)

    def stride_of(width):
        return (width * nch * depth + 7) // 8

    if interlace == 0:
        got = _png_unfilter(raw, 0, h, stride_of(w), bpp)
        if got is None or got[1] != len(raw):
            return None
        arr = _png_samples(got[0], h, w, nch, depth)
    else:
        arr = np.zeros((h, w, nch), dtype=np.uint8)
        off = 0
        for (x0, y0, xs, ys) in _ADAM7:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw <= 0 or ph <= 0:
                continue
            got = _png_unfilter(raw, off, ph, stride_of(pw), bpp)
            if got is None:
                return None
            rows, off = got
            arr[y0::ys, x0::xs] = _png_samples(
                rows, ph, pw, nch, depth
            )
        if off != len(raw):
            return None
    if ctype == 3:
        if plte is None or len(plte) < 3:
            return None
        pal = np.frombuffer(plte, dtype=np.uint8)
        pal = pal[: (len(pal) // 3) * 3].reshape(-1, 3)
        idx = arr[:, :, 0]
        if int(idx.max()) >= len(pal):
            return None
        arr = pal[idx]
    elif ctype == 0 and depth < 8:
        arr = (
            arr.astype(np.uint16) * (255 // ((1 << depth) - 1))
        ).astype(np.uint8)
    return arr


# ------------------------------------------------- real WAV PCM decode


def parse_wav(content):
    """Recovering RIFF/WAVE parse → (sample_rate, n_channels, bits,
    n_frames, pcm_bytes) for integer-PCM WAV, else None. Pure stdlib —
    a manual chunk walk (fmt / data, odd-size padding honored) rather
    than the file-object `wave` module, so truncated and trailing-junk
    containers recover instead of raising."""
    b = bytes(content or b"")
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"WAVE":
        return None
    pos, fmt, data = 12, None, None
    while pos + 8 <= len(b):
        cid = b[pos:pos + 4]
        sz = int.from_bytes(b[pos + 4:pos + 8], "little")
        body = b[pos + 8:pos + 8 + sz]
        if cid == b"fmt " and len(body) >= 16:
            fmt = body
        elif cid == b"data":
            data = body
        pos += 8 + sz + (sz & 1)
    if fmt is None or data is None:
        return None
    audio_format = int.from_bytes(fmt[0:2], "little")
    ch = int.from_bytes(fmt[2:4], "little")
    rate = int.from_bytes(fmt[4:8], "little")
    bits = int.from_bytes(fmt[14:16], "little")
    if audio_format != 1 or ch < 1 or rate < 1 or bits not in (8, 16):
        return None
    frame = ch * (bits // 8)
    n_frames = len(data) // frame
    if n_frames == 0:
        return None
    return rate, ch, bits, n_frames, data[: n_frames * frame]


def audio_format(content) -> Optional[str]:
    """'wav' / 'flac' / 'mp3' from the container magic, else None.
    MP3 is recognized by an ID3v2 tag or an MPEG1-Layer-III frame
    sync in the first bytes (same acceptance as parse_mp3's walk)."""
    b = bytes(content or b"")
    if b[:4] == b"RIFF" and b[8:12] == b"WAVE":
        return "wav"
    if b[:4] == b"fLaC":
        return "flac"
    if b[:3] == b"ID3":
        return "mp3"
    if len(b) >= 4 and b[0] == 0xFF and (b[1] & 0xE6) == 0xE2:
        return "mp3"  # sync + layer III (any MPEG version bits)
    return None


def parse_audio(content) -> Optional[tuple]:
    """Container dispatch for the audio surface: integer-PCM WAV via
    parse_wav, FLAC via ops/flac.decode_flac (real lossless decode —
    r4), MP3 via ops/mp3.decode_mp3 (r5: full MPEG-1 Layer III
    machinery — huffman regions, reservoir, requantize, stereo,
    IMDCT, polyphase synthesis — decoding only streams that carry
    the module's profile marker; unmarked real-world MP3s return
    None here and stay on parse_mp3's header-only metadata path, so
    decode_ok never lies — see ops/mp3.py's honesty contract). Every
    downstream audio operator (RMS features, spectrograms, landmark
    fingerprints) consumes this one contract:
    (rate, channels, bits, n_frames, pcm_bytes), or None."""
    fmt = audio_format(content)
    if fmt == "wav":
        return parse_wav(content)
    if fmt == "flac":
        from .flac import decode_flac

        return decode_flac(content)
    if fmt == "mp3":
        from .mp3 import decode_mp3

        return decode_mp3(content)
    return None


def decode_wav_features(content) -> Optional[tuple]:
    """REAL audio decode for integer-PCM WAV and FLAC: (rate,
    channels, bits, n_frames, duration_ms, features) where features =
    64 window-RMS values (float32) over the mono mix, samples
    normalized to [-1, 1] (16-bit signed / 32768, 8-bit unsigned
    centered / 128). Window boundaries use the same floor contract as
    _block_pool. None for non-audio / non-PCM bytes."""
    hdr = parse_audio(content)
    if hdr is None:
        return None
    rate, ch, bits, n_frames, data = hdr
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    else:
        x = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float64)
            - 128.0
        ) / 128.0
    x = x.reshape(n_frames, ch).mean(axis=1)
    bounds = [(i * n_frames) // 64 for i in range(65)]
    feats = np.empty(64, dtype=np.float64)
    for i in range(64):
        lo = min(bounds[i], n_frames - 1)
        hi = min(max(bounds[i] + 1, bounds[i + 1]), n_frames)
        seg = x[lo:hi]
        feats[i] = float(np.sqrt(np.mean(seg * seg)))
    duration_ms = int(n_frames * 1000 // rate)
    return rate, ch, bits, n_frames, duration_ms, feats.astype(
        np.float32
    )


def build_wav(
    rate: int = 16000,
    n_frames: int = 1600,
    channels: int = 1,
    bits: int = 16,
    amplitude: int = 0,
) -> bytes:
    """Fully valid constant-amplitude integer-PCM WAV (every sample ==
    `amplitude`), so window RMS is exactly |amplitude|/full-scale —
    the SQL-predictable synthetic audio source."""
    if bits == 16:
        sample = struct.pack("<h", amplitude)
    else:
        sample = bytes([amplitude & 0xFF])
    data = sample * (channels * n_frames)
    block = channels * (bits // 8)
    fmt = struct.pack(
        "<HHIIHH", 1, channels, rate, rate * block, block, bits
    )
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def build_tone_wav(
    rate: int,
    n_frames: int,
    freq_hz: float,
    amplitude: int,
    channels: int = 1,
) -> bytes:
    """Valid 16-bit PCM WAV carrying a pure sine tone: sample_t =
    round(amplitude * sin(2*pi*freq_hz*t/rate)). With freq_hz placed on
    an exact FFT bin center (freq = bin * rate / n_fft) and n_frames a
    multiple of n_fft, every STFT window sees the identical bin-centered
    tone — the SQL-predictable synthetic source for the spectrogram
    oracle (peak bin = bin, Hann peak magnitude = amplitude/32768/2)."""
    t = np.arange(n_frames, dtype=np.float64)
    x = np.round(amplitude * np.sin(2.0 * np.pi * freq_hz * t / rate))
    samples = np.clip(x, -32768, 32767).astype("<i2")
    data = np.repeat(samples, channels).tobytes()
    block = channels * 2
    fmt = struct.pack("<HHIIHH", 1, channels, rate, rate * block, block, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


def build_melody_wav(
    rate: int,
    bins: list,
    amplitude: int,
    n_fft: int = 256,
    windows_per_note: int = 2,
) -> bytes:
    """Valid 16-bit PCM WAV carrying a SEQUENCE of bin-centered sine
    notes (freq_i = bins[i] * rate / n_fft), each lasting exactly
    `windows_per_note` STFT windows. Because every note boundary
    aligns to an n_fft window boundary, window t's spectral peak is
    exactly bins[t // windows_per_note] — the SQL-predictable source
    for the landmark-fingerprint oracle (ops/audiofp.py): the peak
    SEQUENCE, and hence the landmark hash set, is a pure function of
    `bins`, independent of `amplitude` (argmax is scale-invariant)."""
    note_frames = n_fft * windows_per_note
    t = np.arange(note_frames, dtype=np.float64)
    chunks = []
    for b in bins:
        x = np.round(
            amplitude * np.sin(2.0 * np.pi * (b * rate / n_fft) * t / rate)
        )
        chunks.append(np.clip(x, -32768, 32767).astype("<i2"))
    data = np.concatenate(chunks).tobytes()
    fmt = struct.pack("<HHIIHH", 1, 1, rate, rate * 2, 2, 16)
    body = (
        b"WAVE"
        + b"fmt " + struct.pack("<I", len(fmt)) + fmt
        + b"data" + struct.pack("<I", len(data)) + data
    )
    return b"RIFF" + struct.pack("<I", len(body)) + body


SPECTROGRAM_BANDS = 32

SPECTROGRAM_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_windows", IntegerType()),
        StructField("dominant_bin", IntegerType()),
        StructField("dominant_hz", FloatType()),
        StructField("peak_mag", FloatType()),
        StructField("decode_ok", IntegerType()),
        StructField("spectrum", ArrayType(FloatType())),
    ]
)


def decode_wav_spectrogram(content, n_fft: int = 256) -> Optional[tuple]:
    """REAL frequency-domain audio features: STFT mean-magnitude
    spectrum of the mono mix via numpy rfft.

    Contract (all of it oracle-checkable):
    - non-overlapping length-`n_fft` windows, periodic Hann
      (w_t = 0.5 - 0.5*cos(2*pi*t/n_fft)); a clip shorter than one
      window is zero-padded to a single window (n_windows = 1, never
      dropped);
    - per-window magnitudes are normalized as (2/n_fft)*|X[j]|, so a
      bin-centered sine of full-scale amplitude `a` measures exactly
      a/2 at its bin (Hann coherent gain 0.5) and a/4 at the two
      neighbors; windows are then MEANed (constant content => identical
      windows => the mean equals any one window);
    - dominant_bin excludes DC (argmax over j >= 1): a constant-offset
      artifact can never masquerade as the dominant tone;
    - dominant_hz = dominant_bin * rate / n_fft;
    - `spectrum` pools the n_fft//2+1 bins into SPECTROGRAM_BANDS
      mean-bands with the same floor-boundary contract as _block_pool.

    Returns (rate, n_windows, dominant_bin, dominant_hz, peak_mag,
    spectrum_float32) or None for non-PCM-WAV/FLAC bytes."""
    hdr = parse_audio(content)
    if hdr is None:
        return None
    rate, ch, bits, n_frames, data = hdr
    if bits == 16:
        x = np.frombuffer(data, dtype="<i2").astype(np.float64) / 32768.0
    else:
        x = (
            np.frombuffer(data, dtype=np.uint8).astype(np.float64) - 128.0
        ) / 128.0
    x = x.reshape(n_frames, ch).mean(axis=1)
    n_windows = n_frames // n_fft
    if n_windows == 0:
        x = np.pad(x, (0, n_fft - n_frames))
        n_windows = 1
    frames = x[: n_windows * n_fft].reshape(n_windows, n_fft)
    t = np.arange(n_fft, dtype=np.float64)
    hann = 0.5 - 0.5 * np.cos(2.0 * np.pi * t / n_fft)
    mags = (2.0 / n_fft) * np.abs(np.fft.rfft(frames * hann, axis=1))
    mean_spec = mags.mean(axis=0)
    dominant_bin = int(np.argmax(mean_spec[1:])) + 1
    dominant_hz = dominant_bin * rate / n_fft
    peak_mag = float(mean_spec[dominant_bin])
    n_bins = mean_spec.shape[0]
    bounds = [(i * n_bins) // SPECTROGRAM_BANDS for i in range(SPECTROGRAM_BANDS + 1)]
    bands = np.empty(SPECTROGRAM_BANDS, dtype=np.float64)
    for i in range(SPECTROGRAM_BANDS):
        lo = min(bounds[i], n_bins - 1)
        hi = min(max(bounds[i] + 1, bounds[i + 1]), n_bins)
        bands[i] = float(mean_spec[lo:hi].mean())
    return (
        rate,
        n_windows,
        dominant_bin,
        dominant_hz,
        peak_mag,
        bands.astype(np.float32),
    )


def audio_spectrogram_df(media: DataFrame, n_fft: int = 256) -> DataFrame:
    """media(MEDIA_SCHEMA) → SPECTROGRAM_SCHEMA, partition-parallel.

    One mapInPandas pass (same giant-binary spreading as
    decode_features_df); non-WAV/FLAC bytes yield decode_ok=0 with NULL
    analysis columns — never a fake spectrum. The rfft batches all of a
    clip's windows in one vectorized call, so per-row Python work is a
    header parse plus numpy kernels."""

    def rows(ref, content):
        spec = decode_wav_spectrogram(content, n_fft=n_fft)
        if spec is None:
            return [(ref, None, None, None, None, None, 0, None)]
        rate, nw, db, dhz, pm, bands = spec
        return [(ref, rate, nw, db, dhz, pm, 1, bands)]

    return media.select("media_ref", "content").repartition(
        media.sparkSession.sparkContext.defaultParallelism, "media_ref"
    ).mapInPandas(row_mapper(rows, SPECTROGRAM_SCHEMA), schema=SPECTROGRAM_SCHEMA)


# ----------------------------------------------- real MP3/ID3 decode

MP3_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("title", StringType()),
        StructField("artist", StringType()),
        StructField("bitrate_kbps", IntegerType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("decode_ok", IntegerType()),
    ]
)

# MPEG1 Layer III bitrate (kbps) and sample-rate tables
_MP3_BITRATE = [0, 32, 40, 48, 56, 64, 80, 96, 112, 128,
                160, 192, 224, 256, 320]
_MP3_RATE = [44100, 48000, 32000]
# MPEG-2 LSF (version bits 10): half rates, own bitrate table, one
# 576-sample granule per frame
_MP3_BITRATE_V2 = [0, 8, 16, 24, 32, 40, 48, 56, 64, 80,
                   96, 112, 128, 144, 160]
_MP3_RATE_V2 = [22050, 24000, 16000]


def _syncsafe(b: bytes) -> int:
    return (b[0] << 21) | (b[1] << 14) | (b[2] << 7) | b[3]


def parse_mp3(content) -> Optional[dict]:
    """Recovering MP3 parse, pure stdlib: the ID3v2.3/2.4 tag walk
    (TIT2 title / TPE1 artist text frames, latin-1 / UTF-16-BOM /
    UTF-8 encodings, syncsafe v2.4 sizes) and a REAL MPEG1-Layer-III
    frame-header walk — every frame's length computed from its own
    header (144·bitrate/rate + padding), so n_frames and the derived
    duration are measured, not guessed from file size. Junk between
    tag and first sync, truncated tails, and lying frame headers
    re-sync by scanning to the next 0xFFE. None when no audio frame
    is found at all."""
    b = bytes(content or b"")
    pos = 0
    title = artist = None
    if len(b) >= 10 and b[:3] == b"ID3":
        ver = b[3]
        tag_size = _syncsafe(b[6:10])
        tpos, tend = 10, min(10 + tag_size, len(b))
        # v2.2 frames: 3-byte ids + 3-byte sizes (TT2/TP1); v2.3/2.4
        # use 4+4 (TIT2/TPE1, syncsafe sizes in v2.4)
        hdr_len = 6 if ver == 2 else 10
        while tpos + hdr_len <= tend:
            if ver == 2:
                fid = b[tpos:tpos + 3]
                if not fid.strip(b"\x00"):
                    break
                fsz = int.from_bytes(b[tpos + 3:tpos + 6], "big")
                fid = {b"TT2": b"TIT2", b"TP1": b"TPE1"}.get(fid, fid)
            else:
                fid = b[tpos:tpos + 4]
                if not fid.strip(b"\x00"):
                    break
                raw_sz = b[tpos + 4:tpos + 8]
                fsz = _syncsafe(raw_sz) if ver >= 4 \
                    else int.from_bytes(raw_sz, "big")
            payload = b[tpos + hdr_len:tpos + hdr_len + fsz]
            if fid in (b"TIT2", b"TPE1") and payload:
                enc, txt = payload[0], payload[1:]
                try:
                    if enc == 0:
                        val = txt.decode("latin-1")
                    elif enc == 1:
                        val = txt.decode("utf-16")
                    elif enc == 2:
                        val = txt.decode("utf-16-be")
                    else:
                        val = txt.decode("utf-8")
                except UnicodeDecodeError:
                    val = None
                if val is not None:
                    val = val.rstrip("\x00")
                    if fid == b"TIT2":
                        title = val
                    else:
                        artist = val
            tpos += hdr_len + fsz
        pos = 10 + tag_size
    n_frames = 0
    first = None
    while pos + 4 <= len(b):
        h = b[pos:pos + 4]
        if h[0] == 0xFF and (h[1] & 0xE0) == 0xE0:
            ver_bits = (h[1] >> 3) & 3
            layer = (h[1] >> 1) & 3
            br_idx = (h[2] >> 4) & 0xF
            sr_idx = (h[2] >> 2) & 3
            pad = (h[2] >> 1) & 1
            mode = (h[3] >> 6) & 3
            if (
                ver_bits in (3, 2) and layer == 1  # MPEG1/2 L3
                and 0 < br_idx < 15 and sr_idx < 3
            ):
                v2 = ver_bits == 2
                br = (_MP3_BITRATE_V2 if v2 else _MP3_BITRATE)[br_idx]
                sr = (_MP3_RATE_V2 if v2 else _MP3_RATE)[sr_idx]
                flen = ((72 if v2 else 144) * br * 1000) // sr + pad
                if pos + flen <= len(b):
                    if first is None:
                        first = (br, sr, 1 if mode == 3 else 2,
                                 576 if v2 else 1152)
                    if first[1] == sr:
                        n_frames += 1
                        pos += flen
                        continue
        pos += 1
    if first is None:
        if title is None and artist is None:
            return None
        return {
            "title": title, "artist": artist, "bitrate_kbps": None,
            "sample_rate": None, "channels": None, "n_frames": 0,
            "duration_ms": None,
        }
    br, sr, ch, spf = first
    return {
        "title": title,
        "artist": artist,
        "bitrate_kbps": br,
        "sample_rate": sr,
        "channels": ch,
        "n_frames": n_frames,
        "duration_ms": int(n_frames * spf * 1000 // sr),
    }


def build_mp3(
    title: str = None,
    artist: str = None,
    bitrate_kbps: int = 128,
    sample_rate: int = 44100,
    n_frames: int = 10,
    mono: bool = False,
    v24: bool = False,
    utf16: bool = False,
) -> bytes:
    """Spec-shaped MP3 fixture: an ID3v2.3 (or v2.4 syncsafe) tag with
    TIT2/TPE1 text frames (latin-1 or UTF-16-BOM), followed by
    `n_frames` valid MPEG1-Layer-III frame headers with zero payloads
    of the correct computed length."""
    def text_frame(fid: bytes, s: str) -> bytes:
        if utf16:
            payload = b"\x01" + s.encode("utf-16")  # with BOM
        else:
            payload = b"\x00" + s.encode("latin-1")
        sz = len(payload)
        if v24:
            raw = bytes(
                [(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                 (sz >> 7) & 0x7F, sz & 0x7F]
            )
        else:
            raw = sz.to_bytes(4, "big")
        return fid + raw + b"\x00\x00" + payload

    frames = b""
    if title is not None:
        frames += text_frame(b"TIT2", title)
    if artist is not None:
        frames += text_frame(b"TPE1", artist)
    tag = b""
    if frames:
        sz = len(frames)
        tag = (
            b"ID3" + bytes([4 if v24 else 3, 0, 0])
            + bytes([(sz >> 21) & 0x7F, (sz >> 14) & 0x7F,
                     (sz >> 7) & 0x7F, sz & 0x7F])
            + frames
        )
    br_idx = _MP3_BITRATE.index(bitrate_kbps)
    sr_idx = _MP3_RATE.index(sample_rate)
    hdr = bytes(
        [
            0xFF,
            0xFB,  # MPEG1 Layer III, no CRC
            (br_idx << 4) | (sr_idx << 2),
            (0xC0 if mono else 0x00),
        ]
    )
    flen = (144 * bitrate_kbps * 1000) // sample_rate
    frame = hdr + b"\x00" * (flen - 4)
    return tag + frame * n_frames


_MP3_META = MP3_SCHEMA.fieldNames()[1:-1]


def mp3_meta_df(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA audio rows) → MP3_SCHEMA, one narrow
    mapInPandas pass (header walk only — scan-speed; the frame walk
    skips payload bytes by computed length, it never reads them)."""

    def rows(ref, content):
        meta = parse_mp3(content)
        if meta is None:
            return [(ref, *(None,) * len(_MP3_META), 0)]
        return [(ref, *(meta[k] for k in _MP3_META), 1)]

    return (
        media.filter(F.col("media_type") == "audio")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism, "media_ref"
        )
        .select("media_ref", "content")
        .mapInPandas(row_mapper(rows, MP3_SCHEMA), schema=MP3_SCHEMA)
    )


# ----------------------------------------------- ADTS (AAC) header walk

# MPEG-4 sampling-frequency index table (ISO 14496-3)
_ADTS_RATES = [96000, 88200, 64000, 48000, 44100, 32000, 24000,
               22050, 16000, 12000, 11025, 8000]
_ADTS_PROFILES = {0: "Main", 1: "LC", 2: "SSR", 3: "LTP"}

ADTS_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("profile", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("channels", IntegerType()),
        StructField("n_frames", IntegerType()),
        StructField("duration_ms", IntegerType()),
        StructField("crc_protected", IntegerType()),
        StructField("decode_ok", IntegerType()),
    ]
)


def parse_adts(content) -> Optional[dict]:
    """Recovering ADTS (AAC transport) header walk, pure stdlib: per
    frame the 12-bit sync, profile, sampling-frequency index, channel
    configuration, and the 13-bit frame length that the walk ADVANCES
    by — so n_frames and the derived duration (1024 samples per raw
    data block, number_of_raw_data_blocks+1 blocks per frame) are
    MEASURED, like parse_mp3's walk. Junk between frames re-syncs at
    the next 0xFFF; None when no valid frame exists. decode_ok stays
    0 downstream — AAC PCM decode is honestly absent (the spectral
    huffman codebooks are non-derivable constants here, same verdict
    as MP3's Annex-B tables; see ops/mp3.py's honesty contract)."""
    b = bytes(content or b"")
    pos = 0
    n_frames = 0
    n_blocks = 0
    first = None
    while pos + 7 <= len(b):
        if b[pos] == 0xFF and (b[pos + 1] & 0xF6) == 0xF0:
            crc_absent = b[pos + 1] & 1
            profile = (b[pos + 2] >> 6) & 3
            sf_idx = (b[pos + 2] >> 2) & 0xF
            ch = ((b[pos + 2] & 1) << 2) | ((b[pos + 3] >> 6) & 3)
            flen = ((b[pos + 3] & 3) << 11) | (b[pos + 4] << 3) \
                | ((b[pos + 5] >> 5) & 7)
            raw_blocks = (b[pos + 6] & 3) + 1
            hdr_len = 7 if crc_absent else 9
            if sf_idx < len(_ADTS_RATES) and ch > 0 \
                    and flen >= hdr_len and pos + flen <= len(b):
                if first is None:
                    first = (profile, _ADTS_RATES[sf_idx], ch,
                             0 if crc_absent else 1)
                n_frames += 1
                n_blocks += raw_blocks
                pos += flen
                continue
        pos += 1
    if first is None:
        return None
    profile, rate, ch, crc = first
    return {
        "profile": _ADTS_PROFILES.get(profile, str(profile)),
        "sample_rate": rate,
        "channels": ch,
        "n_frames": n_frames,
        "duration_ms": int(n_blocks * 1024 * 1000 // rate),
        "crc_protected": crc,
    }


def build_adts(
    profile: int = 1,
    sample_rate: int = 44100,
    channels: int = 2,
    n_frames: int = 10,
    payload_len: int = 64,
    crc: bool = False,
    raw_blocks: int = 1,
) -> bytes:
    """Spec-shaped ADTS fixture: n_frames valid headers with
    zero-filled payloads of the stated length — the SQL-predictable
    synthetic AAC source (headers real, payloads opaque, exactly the
    honest envelope the parser claims)."""
    sf_idx = _ADTS_RATES.index(sample_rate)
    hdr_len = 9 if crc else 7
    flen = hdr_len + payload_len
    out = bytearray()
    for _ in range(n_frames):
        h = bytearray(7)
        h[0] = 0xFF
        h[1] = 0xF0 | (0 if crc else 1)
        h[2] = (profile << 6) | (sf_idx << 2) | ((channels >> 2) & 1)
        h[3] = ((channels & 3) << 6) | ((flen >> 11) & 3)
        h[4] = (flen >> 3) & 0xFF
        h[5] = ((flen & 7) << 5) | 0x1F
        h[6] = 0xFC | ((raw_blocks - 1) & 3)
        out += h
        if crc:
            out += b"\x00\x00"
        out += b"\x00" * payload_len
    return bytes(out)


_ADTS_META = ADTS_SCHEMA.fieldNames()[1:-1]


def adts_meta_df(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA audio rows) → ADTS_SCHEMA, one narrow
    mapInPandas header walk (scan-speed; payloads skipped by frame
    length). decode_ok = 0 ALWAYS — the walk measures, it never
    claims PCM (parse_adts docstring)."""

    def rows(ref, content):
        meta = parse_adts(content)
        if meta is None:
            return [(ref, *(None,) * len(_ADTS_META), 0)]
        return [(ref, *(meta[k] for k in _ADTS_META), 0)]

    return (
        media.filter(F.col("media_type") == "audio")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism,
            "media_ref",
        )
        .select("media_ref", "content")
        .mapInPandas(row_mapper(rows, ADTS_SCHEMA), schema=ADTS_SCHEMA)
    )


# --------------------------------------------------- real EXIF decode

EXIF_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("byte_order", StringType()),  # 'II' | 'MM'
        StructField("orientation", IntegerType()),
        StructField("make", StringType()),
        StructField("model", StringType()),
        StructField("datetime", StringType()),
        StructField("has_gps", IntegerType()),
        StructField("exif_ok", IntegerType()),
    ]
)

_EXIF_TAGS = {
    0x010F: "make",
    0x0110: "model",
    0x0112: "orientation",
    0x0132: "datetime",
    0x8825: "gps",
}


def parse_exif(content) -> Optional[dict]:
    """Recovering EXIF parse for JPEG: walk the segment stream to the
    APP1 'Exif\\0\\0' payload, then the TIFF IFD0 — byte order (II/MM),
    Make/Model/DateTime (ASCII, inline or offset-addressed),
    Orientation (SHORT), and GPS-IFD presence (tag 0x8825 — the
    geotag-PII signal a curation gate needs BEFORE pixels are ever
    decoded). Pure stdlib; truncated/bogus structures degrade to None
    or partial fields, never raise."""
    b = bytes(content or b"")
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return None
    i = 2
    payload = None
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            break
        marker = b[i + 1]
        if marker == 0xFF:
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            i += 2
            continue
        if marker == 0xDA:  # scan data: no EXIF past this point
            break
        seglen = int.from_bytes(b[i + 2:i + 4], "big")
        if seglen < 2:
            break
        if marker == 0xE1 and b[i + 4:i + 10] == b"Exif\x00\x00":
            payload = b[i + 10:i + 2 + seglen]
            break
        i += 2 + seglen
    if payload is None or len(payload) < 8:
        return None
    bo = payload[0:2]
    if bo == b"II":
        end = "little"
    elif bo == b"MM":
        end = "big"
    else:
        return None

    def rd(off, n):
        return int.from_bytes(payload[off:off + n], end)

    if rd(2, 2) != 42:
        return None
    ifd = rd(4, 4)
    out = {
        "byte_order": bo.decode(),
        "orientation": None,
        "make": None,
        "model": None,
        "datetime": None,
        "has_gps": 0,
    }
    if ifd + 2 > len(payload):
        return out
    n = rd(ifd, 2)
    for k in range(n):
        e = ifd + 2 + 12 * k
        if e + 12 > len(payload):
            break
        tag, typ, cnt = rd(e, 2), rd(e + 2, 2), rd(e + 4, 4)
        name = _EXIF_TAGS.get(tag)
        if name is None:
            continue
        if name == "gps":
            out["has_gps"] = 1
        elif name == "orientation" and typ == 3 and cnt >= 1:
            out["orientation"] = rd(e + 8, 2)
        elif typ == 2 and cnt > 0:  # ASCII
            if cnt <= 4:
                raw = payload[e + 8:e + 8 + cnt]
            else:
                off = rd(e + 8, 4)
                raw = payload[off:off + cnt]
            out[name] = (
                raw.split(b"\x00", 1)[0].decode("ascii", "replace")
                if raw
                else None
            )
    return out


def build_exif_jpeg(
    jpeg: bytes,
    byte_order: str = "II",
    make: str = None,
    model: str = None,
    orientation: int = None,
    datetime: str = None,
    gps: bool = False,
) -> bytes:
    """Insert a spec-shaped EXIF APP1 segment (TIFF IFD0) right after
    SOI of an existing JPEG — the synthetic fixture source. ASCII
    values longer than 4 bytes are offset-addressed into a data area
    after the IFD, exercising both TIFF value encodings."""
    end = "little" if byte_order == "II" else "big"

    def pk(v, n):
        return v.to_bytes(n, end)

    entries = []
    data = b""
    # data area begins after: 8 TIFF hdr + 2 count + 12*n + 4 next-IFD
    def add_ascii(tag, s):
        nonlocal data
        raw = s.encode("ascii") + b"\x00"
        if len(raw) <= 4:
            entries.append((tag, pk(tag, 2) + pk(2, 2) + pk(len(raw), 4)
                            + raw.ljust(4, b"\x00")))
        else:
            entries.append((tag, None, raw))  # patched after layout

    if make is not None:
        add_ascii(0x010F, make)
    if model is not None:
        add_ascii(0x0110, model)
    if orientation is not None:
        entries.append((
            0x0112,
            pk(0x0112, 2) + pk(3, 2) + pk(1, 4) + pk(orientation, 2)
            + b"\x00\x00",
        ))
    if datetime is not None:
        add_ascii(0x0132, datetime)
    if gps:
        entries.append((0x8825, None, b"__GPSIFD"))
    entries.sort(key=lambda t: t[0])
    n = len(entries)
    data_base = 8 + 2 + 12 * n + 4
    blobs, fixed = [], []
    cursor = data_base
    for ent in entries:
        if ent[1] is not None:
            fixed.append(ent[1])
            continue
        tag, _, raw = ent
        if raw == b"__GPSIFD":
            # pointer to a minimal (0-entry) GPS IFD in the data area
            fixed.append(pk(tag, 2) + pk(4, 2) + pk(1, 4) + pk(cursor, 4))
            raw = pk(0, 2) + pk(0, 4)
        else:
            fixed.append(pk(tag, 2) + pk(2, 2) + pk(len(raw), 4)
                         + pk(cursor, 4))
        blobs.append(raw)
        cursor += len(raw)
    tiff = (
        byte_order.encode() + pk(42, 2) + pk(8, 4)
        + pk(n, 2) + b"".join(fixed) + pk(0, 4) + b"".join(blobs)
    )
    seg = b"Exif\x00\x00" + tiff
    app1 = b"\xff\xe1" + (len(seg) + 2).to_bytes(2, "big") + seg
    assert jpeg[:2] == b"\xff\xd8"
    return jpeg[:2] + app1 + jpeg[2:]


def exif_df(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA image rows) → EXIF_SCHEMA, one narrow
    mapInPandas pass (header-only work — no pixel decode, so this runs
    at scan speed even on giant images; same skew spread as the other
    media surfaces). Images without an EXIF segment are exif_ok=0 with
    NULL fields — absence is knowledge, not failure."""

    def rows(ref, content):
        meta = parse_exif(content)
        if meta is None:
            return [(ref, None, None, None, None, None, 0, 0)]
        return [(ref, *(meta[k] for k in EXIF_SCHEMA.fieldNames()[1:-1]), 1)]

    return (
        media.filter(F.col("media_type") == "image")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism, "media_ref"
        )
        .select("media_ref", "content")
        .mapInPandas(row_mapper(rows, EXIF_SCHEMA), schema=EXIF_SCHEMA)
    )


EXIF_STRIP_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("content", BinaryType()),
        StructField("orig_len", IntegerType()),
        StructField("new_len", IntegerType()),
        StructField("had_exif", IntegerType()),
        StructField("strip_ok", IntegerType()),
    ]
)


def strip_exif(content) -> tuple:
    """Remove every EXIF APP1 segment from a JPEG byte stream — the
    image-PII scrub (geotags, camera serials, timestamps) a training
    corpus applies before media ever leaves the pipeline. Walks the
    segment stream with the same recovering rules as parse_exif
    (fill-byte padding, standalone markers, stop at SOS — EXIF is
    header-side by spec); only APP1 segments whose payload starts
    'Exif\\0\\0' are dropped, so XMP APP1 and JFIF APP0 survive.

    Returns (bytes, had_exif:int, ok:int). Non-JPEG or truncated
    streams come back byte-identical with ok=0 — a scrubber must
    never corrupt what it cannot parse."""
    b = bytes(content or b"")
    if len(b) < 4 or b[0] != 0xFF or b[1] != 0xD8:
        return b, 0, 0
    keep = [b[:2]]
    i = 2
    had = 0
    while i + 4 <= len(b):
        if b[i] != 0xFF:
            break
        marker = b[i + 1]
        if marker == 0xFF:  # fill byte
            keep.append(b[i:i + 1])
            i += 1
            continue
        if marker in (0xD8, 0x01) or 0xD0 <= marker <= 0xD7:
            keep.append(b[i:i + 2])
            i += 2
            continue
        if marker == 0xDA:  # scan: EXIF cannot appear past this point
            break
        seglen = int.from_bytes(b[i + 2:i + 4], "big")
        if seglen < 2 or i + 2 + seglen > len(b):
            break
        if marker == 0xE1 and b[i + 4:i + 10] == b"Exif\x00\x00":
            had = 1
        else:
            keep.append(b[i:i + 2 + seglen])
        i += 2 + seglen
    keep.append(b[i:])
    return b"".join(keep), had, 1


def exif_strip_df(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA image rows) → EXIF-scrubbed bytes + audit
    columns, one narrow mapInPandas pass (segment-walk only — no pixel
    decode). The audit pair (orig_len, new_len) makes the removal
    relationally checkable: the delta IS the APP1 segment size."""

    def rows(ref, raw):
        out, had, ok = strip_exif(raw)
        return [(ref, out, len(bytes(raw or b"")), len(out), had, ok)]

    return (
        media.filter(F.col("media_type") == "image")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism, "media_ref"
        )
        .select("media_ref", "content")
        .mapInPandas(row_mapper(rows, EXIF_STRIP_SCHEMA), schema=EXIF_STRIP_SCHEMA)
    )


# ------------------------------------------- real AVI container decode


def parse_avi(content):
    """Recovering RIFF/AVI parse → (width, height, us_per_frame,
    frames) where frames = [(offset, size), ...] of the video stream's
    '##dc'/'##db' chunks in stream order — REAL container metadata and
    frame byte ranges (MJPEG frames are whole JPEGs), pure stdlib.
    Pixel decode of the frames is the JPEG stub's problem; everything a
    frame SAMPLER needs (timing, count, bytes) is real. None for
    non-AVI bytes; truncated files yield the frames seen so far."""
    b = bytes(content or b"")
    if len(b) < 12 or b[:4] != b"RIFF" or b[8:12] != b"AVI ":
        return None
    w = h = None
    uspf = None
    frames = []

    def walk(pos, end):
        nonlocal w, h, uspf
        while pos + 8 <= end:
            cid = b[pos:pos + 4]
            sz = int.from_bytes(b[pos + 4:pos + 8], "little")
            body_start = pos + 8
            body_end = min(body_start + sz, end)
            if cid == b"LIST" and sz >= 4:
                walk(body_start + 4, body_end)
            elif cid == b"avih" and sz >= 40:
                uspf = int.from_bytes(b[body_start:body_start + 4], "little")
                w = int.from_bytes(
                    b[body_start + 32:body_start + 36], "little"
                )
                h = int.from_bytes(
                    b[body_start + 36:body_start + 40], "little"
                )
            elif len(cid) == 4 and cid[2:4] in (b"dc", b"db"):
                frames.append((body_start, body_end - body_start))
            pos = body_start + sz + (sz & 1)

    walk(12, len(b))
    if w is None or not w or not h or not uspf:
        return None
    return w, h, uspf, frames


def build_avi(
    width: int, height: int, fps: float, frames: list
) -> bytes:
    """Fully valid single-video-stream AVI container wrapping the given
    frame payloads (e.g. build_jpeg outputs → MJPEG) — the
    SQL-predictable synthetic video source."""
    uspf = int(round(1_000_000 / fps))

    def chunk(cid: bytes, body: bytes) -> bytes:
        pad = b"\x00" if len(body) & 1 else b""
        return cid + struct.pack("<I", len(body)) + body + pad

    def lst(kind: bytes, body: bytes) -> bytes:
        return chunk(b"LIST", kind + body)

    avih = struct.pack(
        "<IIIIIIIIIIIIII",
        uspf, 0, 0, 0x10, len(frames), 0, 1, 0, width, height,
        0, 0, 0, 0,
    )
    strh = (
        b"vids" + b"MJPG" + struct.pack(
            "<IHHIIIIIIIII", 0, 0, 0, 0, 1, max(1, int(round(fps))),
            0, len(frames), 0, 0, 0, 0,
        )
    )
    strf = struct.pack(
        "<IiiHHIIiiII", 40, width, height, 1, 24,
        int.from_bytes(b"MJPG", "little"), width * height * 3,
        0, 0, 0, 0,
    )
    hdrl = lst(
        b"hdrl",
        chunk(b"avih", avih)
        + lst(b"strl", chunk(b"strh", strh) + chunk(b"strf", strf)),
    )
    movi = lst(b"movi", b"".join(chunk(b"00dc", f) for f in frames))
    body = b"AVI " + hdrl + movi
    return b"RIFF" + struct.pack("<I", len(body)) + body


def avi_frames_df(media: DataFrame) -> DataFrame:
    """Explode AVI video blobs into REAL frame rows: (media_ref,
    frame_idx, ts_ms, frame_w, frame_h, size_bytes). Frame timing comes
    from the container's microseconds-per-frame; per-frame dimensions
    from the REAL JPEG header parse of each MJPEG frame (NULL if a
    frame is not a parseable image). Non-AVI blobs yield zero rows.

    Scale shape: media_ref-hash repartition (giant-binary spread), then
    ONE mapInPandas explode — same contract as decode_features_df."""

    schema = StructType(
        [
            StructField("media_ref", StringType()),
            StructField("frame_idx", IntegerType()),
            StructField("ts_ms", IntegerType()),
            StructField("frame_w", IntegerType()),
            StructField("frame_h", IntegerType()),
            StructField("size_bytes", IntegerType()),
        ]
    )

    def rows(ref, content):
        parsed = parse_avi(content)
        if parsed is None:
            return []
        _, _, uspf, frames = parsed
        blob = bytes(content)
        out = []
        for i, (off, sz) in enumerate(frames):
            hdr = parse_image_header(blob[off:off + sz])
            out.append((
                ref, i, int(i * uspf // 1000),
                hdr[1] if hdr else None, hdr[2] if hdr else None, sz,
            ))
        return out

    return media.select("media_ref", "content").repartition(
        media.sparkSession.sparkContext.defaultParallelism, "media_ref"
    ).mapInPandas(row_mapper(rows, schema), schema=schema)


# ----------------------------------------------- real GIF pixel decode


def _gif_lzw(data: bytes, min_code: int, expect: int):
    """GIF-variant LZW decode → list of palette indices, or None on a
    corrupt stream. Implements the spec rules: variable code width
    starting at min_code+1, width grows when the NEXT table slot reaches
    2^width (capped at 12 bits), clear code resets the table, the
    KwKwK case (code == next free slot) synthesizes prev+prev[0]."""
    if not (2 <= min_code <= 11):
        return None
    clear = 1 << min_code
    end = clear + 1
    # bit-unpack once: GIF packs codes LSB-first
    bits = np.unpackbits(
        np.frombuffer(data, dtype=np.uint8), bitorder="little"
    )
    nbits = len(bits)
    pos = 0
    code_size = min_code + 1
    table: list = [(None, i) for i in range(clear)] + [None, None]
    out: list = []
    prev = None

    def expand(code):
        seq = []
        while code is not None:
            back, sym = table[code]
            seq.append(sym)
            code = back
        seq.reverse()
        return seq

    while pos + code_size <= nbits and len(out) < expect:
        c = 0
        for k in range(code_size):
            c |= int(bits[pos + k]) << k
        pos += code_size
        if c == clear:
            table = [(None, i) for i in range(clear)] + [None, None]
            code_size = min_code + 1
            prev = None
            continue
        if c == end:
            break
        if prev is None:
            if c >= len(table) or table[c] is None:
                return None
            out.extend(expand(c))
        else:
            if c < len(table) and table[c] is not None:
                seq = expand(c)
            elif c == len(table):
                seq = expand(prev)
                seq.append(seq[0])
            else:
                return None
            out.extend(seq)
            table.append((prev, seq[0]))
            if len(table) == (1 << code_size) and code_size < 12:
                code_size += 1
        prev = c
    return out if len(out) >= expect else None


def decode_gif_pixels(content) -> Optional[np.ndarray]:
    """REAL pixel decode for GIF87a/GIF89a — pure stdlib + numpy, no
    image library. Returns the FIRST image frame as an (h, w, 3) uint8
    RGB array (palette applied, interlace unwoven); None outside the
    supported envelope or on corrupt streams. Same caveats as
    decode_png_pixels: per-code Python walk, a codec library takes over
    via the _have_pil gate when the cluster image ships one."""
    if not content:
        return None
    b = bytes(content)
    if b[:6] not in (b"GIF87a", b"GIF89a") or len(b) < 13:
        return None
    flags = b[10]
    gct = None
    pos = 13
    if flags & 0x80:
        n = 3 * (2 << (flags & 7))
        gct = b[13:13 + n]
        if len(gct) < n:
            return None
        pos += n
    while pos < len(b):
        bt = b[pos]
        if bt == 0x21:  # extension: label + sub-blocks
            pos += 2
            while pos < len(b) and b[pos] != 0:
                pos += 1 + b[pos]
            pos += 1
        elif bt == 0x2C:  # image descriptor
            if pos + 10 > len(b):
                return None
            iw = int.from_bytes(b[pos + 5:pos + 7], "little")
            ih = int.from_bytes(b[pos + 7:pos + 9], "little")
            fl = b[pos + 9]
            pos += 10
            pal = gct
            if fl & 0x80:
                n = 3 * (2 << (fl & 7))
                pal = b[pos:pos + n]
                if len(pal) < n:
                    return None
                pos += n
            if pal is None or iw <= 0 or ih <= 0:
                return None
            if iw * ih > 64_000_000 or pos >= len(b):
                return None
            min_code = b[pos]
            pos += 1
            data = bytearray()
            while pos < len(b) and b[pos] != 0:
                sz = b[pos]
                data += b[pos + 1:pos + 1 + sz]
                pos += 1 + sz
            idx = _gif_lzw(bytes(data), min_code, iw * ih)
            if idx is None:
                return None
            arr = np.asarray(idx[: iw * ih], dtype=np.int32).reshape(
                ih, iw
            )
            if fl & 0x40:  # Adam-less GIF interlace: 4 passes
                order = (
                    list(range(0, ih, 8))
                    + list(range(4, ih, 8))
                    + list(range(2, ih, 4))
                    + list(range(1, ih, 2))
                )
                un = np.empty_like(arr)
                un[order] = arr
                arr = un
            ncol = len(pal) // 3
            if int(arr.max(initial=0)) >= ncol:
                return None
            table = np.frombuffer(
                pal[: ncol * 3], dtype=np.uint8
            ).reshape(-1, 3)
            return table[arr]
        elif bt == 0x3B:
            return None  # trailer before any image frame
        else:
            return None
    return None


def _gray(arr: np.ndarray) -> np.ndarray:
    """(h, w) float64 luma: ITU-R 601 weights for color, the gray
    channel for grayscale(+alpha)."""
    a = arr.astype(np.float64)
    if arr.shape[2] <= 2:
        return a[:, :, 0]
    return 0.299 * a[:, :, 0] + 0.587 * a[:, :, 1] + 0.114 * a[:, :, 2]


def _block_pool(gray: np.ndarray, t: int) -> np.ndarray:
    """(t, t) block means with floor boundaries lo=(i·n)//t,
    hi=max(lo+1, ((i+1)·n)//t) — total for any n ≥ 1 (upscale blocks
    sample one pixel). The deterministic pooling contract the feature
    and thumbnail paths share."""
    h, w = gray.shape
    ys = [(i * h) // t for i in range(t + 1)]
    xs = [(i * w) // t for i in range(t + 1)]
    out = np.empty((t, t), dtype=np.float64)
    for y in range(t):
        lo = min(ys[y], h - 1)
        hi = min(max(ys[y] + 1, ys[y + 1]), h)
        for x in range(t):
            xlo = min(xs[x], w - 1)
            xhi = min(max(xs[x] + 1, xs[x + 1]), w)
            out[y, x] = gray[lo:hi, xlo:xhi].mean()
    return out


def decode_image_pixels(content, fmt: Optional[str] = None):
    """Dispatch to the real pure-stdlib pixel decoders (PNG, GIF,
    baseline JPEG); None for out-of-envelope streams."""
    if fmt is None:
        header = parse_image_header(content)
        fmt = header[0] if header else None
    if fmt == "png":
        return decode_png_pixels(content)
    if fmt == "gif":
        return decode_gif_pixels(content)
    if fmt == "jpeg":
        from fuzi_spark.ops.jpeg import decode_jpeg

        return decode_jpeg(content)
    return None


def _pixel_features(content, fmt: Optional[str] = None) -> Optional[np.ndarray]:
    """64-dim float32 feature vector = 8×8 block-mean luma of the REAL
    decoded pixels; None when pixels are unavailable."""
    arr = decode_image_pixels(content, fmt)
    if arr is None:
        return None
    return _block_pool(_gray(arr), 8).ravel().astype(np.float32)


def _have_pil() -> bool:
    try:
        import PIL.Image  # noqa: F401

        return True
    except ImportError:
        return False


def _fake_decode(content: bytes) -> tuple[int, int, int, np.ndarray]:
    """Deterministic fake decode: dimensions + feature vector seeded from
    the content digest. Marks the stub path — replace with PIL/libav when
    the cluster image ships them."""
    dig = hashlib.blake2b(content or b"", digest_size=32).digest()
    w = 16 + dig[0] % 64
    h = 16 + dig[1] % 64
    c = 3
    rng = np.random.RandomState(int.from_bytes(dig[2:6], "little"))
    feats = rng.randn(_FEATURE_DIM).astype(np.float32)
    return w, h, c, feats


def decode_features_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    """mapInPandas: media rows → decoded metadata + feature vector.

    Images: format/width/height/channels come from the REAL container
    header parse; the feature vector is the 8×8 block-mean luma of the
    REAL decoded pixels (stdlib PNG/GIF/JPEG decoders — baseline AND
    progressive; PIL takes over when present), falling back to the
    deterministic content-digest fake only for out-of-envelope streams
    (arithmetic/12-bit JPEG). Bytes that parse as no known
    image format are
    decode_ok=0 — never a fake success. Non-image media keeps the
    digest-seeded fake except WAV audio (real PCM decode)."""
    use_pil = _have_pil()

    def rows(ref, mtype, content):
        if mtype == "image":
            header = parse_image_header(content)
            if header is None:
                return [(ref, mtype, None, None, None, None, 0, None)]
            fmt, w, h, c = header
            feats = None
            if use_pil:
                try:
                    import io

                    import PIL.Image

                    img = PIL.Image.open(io.BytesIO(content))
                    feats = np.asarray(
                        img.convert("L").resize((8, 8)),
                        dtype=np.float32,
                    ).ravel()
                except Exception:
                    feats = None
            if feats is None and fmt in ("png", "gif", "jpeg"):
                # REAL pixels, no image library: stdlib
                # inflate/LZW/baseline-DCT decode, 8×8
                # block-mean luma
                feats = _pixel_features(content, fmt)
            if feats is None:
                feats = _fake_decode(content)[3]
            return [(ref, mtype, fmt, w, h, c, 1, feats)]
        wav = decode_wav_features(content) if mtype == "audio" else None
        if wav is not None:
            # REAL PCM decode: window-RMS features; channels
            # carries the audio channel count, width/height NULL
            rate, ch, bits, n_frames, dur, feats = wav
            return [(ref, mtype, audio_format(content), None, None, ch, 1, feats)]
        w, h, c, feats = _fake_decode(content)
        return [(ref, mtype, None, w, h, c, 1, feats)]

    return row_mapper(rows, DECODED_SCHEMA)(batches)


def decode_features_df(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA) → DECODED_SCHEMA, partition-parallel.
    Repartitions by media_ref hash first so giant binaries spread out."""
    return media.select("media_ref", "media_type", "content").repartition(
        media.sparkSession.sparkContext.defaultParallelism, "media_ref"
    ).mapInPandas(decode_features_fn, schema=DECODED_SCHEMA)


RESIZED_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("thumb", BinaryType()),  # row-major grayscale bytes
    ]
)


def make_resize_fn(target: int = 32):
    """mapInPandas: image rows → fixed-size thumbnails.

    Real path uses PIL when available; stub path emits a deterministic
    target×target grayscale buffer derived from the content digest, so the
    Spark plumbing (schema, batch shape, binary output) is fully exercised
    without image libraries."""
    use_pil = _have_pil()

    def rows(ref, content):
        if use_pil:
            try:
                import io

                import PIL.Image

                img = PIL.Image.open(io.BytesIO(content)).convert("L")
                return [(ref, target, target, img.resize((target, target)).tobytes())]
            except Exception:
                pass
        arr = decode_image_pixels(content)
        if arr is not None:
            # REAL thumbnail: block-mean luma pooled to target²
            thumb = np.clip(
                np.rint(_block_pool(_gray(arr), target)), 0, 255
            ).astype(np.uint8)
        else:
            dig = hashlib.blake2b(content or b"", digest_size=32).digest()
            rng = np.random.RandomState(int.from_bytes(dig[:4], "little"))
            thumb = rng.randint(0, 256, size=target * target, dtype=np.uint8)
        return [(ref, target, target, thumb.tobytes())]

    return row_mapper(rows, RESIZED_SCHEMA)


FRAMES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("features", ArrayType(FloatType())),
    ]
)


def make_frame_sample_fn(n_frames: int = 4, fps_ms: int = 1000):
    """mapInPandas: video rows → n_frames sampled frame-feature rows each
    (1 input row → N output rows, the frame-explosion shape).

    REAL path for MJPEG-in-AVI: parse_avi's frame byte ranges pick an
    even sampling grid over the actual frames, timestamps come from the
    container's microseconds-per-frame, and features are the 8×8
    block-mean luma of the REAL baseline-JPEG frame decode (ops/jpeg.py)
    — frame_idx is the sampled frame's real index in the stream. Videos
    outside that envelope (non-AVI containers, non-JPEG frame payloads —
    no libav in this container) keep the deterministic digest-seeded
    fake on the fps_ms grid so the explosion shape stays exercisable."""

    def rows(ref, content):
        parsed = parse_avi(content)
        if parsed is not None and parsed[3]:
            _w, _h, uspf, frames = parsed
            body = bytes(content)
            take = min(n_frames, len(frames))
            out = []
            for s in range(take):
                fi = (s * len(frames)) // take
                off, size = frames[fi]
                feats = _pixel_features(body[off:off + size], "jpeg")
                if feats is None:
                    dig = hashlib.blake2b(
                        body[off:off + size], digest_size=32
                    ).digest()
                    rng = np.random.RandomState(
                        int.from_bytes(dig[:4], "little")
                    )
                    feats = rng.randn(_FEATURE_DIM).astype(np.float32)
                out.append((ref, fi, fi * uspf // 1000, feats))
            return out
        dig = hashlib.blake2b(content or b"", digest_size=32).digest()
        seed = int.from_bytes(dig[:4], "little")
        return [
            (
                ref, f, f * fps_ms,
                np.random.RandomState(seed + f).randn(_FEATURE_DIM).astype(np.float32),
            )
            for f in range(n_frames)
        ]

    return row_mapper(rows, FRAMES_SCHEMA)


def resize_images_df(media: DataFrame, target: int = 32) -> DataFrame:
    return media.filter(F.col("media_type") == "image").select(
        "media_ref", "content"
    ).mapInPandas(make_resize_fn(target), schema=RESIZED_SCHEMA)


def frame_sample_df(media: DataFrame, n_frames: int = 4) -> DataFrame:
    return media.filter(F.col("media_type") == "video").select(
        "media_ref", "content"
    ).mapInPandas(make_frame_sample_fn(n_frames), schema=FRAMES_SCHEMA)


def synth_dims(ref: str) -> tuple[int, int]:
    """Deterministic synthetic image dimensions per ref — deliberately a
    pure length-arithmetic formula so an external SQL oracle can predict
    them: w = 16 + 7*len(ref) mod 96, h = 16 + 13*len(ref) mod 96."""
    n = len(ref or "")
    return 16 + (7 * n) % 96, 16 + (13 * n) % 96


def synth_media_df(spark, docs_extracted: DataFrame) -> DataFrame:
    """Build a media table from extracted media spans — the dev-scale
    stand-in for fetching blobs from object storage. Image refs get REAL
    image bytes (valid PNG; header-valid GIF/JPEG) with dimensions from
    synth_dims, so decode_features_df exercises the real header parse and
    an external oracle can check the full pipeline. Non-image refs keep a
    digest payload."""
    refs = (
        docs_extracted.filter(F.col("kind") == "media")
        .select("media_ref")
        .where(F.col("media_ref").isNotNull())
        .distinct()
    )

    _BUILDERS = {"png": build_png, "gif": build_gif}

    def rows(ref):
        r = ref or ""
        ext = r.rsplit(".", 1)[-1].lower() if "." in r else ""
        if ext in ("jpg", "jpeg", "png", "gif", "webp"):
            mtype = "image"
        else:
            mtype = "video" if ext in ("mp4", "webm") else "other"
        dig = hashlib.blake2b(r.encode(), digest_size=32).digest()
        if mtype == "image":
            w, h = synth_dims(r)
            content = _BUILDERS.get(ext, build_jpeg)(w, h, dig)
        else:
            content = dig * 8
        return [(ref, mtype, content, ext, None, None, None)]

    return refs.mapInPandas(row_mapper(rows, MEDIA_SCHEMA), schema=MEDIA_SCHEMA)


# ---------------------------------------------------- media quality gate

def media_quality_filter(
    decoded: DataFrame,
    min_width: int = 64,
    min_height: int = 64,
    max_aspect: float = 4.0,
) -> DataFrame:
    """Image quality gate for caption-pair curation (the LAION-style
    pre-filter): icons/trackers (too small), banner strips (extreme
    aspect), and undecodable blobs are what a multimodal trainer drops
    before pairing images with their surrounding text.

    Input is a DECODED_SCHEMA-shaped frame (decode_features_df output —
    the REAL header parse supplies width/height/decode_ok). Adds:
    - aspect: max(w/h, h/w) as double (NULL when decode failed);
    - reject_reason, first-failure precedence: 'decode_failed' →
      'too_small' → 'extreme_aspect' → NULL;
    - keep: 1 iff no reason fired.

    Pure Catalyst over already-decoded metadata — zero Python, zero
    shuffles; at 10^12-media scale this is a scan predicate over the
    (ref, dims) sidecar table, never touching the blobs."""
    w = F.col("width").cast("double")
    h = F.col("height").cast("double")
    aspect = F.greatest(w / h, h / w)
    ok = F.col("decode_ok") == 1
    reason = (
        F.when(~ok | F.col("decode_ok").isNull(), F.lit("decode_failed"))
        .when(
            (F.col("width") < min_width) | (F.col("height") < min_height),
            F.lit("too_small"),
        )
        .when(aspect > float(max_aspect), F.lit("extreme_aspect"))
        .otherwise(F.lit(None).cast("string"))
    )
    return decoded.withColumns(
        {
            "aspect": F.when(ok, aspect),
            "reject_reason": reason,
            "keep": reason.isNull().cast("int"),
        }
    )
