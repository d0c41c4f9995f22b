"""MP4 (ISO BMFF) and Matroska/WebM (EBML) video-container parsing —
the honest middle ground for non-MJPEG video (r4 verdict item 4):
a real, pure-stdlib container walk that surfaces codec id, timing,
sample counts, and KEYFRAME BYTE RANGES (the sync-sample table /
SimpleBlock keyframe flags resolved to absolute file offsets), while
coded-frame pixel decode stays honestly absent (decode_ok = 0; a full
H.264/VP9 decoder is out of scope, and ops/multimodal.py's libav
takeover seam is where a cluster image supplies one).

Why keyframe ranges are the right product at this honesty level:
container-fingerprint dedup, frame sampling for downstream ML decode,
and byte-range fetch planning (read k keyframes of a 2 GB file
without reading the file) all need exactly (index, offset, size) —
none need pixels.

MP4: box walk (moov/trak/mdia/minf/stbl), first video track's
stsd fourcc, mdhd timescale+duration, stts sample count, stss sync
samples, and the stsc/stco/stsz chunk-map resolution from sample
index to absolute byte offset — the real ISO 14496-12 algorithm.
MKV: EBML varint walk, Info TimestampScale/Duration, first video
TrackEntry CodecID, and per-Cluster SimpleBlocks with the keyframe
flag bit (0x80), payload offsets computed absolutely.

Recovery contract (same as parse_avi / parse_wav): malformed or
truncated input returns None or the prefix parsed so far; never
raises. The builders emit deterministic, SQL-predictable fixtures
(every field and byte offset a closed-form formula — the
`video_keyframes` oracle recomputes offsets in SQL).

Reference parity note: the reference (kylehughes/Fuzi,
/root/reference/Sources) has no media surface — pipeline-brief scope
(SURVEY.md §2.8), not reference parity.
"""

from __future__ import annotations

import struct
from typing import Optional

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    ArrayType,
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..udfs import map_rows

# ------------------------------------------------------------- MP4


def parse_mp4(content) -> Optional[dict]:
    """ISO BMFF walk -> dict(codec, width, height, timescale,
    duration_ms, n_samples, keyframes=[(idx, offset, size), ...]) for
    the FIRST video track, or None when the bytes are not a parsable
    MP4. Keyframe offsets are ABSOLUTE file offsets resolved through
    stsc/stco/stsz; `idx` is the 0-based sample index."""
    b = bytes(content or b"")
    if len(b) < 16:
        return None
    try:
        return _parse_mp4(b)
    except Exception:
        return None


def _boxes(b: bytes, pos: int, end: int):
    while pos + 8 <= end:
        sz = int.from_bytes(b[pos:pos + 4], "big")
        typ = b[pos + 4:pos + 8]
        hdr = 8
        if sz == 1:
            if pos + 16 > end:
                return
            sz = int.from_bytes(b[pos + 8:pos + 16], "big")
            hdr = 16
        elif sz == 0:
            sz = end - pos
        if sz < hdr:
            return
        yield typ, pos + hdr, min(pos + sz, end)
        pos += sz


def _parse_mp4(b: bytes) -> Optional[dict]:
    top = {t: (s, e) for t, s, e in _boxes(b, 0, len(b))}
    if b"ftyp" not in top or b"moov" not in top:
        return None
    ms, me = top[b"moov"]
    for typ, s, e in _boxes(b, ms, me):
        if typ != b"trak":
            continue
        trk = _parse_trak(b, s, e)
        if trk is not None:
            return trk
    return None


def _fullbox(b: bytes, s: int) -> tuple:
    return b[s], int.from_bytes(b[s + 1:s + 4], "big")  # version, flags


def _parse_trak(b: bytes, ts: int, te: int) -> Optional[dict]:
    info = {"width": None, "height": None}
    stbl = mdhd = None
    is_video = False
    for typ, s, e in _boxes(b, ts, te):
        if typ == b"tkhd":
            ver, _ = _fullbox(b, s)
            off = s + (4 + 32 if ver else 4 + 20) + 8 + 2 + 2 + 2 + 2 + 36
            if off + 8 <= e:
                info["width"] = int.from_bytes(b[off:off + 4],
                                               "big") >> 16
                info["height"] = int.from_bytes(b[off + 4:off + 8],
                                                "big") >> 16
        elif typ == b"mdia":
            for t2, s2, e2 in _boxes(b, s, e):
                if t2 == b"mdhd":
                    mdhd = (s2, e2)
                elif t2 == b"hdlr":
                    if b[s2 + 8:s2 + 12] == b"vide":
                        is_video = True
                elif t2 == b"minf":
                    for t3, s3, e3 in _boxes(b, s2, e2):
                        if t3 == b"stbl":
                            stbl = (s3, e3)
    if not is_video or stbl is None or mdhd is None:
        return None
    s, _e = mdhd
    ver, _ = _fullbox(b, s)
    if ver == 1:
        timescale = int.from_bytes(b[s + 20:s + 24], "big")
        duration = int.from_bytes(b[s + 24:s + 32], "big")
    else:
        timescale = int.from_bytes(b[s + 12:s + 16], "big")
        duration = int.from_bytes(b[s + 16:s + 20], "big")
    codec = None
    n_samples = 0
    sync = []
    sizes: list = []
    fixed_size = 0
    stsc_runs = []
    chunk_offs = []
    ss, se = stbl
    for typ, s, e in _boxes(b, ss, se):
        body = s + 4  # skip version/flags
        # every entry count is clamped to the bytes actually present
        # in the box — a corrupted count (bit flip -> ~2^31) must not
        # spin the loop (totality contract; pinned by the fuzz test)
        if typ == b"stsd":
            n = int.from_bytes(b[body:body + 4], "big")
            if n >= 1 and body + 12 <= e:
                codec = b[body + 8:body + 12].decode("ascii", "replace")
        elif typ == b"stts":
            n = min(int.from_bytes(b[body:body + 4], "big"),
                    max(0, e - body - 4) // 8)
            p = body + 4
            for _ in range(n):
                cnt = int.from_bytes(b[p:p + 4], "big")
                n_samples += cnt
                p += 8
        elif typ == b"stss":
            n = min(int.from_bytes(b[body:body + 4], "big"),
                    max(0, e - body - 4) // 4)
            p = body + 4
            for _ in range(n):
                sync.append(int.from_bytes(b[p:p + 4], "big") - 1)
                p += 4
        elif typ == b"stsz":
            fixed_size = int.from_bytes(b[body:body + 4], "big")
            n = int.from_bytes(b[body + 4:body + 8], "big")
            if fixed_size == 0:
                n = min(n, max(0, e - body - 8) // 4)
                p = body + 8
                for _ in range(n):
                    sizes.append(int.from_bytes(b[p:p + 4], "big"))
                    p += 4
            else:
                sizes = [fixed_size] * min(n, 1 << 22)
        elif typ == b"stsc":
            n = min(int.from_bytes(b[body:body + 4], "big"),
                    max(0, e - body - 4) // 12)
            p = body + 4
            for _ in range(n):
                stsc_runs.append((
                    int.from_bytes(b[p:p + 4], "big"),
                    int.from_bytes(b[p + 4:p + 8], "big"),
                ))
                p += 12
        elif typ in (b"stco", b"co64"):
            w = 4 if typ == b"stco" else 8
            n = min(int.from_bytes(b[body:body + 4], "big"),
                    max(0, e - body - 4) // w)
            p = body + 4
            for _ in range(n):
                chunk_offs.append(int.from_bytes(b[p:p + w], "big"))
                p += w
    if codec is None or not sizes or not chunk_offs or not stsc_runs:
        return None
    # resolve sample index -> absolute offset via the chunk map
    offsets = [0] * len(sizes)
    si = 0
    n_chunks = len(chunk_offs)
    for ri, (first, per) in enumerate(stsc_runs):
        last = (stsc_runs[ri + 1][0] - 1 if ri + 1 < len(stsc_runs)
                else n_chunks)
        for ci in range(max(0, first - 1), min(last, n_chunks)):
            off = chunk_offs[ci]
            for _ in range(per):
                if si >= len(sizes):
                    break
                offsets[si] = off
                off += sizes[si]
                si += 1
    kf = [(i, offsets[i], sizes[i]) for i in sync if 0 <= i < len(sizes)]
    dur_ms = (duration * 1000) // timescale if timescale else None
    return {
        "container": "mp4", "codec": codec, "width": info["width"],
        "height": info["height"], "timescale": timescale,
        "duration_ms": dur_ms, "n_samples": n_samples or len(sizes),
        "total_bytes": int(sum(sizes)),
        "keyframes": kf,
    }


def _box(typ: bytes, payload: bytes) -> bytes:
    return struct.pack(">I", 8 + len(payload)) + typ + payload


def _full(typ: bytes, ver: int, flags: int, payload: bytes) -> bytes:
    return _box(typ, bytes([ver]) + flags.to_bytes(3, "big") + payload)


def build_mp4(codec: str = "avc1", width: int = 320, height: int = 240,
              timescale: int = 1000, sample_delta: int = 40,
              sizes: list = (100, 80, 120), sync: list = (0,),
              payload_byte: int = 0xAB) -> bytes:
    """Deterministic single-video-track MP4: n samples in ONE chunk,
    sizes/sync as given, every byte offset a closed-form function of
    the inputs (the `video_keyframes` oracle recomputes them in SQL).
    Layout: ftyp(24B) + moov + mdat; mdat payload starts at
    24 + len(moov) + 8, where len(moov) = MOOV_FIXED_OVERHEAD +
    4*len(sizes) + 4*len(sync) + len(codec-independent parts); the
    exact constant is pinned by tests against parse_mp4."""
    sizes = list(sizes)
    n = len(sizes)
    duration = n * sample_delta

    def moov_with(stco_off: int) -> bytes:
        mvhd = _full(b"mvhd", 0, 0, struct.pack(
            ">IIII", 0, 0, timescale, duration)
            + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
            + b"\x00" * 10 + _UNITY_MATRIX + b"\x00" * 24
            + struct.pack(">I", 2))
        tkhd = _full(b"tkhd", 0, 7, struct.pack(">IIIII", 0, 0, 1, 0,
                                                duration)
                     + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0, 0)
                     + _UNITY_MATRIX
                     + struct.pack(">II", width << 16, height << 16))
        mdhd = _full(b"mdhd", 0, 0, struct.pack(
            ">IIIIHH", 0, 0, timescale, duration, 0x55C4, 0))
        hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + b"vide"
                     + b"\x00" * 12 + b"fz\x00")
        entry = _box(codec.encode("ascii"),
                     b"\x00" * 6 + struct.pack(">H", 1)
                     + b"\x00" * 16
                     + struct.pack(">HH", width, height)
                     + struct.pack(">II", 0x00480000, 0x00480000)
                     + b"\x00" * 4 + struct.pack(">H", 1)
                     + b"\x00" * 32
                     + struct.pack(">Hh", 24, -1))
        stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
        stts = _full(b"stts", 0, 0,
                     struct.pack(">III", 1, n, sample_delta))
        stss = _full(b"stss", 0, 0, struct.pack(">I", len(sync))
                     + b"".join(struct.pack(">I", i + 1)
                                for i in sync))
        stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1, n, 1))
        stsz = _full(b"stsz", 0, 0, struct.pack(">II", 0, n)
                     + b"".join(struct.pack(">I", s) for s in sizes))
        stco = _full(b"stco", 0, 0,
                     struct.pack(">II", 1, stco_off))
        stbl = _box(b"stbl", stsd + stts + stss + stsc + stsz + stco)
        vmhd = _full(b"vmhd", 0, 1, struct.pack(">HHHH", 0, 0, 0, 0))
        dref = _full(b"dref", 0, 0, struct.pack(">I", 1)
                     + _full(b"url ", 0, 1, b""))
        dinf = _box(b"dinf", dref)
        minf = _box(b"minf", vmhd + dinf + stbl)
        mdia = _box(b"mdia", mdhd + hdlr + minf)
        trak = _box(b"trak", tkhd + mdia)
        return _box(b"moov", mvhd + trak)

    ftyp = _box(b"ftyp", b"isom" + struct.pack(">I", 0)
                + b"isommp42")
    moov0 = moov_with(0)
    mdat_payload_off = len(ftyp) + len(moov0) + 8
    moov = moov_with(mdat_payload_off)
    body = bytes(
        bytearray([(payload_byte + i) & 0xFF for s in sizes
                   for i in range(s)]))
    return ftyp + moov + _box(b"mdat", body)


_UNITY_MATRIX = struct.pack(">9I", 0x00010000, 0, 0, 0, 0x00010000,
                            0, 0, 0, 0x40000000)


# --------------------------------------------------------- Matroska


def _ebml_num(b: bytes, pos: int, strip: bool) -> tuple:
    """EBML varint at pos -> (value, n_bytes). strip=True removes the
    length-marker bit (sizes); strip=False keeps raw bytes (IDs)."""
    first = b[pos]
    n = 1
    mask = 0x80
    while n <= 8 and not (first & mask):
        mask >>= 1
        n += 1
    if n > 8:
        raise ValueError("bad ebml varint")
    v = first & (mask - 1) if strip else first
    for i in range(1, n):
        v = (v << 8) | b[pos + i]
    return v, n


def _ebml_children(b: bytes, pos: int, end: int):
    while pos < end:
        eid, n1 = _ebml_num(b, pos, strip=False)
        sz, n2 = _ebml_num(b, pos + n1, strip=True)
        body = pos + n1 + n2
        yield eid, body, min(body + sz, end)
        pos = body + sz


def parse_mkv(content) -> Optional[dict]:
    """EBML walk -> dict(codec, width, height, duration_ms, n_samples,
    keyframes=[(idx, offset, size), ...]) for the FIRST video track;
    keyframes are SimpleBlocks with the keyframe flag (0x80), offsets
    pointing at the frame payload (after the 4-byte block prelude).
    None for non-EBML bytes; truncated clusters keep the blocks seen
    so far."""
    b = bytes(content or b"")
    if len(b) < 8 or b[:4] != b"\x1aE\xdf\xa3":
        return None
    try:
        return _parse_mkv(b)
    except Exception:
        return None


_SEGMENT, _INFO, _TRACKS, _CLUSTER = (0x18538067, 0x1549A966,
                                      0x1654AE6B, 0x1F43B675)


def _parse_mkv(b: bytes) -> Optional[dict]:
    segment = None
    for eid, s, e in _ebml_children(b, 0, len(b)):
        if eid == _SEGMENT:
            segment = (s, e)
            break
    if segment is None:
        return None
    codec = None
    video_track = None
    width = height = None
    tscale = 1_000_000
    duration = None
    frames = []
    n_blocks = 0
    total_bytes = 0
    for eid, s, e in _ebml_children(b, *segment):
        if eid == _INFO:
            for e2, s2, e2e in _ebml_children(b, s, e):
                if e2 == 0x2AD7B1:
                    tscale = int.from_bytes(b[s2:e2e], "big")
                elif e2 == 0x4489:
                    raw = b[s2:e2e]
                    duration = struct.unpack(
                        ">f" if len(raw) == 4 else ">d", raw)[0]
        elif eid == _TRACKS:
            for e2, s2, e2e in _ebml_children(b, s, e):
                if e2 != 0xAE:
                    continue
                tnum = ttype = None
                tcodec = tw = th = None
                for e3, s3, e3e in _ebml_children(b, s2, e2e):
                    if e3 == 0xD7:
                        tnum = int.from_bytes(b[s3:e3e], "big")
                    elif e3 == 0x83:
                        ttype = int.from_bytes(b[s3:e3e], "big")
                    elif e3 == 0x86:
                        tcodec = b[s3:e3e].decode("ascii", "replace")
                    elif e3 == 0xE0:
                        for e4, s4, e4e in _ebml_children(b, s3, e3e):
                            if e4 == 0xB0:
                                tw = int.from_bytes(b[s4:e4e], "big")
                            elif e4 == 0xBA:
                                th = int.from_bytes(b[s4:e4e], "big")
                if ttype == 1 and video_track is None:
                    video_track, codec = tnum, tcodec
                    width, height = tw, th
        elif eid == _CLUSTER:
            for e2, s2, e2e in _ebml_children(b, s, e):
                if e2 == 0xA3:  # SimpleBlock: keyframe flag bit
                    tnum, nt = _ebml_num(b, s2, strip=True)
                    if video_track is not None \
                            and tnum != video_track:
                        continue
                    flags = b[s2 + nt + 2]
                    payload = s2 + nt + 3
                    idx = n_blocks
                    n_blocks += 1
                    total_bytes += e2e - payload
                    if flags & 0x80:
                        frames.append((idx, payload, e2e - payload))
                elif e2 == 0xA0:  # BlockGroup: keyframe iff no
                    blk = None     # ReferenceBlock child
                    has_ref = False
                    for e3, s3, e3e in _ebml_children(b, s2, e2e):
                        if e3 == 0xA1:
                            blk = (s3, e3e)
                        elif e3 == 0xFB:
                            has_ref = True
                    if blk is None:
                        continue
                    tnum, nt = _ebml_num(b, blk[0], strip=True)
                    if video_track is not None \
                            and tnum != video_track:
                        continue
                    payload = blk[0] + nt + 3
                    idx = n_blocks
                    n_blocks += 1
                    total_bytes += blk[1] - payload
                    if not has_ref:
                        frames.append(
                            (idx, payload, blk[1] - payload))
    if video_track is None:
        return None
    dur_ms = (int(duration * tscale / 1_000_000)
              if duration is not None else None)
    return {
        "container": "mkv", "codec": codec, "width": width,
        "height": height, "timescale": tscale, "duration_ms": dur_ms,
        "n_samples": n_blocks, "total_bytes": int(total_bytes),
        "keyframes": frames,
    }


def _ebml_id(v: int) -> bytes:
    n = (v.bit_length() + 7) // 8
    return v.to_bytes(n, "big")


def _ebml_size(v: int, width: int = 0) -> bytes:
    """EBML size varint; width forces a fixed byte length (the
    builders pin widths so every offset is a closed-form formula)."""
    if width == 0:
        width = 1
        while v >= (1 << (7 * width)) - 1:
            width += 1
    return ((1 << (7 * width)) | v).to_bytes(width, "big")


def _elem(eid: int, body: bytes, size_width: int = 0) -> bytes:
    return _ebml_id(eid) + _ebml_size(len(body), size_width) + body


def build_mkv(codec: str = "V_MPEG4/ISO/AVC", width: int = 320,
              height: int = 240, sizes: list = (100, 80, 120),
              sync: list = (0,), duration_ms: float = 120.0,
              payload_byte: int = 0xCD,
              use_block_groups: bool = False) -> bytes:
    """Deterministic single-video-track Matroska: one Cluster, one
    SimpleBlock per sample (keyframe flag on `sync` indices), sizes
    as given. Size varints are written at PINNED widths (segment and
    cluster 8 bytes, SimpleBlock 2 bytes), so every payload offset is
    a closed-form function of len(codec) and the size prefix sums —
    recomputed in SQL by the video_keyframes oracle.
    use_block_groups=True wraps each frame in a BlockGroup/Block
    instead, marking non-keyframes with a ReferenceBlock child (the
    other common Matroska form; keyframe = absence of the
    reference)."""
    head = _elem(0x1A45DFA3,
                 _elem(0x4286, b"\x01") + _elem(0x42F7, b"\x01")
                 + _elem(0x42F2, b"\x04") + _elem(0x42F3, b"\x08")
                 + _elem(0x4282, b"matroska") + _elem(0x4287, b"\x04")
                 + _elem(0x4285, b"\x02"))
    info = _elem(_INFO, _elem(0x2AD7B1, (1_000_000).to_bytes(3, "big"))
                 + _elem(0x4489, struct.pack(">d", duration_ms)))
    entry = _elem(0xAE, _elem(0xD7, b"\x01")
                  + _elem(0x73C5, b"\x01") + _elem(0x83, b"\x01")
                  + _elem(0x86, codec.encode("ascii"))
                  + _elem(0xE0, _elem(0xB0, width.to_bytes(2, "big"))
                          + _elem(0xBA, height.to_bytes(2, "big"))))
    tracks = _elem(_TRACKS, entry)
    blocks = b""
    for i, s in enumerate(sizes):
        key = i in set(sync)
        body = (b"\x81" + struct.pack(">h", i * 40)
                + bytes([0x80 if key and not use_block_groups
                         else 0x00])
                + bytes(bytearray([(payload_byte + j) & 0xFF
                                   for j in range(s)])))
        if use_block_groups:
            grp = _elem(0xA1, body, size_width=2)
            if not key:
                grp += _elem(0xFB, b"\xFF")  # ReferenceBlock: -1
            blocks += _elem(0xA0, grp, size_width=2)
        else:
            blocks += _elem(0xA3, body, size_width=2)
    cluster = (_ebml_id(_CLUSTER)
               + _ebml_size(len(_elem(0xE7, b"\x00")) + len(blocks), 8)
               + _elem(0xE7, b"\x00") + blocks)
    seg_body = info + tracks + cluster
    return (head + _ebml_id(_SEGMENT) + _ebml_size(len(seg_body), 8)
            + seg_body)


# ------------------------------------------------- Spark operator

VIDEO_KF_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("container", StringType()),
    StructField("codec", StringType()),
    StructField("width", IntegerType()),
    StructField("height", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("n_samples", IntegerType()),
    StructField("total_bytes", LongType()),
    StructField("keyframes", ArrayType(StructType([
        StructField("idx", IntegerType()),
        StructField("offset", LongType()),
        StructField("size", IntegerType()),
    ]))),
    StructField("parse_ok", IntegerType()),
    StructField("decode_ok", IntegerType()),
])


_KF_META = ("container", "codec", "width", "height", "duration_ms",
            "n_samples", "total_bytes")


def _fits(bits: int, *values) -> bool:
    """Every non-None value fits a signed `bits`-bit column."""
    lim = 1 << (bits - 1)
    return all(v is None or -lim <= v < lim for v in values)


def parse_video_container(content) -> Optional[dict]:
    """MP4 / MKV dispatch by magic. AVI stays on
    ops/multimodal.parse_avi (its MJPEG frames actually DECODE, so it
    lives on the richer path)."""
    b = bytes(content or b"")
    if len(b) >= 12 and b[4:8] == b"ftyp":
        return parse_mp4(b)
    if b[:4] == b"\x1aE\xdf\xa3":
        return parse_mkv(b)
    return None


def video_keyframes_df(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA video rows) -> VIDEO_KF_SCHEMA: container
    metadata + keyframe byte ranges for MP4/MKV. decode_ok is ALWAYS
    0 — coded-frame pixel decode is honestly absent (module
    docstring); parse_ok says whether the container walk succeeded.
    Repartitions by media_ref (giant-binary skew spread, same
    contract as decode_features_df)."""

    def rows(ref, content):
        meta = parse_video_container(content)
        if meta is not None:
            kf = [(int(a), int(o), int(s)) for a, o, s in meta["keyframes"]]
            # a corrupt stts count or stsz size can overflow the int
            # columns: that is a failed walk, not an Arrow error that
            # aborts the job
            if _fits(32, meta["width"], meta["height"], meta["n_samples"],
                     *(k[0] for k in kf), *(k[2] for k in kf)) and \
                    _fits(64, meta["duration_ms"], meta["total_bytes"],
                          *(k[1] for k in kf)):
                return [(ref, *(meta[k] for k in _KF_META), kf, 1, 0)]
        return [(ref, *(None,) * len(_KF_META), None, 0, 0)]

    return map_rows(
        media.filter(F.col("media_type") == "video")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism,
            "media_ref",
        )
        .select("media_ref", "content"),
        rows,
        VIDEO_KF_SCHEMA,
    )


# --------------------------------------- container-fingerprint dedup

# canonical codec families across container dialects: the same coded
# stream remuxed mp4<->mkv must collide
_CODEC_CANON = {
    "avc1": "h264", "avc3": "h264", "V_MPEG4/ISO/AVC": "h264",
    "hev1": "hevc", "hvc1": "hevc", "V_MPEGH/ISO/HEVC": "hevc",
    "vp09": "vp9", "V_VP9": "vp9",
    "av01": "av1", "V_AV1": "av1",
}


def video_container_dedup(media: DataFrame) -> DataFrame:
    """Dedup videos WITHOUT decoding a single coded frame: the
    container fingerprint is xxhash64 over (canonical codec family,
    sample count, total coded bytes, the exact keyframe-size vector) —
    a remux of the same coded stream into the other container
    (mp4 <-> mkv) carries identical sample geometry, so it collides;
    any re-ENCODE changes every coded size, so it does not. The MKV
    walk assumes unlaced SimpleBlocks (one frame per block): a laced
    remux counts blocks, not frames, and does not collide. This is the honest dedup
    operating point available at parse_ok-level (ops/mp4.py module
    docstring): no pixels, no codec libraries, pure Catalyst after
    the one container-walk MapInPandas.

    Returns (media_ref, group_size, keep, parse_ok): keep=1 marks
    the lexicographically-smallest media_ref per fingerprint group;
    unparsable containers are all kept (a parse failure is never
    evidence of duplication — same contract as phash_dedup_groups)."""
    from .cache import scoped_persist

    kf = video_keyframes_df(media)
    canon = F.coalesce(
        F.element_at(
            F.create_map(*[
                F.lit(x) for kv in _CODEC_CANON.items() for x in kv
            ]),
            F.col("codec"),
        ),
        F.col("codec"),
    )
    sizes = F.transform(F.col("keyframes"), lambda k: k["size"])
    parsed = kf.filter(F.col("parse_ok") == 1).select(
        "media_ref",
        F.xxhash64(canon, F.col("n_samples"),
                   F.col("total_bytes"), sizes)
        .alias("fingerprint"),
    )
    parsed = scoped_persist(parsed)
    groups = parsed.groupBy("fingerprint").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("media_ref").alias("_canon_ref"),
    )
    dec = parsed.join(groups, "fingerprint").select(
        "media_ref",
        "group_size",
        F.when(F.col("media_ref") == F.col("_canon_ref"), F.lit(1))
        .otherwise(F.lit(0)).alias("keep"),
        F.lit(1).alias("parse_ok"),
    )
    und = kf.filter(F.col("parse_ok") == 0).select(
        "media_ref",
        F.lit(1).cast("long").alias("group_size"),
        F.lit(1).alias("keep"),
        F.lit(0).alias("parse_ok"),
    )
    return dec.unionByName(und)


# ---------------------------------------------- MP4 audio (M4A) track


def parse_m4a(content) -> Optional[dict]:
    """MP4 AUDIO-track metadata (the real-world AAC container): the
    first `soun`-handler track's sample-entry fourcc (mp4a / alac /
    ...), channel count and 16.16 sample rate from the audio sample
    entry, mdhd timing, and the stts sample count — a real ISO
    14496-12 walk, header-only (AAC PCM decode stays honestly
    absent; see parse_adts). None when no parsable audio track."""
    b = bytes(content or b"")
    if len(b) < 16 or b[4:8] != b"ftyp":
        return None
    try:
        return _parse_m4a(b)
    except Exception:
        return None


def _parse_m4a(b: bytes) -> Optional[dict]:
    top = {t: (s, e) for t, s, e in _boxes(b, 0, len(b))}
    if b"moov" not in top:
        return None
    for typ, ts, te in _boxes(b, *top[b"moov"]):
        if typ != b"trak":
            continue
        stbl = mdhd = None
        is_audio = False
        for t1, s1, e1 in _boxes(b, ts, te):
            if t1 != b"mdia":
                continue
            for t2, s2, e2 in _boxes(b, s1, e1):
                if t2 == b"mdhd":
                    mdhd = (s2, e2)
                elif t2 == b"hdlr":
                    if b[s2 + 8:s2 + 12] == b"soun":
                        is_audio = True
                elif t2 == b"minf":
                    for t3, s3, e3 in _boxes(b, s2, e2):
                        if t3 == b"stbl":
                            stbl = (s3, e3)
        if not is_audio or stbl is None or mdhd is None:
            continue
        s, _e = mdhd
        ver, _ = _fullbox(b, s)
        if ver == 1:
            timescale = int.from_bytes(b[s + 20:s + 24], "big")
            duration = int.from_bytes(b[s + 24:s + 32], "big")
        else:
            timescale = int.from_bytes(b[s + 12:s + 16], "big")
            duration = int.from_bytes(b[s + 16:s + 20], "big")
        codec = None
        channels = rate = None
        n_samples = 0
        for typ2, s2, e2 in _boxes(b, *stbl):
            body = s2 + 4
            if typ2 == b"stsd":
                n = int.from_bytes(b[body:body + 4], "big")
                if n >= 1 and body + 12 <= e2:
                    codec = b[body + 8:body + 12].decode(
                        "ascii", "replace")
                    # audio sample entry: 8-byte box header, 6
                    # reserved + 2 data_ref, 8 reserved, then
                    # channelcount(2) samplesize(2) predef(2)
                    # reserved(2) samplerate(16.16)
                    ent = body + 4 + 8
                    if ent + 28 <= e2:
                        channels = int.from_bytes(
                            b[ent + 16:ent + 18], "big")
                        rate = int.from_bytes(
                            b[ent + 24:ent + 28], "big") >> 16
            elif typ2 == b"stts":
                n = min(int.from_bytes(b[body:body + 4], "big"),
                        max(0, e2 - body - 4) // 8)
                p = body + 4
                for _ in range(n):
                    n_samples += int.from_bytes(b[p:p + 4], "big")
                    p += 8
        if codec is None:
            continue
        dur_ms = (duration * 1000) // timescale if timescale else None
        return {
            "codec": codec,
            "channels": channels,
            "sample_rate": rate,
            "n_samples": n_samples,
            "duration_ms": dur_ms,
        }
    return None


def build_m4a(codec: str = "mp4a", sample_rate: int = 44100,
              channels: int = 2, n_samples: int = 100,
              sample_delta: int = 1024) -> bytes:
    """Deterministic audio-only MP4 (no media payload needed for the
    header walk: stsz/stco describe an empty mdat legally)."""
    duration = n_samples * sample_delta

    mvhd = _full(b"mvhd", 0, 0, struct.pack(
        ">IIII", 0, 0, sample_rate, duration)
        + struct.pack(">I", 0x00010000) + struct.pack(">H", 0x0100)
        + b"\x00" * 10 + _UNITY_MATRIX + b"\x00" * 24
        + struct.pack(">I", 2))
    tkhd = _full(b"tkhd", 0, 7, struct.pack(">IIIII", 0, 0, 1, 0,
                                            duration)
                 + b"\x00" * 8 + struct.pack(">HHHH", 0, 0, 0x0100, 0)
                 + _UNITY_MATRIX + struct.pack(">II", 0, 0))
    mdhd = _full(b"mdhd", 0, 0, struct.pack(
        ">IIIIHH", 0, 0, sample_rate, duration, 0x55C4, 0))
    hdlr = _full(b"hdlr", 0, 0, b"\x00" * 4 + b"soun"
                 + b"\x00" * 12 + b"fz\x00")
    entry = _box(codec.encode("ascii"),
                 b"\x00" * 6 + struct.pack(">H", 1)
                 + b"\x00" * 8
                 + struct.pack(">HHHH", channels, 16, 0, 0)
                 + struct.pack(">I", sample_rate << 16))
    stsd = _full(b"stsd", 0, 0, struct.pack(">I", 1) + entry)
    stts = _full(b"stts", 0, 0,
                 struct.pack(">III", 1, n_samples, sample_delta))
    stsc = _full(b"stsc", 0, 0, struct.pack(">IIII", 1, 1,
                                            max(1, n_samples), 1))
    stsz = _full(b"stsz", 0, 0,
                 struct.pack(">II", 0, 0))
    stco = _full(b"stco", 0, 0, struct.pack(">I", 0))
    smhd = _full(b"smhd", 0, 0, struct.pack(">HH", 0, 0))
    dref = _full(b"dref", 0, 0, struct.pack(">I", 1)
                 + _full(b"url ", 0, 1, b""))
    stbl = _box(b"stbl", stsd + stts + stsc + stsz + stco)
    minf = _box(b"minf", smhd + _box(b"dinf", dref) + stbl)
    mdia = _box(b"mdia", mdhd + hdlr + minf)
    trak = _box(b"trak", tkhd + mdia)
    moov = _box(b"moov", mvhd + trak)
    ftyp = _box(b"ftyp", b"M4A " + struct.pack(">I", 0) + b"isomM4A ")
    return ftyp + moov + _box(b"mdat", b"")


M4A_SCHEMA = StructType([
    StructField("media_ref", StringType()),
    StructField("codec", StringType()),
    StructField("channels", IntegerType()),
    StructField("sample_rate", IntegerType()),
    StructField("n_samples", IntegerType()),
    StructField("duration_ms", LongType()),
    StructField("decode_ok", IntegerType()),
])


_M4A_META = M4A_SCHEMA.fieldNames()[1:-1]


def m4a_meta_df(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA audio rows) -> M4A_SCHEMA; one narrow
    map_rows header walk, decode_ok pinned 0 (AAC/ALAC PCM decode
    honestly absent)."""

    def rows(ref, content):
        meta = parse_m4a(content)
        # the same int32 overflow guard as video_keyframes_df
        if meta is None or not _fits(
            32, meta["channels"], meta["sample_rate"], meta["n_samples"]
        ):
            return [(ref, *(None,) * len(_M4A_META), 0)]
        return [(ref, *(meta[k] for k in _M4A_META), 0)]

    return map_rows(
        media.filter(F.col("media_type") == "audio")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism,
            "media_ref",
        )
        .select("media_ref", "content"),
        rows,
        M4A_SCHEMA,
    )
