"""Perceptual image hashing (pHash) and image-level deduplication.

The LAION-style image dedup pass for multimodal training corpora: a
64-bit DCT perceptual hash per image, exact dedup by hash equality,
near-dup pairs by hamming distance. Built on the repo's REAL pixel
decoders (ops/multimodal.py PNG/GIF + ops/jpeg.py baseline JPEG) — the
hash is a function of actual pixels, so recompressed / re-encoded
copies of the same picture collide while different pictures don't.

Algorithm (the classic pHash construction):
1. decode → grayscale luma → mean-pool to 32×32 (the shared
   _block_pool contract, so any input size normalizes identically);
2. 2-D orthonormal DCT-II (exact float64 matrix, same transform family
   as ops/jpeg.py);
3. keep the top-left 8×8 low-frequency block, DROP the DC term, and
   threshold the remaining 63 coefficients at their median — bit k is
   1 iff coefficient k exceeds the median (bit 63, the DC slot, is
   always 0). Median-thresholding makes the hash invariant to global
   brightness/contrast scaling; dropping DC makes it invariant to
   brightness offsets.

Spark shapes:
- phash_df: one narrow mapInPandas over the media table (the same
  repartition-by-media_ref skew spread as decode_features_df) — no
  shuffle beyond the explicit spread, hash computed once per image.
- phash_dedup_groups: exact dedup = ONE map-side-combinable groupBy on
  the 8-byte hash — the cheapest possible shuffle key at 10^12 images.
- phash_near_dups: hamming ≤ k pairs WITHOUT the all-pairs join — the
  same pigeonhole chunk join as ops/dedup.simhash_near_dups (split the
  64-bit hash into k+1 chunks; any pair within hamming k shares at
  least one exact chunk, which becomes the equi-join key). Bucket
  sizes bound the join fan-out exactly as in the text simhash case.

Determinism / operating point: the hash is bit-reproducible for a
given pixel array within one BLAS environment; across environments the
float DCT can flip bits whose coefficients sit within rounding jitter
of the median (measured: 0 on every corpus in this repo — the up-to-8-
bit drift an earlier round attributed to BLAS jitter was actually the
float64 hash-transport bug since fixed, see udfs._frame). Exact-
equality dedup (phash_dedup_groups) targets byte-identical or
losslessly re-encoded copies computed within one job — the
planted-oracle design; hamming thresholds for near-dups are operating
points to be tuned per corpus (RECALL_phash_r4.json), like the text
simhash threshold.

Reference parity note: the reference (kylehughes/Fuzi) has no media
surface — this is pipeline-brief scope (multimodal training-data
preparation at 100 TB).
"""

from __future__ import annotations

from typing import Iterator, Optional

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from fuzi_spark.ops.cache import scoped_persist
from fuzi_spark.ops.multimodal import (
    _block_pool,
    _gray,
    decode_image_pixels,
)
from fuzi_spark.udfs import row_mapper


def _dct_matrix(n: int) -> np.ndarray:
    x = np.arange(n, dtype=np.float64)
    u = x.reshape(-1, 1)
    c = np.cos((2 * x + 1) * u * np.pi / (2 * n)) * np.sqrt(2.0 / n)
    c[0, :] = np.sqrt(1.0 / n)
    return c


_C32 = _dct_matrix(32)


def phash_from_pixels(arr: np.ndarray) -> int:
    """64-bit pHash of an (h, w, c) uint8 pixel array. Bit k (0..62,
    LSB-first over the 8×8 low-frequency block in row-major order,
    skipping the DC slot which is always 0) = coefficient > median."""
    g = _block_pool(_gray(arr), 32)
    coef = (_C32 @ g @ _C32.T)[:8, :8].ravel()
    ac = coef[1:]  # drop DC
    med = np.median(ac)
    bits = ac > med
    h = 0
    for k in range(63):
        if bits[k]:
            h |= 1 << k
    return h


def phash_bytes(content, fmt: Optional[str] = None) -> Optional[int]:
    """pHash of encoded image bytes via the real stdlib decoders;
    None when pixels are unavailable (out-of-envelope or corrupt)."""
    arr = decode_image_pixels(content, fmt)
    if arr is None:
        return None
    return phash_from_pixels(arr)


PHASH_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("width", IntegerType()),
        StructField("height", IntegerType()),
        StructField("phash", LongType()),
        StructField("decode_ok", IntegerType()),
    ]
)


def _phash_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    # content-addressed memo, bounded per task (same rationale as the
    # video frame memo below): byte-identical images are EXACTLY the
    # dedup workload — the same logo/spacer/avatar bytes recur across
    # thousands of pages — so the decode+DCT runs once per DISTINCT
    # content, not once per occurrence. Cap keeps executor memory flat.
    memo: dict = {}
    MEMO_CAP = 4096

    def decode_memo(content):
        key = bytes(content)
        if key in memo:
            return memo[key]
        arr = decode_image_pixels(key)
        if arr is None:
            got = None
        else:
            h, w = arr.shape[:2]
            # store phash as signed 64-bit (bit 63 is always 0 by
            # construction, so no sign wrap in practice)
            got = (
                int(w),
                int(h),
                int(np.int64(np.uint64(phash_from_pixels(arr)))),
            )
        if len(memo) >= MEMO_CAP:
            memo.clear()
        memo[key] = got
        return got

    def rows(ref, content):
        got = decode_memo(content)
        if got is None:
            return [(ref, None, None, None, 0)]
        return [(ref, *got, 1)]

    return row_mapper(rows, PHASH_SCHEMA)(batches)


def phash_df(media: DataFrame) -> DataFrame:
    """media(MEDIA_SCHEMA image rows) → PHASH_SCHEMA. Repartitions by
    media_ref hash first (giant-binary skew spread, same contract as
    decode_features_df).

    Picker note (measured, RECALL_phash_r4.json): the single-hash
    index is 1.0-recall on recompression / brightness / noise / gamma
    at zero false positives, but CROPS collapse it (0.225 recall at
    trim depth <= 4). When crops matter, use `phash_multi_df` +
    `phash_near_dups_trimmed` (or `image_near_dups(trims=...)`):
    len(trims)x the hash rows and join keys buy 1.0 measured crop
    recall. Cost scales linearly in len(trims); recall floors are
    pinned in tests."""
    return (
        media.filter(F.col("media_type") == "image")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism,
            "media_ref",
        )
        .select("media_ref", "content")
        .mapInPandas(_phash_fn, schema=PHASH_SCHEMA)
    )


MULTI_PHASH_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("trim", IntegerType()),
        StructField("phash", LongType()),
        StructField("decode_ok", IntegerType()),
    ]
)


def _multi_phash_fn(trims):
    tt = tuple(int(t) for t in trims)

    def fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        memo: dict = {}
        MEMO_CAP = 4096

        def hashes_memo(content):
            key = bytes(content)
            if key in memo:
                return memo[key]
            arr = decode_image_pixels(key)
            if arr is None:
                got = None
            else:
                got = []
                h, w = arr.shape[:2]
                for t in tt:
                    if h - 2 * t < 1 or w - 2 * t < 1:
                        continue
                    sub = arr[t:h - t, t:w - t] if t else arr
                    got.append(
                        (
                            t,
                            int(
                                np.int64(
                                    np.uint64(phash_from_pixels(sub))
                                )
                            ),
                        )
                    )
            if len(memo) >= MEMO_CAP:
                memo.clear()
            memo[key] = got
            return got

        def rows(ref, content):
            got = hashes_memo(content)
            if not got:
                return [(ref, None, None, 0)]
            return [(ref, t, hsh, 1) for t, hsh in got]

        return row_mapper(rows, MULTI_PHASH_SCHEMA)(batches)

    return fn


def phash_multi_df(media: DataFrame, trims=(0, 2, 4)) -> DataFrame:
    """Multi-anchor pHash rows: one hash per symmetric border trim in
    `trims` (pixels removed from EVERY side), per image — the
    crop-robust indexing for phash_near_dups_trimmed. The measured
    gap this closes: RECALL_phash_r4 shows plain pHash recalls a
    2-px symmetric crop at only 0.45 @ hamming<=6 (global-DCT phase
    shifts under cropping); a crop variant's FULL frame aligns
    EXACTLY with the original's same-trim center, so indexing t-px
    trims recovers symmetric crops up to max(trims) px at the
    near-exact distance. K hashes per image → K× index rows, same
    pigeonhole join; arbitrary ASYMMETRIC crops stay out of scope
    (documented — that needs keypoint signals, not block DCTs)."""
    return (
        media.filter(F.col("media_type") == "image")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism,
            "media_ref",
        )
        .select("media_ref", "content")
        .mapInPandas(_multi_phash_fn(trims), schema=MULTI_PHASH_SCHEMA)
    )


def phash_near_dups_trimmed(
    hashed_multi: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate pairs over multi-trim hash rows: the pigeonhole
    join runs over ALL (ref, trim) hash rows (a pair is a candidate
    iff ANY of its trim-hash combinations collides), then the pair
    collapses to its MINIMUM hamming across combinations. Same
    zero-false-negative-at-max_hamming guarantee as phash_near_dups,
    now over the min-distance across anchors."""
    pairs = phash_near_dups(hashed_multi, max_hamming=max_hamming)
    return pairs.groupBy("ref_a", "ref_b").agg(
        F.min("hamming").alias("hamming")
    )


def image_near_dups(
    media: DataFrame, max_hamming: int = 6, trims=None
) -> DataFrame:
    """The one-call image near-dup entry point with the cost/recall
    knob explicit: `trims=None` (default) is the single-hash index —
    cheapest, 1.0 measured recall on recompress/brightness/noise/
    gamma, BLIND to crops; `trims=(0, 2, 4)` (or any depths) is the
    multi-trim index — len(trims)x hash rows, 1.0 measured recall on
    symmetric crops too (RECALL_phash_r4.json). Returns (ref_a,
    ref_b, hamming) pairs either way, so pipelines can flip the knob
    without rewiring."""
    if trims is None:
        return phash_near_dups(phash_df(media), max_hamming=max_hamming)
    return phash_near_dups_trimmed(
        phash_multi_df(media, trims=trims), max_hamming=max_hamming
    )


def phash_dedup_groups(hashed: DataFrame) -> DataFrame:
    """Exact perceptual dedup: (media_ref, phash, group_size, keep)
    where keep=1 marks the lexicographically-smallest media_ref of each
    hash group (the canonical copy). One map-side-combinable shuffle on
    the 8-byte hash; undecodable rows (phash NULL) are all kept — a
    decode failure is never evidence of duplication."""
    # the hash table feeds BOTH the group agg and the join-back; persist
    # it so the decode/DCT UDF upstream runs once, not once per side
    # (released by the caller's cache_scope; prod writes it to a table)
    hashed = scoped_persist(hashed)
    w = (
        hashed.filter(F.col("phash").isNotNull())
        .groupBy("phash")
        .agg(
            F.count(F.lit(1)).alias("group_size"),
            F.min("media_ref").alias("_canon"),
        )
    )
    dec = hashed.filter(F.col("phash").isNotNull()).join(w, "phash")
    out = dec.select(
        "media_ref",
        "phash",
        "group_size",
        F.when(F.col("media_ref") == F.col("_canon"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("keep"),
    )
    und = hashed.filter(F.col("phash").isNull()).select(
        "media_ref",
        "phash",
        F.lit(1).cast("long").alias("group_size"),
        F.lit(1).alias("keep"),
    )
    return out.unionByName(und)


def phash_near_dups(
    hashed: DataFrame, max_hamming: int = 6
) -> DataFrame:
    """Near-duplicate image pairs (ref_a, ref_b, hamming ≤ max_hamming)
    by the pigeonhole chunk join (see module docstring / ops/dedup.py
    simhash_near_dups — the identical scale shape over a different
    signal). 64 bits into max_hamming+1 chunks."""
    chunks = max_hamming + 1
    bits = 64 // chunks
    base = hashed.filter(F.col("phash").isNotNull()).select(
        "media_ref", "phash"
    )
    keyed = base.select(
        "media_ref",
        "phash",
        F.explode(
            F.array(
                *[
                    F.struct(
                        F.lit(i).alias("chunk"),
                        F.shiftrightunsigned(F.col("phash"), i * bits)
                        .bitwiseAND(F.lit((1 << bits) - 1))
                        .alias("key"),
                    )
                    for i in range(chunks)
                ]
            )
        ).alias("ck"),
    ).select(
        "media_ref",
        "phash",
        F.col("ck.chunk").alias("chunk"),
        F.col("ck.key").alias("key"),
    )
    keyed = scoped_persist(keyed)
    left, right = keyed.alias("l"), keyed.alias("r")
    return (
        left.join(
            right,
            (F.col("l.chunk") == F.col("r.chunk"))
            & (F.col("l.key") == F.col("r.key"))
            & (F.col("l.media_ref") < F.col("r.media_ref")),
        )
        .select(
            F.col("l.media_ref").alias("ref_a"),
            F.col("r.media_ref").alias("ref_b"),
            F.bit_count(
                F.col("l.phash").bitwiseXOR(F.col("r.phash"))
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ------------------------------------------------ video-level pHash

VIDEO_PHASH_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("n_frames_total", IntegerType()),
        StructField("n_sampled", IntegerType()),
        StructField("phash", LongType()),
        StructField("decode_ok", IntegerType()),
    ]
)


def video_phash_from_frame_hashes(hashes) -> int:
    """Per-bit STRICT-majority vote over the sampled frames' pHashes —
    the video-level perceptual fingerprint. Strict majority (ties → 0)
    keeps the vote deterministic and total; a single-frame video's
    fingerprint IS its frame hash; bit 63 stays 0 because every input
    has it 0 (pHash drops DC into that slot)."""
    H = np.asarray(hashes, dtype=np.uint64)
    bits = (H[:, None] >> np.arange(64, dtype=np.uint64)[None, :]) & 1
    votes = bits.sum(axis=0)
    out = np.uint64(0)
    for b in np.nonzero(2 * votes > len(H))[0]:
        out |= np.uint64(1) << np.uint64(b)
    return int(np.int64(out))


def _video_phash_fn(n_frames: int):
    from fuzi_spark.ops.multimodal import parse_avi

    # content-addressed frame-hash memo, bounded per task: duplicated
    # media is EXACTLY the dedup workload (the same logo/intro frame
    # appears across thousands of clips), so paying the JPEG decode
    # once per distinct frame instead of once per occurrence is the
    # honest hot-path shape — and the bound keeps executor memory flat.
    memo: dict = {}
    MEMO_CAP = 8192

    def frame_hash(fb: bytes):
        got = memo.get(fb)
        if got is None and fb not in memo:
            arr = decode_image_pixels(fb, "jpeg")
            got = None if arr is None else np.uint64(phash_from_pixels(arr))
            if len(memo) >= MEMO_CAP:
                memo.clear()
            memo[fb] = got
        return got

    def rows(ref, content):
        parsed = parse_avi(content)
        frames = parsed[3] if parsed else []
        if not frames:
            return [(ref, None, None, None, 0)]
        blob = bytes(content)
        total = len(frames)
        n_s = min(n_frames, total)
        hashes = []
        for k in range(n_s):
            off, sz = frames[(k * total) // n_s]
            h = frame_hash(blob[off:off + sz])
            if h is not None:
                hashes.append(h)
        if not hashes:
            return [(ref, total, 0, None, 0)]
        return [(ref, total, len(hashes), video_phash_from_frame_hashes(hashes), 1)]

    return row_mapper(rows, VIDEO_PHASH_SCHEMA)


def video_phash_df(media: DataFrame, n_frames: int = 4) -> DataFrame:
    """media(MEDIA_SCHEMA video rows) → VIDEO_PHASH_SCHEMA: evenly
    sample up to `n_frames` MJPEG frames per video (index (k·total)//n,
    the same grid as make_frame_sample_fn), pHash each through the REAL
    baseline-JPEG pixel decode, and majority-vote the bits into one
    64-bit video fingerprint. ONE narrow mapInPandas pass with the
    usual giant-binary repartition spread; only sampled frames are
    decoded, so per-video work is bounded by n_frames regardless of
    clip length. Dedup composes downstream: phash_dedup_groups /
    phash_near_dups are generic over (media_ref, phash), so video
    exact-dedup is the same map-side-combinable 8-byte-key shuffle and
    video near-dups the same pigeonhole chunk join as images."""
    return (
        media.filter(F.col("media_type") == "video")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism,
            "media_ref",
        )
        .select("media_ref", "content")
        .mapInPandas(_video_phash_fn(n_frames), schema=VIDEO_PHASH_SCHEMA)
    )


# ------------------------------------------- scene-change detection

SCENES_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("frame_idx", IntegerType()),
        StructField("ts_ms", IntegerType()),
        StructField("hamming_prev", IntegerType()),
        StructField("is_scene_start", IntegerType()),
    ]
)


def _video_scenes_fn(threshold: int):
    from fuzi_spark.ops.multimodal import parse_avi

    memo: dict = {}
    MEMO_CAP = 8192

    def frame_hash(fb: bytes):
        got = memo.get(fb)
        if got is None and fb not in memo:
            arr = decode_image_pixels(fb, "jpeg")
            got = None if arr is None else int(phash_from_pixels(arr))
            if len(memo) >= MEMO_CAP:
                memo.clear()
            memo[fb] = got
        return got

    def rows(ref, content):
        parsed = parse_avi(content)
        if not parsed or not parsed[3]:
            return []
        _, _, uspf, frames = parsed
        blob = bytes(content)
        out = []
        prev = None
        for idx, (off, sz) in enumerate(frames):
            h = frame_hash(blob[off:off + sz])
            if h is None:
                continue
            ham = None if prev is None else bin(h ^ prev).count("1")
            out.append((
                ref, idx, int(idx * uspf // 1000), ham,
                1 if (ham is None or ham > threshold) else 0,
            ))
            prev = h
        return out

    return row_mapper(rows, SCENES_SCHEMA)


def video_scenes_df(media: DataFrame, threshold: int = 12) -> DataFrame:
    """Scene-change detection over MJPEG video: every frame's pHash is
    compared to its PREDECESSOR's; a frame whose hamming distance
    exceeds `threshold` starts a new scene (frame 0 always does). The
    scene starts are the keyframes a multimodal training pipeline
    samples — one representative per visually-distinct segment instead
    of a blind every-N grid (make_frame_sample_fn), so a static talking
    head contributes one frame while a cut-heavy clip contributes one
    per cut.

    Every frame decodes exactly once (sequential walk + the bounded
    content-addressed memo for repeated frames); ONE narrow mapInPandas
    pass, no shuffle. Threshold semantics inherit the pHash operating
    points measured in TestPhash (recompression jitter ≤6 bits on
    natural spectra — the default 12 sits above codec noise and below
    the ≥20-bit separation of distinct pictures)."""
    return (
        media.filter(F.col("media_type") == "video")
        .repartition(
            media.sparkSession.sparkContext.defaultParallelism, "media_ref"
        )
        .select("media_ref", "content")
        .mapInPandas(_video_scenes_fn(threshold), schema=SCENES_SCHEMA)
    )
