"""Perceptual audio fingerprinting (spectral-peak landmarks) and
audio-level deduplication.

The audio analogue of ops/phash.py for multimodal training corpora:
a constellation fingerprint in the Shazam family (Wang, ISMIR 2003 —
"An Industrial-Strength Audio Search Algorithm"), built on the repo's
REAL WAV decode + STFT (ops/multimodal.py parse_wav /
decode_wav_spectrogram's window contract). The fingerprint is a
function of WHERE the spectral energy peaks over time, not of the
sample bytes — so level-scaled (re-mastered / volume-normalized)
copies of the same audio collide while different audio doesn't.

Algorithm:
1. decode PCM → mono mix → non-overlapping n_fft windows, periodic
   Hann, rfft — the EXACT window contract of decode_wav_spectrogram
   (one shared STFT definition across the audio surface);
2. per window, the landmark peak = argmax magnitude over bins >= 1
   (DC excluded — a constant offset can never be a "tone");
3. hash every (anchor, target) peak pair within a bounded time fanout:
   h = peak[t] << 16 | peak[t+dt] << 8 | dt, dt in 1..fanout. Peak
   bins < 2^8 by construction (n_fft <= 512), dt < 2^8 — the packed
   hash is collision-free over its fields.
4. the clip fingerprint is the SET of distinct landmark hashes.

Amplitude invariance is structural: argmax is scale-invariant, so two
copies differing only in gain produce identical hash sets (pinned in
tests and exercised by the oracle query, which plants gain-varied
copies). This is what "perceptual" buys over exact_dedup on bytes.

Spark shapes (the 10^12-clip contract):
- audio_fingerprint_df: one narrow map_rows pass over the media table
  with the decode_features_df repartition-by-media_ref skew spread; the
  STFT batches all of a clip's windows in one vectorized rfft call.
- audio_dedup_groups: exact perceptual dedup = ONE map-side-combinable
  groupBy on a 32-byte digest of the sorted hash set (the
  phash_dedup_groups shape — the digest, not the variable-length set,
  is the shuffle key).
- audio_near_dups: shared-landmark candidate pairs WITHOUT the
  all-pairs join — explode the hash sets and equi-join on the hash
  (the minhash-LSH band-join shape, ops/dedup.py); hot hashes (a peak
  pair that half the corpus shares) are dropped by a bounded
  doc-frequency gate before the join, exactly like the LSH bucket
  bound, so join fan-out is capped at max_bucket^2 per hash.

Reference parity note: the reference (kylehughes/Fuzi) has no audio
surface — pipeline-brief scope (multimodal curation at 100 TB).
"""

from __future__ import annotations

from typing import Optional

import numpy as np
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
from .cache import scoped_persist
from .multimodal import parse_audio

FINGERPRINT_SCHEMA = StructType(
    [
        StructField("media_ref", StringType()),
        StructField("sample_rate", IntegerType()),
        StructField("n_windows", IntegerType()),
        StructField("n_hashes", IntegerType()),
        StructField("hashes", ArrayType(LongType())),
        StructField("decode_ok", IntegerType()),
    ]
)


def audio_landmarks(
    content, n_fft: int = 256, fanout: int = 3
) -> Optional[tuple]:
    """(sample_rate, n_windows, sorted_distinct_hashes) or None for
    non-PCM-WAV bytes. One vectorized rfft over all windows; the
    landmark pairing is a numpy broadcast, never a per-sample loop."""
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
    mags = np.abs(np.fft.rfft(frames * hann, axis=1))
    # per-window landmark peak, DC excluded (argmax over bins >= 1)
    peaks = mags[:, 1:].argmax(axis=1).astype(np.int64) + 1
    hashes = []
    for dt in range(1, int(fanout) + 1):
        if dt >= n_windows:
            break
        h = (peaks[:-dt] << 16) | (peaks[dt:] << 8) | dt
        hashes.append(h)
    if hashes:
        all_h = np.unique(np.concatenate(hashes))
    else:
        # single-window clip: its lone peak is still a (self, 0) mark
        all_h = np.unique(peaks << 16)
    return rate, int(n_windows), all_h.tolist()


def audio_fingerprint_df(
    media: DataFrame, n_fft: int = 256, fanout: int = 3
) -> DataFrame:
    """media(media_ref, content) → FINGERPRINT_SCHEMA, partition-
    parallel; non-WAV/FLAC bytes yield decode_ok=0 with NULL analysis
    columns — never a fake fingerprint."""

    def rows(ref, content):
        fp = audio_landmarks(content, n_fft=n_fft, fanout=fanout)
        if fp is None:
            return [(ref, None, None, None, None, 0)]
        rate, nw, hashes = fp
        return [(ref, rate, nw, len(hashes), hashes, 1)]

    return map_rows(
        media.select("media_ref", "content").repartition(
            media.sparkSession.sparkContext.defaultParallelism, "media_ref"
        ),
        rows,
        FINGERPRINT_SCHEMA,
    )


def audio_dedup_groups(fp: DataFrame) -> DataFrame:
    """Exact perceptual dedup: (media_ref, n_windows, group_size, keep)
    where keep=1 marks the lexicographically-smallest media_ref of each
    fingerprint group. The group key is sha2 of the sorted hash set
    (hashes are emitted sorted by audio_landmarks), so the shuffle key
    is 32 bytes regardless of clip length — the phash_dedup_groups
    shape. Undecodable rows (decode_ok=0) are all kept: a decode
    failure is never evidence of duplication."""
    fp = scoped_persist(fp)
    dec = fp.filter(F.col("decode_ok") == 1).withColumn(
        "_fpkey",
        F.sha2(
            F.concat_ws(
                ",", F.transform(F.col("hashes"), lambda h: h.cast("string"))
            ),
            256,
        ),
    )
    w = dec.groupBy("_fpkey").agg(
        F.count(F.lit(1)).alias("group_size"),
        F.min("media_ref").alias("_canon"),
    )
    out = dec.join(w, "_fpkey").select(
        "media_ref",
        "n_windows",
        "group_size",
        F.when(F.col("media_ref") == F.col("_canon"), F.lit(1))
        .otherwise(F.lit(0))
        .alias("keep"),
    )
    und = fp.filter(F.col("decode_ok") != 1).select(
        "media_ref",
        "n_windows",
        F.lit(1).cast("long").alias("group_size"),
        F.lit(1).alias("keep"),
    )
    return out.unionByName(und)


def audio_near_dups(
    fp: DataFrame, min_shared: int = 4, max_bucket: int = 64
) -> DataFrame:
    """Candidate near-duplicate pairs (ref_a, ref_b, n_shared) sharing
    >= min_shared landmark hashes — partial-overlap copies (clipped /
    re-segmented audio) that exact set equality misses.

    Scale shape: explode → drop hashes appearing in > max_bucket clips
    (a corpus-common peak pair carries no discriminating signal — the
    LSH hot-bucket argument, ops/dedup.py) → self-equi-join per hash →
    pair-count aggregation. Join fan-out is bounded by max_bucket^2
    per hash; the pair count agg combines map-side."""
    from pyspark.sql import Window

    keyed = (
        fp.filter(F.col("decode_ok") == 1)
        .select("media_ref", F.explode("hashes").alias("h"))
    )
    # doc-frequency gate as a window count, NOT a broadcast of the
    # (corpus-sized) distinct-hash table: one shuffle on h, whose
    # partitioning the self-join below then reuses
    keyed = (
        keyed.withColumn(
            "_df", F.count(F.lit(1)).over(Window.partitionBy("h"))
        )
        .filter(F.col("_df") <= F.lit(int(max_bucket)))
        .drop("_df")
    )
    keyed = scoped_persist(keyed)
    left, right = keyed.alias("l"), keyed.alias("r")
    return (
        left.join(
            right,
            (F.col("l.h") == F.col("r.h"))
            & (F.col("l.media_ref") < F.col("r.media_ref")),
        )
        .groupBy(
            F.col("l.media_ref").alias("ref_a"),
            F.col("r.media_ref").alias("ref_b"),
        )
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .filter(F.col("n_shared") >= F.lit(int(min_shared)))
    )
