"""Subtitle / caption parsing (SubRip .srt and WebVTT .vtt).

The video-text alignment source format: subtitle cues carry the only
time-anchored text most video corpora have, so (start_ms, end_ms, text)
rows are what pairs a transcript span with the frames sampled by
avi_frames_df / make_frame_sample_fn (join on timestamp containment).

Both parsers are RECOVERING, same philosophy as the WARC/PDF parsers:
a malformed cue (bad timestamp, missing arrow, truncation) is skipped
and parsing re-syncs at the next blank-line boundary — one hostile cue
never loses the rest of the file, and nothing ever raises.

Dialect coverage, deliberately bounded:
- SRT: numeric cue index (optional — some files omit it), the
  `HH:MM:SS,mmm --> HH:MM:SS,mmm` arrow line (position settings after
  the arrow tolerated), multi-line payloads, blank-line separation,
  CRLF or LF, BOM.
- WebVTT: the WEBVTT magic (with optional trailing header text),
  NOTE / STYLE / REGION blocks skipped, optional cue identifiers,
  `.mmm` decimals and the MM:SS.mmm short form, cue settings after the
  arrow dropped, inline markup (<v Speaker>, <i>, <c.class>, timestamps
  <00:00:01.000>) stripped from payload text.
"""

from __future__ import annotations

import re
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..udfs import map_rows

_TS = re.compile(
    r"(?:(\d{1,2}):)?(\d{1,2}):(\d{1,2})[.,](\d{1,3})"
)
_ARROW = re.compile(
    r"(?:(?:\d{1,2}:)?\d{1,2}:\d{1,2}[.,]\d{1,3})\s*-->\s*"
    r"(?:(?:\d{1,2}:)?\d{1,2}:\d{1,2}[.,]\d{1,3})"
)
_VTT_TAG = re.compile(r"<[^>\n]*>")


def _parse_ts(s: str) -> Optional[int]:
    m = _TS.match(s.strip())
    if not m:
        return None
    h = int(m.group(1)) if m.group(1) is not None else 0
    mm, ss = int(m.group(2)), int(m.group(3))
    ms = int(m.group(4).ljust(3, "0"))
    return ((h * 60 + mm) * 60 + ss) * 1000 + ms


def _parse_cues(
    text: str, strip_markup: bool
) -> List[Tuple[int, int, str]]:
    """Shared cue walk → [(start_ms, end_ms, payload)]. Blocks split on
    blank lines; a block yields a cue iff some line carries a valid
    `start --> end` arrow with both timestamps parseable."""
    out: List[Tuple[int, int, str]] = []
    text = text.lstrip("﻿")
    for block in re.split(r"\r?\n\s*\r?\n", text):
        lines = [ln.rstrip("\r") for ln in block.split("\n")]
        arrow_at = None
        for i, ln in enumerate(lines):
            if "-->" in ln and _ARROW.search(ln):
                arrow_at = i
                break
        if arrow_at is None:
            continue
        lhs, rhs = lines[arrow_at].split("-->", 1)
        start = _parse_ts(lhs)
        end = _parse_ts(rhs)
        if start is None or end is None or end < start:
            continue
        payload = "\n".join(
            ln for ln in lines[arrow_at + 1:] if ln.strip() != ""
        )
        if strip_markup:
            payload = _VTT_TAG.sub("", payload)
        out.append((start, end, payload))
    return out


def parse_srt(text: str) -> List[Tuple[int, int, int, str]]:
    """SRT → [(seq, start_ms, end_ms, text)]; seq is the 1-based order
    of the cues that PARSED (files with broken or missing indices still
    number deterministically)."""
    cues = _parse_cues(text or "", strip_markup=False)
    return [(i + 1, s, e, t) for i, (s, e, t) in enumerate(cues)]


def parse_vtt(text: str) -> List[Tuple[int, int, int, str]]:
    """WebVTT → [(seq, start_ms, end_ms, text)] with NOTE/STYLE/REGION
    blocks skipped and inline markup stripped. Not-a-VTT bytes (no
    WEBVTT magic) parse as zero cues."""
    t = (text or "").lstrip("﻿")
    if not t.startswith("WEBVTT"):
        return []
    body_blocks = []
    for block in re.split(r"\r?\n\s*\r?\n", t):
        head = block.lstrip().split("\n", 1)[0].strip()
        if (
            head.startswith("WEBVTT")
            or head.startswith("NOTE")
            or head.startswith("STYLE")
            or head.startswith("REGION")
        ):
            continue
        body_blocks.append(block)
    cues = _parse_cues("\n\n".join(body_blocks), strip_markup=True)
    return [(i + 1, s, e, t_) for i, (s, e, t_) in enumerate(cues)]


SUBTITLE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("seq", IntegerType()),
        StructField("start_ms", LongType()),
        StructField("end_ms", LongType()),
        StructField("text", StringType()),
    ]
)


def parse_subtitles_df(
    docs: DataFrame, id_col: str = "doc_id", text_col: str = "subs"
) -> DataFrame:
    """(id, subtitle blob) → exploded cue rows, format auto-detected
    per blob (WEBVTT magic → VTT, else SRT). ONE map_rows explode —
    the same narrow-map shape as parse_warc/sitemap_urls; cue rows are
    small, so the explode is the only fan-out and there is no shuffle."""

    def rows(did, blob):
        blob = "" if blob is None else str(blob)
        cues = (
            parse_vtt(blob)
            if blob.lstrip("﻿").startswith("WEBVTT")
            else parse_srt(blob)
        )
        return [(did, *cue) for cue in cues]

    return map_rows(
        docs.select(F.col(id_col).alias("doc_id"), F.col(text_col)),
        rows,
        SUBTITLE_SCHEMA,
    )


def align_frames_to_subtitles(
    frames: DataFrame, subs: DataFrame, id_col: str = "doc_id"
) -> DataFrame:
    """Frame↔cue alignment rows: each sampled frame joined to the cue
    whose [start_ms, end_ms) interval contains its timestamp — the
    video-text training pair. Equi-join on doc_id first (the range
    predicate is per-doc residual, so the join stays a hash join keyed
    on the id, never an interval cross-product)."""
    f = frames.alias("f")
    s = subs.alias("s")
    return (
        f.join(
            s,
            (F.col(f"f.{id_col}") == F.col(f"s.{id_col}"))
            & (F.col("f.ts_ms") >= F.col("s.start_ms"))
            & (F.col("f.ts_ms") < F.col("s.end_ms")),
        )
        .select(
            F.col(f"f.{id_col}").alias(id_col),
            F.col("f.frame_idx"),
            F.col("f.ts_ms"),
            F.col("s.seq").alias("cue_seq"),
            F.col("s.text").alias("cue_text"),
        )
    )
