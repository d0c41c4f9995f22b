"""Image-caption pairing and heading-outline extraction.

Two structure ops an INTERLEAVED text+media pipeline needs beyond the
flat span stream (fuzi_spark/extract.py):

- image_captions: pair every <img> with its best caption — the
  image-text alignment signal multimodal training data is built from
  (figcaption > alt > title precedence, pinned below). The span
  extractor already carries alt text inline (extract.py:197); this op
  recovers the EXPLICIT pairing rows a caption-contrastive trainer
  (CLIP-style) consumes.
- doc_outline: the h1-h6 heading hierarchy with each heading's
  ancestor path — the section structure that drives semantically-aware
  chunking (split at sections, not at char offsets — the structural
  complement of ops/packing.chunk_documents).

Reference parity note: the reference (kylehughes/Fuzi) exposes the DOM
and query surface only (Sources/Document.swift, Queryable.swift); both
ops are pipeline-brief scope built on the parity DOM — the figure walk
uses Node.parent (Sources/Node.swift parent surface) and document-order
iteration.

Deterministic rules (pinned by tests and the SQL oracles):
- every <img> emits exactly one row in document order (img_idx), even
  with no src (media_ref NULL) — the caption may still carry signal
- caption precedence: the nearest ancestor <figure>'s first
  <figcaption> (document order, whitespace-normalized string value),
  else non-empty alt, else non-empty title, else NULL with
  caption_source='none'; empty-after-normalization candidates fall
  through to the next source
- media_ref resolves like the span extractor (src/href/poster/data —
  extract._media_ref), so caption rows join 1:1 against media spans
- headings emit in document order; path is the ' > '-joined text of
  the CURRENTLY OPEN ancestor headings (strictly lower level), so
  skipped levels (h1 -> h4) inherit the h1 alone, and a sibling h2
  pops the previous h2's subtree
- parse failure yields zero rows (never raises — house recovery
  contract)

Spark surface: ONE mapInPandas explode per batch each (Arrow-batched;
the per-doc Python is the parser itself — same shape as
ops/tables.extract_tables_df). Narrow map, no shuffle.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from ..extract import _media_ref
from ..htmlparser import parse_html
from ..udfs import row_mapper


def _norm(s: Optional[str]) -> str:
    return " ".join(s.split()) if s else ""


def _figcaption(img) -> str:
    """Whitespace-normalized text of the first <figcaption> inside the
    img's nearest ancestor <figure>; '' when there is none."""
    anc = img.parent
    while anc is not None and getattr(anc, "tag", None) is not None:
        if anc.tag == "figure":
            for el in anc.iter_elements():
                if el.tag == "figcaption":
                    return _norm(el.string_value)
            return ""
        anc = anc.parent
    return ""


def extract_captions(
    markup: str, doc_type: Optional[str] = None
) -> list[dict]:
    """All (img_idx, media_ref, caption, caption_source) rows of one
    document, in document order. Never raises; unparseable markup
    yields []."""
    try:
        doc = parse_html(markup, assign_order=False)
    except Exception:
        return []
    if doc.root is None:
        return []
    rows: list[dict] = []
    idx = 0
    for el in doc.root.iter_elements():
        if el.tag != "img":
            continue
        caption, source = None, "none"
        fig = _figcaption(el)
        if fig:
            caption, source = fig, "figcaption"
        else:
            alt = _norm(el.attrs.get("alt"))
            if alt:
                caption, source = alt, "alt"
            else:
                title = _norm(el.attrs.get("title"))
                if title:
                    caption, source = title, "title"
        rows.append(
            {
                "img_idx": idx,
                "media_ref": _media_ref(el),
                "caption": caption,
                "caption_source": source,
            }
        )
        idx += 1
    return rows


_HEADINGS = frozenset(("h1", "h2", "h3", "h4", "h5", "h6"))


def extract_outline(
    markup: str, doc_type: Optional[str] = None
) -> list[dict]:
    """All (seq, level, heading, path) rows of one document, in
    document order. path = ' > '-joined ancestor-heading texts (may be
    ''). Never raises; unparseable markup yields []."""
    try:
        doc = parse_html(markup, assign_order=False)
    except Exception:
        return []
    if doc.root is None:
        return []
    rows: list[dict] = []
    stack: list[tuple[int, str]] = []  # (level, text) of open sections
    seq = 0
    for el in doc.root.iter_elements():
        if el.tag not in _HEADINGS:
            continue
        level = int(el.tag[1])
        text = _norm(el.string_value)
        while stack and stack[-1][0] >= level:
            stack.pop()
        rows.append(
            {
                "seq": seq,
                "level": level,
                "heading": text,
                "path": " > ".join(t for _, t in stack),
            }
        )
        stack.append((level, text))
        seq += 1
    return rows


CAPTION_SCHEMA = (
    "doc_id long, img_idx int, media_ref string, caption string, "
    "caption_source string"
)

OUTLINE_SCHEMA = (
    "doc_id long, seq int, level int, heading string, path string"
)


def extract_captions_df(
    docs: DataFrame, markup_col: str = "markup", id_col: str = "doc_id"
) -> DataFrame:
    """Explode documents into image-caption rows: (doc_id, img_idx,
    media_ref, caption, caption_source)."""
    def rows(did, m):
        if m is None:
            return []
        return [
            (int(did), r["img_idx"], r["media_ref"], r["caption"], r["caption_source"])
            for r in extract_captions(m)
        ]

    return docs.select(id_col, markup_col).mapInPandas(
        row_mapper(rows, CAPTION_SCHEMA), schema=CAPTION_SCHEMA
    )


def extract_outline_df(
    docs: DataFrame, markup_col: str = "markup", id_col: str = "doc_id"
) -> DataFrame:
    """Explode documents into heading-outline rows: (doc_id, seq,
    level, heading, path)."""
    def rows(did, m):
        if m is None:
            return []
        return [
            (int(did), r["seq"], r["level"], r["heading"], r["path"])
            for r in extract_outline(m)
        ]

    return docs.select(id_col, markup_col).mapInPandas(
        row_mapper(rows, OUTLINE_SCHEMA), schema=OUTLINE_SCHEMA
    )
