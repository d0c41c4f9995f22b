"""JSON-LD structured-data extraction (schema.org metadata).

Publishers embed machine-readable page metadata as
`<script type="application/ld+json">` blocks — articles carry
headline/datePublished/author, products carry offers, and crawl
pipelines index these for date attribution, deduplication keys, and
quality weighting. This module explodes every JSON-LD item of a
document into typed rows using the engine's own recovering HTML
parser for script discovery and stdlib json for the payload.

Reference parity note: the reference (kylehughes/Fuzi) has no JSON
surface — /root/reference/Sources is XML/HTML only; this is
pipeline-brief scope built on the parity DOM (the script elements are
found with the same css() query surface page_metadata uses).

Deterministic extraction rules (pinned by tests and the SQL oracle):
- scripts enumerate in document order (script_idx); items within a
  script enumerate @graph/top-level-array order (item_idx)
- a top-level object is one item; a top-level ARRAY contributes one
  item per element; an object with "@graph" contributes one item per
  graph element (the wrapper itself is not an item)
- ld_type: "@type" string, or its FIRST element when a list
- name: "name", else "headline" (articles), else NULL
- date_published: "datePublished" string, else NULL
- author: "author" string, or author object's "name", or the first
  element's "name"/string when a list, else NULL
- url: "url" string, else NULL
- a script whose body is not valid JSON is SKIPPED (recovery, never
  raises); non-object items (strings/numbers in an array) are skipped

Spark surface: ONE map_rows explode per batch (Arrow-batched; the
same shape as tables.extract_tables_df). Narrow map, no shuffle.
"""

from __future__ import annotations

import json
from typing import Optional

from pyspark.sql import DataFrame

from ..extract import sniff_doc_type
from ..htmlparser import parse_html
from ..query import css
from ..udfs import map_rows


def _first(v):
    if isinstance(v, list):
        return v[0] if v else None
    return v


def _as_str(v) -> Optional[str]:
    return v if isinstance(v, str) else None


def _author_name(v) -> Optional[str]:
    v = _first(v)
    if isinstance(v, str):
        return v
    if isinstance(v, dict):
        return _as_str(v.get("name"))
    return None


def _items_of(payload) -> list:
    if isinstance(payload, list):
        return payload
    if isinstance(payload, dict):
        graph = payload.get("@graph")
        if isinstance(graph, list):
            return graph
        return [payload]
    return []


def extract_json_ld(markup: str) -> list[dict]:
    """All JSON-LD items of one document, in document order. Never
    raises; unparseable markup or JSON yields fewer/zero rows."""
    try:
        doc = parse_html(markup)
    except Exception:
        return []
    if doc.root is None:
        return []
    out: list[dict] = []
    script_idx = 0
    for el in css(doc, "script"):
        t = el.attr("type")
        if t is None or t.strip().lower() != "application/ld+json":
            continue
        body = el.string_value
        idx = script_idx
        script_idx += 1
        try:
            payload = json.loads(body)
        except Exception:
            continue
        for item_idx, item in enumerate(_items_of(payload)):
            if not isinstance(item, dict):
                continue
            out.append(
                {
                    "script_idx": idx,
                    "item_idx": item_idx,
                    "ld_type": _as_str(_first(item.get("@type"))),
                    "name": _as_str(item.get("name"))
                    or _as_str(item.get("headline")),
                    "date_published": _as_str(item.get("datePublished")),
                    "author": _author_name(item.get("author")),
                    "url": _as_str(item.get("url")),
                }
            )
    return out


JSONLD_SCHEMA = (
    "doc_id long, script_idx int, item_idx int, ld_type string, "
    "name string, date_published string, author string, url string"
)


def extract_json_ld_df(
    docs: DataFrame, markup_col: str = "markup", id_col: str = "doc_id"
) -> DataFrame:
    """Explode documents into JSON-LD item rows."""
    def rows(did, m):
        if m is None:
            return []
        return [
            (
                int(did), r["script_idx"], r["item_idx"], r["ld_type"],
                r["name"], r["date_published"], r["author"], r["url"],
            )
            for r in extract_json_ld(m)
        ]

    return map_rows(docs.select(id_col, markup_col), rows, JSONLD_SCHEMA)
