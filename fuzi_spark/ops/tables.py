"""HTML table extraction: <table> markup → structured rows.

Tables hold a large share of the web's factual text; a training-data
pipeline wants them as STRUCTURED rows (for serialization, filtering,
or table-QA corpora), not as flattened prose. This module explodes
every table in a document into (table_idx, row_idx, is_header, cells)
rows using the engine's own recovering HTML parser.

Reference parity note: the reference (kylehughes/Fuzi) exposes the DOM
and query surface only (Sources/Document.swift, Queryable.swift) — no
table semantics; this is pipeline-brief scope built on the parity DOM.

Deterministic rules (pinned by tests and the SQL oracle):
- tables enumerate in document order (nested tables are their OWN
  table_idx; the outer table's rows are its direct/thead/tbody/tfoot
  <tr>s only, so nested rows are never double-counted)
- a row's cells are its direct <th>/<td> children, whitespace-
  normalized string values (markup inside cells flattens to text)
- is_header = 1 when the row sits in <thead> or ALL its cells are <th>
- rows with zero cells are dropped; parse failure yields zero rows
  (never raises — house recovery contract)

Spark surface: ONE mapInPandas explode per batch (Arrow-batched; the
per-doc Python is the parser itself — same shape as warc.parse_warc_df).
Narrow map, no shuffle: composes with downstream aggs for free.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from ..dom import ELEMENT_NODE, Element
from ..htmlparser import parse_html
from ..udfs import row_mapper

_SECTIONS = frozenset(("thead", "tbody", "tfoot"))
_CELLS = frozenset(("th", "td"))


def _norm(s: str) -> str:
    return " ".join(s.split())


def _table_rows(table: Element) -> list[tuple[int, list[str], bool]]:
    """(row_idx, cells, is_header) for one table element."""
    out = []
    row_idx = 0
    for c in table.children:
        if c.type != ELEMENT_NODE:
            continue
        if c.tag == "tr":
            trs = [(c, False)]
        elif c.tag in _SECTIONS:
            in_head = c.tag == "thead"
            trs = [
                (g, in_head)
                for g in c.children
                if g.type == ELEMENT_NODE and g.tag == "tr"
            ]
        else:
            continue
        for tr, in_head in trs:
            cells = []
            all_th = True
            for cell in tr.children:
                if cell.type == ELEMENT_NODE and cell.tag in _CELLS:
                    cells.append(_norm(cell.string_value))
                    all_th = all_th and cell.tag == "th"
            if not cells:
                continue
            out.append((row_idx, cells, in_head or all_th))
            row_idx += 1
    return out


def extract_tables(
    markup: str, doc_type: Optional[str] = None
) -> list[dict]:
    """All table rows of one document, in document order. Never raises;
    unparseable markup yields []."""
    try:
        doc = parse_html(markup, assign_order=False)
    except Exception:
        return []
    if doc.root is None:
        return []
    rows: list[dict] = []
    t_idx = 0
    for el in doc.root.iter_elements():
        if el.tag != "table":
            continue
        for row_idx, cells, is_header in _table_rows(el):
            rows.append(
                {
                    "table_idx": t_idx,
                    "row_idx": row_idx,
                    "is_header": int(is_header),
                    "cells": cells,
                }
            )
        t_idx += 1
    return rows


TABLE_SCHEMA = (
    "doc_id long, table_idx int, row_idx int, is_header int, "
    "cells array<string>, n_cells int"
)


def extract_tables_df(
    docs: DataFrame, markup_col: str = "markup", id_col: str = "doc_id"
) -> DataFrame:
    """Explode documents into table rows: (doc_id, table_idx, row_idx,
    is_header, cells, n_cells)."""
    def rows(did, m):
        if m is None:
            return []
        return [
            (
                int(did), r["table_idx"], r["row_idx"],
                r["is_header"], r["cells"], len(r["cells"]),
            )
            for r in extract_tables(m)
        ]

    return docs.select(id_col, markup_col).mapInPandas(
        row_mapper(rows, TABLE_SCHEMA), schema=TABLE_SCHEMA
    )
