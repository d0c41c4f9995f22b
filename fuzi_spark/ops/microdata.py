"""Schema.org microdata extraction + HTML code-block harvesting.

Two structured-extraction surfaces a web-scale training pipeline mines
from the same parsed DOM the main-content extractor already builds:

- microdata (itemscope/itemtype/itemprop attributes, the HTML-attribute
  sibling of JSON-LD — WHATWG HTML §5.2): recipe/article/product
  metadata embedded by CMSes that never emit ld+json. Reference
  parity: selection runs on the same engine as the reference's
  attribute queries (/root/reference/Sources/Element.swift:60-75
  attr(); Queryable.swift:195-200 xpath) — `[itemscope]` compiles
  through the reference-dialect CSS→XPath compiler.
- fenced code blocks (<pre>/<code> with language-* classes): the
  web-page half of a code-corpus harvest (the raw-text half is
  textstats.detect_code); language labels come from the class
  conventions highlight.js/Prism/GitHub actually emit.

Both are mapInPandas explodes of the (doc_id, markup) table — one
Arrow batch in, parse once, walk, rows out; never per-row Python.
Malformed markup yields fewer/zero rows, never a task failure.
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..htmlparser import parse_html
from ..query import css
from ..udfs import row_mapper

# microdata value extraction per WHATWG §5.2.4: which attribute carries
# the property value, by tag
_URL_TAGS = {"a": "href", "area": "href", "link": "href"}
_SRC_TAGS = {
    "img": "src", "audio": "src", "video": "src", "source": "src",
    "embed": "src", "iframe": "src", "track": "src",
}


def _prop_value(el) -> str | None:
    tag = (el.tag or "").lower()
    if tag == "meta":
        return el.attr("content")
    if tag in _URL_TAGS:
        return el.attr(_URL_TAGS[tag])
    if tag in _SRC_TAGS:
        return el.attr(_SRC_TAGS[tag])
    if tag == "time":
        dt = el.attr("datetime")
        if dt is not None:
            return dt
    if tag == "data":
        v = el.attr("value")
        if v is not None:
            return v
    return el.string_value.strip()


def extract_microdata(markup: str) -> list[dict]:
    """All microdata properties of one document, in document order.

    One row per (scope, prop-token): scope_idx numbers itemscope
    elements in document order; multi-token itemprop values emit one
    row per token (spec: a property can name several); a property that
    is ITSELF a nested itemscope emits value=NULL (its content belongs
    to the nested scope, which gets its own scope_idx) and is not
    descended into; elements without itemprop are descended through.
    Never raises."""
    try:
        # assign_order=True: scope_idx / block_idx are CONTRACTUALLY
        # document-ordered and [itemscope] elements nest
        doc = parse_html(markup, assign_order=True)
    except Exception:
        return []
    if doc.root is None:
        return []
    # the reference CSS dialect needs the explicit universal selector:
    # bare "[itemscope]" compiles to ".//[@itemscope]" (no node test),
    # which is not valid XPath and silently selects nothing
    scopes = list(css(doc, "*[itemscope]"))
    out: list[dict] = []
    for scope_idx, scope in enumerate(scopes):
        item_type = scope.attr("itemtype")
        if item_type is not None:
            item_type = item_type.strip().split()[0] if item_type.strip() else None
        prop_idx = 0
        # DFS in document order; do not cross nested scope boundaries
        stack = list(reversed(scope.element_children))
        while stack:
            el = stack.pop()
            prop = el.attr("itemprop")
            nested = el.attr("itemscope") is not None
            if prop is not None:
                for token in prop.split():
                    out.append(
                        {
                            "scope_idx": scope_idx,
                            "item_type": item_type,
                            "prop": token,
                            "value": None if nested else _prop_value(el),
                            "prop_idx": prop_idx,
                        }
                    )
                    prop_idx += 1
            if not nested:
                stack.extend(reversed(el.element_children))
    return out


MICRODATA_SCHEMA = (
    "doc_id long, scope_idx int, item_type string, prop string, "
    "value string, prop_idx int"
)


def extract_microdata_df(
    docs: DataFrame, markup_col: str = "markup", id_col: str = "doc_id"
) -> DataFrame:
    """Explode documents into microdata property rows."""
    def rows(did, m):
        if m is None:
            return []
        return [
            (
                int(did), r["scope_idx"], r["item_type"],
                r["prop"], r["value"], r["prop_idx"],
            )
            for r in extract_microdata(m)
        ]

    return docs.select(id_col, markup_col).mapInPandas(
        row_mapper(rows, MICRODATA_SCHEMA), schema=MICRODATA_SCHEMA
    )


# --------------------------------------------------------- code blocks

_LANG_PREFIXES = ("language-", "lang-")


def _class_language(el) -> str | None:
    cls = el.attr("class")
    if not cls:
        return None
    for token in cls.split():
        low = token.lower()
        for pre in _LANG_PREFIXES:
            if low.startswith(pre) and len(low) > len(pre):
                return low[len(pre):]
        if low.startswith("highlight-") and len(low) > 10:
            return low[10:]
    return None


def extract_code_blocks(markup: str) -> list[dict]:
    """All <pre> code blocks of one document, in document order.

    Language resolution: language-*/lang-*/highlight-* class token on
    the inner <code> first, then on the <pre> itself (the
    highlight.js / Prism / GitHub conventions). Text comes from the
    block's recursive string value with a single leading/trailing
    newline trimmed (markup authors put the fence tags on their own
    lines). Never raises."""
    try:
        doc = parse_html(markup, assign_order=True)
    except Exception:
        return []
    if doc.root is None:
        return []
    out: list[dict] = []
    for idx, pre in enumerate(css(doc, "pre")):
        code_el = None
        for child in pre.element_children:
            if (child.tag or "").lower() == "code":
                code_el = child
                break
        lang = None
        if code_el is not None:
            lang = _class_language(code_el)
        if lang is None:
            lang = _class_language(pre)
        body = (code_el if code_el is not None else pre).string_value
        if body.startswith("\n"):
            body = body[1:]
        if body.endswith("\n"):
            body = body[:-1]
        out.append(
            {
                "block_idx": idx,
                "language": lang,
                "code": body,
                "n_lines": body.count("\n") + 1 if body else 0,
                "n_chars": len(body),
            }
        )
    return out


CODEBLOCK_SCHEMA = (
    "doc_id long, block_idx int, language string, code string, "
    "n_lines int, n_chars int"
)


def extract_code_blocks_df(
    docs: DataFrame, markup_col: str = "markup", id_col: str = "doc_id"
) -> DataFrame:
    """Explode documents into code-block rows."""
    def rows(did, m):
        if m is None:
            return []
        return [
            (
                int(did), r["block_idx"], r["language"],
                r["code"], r["n_lines"], r["n_chars"],
            )
            for r in extract_code_blocks(m)
        ]

    return docs.select(id_col, markup_col).mapInPandas(
        row_mapper(rows, CODEBLOCK_SCHEMA), schema=CODEBLOCK_SCHEMA
    )
