"""High-level query facade — the Fuzi-equivalent API surface.

Mirrors the reference's Queryable protocol semantics
(kylehughes/Fuzi Sources/Queryable.swift:124-257):
- ``xpath()``       → node list; invalid expression → silently EMPTY
- ``try_xpath()``   → node list; invalid expression → raises (code 1207/1209)
- ``css()`` / ``first_child_css()`` → compile CSS then xpath
- ``eval_xpath()``  → XPathResult(bool, double, string) scalar triple
plus snapshot materialization (Sources/Actor.swift:31-110): every public
result is a plain value — dicts/strings/numbers — never a live DOM node,
which is exactly the contract an Arrow UDF must obey.
"""

from __future__ import annotations

from dataclasses import dataclass
from typing import Optional

from . import xpath as _xp
from .css import css_to_xpath
from .dom import Document, Element, Node
from .errors import XPathError


def xpath(node, expr: str, extra_ns: Optional[dict] = None) -> list:
    """Silent-empty query (reference Queryable.swift:195-200).

    The final Exception guard is the task-safety net: inside a Spark UDF
    one pathological expression/document must never fail the whole task —
    engine bugs degrade to an empty result, mirroring libxml2's
    error-to-empty behavior."""
    try:
        return _xp.select(node, expr, extra_ns)
    except XPathError:
        return []
    except Exception:
        return []


def try_xpath(node, expr: str, extra_ns: Optional[dict] = None) -> list:
    """Throwing query (reference Queryable.swift:209-211). Always raises
    XPathError (unexpected engine errors are wrapped as code 1207)."""
    try:
        return _xp.select(node, expr, extra_ns)
    except XPathError:
        raise
    except Exception as e:
        raise XPathError(1207, f"internal: {e}") from e


def css(node, selector: str, extra_ns: Optional[dict] = None) -> list:
    return xpath(node, css_to_xpath(selector), extra_ns)


def first_child_xpath(node, expr: str, extra_ns: Optional[dict] = None):
    r = xpath(node, expr, extra_ns)
    return r[0] if r else None


def first_child_css(node, selector: str, extra_ns: Optional[dict] = None):
    r = css(node, selector, extra_ns)
    return r[0] if r else None


@dataclass(frozen=True)
class XPathResult:
    """Scalar eval result (reference Sources/Actor.swift:91-110)."""

    bool_value: bool
    double_value: float
    string_value: str


def eval_xpath(node, expr: str, extra_ns: Optional[dict] = None) -> Optional[XPathResult]:
    """Function-expression evaluation (reference Queryable.swift:87-114):
    any result is coerced to the (bool, double, string) triple; invalid
    expressions yield None (the reference returns nil)."""
    try:
        v = _xp.evaluate(node, expr, extra_ns)
    except XPathError:
        return None
    except Exception:
        return None
    return XPathResult(
        bool_value=_xp.to_bool(v),
        double_value=_xp.to_number(v),
        string_value=_xp.to_string(v),
    )


# ------------------------------------------------------------- snapshots

SNAPSHOT_FIELDS = ("attributes", "line_number", "namespace", "raw_xml", "string_value", "tag")


def element_snapshot(el: Node) -> dict:
    """ElementSnapshot (reference Sources/Actor.swift:31-62) as a plain dict
    matching the Spark StructType in udfs.py."""
    if isinstance(el, Element):
        return {
            "attributes": el.attributes,
            "line_number": el.line,
            "namespace": el.prefix,
            "raw_xml": el.raw_xml,
            "string_value": el.string_value,
            "tag": el.tag,
        }
    return {
        "attributes": {},
        "line_number": el.line,
        "namespace": None,
        "raw_xml": el.raw_xml,
        "string_value": el.string_value,
        "tag": None,
    }


def document_snapshot(doc: Document) -> dict:
    """DocumentSnapshot (reference Sources/Actor.swift:67-86)."""
    return {
        "version": doc.version,
        "encoding": doc.encoding,
        "root": element_snapshot(doc.root) if doc.root is not None else None,
    }
