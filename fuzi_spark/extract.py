"""Main-content extraction: DOM → ordered (kind, text, media_ref, offset) spans.

The north_rule deliverable: boilerplate-stripping DOM heuristics (tag-class
pruning, link-density scoring) over the parsed tree, emitting a deterministic
ordered span sequence per document. The mutation primitives mirror the
reference's remove()/removeSafely() (kylehughes/Fuzi Sources/Element.swift:
196-206) — that is how script/style/nav boilerplate is stripped before text
emission; the text walk is the reference's stringValue primitive
(Sources/Node.swift:126-131) applied per block segment.

Pure Python — called only from inside Arrow-batch UDFs (udfs.py) or from
the single-process golden generator (tests)."""

from __future__ import annotations

from typing import Optional

from .dom import COMMENT_NODE, ELEMENT_NODE, TEXT_NODE, Document, Element
from .errors import XMLError
from .htmlparser import parse_html
from .xmlparser import parse_xml

# tag classes (HTML)
STRIP_TAGS = frozenset(
    "script style noscript template nav form button select option textarea".split()
)
HEADING_TAGS = frozenset("h1 h2 h3 h4 h5 h6".split())
MEDIA_TAGS = frozenset("img video audio embed iframe object".split())
CAPTION_TAGS = frozenset("figcaption caption".split())
LIST_ITEM_TAGS = frozenset("li dt dd".split())
BLOCK_TAGS = frozenset(
    "address article aside blockquote body center details dialog div dl "
    "fieldset figure footer header hr main menu ol p pre section summary "
    "table tbody td tfoot th thead tr ul br".split()
)
_LINK_DENSITY_CANDIDATES = frozenset("div ul ol table p section aside footer header".split())


def _media_ref(el: Element) -> Optional[str]:
    for a in ("src", "href", "poster", "data"):
        v = el.attrs.get(a)
        if v:
            return v
    return None


def _norm(parts: list[str]) -> str:
    return " ".join("".join(parts).split())


def strip_boilerplate(doc: Document) -> int:
    """Remove boilerplate subtrees with the north_star scoring triple:
    - tag-class: script/style/nav/form/... are chrome by definition
    - link-density: a block whose anchor-text ratio exceeds 0.75 with
      under 200 chars of text is navigation chrome
    - text-density: a block with ≥3 descendant elements but under 2 chars
      of text per element (and under 80 chars total) is markup scaffolding
      (icon grids, button bars), not content
    Returns the number of removed elements; uses the remove() mutation
    primitive (reference Element.swift:196-206)."""
    if doc.root is None:
        return 0
    removed = 0
    # tag-class strips first; the density pass below then only ever sees
    # the surviving tree
    to_remove = [
        el for el in doc.root.iter_elements() if el.tag in STRIP_TAGS
    ]
    for el in to_remove:
        el.remove()
        removed += 1
    # density prune — scoring happens DURING one post-order pass: each
    # element's stats aggregate over its SURVIVING children (an inner
    # candidate removed moments earlier simply isn't in the parent's child
    # list any more), which reproduces the reference bottom-up semantics
    # (inner removals precede and affect outer scores) in strictly O(N).
    # The two shapes this replaces were both quadratic on adversarial
    # pages from the 10^12-corpus skew tail: per-candidate subtree
    # re-walks (deep text-rich nesting), and eager ancestor-delta updates
    # (deep chains of removable chrome).
    #
    # Scores use whitespace-NORMALIZED text lengths so minified and
    # pretty-printed forms of the same markup classify identically.
    # Per element: nlen (non-ws chars), alen (chars under <a>,
    # double-counting nested anchors exactly like a per-anchor
    # string-value walk would), dcount (descendant elements),
    # mflag (has media).
    def _norm_len(s: str) -> int:
        return len("".join(s.split()))

    if doc.root is None:
        return removed
    stats: dict[int, tuple] = {}
    todo = [(doc.root, False)]
    while todo:
        node, done = todo.pop()
        if not done:
            todo.append((node, True))
            todo.extend(
                (c, False) for c in node.children if c.type == ELEMENT_NODE
            )
            continue
        nlen = 0
        alen = 0
        dcount = 0
        mflag = node.tag in MEDIA_TAGS
        for c in node.children:
            if c.type == TEXT_NODE:
                nlen += _norm_len(c.content)
            elif c.type == ELEMENT_NODE:
                cn, ca, cd, cm = stats[id(c)]
                nlen += cn
                alen += ca
                dcount += cd + 1
                mflag = mflag or cm
        if node.tag == "a":
            alen += nlen  # self-inclusive anchor text
        stats[id(node)] = (nlen, alen, dcount, mflag)
        if (
            node.tag in _LINK_DENSITY_CANDIDATES
            and node is not doc.root
            and nlen < 200
            and not mflag  # media spans must survive (image galleries)
        ):
            if (nlen > 0 and alen / nlen > 0.75) or (
                dcount >= 3
                and nlen < 80
                and nlen / dcount < 2.0
                and (alen > 0 or nlen == 0)
            ):
                # link-chrome, or markup scaffolding: many elements with
                # no text per element — but only when linked (nav chrome)
                # or fully empty; short genuine content (small tables,
                # terse lists) is kept
                node.remove()
                removed += 1
    return removed


class _Emitter:
    __slots__ = ("spans", "buf", "kind")

    def __init__(self):
        self.spans: list[dict] = []
        self.buf: list[str] = []
        self.kind = "paragraph"

    def flush(self):
        text = _norm(self.buf)
        self.buf.clear()
        if text:
            self.spans.append(
                {
                    "kind": self.kind,
                    "text": text,
                    "media_ref": None,
                    "offset": len(self.spans),
                }
            )

    def emit(self, kind: str, text: str, media_ref: Optional[str]):
        self.spans.append(
            {
                "kind": kind,
                "text": text,
                "media_ref": media_ref,
                "offset": len(self.spans),
            }
        )


def _walk_html(el: Element, em: _Emitter):
    # Iterative (explicit work stack): a depth-1500 div chain must emit its
    # content, not blow the Python recursion limit and get mislabeled as a
    # parse error — at 10^12 docs, deep documents are a certainty and their
    # misclassification would poison the lineage error counts.
    stack: list[tuple] = [("el", el, None)]
    while stack:
        action, node, saved = stack.pop()
        if action == "text":
            em.buf.append(node)
            continue
        if action == "end_block":
            em.flush()
            continue
        if action == "end_list":
            em.flush()
            em.kind = saved
            continue
        tag = node.tag
        if tag in HEADING_TAGS:
            em.flush()
            em.emit("heading", _norm([node.string_value]), None)
            continue
        if tag in MEDIA_TAGS:
            em.flush()
            em.emit("media", _norm([node.attrs.get("alt", "")]), _media_ref(node))
            continue
        if tag in CAPTION_TAGS:
            em.flush()
            em.emit("caption", _norm([node.string_value]), None)
            continue
        if tag in LIST_ITEM_TAGS:
            em.flush()
            stack.append(("end_list", None, em.kind))
            em.kind = "list"
        elif tag in BLOCK_TAGS:
            em.flush()
            stack.append(("end_block", None, None))
        # list/block/inline all descend into children, in document order
        for c in reversed(node.children):
            if c.type == TEXT_NODE:
                stack.append(("text", c.content, None))
            elif c.type == ELEMENT_NODE:
                stack.append(("el", c, None))


def _walk_xml(el: Element, em: _Emitter):
    """XML: every element is a block boundary; direct text becomes 'text'
    spans in document order (media never occurs in pure XML fixtures)."""
    stack = [(el, 0)]
    while stack:
        node, idx = stack.pop()
        ch = node.children
        while idx < len(ch):
            c = ch[idx]
            idx += 1
            if c.type == TEXT_NODE:
                em.buf.append(c.content)
            elif c.type == ELEMENT_NODE:
                em.flush()
                stack.append((node, idx))
                stack.append((c, 0))
                break
        else:
            em.flush()


def sniff_doc_type(markup: str) -> str:
    head = markup[:256].lstrip("﻿ \t\r\n").lower()
    if head.startswith("<?xml"):
        return "xml"
    if head.startswith("<!doctype html") or "<html" in head or "<body" in head:
        return "html"
    # tag-soup heuristics: html void/formatting tags
    low = markup[:4096].lower()
    for t in ("<div", "<p>", "<br", "<img", "<span", "<table", "<head", "<title"):
        if t in low:
            return "html"
    return "xml"


def extract_spans(markup: str, doc_type: Optional[str] = None) -> tuple[list[dict], int]:
    """Parse + strip + segment one document. Returns (spans, parse_error).

    parse_error is 0/1 — parse failures yield an empty span list and a
    flag, never an exception (the 10^12-row job must not die on one doc)."""
    if doc_type not in ("html", "xml"):
        doc_type = sniff_doc_type(markup)
    if doc_type == "html":
        # fused event-driven path (fastextract.py): same tokenizer, no
        # DOM — bit-identical output enforced by the randomized
        # differential in tests/test_fastextract.py
        from .fastextract import extract_spans_html_fast

        try:
            return extract_spans_html_fast(markup)
        except XMLError:
            return [], 1
        except Exception:
            pass  # any fast-path surprise falls back to the DOM reference
    return _extract_spans_dom(markup, doc_type)


def _extract_spans_dom(markup: str, doc_type: str) -> tuple[list[dict], int]:
    """Reference implementation: parse to DOM, strip, walk."""
    try:
        doc = parse_html(markup) if doc_type == "html" else parse_xml(markup)
    except XMLError:
        return [], 1
    except Exception:
        return [], 1
    if doc.root is None:
        return [], 1
    em = _Emitter()
    try:
        if doc_type == "html":
            strip_boilerplate(doc)
            body = doc.body or doc.root
            _walk_html(body, em)
            em.flush()
            # title becomes the leading heading if present
            title = doc.title
            if title and title.strip():
                em.spans.insert(
                    0,
                    {"kind": "heading", "text": _norm([title]), "media_ref": None, "offset": -1},
                )
                for i, s in enumerate(em.spans):
                    s["offset"] = i
        else:
            em.kind = "text"
            _walk_xml(doc.root, em)
            em.flush()
    except RecursionError:
        return em.spans, 1
    return em.spans, 0
