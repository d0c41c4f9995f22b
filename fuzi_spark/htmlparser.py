"""Tag-soup-recovering HTML parser → DOM.

A from-scratch equivalent of the reference's HTML path
(`htmlReadMemory(..., RECOVER | NOWARNING | NOERROR)`,
kylehughes/Fuzi Sources/Document.swift:211-213): case-insensitive tags,
void elements, boolean attributes, implied <html>/<head>/<body> structure,
unclosed-tag recovery (Tests/ActorHardeningTests.swift:871-952).

Event-driven: a single-regex-per-construct tokenizer (one C-level regex
match per tag, quote-aware, ~3x faster than the stdlib html.parser state
machine) drives a libxml2-style tree builder with auto-closing rules for
p/li/td/…, head-vs-body placement, and script/style raw-text handling.
This is the hot path of the 10^12-doc extraction job — every allocation
here counts.
"""

from __future__ import annotations

import re
from html import unescape
from typing import Optional

from .dom import Comment, Document, Element, PI, Text, VOID_ELEMENTS
from .errors import XMLError, ERR_DOCUMENT_EMPTY

# Elements whose start tag implies <head> if neither head nor body is open
# (cf. libxml2 htmlCheckImplied + head-element table).
_HEAD_ONLY = frozenset({"title", "base", "link", "meta", "style", "isindex"})

# p is closed by any of these openers (subset of libxml2 htmlNoContentElements
# / block-level close rules — enough for the reference corpus + real pages).
_P_CLOSERS = frozenset(
    "address article aside blockquote details div dl fieldset figcaption "
    "figure footer form h1 h2 h3 h4 h5 h6 header hr main menu nav ol p pre "
    "section table ul".split()
)
# tag -> set of open tags it auto-closes (nearest first)
_AUTO_CLOSE = {
    "li": {"li"},
    "dt": {"dt", "dd"},
    "dd": {"dt", "dd"},
    "tr": {"tr", "td", "th"},
    "td": {"td", "th"},
    "th": {"td", "th"},
    "option": {"option"},
    "optgroup": {"option", "optgroup"},
    "thead": {"tbody", "tfoot"},
    "tbody": {"thead", "tfoot"},
    "tfoot": {"tbody"},
}

_RAWTEXT = frozenset({"script", "style"})

# one quote-aware regex per start tag: name, attr blob, self-close slash
# '<' excluded from name and attr blob so an unescaped '<' in text can
# never swallow a following tag during recovery
_START_TAG_RE = re.compile(
    r"<([a-zA-Z][^\s/><]*)"
    r"((?:[^<>\"']|\"[^\"]*\"|'[^']*')*?)"
    r"(/?)>",
    re.S,
)
# end tags may carry stray attributes (</div class='x'>) — browsers and
# libxml2 still close the element
_END_TAG_RE = re.compile(r"</\s*([a-zA-Z][^\s></]*)[^>]*>")
_ATTR_RE = re.compile(
    r"""([^\s/>=]+)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)


def _parse_attrs(blob: str) -> list[tuple[str, str]]:
    if not blob or blob.isspace():
        return []
    attrs = []
    for m in _ATTR_RE.finditer(blob):
        k = m.group(1)
        if k == "/":
            continue
        v = m.group(2)
        if v is None:
            v = ""
        elif v[:1] in "\"'" and v[:1] == v[-1:] and len(v) >= 2:
            v = v[1:-1]
        if "&" in v:
            v = unescape(v)
        attrs.append((k.lower(), v))
    return attrs


class _TreeBuilder:
    """libxml2-style HTML tree construction over tokenizer events."""

    def __init__(self, doc: Document):
        self.doc = doc
        self.line = 1
        self.stack: list[Element] = []
        self._html: Optional[Element] = None
        self._head: Optional[Element] = None
        self._body: Optional[Element] = None
        self._head_closed = False

    # --- structure implication ---
    def _ensure_html(self) -> Element:
        if self._html is None:
            el = Element("html", self.doc, self.line)
            self.doc.children.append(el)
            self.doc.root = el
            self._html = el
            self.stack = [el]
        return self._html

    def _ensure_head(self) -> Element:
        html = self._ensure_html()
        if self._head is None:
            el = Element("head", self.doc, self.line)
            html.append(el)
            self._head = el
        return self._head

    def _ensure_body(self) -> Element:
        html = self._ensure_html()
        if self._body is None:
            self._head_closed = True
            el = Element("body", self.doc, self.line)
            html.append(el)
            self._body = el
            # anything still open above body level collapses
            self.stack = [html, el]
        return self._body

    def _current(self, for_tag: Optional[str] = None, is_text: bool = False) -> Element:
        """Return the insertion point, implying html/head/body as needed."""
        if self._html is None:
            self._ensure_html()
        top = self.stack[-1] if self.stack else self._ensure_html()
        if top is self._html:
            # directly under <html>: route into head or body
            if for_tag in ("head", "body", "html"):
                return top
            if not self._head_closed and (
                for_tag in _HEAD_ONLY
                or (is_text is False and for_tag in ("script", "noscript"))
            ):
                h = self._ensure_head()
                self.stack.append(h)
                return h
            b = self._ensure_body()
            return b
        return top

    # --- token handlers ---
    def handle_starttag(self, tag: str, attrs):
        line = self.line
        if tag == "html":
            self._ensure_html()
            for k, v in attrs:
                self._html.attrs[k] = v
            return
        if tag == "head":
            h = self._ensure_head()
            if self.stack and self.stack[-1] is self._html:
                self.stack.append(h)
            for k, v in attrs:
                h.attrs[k] = v
            return
        if tag == "body":
            b = self._ensure_body()
            for k, v in attrs:
                b.attrs[k] = v
            return
        # head→body transition: body-only element while head is open
        if not self._head_closed and tag not in _HEAD_ONLY and tag not in (
            "script",
            "noscript",
            "template",
        ):
            if self._head is not None and any(e is self._head for e in self.stack):
                # close out of head
                while self.stack and self.stack[-1] is not self._html:
                    self.stack.pop()
            self._ensure_body()

        # auto-close rules
        if tag in _P_CLOSERS:
            for k in range(len(self.stack) - 1, -1, -1):
                t = self.stack[k].tag
                if t == "p":
                    del self.stack[k:]
                    break
                if t in ("body", "html", "td", "th", "li"):
                    break
        closes = _AUTO_CLOSE.get(tag)
        if closes:
            for k in range(len(self.stack) - 1, -1, -1):
                t = self.stack[k].tag
                if t in closes:
                    del self.stack[k:]
                    break
                # scope barriers: auto-close never escapes the enclosing
                # table (for td/th/tr too — nested tables stay intact) or
                # the enclosing list container (nested lists stay nested)
                if t in ("body", "html", "table"):
                    break
                if tag in ("li", "dt", "dd") and t in ("ul", "ol", "dl"):
                    break

        parent = self._current(for_tag=tag)
        el = Element(tag, self.doc, line)
        for k, v in attrs:
            el.attrs[k] = v
        parent.append(el)
        if tag not in VOID_ELEMENTS:
            self.stack.append(el)

    def handle_startendtag(self, tag: str, attrs):
        # <foo/> in HTML: treated as an empty element
        parent = self._current(for_tag=tag)
        el = Element(tag, self.doc, self.line)
        for k, v in attrs:
            el.attrs[k] = v
        parent.append(el)

    def handle_endtag(self, tag: str):
        if tag == "head":
            self._head_closed = True
        for k in range(len(self.stack) - 1, -1, -1):
            if self.stack[k].tag == tag:
                del self.stack[k:]
                return
        # unmatched close tag ignored (recovery)

    def handle_data(self, data: str):
        if not data:
            return
        if self._body is None and not data.strip():
            # whitespace before content: keep only if inside an open element
            if not self.stack or self.stack[-1] is self._html:
                return
        top = self.stack[-1] if self.stack else None
        if top is None or top is self._html:
            if not data.strip():
                return
            top = self._current(is_text=True)
            if top is self._html:
                top = self._ensure_body()
        top.append(Text(data, self.doc, self.line))

    def handle_comment(self, data: str):
        cm = Comment(data, self.doc, self.line)
        if not self.stack and self._html is None:
            # before any element: document-level comment (matches the XML
            # parser and libxml2)
            self.doc.children.append(cm)
            return
        (self.stack[-1] if self.stack else self._ensure_html()).append(cm)

    def handle_pi(self, data: str):
        parts = data.split(None, 1)
        if parts:
            pi = PI(parts[0], parts[1] if len(parts) > 1 else "", self.doc, self.line)
            if not self.stack and self._html is None:
                self.doc.children.append(pi)
                return
            (self.stack[-1] if self.stack else self._ensure_html()).append(pi)


def _tokenize_ref(s: str, tb: _TreeBuilder) -> None:
    """Reference tokenizer: scalar scan, one find + one C-regex match per
    construct. Kept as the differential baseline for `_tokenize` (the
    master-regex rewrite) — tests/test_htmlparser.py asserts bit-identical
    event streams across both on fixtures + a randomized corpus.

    Hot-loop notes: locals-bound method/regex lookups (`find`, `handle_*`,
    `match`) — attribute resolution inside this loop is measurable at
    10^12-doc scale; text segments skip the `unescape` call entirely when
    they carry no '&'."""
    i, n = 0, len(s)
    line = 1
    track_lines = "\n" in s
    find = s.find
    handle_data = tb.handle_data
    start_match = _START_TAG_RE.match
    end_match = _END_TAG_RE.match

    def emit_data(seg: str):
        if "&" in seg:
            seg = unescape(seg)
        handle_data(seg)

    while i < n:
        lt = find("<", i)
        if lt < 0:
            tb.line = line
            emit_data(s[i:])
            break
        if lt > i:
            tb.line = line
            seg = s[i:lt]
            if track_lines:
                line += seg.count("\n")
            emit_data(seg)
            i = lt
        c = s[lt + 1 : lt + 2]
        if c == "!":
            if s.startswith("<!--", lt):
                end = find("-->", lt + 4)
                if end < 0:
                    break  # truncated comment: drop rest
                tb.line = line
                body = s[lt + 4 : end]
                if track_lines:
                    line += s.count("\n", lt, end + 3)
                tb.handle_comment(body)
                i = end + 3
            else:
                end = find(">", lt)  # <!DOCTYPE ...> and friends: skip
                if end < 0:
                    break
                if track_lines:
                    line += s.count("\n", lt, end + 1)
                i = end + 1
            continue
        if c == "?":
            end = find(">", lt)
            if end < 0:
                break
            tb.line = line
            tb.handle_pi(s[lt + 2 : end].rstrip("?"))
            if track_lines:
                line += s.count("\n", lt, end + 1)
            i = end + 1
            continue
        if c == "/":
            m = end_match(s, lt)
            if m:
                tb.line = line
                tb.handle_endtag(m.group(1).lower())
                if track_lines:
                    line += s.count("\n", lt, m.end())
                i = m.end()
            else:
                end = find(">", lt)
                if end < 0:
                    break  # truncated close tag: drop
                i = end + 1
            continue
        m = start_match(s, lt)
        if m:
            name = m.group(1).lower()
            attrs = _parse_attrs(m.group(2))
            tb.line = line
            if track_lines:
                line += s.count("\n", lt, m.end())
            if m.group(3) == "/":
                tb.handle_startendtag(name, attrs)
            else:
                tb.handle_starttag(name, attrs)
                if name in _RAWTEXT:
                    # raw-text content: scan to the matching close tag
                    # (case-insensitive), entities NOT decoded
                    cre = _RAW_CLOSE[name]
                    cm = cre.search(s, m.end())
                    end = cm.start() if cm else n
                    raw = s[m.end() : end]
                    if raw:
                        tb.line = line
                        tb.handle_data(raw)
                        if track_lines:
                            line += raw.count("\n")
                    if cm:
                        tb.handle_endtag(name)
                        i = cm.end()
                    else:
                        i = n
                    continue
            i = m.end()
            continue
        # stray '<' (e.g. "1 < 2" outside rawtext): literal text
        tb.line = line
        emit_data("<")
        i = lt + 1


_RAW_CLOSE = {
    "script": re.compile(r"</script\s*>", re.I),
    "style": re.compile(r"</style\s*>", re.I),
}

# One master regex for every markup construct — a single C-level search
# per token replaces the find('<') + per-construct match pair of the
# scalar loop (~70% of fused-extractor cost was tokenization; this cuts
# the Python-level loop overhead roughly in half). Alternative order
# mirrors the scalar dispatch; the leading bytes ('!--', '!', '?', '/',
# letter) make the alternatives disjoint. Every truncated-construct
# variant ends with \Z so the "drop the rest" recovery of the scalar
# loop is reproducible from the match object alone.
_MASTER_RE = re.compile(
    r"<(?:"
    r"!--(?P<cbody>.*?)(?:-->|\Z)"
    r"|(?P<bang>![^>]*(?:>|\Z))"
    r"|\?(?P<pbody>[^>]*)(?P<pend>>?)"
    r"|/\s*(?P<ename>[a-zA-Z][^\s></]*)[^>]*>"
    r"|(?P<ejunk>/[^>]*(?:>|\Z))"
    r"|(?P<sname>[a-zA-Z][^\s/><]*)"
    r"(?P<sattrs>(?:[^<>\"']|\"[^\"]*\"|'[^']*')*?)(?P<sclose>/?)>"
    r")",
    re.S,
)


# positional indices of the named groups (numeric access skips the
# name-dict lookup — measurable at ~5 group reads per tag)
_G_CBODY = _MASTER_RE.groupindex["cbody"]
_G_BANG = _MASTER_RE.groupindex["bang"]
_G_PBODY = _MASTER_RE.groupindex["pbody"]
_G_PEND = _MASTER_RE.groupindex["pend"]
_G_ENAME = _MASTER_RE.groupindex["ename"]
_G_EJUNK = _MASTER_RE.groupindex["ejunk"]
_G_SNAME = _MASTER_RE.groupindex["sname"]
_G_SATTRS = _MASTER_RE.groupindex["sattrs"]
_G_SCLOSE = _MASTER_RE.groupindex["sclose"]


def _tokenize(s: str, tb: _TreeBuilder) -> None:
    """Master-regex tokenizer: one `_MASTER_RE.search` per construct,
    event-for-event identical to `_tokenize_ref` (differential-gated).
    Text chunking mirrors the scalar loop exactly: a stray '<' that opens
    no construct is emitted as its own one-char data event, so DOM text
    node boundaries stay bit-identical."""
    i, n = 0, len(s)
    line = 1
    track_lines = "\n" in s
    search = _MASTER_RE.search
    handle_data = tb.handle_data
    count = s.count

    def emit_text(seg: str):
        nonlocal line
        if "<" not in seg:  # the overwhelmingly common case
            tb.line = line
            if track_lines:
                line += seg.count("\n")
            handle_data(unescape(seg) if "&" in seg else seg)
            return
        # split at stray '<'s to mirror the scalar loop's chunking
        start = 0
        while True:
            j = seg.find("<", start)
            if j < 0:
                part = seg[start:]
                if part:
                    tb.line = line
                    if track_lines:
                        line += part.count("\n")
                    handle_data(unescape(part) if "&" in part else part)
                return
            if j > start:
                part = seg[start:j]
                tb.line = line
                if track_lines:
                    line += part.count("\n")
                handle_data(unescape(part) if "&" in part else part)
            tb.line = line
            handle_data("<")
            start = j + 1

    while i < n:
        m = search(s, i)
        if m is None:
            emit_text(s[i:])
            return
        start = m.start()
        if start > i:
            emit_text(s[i:start])
        end = m.end()
        g = m.group
        name = g(_G_SNAME)
        if name is not None:
            name = name.lower()
            attrs = _parse_attrs(g(_G_SATTRS))
            tb.line = line
            if track_lines:
                line += count("\n", start, end)
            if g(_G_SCLOSE) == "/":
                tb.handle_startendtag(name, attrs)
            else:
                tb.handle_starttag(name, attrs)
                if name in _RAWTEXT:
                    # raw-text content: scan to the matching close tag
                    # (case-insensitive), entities NOT decoded
                    cm = _RAW_CLOSE[name].search(s, end)
                    rend = cm.start() if cm else n
                    raw = s[end:rend]
                    if raw:
                        tb.line = line
                        tb.handle_data(raw)
                        if track_lines:
                            line += raw.count("\n")
                    if cm:
                        tb.handle_endtag(name)
                        i = cm.end()
                    else:
                        i = n
                    continue
            i = end
            continue
        ename = g(_G_ENAME)
        if ename is not None:
            tb.line = line
            tb.handle_endtag(ename.lower())
            if track_lines:
                line += count("\n", start, end)
            i = end
            continue
        cbody = g(_G_CBODY)
        if cbody is not None:
            # terminated iff the match consumed a real '-->' AFTER the
            # body — an endswith check would be fooled by '<!-->', whose
            # tail overlaps the opener's dashes
            if end - m.end(_G_CBODY) != 3:
                return  # truncated comment: drop rest
            tb.line = line
            if track_lines:
                line += count("\n", start, end)
            tb.handle_comment(cbody)
            i = end
            continue
        bang = g(_G_BANG)
        if bang is not None:
            if not bang.endswith(">"):
                return  # truncated <!...: drop rest
            if track_lines:
                line += count("\n", start, end)
            i = end
            continue
        pbody = g(_G_PBODY)
        if pbody is not None:
            if g(_G_PEND) != ">":
                return  # truncated PI: drop rest
            tb.line = line
            tb.handle_pi(pbody.rstrip("?"))
            if track_lines:
                line += count("\n", start, end)
            i = end
            continue
        # ejunk: malformed close tag — skip it (drop rest if truncated)
        if not g(_G_EJUNK).endswith(">"):
            return
        i = end


def parse_html(source, user_namespaces=None) -> Document:
    """Parse HTML (str/bytes) into a Document; never raises on malformed
    markup, raises XMLError only for empty input. Document order is
    ranked on first need (`Document.ranked`)."""
    if isinstance(source, (bytes, bytearray)):
        from .xmlparser import decode_bytes

        source = decode_bytes(bytes(source))
    if source[:1] == "﻿":
        source = source[1:]
    doc = Document(is_html=True)
    if user_namespaces:
        doc.namespaces.update(user_namespaces)
    if not source.strip():
        raise XMLError(ERR_DOCUMENT_EMPTY, "Document is empty")
    tb = _TreeBuilder(doc)
    try:
        _tokenize(source, tb)
    except Exception as e:  # tokenizer blowups must never kill a task
        doc.errors.append((1, f"html tokenizer: {e}"))
    if doc.root is None:
        tb._ensure_html()
        tb._ensure_body()
    return doc
