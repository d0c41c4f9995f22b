"""Recovering, event-driven XML tokenizer → DOM.

A from-scratch equivalent of the reference's parse core
(`xmlReadMemory(..., RECOVER | NOWARNING | NOERROR)`,
kylehughes/Fuzi Sources/Document.swift:125-140): malformed input yields a
best-effort tree, never an exception — except fully-empty input, which is
`parserFailure` (Tests/XMLTests.swift:97-106). Runs only inside Arrow-batch
UDFs; one call parses one document string.

Recovery rules (pinned by Tests/ActorHardeningTests.swift):
- truncated mid-tag at EOF → partial tag dropped, open elements auto-closed (:45-55)
- mismatched close tag → pop-to-match if an ancestor matches, else ignored (:57-66)
- null bytes / invalid chars in content → kept as-is (:79-87)
- DTD internal subset: scanned for <!ENTITY> declarations which are then
  resolved in content (the W3C xml.xml fixture relies on this)
"""

from __future__ import annotations

import re
from typing import Optional

from .dom import Comment, Document, DTD, Element, EntityDecl, PI, Text
from .errors import XMLError, ERR_DOCUMENT_EMPTY

_NAME_RE = re.compile(r"[^\s/>=]+")
_ATTR_RE = re.compile(
    r"""\s*([^\s/>=]+)\s*(?:=\s*("[^"]*"|'[^']*'|[^\s>]*))?"""
)
# one quote-aware regex per start tag (name, attr blob, self-close slash);
# '<' excluded from the blob so a stray unescaped '<' can never swallow a
# following close tag during recovery
_START_RE = re.compile(
    r"<([^\s/><!?][^\s/><]*)((?:[^<>\"']|\"[^\"]*\"|'[^']*')*?)\s*(/?)>",
    re.S,
)
_ENTITY_RE = re.compile(r"&(#x[0-9a-fA-F]+|#[0-9]+|[A-Za-z_][\w.\-]*);")
_ENTITY_DECL_RE = re.compile(
    r"""<!ENTITY\s+([\w.\-]+)\s+(?:"([^"]*)"|'([^']*)')""", re.S
)
_DOCTYPE_RE = re.compile(r"<!DOCTYPE\s+([^\s\[>]+)", re.I | re.S)
_PUBLIC_RE = re.compile(
    r"""PUBLIC\s+(?:"([^"]*)"|'([^']*)')(?:\s+(?:"([^"]*)"|'([^']*)'))?""",
    re.S,
)
_SYSTEM_RE = re.compile(r"""SYSTEM\s+(?:"([^"]*)"|'([^']*)')""", re.S)
_XMLDECL_RE = re.compile(
    r"""<\?xml\s+version\s*=\s*["']([^"']*)["']"""
    r"""(?:\s+encoding\s*=\s*["']([^"']*)["'])?""",
    re.S,
)

_PREDEFINED = {"lt": "<", "gt": ">", "amp": "&", "quot": '"', "apos": "'"}


def decode_bytes(data: bytes) -> str:
    """BOM sniff + declared-encoding decode, permissive fallback.
    Always strips a leading U+FEFF so downstream tree builders never see
    it as text (a stray BOM would otherwise imply <body> before <head>
    in the HTML parser)."""
    if data.startswith(b"\xef\xbb\xbf"):
        s = data[3:].decode("utf-8", errors="replace")
    elif data.startswith(b"\xff\xfe"):
        s = data.decode("utf-16-le", errors="replace")
    elif data.startswith(b"\xfe\xff"):
        s = data.decode("utf-16-be", errors="replace")
    else:
        head = data[:200]
        m = re.search(rb'encoding\s*=\s*["\']([A-Za-z0-9._\-]+)["\']', head)
        s = None
        if m:
            try:
                s = data.decode(m.group(1).decode("ascii"), errors="replace")
            except LookupError:
                s = None
        if s is None:
            s = data.decode("utf-8", errors="replace")
    return s[1:] if s[:1] == "﻿" else s


class _Scanner:
    __slots__ = ("s", "i", "n", "line", "track")

    def __init__(self, s: str):
        self.s = s
        self.i = 0
        self.n = len(s)
        self.line = 1
        # single-line documents (the common web-corpus case) skip line
        # accounting entirely — same guard as the HTML tokenizer
        self.track = "\n" in s

    def advance(self, j: int) -> None:
        if self.track:
            self.line += self.s.count("\n", self.i, j)
        self.i = j


_MAX_ENTITY_DEPTH = 8
_MAX_ENTITY_EXPANSION = 10_000_000  # chars — billion-laughs guard


def _resolve_entities(text: str, entities: dict[str, str], _depth: int = 0) -> str:
    if "&" not in text:
        return text
    if _depth > _MAX_ENTITY_DEPTH or len(text) > _MAX_ENTITY_EXPANSION:
        # recursive/exponential entity definitions: stop expanding (recover
        # mode never raises, and one hostile DTD must never kill a task)
        return text

    def sub(m: re.Match) -> str:
        e = m.group(1)
        if e.startswith("#x") or e.startswith("#X"):
            try:
                return chr(int(e[2:], 16))
            except (ValueError, OverflowError):
                return m.group(0)
        if e.startswith("#"):
            try:
                return chr(int(e[1:]))
            except (ValueError, OverflowError):
                return m.group(0)
        if e in _PREDEFINED:
            return _PREDEFINED[e]
        if e in entities:
            return _resolve_entities(entities[e], entities, _depth + 1)
        return m.group(0)  # unknown entity: keep literal (recover mode)

    return _ENTITY_RE.sub(sub, text)


def parse_xml(
    source,
    user_namespaces: Optional[dict[str, str]] = None,
) -> Document:
    """Parse an XML string/bytes into a Document. Never raises on malformed
    content; raises XMLError(parserFailure) only for empty/whitespace input,
    matching the reference (Tests/XMLTests.swift:97-106)."""
    if isinstance(source, (bytes, bytearray)):
        source = decode_bytes(bytes(source))
    if source.startswith("﻿"):
        source = source[1:]
    doc = Document(is_html=False)
    if user_namespaces:
        doc.namespaces.update(user_namespaces)
    if not source.strip():
        raise XMLError(ERR_DOCUMENT_EMPTY, "Document is empty")

    entities: dict[str, str] = {}
    sc = _Scanner(source)
    s, n = source, len(source)
    stack: list[Element] = []
    text_buf: list[str] = []
    text_line = 1

    def flush_text() -> None:
        if not text_buf:
            return
        content = "".join(text_buf)
        text_buf.clear()
        if stack:
            stack[-1].append(Text(_resolve_entities(content, entities), doc, text_line))
        # text outside the root is discarded (libxml2 does the same)

    # incremental namespace scope: cur_ns is the effective prefix->uri map at
    # the current insertion point; ns_stack snapshots it per open element so
    # close restores O(1) — no ancestor walk per element (the parse-time
    # equivalent of the reference's ancestor nsDef chain, Queryable.swift:275)
    cur_ns: dict = {}
    ns_stack: list[dict] = []

    def open_element(name: str, attrs: list[tuple[str, str]], line: int) -> Element:
        nonlocal cur_ns
        nsmap: dict[Optional[str], str] = {}
        plain_attrs: dict[str, str] = {}
        for k, v in attrs:
            if k == "xmlns":
                nsmap[None] = v
            elif k[:6] == "xmlns:":
                nsmap[k[6:]] = v
            else:
                plain_attrs[k] = v
        if ":" in name:
            prefix, local = name.split(":", 1)
        else:
            prefix, local = None, name
        el = Element(local, doc, line, prefix=prefix)
        el.nsmap = nsmap
        el.attrs = plain_attrs
        if stack:
            stack[-1].append(el)
        else:
            doc.children.append(el)
            if doc.root is None:
                doc.root = el
        eff = cur_ns
        if nsmap:
            eff = {**cur_ns, **nsmap}
        el.ns_uri = eff.get(prefix)
        if plain_attrs and eff:
            for k, v in plain_attrs.items():
                if ":" in k:
                    ap, al = k.split(":", 1)
                    uri = eff.get(ap)
                    if uri:
                        el.attr_ns[(uri, al)] = v
        return el, eff

    while sc.i < n:
        lt = s.find("<", sc.i)
        if lt < 0:
            text_buf.append(s[sc.i :]) if stack else None
            break
        if lt > sc.i:
            if stack:
                if not text_buf:
                    text_line = sc.line
                text_buf.append(s[sc.i : lt])
            sc.advance(lt)
        # at '<' — dispatch on the next char (cheaper than startswith chains)
        nxt = s[lt + 1 : lt + 2]
        if nxt == "?":
            end = s.find("?>", lt + 2)
            if end < 0:
                break  # truncated PI → drop
            content = s[lt + 2 : end]
            if content[:3].lower() == "xml" and (len(content) == 3 or content[3].isspace()):
                m = _XMLDECL_RE.match(s, lt)
                if m:
                    doc.version = m.group(1)
                    if m.group(2):
                        doc.encoding = m.group(2).lower()
            else:
                flush_text()
                parts = content.split(None, 1)
                target = parts[0] if parts else ""
                data = parts[1] if len(parts) > 1 else ""
                pi = PI(target, data, doc, sc.line)
                (stack[-1] if stack else doc).children.append(pi)
                if stack:
                    pi.parent = stack[-1]
            sc.advance(end + 2)
        elif nxt == "!" and s.startswith("<!--", lt):
            end = s.find("-->", lt + 4)
            if end < 0:
                break
            flush_text()
            cm = Comment(s[lt + 4 : end], doc, sc.line)
            if stack:
                stack[-1].append(cm)
            else:
                doc.children.append(cm)
            sc.advance(end + 3)
        elif nxt == "!" and s.startswith("<![CDATA[", lt):
            end = s.find("]]>", lt + 9)
            if end < 0:
                end = n  # truncated CDATA: take rest
            flush_text()
            if stack:
                stack[-1].append(Text(s[lt + 9 : end], doc, sc.line, is_cdata=True))
            sc.advance(min(end + 3, n))
        elif nxt == "!":
            # DOCTYPE or other declaration; bracket-match the internal subset
            depth = 0
            j = lt
            in_quote = None
            while j < n:
                c = s[j]
                if in_quote:
                    if c == in_quote:
                        in_quote = None
                elif c in "\"'":
                    in_quote = c
                elif c == "[":
                    depth += 1
                elif c == "]":
                    depth -= 1
                elif c == ">" and depth <= 0:
                    break
                j += 1
            decl = s[lt : j + 1]
            ent_decls = [
                (m.group(1), m.group(2) if m.group(2) is not None else (m.group(3) or ""))
                for m in _ENTITY_DECL_RE.finditer(decl)
            ]
            for name, val in ent_decls:
                entities[name] = val
            dm = _DOCTYPE_RE.match(decl)
            if dm:
                # surface the declaration as a DTD node with EntityDecl
                # children (reference kinds XML_DTD_NODE/XML_ENTITY_DECL,
                # Sources/Node.swift:58-64) — libxml2 hangs the internal
                # subset off the document as a pre-root child
                pub = sysid = None
                # the external id lives in the declaration BEFORE the
                # internal subset; an entity VALUE containing 'PUBLIC "x"'
                # inside [...] must not be misread as the doctype's
                # external id (round-3 ADVICE fix)
                ext = decl.split("[", 1)[0]
                mp = _PUBLIC_RE.search(ext)
                if mp:
                    pub = mp.group(1) if mp.group(1) is not None else mp.group(2)
                    sysid = mp.group(3) if mp.group(3) is not None else mp.group(4)
                else:
                    ms = _SYSTEM_RE.search(ext)
                    if ms:
                        sysid = ms.group(1) if ms.group(1) is not None else ms.group(2)
                dtd = DTD(dm.group(1), pub, sysid, doc, sc.line)
                for name, val in ent_decls:
                    ed = EntityDecl(name, val, doc, sc.line)
                    ed.parent = dtd
                    dtd.children.append(ed)
                doc.children.append(dtd)
                doc.dtd = dtd
            sc.advance(min(j + 1, n))
        elif nxt == "/":
            end = s.find(">", lt + 2)
            if end < 0:
                break  # truncated close tag → drop (recovery)
            name = s[lt + 2 : end].strip()
            flush_text()
            # pop-to-match recovery (restores the namespace scope too)
            for k in range(len(stack) - 1, -1, -1):
                el = stack[k]
                if el.qname == name or el.tag == name:
                    del stack[k:]
                    cur_ns = ns_stack[k]
                    del ns_stack[k:]
                    break
            # else: unmatched close tag ignored
            sc.advance(end + 1)
        else:
            # start tag: one quote-aware regex match
            m = _START_RE.match(s, lt)
            if not m:
                if _NAME_RE.match(s, lt + 1) and s.find(">", lt) < 0:
                    # name but no closing '>' before EOF → truncated start
                    # tag: drop the rest (recovery, Tests/ActorHardening
                    # Tests.swift:45-55)
                    sc.advance(n)
                    break
                # stray '<' in content: treat literally
                if not text_buf:
                    text_line = sc.line
                text_buf.append("<")
                sc.advance(lt + 1)
                continue
            name = m.group(1)
            blob = m.group(2)
            attrs: list[tuple[str, str]] = []
            if blob and not blob.isspace():
                for am in _ATTR_RE.finditer(blob):
                    k = am.group(1)
                    if k == "/":
                        continue
                    v = am.group(2)
                    if v is None:
                        v = ""
                    elif v[:1] in "\"'" and v[:1] == v[-1:] and len(v) >= 2:
                        v = v[1:-1]
                    attrs.append((k, _resolve_entities(v, entities)))
            flush_text()
            el, eff = open_element(name, attrs, sc.line)
            if m.group(3) != "/":
                stack.append(el)
                ns_stack.append(cur_ns)
                cur_ns = eff
            sc.advance(m.end())

    flush_text() if stack else None
    if doc.root is None:
        raise XMLError(ERR_DOCUMENT_EMPTY, "Document is empty")
    return doc
