"""Lightweight DOM for the fuzi_spark engine.

A brand-new, pure-Python node model equivalent in *capability* to the
reference's libxml2 tree (kylehughes/Fuzi Sources/Node.swift:89-164,
Sources/Element.swift:26-217, Sources/Document.swift:26-214) but designed
for one purpose: living transiently inside an Arrow batch in a Python UDF.
Nothing here ever crosses a Spark boundary — only flat snapshots do
(see snapshot.py), mirroring the reference's actor/snapshot contract
(Sources/Actor.swift:31-110).

Node kinds mirror the reference's XMLNodeType enum (Sources/Node.swift:27-73);
only the kinds that matter to the query surface are materialized.
"""

from __future__ import annotations

from typing import Iterator, Optional

# Node type constants — the reference's full 21-kind enum over libxml2's
# xmlElementType (Sources/Node.swift:27-73), same numbering. The kinds
# reachable through the query surface (Sources/Element.swift:93-102) are
# Element/Text/Comment/CDATA; the DTD-level kinds are surfaced by the XML
# parser for documents that carry an internal subset (DTD + EntityDecl
# children); the remaining constants exist for type-filter parity.
ELEMENT_NODE = 1
ATTRIBUTE_NODE = 2
TEXT_NODE = 3
CDATA_SECTION_NODE = 4
ENTITY_REF_NODE = 5
ENTITY_NODE = 6
PI_NODE = 7
COMMENT_NODE = 8
DOCUMENT_NODE = 9
DOCUMENT_TYPE_NODE = 10
DOCUMENT_FRAG_NODE = 11
NOTATION_NODE = 12
HTML_DOCUMENT_NODE = 13
DTD_NODE = 14
ELEMENT_DECL_NODE = 15
ATTRIBUTE_DECL_NODE = 16
ENTITY_DECL_NODE = 17
NAMESPACE_DECL_NODE = 18
XINCLUDE_START_NODE = 19
XINCLUDE_END_NODE = 20
DOCB_DOCUMENT_NODE = 21

_NODE_TYPE_NAMES = {
    ELEMENT_NODE: "Element",
    ATTRIBUTE_NODE: "Attribute",
    TEXT_NODE: "Text",
    CDATA_SECTION_NODE: "CDataSection",
    ENTITY_REF_NODE: "EntityRef",
    ENTITY_NODE: "Entity",
    PI_NODE: "Pi",
    COMMENT_NODE: "Comment",
    DOCUMENT_NODE: "Document",
    DOCUMENT_TYPE_NODE: "DocumentType",
    DOCUMENT_FRAG_NODE: "DocumentFrag",
    NOTATION_NODE: "Notation",
    HTML_DOCUMENT_NODE: "HtmlDocument",
    DTD_NODE: "DTD",
    ELEMENT_DECL_NODE: "ElementDecl",
    ATTRIBUTE_DECL_NODE: "AttributeDecl",
    ENTITY_DECL_NODE: "EntityDecl",
    NAMESPACE_DECL_NODE: "NamespaceDecl",
    XINCLUDE_START_NODE: "XIncludeStart",
    XINCLUDE_END_NODE: "XIncludeEnd",
    DOCB_DOCUMENT_NODE: "DocbDocument",
}

# HTML void elements (serialization + parser, cf. libxml2 htmlElemDesc table).
VOID_ELEMENTS = frozenset(
    "area base basefont br col embed frame hr img input isindex keygen "
    "link meta param source track wbr".split()
)


def _escape_text(s: str) -> str:
    return s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


def _escape_attr(s: str) -> str:
    return (
        s.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;").replace('"', "&quot;")
    )


class Node:
    """Base node. ``ord`` is the document-order rank assigned at parse time —
    it is what makes XPath union/dedup and document-order sorts O(n log n)
    without pointer chasing (the reference leans on libxml2's internal
    document-order comparison instead)."""

    __slots__ = ("doc", "parent", "line", "ord")

    type: int = 0

    def __init__(self, doc: Optional["Document"], line: int = 0):
        self.doc = doc
        self.parent: Optional[Element] = None
        self.line = line
        self.ord = 0

    # --- navigation (reference: Sources/Node.swift:105-117) ---
    @property
    def previous_sibling(self) -> Optional["Node"]:
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        i = sibs.index(self)
        return sibs[i - 1] if i > 0 else None

    @property
    def next_sibling(self) -> Optional["Node"]:
        p = self.parent
        if p is None:
            return None
        sibs = p.children
        i = sibs.index(self)
        return sibs[i + 1] if i + 1 < len(sibs) else None

    @property
    def type_name(self) -> str:
        return _NODE_TYPE_NAMES.get(self.type, "Unknown")

    @property
    def is_html(self) -> bool:
        return self.doc is not None and self.doc.is_html

    # --- values (reference: Sources/Node.swift:126-144) ---
    @property
    def string_value(self) -> str:
        """xmlNodeGetContent semantics: recursive descendant-text concat,
        entities resolved (done at parse), CDATA unwrapped."""
        raise NotImplementedError

    @property
    def raw_xml(self) -> str:
        """xmlNodeDump/htmlNodeDump semantics."""
        raise NotImplementedError

    def ancestors(self) -> Iterator["Element"]:
        n = self.parent
        while n is not None and n.type == ELEMENT_NODE:
            yield n
            n = n.parent


class Text(Node):
    __slots__ = ("content", "is_cdata")
    type = TEXT_NODE

    def __init__(self, content: str, doc=None, line: int = 0, is_cdata: bool = False):
        super().__init__(doc, line)
        self.content = content
        self.is_cdata = is_cdata

    @property
    def node_type(self) -> int:
        return CDATA_SECTION_NODE if self.is_cdata else TEXT_NODE

    @property
    def string_value(self) -> str:
        return self.content

    @property
    def raw_xml(self) -> str:
        if self.is_cdata:
            return "<![CDATA[" + self.content + "]]>"
        return _escape_text(self.content)


class Comment(Node):
    __slots__ = ("content",)
    type = COMMENT_NODE

    def __init__(self, content: str, doc=None, line: int = 0):
        super().__init__(doc, line)
        self.content = content

    @property
    def string_value(self) -> str:
        return self.content

    @property
    def raw_xml(self) -> str:
        return "<!--" + self.content + "-->"


class PI(Node):
    __slots__ = ("target", "content")
    type = PI_NODE

    def __init__(self, target: str, content: str, doc=None, line: int = 0):
        super().__init__(doc, line)
        self.target = target
        self.content = content

    @property
    def string_value(self) -> str:
        return self.content

    @property
    def raw_xml(self) -> str:
        return f"<?{self.target} {self.content}?>"


class EntityDecl(Node):
    """<!ENTITY name "content"> from the DTD internal subset — the
    reference surfaces these as EntityDecl-kind nodes (XML_ENTITY_DECL,
    Sources/Node.swift:64); content is the replacement text the parser
    also registers for entity resolution."""

    __slots__ = ("name", "content")
    type = ENTITY_DECL_NODE

    def __init__(self, name: str, content: str, doc=None, line: int = 0):
        super().__init__(doc, line)
        self.name = name
        self.content = content

    @property
    def string_value(self) -> str:
        return self.content

    @property
    def raw_xml(self) -> str:
        return f'<!ENTITY {self.name} "{_escape_attr(self.content)}">'


class DTD(Node):
    """Document type declaration node (XML_DTD_NODE): root element name,
    PUBLIC/SYSTEM ids, and the internal subset's entity declarations as
    EntityDecl children — libxml2 hangs the intSubset off the document
    exactly like this (a pre-root document child)."""

    __slots__ = ("name", "public_id", "system_id", "children")
    type = DTD_NODE

    def __init__(
        self,
        name: str,
        public_id: Optional[str] = None,
        system_id: Optional[str] = None,
        doc=None,
        line: int = 0,
    ):
        super().__init__(doc, line)
        self.name = name
        self.public_id = public_id
        self.system_id = system_id
        self.children: list[Node] = []

    @property
    def string_value(self) -> str:
        return ""  # xmlNodeGetContent of a DTD node is empty

    @property
    def raw_xml(self) -> str:
        out = f"<!DOCTYPE {self.name}"
        if self.public_id is not None:
            out += f' PUBLIC "{self.public_id}"'
            if self.system_id is not None:
                out += f' "{self.system_id}"'
        elif self.system_id is not None:
            out += f' SYSTEM "{self.system_id}"'
        if self.children:
            out += " [" + "".join(c.raw_xml for c in self.children) + "]"
        return out + ">"


class Attr(Node):
    """Attribute node, materialized lazily for the XPath ``@`` axis only
    (the reference reads attributes straight off the properties list,
    Sources/Element.swift:40-75)."""

    __slots__ = ("name", "value", "owner", "idx")
    type = ATTRIBUTE_NODE

    def __init__(self, owner: "Element", name: str, value: str):
        super().__init__(owner.doc, owner.line)
        self.owner = owner
        self.parent = owner
        self.name = name
        self.value = value
        self.idx = 0

    @property
    def local_name(self) -> str:
        return self.name.rsplit(":", 1)[-1]

    @property
    def string_value(self) -> str:
        return self.value

    @property
    def raw_xml(self) -> str:
        return f'{self.name}="{_escape_attr(self.value)}"'


class Element(Node):
    __slots__ = (
        "tag",
        "prefix",
        "ns_uri",
        "attrs",
        "attr_ns",
        "children",
        "nsmap",
        "_attr_nodes",
    )
    type = ELEMENT_NODE

    def __init__(
        self,
        tag: str,
        doc=None,
        line: int = 0,
        prefix: Optional[str] = None,
        ns_uri: Optional[str] = None,
    ):
        super().__init__(doc, line)
        self.tag = tag  # local name, prefix stripped (reference Element.swift:34)
        self.prefix = prefix  # declared prefix, None for default ns (Element.swift:29-31)
        self.ns_uri = ns_uri
        self.attrs: dict[str, str] = {}  # qname-as-written -> value, insertion ordered
        self.attr_ns: dict[tuple[str, str], str] = {}  # (uri, local) -> value
        self.children: list[Node] = []
        self.nsmap: dict[Optional[str], str] = {}  # prefixes *declared on this element*
        self._attr_nodes: Optional[list[Attr]] = None

    # --- children (reference: Element.swift:80-146) ---
    def append(self, node: Node) -> None:
        node.parent = self
        self.children.append(node)
        d = self.doc
        if d is not None:  # its ranks and tag index are stale now
            d.ranked = False
            d._tags = None

    @property
    def element_children(self) -> list["Element"]:
        return [c for c in self.children if c.type == ELEMENT_NODE]

    def child_nodes(self, of_types: tuple[int, ...] = (ELEMENT_NODE,)) -> list[Node]:
        """Reference childNodes(ofTypes:), Element.swift:93-102. CDATA is a
        distinct libxml2 kind, so a Text node with is_cdata matches
        CDATA_SECTION_NODE, not TEXT_NODE."""
        out = []
        for c in self.children:
            t = c.node_type if isinstance(c, Text) else c.type
            if t in of_types:
                out.append(c)
        return out

    def first_child(self, tag: str, ns: Optional[str] = None) -> Optional["Element"]:
        """Case-INSENSITIVE tag match incl. for XML — pinned reference
        behavior (xmlStrcasecmp, Helpers.swift:54-81, Element.swift:112-121)."""
        tl = tag.lower()
        for c in self.children:
            if c.type == ELEMENT_NODE and c.tag.lower() == tl:
                if ns is None or (c.prefix or "") == ns:
                    return c
        return None

    def children_with_tag(self, tag: str, ns: Optional[str] = None) -> list["Element"]:
        tl = tag.lower()
        return [
            c
            for c in self.children
            if c.type == ELEMENT_NODE
            and c.tag.lower() == tl
            and (ns is None or (c.prefix or "") == ns)
        ]

    def __getitem__(self, key):
        if isinstance(key, int):  # positional child access, Element.swift:171-173
            ec = self.element_children
            return ec[key] if 0 <= key < len(ec) else None
        return self.attr(key)  # element["name"], Element.swift:182-184

    # --- attributes (reference: Element.swift:40-75) ---
    def attr(self, name: str, namespace: Optional[str] = None) -> Optional[str]:
        if namespace is not None:
            return self.attr_ns.get((namespace, name))
        v = self.attrs.get(name)
        if v is not None:
            return v
        # unprefixed lookup also matches a prefixed attr's local name
        for k, val in self.attrs.items():
            if k.rsplit(":", 1)[-1] == name:
                return val
        return None

    @property
    def attributes(self) -> dict[str, str]:
        """Unprefixed-key map, matching the reference's properties walk
        (Element.swift:40-50): keys are local names."""
        return {k.rsplit(":", 1)[-1]: v for k, v in self.attrs.items()}

    def attr_nodes(self) -> list[Attr]:
        """Lazily-materialized, cached attribute nodes for the XPath @ axis
        (stable identity is required for node-set union/dedup)."""
        if self._attr_nodes is None:
            self._attr_nodes = [
                Attr(self, k, v) for k, v in self.attrs.items() if not _is_ns_decl(k)
            ]
            for i, a in enumerate(self._attr_nodes):
                a.ord = self.ord
                a.idx = i + 1
        return self._attr_nodes

    # --- namespaces ---
    def effective_nsmap(self) -> dict[Optional[str], str]:
        """prefix -> uri visible at this element (ancestor nsDef chain,
        reference Queryable.swift:275-285)."""
        maps = []
        n: Optional[Node] = self
        while n is not None and n.type == ELEMENT_NODE:
            maps.append(n.nsmap)
            n = n.parent
        out: dict[Optional[str], str] = {}
        for m in reversed(maps):
            out.update(m)
        return out

    # --- values ---
    @property
    def string_value(self) -> str:
        # iterative DFS to survive depth-1000 docs (hardening corpus)
        out: list[str] = []
        def walk(el):
            todo = [(el, 0)]
            while todo:
                node, idx = todo.pop()
                ch = node.children
                while idx < len(ch):
                    c = ch[idx]
                    idx += 1
                    if c.type == TEXT_NODE:
                        out.append(c.content)
                    elif c.type == ELEMENT_NODE:
                        todo.append((node, idx))
                        todo.append((c, 0))
                        break
        walk(self)
        return "".join(out)

    @property
    def is_blank(self) -> bool:
        return self.string_value == ""  # Element.swift:150-152

    @property
    def number_value(self) -> Optional[float]:
        """Decimal conversion of stringValue (reference Element.swift:155-157,
        formatter at Document.swift:50-54); None when not numeric."""
        s = self.string_value.strip()
        if not s:
            return None
        try:
            return float(s)
        except ValueError:
            return None

    @property
    def date_value(self):
        """ISO-8601 `yyyy-MM-dd'T'HH:mm:ssZ` conversion of stringValue
        (reference Element.swift:160-162, formatter Document.swift:57-62);
        None when not parseable. Returns datetime.datetime."""
        import datetime as _dt

        s = self.string_value.strip()
        for fmt in ("%Y-%m-%dT%H:%M:%S%z", "%Y-%m-%dT%H:%M:%SZ"):
            try:
                d = _dt.datetime.strptime(s, fmt)
                if d.tzinfo is None:
                    d = d.replace(tzinfo=_dt.timezone.utc)
                return d
            except ValueError:
                continue
        return None

    @property
    def qname(self) -> str:
        return f"{self.prefix}:{self.tag}" if self.prefix else self.tag

    @property
    def raw_xml(self) -> str:
        html = self.is_html
        out: list[str] = []
        # iterative serializer (depth-safe)
        OPEN, CLOSE = 0, 1
        stack: list[tuple[int, Node]] = [(OPEN, self)]
        while stack:
            op, node = stack.pop()
            if op == CLOSE:
                out.append(f"</{node.qname}>")
                continue
            if node.type != ELEMENT_NODE:
                out.append(node.raw_xml)
                continue
            attrs = "".join(
                f' {k}="{_escape_attr(v)}"' for k, v in node.attrs.items()
            )
            nsdecl = ""
            for p, uri in node.nsmap.items():
                if p is None:
                    nsdecl += f' xmlns="{_escape_attr(uri)}"'
                else:
                    nsdecl += f' xmlns:{p}="{_escape_attr(uri)}"'
            name = node.qname
            if not node.children:
                if html:
                    if node.tag.lower() in VOID_ELEMENTS:
                        out.append(f"<{name}{nsdecl}{attrs}>")
                    else:
                        out.append(f"<{name}{nsdecl}{attrs}></{name}>")
                else:
                    out.append(f"<{name}{nsdecl}{attrs}/>")
                continue
            out.append(f"<{name}{nsdecl}{attrs}>")
            stack.append((CLOSE, node))
            for c in reversed(node.children):
                stack.append((OPEN, c))
        return "".join(out)

    def remove(self) -> None:
        """xmlUnlinkNode semantics (Element.swift:196-206) — the
        boilerplate-strip primitive."""
        if self.parent is not None:
            self.parent.children.remove(self)
            self.parent = None
            d = self.doc
            if d is not None:  # its ranks and tag index are stale now
                d.ranked = False
                d._tags = None

    def deep_copy(self) -> "Element":
        # iterative like every other walker here: copying a depth-1500
        # subtree must not hit the Python recursion limit
        def shallow(src: "Element") -> "Element":
            el = Element(src.tag, src.doc, src.line, src.prefix, src.ns_uri)
            el.attrs = dict(src.attrs)
            el.attr_ns = dict(src.attr_ns)
            el.nsmap = dict(src.nsmap)
            return el

        root = shallow(self)
        stack: list[tuple["Element", "Element"]] = [(self, root)]
        while stack:
            src, dst = stack.pop()
            for c in src.children:
                if c.type == ELEMENT_NODE:
                    cc = shallow(c)
                    dst.append(cc)
                    stack.append((c, cc))
                elif c.type == TEXT_NODE:
                    dst.append(Text(c.content, src.doc, c.line, c.is_cdata))
                elif c.type == COMMENT_NODE:
                    dst.append(Comment(c.content, src.doc, c.line))
                elif c.type == PI_NODE:
                    dst.append(PI(c.target, c.content, src.doc, c.line))
        return root

    def iter_elements(self) -> Iterator["Element"]:
        """self + descendant elements, document order, iterative."""
        stack = [self]
        while stack:
            n = stack.pop()
            yield n
            stack.extend(
                c for c in reversed(n.children) if c.type == ELEMENT_NODE
            )

    def __repr__(self):
        return f"<Element {self.qname} line={self.line}>"


def _is_ns_decl(qname: str) -> bool:
    return qname == "xmlns" or qname.startswith("xmlns:")


class Document(Node):
    """Owns the tree. reference: Sources/Document.swift:26-214."""

    # __weakref__: a test checks that the DOMs a batch shares are freed with it
    __slots__ = (
        "version", "encoding", "root", "namespaces", "is_html", "errors", "children", "dtd",
        "ranked", "_tags", "__weakref__",
    )
    type = DOCUMENT_NODE

    def __init__(self, is_html: bool = False):
        super().__init__(None, 0)
        self.doc = self
        self.version: Optional[str] = None
        self.encoding: str = "utf-8"
        self.root: Optional[Element] = None
        self.namespaces: dict[str, str] = {}  # user-registered prefix -> uri
        self.is_html = is_html
        self.errors: list[tuple[int, str]] = []  # (code, message)
        self.children: list[Node] = []  # top-level nodes (root + PIs/comments)
        self.dtd: Optional[DTD] = None  # internal subset, when declared
        self.ranked = False  # every node's `ord` is current (assign_order)
        self._tags: Optional[dict[str, list[Element]]] = None  # see tag_index

    def tag_index(self) -> dict[str, list[Element]]:
        """Local name -> every element of that name, in document order.

        Built by one walk on first use, so XPath answers `//name` without
        walking the tree again; `Element.append` and `Element.remove` drop
        it. Edits made to `children` lists directly are not seen."""
        idx = self._tags
        if idx is None:
            idx = {}
            stack: list[Node] = list(reversed(self.children))
            while stack:
                n = stack.pop()
                if n.type == ELEMENT_NODE:
                    same = idx.get(n.tag)
                    if same is None:
                        idx[n.tag] = [n]
                    else:
                        same.append(n)
                    stack.extend(reversed(n.children))
            self._tags = idx
        return idx

    def define_prefix(self, prefix: str, namespace: str) -> None:
        """reference Document.swift:162-164."""
        self.namespaces[prefix] = namespace

    @property
    def string_value(self) -> str:
        return self.root.string_value if self.root is not None else ""

    @property
    def raw_xml(self) -> str:
        return "".join(c.raw_xml for c in self.children)

    def assign_order(self) -> None:
        """Assign document-order ranks (single pass). XPath calls it on
        first need: after the parse, and again once the tree changed."""
        i = 0
        stack: list[Node] = list(reversed(self.children))
        self.ord = i
        while stack:
            n = stack.pop()
            i += 1
            n.ord = i
            if n.type == ELEMENT_NODE:
                if n._attr_nodes:
                    for a in n._attr_nodes:
                        a.ord = i
                stack.extend(reversed(n.children))
        self.ranked = True

    # HTML conveniences (reference Document.swift:197-209)
    @property
    def html_root(self) -> Optional[Element]:
        return self.root

    @property
    def head(self) -> Optional[Element]:
        return self.root.first_child("head") if self.root is not None else None

    @property
    def body(self) -> Optional[Element]:
        return self.root.first_child("body") if self.root is not None else None

    @property
    def title(self) -> Optional[str]:
        h = self.head
        if h is None:
            return None
        t = h.first_child("title")
        return t.string_value if t is not None else None
