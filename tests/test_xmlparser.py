"""XML parser: values, entities, recovery, hardening corpus.

Assertions transcribed from the reference's Tests/ActorTests.swift:796-858
and Tests/ActorHardeningTests.swift:45-150, :594-680, :788-865."""

import pytest

import fuzi_spark as fz
from fuzi_spark.errors import ERR_DOCUMENT_EMPTY


def test_basic_parse():
    d = fz.parse_xml('<?xml version="1.0" encoding="UTF-8"?><root a="1"><c>t</c></root>')
    assert d.version == "1.0"
    assert d.encoding == "utf-8"
    assert d.root.tag == "root"
    assert d.root.attr("a") == "1"


def test_empty_raises():
    with pytest.raises(fz.XMLError) as ei:
        fz.parse_xml("")
    assert ei.value.code == ERR_DOCUMENT_EMPTY


def test_numeric_entities():
    d = fz.parse_xml("<root>&#60;&#62;&#38;&#x3C;&#x3E;</root>")
    assert d.root.string_value == "<>&<>"


def test_named_entities():
    d = fz.parse_xml("<root>&lt;&gt;&amp;&quot;&apos;</root>")
    assert d.root.string_value == "<>&\"'"


def test_cdata_unwrapped():
    d = fz.parse_xml("<root><![CDATA[<not>xml</not>]]></root>")
    assert d.root.string_value == "<not>xml</not>"


def test_mixed_content():
    d = fz.parse_xml("<root>Hello <b>World</b>!</root>")
    assert d.root.string_value == "Hello World!"


def test_unicode_content():
    d = fz.parse_xml("<root><el>héllo wörld</el><cjk>中文字符</cjk><emoji>🎉🚀</emoji></root>")
    assert fz.xpath(d, "//el")[0].string_value == "héllo wörld"
    assert fz.xpath(d, "//cjk")[0].string_value == "中文字符"
    assert fz.xpath(d, "//emoji")[0].string_value == "🎉🚀"


def test_utf8_bom():
    d = fz.parse_xml(b"\xef\xbb\xbf<?xml version=\"1.0\"?><root>x</root>")
    assert d.root.tag == "root"
    assert d.root.string_value == "x"


def test_truncated_recovers():
    d = fz.parse_xml('<?xml version="1.0"?><root><child>content</chi')
    assert d.root is not None
    assert d.root.tag == "root"


def test_mismatched_tags_recover():
    d = fz.parse_xml("<root><a></b></root>")
    assert d.root.tag == "root"


def test_long_tag_names():
    tag = "a" * 10000
    d = fz.parse_xml(f"<{tag}/>")
    assert d.root.tag == tag


def test_deep_nesting_1000():
    depth = 1000
    xml = "".join(f"<level{i}>" for i in range(depth))
    xml += "deep"
    xml += "".join(f"</level{i}>" for i in reversed(range(depth)))
    d = fz.parse_xml(xml)
    assert d.root is not None
    assert d.root.string_value == "deep"


def test_wide_5000_siblings():
    xml = "<root>" + "".join(f"<child{i}/>" for i in range(5000)) + "</root>"
    d = fz.parse_xml(xml)
    assert len(fz.xpath(d, "/root/*")) == 5000


def test_empty_element_forms():
    d = fz.parse_xml("<root><self-closing/><explicit></explicit><ws>   </ws></root>")
    assert len(d.root.element_children) == 3
    assert d.root.element_children[0].is_blank
    assert d.root.element_children[1].is_blank
    assert not d.root.element_children[2].is_blank  # whitespace text kept


def test_dtd_entity_resolution():
    d = fz.parse_xml(
        '<?xml version="1.0"?><!DOCTYPE r [<!ENTITY foo "bar &amp; baz">]>'
        "<r>&foo;</r>"
    )
    assert d.root.string_value == "bar & baz"


def test_null_bytes_no_crash():
    d = fz.parse_xml(b'<?xml version="1.0"?><root>before\x00after</root>')
    assert d.root is not None


def test_comments_and_pi():
    d = fz.parse_xml("<root><!-- a comment --><?target data?><x/></root>")
    from fuzi_spark.dom import COMMENT_NODE, PI_NODE

    kinds = [c.type for c in d.root.children]
    assert COMMENT_NODE in kinds and PI_NODE in kinds


def test_raw_xml_roundtrip():
    d = fz.parse_xml("<parent><child>text</child></parent>")
    assert fz.xpath(d, "//child")[0].raw_xml == "<child>text</child>"


def test_large_doc_100kb_predicate():
    # reference Tests/ActorHardeningTests.swift:792-813
    items = "".join(f'<item id="{i}" category="cat{i % 10}"/>' for i in range(1000))
    d = fz.parse_xml(f"<root>{items}</root>")
    assert len(fz.xpath(d, "//item[@category='cat5']")) == 100


def test_attributes_map_unprefixed_keys():
    d = fz.parse_xml(
        '<root xmlns:xlink="http://www.w3.org/1999/xlink">'
        '<a xlink:href="http://x" title="t"/></root>'
    )
    a = fz.xpath(d, "//a")[0]
    assert a.attributes == {"href": "http://x", "title": "t"}
    assert a.attr("href", namespace="http://www.w3.org/1999/xlink") == "http://x"


class TestDTDNodes:
    """Full node-kind surface (reference Sources/Node.swift:27-73): the
    DTD internal subset is exposed as a DTD node with EntityDecl
    children, hung off the document as a pre-root child like libxml2's
    intSubset."""

    def test_doctype_with_internal_subset(self):
        from fuzi_spark.dom import DTD_NODE, ENTITY_DECL_NODE
        from fuzi_spark.xmlparser import parse_xml

        doc = parse_xml(
            '<?xml version="1.0"?>\n'
            "<!DOCTYPE spec [\n"
            '  <!ENTITY title "The Spec">\n'
            "  <!ENTITY who 'W3C'>\n"
            "]>\n"
            "<spec><h>&title; by &who;</h></spec>"
        )
        assert doc.dtd is not None
        assert doc.dtd.type == DTD_NODE
        assert doc.dtd.type_name == "DTD"
        assert doc.dtd.name == "spec"
        kids = doc.dtd.children
        assert [k.type for k in kids] == [ENTITY_DECL_NODE] * 2
        assert [(k.name, k.content) for k in kids] == [
            ("title", "The Spec"),
            ("who", "W3C"),
        ]
        assert kids[0].type_name == "EntityDecl"
        assert kids[0].parent is doc.dtd
        # the DTD is a document child BEFORE the root element
        assert doc.children.index(doc.dtd) < doc.children.index(doc.root)
        # entity resolution still works
        assert doc.root.string_value == "The Spec by W3C"

    def test_doctype_public_system(self):
        from fuzi_spark.xmlparser import parse_xml

        d1 = parse_xml(
            '<!DOCTYPE html PUBLIC "-//W3C//DTD XHTML 1.0//EN" '
            '"http://www.w3.org/TR/xhtml1/DTD/xhtml1.dtd"><html/>'
        )
        assert d1.dtd.name == "html"
        assert d1.dtd.public_id == "-//W3C//DTD XHTML 1.0//EN"
        assert d1.dtd.system_id == "http://www.w3.org/TR/xhtml1/DTD/xhtml1.dtd"
        d2 = parse_xml('<!DOCTYPE note SYSTEM "note.dtd"><note/>')
        assert d2.dtd.public_id is None
        assert d2.dtd.system_id == "note.dtd"
        d3 = parse_xml("<!DOCTYPE bare><bare/>")
        assert d3.dtd.name == "bare"
        assert d3.dtd.public_id is None and d3.dtd.system_id is None

    def test_public_inside_entity_value_not_external_id(self):
        # round-3 ADVICE fix: an entity VALUE containing 'PUBLIC "..."'
        # inside the internal subset must not be misread as the doctype's
        # external id (the search is restricted to the text before '[')
        from fuzi_spark.xmlparser import parse_xml

        d = parse_xml(
            "<!DOCTYPE r [<!ENTITY e 'PUBLIC \"bogus\" \"bogus2\"'>]><r>&e;</r>"
        )
        assert d.dtd.public_id is None and d.dtd.system_id is None
        assert d.root.string_value == 'PUBLIC "bogus" "bogus2"'
        # a REAL external id followed by a decoy subset still parses
        d2 = parse_xml(
            '<!DOCTYPE r PUBLIC "-//X//EN" "x.dtd" '
            "[<!ENTITY e 'SYSTEM \"decoy\"'>]><r/>"
        )
        assert d2.dtd.public_id == "-//X//EN"
        assert d2.dtd.system_id == "x.dtd"

    def test_dtd_raw_xml_roundtrip(self):
        from fuzi_spark.xmlparser import parse_xml

        doc = parse_xml(
            "<!DOCTYPE r [<!ENTITY a \"x\">]><r>&a;</r>"
        )
        assert doc.dtd.raw_xml == '<!DOCTYPE r [<!ENTITY a "x">]>'
        assert doc.dtd.string_value == ""

    def test_xml_spec_fixture_dtd(self):
        import os

        from fuzi_spark.corpus import REFERENCE_RESOURCES

        path = os.path.join(REFERENCE_RESOURCES, "xml.xml")
        if not os.path.exists(path):
            return
        from fuzi_spark.xmlparser import parse_xml

        doc = parse_xml(open(path, "rb").read())
        assert doc.dtd is not None and doc.dtd.name == "spec"
        ents = {k.name for k in doc.dtd.children}
        assert "XML.version" in ents or len(ents) > 0

    def test_no_doctype_no_dtd(self):
        from fuzi_spark.xmlparser import parse_xml

        assert parse_xml("<r/>").dtd is None

    def test_full_enum_surface(self):
        from fuzi_spark import dom

        expected = {
            1: "Element", 2: "Attribute", 3: "Text", 4: "CDataSection",
            5: "EntityRef", 6: "Entity", 7: "Pi", 8: "Comment",
            9: "Document", 10: "DocumentType", 11: "DocumentFrag",
            12: "Notation", 13: "HtmlDocument", 14: "DTD",
            15: "ElementDecl", 16: "AttributeDecl", 17: "EntityDecl",
            18: "NamespaceDecl", 19: "XIncludeStart", 20: "XIncludeEnd",
            21: "DocbDocument",
        }
        assert dom._NODE_TYPE_NAMES == expected


class TestElementTreeDifferential:
    """On WELL-FORMED XML the recovering parser must agree exactly with
    stdlib ElementTree (same libexpat-family semantics): element
    structure, attribute dicts (entities resolved), merged text runs,
    CDATA unwrapped, comments/PIs structurally invisible."""

    @staticmethod
    def _canon_mine(el):
        from fuzi_spark.dom import ELEMENT_NODE, TEXT_NODE

        parts = []
        for c in el.children:
            if c.type == TEXT_NODE:
                parts.append(["t", c.content])
            elif c.type == ELEMENT_NODE:
                parts.append(TestElementTreeDifferential._canon_mine(c))
        merged = []
        for p in parts:
            if p[0] == "t" and merged and merged[-1][0] == "t":
                merged[-1][1] += p[1]
            else:
                merged.append(p)
        merged = [p for p in merged if p[0] != "t" or p[1] != ""]
        return ["e", el.tag, tuple(sorted(el.attrs.items())), merged]

    @staticmethod
    def _canon_et(el):
        parts = []
        if el.text:
            parts.append(["t", el.text])
        for c in el:
            parts.append(TestElementTreeDifferential._canon_et(c))
            if c.tail:
                parts.append(["t", c.tail])
        merged = []
        for p in parts:
            if p[0] == "t" and merged and merged[-1][0] == "t":
                merged[-1][1] += p[1]
            else:
                merged.append(p)
        return ["e", el.tag, tuple(sorted(el.attrib.items())), merged]

    @staticmethod
    def _gen(rng, depth=0):
        names = ["a", "bb", "ccc", "item", "node", "x1", "data", "k"]
        texts = ["", "hello", "a &amp; b", "&#65;&#x42;", "1 &lt; 2",
                 "  ws  ", "ünïcödé", "tail"]
        attvals = ["v", "a &amp; b", "", "x&#33;", "two words"]
        cdata = ["cd", "<raw>", "a&b", "]x"]
        name = rng.choice(names)
        attrs = ""
        used = set()
        for _ in range(rng.randint(0, 3)):
            k = rng.choice(names)
            if k in used:
                continue
            used.add(k)
            attrs += f' {k}="{rng.choice(attvals)}"'
        if depth > 5 or rng.random() < 0.3:
            if rng.random() < 0.3:
                return f"<{name}{attrs}/>"
            return f"<{name}{attrs}>{rng.choice(texts)}</{name}>"
        inner = []
        for _ in range(rng.randint(0, 4)):
            r = rng.random()
            if r < 0.4:
                inner.append(rng.choice(texts))
            elif r < 0.5:
                inner.append("<![CDATA[" + rng.choice(cdata) + "]]>")
            elif r < 0.55:
                inner.append("<!-- comment -->")
            else:
                inner.append(TestElementTreeDifferential._gen(rng, depth + 1))
        return f"<{name}{attrs}>{''.join(inner)}</{name}>"

    @pytest.mark.parametrize("seed", range(6))
    def test_random_wellformed(self, seed):
        import random
        import xml.etree.ElementTree as ET

        from fuzi_spark.xmlparser import parse_xml

        rng = random.Random(30_000 + seed)
        for _ in range(120):
            doc = self._gen(rng)
            try:
                et_root = ET.fromstring(doc)
            except ET.ParseError:
                continue
            mine = parse_xml(doc)
            a = self._canon_mine(mine.root)
            b = self._canon_et(et_root)
            assert a == b, f"divergence on {doc[:200]!r}\nmine={a}\net={b}"
