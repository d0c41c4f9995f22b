"""HTML parser: tag-soup recovery, structure implication, CSS combinators.

Assertions transcribed from the reference's
Tests/ActorHardeningTests.swift:871-1062."""

import pytest
import fuzi_spark as fz


def test_malformed_html_recovery():
    h = fz.parse_html("<html><body><div><p>Paragraph<div>Nested")
    assert h.body is not None


def test_html_entities():
    h = fz.parse_html("<html><body>&nbsp;&copy;&reg;&trade;</body></html>")
    assert h.body is not None
    assert h.body.string_value == "\xa0©®™"


def test_script_style_content():
    h = fz.parse_html(
        "<html>\n<head>\n<style>body { color: red; }</style>\n"
        "<script>var x = 1 < 2;</script>\n</head>\n<body>Content</body>\n</html>"
    )
    assert h.body.string_value == "Content"


def test_case_insensitive_tags():
    h = fz.parse_html("<HTML><BODY><DIV>Content</DIV></BODY></HTML>")
    assert h.body is not None
    assert h.body.string_value == "Content"


def test_boolean_attributes():
    h = fz.parse_html('<html><body><input type="checkbox" checked disabled></body></html>')
    inp = fz.first_child_css(h, "input")
    assert inp is not None
    assert inp.attributes.get("checked") is not None


def test_void_elements():
    h = fz.parse_html(
        '<html><body><br><hr><img src="test.jpg"><input type="text">'
        '<meta name="test"></body></html>'
    )
    assert fz.first_child_css(h, "br") is not None
    img = fz.first_child_css(h, "img")
    assert img is not None
    assert img.attributes["src"] == "test.jpg"


def test_implied_structure_fragment():
    h = fz.parse_html("<div>test</div>")
    assert h.root.tag == "html"
    assert h.body is not None
    assert h.body.string_value == "test"


def test_unclosed_tags_nest():
    h = fz.parse_html("<html><body><p>One<p>Two<p>Three</body></html>")
    assert len(fz.css(h, "p")) == 3  # p auto-closes p


def test_li_autoclose():
    h = fz.parse_html("<html><body><ul><li>a<li>b<li>c</ul></body></html>")
    assert len(fz.css(h, "ul > li")) == 3


def test_multiple_classes_via_xpath():
    h = fz.parse_html(
        '<html><body><div class="a b c">Multiple classes</div>'
        '<div class="a">A</div><div class="b">B</div></body></html>'
    )
    r = fz.xpath(
        h,
        "//*[contains(concat(' ', @class, ' '), ' a ') and "
        "contains(concat(' ', @class, ' '), ' b ')]",
    )
    assert len(r) == 1
    assert r[0].string_value == "Multiple classes"


def test_descendant_vs_child_combinator():
    h = fz.parse_html(
        "<html><body><div><p>Direct child</p></div>"
        "<div><span><p>Descendant</p></span></div></body></html>"
    )
    assert len(fz.css(h, "div p")) == 2
    ch = fz.css(h, "div > p")
    assert len(ch) == 1
    assert ch[0].string_value == "Direct child"


def test_attribute_selectors():
    h = fz.parse_html(
        '<html><body><a href="http://example.com">Link 1</a>'
        '<a href="https://secure.com">Link 2</a><a>No href</a></body></html>'
    )
    assert len(fz.css(h, "a[href]")) == 2
    assert len(fz.xpath(h, "//a[@href='http://example.com']")) == 1


def test_complex_combined_selectors():
    h = fz.parse_html(
        '<html><body><div id="main" class="container"><ul class="list">'
        '<li class="item active">First</li><li class="item">Second</li>'
        "</ul></div></body></html>"
    )
    assert len(fz.css(h, "#main .list .item")) == 2


def test_sibling_combinators():
    h = fz.parse_html(
        "<html><body><h1>Title</h1><p>First para</p><p>Second para</p>"
        "<div>Not a p</div><p>Third para</p></body></html>"
    )
    adj = fz.css(h, "h1 + p")
    assert len(adj) == 1
    assert adj[0].string_value == "First para"
    assert len(fz.css(h, "h1 ~ p")) == 3


def test_head_body_routing():
    h = fz.parse_html("<title>T</title><p>body text</p>")
    assert h.head is not None and h.title == "T"
    assert h.body is not None and "body text" in h.body.string_value


def test_raw_xml_html_void():
    h = fz.parse_html('<html><body><img src="x.png"></body></html>')
    img = fz.first_child_css(h, "img")
    assert img.raw_xml == '<img src="x.png">'


class TestParserHardening:
    """Regression tests for review findings: nested-structure scope bugs,
    BOM handling, hostile DTDs, ref-extraction edge cases."""

    def test_nested_table_not_mangled(self):
        h = fz.parse_html("<table><tr><td><table><tr><td>X")
        inner = fz.xpath(h, "//table//table//td")
        assert len(inner) == 1 and inner[0].string_value == "X"

    def test_nested_list_stays_nested(self):
        h = fz.parse_html("<ul><li>a<ol><li>b</li></ol></li></ul>")
        assert len(fz.xpath(h, "//ul/li/ol/li")) == 1
        assert fz.xpath(h, "//ol/li")[0].string_value == "b"

    def test_utf16_html_keeps_head_title(self):
        data = b"\xff\xfe" + "<html><head><title>T</title></head><body>B</body></html>".encode("utf-16-le")
        h = fz.parse_html(data)
        assert h.title == "T"
        assert h.body.string_value == "B"

    def test_recursive_entity_no_crash(self):
        d = fz.parse_xml('<!DOCTYPE r [<!ENTITY a "&a;">]><r>&a;</r>')
        assert d.root is not None  # recover, never RecursionError

    def test_mutually_recursive_entities(self):
        d = fz.parse_xml(
            '<!DOCTYPE r [<!ENTITY a "&b;"><!ENTITY b "&a;">]><r>&a;</r>'
        )
        assert d.root is not None

    def test_doc_level_comment_before_html(self):
        h = fz.parse_html("<!-- top --><html><body>x</body></html>")
        from fuzi_spark.dom import COMMENT_NODE

        assert h.children[0].type == COMMENT_NODE
        assert h.root.children[0].tag != "html"  # comment not inside html

    def test_end_tag_with_attributes_closes(self):
        h = fz.parse_html("<html><body><div>a</div class='x'><p>b</p></body></html>")
        div = fz.css(h, "div")[0]
        assert div.string_value == "a"
        assert fz.xpath(h, "//div/p") == []  # p is a sibling, not nested

    def test_codec_lazy_load_refs(self):
        from fuzi_spark.codec import media_ref_of

        assert media_ref_of('<img data-src="lazy.jpg" src="real.jpg">') == "real.jpg"
        assert media_ref_of("<img src=x.jpg/>") == "x.jpg"
        assert media_ref_of('<link href=style.css/>') == "style.css"

    def test_codec_split_ignores_data_src_script(self):
        from fuzi_spark.codec import encode_spans

        spans = encode_spans('<p>a</p><script data-src="l.js">var x;</script><p>b</p>')
        assert all(s["kind"] == "text" for s in spans)


class TestTokenizerDifferential:
    """The master-regex tokenizer must produce a BIT-IDENTICAL event
    stream (event kind, payload, line number) to the scalar reference
    tokenizer on every input — fixtures, edge constructs, and a
    randomized tag-soup corpus."""

    class _Recorder:
        def __init__(self):
            self.events = []
            self.line = 1

        def _ev(self, kind, *payload):
            self.events.append((kind, self.line, payload))

        def handle_starttag(self, tag, attrs):
            self._ev("start", tag, tuple(attrs))

        def handle_startendtag(self, tag, attrs):
            self._ev("startend", tag, tuple(attrs))

        def handle_endtag(self, tag):
            self._ev("end", tag)

        def handle_data(self, data):
            self._ev("data", data)

        def handle_comment(self, data):
            self._ev("comment", data)

        def handle_pi(self, data):
            self._ev("pi", data)

    def _both(self, markup):
        from fuzi_spark.htmlparser import _tokenize, _tokenize_ref

        a, b = self._Recorder(), self._Recorder()
        _tokenize(markup, a)
        _tokenize_ref(markup, b)
        return a.events, b.events

    def assert_same(self, markup):
        a, b = self._both(markup)
        assert a == b, f"tokenizer divergence on {markup[:200]!r}\nnew={a[:20]}\nref={b[:20]}"

    EDGES = [
        "",
        "plain text",
        "a < b and c > d",
        "trailing lt <",
        "<div><p>x</p></div>",
        "<div class='a' id=\"b\" checked>text</div>",
        "<img src=x.png alt='y'/>",
        "<!-- comment --><p>x</p>",
        "<!-- truncated",
        "<!--a--",
        "<!---->empty",
        "<!--ab--->dash",
        "<!DOCTYPE html><p>x</p>",
        "<!doctype truncated",
        "<?xml version='1.0'?><root/>",
        "<?pi data?>",
        "<?truncated",
        "</div>stray close",
        "</ div >space close",
        "</>junk close",
        "</1digit>",
        "</truncated",
        "<div attr='unclosed quote>x</div>",
        "<div unclosed",
        "<script>if (a<b) { x('<div>'); }</script>after",
        "<style>p > a { color: red }</style>t",
        "<script>no close tag",
        "<SCRIPT>UPPER</SCRIPT>",
        "1 < 2 <p>mid</p> 3 > 2 < done",
        "&amp; entity <p>&lt;tag&gt;</p>",
        "multi\nline\n<p>\ntext\n</p>\n<!-- c\nc -->\n<div\n a='b\nc'>x</div>",
        "<a href='x'>one</a><<double",
        "<<p>><div>< </div>",
        "<em><b>nest</em></b>",
    ]

    @pytest.mark.parametrize("markup", EDGES)
    def test_edges(self, markup):
        self.assert_same(markup)

    def test_reference_fixtures(self):
        import os

        from fuzi_spark.corpus import REFERENCE_RESOURCES

        for name in ("web.html", "atom.xml", "xml.xml", "ocf.xml", "vmap.xml"):
            path = os.path.join(REFERENCE_RESOURCES, name)
            if os.path.exists(path):
                from fuzi_spark.xmlparser import decode_bytes

                self.assert_same(decode_bytes(open(path, "rb").read()))

    def test_random_soup(self):
        import random

        rng = random.Random(4242)
        frags = [
            "<div>", "</div>", "<p class='x'>", "text ", "< ", "<", ">",
            "<!-- c -->", "<!--", "<img src='i.png'>", "<br/>", "&amp;",
            "&", "<?pi x?>", "</p>", "</", "<script>a<b</script>",
            "<a href=\"y\">", "</a>", "\n", "'", '"', "<b attr", "<!DOCTYPE x>",
            "<style>.a{}</style>", "word ", "<em>", "</em>", "=v ", "<td>",
        ]
        for _ in range(400):
            markup = "".join(
                rng.choice(frags) for _ in range(rng.randint(1, 40))
            )
            self.assert_same(markup)
