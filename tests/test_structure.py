"""Structure-preserving extraction: markdown rendering, table
extraction, anchor-text indexing.

Pure-Python semantics are pinned with exact goldens; the Spark
surfaces are pinned equal to the pure functions on the same rows
(the distributed path must be bit-identical to the single-process
reference path — same contract as test_fastextract)."""

import pytest

from pyspark.sql import functions as F

from conftest import fixture_bytes

from fuzi_spark.ops.markdown import to_markdown, to_markdown_df
from fuzi_spark.ops.tables import extract_tables, extract_tables_df


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("fuzi-structure-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


FULL_DOC = """<html><head><title>Doc 7</title></head><body>
<h2>Section 7</h2>
<p>Intro paragraph for document 7 with plain text.</p>
<ul><li>alpha 7</li><li>beta 7</li></ul>
<p>See <a href="https://ex.com/7">link 7</a> and <code>v7</code>.</p>
<blockquote><p>Quoted 7</p></blockquote>
<pre><code>code line 7
second line</code></pre>
<table><tr><th>K</th><th>V</th></tr><tr><td>id</td><td>7</td></tr></table>
<p>Tail <strong>bold 7</strong> and <em>it</em>.</p>
<hr>
<p><img src="img/7.png" alt="pic 7"></p>
</body></html>"""

FULL_MD = (
    "# Doc 7\n\n"
    "## Section 7\n\n"
    "Intro paragraph for document 7 with plain text.\n\n"
    "- alpha 7\n- beta 7\n\n"
    "See [link 7](https://ex.com/7) and `v7`.\n\n"
    "> Quoted 7\n\n"
    "```\ncode line 7\nsecond line\n```\n\n"
    "| K | V |\n| --- | --- |\n| id | 7 |\n\n"
    "Tail **bold 7** and *it*.\n\n"
    "---\n\n"
    "![pic 7](img/7.png)"
)


class TestMarkdown:
    def test_full_document_golden(self):
        md, err = to_markdown(FULL_DOC)
        assert err == 0
        assert md == FULL_MD

    def test_nested_and_ordered_lists(self):
        md, err = to_markdown(
            "<body><ol><li>one<ul><li>inner</li></ul></li>"
            "<li>two</li></ol></body>"
        )
        assert err == 0
        assert md == "1. one\n  - inner\n2. two"

    def test_br_and_inline_span_spacing(self):
        assert to_markdown("<body><p>a<br>b</p></body>")[0] == "a\nb"
        assert (
            to_markdown("<body><p>a<span> b </span>c</p></body>")[0]
            == "a b c"
        )

    def test_emphasis_markers_hug_text(self):
        assert (
            to_markdown("<body><p>x<b> y </b>z</p></body>")[0] == "x**y**z"
        )
        assert to_markdown("<body><p><em></em>e</p></body>")[0] == "e"

    def test_pre_preserves_raw_whitespace(self):
        md, _ = to_markdown(
            "<body><pre>  indented\n\ttabbed  line</pre></body>"
        )
        assert md == "```\n  indented\n\ttabbed  line\n```"

    def test_table_pipe_escaped(self):
        md, _ = to_markdown(
            "<body><table><tr><th>H</th></tr>"
            "<tr><td>a|b</td></tr></table></body>"
        )
        assert "| a\\|b |" in md

    def test_anchor_wrapped_image(self):
        md, _ = to_markdown(
            '<body><p><a href="u"><img src="s" alt="al"></a></p></body>'
        )
        assert md == "[![al](s)](u)"

    def test_blockquote_multi_block(self):
        md, _ = to_markdown(
            "<body><blockquote><p>one</p><p>two</p></blockquote></body>"
        )
        assert md == "> one\n>\n> two"

    def test_boilerplate_stripped_by_default(self):
        doc = (
            "<body><nav><a href='/a'>Home</a><a href='/b'>About</a></nav>"
            "<p>Real content paragraph that survives the strip.</p>"
            "<script>var x = 1;</script></body>"
        )
        md, _ = to_markdown(doc)
        assert md == "Real content paragraph that survives the strip."
        md_raw, _ = to_markdown(doc, strip=False)
        assert "[Home](/a)" in md_raw
        assert "var x" not in md_raw, "script text never renders"

    def test_never_raises_and_error_flag(self):
        assert to_markdown("") == ("", 1)
        md, err = to_markdown("\x00\xff garbage <<<>")
        assert isinstance(md, str)

    def test_deep_chain_no_recursion(self):
        deep = "<body>" + "<div>" * 1500 + "x" + "</div>" * 1500 + "</body>"
        assert to_markdown(deep) == ("x", 0)

    def test_xml_degrades_to_paragraphs(self):
        md, err = to_markdown(
            "<?xml version='1.0'?><r><a>one</a><b>two</b></r>"
        )
        assert err == 0
        assert md == "one\n\ntwo"

    def test_reference_fixture_renders(self):
        web = fixture_bytes("web.html").decode("utf-8", "replace")
        md, err = to_markdown(web)
        assert err == 0
        assert md.startswith("# mattt/Ono")
        assert "<div" not in md and "<script" not in md

    def test_spark_surface_matches_pure(self, spark):
        rows = [
            (1, FULL_DOC),
            (2, "<body><p>plain</p></body>"),
            (3, "garbage <<"),
            (4, None),
        ]
        d = spark.createDataFrame(rows, "doc_id long, markup string")
        got = {
            r.doc_id: r for r in to_markdown_df(d).orderBy("doc_id").collect()
        }
        for did, markup in rows:
            if markup is None:
                assert got[did].markdown == "" and got[did].parse_error == 1
            else:
                md, err = to_markdown(markup)
                assert got[did].markdown == md
                assert got[did].parse_error == err
        assert got[1].n_chars == len(FULL_MD)


class TestExtractTables:
    def test_header_detection_and_flatten(self):
        rows = extract_tables(
            "<body><table><thead><tr><th>A</th><th>B</th></tr></thead>"
            "<tbody><tr><td>1</td><td><b>bold</b> cell</td></tr>"
            "</tbody></table></body>"
        )
        assert rows == [
            {"table_idx": 0, "row_idx": 0, "is_header": 1,
             "cells": ["A", "B"]},
            {"table_idx": 0, "row_idx": 1, "is_header": 0,
             "cells": ["1", "bold cell"]},
        ]

    def test_all_th_row_is_header_without_thead(self):
        rows = extract_tables(
            "<table><tr><th>H</th></tr><tr><td>d</td></tr></table>"
        )
        assert [r["is_header"] for r in rows] == [1, 0]

    def test_nested_table_own_index_no_double_count(self):
        rows = extract_tables(
            "<table><tr><td>outer<table><tr><td>inner</td></tr>"
            "</table></td></tr></table>"
        )
        # stringValue concatenation (reference P5 contract): no space is
        # injected between "outer" and the nested table's text
        assert [(r["table_idx"], r["cells"]) for r in rows] == [
            (0, ["outerinner"]),
            (1, ["inner"]),
        ]

    def test_recovery_contract(self):
        assert extract_tables("garbage <<") == []
        assert extract_tables("<table><tr><td>solo") == [
            {"table_idx": 0, "row_idx": 0, "is_header": 0,
             "cells": ["solo"]}
        ]

    def test_spark_explode_matches_pure(self, spark):
        rows = [
            (1, "<table><tr><th>A</th></tr><tr><td>x</td></tr></table>"),
            (2, "<p>no tables</p>"),
            (3, None),
        ]
        d = spark.createDataFrame(rows, "doc_id long, markup string")
        got = extract_tables_df(d).orderBy("doc_id", "table_idx", "row_idx")
        out = [
            (r.doc_id, r.table_idx, r.row_idx, r.is_header,
             list(r.cells), r.n_cells)
            for r in got.collect()
        ]
        assert out == [
            (1, 0, 0, 1, ["A"], 1),
            (1, 0, 1, 0, ["x"], 1),
        ]


class TestAnchorTextIndex:
    def test_counts_top_anchor_and_tiebreak(self, spark):
        from fuzi_spark.ops.web import anchor_text_index

        rows = [
            (1, '<body><a href="https://t.com/p">Best  Page</a>'
                '<a href="https://t.com/p">Best Page</a>'
                '<a href="https://t.com/p">alt</a></body>'),
            (2, '<body><a href="https://t.com/p">alt</a>'
                '<a href="https://o.com/q">Only</a>'
                '<a href="https://o.com/q">  </a>'
                '<a href="">empty</a></body>'),
        ]
        d = spark.createDataFrame(rows, "doc_id long, markup string")
        got = {r.url: r for r in anchor_text_index(d).collect()}
        assert set(got) == {"https://t.com/p", "https://o.com/q"}
        t = got["https://t.com/p"]
        # ws-normalized "Best Page" x2 vs "alt" x2 -> lexicographic tie
        # break picks "Best Page" ("B" < "a")
        assert t.n_links == 4 and t.n_docs == 2
        assert t.top_anchor == "Best Page"
        o = got["https://o.com/q"]
        assert o.n_links == 1 and o.n_docs == 1, "blank anchors drop"
        assert o.top_anchor == "Only"

    def test_min_links_filter(self, spark):
        from fuzi_spark.ops.web import anchor_text_index

        d = spark.createDataFrame(
            [(1, '<body><a href="https://a.com/x">a</a>'
                 '<a href="https://a.com/x">a</a>'
                 '<a href="https://b.com/y">b</a></body>')],
            "doc_id long, markup string",
        )
        got = anchor_text_index(d, min_links=2).collect()
        assert [r.url for r in got] == ["https://a.com/x"]


class TestJsonLd:
    DOC = (
        '<html><head>'
        '<script type="application/ld+json">{"@type":"Article",'
        '"headline":"T1","datePublished":"2024-01-02",'
        '"author":{"@type":"Person","name":"Ann"},'
        '"url":"https://e.com/1"}</script>'
        '<script type="application/ld+json">{"@graph":['
        '{"@type":["NewsArticle","Article"],"name":"G0",'
        '"author":["Bob","Carl"]},'
        '{"@type":"WebPage","url":"https://e.com/w"}]}</script>'
        '<script type="application/ld+json">[{"@type":"BreadcrumbList",'
        '"name":"B"},"stray"]</script>'
        '<script type="application/ld+json">{bad json</script>'
        '<script>var x=1;</script>'
        '</head><body></body></html>'
    )

    def test_items_types_and_fallbacks(self):
        from fuzi_spark.ops.jsonld import extract_json_ld

        rows = extract_json_ld(self.DOC)
        assert [(r["script_idx"], r["item_idx"], r["ld_type"]) for r in rows] == [
            (0, 0, "Article"), (1, 0, "NewsArticle"),
            (1, 1, "WebPage"), (2, 0, "BreadcrumbList"),
        ]
        a = rows[0]
        # headline fallback for name; author object -> name
        assert a["name"] == "T1" and a["author"] == "Ann"
        assert a["date_published"] == "2024-01-02"
        g = rows[1]
        # @type list -> first; author list -> first entry
        assert g["ld_type"] == "NewsArticle" and g["author"] == "Bob"
        # malformed-JSON script consumed a script_idx but yields no rows
        assert all(r["script_idx"] != 3 for r in rows)

    def test_recovery(self):
        from fuzi_spark.ops.jsonld import extract_json_ld

        assert extract_json_ld("garbage") == []
        assert extract_json_ld("<script type='application/ld+json'>null</script>") == []

    def test_spark_explode_matches_pure(self, spark):
        from fuzi_spark.ops.jsonld import extract_json_ld, extract_json_ld_df

        d = spark.createDataFrame(
            [(1, self.DOC), (2, "<p>none</p>"), (3, None)],
            "doc_id long, markup string",
        )
        got = [
            (r.doc_id, r.script_idx, r.item_idx, r.ld_type, r.name,
             r.date_published, r.author, r.url)
            for r in extract_json_ld_df(d)
            .orderBy("doc_id", "script_idx", "item_idx").collect()
        ]
        want = [
            (1, r["script_idx"], r["item_idx"], r["ld_type"], r["name"],
             r["date_published"], r["author"], r["url"])
            for r in extract_json_ld(self.DOC)
        ]
        assert got == want


class TestReadability:
    def test_hand_computed_flesch(self, spark):
        from fuzi_spark.ops.textstats import readability_metrics

        d = spark.createDataFrame(
            [(1, "Hello world. It is fun!"), (2, ""), (3, "...")],
            "doc_id long, text string",
        )
        got = {r.doc_id: r for r in readability_metrics(d).collect()}
        r = got[1]
        # words=5, sentences=2, vowel groups: He-llo(2) world(1) It(1)
        # is(1) fun(1) = 6
        assert (r.n_words, r.n_sentences, r.n_syllables) == (5, 2, 6)
        assert r.flesch == round(206.835 - 1.015 * (5 / 2) - 84.6 * (6 / 5), 4)
        for did in (2, 3):
            assert got[did].n_words == 0 and got[did].flesch is None
            assert got[did].n_sentences == 0


class TestHreflang:
    def test_planted_alternates(self, spark):
        from fuzi_spark.ops.web import hreflang_links

        markup = (
            '<head><link rel="stylesheet" href="/s.css">'
            '<link rel="alternate" hreflang="en" href="/en">'
            '<link rel="Alternate" hreflang="x-default" href="/x">'
            '<link rel="alternate" href="/no-hreflang">'
            '<link hreflang="fr" href="/fr"></head>'
        )
        d = spark.createDataFrame(
            [(1, markup)], "doc_id long, markup string"
        )
        got = [
            (r.seq, r.hreflang, r.href)
            for r in hreflang_links(d).orderBy("seq").collect()
        ]
        # mixed-case rel matches; rel-less and hreflang-less links drop
        assert got == [(0, "en", "/en"), (1, "x-default", "/x")]


class TestImageCaptions:
    def test_precedence_ladder(self):
        from fuzi_spark.ops.captions import extract_captions

        m = (
            "<body>"
            '<figure><img src="a.jpg" alt="ALT-A">'
            "<figcaption> Fig  one </figcaption></figure>"
            '<img src="b.jpg" alt="" title="tb">'
            '<img src="c.jpg">'
            '<img alt="d alt">'
            "</body>"
        )
        got = [
            (r["img_idx"], r["media_ref"], r["caption"],
             r["caption_source"])
            for r in extract_captions(m)
        ]
        assert got == [
            # figcaption beats alt; inner whitespace normalizes
            (0, "a.jpg", "Fig one", "figcaption"),
            # empty alt falls through to title
            (1, "b.jpg", "tb", "title"),
            (2, "c.jpg", None, "none"),
            # src-less img still emits, media_ref NULL
            (3, None, "d alt", "alt"),
        ]

    def test_nested_figure_and_recovery(self):
        from fuzi_spark.ops.captions import extract_captions

        # img outside the figure must NOT adopt its figcaption
        m = (
            "<figure><figcaption>cap</figcaption></figure>"
            '<img src="x.jpg" alt="own">'
        )
        (r,) = extract_captions(m)
        assert (r["caption"], r["caption_source"]) == ("own", "alt")
        assert extract_captions("<<<garbage") == []
        assert extract_captions("") == []

    def test_spark_matches_pure(self, spark):
        from fuzi_spark.ops.captions import (
            extract_captions,
            extract_captions_df,
        )

        m = (
            '<figure><img src="a.jpg"><figcaption>c</figcaption>'
            '</figure><img title="t">'
        )
        d = spark.createDataFrame(
            [(7, m)], "doc_id long, markup string"
        )
        got = [
            (r.img_idx, r.media_ref, r.caption, r.caption_source)
            for r in extract_captions_df(d).orderBy("img_idx").collect()
        ]
        want = [
            (r["img_idx"], r["media_ref"], r["caption"],
             r["caption_source"])
            for r in extract_captions(m)
        ]
        assert got == want


class TestDocOutline:
    def test_stack_semantics(self):
        from fuzi_spark.ops.captions import extract_outline

        m = (
            "<h1>T</h1><h4>D</h4><h2>A</h2><h3>B</h3><h2>C</h2>"
            "<h1>T2</h1><h3>E</h3>"
        )
        got = [
            (r["seq"], r["level"], r["heading"], r["path"])
            for r in extract_outline(m)
        ]
        assert got == [
            (0, 1, "T", ""),
            (1, 4, "D", "T"),       # skipped levels inherit h1 alone
            (2, 2, "A", "T"),       # h2 pops the h4
            (3, 3, "B", "T > A"),
            (4, 2, "C", "T"),       # sibling h2 pops h3+h2
            (5, 1, "T2", ""),       # new h1 resets the stack
            (6, 3, "E", "T2"),
        ]

    def test_empty_and_soup(self):
        from fuzi_spark.ops.captions import extract_outline

        assert extract_outline("") == []
        assert extract_outline("<p>no headings</p>") == []
        # unclosed heading recovers, emits once
        rows = extract_outline("<h2>open<h2>next</h2>")
        assert [r["heading"] for r in rows][0].startswith("open")


class TestHiddenText:
    """SEO-cloaking stats: inline-style / boolean-attribute hiding,
    subtree-once block counting, neither-class script text."""

    MARKUP = (
        "<html><head><title>TT</title></head><body>"
        "<p>vvvv</p>"
        '<div style="display:none">hhh<b>ii</b></div>'
        '<span hidden>xxx<b style="visibility:hidden">yy</b></span>'
        '<p style="opacity:0.5">dd</p>'
        '<p style="font-size:10px">ee</p>'
        '<i aria-hidden="true">zz</i>'
        "<script>junk()</script></body></html>"
    )

    def test_planted_page(self, spark):
        from fuzi_spark.ops.web import hidden_text

        d = spark.createDataFrame(
            [(1, self.MARKUP), (2, "<p>abc</p>"), (3, None)],
            "doc_id long, markup string",
        )
        got = {
            r.doc_id: r
            for r in d.select(
                "doc_id", hidden_text("markup").alias("h")
            ).select("doc_id", "h.*").collect()
        }
        r = got[1]
        # visible: vvvv + dd + ee = 8 (title/script are NEITHER;
        # opacity:0.5 and font-size:10px are decoys, stay visible)
        # hidden: hhh+ii (display:none div, nested b inherits) +
        # xxx+yy (hidden-boolean span, nested visibility:hidden b
        # inherits WITHOUT a second block) + zz (aria-hidden) = 12
        assert (r.visible_len, r.hidden_len, r.n_hidden_blocks) == (8, 12, 3)
        assert r.hidden_frac == 12 / 20 and r.cloaked == 1
        clean = got[2]
        assert (clean.visible_len, clean.hidden_len, clean.cloaked) == (
            3, 0, 0,
        )
        assert clean.hidden_frac == 0.0
        # NULL markup -> all-NULL struct, never a fake zero
        assert got[3].visible_len is None and got[3].cloaked is None

    def test_style_regex_boundaries(self):
        from fuzi_spark.ops.web import _HIDDEN_STYLE_RE as R

        assert R.search("display:none")
        assert R.search("color:red; display : NONE ;")
        assert R.search("opacity:0")
        assert R.search("opacity:0.00;color:red")
        assert R.search("font-size:0")
        assert R.search("font-size:0px;x:y")
        assert R.search("visibility:hidden")
        assert not R.search("opacity:0.5")
        assert not R.search("font-size:10px")
        assert not R.search("font-size:0.8em")
        # declaration anchor: a property NAME ending in the keyword
        # must not match
        assert not R.search("my-display:none")
        assert not R.search("padding:1px; xopacity:0.5")


class TestPublishDate:
    def test_precedence_and_fallthrough(self, spark):
        from fuzi_spark.ops.web import publish_date

        rows = [
            # meta wins over time and url
            (1, '<html><head><meta property="article:published_time" '
                'content="2023-05-11T08:30:00Z"></head><body>'
                '<time datetime="2020-01-01">x</time></body></html>',
             "https://h.com/2019/1/2/a"),
            # INVALID meta falls through to the valid time
            (2, '<html><head><meta property="article:published_time" '
                'content="2023-99-11"></head><body>'
                '<time datetime="2021-12-31T23:00">x</time></body></html>',
             "https://h.com/x"),
            # no DOM date; url path date zero-pads
            (3, "<html><body><p>x</p></body></html>",
             "https://h.com/2022/3/7/post"),
            # impossible url month (13) is rejected -> NULL
            (4, "<html><body><p>x</p></body></html>",
             "https://h.com/2022/13/7/post"),
            # NULL markup, date-less url -> NULL
            (5, None, "https://h.com/about"),
        ]
        d = spark.createDataFrame(
            rows, "doc_id long, markup string, url string"
        )
        got = {r.doc_id: r for r in publish_date(d).collect()}
        assert (got[1].published, got[1].date_source) == ("2023-05-11", "meta")
        assert (got[2].published, got[2].date_source) == ("2021-12-31", "time")
        assert (got[3].published, got[3].date_source) == ("2022-03-07", "url")
        assert got[4].published is None and got[4].date_source is None
        assert got[5].published is None and got[5].has_date == 0

    def test_valid_iso_prefix(self):
        from fuzi_spark.ops.web import _valid_iso_prefix

        assert _valid_iso_prefix("2024-02-29T10:00:00Z") == "2024-02-29"
        assert _valid_iso_prefix(" 2024-01-01 ") == "2024-01-01"
        assert _valid_iso_prefix("2024-00-10") is None
        assert _valid_iso_prefix("2024-12-32") is None
        assert _valid_iso_prefix("yesterday") is None
        assert _valid_iso_prefix(None) is None


class TestPaywall:
    def test_signal_classes(self, spark):
        from fuzi_spark.ops.web import paywall_signals

        rows = [
            # combined: hidden overlay (marker) + phrase split by markup
            (1, '<html><body><div class="meter paywall-msg" '
                'style="display:none"><b>Subscribe</b> to '
                "<i>continue</i></div></body></html>"),
            # id-based regwall marker, no phrase
            (2, '<html><body><div id="regwall-root">Locked</div>'
                "</body></html>"),
            # phrase inside a <script> must NOT count
            (3, "<html><body><script>var m='subscribe to continue';"
                "</script><p>free text</p></body></html>"),
            # schema false in BODY json-ld
            (4, '<html><body><script type="application/ld+json">'
                '{"isAccessibleForFree":"False"}</script></body></html>'),
            (5, None),
        ]
        d = spark.createDataFrame(rows, "doc_id long, markup string")
        got = {
            r.doc_id: r
            for r in d.select(
                "doc_id", paywall_signals("markup").alias("p")
            ).select("doc_id", "p.*").collect()
        }
        r1 = got[1]
        assert (r1.n_wall_markers, r1.has_wall_phrase, r1.paywalled) == (
            1, 1, 1,
        )
        assert (got[2].n_wall_markers, got[2].has_wall_phrase) == (1, 0)
        assert got[2].paywalled == 1
        r3 = got[3]
        assert (r3.has_wall_phrase, r3.paywalled) == (0, 0)
        assert (got[4].has_paywall_schema, got[4].paywalled) == (1, 1)
        assert got[5].paywalled is None


class TestBitextPairs:
    def _docs(self, spark, rows):
        return spark.createDataFrame(
            rows, "doc_id long, url string, markup string"
        )

    @staticmethod
    def _page(*links):
        return (
            "<html><head>" + "".join(links)
            + "</head><body><p>x</p></body></html>"
        )

    def test_reciprocal_handshake(self, spark):
        from fuzi_spark.ops.web import bitext_pairs

        alt = '<link rel="alternate" hreflang="%s" href="%s">'
        rows = [
            (1, "https://e.com/a/en", self._page(
                alt % ("de", "https://e.com/a/de"))),
            (2, "https://e.com/a/de", self._page(
                alt % ("en", "https://e.com/a/en"))),
            # one-way: 3 declares 4, 4 declares NOTHING
            (3, "https://e.com/b/en", self._page(
                alt % ("de", "https://e.com/b/de"))),
            (4, "https://e.com/b/de", self._page()),
            # alternate href resolves to NO doc in the corpus
            (5, "https://e.com/c/en", self._page(
                alt % ("de", "https://gone.com/c/de"))),
            # self-declaration must not pair with itself
            (6, "https://e.com/d/en", self._page(
                alt % ("de", "https://e.com/d/en"))),
        ]
        d = self._docs(spark, rows)
        got = [
            (r.src_id, r.tgt_id)
            for r in bitext_pairs(d).collect()
        ]
        assert got == [(1, 2)]
        loose = {
            (r.src_id, r.tgt_id)
            for r in bitext_pairs(d, require_reciprocal=False).collect()
        }
        assert loose == {(1, 2), (3, 4)}

    def test_lang_pair_selection(self, spark):
        from fuzi_spark.ops.web import bitext_pairs

        alt = '<link rel="alternate" hreflang="%s" href="%s">'
        rows = [
            (1, "https://e.com/fr-src", self._page(
                alt % ("FR", "https://e.com/fr-tgt"))),
            (2, "https://e.com/fr-tgt", self._page(
                alt % ("en", "https://e.com/fr-src"))),
        ]
        d = self._docs(spark, rows)
        # default en->de finds nothing; en->fr finds the pair
        assert bitext_pairs(d).count() == 0
        got = bitext_pairs(d, src_lang="en", tgt_lang="fr").collect()
        assert [(r.src_id, r.tgt_id) for r in got] == [(1, 2)]


class TestOperatorBattery:
    """bench.py runs every `queries()` entry; the lists that name queries
    must agree with it, and its timed action must run every column."""

    def test_query_lists_agree(self):
        import importlib.util
        import os

        import __spark_entry__ as E

        path = os.path.join(
            os.path.dirname(os.path.dirname(os.path.abspath(__file__))),
            "tools", "explain_plans.py")
        spec = importlib.util.spec_from_file_location("explain_plans", path)
        explain_plans = importlib.util.module_from_spec(spec)
        spec.loader.exec_module(explain_plans)

        names = set(E.queries())
        assert names == set(E.oracle_sql())
        assert {n for n, _ in explain_plans.CASES} <= names

    def test_timed_action_runs_python_columns(self, spark):
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        import bench

        @pandas_udf("long")
        def boom(s: pd.Series) -> pd.Series:
            raise ValueError("boom")

        df = spark.range(8).withColumn("x", boom("id"))
        # count() reads no column, so the optimizer drops the failing stage
        assert df.count() == 8
        with pytest.raises(Exception, match="boom"):
            bench.run_query(df)


class TestSharedParsePlan:
    def test_query_columns_plan_one_python_node(self, spark):
        """DOM columns share one parse per document only when pyspark
        evaluates them in the same ArrowEvalPython node over the same
        markup input; the benchmark's nine query columns must plan so."""
        import re

        from fuzi_spark import udfs
        from perfbench.workloads import QUERIES

        docs = spark.createDataFrame(
            [("d1", [("text", "<p>x</p>", None, 0)])],
            f"doc_id string, spans {udfs.SPANS_ARRAY.simpleString()}",
        ).select("doc_id", udfs.markup_from_spans_col("spans").alias("markup"))
        cols = [
            (udfs.doc_meta() if fn == "doc_meta" else getattr(udfs, fn)(expr, ns=ns))(
                "markup"
            ).alias(name)
            for name, fn, expr, ns in QUERIES
        ]
        plan = docs.select("doc_id", *cols)._jdf.queryExecution().executedPlan().toString()
        assert len(QUERIES) == 9
        assert plan.count("ArrowEvalPython") == 1
        (node,) = [line for line in plan.splitlines() if "ArrowEvalPython" in line]
        inputs = re.findall(r"_udf\((\w+#\d+)\)", node)
        assert len(inputs) == 9 and len(set(inputs)) == 1


class TestOneArrowBoundary:
    # whole-batch numpy kernels: they loop over a batch themselves
    WHOLE_BATCH = {"ops/bloom.py", "ops/decomp.py", "ops/quantize.py", "ops/similarity.py"}

    def test_per_row_operators_name_no_batch_format(self):
        """udfs.py alone names the batch format of a per-row operator:
        elsewhere in the package no module names `row_mapper` or the Arrow
        operators, and only the whole-batch kernels call `.mapInPandas`."""
        import ast
        import pathlib

        import fuzi_spark

        pkg = pathlib.Path(fuzi_spark.__file__).parent
        map_in_pandas = set()
        for path in sorted(pkg.rglob("*.py")):
            rel = path.relative_to(pkg).as_posix()
            if rel == "udfs.py":
                continue
            tree = ast.parse(path.read_text(), rel)
            names = {n.id for n in ast.walk(tree) if isinstance(n, ast.Name)}
            names |= {n.attr for n in ast.walk(tree) if isinstance(n, ast.Attribute)}
            names |= {a.name for n in ast.walk(tree) if isinstance(n, ast.ImportFrom)
                      for a in n.names}
            assert not names & {"row_mapper", "mapInArrow", "arrow_udf"}, rel
            if "mapInPandas" in names:
                map_in_pandas.add(rel)
        # a new per-row operator belongs in udfs.map_rows, not here
        assert map_in_pandas <= self.WHOLE_BATCH, map_in_pandas - self.WHOLE_BATCH
