"""The per-row operator helpers in fuzi_spark/udfs.py — `row_mapper`
(mapInPandas), `doc_column` and `dom_column` (pandas_udf) — and the query
columns built on them."""

import gc
import weakref

import pandas as pd
import pytest

from pyspark.sql.types import LongType, StringType, StructField, StructType

from fuzi_spark.udfs import _fields, doc_column, row_mapper

WORDS_SCHEMA = "doc_id long, n int, word string"


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[2]")
        .appName("fuzi-udfs-tests")
        .config("spark.sql.shuffle.partitions", "4")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


def _words(doc_id, text):
    """An explode: one output row per word, none for a null text."""
    if text is None:
        return []
    return [(doc_id, i, w) for i, w in enumerate(text.split())]


def _tuples(pdf):
    return list(pdf.itertuples(index=False, name=None))


class TestRowMapper:
    def test_empty_batch(self):
        pdf = pd.DataFrame(
            {"doc_id": pd.Series([], dtype="int64"), "text": pd.Series([], dtype=object)}
        )
        (out,) = row_mapper(_words, WORDS_SCHEMA)(iter([pdf]))
        assert len(out) == 0
        assert list(out.columns) == ["doc_id", "n", "word"]

    def test_zero_one_and_n_rows_per_input(self):
        pdf = pd.DataFrame({"doc_id": [1, 2, 3], "text": ["", "a", "a b c"]})
        (out,) = row_mapper(_words, WORDS_SCHEMA)(iter([pdf]))
        assert _tuples(out) == [(2, 0, "a"), (3, 0, "a"), (3, 1, "b"), (3, 2, "c")]

    def test_one_frame_per_batch(self):
        batches = [
            pd.DataFrame({"doc_id": [1], "text": ["a b"]}),
            pd.DataFrame({"doc_id": [2], "text": [None]}),
        ]
        outs = list(row_mapper(_words, WORDS_SCHEMA)(iter(batches)))
        assert [len(o) for o in outs] == [2, 0]

    def test_null_inputs_arrive_as_none(self):
        seen = []

        def fn(*row):
            seen.append(row)
            return [(0,)]

        pdf = pd.DataFrame(
            {"x": [1.5, None], "s": ["a", None], "b": [b"x", None], "i": [7, 8]}
        )
        (out,) = row_mapper(fn, "k int")(iter([pdf]))
        assert seen == [(1.5, "a", b"x", 7), (None, None, None, 8)]
        assert _tuples(out) == [(0,), (0,)]

    def test_one_row_per_input_with_ok_flag(self):
        def fn(ref, n):
            if n is None or n < 0:
                return [(ref, None, 0)]
            return [(ref, n * 2, 1)]

        schema = "ref string, doubled int, ok int"
        pdf = pd.DataFrame({"ref": ["a", "b", "c"], "n": [2, -1, None]})
        (out,) = row_mapper(fn, schema)(iter([pdf]))
        assert [(r, ok) for r, _d, ok in _tuples(out)] == [("a", 1), ("b", 0), ("c", 0)]
        assert out["doubled"][0] == 4 and out["doubled"][1:].isna().all()

    def test_long_column_with_null_keeps_64_bits(self):
        big = (1 << 62) + 1
        schema = StructType([StructField("h", LongType())])
        pdf = pd.DataFrame({"v": pd.Series([big, None], dtype=object)})
        (out,) = row_mapper(lambda v: [(v,)], schema)(iter([pdf]))
        assert out["h"][0] == big and pd.isna(out["h"][1])


@pytest.mark.parametrize(
    "schema,want",
    [
        ("a long, b string", [("a", True), ("b", False)]),
        ("markdown: string, parse_error: int", [("markdown", False), ("parse_error", False)]),
        (
            "struct<a:bigint,b:array<struct<x:int,y:int>>,c:decimal(10,2)>",
            [("a", True), ("b", False), ("c", False)],
        ),
        ("int", None),
        ("array<struct<allow:int,pattern:string>>", None),
        (StringType(), None),
        (
            StructType([StructField("h", LongType()), StructField("s", StringType())]),
            [("h", True), ("s", False)],
        ),
    ],
)
def test_fields(schema, want):
    assert _fields(schema) == want


def test_row_mapper_spark_round_trip(spark):
    def words(doc_id, text):  # local: workers cannot import this module
        return [] if text is None else [(doc_id, i, w) for i, w in enumerate(text.split())]

    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, ""), (4, "c")], "doc_id long, text string"
    )
    got = df.mapInPandas(row_mapper(words, WORDS_SCHEMA), schema=WORDS_SCHEMA)
    assert got.schema.simpleString() == "struct<doc_id:bigint,n:int,word:string>"
    assert sorted(map(tuple, got.collect())) == [(1, 0, "a"), (1, 1, "b"), (4, 0, "c")]


def test_doc_column_spark_round_trip(spark):
    length = doc_column("int", lambda m: None if m is None else len(m))
    head = doc_column(
        "struct<n:int,first:string>", lambda m: None if not m else (len(m), m[0])
    )
    df = spark.createDataFrame([("abc",), (None,), ("",)], "markup string")
    got = df.select(
        "markup", length("markup").alias("n"), head("markup").alias("s")
    )
    assert got.schema.simpleString() == (
        "struct<markup:string,n:int,s:struct<n:int,first:string>>"
    )
    rows = {r.markup: (r.n, tuple(r.s)) for r in got.collect()}
    # None from fn is an all-null struct, not a null struct
    assert rows == {"abc": (3, (3, "a")), None: (None, (None, None)), "": (0, (None, None))}


def test_query_columns_pass_ns(spark):
    """`ns` reaches every query column: the document binds urn:a only as
    its default namespace, so the `a:` prefix exists only through ns."""
    from fuzi_spark import udfs

    ns = {"a": "urn:a"}
    df = spark.createDataFrame(
        [('<r xmlns="urn:a"><x>1</x><x>2</x></r>',)], "markup string"
    )
    r = df.select(
        udfs.xpath_eval("count(//a:x)", doc_type="xml", ns=ns)("markup").alias("ev"),
        udfs.xpath_double("count(//a:x)", doc_type="xml", ns=ns)("markup").alias("d"),
        udfs.xpath_string("string(//a:x[2])", doc_type="xml", ns=ns)("markup").alias("s"),
        udfs.xpath_select("//a:x", doc_type="xml", ns=ns)("markup").alias("sel"),
    ).collect()[0]
    assert (r.ev.bool_value, r.ev.double_value, r.ev.string_value) == (True, 2.0, "2")
    assert r.d == 2.0 and r.s == "2"
    assert [e.string_value for e in r.sel] == ["1", "2"]


ATOM = "http://www.w3.org/2005/Atom"
PAGE = (
    "<html><head><title>Page</title></head><body>"
    "<ul><li>a</li><li>b</li></ul><p>x</p></body></html>"
)
FEED = (
    f'<?xml version="1.0"?><feed xmlns="{ATOM}"><title>Feed</title>'
    "<entry><title>e1</title></entry><entry><title>e2</title></entry></feed>"
)
# upper-case tags: HTML parsing folds them, XML parsing keeps them
SHOUT = "<HTML><HEAD><TITLE>Shout</TITLE></HEAD><BODY><P>y</P></BODY></HTML>"


@pytest.fixture
def parses(monkeypatch):
    """Every parse_html / parse_xml call's markup, in call order."""
    from fuzi_spark import htmlparser, xmlparser

    seen = []
    for mod, name in ((htmlparser, "parse_html"), (xmlparser, "parse_xml")):

        def counted(markup, *a, _real=getattr(mod, name), **k):
            seen.append(markup)
            return _real(markup, *a, **k)

        monkeypatch.setattr(mod, name, counted)
    return seen


def _query_columns():
    from fuzi_spark import udfs

    return [
        udfs.xpath_select("//li"),
        udfs.css_select("ul li + li"),
        udfs.xpath_string("//title"),
        udfs.xpath_double("count(//li)"),
        udfs.doc_meta(),
    ]


def _rows(out):
    """A pandas_udf batch result as a list of plain values per row, nulls
    as None."""
    out = out.astype(object).where(out.notna(), None)
    if isinstance(out, pd.DataFrame):
        return list(out.itertuples(index=False, name=None))
    return out.tolist()


class TestSharedParse:
    def test_each_document_parsed_once_per_batch(self, parses):
        markup = pd.Series([PAGE, FEED, None, SHOUT, FEED])
        cols = _query_columns()
        outs = [_rows(col.func(markup)) for col in cols]
        assert len(parses) == markup.notna().sum()
        for col, out in zip(cols, outs):
            assert out == [_rows(col.func(pd.Series([m])))[0] for m in markup]
        assert [meta[2] for meta in outs[4]] == ["html", "feed", None, "html", "feed"]

    def test_over_cap_batch_parses_the_rest_per_column(self, parses):
        from fuzi_spark import udfs

        # two documents of 3/4 of the cap: only the first one's DOM is kept
        n_items = udfs._SHARED_MARKUP_CHARS * 3 // 4 // len("<li>item</li>")
        big = "<html><body><ul>" + "<li>item</li>" * n_items + "</ul></body></html>"
        markup = pd.Series([PAGE, big, big.replace("<li>item", "<li>x", 2), FEED])
        cols = [udfs.xpath_double("count(//li)"), udfs.xpath_string("//li[2]"),
                udfs.doc_meta()]
        over = [_rows(col.func(markup)) for col in cols]
        assert len(parses) == 2 + len(cols) * 2
        under = [[_rows(col.func(pd.Series([m])))[0] for m in markup] for col in cols]
        assert over == under
        assert over[0][1:3] == [n_items, n_items]
        assert over[1][1:3] == ["item", "x"]

    def test_doms_freed_with_the_batch(self):
        from fuzi_spark import udfs

        markup = pd.Series([PAGE, FEED])
        docs = list(udfs._batch_docs(markup, None))
        assert list(udfs._batch_docs(markup, None)) == docs
        freed = weakref.ref(docs[0])
        del docs
        gc.collect()
        assert freed() is not None
        del markup
        gc.collect()
        assert freed() is None
        assert udfs._batch_doms == {}

    def test_columns_leak_nothing_to_each_other(self, spark):
        """One select over shared DOMs equals each column selected alone:
        an `ns` binding stays in its own column, and the same markup
        read as HTML and as XML keeps both readings."""
        from fuzi_spark import udfs

        cols = {
            "ns_entries": udfs.xpath_select("//a:entry", ns={"a": ATOM}),
            "bare_entries": udfs.xpath_select("//a:entry"),
            "ns_count": udfs.xpath_double("count(//a:entry)", ns={"a": ATOM}),
            "html_title": udfs.xpath_string("//title", doc_type="html"),
            "xml_title": udfs.xpath_string("//title", doc_type="xml"),
            "html_meta": udfs.doc_meta(doc_type="html"),
            "xml_meta": udfs.doc_meta(doc_type="xml"),
            "sniffed_meta": udfs.doc_meta(),
        }
        df = spark.createDataFrame(
            [(1, FEED), (2, SHOUT), (3, None), (4, PAGE)], "id int, markup string"
        ).coalesce(1)

        def by_id(rows, name):
            return {r.id: r[name] for r in rows}

        together = df.select("id", *[c("markup").alias(n) for n, c in cols.items()]).collect()
        for name, col in cols.items():
            alone = df.select("id", col("markup").alias(name)).collect()
            assert by_id(together, name) == by_id(alone, name), name
        assert {i: len(e) for i, e in by_id(together, "ns_entries").items()} == {
            1: 2, 2: 0, 3: 0, 4: 0}
        assert all(e == [] for e in by_id(together, "bare_entries").values())
        assert by_id(together, "html_title")[2] == "Shout"
        assert by_id(together, "xml_title")[2] == ""
        assert by_id(together, "html_meta")[2].title == "Shout"
        assert by_id(together, "xml_meta")[2].title is None
