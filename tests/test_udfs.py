"""The per-row operator helpers in fuzi_spark/udfs.py — `map_rows`
(mapInArrow), `doc_column` and `dom_column` (arrow_udf) — and the query
columns built on them."""

import gc
import weakref

import pyarrow as pa
import pytest

from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from fuzi_spark import udfs
from fuzi_spark.udfs import doc_column, map_rows

WORDS_SCHEMA = "doc_id long, n int, word string"
WORDS_STRUCT = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("n", IntegerType()),
        StructField("word", StringType()),
    ]
)


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


class _Plan:
    """Stands in for a DataFrame: `map_rows(_Plan(), fn, schema)` returns
    the batch function it hands to mapInArrow."""

    def mapInArrow(self, mapper, schema):
        return mapper


def _mapper(fn, schema):
    return map_rows(_Plan(), fn, schema)


def _words(doc_id, text):
    """An explode: one output row per word, none for a null text."""
    if text is None:
        return []
    return [(doc_id, i, w) for i, w in enumerate(text.split())]


def _batch(**cols):
    return pa.RecordBatch.from_pydict(cols)


def _tuples(batch):
    return list(zip(*(c.to_pylist() for c in batch.columns)))


@pytest.mark.usefixtures("spark")  # DDL schemas go through Spark's parser
class TestRowMapper:
    def test_empty_batch(self):
        batch = _batch(doc_id=pa.array([], pa.int64()), text=pa.array([], pa.string()))
        (out,) = _mapper(_words, WORDS_SCHEMA)(iter([batch]))
        assert out.num_rows == 0
        assert out.schema.names == ["doc_id", "n", "word"]
        assert out.schema.types == [pa.int64(), pa.int32(), pa.string()]

    def test_zero_one_and_n_rows_per_input(self):
        batch = _batch(doc_id=[1, 2, 3], text=["", "a", "a b c"])
        (out,) = _mapper(_words, WORDS_SCHEMA)(iter([batch]))
        assert _tuples(out) == [(2, 0, "a"), (3, 0, "a"), (3, 1, "b"), (3, 2, "c")]

    def test_one_frame_per_batch(self):
        """One output batch per input batch, an empty one included."""
        batches = [_batch(doc_id=[1], text=["a b"]), _batch(doc_id=[2], text=[None])]
        outs = list(_mapper(_words, WORDS_SCHEMA)(iter(batches)))
        assert [o.num_rows for o in outs] == [2, 0]

    def test_null_inputs_arrive_as_none(self):
        seen = []

        def fn(*row):
            seen.append(row)
            return [(0,)]

        batch = _batch(
            x=pa.array([1.5, None]), s=pa.array(["a", None]),
            b=pa.array([b"x", None]), i=pa.array([7, 8]),
        )
        (out,) = _mapper(fn, "k int")(iter([batch]))
        assert seen == [(1.5, "a", b"x", 7), (None, None, None, 8)]
        assert _tuples(out) == [(0,), (0,)]

    def test_one_row_per_input_with_ok_flag(self):
        def fn(ref, n):
            if n is None or n < 0:
                return [(ref, None, 0)]
            return [(ref, n * 2, 1)]

        schema = "ref string, doubled int, ok int"
        batch = _batch(ref=["a", "b", "c"], n=pa.array([2, -1, None]))
        (out,) = _mapper(fn, schema)(iter([batch]))
        assert _tuples(out) == [("a", 4, 1), ("b", None, 0), ("c", None, 0)]

    def test_long_column_with_null_keeps_64_bits(self):
        big = (1 << 62) + 1
        schema = StructType([StructField("h", LongType())])
        batch = _batch(v=pa.array([big, None], pa.int64()))
        (out,) = _mapper(lambda v: [(v,)], schema)(iter([batch]))
        assert out.column(0).type == pa.int64()
        assert out.column(0).to_pylist() == [big, None]


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
def test_fields(spark, schema, want):
    """Every schema form an operator writes — a DataType or a DDL string —
    resolves to its Arrow type: (name, is 64-bit) per field of a struct,
    None for any other type."""
    _, arrow_type = udfs._arrow_type(schema)
    got = None
    if pa.types.is_struct(arrow_type):
        got = [(f.name, pa.types.is_int64(f.type)) for f in arrow_type]
    assert got == want


@pytest.mark.parametrize("schema", [WORDS_SCHEMA, WORDS_STRUCT], ids=["ddl", "struct"])
def test_map_rows_spark_round_trip(spark, schema):
    def words(doc_id, text):  # local: workers cannot import this module
        return [] if text is None else [(doc_id, i, w) for i, w in enumerate(text.split())]

    df = spark.createDataFrame(
        [(1, "a b"), (2, None), (3, ""), (4, "c")], "doc_id long, text string"
    )
    got = map_rows(df, words, schema)
    assert got.schema.simpleString() == "struct<doc_id:bigint,n:int,word:string>"
    assert sorted(map(tuple, got.collect())) == [(1, 0, "a"), (1, 1, "b"), (4, 0, "c")]


def test_long_with_null_keeps_64_bits_through_spark(spark):
    """A 64-bit value next to a null in the same batch comes back exact
    from both a map_rows column and a doc_column."""
    big = (1 << 62) + 1
    df = spark.createDataFrame([("a",), (None,)], "m string").coalesce(1)
    col = doc_column("long", lambda m: None if m is None else big)
    assert [r.v for r in df.select(col("m").alias("v")).collect()] == [big, None]
    rows = map_rows(df, lambda m: [(None if m is None else big,)], "v long")
    assert [r.v for r in rows.collect()] == [big, None]


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
    """Every parse_html / parse_xml call's markup, in call order, from an
    empty shared-DOM state."""
    from fuzi_spark import htmlparser, udfs, xmlparser

    monkeypatch.setattr(udfs, "_batch_doms", [pa.array([], pa.string()), {}])

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
    """An arrow_udf batch result as a list of plain values per row, nulls
    as None and a struct as its tuple of field values."""
    if pa.types.is_struct(out.type):
        return list(zip(*(f.to_pylist() for f in out.flatten())))
    return out.to_pylist()


class TestSharedParse:
    def test_each_document_parsed_once_per_batch(self, parses):
        docs = [PAGE, FEED, None, SHOUT, FEED]
        batch = pa.RecordBatch.from_pydict({"markup": docs})
        cols = _query_columns()
        # as in pyspark, each column gets its own wrapper of the batch array
        outs = [_rows(col.func(batch.column(0))) for col in cols]
        assert len(parses) == 4
        for col, out in zip(cols, outs):
            assert out == [_rows(col.func(pa.array([m], pa.string())))[0] for m in docs]
        assert [meta[2] for meta in outs[4]] == ["html", "feed", None, "html", "feed"]

    def test_over_cap_batch_parses_the_rest_per_column(self, parses):
        from fuzi_spark import udfs

        # two documents of 3/4 of the cap: only the first one's DOM is kept
        n_items = udfs._SHARED_MARKUP_CHARS * 3 // 4 // len("<li>item</li>")
        big = "<html><body><ul>" + "<li>item</li>" * n_items + "</ul></body></html>"
        docs = [PAGE, big, big.replace("<li>item", "<li>x", 2), FEED]
        batch = pa.RecordBatch.from_pydict({"markup": docs})
        cols = [udfs.xpath_double("count(//li)"), udfs.xpath_string("//li[2]"),
                udfs.doc_meta()]
        over = [_rows(col.func(batch.column(0))) for col in cols]
        assert len(parses) == 2 + len(cols) * 2
        under = [[_rows(col.func(pa.array([m])))[0] for m in docs] for col in cols]
        assert over == under
        assert over[0][1:3] == [n_items, n_items]
        assert over[1][1:3] == ["item", "x"]

    def test_doms_freed_with_the_batch(self, parses):
        """Every wrapper of a batch's array gets the kept DOMs, which hold
        a copy of the kept rows, not the batch; they are freed when a
        batch with other first rows arrives."""
        from fuzi_spark import udfs

        batch = pa.RecordBatch.from_pydict({"markup": [PAGE, FEED]})
        docs = list(udfs._batch_docs(batch.column(0), None))
        again = list(udfs._batch_docs(batch.column(0), None))
        assert len(again) == 2 and all(a is b for a, b in zip(again, docs))
        kept_rows = udfs._batch_doms[0]
        assert kept_rows.buffers()[2].address != batch.column(0).buffers()[2].address
        freed = weakref.ref(docs[0])
        del docs, again, batch
        gc.collect()
        assert freed() is not None
        list(udfs._batch_docs(pa.array([FEED, PAGE]), None))
        gc.collect()
        assert freed() is None
        assert len(parses) == 4

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
