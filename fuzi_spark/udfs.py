"""Vectorized Spark operators over document tables.

The distribution contract mirrors the reference's actor layer
(kylehughes/Fuzi Sources/Actor.swift:136-405): one DOM per document per
task, built transiently inside an Arrow batch, with only flat value
snapshots crossing the executor boundary. There are NO row-at-a-time
Python UDFs anywhere, and this module is the one place that names the
batch format of a per-row operator: Arrow, through pyspark's own
`mapInArrow` and `arrow_udf`.

Every per-row operator in the package is written with one of three
helpers, which own the batch loop, null inputs and the typed output
arrays: `map_rows(df, fn, schema)` maps a DataFrame by a per-row `fn`
returning 0..N output tuples; `doc_column(return_type, fn)` builds an
`arrow_udf` over a markup column from a per-document `fn(markup)`; and
`dom_column(return_type, fn, doc_type)` does the same from a `fn(doc)`
over the parsed document. A schema is written once, as a DataType or a
DDL string, and is also the Arrow type of the output batch. Only
whole-batch numpy kernels and grouped operators loop themselves. The
extraction operator (`extract_markup_df`) builds its rows the same way
(`_map_batch`) but still runs in a `mapInPandas` node, whose plan node
name the benchmark's traced run looks for.

Each document is parsed once per Arrow batch, and that DOM is shared by
every `dom_column` over the same markup column and doc_type: pyspark
evaluates the columns of one ArrowEvalPython node one after another over
the same batch, and `_batch_docs` keeps that batch's DOMs until the next
batch. So a `dom_column` fn must not mutate the document. A batch keeps
the DOMs of at most `_SHARED_MARKUP_CHARS` of markup (a prefix of its
rows); the documents past it are parsed once per column.

XPath/CSS expressions are compiled ONCE per executor process
(lru_cache in xpath.py / css.py) and reused across every batch — an
optimization the reference lacks (it re-compiles per query,
Queryable.swift:299).
"""

from __future__ import annotations

from typing import Iterator, Optional

import pyarrow as pa
import pyarrow.compute as pc

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    MapType,
    StringType,
    StructField,
    StructType,
    _parse_datatype_string,
)

# ---------------------------------------------------------------- schemas

SPAN_FIELDS = [
    StructField("kind", StringType()),
    StructField("text", StringType()),
    StructField("media_ref", StringType()),
    StructField("offset", IntegerType()),
]
SPAN_STRUCT = StructType(SPAN_FIELDS)
SPANS_ARRAY = ArrayType(SPAN_STRUCT)

# ElementSnapshot (reference Sources/Actor.swift:31-62)
SNAPSHOT_STRUCT = StructType(
    [
        StructField("attributes", MapType(StringType(), StringType())),
        StructField("line_number", IntegerType()),
        StructField("namespace", StringType()),
        StructField("raw_xml", StringType()),
        StructField("string_value", StringType()),
        StructField("tag", StringType()),
    ]
)
SNAPSHOT_ARRAY = ArrayType(SNAPSHOT_STRUCT)

# XPathResult (reference Sources/Actor.swift:91-110)
XPATH_RESULT_STRUCT = StructType(
    [
        StructField("bool_value", BooleanType()),
        StructField("double_value", DoubleType()),
        StructField("string_value", StringType()),
    ]
)

# output of the extraction stage: one row per extracted span
EXTRACTED_SCHEMA = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("seq", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
        StructField("offset", IntegerType()),
        StructField("parse_error", IntegerType()),
    ]
)


def _parse_doc(markup: Optional[str], doc_type: Optional[str]):
    """Batch-local parse helper (never raises); None for a null or
    unparseable document."""
    from .extract import sniff_doc_type
    from .htmlparser import parse_html
    from .xmlparser import parse_xml

    if markup is None:
        return None
    if doc_type not in ("html", "xml"):
        doc_type = sniff_doc_type(markup)
    try:
        return parse_html(markup) if doc_type == "html" else parse_xml(markup)
    except Exception:
        return None


# Markup characters whose DOMs one batch keeps for its other DOM columns:
# ~10 MB of DOM at the ~10x expansion of markup into nodes.
_SHARED_MARKUP_CHARS = 1 << 20

# [copy of the kept markup rows, {doc_type: their DOMs}]: the first rows of
# the last batch, up to _SHARED_MARKUP_CHARS of markup
_batch_doms: list = [pa.array([], pa.string()), {}]


def _batch_docs(markup: pa.Array, doc_type: Optional[str]) -> Iterator:
    """The parsed documents of one batch's markup column, in row order
    (None for a null or unparseable document).

    The batch's first rows, up to `_SHARED_MARKUP_CHARS` of markup, are
    parsed once per doc_type and their DOMs kept; the rest are parsed per
    call. pyspark hands every arrow_udf column its own wrapper object of
    the batch array, so the kept DOMs are found by content: a batch whose
    first rows equal the kept copy gets them. They are freed when a batch
    with other first rows arrives. A top-level function, so every pickled
    UDF reaches this one module state by reference instead of carrying
    its own copy."""
    if doc_type not in ("html", "xml"):
        doc_type = None
    rows, doms = _batch_doms
    n = len(rows)
    if not (n and n <= len(markup) and markup.slice(0, n).equals(rows)):
        sizes = pc.fill_null(pc.utf8_length(markup), 0)
        fits = pc.less_equal(pc.cumulative_sum(sizes), _SHARED_MARKUP_CHARS)
        # a copy, so the kept rows do not hold the whole batch in memory
        rows = pa.concat_arrays([markup.slice(0, pc.sum(fits).as_py() or 0)])
        doms = {}
        _batch_doms[:] = [rows, doms]
    kept = doms.get(doc_type)
    if kept is None:
        kept = doms[doc_type] = [_parse_doc(m, doc_type) for m in rows.to_pylist()]
    yield from kept
    for m in markup.slice(len(kept)).to_pylist():
        yield _parse_doc(m, doc_type)


# ---------------------------------------------------------------- operator helpers


def _arrow_type(t):
    """(Spark DataType, Arrow type) of a DataType or a DDL string ('a long,
    b string', 'struct<a:long>', 'int'). A string goes through Spark's own
    parser, so it is resolved when the plan is built."""
    if isinstance(t, str):
        t = _parse_datatype_string(t)
    return t, to_arrow_type(t)


def map_rows(df: DataFrame, fn, schema) -> DataFrame:
    """`df` mapped by `fn` once per input row, over Arrow batches.

    `fn(*row)` gets the row's column values in `df` column order (nulls
    as None) and returns that row's output tuples in `schema` field
    order: none (a dropped row), one (a per-row result, failures flagged
    in its ok column) or many (an explode). Each input batch yields one
    output batch of the Arrow type of `schema`."""
    schema, out = _arrow_type(schema)

    def mapper(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            yield _map_batch(fn, [c.to_pylist() for c in batch.columns], out)

    return df.mapInArrow(mapper, schema)


def _map_batch(fn, columns: list, out: pa.StructType) -> pa.RecordBatch:
    """One batch's column values → the batch of `fn`'s output rows."""
    rows: list = []
    for row in zip(*columns):
        rows.extend(fn(*row))
    return pa.RecordBatch.from_struct_array(pa.array(rows, type=out))


def _column(return_type, values):
    """arrow_udf over a markup column; `values(markup)` yields one value
    per document: a tuple in field order for a struct `return_type`,
    where None stands for all-null fields."""
    return_type, out = _arrow_type(return_type)
    is_struct = isinstance(return_type, StructType)
    nulls = (None,) * len(return_type.fields) if is_struct else None

    @arrow_udf(return_type)
    def _udf(markup: pa.Array) -> pa.Array:
        return pa.array([nulls if v is None else v for v in values(markup)], type=out)

    return _udf


def doc_column(return_type, fn):
    """arrow_udf over a markup column that runs `fn` once per document.

    `fn(markup)` gets the document (None when null) and returns its
    value: a tuple in field order for a struct `return_type`, where None
    stands for all-null fields."""
    return _column(return_type, lambda markup: map(fn, markup.to_pylist()))


def dom_column(return_type, fn, doc_type: Optional[str] = None):
    """arrow_udf over a markup column that runs `fn` once per parsed
    document.

    `fn(doc)` gets the document's DOM (None when the markup is null or
    does not parse) and returns its value as for `doc_column`. The DOM is
    parsed as `doc_type` ('html', 'xml', else sniffed) and shared with
    every other dom_column over the same column in the batch
    (`_batch_docs`), so `fn` must not mutate it."""
    return _column(return_type, lambda markup: map(fn, _batch_docs(markup, doc_type)))


# ---------------------------------------------------------------- extraction


def markup_from_spans_col(spans_col: str = "spans"):
    """JVM-side span⇄markup codec: sort by offset, concat text — the hot
    codec runs inside whole-stage codegen, so only ONE string column
    crosses the Arrow boundary instead of an array-of-structs (which costs
    a Python dict per span per row)."""
    sorted_spans = F.array_sort(
        F.col(spans_col),
        lambda l, r: F.when(l["offset"] < r["offset"], -1)
        .when(l["offset"] > r["offset"], 1)
        .otherwise(0),
    )
    return F.array_join(
        F.transform(sorted_spans, lambda s: F.coalesce(s["text"], F.lit(""))), ""
    )


def span_rows(doc_id, spans: list, err: int) -> list:
    """EXTRACTED_SCHEMA rows of one document: its spans in seq order, or
    a single seq=-1 'error'/'empty' row so lineage can count failures
    without a second pass over the data."""
    if err or not spans:
        return [(doc_id, -1, "error" if err else "empty", None, None, -1, int(err))]
    return [
        (doc_id, seq, s["kind"], s["text"], s["media_ref"], s["offset"], 0)
        for seq, s in enumerate(spans)
    ]


def markup_select(docs: DataFrame) -> DataFrame:
    """docs(doc_id, spans[, doc_type]) → (doc_id, markup[, doc_type]):
    the span→markup reassembly, JVM-side (markup_from_spans_col)."""
    cols = [F.col("doc_id"), markup_from_spans_col("spans").alias("markup")]
    if "doc_type" in docs.columns:
        cols.append(F.col("doc_type"))
    return docs.select(*cols)


def extract_spans_df(docs: DataFrame, doc_type: Optional[str] = None) -> DataFrame:
    """docs(doc_id, spans[, doc_type]) → extracted spans, one row per span."""
    return extract_markup_df(markup_select(docs), doc_type)


def extract_markup_df(docs: DataFrame, doc_type: Optional[str] = None) -> DataFrame:
    """docs(doc_id, markup[, doc_type]) → extracted spans, for callers that
    already ran the span→markup codec (run_extraction_pipeline applies it
    BEFORE the salting shuffle so the exchange carries one string column,
    not the array-of-structs spans payload)."""
    from .extract import extract_spans

    def rows(doc_id, markup, dt=doc_type):
        if not markup:
            return span_rows(doc_id, [], 1)
        return span_rows(doc_id, *extract_spans(markup, dt))

    out = to_arrow_type(EXTRACTED_SCHEMA)

    def frames(pdfs):
        # string columns: their nulls arrive as None
        for pdf in pdfs:
            yield _map_batch(rows, [pdf[c].tolist() for c in pdf.columns], out).to_pandas()

    cols = [F.col("doc_id"), F.col("markup")]
    if "doc_type" in docs.columns:
        cols.append(F.col("doc_type"))
    # Not yet map_rows: perfbench's traced run reads this job's Python-node
    # metrics from the event log by the node names MapInPandas and
    # ArrowEvalPython (perfbench/collect.py, PY_NODES), not MapInArrow.
    return docs.select(*cols).mapInPandas(frames, EXTRACTED_SCHEMA)


# ---------------------------------------------------------------- query UDFs


def _snapshots(expr: str, ns):
    from .query import element_snapshot, xpath as run_xpath

    def snapshots(doc):
        if doc is None:
            return []
        return [element_snapshot(n) for n in run_xpath(doc, expr, ns)]

    return snapshots


def _eval(expr: str, ns, value):
    """doc → value(XPathResult of expr), None when the document does
    not parse or the expression is invalid."""
    from .query import eval_xpath

    def evaluate(doc):
        r = eval_xpath(doc, expr, ns) if doc is not None else None
        return value(r) if r is not None else None

    return evaluate


def xpath_select(expr: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup string → array<ElementSnapshot> of XPath hits.
    `ns` adds prefixes after the document's own (query.xpath extra_ns)."""
    return dom_column(SNAPSHOT_ARRAY, _snapshots(expr, ns), doc_type)


def css_select(selector: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup string → array<ElementSnapshot> of CSS hits.
    The selector is compiled to XPath at plan-build time (driver side)."""
    from .css import css_to_xpath

    return dom_column(SNAPSHOT_ARRAY, _snapshots(css_to_xpath(selector), ns), doc_type)


def xpath_string(expr: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup → string(XPath expr). The cheap common case:
    only a string crosses Arrow, not full snapshots."""
    return dom_column(StringType(), _eval(expr, ns, lambda r: r.string_value), doc_type)


def xpath_double(expr: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup → number(XPath expr) (count/sum/...)."""
    return dom_column(DoubleType(), _eval(expr, ns, lambda r: r.double_value), doc_type)


def xpath_eval(expr: str, doc_type: Optional[str] = None, ns: Optional[dict] = None):
    """Column function: markup → XPathResult struct (bool, double, string)
    — the reference's eval(xpath:) surface (Queryable.swift:252-257)."""

    def triple(r):
        return (r.bool_value, r.double_value, r.string_value)

    return dom_column(XPATH_RESULT_STRUCT, _eval(expr, ns, triple), doc_type)


DOC_META_STRUCT = StructType(
    [
        StructField("version", StringType()),
        StructField("encoding", StringType()),
        StructField("root_tag", StringType()),
        StructField("title", StringType()),
        StructField("parse_error", IntegerType()),
    ]
)


def doc_meta(doc_type: Optional[str] = None):
    """Column function: markup → struct(version, encoding, root_tag,
    title, parse_error) — DocumentSnapshot surface (Actor.swift:67-86)."""

    def meta(doc):
        if doc is None or doc.root is None:
            return (None, None, None, None, 1)
        title = doc.title if doc.is_html else None
        return (doc.version, doc.encoding, doc.root.tag, title, 0)

    return dom_column(DOC_META_STRUCT, meta, doc_type)
