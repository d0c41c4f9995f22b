"""Vectorized Spark operators over document tables.

The distribution contract mirrors the reference's actor layer
(kylehughes/Fuzi Sources/Actor.swift:136-405): one DOM per document per
task, built transiently inside an Arrow batch, with only flat value
snapshots crossing the executor boundary. There are NO row-at-a-time
Python UDFs anywhere — everything is `pandas_udf` / `mapInPandas` over
Arrow batches.

Every per-row operator in the package is written with one of three
helpers, which own the batch loop, null inputs and the output frame:
`row_mapper(fn, schema)` builds a `mapInPandas` function from a per-row
`fn` returning 0..N output tuples; `doc_column(return_type, fn)` builds a
`pandas_udf` over a markup column from a per-document `fn(markup)`; and
`dom_column(return_type, fn, doc_type)` does the same from a `fn(doc)`
over the parsed document. Only whole-batch numpy kernels and grouped
operators loop themselves.

Each document is parsed once per Arrow batch, and that DOM is shared by
every `dom_column` over the same markup column and doc_type: pyspark
evaluates the columns of one ArrowEvalPython node one after another over
the same batch Series, and `_batch_docs` keeps that batch's DOMs until
the Series is freed. So a `dom_column` fn must not mutate the document.
A batch keeps the DOMs of at most `_SHARED_MARKUP_CHARS` of markup (a
prefix of its rows); the documents past it are parsed once per column.

XPath/CSS expressions are compiled ONCE per executor process
(lru_cache in xpath.py / css.py) and reused across every batch — an
optimization the reference lacks (it re-compiles per query,
Queryable.swift:299).
"""

from __future__ import annotations

import re
import weakref
from typing import Iterator, Optional

import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import (
    ArrayType,
    BooleanType,
    DoubleType,
    IntegerType,
    LongType,
    MapType,
    StringType,
    StructField,
    StructType,
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

# (id(markup Series), doc_type) -> [weakref to the Series, kept DOMs, kept chars]
_batch_doms: dict = {}


def _batch_docs(markup: pd.Series, doc_type: Optional[str]) -> Iterator:
    """The parsed documents of one batch's markup column, in row order
    (None for a null or unparseable document).

    The first caller parses; callers with the same Series and doc_type get
    the kept DOMs of the batch's first `_SHARED_MARKUP_CHARS` of markup and
    parse only the rest. The entry is dropped when the Series is freed. A
    top-level function, so every pickled UDF reaches this one module state
    by reference instead of carrying its own copy."""
    if doc_type not in ("html", "xml"):
        doc_type = None
    key = (id(markup), doc_type)
    entry = _batch_doms.get(key)
    if entry is None:
        # dropped as the Series is freed, before its id can be reused
        ref = weakref.ref(markup, lambda _: _batch_doms.pop(key, None))
        entry = _batch_doms[key] = [ref, [], 0]
    kept = entry[1]
    for i, m in enumerate(markup):
        if i < len(kept):
            yield kept[i]
            continue
        doc = _parse_doc(m, doc_type)
        size = 0 if m is None else len(m)
        if i == len(kept) and entry[2] + size <= _SHARED_MARKUP_CHARS:
            kept.append(doc)
            entry[2] += size
        yield doc


# ---------------------------------------------------------------- operator helpers

_DDL_FIELD = re.compile(r"\s*`?(\w+)`?\s*(?::\s*|\s+)(.+?)\s*$", re.S)


def _fields(schema) -> Optional[list]:
    """(name, is_long) per field of a struct type — a StructType or a DDL
    string ('a long, b string' or 'struct<a:long,b:string>') — or None
    when the type is not a struct."""
    if isinstance(schema, StructType):
        return [(f.name, isinstance(f.dataType, LongType)) for f in schema.fields]
    if not isinstance(schema, str):
        return None
    s = schema.strip()
    if s.lower().startswith("struct<"):
        s = s[7:-1]
    parts, depth, start = [], 0, 0
    for i, ch in enumerate(s):
        if ch in "<(":
            depth += 1
        elif ch in ">)":
            depth -= 1
        elif ch == "," and depth == 0:
            parts.append(s[start:i])
            start = i + 1
    parts.append(s[start:])
    matches = [_DDL_FIELD.match(p) for p in parts]
    if not all(matches):
        return None
    return [(m.group(1), m.group(2).lower() in ("long", "bigint")) for m in matches]


def _frame(fields: list, rows: list) -> pd.DataFrame:
    """Output tuples → a DataFrame in field order. A long column that
    holds a None is built as nullable Int64: a plain list would coerce
    to float64, which rounds int64 values above 2^53 (64-bit hashes).
    No rows gives object columns: an empty float64 column does not
    convert to an Arrow array or string type."""
    if not rows:
        return pd.DataFrame(columns=[name for name, _ in fields])
    return pd.DataFrame(
        {
            name: pd.array(col, dtype="Int64") if is_long and None in col else col
            for (name, is_long), col in zip(fields, zip(*rows))
        }
    )


def _values(s: pd.Series) -> list:
    """A batch column as Python values, nulls as None."""
    if s.dtype != object and s.hasnans:
        return s.astype(object).where(s.notna(), None).tolist()
    return s.tolist()


def row_mapper(fn, schema):
    """mapInPandas function that runs `fn` once per input row.

    `fn(*row)` gets the row's column values in input-column order (nulls
    as None) and returns that row's output tuples in `schema` field
    order: none (a dropped row), one (a per-row result, failures flagged
    in its ok column) or many (an explode)."""
    fields = _fields(schema)

    def mapper(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            rows: list = []
            for row in zip(*(_values(pdf[c]) for c in pdf.columns)):
                rows.extend(fn(*row))
            yield _frame(fields, rows)

    return mapper


def _column(return_type, values):
    """pandas_udf over a markup column; `values(markup)` yields one value
    per document: a tuple in field order for a struct `return_type`,
    where None stands for all-null fields."""
    fields = _fields(return_type)
    if fields is None:

        @pandas_udf(return_type)
        def _udf(markup: pd.Series) -> pd.Series:
            return pd.Series(list(values(markup)))

        return _udf

    nulls = (None,) * len(fields)

    @pandas_udf(return_type)
    def _udf(markup: pd.Series) -> pd.DataFrame:
        return _frame(fields, [nulls if v is None else v for v in values(markup)])

    return _udf


def doc_column(return_type, fn):
    """pandas_udf over a markup column that runs `fn` once per document.

    `fn(markup)` gets the document (None when null) and returns its
    value: a tuple in field order for a struct `return_type`, where None
    stands for all-null fields."""
    return _column(return_type, lambda markup: map(fn, markup))


def dom_column(return_type, fn, doc_type: Optional[str] = None):
    """pandas_udf over a markup column that runs `fn` once per parsed
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


def make_extract_markup_fn(doc_type: Optional[str] = None):
    """mapInPandas function: (doc_id, markup[, doc_type]) batches →
    extracted span rows, N per document (span_rows)."""
    from .extract import extract_spans

    def rows(doc_id, markup, dt=doc_type):
        if not markup:
            return span_rows(doc_id, [], 1)
        return span_rows(doc_id, *extract_spans(markup, dt))

    return row_mapper(rows, EXTRACTED_SCHEMA)


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
    cols = [F.col("doc_id"), F.col("markup")]
    if "doc_type" in docs.columns:
        cols.append(F.col("doc_type"))
    return docs.select(*cols).mapInPandas(
        make_extract_markup_fn(doc_type), schema=EXTRACTED_SCHEMA
    )


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
