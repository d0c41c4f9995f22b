"""The three seeded workloads: their corpora, their measured jobs and the
in-driver reference each job's output is checked against.

Every corpus is made from the seed alone, out of in-repo pieces
(`bench.build_bench_corpus`'s page template, `corpus.HARDENING_DOCS`,
`corpus._skew_tail`, `codec.encode_spans`) plus generated words, and is written as the pipeline's
input table `(doc_id, spans)` under the run's work directory. The program
under test sees only those files.
"""

from __future__ import annotations

import json
import os
import random
import shutil

import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, StringType, StructField, StructType

from fuzi_spark import codec, corpus, extract, query, udfs
from fuzi_spark.htmlparser import parse_html
from fuzi_spark.pipeline import DEFAULT_GIANT_THRESHOLD, run_extraction_pipeline
from fuzi_spark.xmlparser import parse_xml

WORDS = (
    "batch part spark line column order small sort fast value scan hash slow "
    "group agg filter query big key window row table stream merge data vector "
    "customer join index page node tree text media image caption list item "
    "section title feed entry author summary link update crawl archive"
).split()
LANGS = ["en"] * 4 + ["zh", "es", "fr", "de"]
INPUT_FILES = 16
ATOM = "http://www.w3.org/2005/Atom"
DC = "http://purl.org/dc/elements/1.1/"

EXTRACT_ROW = StructType(
    [
        StructField("doc_id", StringType()),
        StructField("seq", IntegerType()),
        StructField("kind", StringType()),
        StructField("text", StringType()),
        StructField("media_ref", StringType()),
    ]
)
SPANS_ARROW = pa.list_(
    pa.struct(
        [("kind", pa.string()), ("text", pa.string()), ("media_ref", pa.string()),
         ("offset", pa.int32())]
    )
)


def _words(rng: random.Random, lo: int, hi: int) -> str:
    return " ".join(rng.choice(WORDS) for _ in range(rng.randint(lo, hi)))


def html_page(rng: random.Random, title: str, sections: int) -> str:
    """A multi-section article page with chrome the extractor must strip."""
    out = [
        f"<!DOCTYPE html><html><head><title>{title}</title>"
        "<style>p{margin:0}</style><script>var n = 1 < 2;</script></head><body>"
        '<nav class="menu"><a href="/">Home</a> <a href="/a">A</a> '
        '<a href="/b">B</a></nav><div id="main">'
    ]
    for s in range(sections):
        out.append(f'<div class="section" id="s{s}"><h2>{_words(rng, 2, 6)}</h2>')
        for _ in range(rng.randint(1, 4)):
            out.append(f"<p>{_words(rng, 10, 60)} &amp; {rng.choice(WORDS)}</p>")
        r = rng.random()
        if r < 0.3:
            items = "".join(f"<li>{_words(rng, 1, 5)}</li>" for _ in range(rng.randint(2, 5)))
            out.append(f'<ul class="points">{items}</ul>')
        elif r < 0.5:
            n = rng.randint(0, 10**6)
            out.append(
                f'<figure><img src="img/{n}.jpg" alt="{_words(rng, 1, 4)}">'
                f"<figcaption>{_words(rng, 3, 10)}</figcaption></figure>"
            )
        elif r < 0.6:
            out.append(
                '<div class="share"><a href="/s1">x</a><a href="/s2">y</a>'
                '<a href="/s3">z</a></div>'
            )
        out.append("</div>")
    out.append(
        '</div><footer><a href="/about">About</a> <a href="/contact">Contact</a>'
        "</footer></body></html>"
    )
    return "".join(out)


def atom_feed(rng: random.Random, entries: int) -> str:
    """An Atom feed: default namespace plus a prefixed Dublin Core one."""
    out = [
        f'<?xml version="1.0" encoding="utf-8"?>\n<feed xmlns="{ATOM}" '
        f'xmlns:dc="{DC}"><title>{_words(rng, 2, 5)}</title>'
        f"<id>urn:feed:{rng.randint(0, 10**9)}</id>"
    ]
    for i in range(entries):
        out.append(
            f"<entry><title>{_words(rng, 2, 8)}</title><id>urn:e:{i}</id>"
            f"<updated>2024-{rng.randint(1, 12):02d}-{rng.randint(1, 28):02d}</updated>"
            f"<dc:creator>{rng.choice(WORDS)} {rng.choice(WORDS)}</dc:creator>"
            f'<link href="http://example.org/{rng.randint(0, 10**6)}"/>'
            f"<summary>{_words(rng, 8, 40)}</summary></entry>"
        )
    out.append("</feed>")
    return "".join(out)


def rss_feed(rng: random.Random, items: int) -> str:
    body = "".join(
        f"<item><title>{_words(rng, 2, 8)}</title><description>{_words(rng, 8, 40)}"
        f"</description><pubDate>{rng.randint(1, 28)} Jan 2024</pubDate></item>"
        for _ in range(items)
    )
    return f'<?xml version="1.0"?><rss version="2.0"><channel><title>t</title>{body}</channel></rss>'


def pareto_sections(n: int, cap: int) -> list[int]:
    """Section counts of n pages at evenly spaced quantiles of Pareto(1.3):
    a heavy tail whose total does not swing with the seed (a sampled
    Pareto total would, and docs/s with it)."""
    return [min(cap, int(2 * (1 - (i + 0.5) / n) ** (-1 / 1.3))) for i in range(n)]


def write_input(docs: list[tuple], path: str) -> None:
    """docs (doc_id, markup or spans) → the pipeline's input table, spread
    over INPUT_FILES parquet files so the scan runs in parallel. Markup is
    split into spans by `codec.encode_spans`."""
    shutil.rmtree(path, ignore_errors=True)
    os.makedirs(path)
    schema = pa.schema([("doc_id", pa.string()), ("spans", SPANS_ARROW)])
    for k in range(INPUT_FILES):
        part = docs[k::INPUT_FILES]
        table = pa.table(
            {"doc_id": [d for d, _ in part],
             "spans": [codec.encode_spans(m) if isinstance(m, str) else m
                       for _, m in part]},
            schema=schema,
        )
        pq.write_table(table, os.path.join(path, f"part-{k:03d}.parquet"))


def read_input(path: str) -> list[tuple[str, str]]:
    """The input table as (doc_id, markup), reassembled in the driver."""
    table = pq.read_table(path, columns=["doc_id", "spans"])
    return [
        (doc_id, codec.reassemble(spans))
        for doc_id, spans in zip(table.column("doc_id").to_pylist(),
                                 table.column("spans").to_pylist())
    ]


def describe(docs: list[tuple[str, str]], giant_threshold: int | None = None) -> dict:
    """The corpus record: doc count, doc-bytes p50/p99/max, XML share,
    malformed share and giant count."""
    sizes = sorted(len(m.encode("utf-8")) for _, m in docs)
    n = len(docs)
    xml = sum(1 for _, m in docs if m.strip() and extract.sniff_doc_type(m) == "xml")
    malformed = sum(1 for d, _ in docs if d.startswith(("bad-", "hard-")))
    giants = sum(1 for _, m in docs if giant_threshold and len(m) >= giant_threshold)
    return {
        "docs": n,
        "bytes_total": sum(sizes),
        "doc_bytes_p50": sizes[n // 2],
        "doc_bytes_p99": sizes[min(n - 1, (n * 99) // 100)],
        "doc_bytes_max": sizes[-1],
        "xml_share": round(xml / n, 4),
        "malformed_share": round(malformed / n, 4),
        "giants": giants,
    }


# ---------------------------------------------------------------- digests
# A table's digest is the xor, count and bounded sum of a per-row xxhash64:
# order-independent, and computed by Spark on both the job's output and the
# reference. `sum(xxhash64)` overflows under ANSI mode, and xor alone
# cancels duplicated rows, hence the pmod sum beside it.


def per_doc_digest(df, cols) -> dict:
    rows = df.groupBy("doc_id").agg(
        F.bit_xor(F.xxhash64(*cols)).alias("h"), F.count(F.lit(1)).alias("n")
    ).collect()
    return {r["doc_id"]: (r["h"], r["n"]) for r in rows}


def count_mismatched_docs(got: dict, want: dict) -> int:
    return sum(1 for d in set(got) | set(want) if got.get(d) != want.get(d))


def extraction_reference_rows(docs, doc_type) -> pd.DataFrame:
    """In-driver reference for the extraction jobs: `extract.extract_spans`
    per doc, laid out as the extraction operator lays out its rows (one
    error/empty row with seq -1 for a doc without spans)."""
    out = {"doc_id": [], "seq": [], "kind": [], "text": [], "media_ref": []}

    def row(doc_id, seq, kind, text, media_ref):
        out["doc_id"].append(doc_id)
        out["seq"].append(seq)
        out["kind"].append(kind)
        out["text"].append(text)
        out["media_ref"].append(media_ref)

    for doc_id, markup in docs:
        spans, err = extract.extract_spans(markup, doc_type) if markup else ([], 1)
        if err or not spans:
            row(doc_id, -1, "error" if err else "empty", None, None)
            continue
        for seq, s in enumerate(spans):
            row(doc_id, seq, s["kind"], s["text"], s["media_ref"])
    pdf = pd.DataFrame(out)
    pdf["seq"] = pdf["seq"].astype("int32")
    return pdf


DIGEST_SEED = 1
DIGESTS = os.path.join(os.path.dirname(os.path.abspath(__file__)), "digests.json")


def drift(wl, want: dict) -> int:
    """1 when this is the pinned seed and the reference digest differs from
    the one stored in digests.json: output drift that the job and the
    in-driver reference share, which comparing the two cannot see."""
    if wl.seed != DIGEST_SEED:
        return 0
    with open(DIGESTS) as f:
        stored = json.load(f)[wl.name]
    return int(any(stored[k] != want[k] for k in ("xor", "rows", "sum")))


def fast_vs_dom(docs, sample: int, seed: int) -> int:
    """Differential on a seeded sample of HTML docs: the fused fast path
    against the DOM reference path. Returns the number of docs that differ."""
    from fuzi_spark.fastextract import extract_spans_html_fast

    html = [m for _, m in docs if m.strip() and extract.sniff_doc_type(m) == "html"]
    picked = random.Random(seed).sample(html, min(sample, len(html)))
    return sum(
        1 for m in picked
        if extract_spans_html_fast(m) != extract._extract_spans_dom(m, "html")
    )


# ---------------------------------------------------------------- workloads


class Workload:
    """One seeded corpus, the job measured on it, and its reference."""

    name = ""
    # columns the digest is taken over; the reference has the same ones
    digest = ("doc_id", "seq", "kind", "text", "media_ref")
    # input files the warm run reads: enough tasks to start every worker
    warm_files = 1

    def __init__(self, seed: int, work: str):
        self.seed = seed
        self.work = work
        self.input_path = os.path.join(work, "input", self.name)
        self.docs: list[tuple[str, str]] = []
        self.record: dict = {}

    def generate(self) -> None:
        """Write the seed's input table; fill `docs` and `record`."""
        raise NotImplementedError

    def read(self, spark, warm: bool = False):
        """The input table; `warm` reads only its first `warm_files` files."""
        files = sorted(
            os.path.join(self.input_path, f)
            for f in os.listdir(self.input_path)
            if f.endswith(".parquet")
        )
        if warm:
            files = files[: self.warm_files]
        return spark.read.parquet(*files)

    def run(self, spark, warm: bool = False) -> dict:
        """Run the measured job once, consuming every output column."""
        raise NotImplementedError

    def reference(self, spark) -> dict:
        """The reference digest, computed from in-driver outputs."""
        raise NotImplementedError

    def mismatched_docs(self, spark) -> int:
        """Per-doc comparison, run only when the digests differ."""
        raise NotImplementedError

    def lineage_docs(self, spark):
        """Docs counted by the job's lineage rows, where that needs a job of
        its own (None: `run` already reports them)."""
        return None


def digest_row(df, cols, **extra) -> dict:
    """The digest plus `extra` aggregates, all in one pass over `df`."""
    h = F.xxhash64(*cols)
    r = df.agg(
        F.bit_xor(h).alias("xor"),
        F.count(F.lit(1)).alias("rows"),
        F.sum(F.pmod(h, F.lit(2147483647))).alias("sum"),
        *[c.alias(k) for k, c in extra.items()],
    ).collect()[0]
    return r.asDict()


def flag_count(cond):
    return F.sum(F.when(cond, 1).otherwise(0))


class _Extraction(Workload):
    doc_type = None
    giant_threshold = DEFAULT_GIANT_THRESHOLD
    n_buckets = 64

    def pipeline(self, spark, docs, output_dir=None):
        """`run_extraction_pipeline` with this workload's settings."""
        return run_extraction_pipeline(
            spark, docs, output_dir=output_dir, n_buckets=self.n_buckets,
            giant_threshold=self.giant_threshold, doc_type=self.doc_type,
        )

    def extracted(self, spark, warm=False):
        raise NotImplementedError

    def reference(self, spark) -> dict:
        pdf = extraction_reference_rows(self.docs, self.doc_type)
        self._ref_df = spark.createDataFrame(pdf, schema=EXTRACT_ROW)
        return digest_row(self._ref_df, list(self.digest))

    def mismatched_docs(self, spark) -> int:
        got = per_doc_digest(self.extracted(spark), list(self.digest))
        return count_mismatched_docs(got, per_doc_digest(self._ref_df, list(self.digest)))


def bench_page_spans(doc_id: str, text: str, source: str, lang: str, copy: int) -> list[dict]:
    """One page of `bench.build_bench_corpus`'s template, as its five spans.
    Built here in the driver instead of by that function's Spark job, which
    would add seconds to every set-up."""
    head = (
        f"<html><head><title>{source} page {copy}</title><style>p{{margin:0}}</style>"
        '<script>var a=1;</script></head><body><nav><a href="/">Home</a> '
        '<a href="/x">X</a> <a href="/y">Y</a></nav>'
        f"<h1>{source}</h1><p>{text}</p><h2>Section</h2><p>{text}</p>"
        f"<ul><li>alpha {lang}</li><li>beta</li></ul><p>"
    )
    img = f"img/{doc_id}.jpg"
    parts = [("text", head, None), ("text", text, None), ("text", "</p>", None),
             ("media", f'<img src="{img}" alt="fig">', img),
             ("text", "</body></html>", None)]
    return [{"kind": k, "text": t, "media_ref": r, "offset": i}
            for i, (k, t, r) in enumerate(parts)]


class Pages(_Extraction):
    """`bench.build_bench_corpus` pages through the pipeline, nothing written."""

    name = "pages"
    doc_type = "html"
    BASE_DOCS = 800
    COPIES = 6

    def generate(self) -> None:
        rng = random.Random(self.seed)
        base = [(str(i), _words(rng, 8, 96), f"src{i % 20}", rng.choice(LANGS))
                for i in range(self.BASE_DOCS)]
        rows = [(f"{i}-{c}", text, source, lang, c)
                for i, text, source, lang in base for c in range(self.COPIES)]
        write_input([(r[0], bench_page_spans(*r)) for r in rows], self.input_path)
        self.docs = read_input(self.input_path)
        self.record = describe(self.docs)

    def extracted(self, spark, warm=False):
        extracted, self._lineage = self.pipeline(spark, self.read(spark, warm))
        return extracted

    def run(self, spark, warm=False) -> dict:
        return digest_row(
            self.extracted(spark, warm), list(self.digest),
            docs=flag_count(F.col("seq") <= 0),
            errors=flag_count(F.col("kind") == "error"),
        )

    def lineage_docs(self, spark) -> int:
        self.extracted(spark)
        return self._lineage.agg(F.sum("doc_count")).collect()[0][0]


class MixedWrite(_Extraction):
    """Heterogeneous bytes-heavy corpus, sniffed, salted, written, committed."""

    name = "mixed_write"
    # the job.py --giant-threshold and --n-buckets knobs: salting fires on
    # exactly the giants, and few buckets keep the number of span files in
    # proportion to this corpus (each extract task writes one per bucket)
    giant_threshold = 1_000_000
    n_buckets = 4
    PAGES = 40
    FEEDS = 24
    TRUNCATED = 12
    EMPTY = 8

    def generate(self) -> None:
        rng = random.Random(self.seed)
        docs = []
        for i, sections in enumerate(pareto_sections(self.PAGES, 30)):
            docs.append((f"page-{i}", html_page(rng, _words(rng, 2, 6), sections)))
        for i in range(self.FEEDS):
            feed = atom_feed(rng, rng.randint(3, 40)) if i % 2 else rss_feed(rng, rng.randint(3, 40))
            docs.append((f"feed-{i}", feed))
        for doc_id, _, markup in corpus.HARDENING_DOCS:
            docs.append((f"{doc_id}-{self.seed}", markup))
        # wide XML and the media-heavy page from the skew tail; the three
        # widest are left out to keep one job within a few seconds
        for doc_id, _, markup in corpus._skew_tail(rng):
            if len(markup) < 200_000:
                docs.append((f"{doc_id}-{self.seed}", markup))
        for i in range(self.TRUNCATED):
            page = html_page(rng, "cut", rng.randint(2, 20))
            docs.append((f"bad-cut-{i}", page[: rng.randint(1, len(page) - 1)]))
        for i in range(self.EMPTY):
            docs.append((f"bad-empty-{i}", " " * (i % 3)))
        for i, target in enumerate((1_020_000, 1_100_000)):
            sections = []
            while sum(map(len, sections)) < target:
                sections.append(html_page(rng, "giant", 40))
            body = "".join(s[s.index("<div id=") : s.rindex("<footer>")] for s in sections)
            docs.append((f"giant-{i}", f"<html><head><title>giant {i}</title></head><body>{body}</body></html>"))
        rng.shuffle(docs)
        write_input(docs, self.input_path)
        self.docs = read_input(self.input_path)
        self.record = describe(self.docs, self.giant_threshold)

    def out_dir(self, warm=False) -> str:
        return os.path.join(self.work, "out", "warm" if warm else "run")

    def write(self, spark, warm=False):
        """The pipeline into a fresh output dir: spans written, lineage
        committed; returns this run's (spans, lineage) read back."""
        shutil.rmtree(self.out_dir(warm), ignore_errors=True)
        return self.pipeline(spark, self.read(spark, warm), self.out_dir(warm))

    def extracted(self, spark, warm=False):
        written, _ = self.write(spark, warm)
        return written

    def run(self, spark, warm=False) -> dict:
        written, committed = self.write(spark, warm)
        d = digest_row(written, list(self.digest))
        lin = committed.agg(F.sum("doc_count"), F.sum("parse_error_count")).collect()[0]
        d["docs"], d["errors"] = lin[0], lin[1]
        return d


QUERY_NS = {"atom": ATOM, "dc": DC}
# (column, udfs entry point, expression, namespaces)
QUERIES = [
    ("sec_heads", "xpath_select", "//div[@class='section']/h2", None),
    ("second_item", "xpath_string", "//ul/li[2]", None),
    ("n_paras", "xpath_double", "count(//p)", None),
    ("entry_titles", "xpath_select", "//atom:entry/atom:title", QUERY_NS),
    ("first_creator", "xpath_string", "//atom:entry[1]/dc:creator", QUERY_NS),
    ("n_entries", "xpath_double", "count(//atom:entry)", QUERY_NS),
    ("sec_paras", "css_select", "div.section > p", None),
    ("list_sibs", "css_select", "ul li + li", None),
    ("meta", "doc_meta", None, None),
]


class XPathQuery(Workload):
    """Fuzi-style queries through the `udfs` query columns, every column
    consumed (a `count()` over unconsumed pandas_udf columns would prune them
    from the plan and time nothing)."""

    name = "xpath_query"
    digest = ("doc_id", "payload")
    warm_files = 4  # no shuffle: one task per file
    HTML = 240
    FEEDS = 160

    def generate(self) -> None:
        # section and entry counts cycle through fixed ranges rather than
        # being drawn, so the corpus size (and docs/s with it) does not
        # swing with the seed; the seed picks the words and the order
        rng = random.Random(self.seed)
        docs = [(f"page-{i}", html_page(rng, _words(rng, 2, 6), 2 + i % 7))
                for i in range(self.HTML)]
        docs += [(f"feed-{i}", atom_feed(rng, 2 + i % 9)) for i in range(self.FEEDS)]
        rng.shuffle(docs)
        write_input(docs, self.input_path)
        self.docs = read_input(self.input_path)
        self.record = describe(self.docs)

    def columns(self):
        cols = []
        for name, fn, expr, ns in QUERIES:
            if fn == "doc_meta":
                udf = udfs.doc_meta()
            else:
                udf = getattr(udfs, fn)(expr, ns=ns)
            cols.append(udf("markup").alias(name))
        return cols

    def queried(self, spark, warm=False):
        docs = self.read(spark, warm).select(
            "doc_id", udfs.markup_from_spans_col("spans").alias("markup")
        )
        return docs.select("doc_id", *self.columns())

    @staticmethod
    def with_payload(df):
        return df.select(
            "doc_id",
            F.to_json(F.struct(*[q[0] for q in QUERIES])).alias("payload"),
            F.col("meta.parse_error").alias("err"),
        )

    def run(self, spark, warm=False) -> dict:
        df = self.with_payload(self.queried(spark, warm))
        return digest_row(
            df, list(self.digest),
            docs=F.count(F.lit(1)), errors=F.sum("err"),
        )

    def reference_table(self) -> list[tuple]:
        """In-driver reference: one parse per doc, then `query.xpath`,
        `query.css` and `query.eval_xpath` per column."""
        rows = []
        for doc_id, markup in self.docs:
            dt = extract.sniff_doc_type(markup)
            try:
                doc = parse_html(markup) if dt == "html" else parse_xml(markup)
            except Exception:
                doc = None
            row = [doc_id]
            for _, fn, expr, ns in QUERIES:
                if doc is None:
                    row.append(
                        [] if fn in ("xpath_select", "css_select")
                        else (None, None, None, None, 1) if fn == "doc_meta" else None
                    )
                elif fn == "xpath_select":
                    row.append([query.element_snapshot(n) for n in query.xpath(doc, expr, ns)])
                elif fn == "css_select":
                    row.append([query.element_snapshot(n) for n in query.css(doc, expr, ns)])
                elif fn in ("xpath_string", "xpath_double"):
                    r = query.eval_xpath(doc, expr, ns)
                    row.append(None if r is None else
                               r.string_value if fn == "xpath_string" else r.double_value)
                elif doc.root is None:
                    row.append((None, None, None, None, 1))
                else:
                    row.append((doc.version, doc.encoding, doc.root.tag,
                                doc.title if doc.is_html else None, 0))
            rows.append(tuple(row))
        return rows

    def reference(self, spark) -> dict:
        schema = self.queried(spark).schema
        self._ref_df = self.with_payload(spark.createDataFrame(self.reference_table(), schema))
        return digest_row(self._ref_df, list(self.digest))

    def mismatched_docs(self, spark) -> int:
        cols = list(self.digest)
        got = per_doc_digest(self.with_payload(self.queried(spark)), cols)
        return count_mismatched_docs(got, per_doc_digest(self._ref_df, cols))


WORKLOADS = {w.name: w for w in (Pages, MixedWrite, XPathQuery)}


def percentile(values, q: float) -> float:
    """Nearest-rank percentile; 0 for no values."""
    v = sorted(values)
    return v[min(len(v) - 1, int(q * len(v)))] if v else 0.0
