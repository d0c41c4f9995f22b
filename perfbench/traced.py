"""The traced run: per-layer numbers taken from outside the program.

Three sources:
- a ladder of Spark jobs, each adding one layer to the one before; a layer's
  time is the difference of two adjacent rungs (best of two mirrored passes);
- Spark's event log (task metrics per job group) and the perf UDF profiler
  (`spark.sql.pyspark.udf.profiler=perf`) on the workload's own job;
- an in-driver pass that times calls into each module's functions, and
  counts DOM-path docs and fast-path fallbacks by wrapping those functions.
Spans from the benchmark's own code cover every rung, job and driver call.
"""

from __future__ import annotations

import os
import statistics
import time
from typing import Iterator

import pandas as pd

from pyspark.sql import functions as F

from fuzi_spark import extract, fastextract, htmlparser, pipeline, query, udfs
from fuzi_spark.css import css_to_xpath
from fuzi_spark.errors import XMLError
from fuzi_spark.xmlparser import parse_xml
from fuzi_spark.xpath import compile_xpath

from perfbench.collect import (
    PY_RECV, PY_SENT, ROWS, EventLog, Missing, Tracer, by_module, find_event_log,
    profile_stats,
)
from perfbench.workloads import (
    QUERIES, MixedWrite, XPathQuery, digest_row, drift, percentile,
)

PROFILER = "spark.sql.pyspark.udf.profiler"
SMALL = "doc_id string, n long"
DRIVER_SAMPLE = 2000  # docs timed one by one in the driver pass


class NullSink:
    """Tokenizer sink that discards every event: the tokenize-only rung."""

    line = 1

    def handle_starttag(self, tag, attrs):
        pass

    handle_startendtag = handle_starttag

    def handle_endtag(self, tag):
        pass

    handle_data = handle_comment = handle_pi = handle_endtag


def _is_html(markup, doc_type) -> bool:
    if doc_type in ("html", "xml"):
        return doc_type == "html"
    return extract.sniff_doc_type(markup) == "html"


# mapInPandas bodies of the rungs, at module level so workers import them


def identity_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        yield pd.DataFrame({"doc_id": pdf["doc_id"],
                            "n": pdf["markup"].str.len().fillna(0).astype("int64")})


def make_tokenize_fn(doc_type):
    def fn(batches):
        for pdf in batches:
            n = []
            for m in pdf["markup"]:
                html = bool(m and m.strip()) and _is_html(m, doc_type)
                if html:
                    htmlparser._tokenize(m, NullSink())
                n.append(int(html))
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "n": n})

    return fn


def make_discard_fn(doc_type):
    def fn(batches):
        for pdf in batches:
            n = [len(extract.extract_spans(m, doc_type)[0]) if m else 0 for m in pdf["markup"]]
            yield pd.DataFrame({"doc_id": pdf["doc_id"], "n": n})

    return fn


def parse_fn(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
    for pdf in batches:
        n = []
        for m in pdf["markup"]:
            try:
                doc = htmlparser.parse_html(m) if _is_html(m, None) else parse_xml(m)
                n.append(int(doc.root is not None))
            except Exception:
                n.append(0)
        yield pd.DataFrame({"doc_id": pdf["doc_id"], "n": n})


def ladder(spark, wl, timers: dict) -> list:
    """(name, thunk) per rung, each rung adding one layer to the previous."""
    docs = wl.read(spark)
    markup = docs.select("doc_id", udfs.markup_from_spans_col("spans").alias("markup"))

    def summed(df):
        return lambda: df.agg(F.sum("n")).collect()[0][0]

    rungs = [
        # hashing every column makes the scan read and decode all of them
        ("scan", lambda: docs.agg(F.bit_xor(F.xxhash64("doc_id", "spans"))).collect()[0][0]),
        ("codec", lambda: markup.agg(F.sum(F.octet_length("markup"))).collect()[0][0]),
        ("arrow", summed(markup.mapInPandas(identity_fn, SMALL))),
    ]
    if isinstance(wl, XPathQuery):
        return rungs + [
            ("parse", summed(markup.mapInPandas(parse_fn, SMALL))),
            ("query", lambda: wl.run(spark)),
        ]
    cols = list(wl.digest)
    dt = wl.doc_type
    rungs += [
        ("tokenize", summed(markup.mapInPandas(make_tokenize_fn(dt), SMALL))),
        ("extract_discard", summed(markup.mapInPandas(make_discard_fn(dt), SMALL))),
        ("extract_full", lambda: digest_row(udfs.extract_markup_df(markup, dt), cols)),
        ("pipeline", lambda: digest_row(wl.pipeline(spark, docs)[0], cols)),
    ]
    if isinstance(wl, MixedWrite):
        commit = pipeline._commit_lineage

        def timed_commit(lineage, path):
            t0 = time.perf_counter()
            commit(lineage, path)
            timers["commit"] = time.perf_counter() - t0

        def write():
            pipeline._commit_lineage = timed_commit
            try:
                wl.write(spark)
            finally:
                pipeline._commit_lineage = commit

        def lineage():
            spans = spark.read.parquet(os.path.join(wl.out_dir(), "spans"))
            return pipeline._lineage_agg(spans).collect()

        rungs += [("write", write), ("lineage", lineage)]
    return rungs


def walk_ladder(spark, rungs, tracer) -> tuple[dict, dict]:
    """Warm every rung once, then two mirrored passes; best time per rung.
    Each timed rung runs under job group '<rung>#<pass>'."""
    sc = spark.sparkContext
    values = {}
    for name, fn in rungs:
        sc.setJobGroup(f"warm:{name}", name)
        values[name] = fn()
    for k, order in enumerate((rungs, rungs[::-1])):
        for name, fn in order:
            sc.setJobGroup(f"{name}#{k}", name)
            with tracer.span(f"rung.{name}"):
                fn()
    best = {name: min(tracer.durations(f"rung.{name}")) for name, _ in rungs}
    return best, values


def driver_pass(wl, tracer) -> dict:
    """Per-doc timings of each module's entry points, in this process, over
    a seeded sample; plus DOM-path and fallback counts over every doc of an
    extraction workload."""
    import random

    docs = wl.docs
    sample = random.Random(wl.seed).sample(docs, min(DRIVER_SAMPLE, len(docs)))
    html = [m for _, m in sample if m.strip() and _is_html(m, None)]
    xml = [m for _, m in docs if m.strip() and not _is_html(m, None)]
    out: dict = {}
    for m in html:
        with tracer.span("htmlparser._tokenize"):
            htmlparser._tokenize(m, NullSink())
    for m in xml:
        with tracer.span("xmlparser.parse_xml"):
            try:
                parse_xml(m)
            except XMLError:
                pass
    xml_bytes = sum(len(m.encode("utf-8")) for m in xml)
    xml_s = sum(tracer.durations("xmlparser.parse_xml"))
    out["xml_mb_per_s"] = xml_bytes / 1e6 / xml_s if xml_s else 0.0

    counts = {"dom": 0, "fallbacks": 0, "fast_ok": 0, "fast_calls": 0}
    orig_dom, orig_fast = extract._extract_spans_dom, fastextract.extract_spans_html_fast

    def dom(markup, doc_type):
        counts["dom"] += 1
        with tracer.span("extract._extract_spans_dom"):
            return orig_dom(markup, doc_type)

    def fast(markup):
        before = counts["dom"]
        counts["fast_calls"] += 1
        with tracer.span("fastextract.extract_spans_html_fast"):
            try:
                r = orig_fast(markup)
            except XMLError:
                raise
            except Exception:
                counts["fallbacks"] += 1
                raise
        counts["fast_ok"] += counts["dom"] == before
        return r

    extract._extract_spans_dom = fastextract._extract_spans_dom = dom
    fastextract.extract_spans_html_fast = fast
    try:
        # an extraction workload's own path over all its docs; on
        # xpath_query only the HTML sample, for the per-doc fast-path time
        todo = docs if not isinstance(wl, XPathQuery) else [(None, m) for m in html]
        dt = getattr(wl, "doc_type", "html")
        for _, m in todo:
            if not m:
                continue
            kind = "html" if _is_html(m, dt) else "xml"
            with tracer.span(f"extract.extract_spans[{kind}]"):
                extract.extract_spans(m, dt)
    finally:
        extract._extract_spans_dom = fastextract._extract_spans_dom = orig_dom
        fastextract.extract_spans_html_fast = orig_fast
    out.update(counts)

    if isinstance(wl, XPathQuery):
        compile_xpath.cache_clear()
        css_to_xpath.cache_clear()
        with tracer.span("css.css_to_xpath"):
            for _, fn, expr, _ns in QUERIES:
                if fn == "css_select":
                    css_to_xpath(expr)
        hits = 0
        for _, m in docs:
            with tracer.span("dom.parse"):
                doc = htmlparser.parse_html(m) if _is_html(m, None) else parse_xml(m)
            for _, fn, expr, ns in QUERIES:
                if fn in ("xpath_select", "css_select"):
                    with tracer.span("query.select"):
                        select = query.css if fn == "css_select" else query.xpath
                        hits += len(select(doc, expr, ns))
                elif fn != "doc_meta":
                    with tracer.span("query.eval_xpath"):
                        query.eval_xpath(doc, expr, ns)
        out["compile_misses"] = compile_xpath.cache_info().misses
        out["css_compile_s"] = sum(tracer.durations("css.css_to_xpath"))
        out["query_hits"] = hits
    return out


def us(values, q) -> float:
    return percentile(values, q) * 1e6


def traced_run(wl, work: str, start_session, cores: int) -> dict:
    """Ladder, profiled job and driver pass; a fixed amount of work, so
    `--seconds` does not apply here."""
    run_id = f"{wl.name}-{wl.seed}-{os.getpid()}"
    tracer = Tracer(run_id)
    evdir = os.path.join(work, "eventlog")
    os.makedirs(evdir, exist_ok=True)
    load = [os.getloadavg()[0]]
    with tracer.span("setup"):
        spark = start_session(cores, work, event_log=evdir)
        wl.generate()
    n = len(wl.docs)
    timers: dict = {}
    rungs = ladder(spark, wl, timers)
    best, values = walk_ladder(spark, rungs, tracer)

    sc = spark.sparkContext
    job_reps = []
    for k in range(2):
        sc.setJobGroup(f"job#{k}", "job")
        with tracer.span("job.untraced"):
            job_reps.append(wl.run(spark))
    spark.conf.set(PROFILER, "perf")
    sc.setJobGroup("job.profiled", "job")
    with tracer.span("job.profiled"):
        job_reps.append(wl.run(spark))
    spark.conf.unset(PROFILER)
    prof = by_module(profile_stats(spark))
    if not prof:
        raise Missing("perf profile names no fuzi_spark function")

    salted = 0
    threshold = getattr(wl, "giant_threshold", None)
    if threshold is not None:
        markup = wl.read(spark).select(udfs.markup_from_spans_col("spans").alias("m"))
        salted = markup.filter(F.length("m") >= threshold).count()
    want = wl.reference(spark)
    key = ("xor", "rows", "sum")
    bad = any(tuple(r[k] for k in key) != tuple(want[k] for k in key) for r in job_reps)
    mismatch = (wl.mismatched_docs(spark) if bad else 0) + drift(wl, want)
    spark.stop()
    load.append(os.getloadavg()[0])

    # the same job at local[1]: the single-core baseline of the 1→nproc gate
    spark = start_session(1, work)
    wl.run(spark, warm=True)
    for _ in range(2):
        with tracer.span("job.1core"):
            r = wl.run(spark)
        mismatch += tuple(r[k] for k in key) != tuple(want[k] for k in key)
    spark.stop()
    load.append(os.getloadavg()[0])

    ev = EventLog(find_event_log(evdir))
    job = ev.group("job#1")
    for key, name in (("py_sent", PY_SENT), ("py_recv", PY_RECV), ("py_rows", ROWS)):
        if key not in job:
            raise Missing(f"event log: no {name!r} SQL metric of the Python node")
    input_bytes = sum(os.path.getsize(os.path.join(wl.input_path, f))
                      for f in os.listdir(wl.input_path) if f.endswith(".parquet"))
    with tracer.span("driver_pass"):
        dp = driver_pass(wl, tracer)

    def prof_self(mod):
        return prof[mod]["self_s"] if mod in prof else 0.0

    def prof_calls(mod, pred):
        return sum(c for f, c in prof[mod]["calls"].items() if pred(f)) if mod in prof else 0

    untraced = statistics.median(tracer.durations("job.untraced"))
    profiled = tracer.durations("job.profiled")[0]
    one_core = statistics.median(tracer.durations("job.1core"))
    is_query = isinstance(wl, XPathQuery)
    is_write = isinstance(wl, MixedWrite)
    rung = best.get
    html_us = tracer.durations("htmlparser._tokenize")
    fast_us = tracer.durations("fastextract.extract_spans_html_fast")
    xml_us = tracer.durations("extract.extract_spans[xml]")

    m = {
        "scan.s": (rung("scan"), "s"),
        "scan.input_bytes": (input_bytes, "bytes"),
        "codec.s": (rung("codec") - rung("scan"), "s"),
        "codec.markup_bytes": (values["codec"], "bytes"),
        "udfs.arrow_s": (rung("arrow") - rung("codec"), "s"),
        "udfs.bytes_to_python": (job["py_sent"], "bytes"),
        "udfs.bytes_from_python": (job["py_recv"], "bytes"),
        "udfs.rows_out": (job["py_rows"], "rows"),
        "udfs.output_build_s": (0.0 if is_query else rung("extract_full") - rung("extract_discard"), "s"),
        "htmlparser.tokenize_s": (0.0 if is_query else rung("tokenize") - rung("arrow"), "s"),
        "htmlparser.self_s": (prof_self("htmlparser"), "s"),
        "htmlparser.us_per_doc_p50": (us(html_us, 0.5), "us"),
        "htmlparser.us_per_doc_p99": (us(html_us, 0.99), "us"),
        "fastextract.s": (0.0 if is_query else rung("extract_discard") - rung("tokenize"), "s"),
        "fastextract.self_s": (prof_self("fastextract"), "s"),
        "fastextract.handler_calls_per_doc": (
            prof_calls("fastextract", lambda f: f.startswith("handle_")) / n, "calls"),
        "fastextract.us_per_doc_p50": (us(fast_us, 0.5), "us"),
        "fastextract.us_per_doc_p99": (us(fast_us, 0.99), "us"),
        "fastextract.hit_ratio": (
            dp["fast_ok"] / dp["fast_calls"] if dp["fast_calls"] else 0.0, "ratio"),
        "extract.dom_docs": (dp["dom"], "docs"),
        "extract.fallbacks": (dp["fallbacks"], "docs"),
        "extract.xml_us_per_doc_p50": (us(xml_us, 0.5), "us"),
        "extract.xml_us_per_doc_p99": (us(xml_us, 0.99), "us"),
        "xmlparser.self_s": (prof_self("xmlparser"), "s"),
        "xmlparser.mb_per_s": (dp["xml_mb_per_s"], "MB/s"),
        "dom.parse_s": (rung("parse") - rung("arrow") if is_query else 0.0, "s"),
        "dom.parses_per_doc": (
            (prof_calls("htmlparser", lambda f: f == "parse_html")
             + prof_calls("xmlparser", lambda f: f == "parse_xml")) / n, "calls"),
        "dom.self_s": (prof_self("dom"), "s"),
        "xpath.compile_misses": (dp.get("compile_misses", 0), "count"),
        "xpath.eval_self_s": (prof_self("xpath"), "s"),
        "css.compile_s": (dp.get("css_compile_s", 0.0), "s"),
        "query.udf_s": (rung("query") - rung("parse") if is_query else 0.0, "s"),
        "query.snapshot_self_s": (prof_self("query"), "s"),
        "query.hits": (dp.get("query_hits", 0) / n, "nodes/doc"),
        "pipeline.shuffle_s": (0.0 if is_query else rung("pipeline") - rung("extract_full"), "s"),
        "pipeline.shuffle_write_bytes": (job["shuffle_write"], "bytes"),
        "pipeline.extract_task_skew": (job["py_skew"], "ratio"),
        "pipeline.salted_docs": (salted, "docs"),
        "pipeline.lineage_s": (rung("lineage") if is_write else 0.0, "s"),
        "pipeline.write_s": (
            rung("write") - timers["commit"] - rung("pipeline") if is_write else 0.0, "s"),
        "pipeline.commit_s": (timers["commit"] if is_write else 0.0, "s"),
        "pipeline.bytes_written_per_input_byte": (
            job["bytes_written"] / input_bytes, "ratio"),
        "pipeline.executor_cpu_s": (job["cpu_ns"] / 1e9, "s"),
        "pipeline.gc_s": (job["gc_ms"] / 1e3, "s"),
        "pipeline.failed_tasks": (job["failed"], "tasks"),
        "scaling.docs_per_s_1core": (n / one_core, "docs/s"),
        "scaling.eff": (one_core / (cores * untraced), "ratio"),
        "trace.untraced_docs_per_s": (n / untraced, "docs/s"),
        "trace.traced_docs_per_s": (n / profiled, "docs/s"),
        "trace.overhead_frac": (1.0 - untraced / profiled, "ratio"),
    }
    absent = absent_reasons(wl)
    trace_path = os.path.join(os.path.dirname(work), f"trace-{run_id}.json")
    tracer.dump(trace_path)
    info = {
        "nproc": cores,
        "loadavg_1m": load,
        "corpus": wl.record,
        "rungs_s": best,
        "mismatch_docs": mismatch,
        "absent": absent,
        "spans": trace_path,
    }
    return {"metrics": m, "info": info, "mismatch": mismatch}


def absent_reasons(wl) -> dict:
    """Per-layer metrics reported as 0 on this workload, and why."""
    if isinstance(wl, XPathQuery):
        return {
            "udfs.output_build_s": "no extraction rungs: the job is the query columns",
            "htmlparser.tokenize_s": "no extraction rungs",
            "fastextract.s": "no extraction rungs",
            "extract.dom_docs": "extraction path not run; queries parse with the DOM",
            "extract.fallbacks": "extraction path not run",
            "extract.xml_us_per_doc_p50": "extraction path not run",
            "extract.xml_us_per_doc_p99": "extraction path not run",
            "pipeline.shuffle_s": "no pipeline: query columns only",
            "pipeline.salted_docs": "no pipeline",
            "pipeline.lineage_s": "nothing written",
            "pipeline.write_s": "nothing written",
            "pipeline.commit_s": "nothing written",
        }
    out = {
        "dom.parse_s": "parse rung only on xpath_query",
        "query.udf_s": "query rung only on xpath_query",
        "xpath.compile_misses": "no XPath on the extraction path",
        "css.compile_s": "no CSS on the extraction path",
        "query.hits": "no queries on the extraction path",
    }
    if not isinstance(wl, MixedWrite):
        out.update({
            "pipeline.lineage_s": "no output dir: lineage is not committed",
            "pipeline.write_s": "no output dir",
            "pipeline.commit_s": "no output dir",
            "extract.xml_us_per_doc_p50": "no XML docs",
            "extract.xml_us_per_doc_p99": "no XML docs",
            "xmlparser.mb_per_s": "no XML docs",
        })
    return out
