"""spark-submit entrypoint for the extraction job (north_rule: "ships as
spark-submit --py-files to multi-executor clusters").

Usage (cluster — via the repo-root submit_job.py shim, because
spark-submit takes a script, not a module, and this file's relative
imports need package context; the shim is the application file and the
zip carries the package to driver + executors):

    zip -r fuzi_spark.zip fuzi_spark
    spark-submit --py-files fuzi_spark.zip \
        --conf spark.sql.adaptive.enabled=true \
        --conf spark.sql.adaptive.skewJoin.enabled=true \
        --conf spark.sql.execution.arrow.pyspark.enabled=true \
        submit_job.py \
        --input  s3://bucket/docs_parquet         # or --input-table ice.db.docs
        --output /warehouse/extracted             # or --output-table ice.db.spans
        --n-buckets 4096 --doc-type html

Dev (sandbox): python -m fuzi_spark.job --input /root/testdata/sf0.001/... \
    --output /tmp/out --master 'local[8]'

Curation mode (same deployment surface, the ops.curate hygiene DAG):

    python -m fuzi_spark.job --mode curate --input /path/corpus_parquet \
        --output /path/verdicts --blocklist /path/domains \
        --lang-allow en --eval-set /path/benchmarks

Design notes:
- No master is set unless --master is passed: spark-submit owns deployment.
- Iceberg I/O goes through the catalog-qualified table name
  (`spark.read.table` / `df.writeTo(...).append()`), which is the Iceberg
  DataFrame API — the catalog jars/config come from spark-submit --conf
  (spark.sql.catalog.*). Parquet paths are the self-contained dev surface.
- Resume: with --output set, buckets that earlier runs committed to
  <output>/lineage are filtered out before extraction, so a re-run after
  a partial failure only processes the remainder
  (pipeline.committed_buckets). --output-table alone does not resume:
  each run re-extracts every bucket and appends a new run_id, which the
  lineage table keeps apart.
- The job prints a one-line JSON summary (docs, spans, parse errors,
  buckets committed) to stdout for the orchestrator.
"""

from __future__ import annotations

import argparse
import json
import sys
import time


def build_arg_parser() -> argparse.ArgumentParser:
    p = argparse.ArgumentParser(
        prog="fuzi_spark.job",
        description="Distributed main-content extraction / corpus curation",
    )
    p.add_argument(
        "--mode", choices=("extract", "curate", "dedup"), default="extract",
        help="extract: (doc_id, spans) markup → span table (default). "
        "curate: (doc_id, text[, url]) corpus → keep/drop verdicts "
        "with first-failure reason codes (ops.curate DAG)",
    )
    src = p.add_mutually_exclusive_group(required=True)
    src.add_argument("--input", help="parquet path of (doc_id, spans) documents")
    src.add_argument("--input-table", help="catalog table (Iceberg) of documents")
    # curate-mode options (ignored under --mode extract)
    p.add_argument("--blocklist", help="curate: parquet of (domain) to drop")
    p.add_argument("--eval-set", help="curate: parquet of (text) eval docs "
                   "for decontamination")
    p.add_argument("--jaccard-threshold", type=float, default=0.8,
                   help="dedup: exact n-gram Jaccard keep threshold")
    p.add_argument("--lang-allow", help="curate: comma-separated lang codes "
                   "(e.g. en,fr); omit to skip language filtering")
    p.add_argument("--output", help="output dir (parquet dev surface)")
    p.add_argument("--output-table", help="catalog table (Iceberg) for spans")
    p.add_argument("--lineage-table", help="catalog table (Iceberg) for lineage")
    p.add_argument("--n-buckets", type=int, default=4096,
                   help="stable commit buckets (resume granularity)")
    p.add_argument("--num-partitions", type=int, default=None,
                   help="extraction-stage partitions (default 2x parallelism)")
    p.add_argument("--giant-threshold", type=int, default=None,
                   help="bytes of markup above which a doc is salted")
    p.add_argument("--doc-type", choices=("html", "xml"), default=None,
                   help="skip per-doc sniffing when the corpus is uniform")
    p.add_argument("--no-resume", action="store_true",
                   help="ignore committed buckets from prior runs")
    p.add_argument("--master", default=None,
                   help="override master (dev only; spark-submit sets it in prod)")
    p.add_argument("--shuffle-partitions", type=int, default=None)
    return p


def make_spark(args):
    from pyspark.sql import SparkSession

    b = SparkSession.builder.appName("fuzi-extract")
    if args.master:
        b = b.master(args.master)
    b = (
        b.config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
    )
    if args.shuffle_partitions:
        b = b.config("spark.sql.shuffle.partitions", str(args.shuffle_partitions))
    return b.getOrCreate()


def append_table(df, table: str) -> None:
    """Append to a catalog table: DataFrameWriterV2 first (Iceberg and
    other v2 catalogs — each append is an atomic snapshot commit), falling
    back to the V1 writer for session-catalog V1 tables (a plain
    parquet/Hive warehouse without Iceberg jars), where Spark refuses
    `writeTo()` with CANNOT_WRITE_INTO_V1_TABLE. saveAsTable(append)
    keeps the same BY-NAME column resolution as the v2 path (insertInto
    would be positional — wrong here). The V1 fallback commits at job
    granularity via the output committer, not as a catalog snapshot, so
    the manifest protocol's reader-side semi-join stays load-bearing."""
    from pyspark.errors.exceptions.captured import AnalysisException

    try:
        df.writeTo(table).append()
    except AnalysisException as e:
        cond = ""
        try:
            cond = e.getCondition() or ""
        except Exception:
            pass
        if "V1_TABLE" not in cond and "v1 table" not in str(e).lower():
            raise
        df.write.mode("append").saveAsTable(table)


def run_curate(spark, docs, args, t0) -> int:
    """--mode curate: the ops.curate hygiene DAG as a deployable job.
    Emits one verdict row per input doc and a one-line JSON summary
    with per-reason counts (the numbers an orchestrator alerts on)."""
    from pyspark.sql import functions as F

    from .ops.curate import curate

    blocked = (
        spark.read.parquet(args.blocklist) if args.blocklist else None
    )
    ev = spark.read.parquet(args.eval_set) if args.eval_set else None
    langs = args.lang_allow.split(",") if args.lang_allow else None
    url_col = "url" if "url" in docs.columns else None
    verdicts = curate(
        docs,
        url_col=url_col,
        blocked_domains=blocked,
        lang_allow=langs,
        eval_set=ev,
    )
    if args.output:
        verdicts.write.mode("overwrite").parquet(args.output)
        verdicts = spark.read.parquet(args.output)
    elif args.output_table:
        append_table(verdicts, args.output_table)
        verdicts = spark.table(args.output_table)
    by_reason = {
        r["reject_reason"]: r["n"]
        for r in verdicts.groupBy("reject_reason")
        .agg(F.count("*").alias("n"))
        .collect()
    }
    kept = by_reason.pop(None, 0)
    summary = {
        "mode": "curate",
        "docs": int(kept + sum(by_reason.values())),
        "kept": int(kept),
        "rejected": {k: int(v) for k, v in sorted(by_reason.items())},
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary), flush=True)
    return 0


def run_dedup(spark, docs, args, t0) -> int:
    """--mode dedup: the ops.dedup near-dup DAG (LSH → exact verify →
    connected components → keeper election) as a deployable job. Emits
    one (doc_id, group_id, keep) row per input doc and a one-line JSON
    summary (docs, kept, dropped, groups-with-dups)."""
    from pyspark.sql import functions as F

    from .ops.cache import cache_scope
    from .ops.dedup import dedup_pipeline

    with cache_scope():
        verdicts = dedup_pipeline(
            docs, jaccard_threshold=args.jaccard_threshold
        )
        if args.output:
            verdicts.write.mode("overwrite").parquet(args.output)
            verdicts = spark.read.parquet(args.output)
        elif args.output_table:
            append_table(verdicts, args.output_table)
            verdicts = spark.table(args.output_table)
        stats = verdicts.agg(
            F.count("*").alias("docs"),
            F.sum("keep").alias("kept"),
            F.count_distinct(
                F.when(F.col("keep") == 0, F.col("group_id"))
            ).alias("dup_groups"),
        ).collect()[0]
    summary = {
        "mode": "dedup",
        "docs": int(stats["docs"]),
        "kept": int(stats["kept"]),
        "dropped": int(stats["docs"] - stats["kept"]),
        "dup_groups": int(stats["dup_groups"]),
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary), flush=True)
    return 0


def main(argv=None) -> int:
    from pyspark.sql import functions as F

    from .pipeline import DEFAULT_GIANT_THRESHOLD, run_extraction_pipeline

    args = build_arg_parser().parse_args(argv)
    spark = make_spark(args)
    t0 = time.time()

    if args.input_table:
        docs = spark.read.table(args.input_table)
    else:
        docs = spark.read.parquet(args.input)

    if args.mode == "curate":
        return run_curate(spark, docs, args, t0)
    if args.mode == "dedup":
        return run_dedup(spark, docs, args, t0)

    extracted, lineage = run_extraction_pipeline(
        spark,
        docs,
        output_dir=args.output,
        n_buckets=args.n_buckets,
        num_partitions=args.num_partitions,
        giant_threshold=args.giant_threshold or DEFAULT_GIANT_THRESHOLD,
        resume=not args.no_resume,
        doc_type=args.doc_type,
    )

    if args.output_table:
        # Iceberg surface, same manifest protocol as the parquet path
        # (pipeline module docstring): spans append first (each Iceberg
        # append is an atomic snapshot commit), stamped with this run's
        # run_id; lineage is aggregated from the just-committed rows (a
        # pushdown-filtered read, not a second extraction pass) and its
        # append is the commit record. A run killed between the two
        # appends leaves spans rows whose (bucket, run_id) is absent from
        # lineage — readers must semi-join the lineage manifest exactly as
        # pipeline.read_committed_spans does on parquet.
        import uuid

        if "run_id" in extracted.columns:
            # --output also set: extracted reads back the parquet commit,
            # already stamped — reuse its run_id for the Iceberg copy
            row = extracted.select("run_id").first()
            run_id = row["run_id"] if row else uuid.uuid4().hex
            append_table(extracted, args.output_table)
        else:
            run_id = uuid.uuid4().hex
            append_table(
                extracted.withColumn("run_id", F.lit(run_id)),
                args.output_table,
            )
        from .pipeline import _lineage_agg

        written = spark.table(args.output_table).filter(
            F.col("run_id") == run_id
        )
        lineage = _lineage_agg(written).withColumn("run_id", F.lit(run_id))
        if args.lineage_table:
            append_table(lineage, args.lineage_table)
        totals = lineage.groupBy().agg(
            F.sum("doc_count").alias("docs"),
            F.sum("span_count").alias("spans"),
            F.sum("parse_error_count").alias("parse_errors"),
        ).first()
    else:
        # parquet surface: run_extraction_pipeline already wrote if
        # --output, and the returned lineage reads back the committed
        # parquet rows of THIS run — the summary never re-extracts and
        # never counts prior runs
        totals = lineage.groupBy().agg(
            F.sum("doc_count").alias("docs"),
            F.sum("span_count").alias("spans"),
            F.sum("parse_error_count").alias("parse_errors"),
        ).first()

    summary = {
        "docs": int(totals["docs"] or 0),
        "spans": int(totals["spans"] or 0),
        "parse_errors": int(totals["parse_errors"] or 0),
        "n_buckets": args.n_buckets,
        "wall_sec": round(time.time() - t0, 2),
    }
    print(json.dumps(summary), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
