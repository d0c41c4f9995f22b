"""Scale plumbing: partitioning, skew salting, lineage, checkpoint-resume.

north_rule requirements: the 10^12-document job must (a) repartition by
doc_id hash before the tokenize+classify stage, (b) explicitly handle
skewed documents (giant DOMs, media-heavy docs), (c) write extracted spans
plus per-partition lineage rows (partition id, doc count, span count,
parse-error count), and (d) resume from checkpoint by skipping committed
partitions.

Design notes for 1000-executor scale:
- Unit of commit is a BUCKET: pmod(xxhash64(doc_id), n_buckets). Buckets are
  stable across runs (resume-safe) and independent of Spark's task
  partitioning, so changing cluster size never invalidates a checkpoint.
- The extraction shuffle is bucket-aligned (salt_partition): bucket b owns
  a contiguous run of the P extract partitions, so each extract task writes
  one or two bucket files, not one into every bucket — <= P+B+giants span
  files per run instead of P*B, so fewer parquet footers and FS calls. A
  repartitionById with an explicit count is never AQE-coalesced.
- Skew: extraction cost is ~linear in document bytes, and one document is
  one row (atomic). Hash-partitioning alone balances row COUNTS, not BYTES;
  a partition that draws several giant documents becomes a straggler. So
  docs above a weight threshold go to partition
  pmod(xxhash64(doc_id, 'giant-salt'), P) whatever their bucket: a
  deterministic salted spread in the same single scan and shuffle.
- The span->markup codec runs BEFORE the shuffle (pure Catalyst), so the
  exchange carries one string column per doc, and the skew weight is a
  free length(markup) — media spans keep their tag markup in `text`
  (codec.encode_spans), so media-heavy docs weigh their true bytes.
- Lineage aggregation is a map-side-combinable hash agg (Catalyst default),
  one row per bucket — trivially small output even at 10^12 docs; each run
  commits it as one parquet file.
- Resume: the driver collects the <= n_buckets committed bucket ids and
  filters their docs out; the rest are routed by their bucket's rank among
  those left, so a resumed run still fills all P partitions.
- Exactly-once without atomic multi-file renames: the MANIFEST protocol,
  shared by run_extraction_pipeline, streaming_extraction and
  streaming.streaming_exact_dedup / streaming_near_dedup. A run stamps
  its rows with a fresh run_id and appends them (for the extraction job,
  the only pass over the raw input); then manifest rows derived from the
  durable rows (lineage here) are committed as one small parquet job.
  The manifest IS the commit record: readers (read_committed_spans) see
  only rows whose run_id it records, so a run killed between the two
  writes leaves orphans no reader sees, and the re-run writes them again
  under a new run_id. Same idea as an Iceberg snapshot commit, on the
  plain-parquet dev surface. (Single-writer protocol: two runs racing the
  same bucket would both commit; orchestration must not overlap runs on
  one output dir.)
- Read-backs use pinned schemas and every probe is Hadoop's
  FileSystem.exists, so no job infers a schema from footers: a fresh run
  launches 4 jobs (shuffle map + span write, lineage agg + write).
"""

from __future__ import annotations

import os
import uuid
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import IntegerType, LongType, StringType, StructField, StructType

from .udfs import EXTRACTED_SCHEMA, extract_markup_df, extract_spans_df, markup_select

# Giant-doc threshold, calibrated by measurement (round 1): the extractor
# amortizes per-doc overhead on large documents (~58 MB/s on a 7.5 MB doc
# vs ~7 MB/s on 1.3 KB pages), so a document only becomes a straggler when
# its solo cost rivals a whole partition of normal docs (~1-2 s ≈ tens of
# MB). Salting below that size costs an extra scan + shuffle for nothing —
# measured: salting 6 deliberately-colliding 7.5 MB giants made the job
# ~40% SLOWER. Route only genuinely pathological documents.
DEFAULT_GIANT_THRESHOLD = 32_000_000  # bytes of markup per doc

# The span files as read back: `bucket` comes from the partition dirs.
WRITTEN_SCHEMA = StructType(
    [*EXTRACTED_SCHEMA.fields, StructField("run_id", StringType()),
     StructField("bucket", IntegerType())]
)
# One row per (bucket, run) of the lineage.
LINEAGE_SCHEMA = StructType(
    [StructField("bucket", IntegerType())]
    + [StructField(c, LongType()) for c in ("doc_count", "span_count", "parse_error_count")]
    + [StructField("run_id", StringType())]
)
# Streaming lineage also records each row's micro-batch.
STREAM_LINEAGE_SCHEMA = StructType(
    [*LINEAGE_SCHEMA.fields, StructField("batch_id", IntegerType())]
)


def _bucket(n_buckets: int):
    """The commit-unit column: pmod(xxhash64(doc_id), n_buckets)."""
    return F.pmod(F.xxhash64(F.col("doc_id").cast("string")), F.lit(n_buckets))


def _exists(spark: SparkSession, path: str) -> bool:
    """Hadoop-FS probe, scheme-agnostic (file:, hdfs://, s3a://): a
    driver-local os.path.exists is always False for remote schemes, which
    would silently disable resume. Only not-found is False; any other
    failure (permissions) raises."""
    jpath = spark._jvm.org.apache.hadoop.fs.Path(path)
    conf = spark._jsparkSession.sessionState().newHadoopConf()
    return jpath.getFileSystem(conf).exists(jpath)


def salt_partition(
    docs: DataFrame,
    num_partitions: int,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
    n_buckets: int = 64,
) -> DataFrame:
    """Repartition for the extraction stage, aligned to the docs' `bucket`
    column (values in [0, n_buckets)), with weight-skew salting for giants.

    With s = pmod(xxhash64(doc_id, 'giant-salt'), P), a normal doc of
    bucket b goes to partition (b*P + s) div n_buckets: a contiguous run of
    ~P/n_buckets partitions per bucket (~n_buckets/P buckets per partition
    when P < n_buckets), so a partition holds at most two buckets when
    P >= n_buckets and a bucket spans at most two partitions otherwise. s
    is independent of the bucket hash, so it spreads a bucket's docs evenly
    over its partitions. A giant (doc_weight >= giant_threshold) goes to
    partition s, whatever its bucket.

    ONE scan + ONE shuffle: the partition id is one conditional expression,
    so colliding giants are spread without a second pass over the input.
    It is a DETERMINISTIC function of doc_id, not monotonically_increasing_id():
    a nondeterministic shuffle key re-routes recomputed rows after a fetch
    failure (the SPARK-23207 duplicate/loss class)."""
    spread = F.pmod(
        F.xxhash64(F.col("doc_id").cast("string"), F.lit("giant-salt")),
        F.lit(num_partitions),
    )
    aligned = F.floor((F.col("bucket") * num_partitions + spread) / n_buckets)
    part = F.when(F.col("doc_weight") < giant_threshold, aligned).otherwise(spread)
    return docs.repartitionById(num_partitions, part.cast("int"))


def committed_buckets(spark: SparkSession, lineage_path: str) -> Optional[set]:
    """Bucket ids already fully extracted (from prior runs' lineage), or
    None when no lineage dir exists.

    The dir is probed with Hadoop's FileSystem.exists (_exists), so a
    remote output dir resumes too and a failure other than not-found
    surfaces instead of silently restarting from scratch. A lineage dir
    with no committed file (empty, or only the `_temporary` of a commit
    killed mid-job) gives the empty set. The ids (<= n_buckets) come back
    to the driver, where the pipeline filters and ranks on them."""
    lineage = _read(spark, lineage_path, LINEAGE_SCHEMA)
    if lineage is None:
        return None
    return {r.bucket for r in lineage.select("bucket").distinct().collect()}


def _lineage_agg(extracted: DataFrame) -> DataFrame:
    # doc_count without countDistinct: every document emits exactly one
    # anchor row (its first span, seq==0, or its error/empty row, seq==-1),
    # so a plain conditional count suffices — cheap partial aggregates
    # instead of a distinct expansion at 10^12 rows
    return extracted.groupBy("bucket").agg(
        F.sum(F.when(F.col("seq") <= 0, 1).otherwise(0)).alias("doc_count"),
        F.sum(F.when(F.col("seq") >= 0, 1).otherwise(0)).alias("span_count"),
        F.sum("parse_error").alias("parse_error_count"),
    )


# ------------------------------------------------------ manifest protocol


def _read(spark: SparkSession, path: str, schema) -> Optional[DataFrame]:
    """`path` read under a pinned schema (no footer-inference job), or None
    when nothing was ever written there."""
    return spark.read.schema(schema).parquet(path) if _exists(spark, path) else None


def _commit_lineage(lineage: DataFrame, lineage_path: str) -> None:
    """The commit point of the manifest protocol: one small parquet job
    writing one file, atomic at job granularity via the output committer —
    a killed job leaves only _temporary files, never visible rows. Kept as
    a module-level seam, looked up at call time, so the crash-injection
    tests can fail a run between the two writes."""
    lineage.coalesce(1).write.mode("append").parquet(lineage_path)


def _append_commit(
    rows: DataFrame, path: str, schema, manifest_of, manifest_path: str,
    batch_id: Optional[int] = None, partition_by: tuple = (),
):
    """The manifest protocol's one writer: stamp `rows` with a fresh
    run_id, append them under `path`, read this run back under the pinned
    `schema`, then commit manifest_of(written rows) — stamped with the
    run_id, and with the batch_id of a micro-batch — to `manifest_path`.
    The manifest derives from the durable rows, so it never recomputes
    them and can never disagree with what was written. Returns (written
    rows, run_id)."""
    run_id = uuid.uuid4().hex
    rows.withColumn("run_id", F.lit(run_id)).write.mode("append").partitionBy(
        *partition_by
    ).parquet(path)
    written = rows.sparkSession.read.schema(schema).parquet(path).filter(
        F.col("run_id") == run_id
    )
    manifest = manifest_of(written).withColumn("run_id", F.lit(run_id))
    if batch_id is not None:
        manifest = manifest.withColumn("batch_id", F.lit(batch_id))
    _commit_lineage(manifest, manifest_path)
    return written, run_id


def _committed(spark: SparkSession, path: str, schema, manifest_path: str) -> DataFrame:
    """The manifest protocol's one read view: the rows of `path` whose
    run_id the manifest records — a run commits all its manifest rows in
    one job, so its run_id is the whole commit key. A broadcast semi-join
    against the metadata-sized set of committed runs: the data never
    shuffles. Empty, under the pinned `schema`, before the first commit
    and when only orphan rows exist."""
    data = _read(spark, path, schema)
    runs = _read(spark, manifest_path, "run_id string")
    if data is None or runs is None:
        return spark.createDataFrame([], schema)
    runs = runs.distinct().withColumnRenamed("run_id", "committed_run")
    return data.join(
        F.broadcast(runs), F.col("run_id") == F.col("committed_run"), "left_semi"
    )


def _stream_commits(
    spark: SparkSession, input_path: str, schema, checkpoint_dir: str,
    manifest_path: str, manifest_schema, commit_batch,
    max_files_per_trigger: Optional[int] = None,
):
    """The manifest protocol's one stream: an availableNow foreachBatch
    over the parquet files under `input_path` that commits each
    micro-batch by commit_batch(batch_df, batch_id, seen), `seen` being
    the committed manifest (None before the first commit).

    foreachBatch is at-least-once, so the redelivery probe skips a batch
    whose batch_id the manifest records; a batch killed between its two
    writes never reached the manifest and commits again under a fresh
    run_id. The probe is _exists plus a pinned-schema read: no inference
    job, and a failure other than not-found raises."""
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)

    def process(batch_df: DataFrame, batch_id: int) -> None:
        seen = _read(batch_df.sparkSession, manifest_path, manifest_schema)
        if seen is not None and (
            seen.filter(F.col("batch_id") == batch_id).limit(1).count()
        ):
            return  # redelivered, already committed
        commit_batch(batch_df, batch_id, seen)

    return (
        reader.parquet(input_path)
        .writeStream.foreachBatch(process)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def read_committed_spans(spark: SparkSession, output_dir: str) -> DataFrame:
    """Exactly-once read view of the span table: only spans whose run the
    lineage records are visible (none before the first commit). Orphan
    files from a run killed between the spans write and the lineage commit
    are filtered out (_committed)."""
    return _committed(spark, os.path.join(output_dir, "spans"), WRITTEN_SCHEMA,
                      os.path.join(output_dir, "lineage"))


def run_extraction_pipeline(
    spark: SparkSession,
    docs: DataFrame,
    output_dir: Optional[str] = None,
    n_buckets: int = 64,
    num_partitions: Optional[int] = None,
    giant_threshold: int = DEFAULT_GIANT_THRESHOLD,
    resume: bool = True,
    doc_type: Optional[str] = None,
):
    """The end-to-end job. docs: (doc_id, spans[, doc_type]).

    Returns (spans_df, lineage_df). With output_dir set, both are appended
    to parquet (prod: Iceberg `writeTo(...).append()` — parquet keeps the
    dev loop self-contained) under the manifest protocol (module
    docstring): ONE extraction pass writes the span files, lineage is then
    aggregated from the already-written files (never a recompute) and its
    write is the commit point; the returned DataFrames read back this
    run's durable rows. Resume skips lineage-committed buckets."""
    if num_partitions is None:
        num_partitions = spark.sparkContext.defaultParallelism * 2

    # span→markup codec BEFORE the salting shuffle: the exchange then
    # carries ONE string column per doc instead of the array-of-structs
    # spans payload (per-span kind/media_ref/offset fields + Arrow struct
    # overhead) — at 10^12 docs shuffle bytes are the scarce resource.
    # doc_weight falls out for free as length(markup): the codec concats
    # coalesce(text,'') over every span, so the two are identical by
    # construction (the old with_weight_and_bucket aggregate was a second
    # full pass over the spans arrays).
    docs = (
        markup_select(docs)
        .withColumn("doc_weight", F.length(F.coalesce("markup", F.lit(""))))
        .withColumn("bucket", _bucket(n_buckets))
    )

    n_route = n_buckets
    if output_dir:
        spans_path = os.path.join(output_dir, "spans")
        lineage_path = os.path.join(output_dir, "lineage")
        done = committed_buckets(spark, lineage_path) if resume else None
        if done:
            # route on each remaining bucket's rank among those left (-1:
            # committed, dropped), so the docs still fill all P partitions
            todo = [b for b in range(n_buckets) if b not in done]
            rank = {b: i for i, b in enumerate(todo)}
            lookup = F.array(*[F.lit(rank.get(b, -1)) for b in range(n_buckets)])
            docs = docs.withColumn(
                "bucket", F.element_at(lookup, F.col("bucket").cast("int") + 1)
            ).filter(F.col("bucket") >= 0)
            n_route = max(len(todo), 1)

    docs = salt_partition(docs, num_partitions, giant_threshold, n_route)

    extracted = extract_markup_df(docs, doc_type)
    # re-attach the stable bucket (cheap hash recompute — avoids carrying it
    # through the Python stage)
    extracted = extracted.withColumn("bucket", _bucket(n_buckets))

    if output_dir:
        # the ONE pass over the raw input: extract + write spans; lineage
        # from the durable files — a column-pruned scan of (bucket, seq,
        # parse_error, run_id); other runs' files are skipped via parquet
        # stats on the constant run_id column
        written, run_id = _append_commit(
            extracted, spans_path, WRITTEN_SCHEMA, _lineage_agg, lineage_path,
            partition_by=("bucket",),
        )
        committed = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path).filter(
            F.col("run_id") == run_id
        )
        return written, committed

    return extracted, _lineage_agg(extracted)


def write_bucketed(
    df: DataFrame,
    table: str,
    path: str,
    n_buckets: int = 64,
    keys: tuple = ("doc_id",),
) -> None:
    """Persist a table bucketed+sorted on the join keys so later joins
    co-locate WITHOUT a shuffle — the right layout for the recurring
    spans ⋈ golden verification join at 10^12 rows: pay the shuffle once
    at write time, never again."""
    (
        df.write.mode("overwrite")
        .format("parquet")
        .option("path", path)
        .bucketBy(n_buckets, *keys)
        .sortBy(*keys)
        .saveAsTable(table)
    )


def streaming_extraction(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    doc_type: Optional[str] = None,
    n_buckets: int = 64,
    max_files_per_trigger: Optional[int] = None,
):
    """Structured-Streaming variant of the extraction job: the SAME
    Arrow-batched extraction operator (mapInPandas is streaming-compatible)
    over interleaved-document files, each micro-batch's spans + lineage
    committed under the manifest protocol into the batch job's layout —
    so read_committed_spans reads it and a batch run over the same dir
    resumes past its buckets.

    The reference has no streaming surface (SURVEY.md §2.8) — this is the
    pipeline-level capability a continuous crawl ingest needs."""
    from .udfs import SPANS_ARRAY

    schema = StructType([StructField("doc_id", StringType()),
                         StructField("doc_type", StringType()),
                         StructField("spans", SPANS_ARRAY)])
    spans_path = os.path.join(output_dir, "spans")
    lineage_path = os.path.join(output_dir, "lineage")

    def commit_batch(batch_df: DataFrame, batch_id: int, seen) -> None:
        extracted = extract_spans_df(batch_df, doc_type).withColumn(
            "bucket", _bucket(n_buckets)
        )
        _append_commit(
            extracted, spans_path, WRITTEN_SCHEMA, _lineage_agg, lineage_path,
            batch_id, ("bucket",),
        )

    return _stream_commits(
        spark, input_path, schema, checkpoint_dir, lineage_path,
        STREAM_LINEAGE_SCHEMA, commit_batch, max_files_per_trigger,
    )


def verification_join(extracted: DataFrame, golden: DataFrame) -> DataFrame:
    """Span-sequence equality check (north_rule): full outer join on
    (doc_id, seq), comparing (kind, text, media_ref). Returns per-doc
    mismatch counts; empty result == exact corpus match."""
    e = extracted.filter(F.col("seq") >= 0).select(
        "doc_id", "seq", "kind", "text", "media_ref"
    )
    g = golden.select(
        "doc_id",
        "seq",
        F.col("kind").alias("g_kind"),
        F.col("text").alias("g_text"),
        F.col("media_ref").alias("g_media_ref"),
    )
    j = e.join(g, ["doc_id", "seq"], "full_outer")
    mismatch = (
        ~F.col("kind").eqNullSafe(F.col("g_kind"))
        | ~F.col("text").eqNullSafe(F.col("g_text"))
        | ~F.col("media_ref").eqNullSafe(F.col("g_media_ref"))
    )
    return (
        j.filter(mismatch)
        .groupBy("doc_id")
        .agg(F.count("*").alias("mismatched_spans"))
    )
