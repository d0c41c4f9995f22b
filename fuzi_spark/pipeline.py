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
- Read-backs use pinned schemas and the lineage probe is Hadoop's
  FileSystem.exists, so no job infers a schema from footers: a fresh run
  launches 4 jobs (shuffle map + span write, lineage agg + write).
- Exactly-once without atomic multi-file renames: the MANIFEST protocol.
  Every run stamps its span rows with a fresh run_id; spans are written
  first (the only pass over the raw input), then lineage — derived from
  the already-durable span files, so nothing is extracted twice — is
  committed as a single small parquet job. The lineage rows ARE the commit
  record: readers (read_committed_spans) only see spans whose
  (bucket, run_id) appears in lineage. A run killed between the two writes
  leaves orphan span files that no reader ever sees; the re-run extracts
  the bucket again under a new run_id and commits it. Same idea as an
  Iceberg snapshot commit, expressed on the plain-parquet dev surface.
  (Single-writer protocol: two runs racing the same bucket would both
  commit; orchestration must not overlap runs on one output dir.)
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
# One row per (bucket, run) of the batch job's lineage.
LINEAGE_SCHEMA = StructType(
    [StructField("bucket", IntegerType())]
    + [StructField(c, LongType()) for c in ("doc_count", "span_count", "parse_error_count")]
    + [StructField("run_id", StringType())]
)
# Streaming lineage computes `bucket` (a bigint) instead of reading it back
# from the partition dirs, and records its micro-batch.
STREAM_LINEAGE_SCHEMA = StructType(
    [StructField("bucket", LongType()), *LINEAGE_SCHEMA.fields[1:],
     StructField("batch_id", IntegerType())]
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
    if not _exists(spark, lineage_path):
        return None
    lineage = spark.read.schema(LINEAGE_SCHEMA).parquet(lineage_path)
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


def _commit_lineage(lineage: DataFrame, lineage_path: str) -> None:
    """The commit point of the manifest protocol: one small parquet job
    writing one file (a run's lineage is <= n_buckets rows), atomic at job
    granularity via the output committer — a killed job leaves only
    _temporary files, never visible rows. Kept as a seam so the
    crash-injection test can fail a run between the two writes."""
    lineage.coalesce(1).write.mode("append").parquet(lineage_path)


def read_committed_spans(spark: SparkSession, output_dir: str) -> DataFrame:
    """Exactly-once read view of the span table: only spans whose
    (bucket, run_id) is recorded in lineage are visible (none before the
    first commit). Orphan files from a run killed between the spans write
    and the lineage commit are filtered out by a broadcast semi-join
    against the metadata-sized manifest — no shuffle of the span table."""
    spans_path = os.path.join(output_dir, "spans")
    lineage_path = os.path.join(output_dir, "lineage")
    if not (_exists(spark, spans_path) and _exists(spark, lineage_path)):
        return spark.createDataFrame([], WRITTEN_SCHEMA)
    spans = spark.read.schema(WRITTEN_SCHEMA).parquet(spans_path)
    # STREAM_LINEAGE_SCHEMA reads either writer's lineage: the batch job's
    # int `bucket` widens to bigint
    manifest = (
        spark.read.schema(STREAM_LINEAGE_SCHEMA)
        .parquet(lineage_path)
        .select("bucket", "run_id")
        .distinct()
    )
    return spans.join(F.broadcast(manifest), ["bucket", "run_id"], "left_semi")


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
        run_id = uuid.uuid4().hex
        # the ONE pass over the raw input: extract + write spans
        extracted.withColumn("run_id", F.lit(run_id)).write.mode(
            "append"
        ).partitionBy("bucket").parquet(spans_path)
        # lineage from the durable files — a column-pruned scan of
        # (bucket, seq, parse_error, run_id); other runs' files are skipped
        # via parquet stats on the constant run_id column
        written = spark.read.schema(WRITTEN_SCHEMA).parquet(spans_path).filter(
            F.col("run_id") == run_id
        )
        lineage = _lineage_agg(written).withColumn("run_id", F.lit(run_id))
        _commit_lineage(lineage, lineage_path)
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
    available_now: bool = True,
    max_files_per_trigger: Optional[int] = None,
):
    """Structured-Streaming variant of the extraction job: continuously
    ingest interleaved-document files, extract, and append spans + lineage.

    Spark-first shape: the SAME Arrow-batched extraction operator runs on
    the stream (mapInPandas is streaming-compatible); per-micro-batch
    lineage is written via foreachBatch so each batch commits spans and
    its lineage rows together. Exactly-once across restarts comes from the
    checkpoint; the per-bucket lineage additionally enables the same
    committed-bucket resume protocol as the batch job.

    The reference has no streaming surface (SURVEY.md §2.8) — this is the
    pipeline-level capability a continuous crawl ingest needs."""
    from .udfs import SPANS_ARRAY

    from pyspark.sql.types import StringType, StructField, StructType

    schema = StructType(
        [
            StructField("doc_id", StringType()),
            StructField("doc_type", StringType()),
            StructField("spans", SPANS_ARRAY),
        ]
    )
    reader = spark.readStream.schema(schema)
    if max_files_per_trigger:
        reader = reader.option("maxFilesPerTrigger", max_files_per_trigger)
    stream = reader.parquet(input_path)

    spans_path = os.path.join(output_dir, "spans")
    lineage_path = os.path.join(output_dir, "lineage")

    def process_batch(batch_df: DataFrame, batch_id: int) -> None:
        # foreachBatch is at-least-once: on restart the last batch can be
        # redelivered. Lineage is the commit record, so a batch whose
        # batch_id is already committed is skipped wholesale, and a batch
        # killed between the spans write and the lineage commit leaves
        # only orphan span files under a run_id that never reaches the
        # manifest — invisible to read_committed_spans; the redelivery
        # rewrites it under a fresh run_id. Exactly-once at the read
        # surface either way.
        #
        # The probe is Hadoop's FileSystem.exists (_exists), then a read
        # under the pinned STREAM_LINEAGE_SCHEMA: no schema-inference job,
        # and a failure other than not-found raises rather than letting a
        # redelivered batch re-commit under a fresh run_id and double-count
        # its spans at the read surface.
        session = batch_df.sparkSession
        if _exists(session, lineage_path) and (
            session.read.schema(STREAM_LINEAGE_SCHEMA)
            .parquet(lineage_path)
            .filter(F.col("batch_id") == batch_id)
            .limit(1)
            .count()
        ):
            return
        run_id = uuid.uuid4().hex
        extracted = (
            extract_spans_df(batch_df, doc_type)
            .withColumn("bucket", _bucket(n_buckets))
            .withColumn("run_id", F.lit(run_id))
        )
        extracted.persist()
        try:
            extracted.write.mode("append").partitionBy("bucket").parquet(spans_path)
            lineage = (
                _lineage_agg(extracted)
                .withColumn("run_id", F.lit(run_id))
                .withColumn("batch_id", F.lit(batch_id))
            )
            _commit_lineage(lineage, lineage_path)
        finally:
            extracted.unpersist()

    writer = (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
    )
    if available_now:
        writer = writer.trigger(availableNow=True)
    return writer.start()


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
