"""Structured-Streaming operators beyond the extraction job.

The reference is batch-parse only (SURVEY.md §2.8); these are the
pipeline-level streaming capabilities a continuous ingest needs:
watermarked tumbling-window aggregation over an event stream (built-in
streaming operators), per-user sessionization with custom state
(applyInPandasWithState), and the exact and near-duplicate dedup ingest
against committed history, which writes, probes and reads through the
manifest protocol of pipeline.py."""

from __future__ import annotations

import os
from typing import Optional

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from .pipeline import _append_commit, _committed, _stream_commits


def windowed_event_counts(events: DataFrame, window: str = "1 day") -> DataFrame:
    """Tumbling-window counts + integer-cent sums per event_type.

    Works on both batch and streaming DataFrames (same plan shape); the
    streaming caller adds the watermark. Sums are aggregated in integer
    cents so results are bit-stable across engines and retries."""
    return (
        events.groupBy(
            F.window("ts", window).alias("w"), F.col("event_type")
        )
        .agg(
            F.count("*").alias("n_events"),
            F.sum(F.round(F.col("value") * 100).cast("long")).alias("total_cents"),
        )
        .select(
            F.col("w.start").alias("window_start"),
            "event_type",
            "n_events",
            "total_cents",
        )
    )


def sessionize_batch(events: DataFrame, gap_minutes: int = 30) -> DataFrame:
    """Per-user session assignment: a session breaks when the gap to the
    previous event exceeds gap_minutes. Pure window functions (lag +
    running sum) — the classic sessionization shape Catalyst executes as
    one sort per user partition."""
    from pyspark.sql import Window

    w = Window.partitionBy("user_id").orderBy("ts")
    # microsecond precision so gap comparisons are engine-exact (parquet ts
    # may be TIMESTAMP_NTZ; normalize first)
    tsl = F.unix_micros(F.col("ts").cast("timestamp"))
    gap = F.lag(tsl).over(w)
    is_new = (gap.isNull() | ((tsl - gap) > gap_minutes * 60 * 1_000_000)).cast("long")
    sess = events.withColumn("session_id", F.sum(is_new).over(w))
    return (
        sess.groupBy("user_id", "session_id")
        .agg(
            F.min("ts").alias("session_start"),
            F.max("ts").alias("session_end"),
            F.count("*").alias("n_events"),
        )
        .select("user_id", "session_id", "session_start", "session_end", "n_events")
    )


SESSION_OUTPUT_SCHEMA = (
    "user_id long, session_start timestamp, session_end timestamp, n_events long"
)
SESSION_STATE_SCHEMA = "start long, last long, n long"


def _session_fn(gap_minutes: int):
    import pandas as pd

    gap_s = gap_minutes * 60

    def fn(key, pdf_iter, state):
        user_id = key[0]
        if state.hasTimedOut:
            start, last, n = state.get
            state.remove()
            yield pd.DataFrame(
                {
                    "user_id": [user_id],
                    "session_start": [pd.Timestamp(start, unit="s")],
                    "session_end": [pd.Timestamp(last, unit="s")],
                    "n_events": [n],
                }
            )
            return
        ts = []
        for pdf in pdf_iter:
            ts.extend(int(t.timestamp()) for t in pdf["ts"])
        ts.sort()
        if state.exists:
            start, last, n = state.get
        else:
            start, last, n = None, None, 0
        out = {"user_id": [], "session_start": [], "session_end": [], "n_events": []}
        for t in ts:
            if start is None:
                start, last, n = t, t, 1
            elif t - last > gap_s:
                out["user_id"].append(user_id)
                out["session_start"].append(pd.Timestamp(start, unit="s"))
                out["session_end"].append(pd.Timestamp(last, unit="s"))
                out["n_events"].append(n)
                start, last, n = t, t, 1
            else:
                last = t
                n += 1
        state.update((start, last, n))
        state.setTimeoutTimestamp((last + gap_s) * 1000)
        yield pd.DataFrame(out)

    return fn


def sessionize_stream(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    gap_minutes: int = 30,
    watermark: str = "1 hour",
    query_name: str = "sessions",
):
    """Custom stateful streaming operator via applyInPandasWithState:
    per-user session state (start, last, count) lives in the state store;
    sessions close when the event-time gap exceeds gap_minutes (emitted on
    the next event) or when the event-time timeout fires."""
    from pyspark.sql.streaming.state import GroupStateTimeout

    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = (
        spark.readStream.schema(schema)
        .parquet(input_path)
        .withWatermark("ts", watermark)
    )
    sessions = stream.groupBy("user_id").applyInPandasWithState(
        _session_fn(gap_minutes),
        outputStructType=SESSION_OUTPUT_SCHEMA,
        stateStructType=SESSION_STATE_SCHEMA,
        outputMode="append",
        timeoutConf=GroupStateTimeout.EventTimeTimeout,
    )
    return (
        sessions.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


def streaming_windowed_events(
    spark: SparkSession,
    input_path: str,
    checkpoint_dir: str,
    window: str = "1 day",
    watermark: str = "2 days",
    query_name: str = "windowed_events",
):
    """Watermarked streaming variant: late events beyond `watermark` are
    dropped, finalized windows are appended. availableNow for backfills."""
    schema = (
        "event_id long, ts timestamp, user_id long, event_type string, "
        "value double, props string"
    )
    stream = spark.readStream.schema(schema).parquet(input_path)
    agg = windowed_event_counts(stream.withWatermark("ts", watermark), window)
    return (
        agg.writeStream.format("memory")
        .queryName(query_name)
        .outputMode("append")
        .option("checkpointLocation", checkpoint_dir)
        .trigger(availableNow=True)
        .start()
    )


# ------------------------------------------------------- incremental dedup


def dedup_novel(
    batch: DataFrame,
    seen_digests: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Novel rows of `batch`: drop everything whose content digest is in
    the historical `seen_digests` set, then elect one keeper per digest
    WITHIN the batch (smallest id — deterministic under redelivery).
    Returns the keeper rows with a `digest` column appended.

    Scale shape: the history check is a digest-keyed anti-join — 32-byte
    keys, never document bytes; at 10^12 seen docs, write the digest table
    bucketed on digest (pipeline.write_bucketed) so the anti-join
    co-locates without shuffling the history. The within-batch election is
    one shuffle of the (micro-)batch keyed on digest; dup groups are tiny,
    so the per-key sort is trivial."""
    from pyspark.sql import Window

    b = batch.withColumn("digest", F.sha2(F.col(text_col), 256))
    if seen_digests is not None:
        b = b.join(seen_digests.select("digest").distinct(), "digest", "left_anti")
    w = Window.partitionBy("digest").orderBy(id_col)
    return (
        b.withColumn("_rn", F.row_number().over(w))
        .filter(F.col("_rn") == 1)
        .drop("_rn")
    )


# The dedup ingest's input documents, its novel rows as written (the
# kernel appends `digest`), and its two manifests.
DOCS_SCHEMA = "doc_id long, text string"
NOVEL_SCHEMA = "digest string, doc_id long, text string, run_id string"
DIGESTS_SCHEMA = "digest string, run_id string, batch_id int"
NEAR_NOVEL_SCHEMA = "doc_id long, text string, run_id string"
BANDS_SCHEMA = "band int, bucket long, run_id string, batch_id int"


def streaming_exact_dedup(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: Optional[int] = None,
):
    """Continuously ingest (doc_id, text) documents and emit only
    never-seen-before content: each micro-batch is deduplicated against
    ITSELF and against every previously committed batch (the
    training-ingest "have we crawled this page before" gate).

    The manifest protocol of the extraction job (pipeline module
    docstring): novel rows land under novel/, then their digests are
    committed to the digests/ manifest. The seen set is that manifest, so
    orphan rows of a killed batch can never suppress a legitimate novel
    row; `read_novel_docs` is the committed-only view."""
    novel_path = os.path.join(output_dir, "novel")
    digest_path = os.path.join(output_dir, "digests")

    def commit_batch(batch_df: DataFrame, batch_id: int, seen) -> None:
        _append_commit(
            dedup_novel(batch_df, seen), novel_path, NOVEL_SCHEMA,
            lambda written: written.select("digest"), digest_path, batch_id,
        )

    return _stream_commits(
        spark, input_path, DOCS_SCHEMA, checkpoint_dir, digest_path,
        DIGESTS_SCHEMA, commit_batch, max_files_per_trigger,
    )


def read_novel_docs(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only read view of the streaming dedup output: novel rows
    whose run the digest manifest records (pipeline._committed)."""
    return _committed(spark, os.path.join(output_dir, "novel"), NOVEL_SCHEMA,
                      os.path.join(output_dir, "digests"))


def near_novel(
    batch: DataFrame,
    seen_bands: Optional[DataFrame] = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_hashes: int = 64,
    bands: int = 16,
    shingle_n: int = 3,
):
    """NEAR-duplicate novelty gate for a (micro-)batch: drop every doc
    whose minhash-LSH band keys collide with the committed history
    (`seen_bands`, rows (band, bucket)) or with a SMALLER-id doc in the
    same batch, and return (novel_rows, novel_band_keys) — the band
    keys of the survivors are exactly the state to commit forward.

    Semantics, pinned:
    - the within-batch rule is the GREEDY streaming election: a doc is
      dropped iff it band-collides with any smaller id, whether or not
      that smaller id itself survives — deterministic under redelivery,
      conservative (it can drop a chain's tail that exact component
      labeling would keep: ingest order is the arrival order, same as
      any streaming dedup);
    - docs shorter than the shingle width keep shingle_hashes'
      one-truncated-shingle semantics: they band on the tokens they
      have, so identical short docs dedup and different short docs
      never constant-collide;
    - band keys, not signatures, are the history: 17× smaller rows
      ((band:int, bucket:long) vs 64 longs), and the collision test is
      a pure equi-join on metadata-width keys. At 10^12 docs, write the
      committed band table bucketed on (band, bucket) so the probe
      co-locates without shuffling history.
    """
    from fuzi_spark.ops.cache import scoped_persist
    from fuzi_spark.ops.dedup import minhash_bands

    base = scoped_persist(batch)
    bk = scoped_persist(
        minhash_bands(base, text_col, id_col, n_hashes, bands, shingle_n)
    )
    drop_ids = None
    if seen_bands is not None:
        drop_ids = (
            bk.join(
                seen_bands.select("band", "bucket").distinct(),
                ["band", "bucket"],
            )
            .select(id_col)
            .distinct()
        )
    l, r = bk.alias("l"), bk.alias("r")
    intra = (
        l.join(
            r,
            (F.col("l.band") == F.col("r.band"))
            & (F.col("l.bucket") == F.col("r.bucket"))
            & (F.col(f"l.{id_col}") < F.col(f"r.{id_col}")),
        )
        .select(F.col(f"r.{id_col}").alias(id_col))
        .distinct()
    )
    drop_ids = intra if drop_ids is None else drop_ids.unionByName(intra)
    novel = base.join(drop_ids, id_col, "left_anti")
    novel_bands = bk.join(
        novel.select(id_col), id_col, "left_semi"
    )
    return novel, novel_bands


def streaming_near_dedup(
    spark: SparkSession,
    input_path: str,
    output_dir: str,
    checkpoint_dir: str,
    max_files_per_trigger: Optional[int] = None,
):
    """Continuous NEAR-dedup ingest: each micro-batch keeps only docs
    that are not near-duplicates (minhash-LSH collision, near_novel's
    defaults) of anything previously committed or of an earlier doc in
    the same batch.

    The manifest protocol of streaming_exact_dedup, with the survivors'
    BAND KEYS (band, bucket) as the manifest: novel rows land under
    novel/, then the band keys of the rows actually written are committed
    to bands/, the seen set of later batches. read_near_novel_docs is the
    committed-only view."""
    from fuzi_spark.ops.cache import cache_scope

    novel_path = os.path.join(output_dir, "novel")
    bands_path = os.path.join(output_dir, "bands")

    def commit_batch(batch_df: DataFrame, batch_id: int, seen) -> None:
        with cache_scope():
            novel, novel_bands = near_novel(batch_df, seen)
            _append_commit(
                novel, novel_path, NEAR_NOVEL_SCHEMA,
                lambda written: novel_bands.join(
                    written.select("doc_id"), "doc_id", "left_semi"
                ).select("band", "bucket"),
                bands_path, batch_id,
            )

    return _stream_commits(
        spark, input_path, DOCS_SCHEMA, checkpoint_dir, bands_path,
        BANDS_SCHEMA, commit_batch, max_files_per_trigger,
    )


def read_near_novel_docs(spark: SparkSession, output_dir: str) -> DataFrame:
    """Committed-only view of streaming_near_dedup output: novel rows
    whose run the band manifest records (pipeline._committed)."""
    return _committed(spark, os.path.join(output_dir, "novel"), NEAR_NOVEL_SCHEMA,
                      os.path.join(output_dir, "bands"))
