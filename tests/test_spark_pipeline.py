"""End-to-end Spark pipeline tests — the north_rule correctness gate.

Asserts exact span-sequence equality (kind, text, media_ref, order) per
doc_id between the DISTRIBUTED pipeline and the frozen single-process
goldens (tests/goldens/extraction_golden.json), over the corpus seeded
from the reference's own test documents (FIXTURES.md §B). A mismatch here
means the distributed path (codec, shuffle, salting, Arrow transfer)
changed observable semantics.
"""

import contextlib
import hashlib
import json
import os

import pytest

from fuzi_spark.codec import encode_spans, reassemble
from fuzi_spark.corpus import REFERENCE_RESOURCES

GOLDEN_PATH = os.path.join(os.path.dirname(__file__), "goldens", "extraction_golden.json")


@pytest.fixture(scope="module")
def spark():
    from pyspark.sql import SparkSession

    s = (
        SparkSession.builder.master("local[4]")
        .appName("fuzi-tests")
        .config("spark.sql.shuffle.partitions", "8")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.ui.enabled", "false")
        .getOrCreate()
    )
    s.sparkContext.setLogLevel("ERROR")
    yield s


@pytest.fixture(scope="module")
def golden():
    with open(GOLDEN_PATH) as f:
        return json.load(f)


def _span_digest(spans):
    h = hashlib.sha256()
    for s in spans:
        h.update(
            f"{s['seq']}|{s['kind']}|{s['text'] or ''}|{s['media_ref'] or ''}\n".encode()
        )
    return h.hexdigest()


class TestCodec:
    def test_roundtrip_simple(self):
        m = '<html><body><p>x</p><img src="a.jpg"><p>y</p></body></html>'
        assert reassemble(encode_spans(m)) == m

    def test_roundtrip_fixtures(self):
        path = os.path.join(REFERENCE_RESOURCES, "web.html")
        if not os.path.exists(path):
            pytest.skip("reference fixtures not available")
        m = open(path, encoding="utf-8", errors="replace").read()
        spans = encode_spans(m)
        assert reassemble(spans) == m
        assert any(s["kind"] == "media" for s in spans)

    def test_unordered_reassembly(self):
        m = "<a><b>x</b></a>"
        spans = encode_spans(m)
        assert reassemble(list(reversed(spans))) == m


class TestGoldenEquality:
    """north_rule: span-sequence equality per doc_id, Spark vs goldens."""

    @pytest.fixture(scope="class")
    def extracted(self, spark):
        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import run_extraction_pipeline

        docs = corpus_df(spark, include_fixtures=True, skew=True)
        extracted, lineage = run_extraction_pipeline(
            spark, docs, output_dir=None, n_buckets=8, num_partitions=8
        )
        rows = extracted.collect()
        by_doc = {}
        for r in rows:
            by_doc.setdefault(r.doc_id, []).append(r)
        for v in by_doc.values():
            v.sort(key=lambda r: r.seq)
        return by_doc, lineage.collect()

    def test_every_doc_extracted(self, extracted, golden):
        by_doc, _ = extracted
        missing = set(golden) - set(by_doc)
        assert not missing, f"docs missing from pipeline output: {missing}"

    def test_span_sequence_equality(self, extracted, golden):
        by_doc, _ = extracted
        bad = []
        for doc_id, g in golden.items():
            rows = [r for r in by_doc.get(doc_id, []) if r.seq >= 0]
            if len(rows) != g["n_spans"]:
                bad.append((doc_id, "count", len(rows), g["n_spans"]))
                continue
            dig = _span_digest(
                [
                    {"seq": r.seq, "kind": r.kind, "text": r.text, "media_ref": r.media_ref}
                    for r in rows
                ]
            )
            if dig != g["digest"]:
                bad.append((doc_id, "digest", dig[:12], g["digest"][:12]))
        assert not bad, f"span-sequence mismatches: {bad}"

    def test_exact_small_docs(self, extracted, golden):
        by_doc, _ = extracted
        for doc_id, g in golden.items():
            if "spans" not in g:
                continue
            rows = [r for r in by_doc.get(doc_id, []) if r.seq >= 0]
            got = [
                {"seq": r.seq, "kind": r.kind, "text": r.text, "media_ref": r.media_ref}
                for r in rows
            ]
            assert got == g["spans"], f"{doc_id}: {got} != {g['spans']}"

    def test_no_parse_errors_on_corpus(self, extracted, golden):
        by_doc, _ = extracted
        for doc_id, rows in by_doc.items():
            errs = [r for r in rows if r.parse_error]
            expected = golden.get(doc_id, {}).get("parse_error", 0)
            assert len(errs) == expected, f"{doc_id}: unexpected parse errors"

    def test_lineage_totals(self, extracted, golden):
        by_doc, lineage = extracted
        total_docs = sum(r.doc_count for r in lineage)
        total_spans = sum(r.span_count for r in lineage)
        assert total_docs == len(golden)
        assert total_spans == sum(g["n_spans"] for g in golden.values())


class TestResume:
    def test_committed_buckets_skipped(self, spark, tmp_path):
        from pyspark.sql import functions as F

        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import run_extraction_pipeline

        out = str(tmp_path / "out")
        docs = corpus_df(spark, include_fixtures=False, skew=False)
        # first run: full
        e1, l1 = run_extraction_pipeline(
            spark, docs, output_dir=out, n_buckets=4, num_partitions=4
        )
        committed = spark.read.parquet(os.path.join(out, "lineage"))
        n_buckets_done = committed.select("bucket").distinct().count()
        assert n_buckets_done == 4
        # second run: everything committed → nothing to extract
        e2, _ = run_extraction_pipeline(
            spark, docs, output_dir=out, n_buckets=4, num_partitions=4
        )
        # spans path now contains each doc exactly once (no double-append)
        spans = spark.read.parquet(os.path.join(out, "spans"))
        per_doc = (
            spans.filter(F.col("seq") == 0).groupBy("doc_id").count().collect()
        )
        assert all(r["count"] == 1 for r in per_doc)


class TestCrashResume:
    def test_kill_between_writes_is_exactly_once(self, spark, tmp_path):
        """Manifest protocol: a run killed AFTER its span files land but
        BEFORE the lineage commit must leave no visible spans; the resume
        run re-extracts and the committed view is bit-identical to a
        clean single run — zero duplicate (doc_id, seq)."""
        from fuzi_spark import pipeline
        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import (
            read_committed_spans,
            run_extraction_pipeline,
        )

        docs = corpus_df(spark, include_fixtures=False, skew=False)

        ref_dir = str(tmp_path / "ref")
        run_extraction_pipeline(
            spark, docs, output_dir=ref_dir, n_buckets=4, num_partitions=4
        )
        ref = sorted(
            (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
            for r in read_committed_spans(spark, ref_dir).collect()
        )
        assert ref

        out = str(tmp_path / "out")
        real_commit = pipeline._commit_lineage

        def boom(lineage, path):
            raise RuntimeError("simulated kill between spans and lineage")

        pipeline._commit_lineage = boom
        try:
            with pytest.raises(RuntimeError):
                run_extraction_pipeline(
                    spark, docs, output_dir=out, n_buckets=4, num_partitions=4
                )
        finally:
            pipeline._commit_lineage = real_commit

        # orphan span files are on disk, but nothing is committed
        assert os.path.exists(os.path.join(out, "spans"))
        assert (
            pipeline.committed_buckets(spark, os.path.join(out, "lineage"))
            is None
        )

        # resume: nothing committed → full re-run under a fresh run_id
        run_extraction_pipeline(
            spark, docs, output_dir=out, n_buckets=4, num_partitions=4
        )

        got = sorted(
            (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
            for r in read_committed_spans(spark, out).collect()
        )
        assert got == ref

        # the raw directory really does hold the orphan duplicates the
        # manifest filters out — the protocol, not luck, is what dedups
        raw_rows = spark.read.parquet(os.path.join(out, "spans")).count()
        assert raw_rows > len(got)

    def test_single_extraction_pass_per_run(self, spark, tmp_path):
        """With output_dir set, the write pass is the ONLY MapInPandas run:
        the returned spans/lineage read back the committed parquet, so
        consuming them never re-extracts (VERDICT r1 finding #1)."""
        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import run_extraction_pipeline

        docs = corpus_df(spark, include_fixtures=False, skew=False)
        out = str(tmp_path / "once")
        e, l = run_extraction_pipeline(
            spark, docs, output_dir=out, n_buckets=4, num_partitions=4
        )
        for df in (e, l):
            plan = df._jdf.queryExecution().executedPlan().toString()
            assert "mapinpandas" not in plan.lower(), plan[:2000]


def _page_docs(spark, n, giants=0):
    """n one-span HTML pages; the first `giants` are ~2 kB of markup, the
    rest under 30 bytes (giant_threshold=1000 singles out exactly those)."""
    rows = [
        (f"d{i}", [("text", f"<p>doc {i}{'x' * 2000 if i < giants else ''}</p>", None, 0)])
        for i in range(n)
    ]
    return spark.createDataFrame(
        rows,
        "doc_id string, spans array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>",
    )


def _span_files(out):
    """{partition id of the task that wrote it: count} over the span files
    under `out` (file names are part-<partition>-<job uuid>...)."""
    import collections
    import glob

    return collections.Counter(
        int(os.path.basename(f).split("-")[1])
        for f in glob.glob(os.path.join(out, "spans", "bucket=*", "*.parquet"))
    )


def _routed(spark, n_buckets, nparts, n_docs=2000, giants=0):
    """{partition: set of buckets} of salt_partition over n_docs docs, the
    first `giants` of them over the threshold and left out."""
    from pyspark.sql import functions as F

    from fuzi_spark.pipeline import _bucket, salt_partition

    docs = spark.range(n_docs).select(
        F.concat(F.lit("d"), F.col("id")).alias("doc_id"),
        F.when(F.col("id") < giants, 10).otherwise(1).alias("doc_weight"),
    ).withColumn("bucket", _bucket(n_buckets))
    routed = salt_partition(docs, nparts, giant_threshold=10, n_buckets=n_buckets)
    parts = {}
    for r in routed.select(
        "bucket", "doc_weight", F.spark_partition_id().alias("p")
    ).collect():
        buckets = parts.setdefault(r.p, set())
        if r.doc_weight < 10:
            buckets.add(r.bucket)
    return parts


class TestBucketAlignedShuffle:
    """Bucket b owns a contiguous run of the extract partitions, so each
    extract task writes one or two bucket files, not one per bucket."""

    @pytest.mark.parametrize("n_buckets,nparts", [(4, 8), (16, 4)])
    def test_span_files_per_run(self, spark, tmp_path, n_buckets, nparts):
        from fuzi_spark.pipeline import run_extraction_pipeline

        giants = 3
        out = str(tmp_path / "out")
        run_extraction_pipeline(
            spark, _page_docs(spark, 400, giants), output_dir=out,
            n_buckets=n_buckets, num_partitions=nparts, giant_threshold=1000,
        )
        files = _span_files(out)
        assert sum(files.values()) <= nparts + n_buckets + giants, files

    @pytest.mark.parametrize("n_buckets,nparts", [(4, 8), (4, 4), (3, 8), (5, 7)])
    def test_partition_holds_at_most_two_buckets(self, spark, n_buckets, nparts):
        parts = _routed(spark, n_buckets, nparts, giants=20)
        assert all(len(b) <= 2 for b in parts.values()), parts

    @pytest.mark.parametrize(
        "n_buckets,nparts", [(4, 8), (16, 4), (64, 8), (3, 8), (5, 7), (7, 5)]
    )
    def test_no_partition_empty(self, spark, n_buckets, nparts):
        parts = _routed(spark, n_buckets, nparts)
        assert sorted(parts) == list(range(nparts))


class TestPartialResume:
    def test_half_committed_resume_fills_every_partition(self, spark, tmp_path):
        """Commit buckets {0, 1}, then re-run on everything: the resumed
        run routes the two buckets left over all P partitions, and the
        committed view equals a clean single run."""
        from pyspark.sql import functions as F

        from fuzi_spark.pipeline import (
            _bucket,
            committed_buckets,
            read_committed_spans,
            run_extraction_pipeline,
        )

        def committed(out):
            return sorted(
                (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
                for r in read_committed_spans(spark, out).collect()
            )

        nparts, n_buckets = 4, 4
        docs = _page_docs(spark, 400)
        ref = str(tmp_path / "ref")
        run_extraction_pipeline(
            spark, docs, output_dir=ref, n_buckets=n_buckets, num_partitions=nparts
        )

        out = str(tmp_path / "out")
        half = docs.filter(_bucket(n_buckets).isin(0, 1))
        run_extraction_pipeline(
            spark, half, output_dir=out, n_buckets=n_buckets, num_partitions=nparts
        )
        assert committed_buckets(spark, os.path.join(out, "lineage")) == {0, 1}
        before = _span_files(out)
        run_extraction_pipeline(
            spark, docs, output_dir=out, n_buckets=n_buckets, num_partitions=nparts
        )
        resumed = _span_files(out) - before
        assert sorted(resumed) == list(range(nparts)), resumed
        assert committed(out) == committed(ref)

    @pytest.mark.parametrize("leftover", ["_temporary", None])
    def test_uncommitted_lineage_dir_skips_no_bucket(self, spark, tmp_path, leftover):
        """A lineage dir with no committed file — only the _temporary of a
        commit killed mid-job, or nothing at all — commits no bucket."""
        from fuzi_spark.pipeline import (
            committed_buckets,
            read_committed_spans,
            run_extraction_pipeline,
        )

        out = tmp_path / "out"
        lineage = out / "lineage"
        (lineage / leftover / "0" if leftover else lineage).mkdir(parents=True)
        assert committed_buckets(spark, str(lineage)) == set()
        assert read_committed_spans(spark, str(out)).count() == 0

        run_extraction_pipeline(
            spark, _page_docs(spark, 100), output_dir=str(out), n_buckets=4,
            num_partitions=4,
        )
        assert committed_buckets(spark, str(lineage)) == {0, 1, 2, 3}
        docs = read_committed_spans(spark, str(out)).select("doc_id").distinct()
        assert docs.count() == 100


class TestLeanCommit:
    WRITTEN = (
        "struct<doc_id:string,seq:int,kind:string,text:string,media_ref:string,"
        "offset:int,parse_error:int,run_id:string,bucket:int>"
    )
    COMMITTED = (
        "struct<bucket:int,doc_count:bigint,span_count:bigint,"
        "parse_error_count:bigint,run_id:string>"
    )

    def test_read_back_schemas_are_pinned(self, spark, tmp_path):
        """The read-backs use pinned schemas equal to what the files hold
        (and to what footer inference used to give), so a drift in
        EXTRACTED_SCHEMA fails here."""
        from fuzi_spark.pipeline import run_extraction_pipeline

        out = str(tmp_path / "out")
        # uncoalesced shuffle partitions, so the lineage agg's output spans
        # several partitions and only the commit itself makes it one file
        key = "spark.sql.adaptive.coalescePartitions.enabled"
        spark.conf.set(key, "false")
        try:
            written, committed = run_extraction_pipeline(
                spark, _page_docs(spark, 50), output_dir=out, n_buckets=4,
                num_partitions=4,
            )
        finally:
            spark.conf.unset(key)
        assert written.schema.simpleString() == self.WRITTEN
        assert committed.schema.simpleString() == self.COMMITTED
        inferred = spark.read.parquet(os.path.join(out, "spans")).schema
        assert inferred.simpleString() == self.WRITTEN
        inferred = spark.read.parquet(os.path.join(out, "lineage")).schema
        assert inferred.simpleString() == self.COMMITTED
        # the commit is one lineage file per run
        lineage_files = [
            f for f in os.listdir(os.path.join(out, "lineage"))
            if f.endswith(".parquet")
        ]
        assert len(lineage_files) == 1

    def test_fresh_run_launches_four_jobs(self, spark, tmp_path):
        """Shuffle map + span write, lineage agg + lineage write: no job
        spent probing lineage or inferring a read-back schema."""
        from fuzi_spark.pipeline import run_extraction_pipeline

        docs = _page_docs(spark, 50)
        docs.count()  # the input's own jobs stay out of the group
        sc = spark.sparkContext
        sc.setJobGroup("fresh-run", "jobs of one fresh pipeline run")
        try:
            run_extraction_pipeline(
                spark, docs, output_dir=str(tmp_path / "out"), n_buckets=4,
                num_partitions=4,
            )
        finally:
            sc.setLocalProperty("spark.jobGroup.id", None)
        assert len(sc.statusTracker().getJobIdsForGroup("fresh-run")) == 4

    def test_streaming_lineage_schema_pinned(self, spark, tmp_path):
        """Streaming lineage holds a computed int `bucket` and its
        batch_id; the pinned schema the batch probe reads it with matches
        what is written, and read_committed_spans reads streaming output."""
        from fuzi_spark.pipeline import (
            STREAM_LINEAGE_SCHEMA,
            read_committed_spans,
            streaming_extraction,
        )

        inp, out = str(tmp_path / "in"), str(tmp_path / "out")
        _page_docs(spark, 40).write.parquet(inp)
        q = streaming_extraction(spark, inp, out, str(tmp_path / "cp"), n_buckets=4)
        q.awaitTermination(120)
        lineage = spark.read.parquet(os.path.join(out, "lineage"))
        assert lineage.schema == STREAM_LINEAGE_SCHEMA
        assert read_committed_spans(spark, out).count() == 40


class TestVerificationJoin:
    def test_self_verification_empty(self, spark):
        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import run_extraction_pipeline, verification_join

        docs = corpus_df(spark, include_fixtures=False, skew=False)
        extracted, _ = run_extraction_pipeline(
            spark, docs, output_dir=None, n_buckets=4, num_partitions=4
        )
        golden = extracted.filter("seq >= 0").select(
            "doc_id", "seq", "kind", "text", "media_ref"
        )
        mism = verification_join(extracted, golden)
        assert mism.count() == 0


class TestStreaming:
    def test_streaming_matches_batch(self, spark, tmp_path, golden):
        """availableNow streaming run over the corpus produces the same
        span sequences as the batch pipeline (exactly-once via checkpoint)."""
        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import streaming_extraction

        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")
        cp = str(tmp_path / "cp")
        docs = corpus_df(spark, include_fixtures=False, skew=False)
        docs.write.parquet(inp)

        q = streaming_extraction(spark, inp, out, cp, n_buckets=4)
        q.awaitTermination(120)

        import os as _os

        spans = spark.read.parquet(_os.path.join(out, "spans"))
        got = {
            r.doc_id: r.cnt
            for r in spans.filter("seq >= 0").groupBy("doc_id").count()
            .withColumnRenamed("count", "cnt").collect()
        }
        for doc_id, g in golden.items():
            if doc_id.startswith(("xml-spec", "web-github", "atom", "ocf", "vmap")):
                continue  # fixtures excluded from this corpus
            if doc_id.startswith("hard-wide-") and doc_id != "hard-wide-5000":
                continue  # skew tail excluded
            if doc_id == "hard-media-heavy":
                continue
            assert got.get(doc_id, 0) == g["n_spans"], doc_id

        # restart with same checkpoint: no new input → no duplicate rows
        n_before = spans.count()
        q2 = streaming_extraction(spark, inp, out, cp, n_buckets=4)
        q2.awaitTermination(60)
        assert spark.read.parquet(_os.path.join(out, "spans")).count() == n_before


class TestSimilarity:
    def test_ivf_recall_vs_bruteforce(self, spark):
        from pyspark.sql import functions as F

        from fuzi_spark.ops.similarity import cosine_topk_bruteforce, cosine_topk_ivf

        vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        queries = vecs.filter(F.col("vec_id") < 5)
        exact = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk_bruteforce(vecs, queries, k=5).collect()
        }
        approx = {
            (r.query_id, r.neighbor_id)
            for r in cosine_topk_ivf(vecs, queries, k=5, n_cells=8, n_probe=4).collect()
        }
        recall = len(exact & approx) / len(exact)
        assert recall >= 0.4, f"IVF recall collapsed: {recall}"

    def test_ivf_rejects_oversized_query_set(self, spark):
        import pytest as _pytest
        from pyspark.sql import functions as F

        from fuzi_spark.ops.similarity import cosine_topk_ivf

        vecs = spark.read.parquet(
            "/root/testdata/sf0.001/embeddings.parquet"
        ).select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias(
                "embedding"
            ),
        )
        queries = vecs.filter(F.col("vec_id") < 10)
        with _pytest.raises(ValueError, match="max_query_rows"):
            cosine_topk_ivf(vecs, queries, k=5, max_query_rows=5)

    def test_lsh_results_subset_of_table(self, spark):
        from pyspark.sql import functions as F

        from fuzi_spark.ops.similarity import cosine_topk_lsh

        vecs = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet").select(
            "vec_id",
            F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
        )
        queries = vecs.filter(F.col("vec_id") < 5)
        rows = cosine_topk_lsh(vecs, queries, k=5, bits=6).collect()
        assert all(r.rank <= 5 and r.query_id != r.neighbor_id for r in rows)


class TestWindowedEvents:
    def test_streaming_matches_batch(self, spark, tmp_path):
        from fuzi_spark.streaming import streaming_windowed_events, windowed_event_counts

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        batch = {
            (str(r.window_start), r.event_type): (r.n_events, r.total_cents)
            for r in windowed_event_counts(events).collect()
        }
        inp = str(tmp_path / "ev")
        events.write.parquet(inp)
        q = streaming_windowed_events(
            spark, inp, str(tmp_path / "cp"), query_name="we_test"
        )
        q.awaitTermination(120)
        streamed = {
            (str(r.window_start), r.event_type): (r.n_events, r.total_cents)
            for r in spark.sql("select * from we_test").collect()
        }
        # watermark finalizes all but the stream-final windows; every
        # emitted window must match the batch result exactly
        assert streamed
        for k, v in streamed.items():
            assert batch[k] == v, k


class TestSessionize:
    def test_stateful_stream_matches_batch(self, spark, tmp_path):
        """applyInPandasWithState sessionization emits exactly the batch
        window-function sessions (minus stream-final open sessions whose
        event-time timeout can never fire after input ends)."""
        from fuzi_spark.streaming import sessionize_batch, sessionize_stream

        events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
        batch = {
            (r.user_id, str(r.session_start)[:19], r.n_events)
            for r in sessionize_batch(events, 30).collect()
        }
        inp = str(tmp_path / "ev")
        events.write.parquet(inp)
        q = sessionize_stream(spark, inp, str(tmp_path / "cp"), 30, query_name="sess_pt")
        q.awaitTermination(150)
        streamed = {
            (r.user_id, str(r.session_start)[:19], r.n_events)
            for r in spark.sql("select * from sess_pt").collect()
        }
        assert streamed, "stream emitted nothing"
        assert streamed - batch == set(), "stream emitted sessions batch doesn't have"
        # only open (last-per-user) sessions may be missing
        assert len(batch - streamed) <= events.select("user_id").distinct().count()
        assert len(streamed) >= 0.9 * len(batch)


class TestBucketedJoin:
    def test_bucketed_join_has_no_exchange(self, spark, tmp_path):
        """Both sides bucketed on the join key -> the join plan contains no
        Exchange: the co-located layout the 10^12-row verification join
        relies on."""
        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import run_extraction_pipeline, write_bucketed

        docs = corpus_df(spark, include_fixtures=False, skew=False)
        extracted, _ = run_extraction_pipeline(
            spark, docs, output_dir=None, n_buckets=4, num_partitions=4
        )
        spans = extracted.filter("seq >= 0").select("doc_id", "seq", "kind")
        try:
            write_bucketed(spans, "t_spans", str(tmp_path / "t_spans"), 4)
            write_bucketed(spans, "t_golden", str(tmp_path / "t_golden"), 4)
            a = spark.table("t_spans")
            b = spark.table("t_golden").withColumnRenamed("kind", "g_kind")
            # disable broadcast to exercise the big-table path (at 10^12
            # rows neither side broadcasts); bucketing must remove the
            # shuffle exchanges entirely
            prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
            spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
            try:
                # join on the bucket key: bucketed scans co-locate, no shuffle
                j = a.groupBy("doc_id").count().join(
                    b.groupBy("doc_id").count().withColumnRenamed("count", "g_count"),
                    ["doc_id"],
                )
                plan = j._jdf.queryExecution().executedPlan().toString()
                assert "Exchange hashpartitioning" not in plan, plan[:2000]
                assert "SortMergeJoin" in plan, plan[:2000]
                assert j.count() > 0
            finally:
                spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
        finally:
            spark.sql("DROP TABLE IF EXISTS t_spans")
            spark.sql("DROP TABLE IF EXISTS t_golden")


class TestJobCLI:
    """fuzi_spark.job main() — the spark-submit entrypoint surface.

    The catalog-table branch (--input-table / --output-table /
    --lineage-table) is the Iceberg deployment path. The container has no
    Iceberg jars, so here job.append_table's writeTo(...).append() is
    submitted, rejected by Spark (CANNOT_WRITE_INTO_V1_TABLE for
    session-catalog parquet tables), and routed to the by-name V1
    saveAsTable(append) fallback — i.e. the branch's logic (run_id
    stamping, lineage aggregated from the committed read-back rows, the
    manifest semi-join readability, the fallback seam itself) runs for
    real end-to-end. Only Iceberg's v2 snapshot-commit atomicity remains
    a documented-not-executed claim (README: Iceberg runtime caveat)."""

    def _mk_docs_table(self, spark, name):
        from fuzi_spark.corpus import corpus_df

        spark.sql(f"DROP TABLE IF EXISTS {name}")
        corpus_df(spark, include_fixtures=False, skew=False).writeTo(name).using(
            "parquet"
        ).create()

    def test_parquet_surface_summary(self, spark, tmp_path, capsys):
        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.job import main

        inp = str(tmp_path / "docs")
        out = str(tmp_path / "out")
        docs = corpus_df(spark, include_fixtures=False, skew=False)
        n_docs = docs.count()
        docs.write.parquet(inp)
        rc = main(
            ["--input", inp, "--output", out, "--n-buckets", "4",
             "--num-partitions", "4"]
        )
        assert rc == 0
        summary = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["docs"] == n_docs
        assert summary["parse_errors"] == 0
        spans = spark.read.parquet(os.path.join(out, "spans"))
        assert summary["spans"] == spans.filter("seq >= 0").count()

    def test_table_surface_manifest_protocol(self, spark, capsys):
        from pyspark.sql import functions as F

        from fuzi_spark.job import main
        from fuzi_spark.pipeline import run_extraction_pipeline

        try:
            self._mk_docs_table(spark, "job_docs")
            n_docs = spark.table("job_docs").count()
            # pre-create output/lineage tables with the pipeline's output
            # schema (prod: Iceberg DDL owns this; append() requires the
            # table to exist in both catalogs)
            lazy_spans, lazy_lineage = run_extraction_pipeline(
                spark, spark.table("job_docs"), n_buckets=4, num_partitions=4
            )
            spark.sql("DROP TABLE IF EXISTS job_spans")
            spark.sql("DROP TABLE IF EXISTS job_lineage")
            empty = lazy_spans.withColumn("run_id", F.lit("x")).limit(0)
            empty.writeTo("job_spans").using("parquet").create()
            lazy_lineage.withColumn("run_id", F.lit("x")).limit(0).writeTo(
                "job_lineage"
            ).using("parquet").create()

            args = ["--input-table", "job_docs", "--output-table", "job_spans",
                    "--lineage-table", "job_lineage", "--n-buckets", "4",
                    "--num-partitions", "4"]
            assert main(args) == 0
            s1 = json.loads(capsys.readouterr().out.strip().splitlines()[-1])
            assert s1["docs"] == n_docs

            spans = spark.table("job_spans")
            lineage = spark.table("job_lineage")
            run_ids = [r.run_id for r in spans.select("run_id").distinct().collect()]
            assert len(run_ids) == 1 and run_ids[0]  # stamped, single run
            # lineage aggregates must match a direct recount of the
            # committed span rows, bucket by bucket
            recount = (
                spans.groupBy("bucket")
                .agg(
                    F.sum(F.when(F.col("seq") <= 0, 1).otherwise(0)).alias("d"),
                    F.sum(F.when(F.col("seq") >= 0, 1).otherwise(0)).alias("s"),
                )
                .collect()
            )
            lin = {r.bucket: (r.doc_count, r.span_count) for r in lineage.collect()}
            assert {r.bucket: (r.d, r.s) for r in recount} == lin
            assert sum(d for d, _ in lin.values()) == n_docs

            # a second run appends under a NEW run_id; the lineage manifest
            # keeps both runs distinguishable (the reader's semi-join key)
            assert main(args) == 0
            capsys.readouterr()
            # re-resolve from the catalog: the pre-append DataFrames may
            # cache a stale file index
            spans2 = spark.table("job_spans")
            lineage2 = spark.table("job_lineage")
            assert spans2.select("run_id").distinct().count() == 2
            assert lineage2.select("run_id").distinct().count() == 2
            committed = lineage2.select("bucket", "run_id").distinct()
            joined = spans2.join(committed, ["bucket", "run_id"], "left_semi")
            assert joined.count() == spans2.count()  # every span row committed
        finally:
            for t in ("job_docs", "job_spans", "job_lineage"):
                spark.sql(f"DROP TABLE IF EXISTS {t}")


class TestStreamingDedup:
    def test_kernel_within_batch_and_against_seen(self, spark):
        from pyspark.sql import functions as F

        from fuzi_spark.streaming import dedup_novel

        batch = spark.createDataFrame(
            [(1, "aaa"), (2, "aaa"), (3, "bbb"), (4, "ccc")],
            "doc_id long, text string",
        )
        seen = spark.createDataFrame([("x",)], "digest string").select(
            F.sha2(F.lit("ccc"), 256).alias("digest")
        )
        out = {r.doc_id for r in dedup_novel(batch, seen).collect()}
        # aaa keeps min id 1, bbb keeps 3, ccc already seen
        assert out == {1, 3}
        # no-history mode: all three digests keep their min id
        assert {r.doc_id for r in dedup_novel(batch).collect()} == {1, 3, 4}

    def test_stream_dedups_against_history_exactly_once(self, spark, tmp_path):
        """3 micro-batches with within-batch AND cross-batch duplicates:
        the committed novel set carries each distinct text EXACTLY once
        (same distinct-digest set as a batch-mode dedup of the full
        corpus), and a restart on the same checkpoint appends nothing."""
        import os as _os

        from pyspark.sql import functions as F

        from fuzi_spark.streaming import read_novel_docs, streaming_exact_dedup

        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")
        cp = str(tmp_path / "cp")
        # batch k: ids k*100+i; texts overlap within batch (i//2) and
        # across batches (t0..t4 appear in every batch)
        rows = []
        for k in range(3):
            for i in range(10):
                rows.append((k * 100 + i, f"t{i // 2}" * 3))
            rows.append((k * 100 + 50, f"only-batch-{k}"))
        for k in range(3):  # one file per batch
            spark.createDataFrame(
                [r for r in rows if r[0] // 100 == k or r[0] == k * 100 + 50],
                "doc_id long, text string",
            ).coalesce(1).write.mode("append").parquet(inp)

        q = streaming_exact_dedup(
            spark, inp, out, cp, max_files_per_trigger=1
        )
        q.awaitTermination(120)

        novel = read_novel_docs(spark, out)
        texts = [r.text for r in novel.collect()]
        expected = {r[1] for r in rows}
        assert sorted(texts) == sorted(set(texts)), "a text was kept twice"
        assert set(texts) == expected, "a distinct text was lost"
        # keeper determinism within a batch: min id per digest
        first_seen = novel.filter(F.col("text") == "t0t0t0").collect()
        assert len(first_seen) == 1 and first_seen[0].doc_id % 100 == 0

        # restart on the same checkpoint: no new input -> nothing appended
        n = novel.count()
        q2 = streaming_exact_dedup(spark, inp, out, cp, max_files_per_trigger=1)
        q2.awaitTermination(60)
        assert read_novel_docs(spark, out).count() == n


class TestStreamingNearDedup:
    WORDS = "w0 w1 w2 w3 w4 w5 w6 w7 w8 w9 wa wb wc wd we wf".split()

    @classmethod
    def _text(cls, mutate_at=None, tag="z"):
        toks = list(cls.WORDS) * 2
        if mutate_at is not None:
            toks[mutate_at] = tag
        return " ".join(toks)

    def test_near_novel_kernel(self, spark):
        from fuzi_spark.ops.cache import cache_scope
        from fuzi_spark.streaming import near_novel

        base = self._text()
        batch = spark.createDataFrame(
            [
                (1, base),                      # keeper
                (2, base),                      # exact copy → dropped
                (3, self._text(5)),             # 1-token mutation → dropped
                (4, "completely different content about other things "
                    "with many distinct tokens here now today ok fine"),
                (5, "hi"),                      # short: truncated shingle
                (6, "hi"),                      # identical short → dropped
                (7, "yo"),                      # different short → kept
            ],
            "doc_id long, text string",
        )
        with cache_scope():
            novel, nb = near_novel(batch)
            ids = {r.doc_id for r in novel.collect()}
            band_ids = {r.doc_id for r in nb.collect()}
        # mutation 3 collides with 1 (J≈0.97: collision probability
        # 1-(1-J^4)^16 ≈ 1-1e-10 under the fixed deterministic hashes);
        # identical short docs dedup on their truncated shingle,
        # different short docs never constant-collide
        assert ids == {1, 4, 5, 7}
        assert {1, 4, 5, 7} <= band_ids and 6 not in band_ids

    def test_near_novel_against_history(self, spark):
        from fuzi_spark.ops.cache import cache_scope
        from fuzi_spark.ops.dedup import minhash_bands
        from fuzi_spark.streaming import near_novel

        hist = spark.createDataFrame(
            [(100, self._text())], "doc_id long, text string"
        )
        seen = minhash_bands(hist).select("band", "bucket")
        batch = spark.createDataFrame(
            [(1, self._text(3)), (2, "fresh unrelated text with plenty "
                                     "of new tokens to shingle properly")],
            "doc_id long, text string",
        )
        with cache_scope():
            novel, _ = near_novel(batch, seen)
            ids = {r.doc_id for r in novel.collect()}
        assert ids == {2}

    def test_stream_near_dedup_exactly_once(self, spark, tmp_path):
        from fuzi_spark.streaming import (
            read_near_novel_docs,
            streaming_near_dedup,
        )

        inp = str(tmp_path / "in")
        out = str(tmp_path / "out")
        cp = str(tmp_path / "cp")
        # every batch re-delivers the same base text (cross-batch near
        # dup) plus one genuinely new doc per batch
        for k in range(3):
            spark.createDataFrame(
                [
                    (k * 100, self._text(k)),   # near-dup of batch 0's base
                    (k * 100 + 1,
                     f"unique content for batch {k} " * 4 + "end marker"),
                ],
                "doc_id long, text string",
            ).coalesce(1).write.mode("append").parquet(inp)

        q = streaming_near_dedup(spark, inp, out, cp, max_files_per_trigger=1)
        q.awaitTermination(120)
        novel = read_near_novel_docs(spark, out)
        ids = sorted(r.doc_id for r in novel.collect())
        # batch 0 keeps both docs; later batches keep only their unique doc
        assert ids == [0, 1, 101, 201]
        # restart on the same checkpoint: nothing appended
        q2 = streaming_near_dedup(spark, inp, out, cp, max_files_per_trigger=1)
        q2.awaitTermination(60)
        assert read_near_novel_docs(spark, out).count() == 4

    def test_many_batches_table_backed_history_constant_plan(
        self, spark, tmp_path
    ):
        """The band-history scale contract, exercised: 12 batches with
        a TABLE-BACKED (parquet) history — the shape the streaming
        wrapper runs — must (a) keep the per-batch near_novel plan at
        CONSTANT node count (a unionByName-accumulated history would
        grow the plan every batch and eventually stack-overflow the
        analyzer), and (b) produce exactly the batch-replay novel set."""
        from pyspark.sql import functions as F

        from fuzi_spark.ops.cache import cache_scope
        from fuzi_spark.streaming import near_novel

        bands_path = str(tmp_path / "bands")
        plan_nodes = []
        kept = []
        for b in range(12):
            rows = [
                # one doc near-duplicating batch 0's base text
                (b * 10, self._text(b % 16)),
                # one genuinely novel doc per batch
                (b * 10 + 1,
                 f"novel payload {b} " * 3
                 + " ".join(f"tok{b}_{j}" for j in range(8))),
            ]
            batch = spark.createDataFrame(
                rows, "doc_id long, text string"
            )
            try:
                seen = spark.read.parquet(bands_path)
            except Exception:
                seen = None
            with cache_scope():
                novel, novel_bands = near_novel(batch, seen)
                plan = (
                    novel._jdf.queryExecution()
                    .executedPlan()
                    .toString()
                )
                # node count, not char count: file listings in scan
                # nodes may print differently as files accumulate
                plan_nodes.append(
                    sum(
                        1
                        for line in plan.splitlines()
                        if line.strip().startswith(("+-", ":-", "*("))
                        or line.startswith("*(")
                    )
                )
                kept.extend(r.doc_id for r in novel.collect())
                novel_bands.select("band", "bucket").write.mode(
                    "append"
                ).parquet(bands_path)
        # batch 0 keeps both docs; every later batch keeps only its
        # novel doc (the near-dup collides with committed history)
        assert sorted(kept) == [0, 1] + [
            b * 10 + 1 for b in range(1, 12)
        ], sorted(kept)
        # batches 1.. all run the with-history plan: identical shape
        assert len(set(plan_nodes[1:])) == 1, plan_nodes
        # history growth must not have grown the plan vs batch 1
        assert plan_nodes[-1] == plan_nodes[1], plan_nodes
    def test_salting_spreads_colliding_giants(self, spark):
        """Find doc_ids that the bucket-aligned routing sends to ONE
        partition, mark them giant, and assert salt_partition routes them
        to MULTIPLE partitions while normal docs keep their bucket's
        partitions (the SPARK-23207-safe deterministic salt)."""
        from pyspark.sql import functions as F

        from fuzi_spark.pipeline import _bucket, salt_partition

        nparts, n_buckets = 4, 4
        # the routing, modelled: with s = pmod(xxhash64(doc_id,'giant-salt'),
        # P), a plain doc of bucket b goes to (b*P + s) div B, a giant to s
        ids = spark.range(200).select(
            F.col("id").cast("string").alias("doc_id")
        ).select(
            "doc_id",
            _bucket(n_buckets).alias("b"),
            F.pmod(F.xxhash64("doc_id", F.lit("giant-salt")), F.lit(nparts)).alias("s"),
        )
        by_part = {}
        for r in ids.collect():
            by_part.setdefault((r.b * nparts + r.s) // n_buckets, []).append(r.doc_id)
        part, colliding = next(
            (p, v[:6]) for p, v in sorted(by_part.items()) if len(v) >= 6
        )
        docs = spark.createDataFrame(
            [(d, 1_000_000) for d in colliding], "doc_id string, doc_weight long"
        ).withColumn("bucket", _bucket(n_buckets))

        def partitions(threshold):
            routed = salt_partition(docs, nparts, threshold, n_buckets)
            return sorted(
                (r.doc_id, r.sp)
                for r in routed.select(
                    "doc_id", F.spark_partition_id().alias("sp")
                ).collect()
            )

        # below threshold: all six land together, where the model puts them
        # (the skew this cures)
        assert {sp for _, sp in partitions(10_000_000)} == {part}
        # above threshold: the salted hash spreads them
        salted = partitions(10_000)
        assert len({sp for _, sp in salted}) > 1, "giants were not spread by the salt"
        # determinism: same input → same routing (stage-retry safety)
        assert partitions(10_000) == salted

    def test_salting_is_semantics_neutral(self, spark):
        """Same extracted span sequences whether or not the giant path
        triggers — salting only changes WHERE a doc is parsed."""
        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import run_extraction_pipeline

        docs = corpus_df(spark, include_fixtures=False, skew=True)

        def run(threshold):
            e, _ = run_extraction_pipeline(
                spark, docs, output_dir=None, n_buckets=4,
                num_partitions=4, giant_threshold=threshold,
            )
            return sorted(
                (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
                for r in e.collect()
            )

        # 5k: the skew-tail docs exceed it and take the salted route;
        # huge: nothing does
        assert run(5_000) == run(10_000_000_000)


def _dedup_surface(kind):
    """(streaming wrapper, committed-only view) of one streaming dedup."""
    from fuzi_spark import streaming

    if kind == "exact":
        return streaming.streaming_exact_dedup, streaming.read_novel_docs
    return streaming.streaming_near_dedup, streaming.read_near_novel_docs


def _dedup_batches(spark, inp, n_batches):
    """One file per micro-batch: a shared text twice in every batch
    (within- and cross-batch duplicate) plus three texts of their own,
    token-disjoint from every other text, so each batch commits rows."""
    shared = " ".join(f"shared{j}" for j in range(12))
    for k in range(n_batches):
        rows = [(k * 100, shared), (k * 100 + 1, shared)] + [
            (k * 100 + 10 + i, " ".join(f"k{k}i{i}w{j}" for j in range(12)))
            for i in range(3)
        ]
        spark.createDataFrame(rows, "doc_id long, text string").coalesce(
            1
        ).write.mode("append").parquet(inp)


@contextlib.contextmanager
def _failing_commit(fail_on):
    """Patch the one commit seam so its `fail_on`-th call (0-based) raises."""
    from fuzi_spark import pipeline

    real, calls = pipeline._commit_lineage, []

    def commit(manifest, path):
        calls.append(path)
        if len(calls) - 1 == fail_on:
            raise RuntimeError("simulated kill between data and manifest")
        real(manifest, path)

    pipeline._commit_lineage = commit
    try:
        yield
    finally:
        pipeline._commit_lineage = real


def _last_job_id(sc, group):
    """Id of a one-job marker run under `group`: job ids are sequential,
    so the difference of two markers counts the jobs between them."""
    sc.setJobGroup(group, group)
    try:
        sc.parallelize([0], 1).count()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return max(sc.statusTracker().getJobIdsForGroup(group))


class TestManifestProtocol:
    """The batch job, streaming extraction and both streaming dedups
    write, probe and read through one manifest protocol (pipeline.py)."""

    VIEWS = {
        "spans": TestLeanCommit.WRITTEN,
        "exact": "struct<digest:string,doc_id:bigint,text:string,run_id:string>",
        "near": "struct<doc_id:bigint,text:string,run_id:string>",
    }

    def _orphans_only(self, spark, tmp_path, kind, out):
        """Write one run's data into `out` and kill it before its commit."""
        from pyspark.errors import StreamingQueryException

        from fuzi_spark.pipeline import run_extraction_pipeline

        with _failing_commit(0):
            if kind == "spans":
                with pytest.raises(RuntimeError):
                    run_extraction_pipeline(
                        spark, _page_docs(spark, 20), output_dir=out,
                        n_buckets=4, num_partitions=4,
                    )
                return
            run, _ = _dedup_surface(kind)
            inp = str(tmp_path / "in")
            _dedup_batches(spark, inp, 1)
            q = run(spark, inp, out, str(tmp_path / "cp"))
            with pytest.raises(StreamingQueryException):
                q.awaitTermination(120)

    @pytest.mark.parametrize("kind", ["spans", "exact", "near"])
    def test_view_empty_before_first_commit(self, spark, tmp_path, kind):
        """Fresh dir, and a dir holding only a killed run's data files:
        the committed-only view is an empty frame under its pinned
        schema."""
        from fuzi_spark.pipeline import read_committed_spans

        view = read_committed_spans if kind == "spans" else _dedup_surface(kind)[1]
        out = str(tmp_path / "out")
        fresh = view(spark, out)
        assert fresh.schema.simpleString() == self.VIEWS[kind]
        assert fresh.count() == 0

        self._orphans_only(spark, tmp_path, kind, out)
        data = "spans" if kind == "spans" else "novel"
        assert spark.read.parquet(os.path.join(out, data)).count() > 0
        orphaned = view(spark, out)
        assert orphaned.schema.simpleString() == self.VIEWS[kind]
        assert orphaned.count() == 0

    def test_batch_run_resumes_over_streamed_dir(self, spark, tmp_path):
        """Streaming lineage is the batch job's lineage plus batch_id, so
        a batch run over a streamed dir skips every committed bucket."""
        from fuzi_spark.pipeline import (
            committed_buckets,
            read_committed_spans,
            run_extraction_pipeline,
            streaming_extraction,
        )

        def view():
            return sorted(
                (r.doc_id, r.seq, r.kind, r.text, r.media_ref)
                for r in read_committed_spans(spark, out).collect()
            )

        inp, out = str(tmp_path / "in"), str(tmp_path / "out")
        docs = _page_docs(spark, 40)
        docs.write.parquet(inp)
        streaming_extraction(
            spark, inp, out, str(tmp_path / "cp"), n_buckets=4
        ).awaitTermination(120)
        streamed = view()
        assert len({r[0] for r in streamed}) == 40
        lineage = os.path.join(out, "lineage")
        assert committed_buckets(spark, lineage) == {0, 1, 2, 3}
        raw = spark.read.parquet(os.path.join(out, "spans")).count()

        written, committed = run_extraction_pipeline(
            spark, docs, output_dir=out, n_buckets=4, num_partitions=4
        )
        assert written.count() == 0 and committed.count() == 0
        assert spark.read.parquet(os.path.join(out, "spans")).count() == raw
        assert view() == streamed

    @pytest.mark.parametrize("kind", ["exact", "near"])
    def test_dedup_kill_between_writes_is_exactly_once(self, spark, tmp_path, kind):
        """Kill micro-batch 1 between its novel rows and its manifest
        commit, restart from the same checkpoint: the committed view
        equals a clean run's, and the orphan rows are still on disk."""
        from pyspark.errors import StreamingQueryException

        run, view = _dedup_surface(kind)
        inp = str(tmp_path / "in")
        _dedup_batches(spark, inp, 3)

        def committed(out):
            return sorted((r.doc_id, r.text) for r in view(spark, out).collect())

        ref = str(tmp_path / "ref")
        run(spark, inp, ref, str(tmp_path / "ref_cp"), max_files_per_trigger=1
            ).awaitTermination(120)
        expected = committed(ref)
        # batch 0 keeps one shared copy, every batch its own three texts
        assert len(expected) == 1 + 3 * 3

        out, cp = str(tmp_path / "out"), str(tmp_path / "cp")
        with _failing_commit(1):
            q = run(spark, inp, out, cp, max_files_per_trigger=1)
            with pytest.raises(StreamingQueryException):
                q.awaitTermination(120)
        run(spark, inp, out, cp, max_files_per_trigger=1).awaitTermination(120)

        assert committed(out) == expected
        raw = spark.read.parquet(os.path.join(out, "novel")).count()
        assert raw > len(expected)

    def test_exact_dedup_job_count(self, spark, tmp_path):
        """Six micro-batches of streaming_exact_dedup launch at most 38
        Spark jobs: the probe and the read-backs use pinned schemas, so
        no job infers one from parquet footers."""
        from fuzi_spark.streaming import streaming_exact_dedup

        inp = str(tmp_path / "in")
        _dedup_batches(spark, inp, 6)
        sc = spark.sparkContext
        before = _last_job_id(sc, f"before-{tmp_path.name}")
        streaming_exact_dedup(
            spark, inp, str(tmp_path / "out"), str(tmp_path / "cp"),
            max_files_per_trigger=1,
        ).awaitTermination(120)
        after = _last_job_id(sc, f"after-{tmp_path.name}")
        assert after - before - 1 <= 38


class TestJobCurateCLI:
    """fuzi_spark.job --mode curate — the hygiene DAG as a deployable
    job: verdicts written to parquet, per-reason counts in the JSON
    summary."""

    def test_curate_summary_and_verdicts(self, spark, tmp_path, capsys):
        import json as _json

        from fuzi_spark.job import main

        inp = str(tmp_path / "docs")
        out = str(tmp_path / "verdicts")
        bl = str(tmp_path / "blocklist")
        rows = [
            (1, "the good document body is long enough to pass the gate",
             "https://ok.x/a"),
            (2, "the good document body is long enough to pass the gate",
             "https://ok.x/b"),                       # exact duplicate of 1
            (3, "!!!", "https://ok.x/c"),             # quality reject
            (4, "the other fine body with plenty of distinct words here",
             "https://Spam.X/z"),                     # blocked domain
        ]
        spark.createDataFrame(
            rows, "doc_id long, text string, url string"
        ).write.parquet(inp)
        spark.createDataFrame([("spam.x",)], "domain string").write.parquet(bl)
        rc = main(
            ["--mode", "curate", "--input", inp, "--output", out,
             "--blocklist", bl]
        )
        assert rc == 0
        summary = _json.loads(capsys.readouterr().out.strip().splitlines()[-1])
        assert summary["mode"] == "curate"
        assert summary["docs"] == 4 and summary["kept"] == 1
        assert summary["rejected"] == {
            "blocked_domain": 1,
            "exact_duplicate": 1,
            "quality:too_few_tokens": 1,
        }
        got = {
            r.doc_id: (r.keep, r.reject_reason)
            for r in spark.read.parquet(out).collect()
        }
        assert got[1] == (1, None)
        assert got[2] == (0, "exact_duplicate")
        assert got[3] == (0, "quality:too_few_tokens")
        assert got[4] == (0, "blocked_domain")


class TestJobDedupCLI:
    """fuzi_spark.job --mode dedup — the near-dup DAG as a deployable
    job: (doc_id, group_id, keep) verdicts + one-line JSON summary."""

    def test_dedup_summary_and_verdicts(self, spark, tmp_path, capsys):
        import json as _json

        from fuzi_spark.job import main

        base = (
            "the quick brown fox jumps over the lazy dog near the river "
            "bank every single morning before the sun rises fully"
        )
        rows = [
            (1, base),
            (2, base + " extra"),          # near-dup of 1
            (3, "a completely different document about spark catalyst "
                "plans and shuffle exchanges in distributed execution"),
        ]
        inp = str(tmp_path / "docs")
        out = str(tmp_path / "verdicts")
        spark.createDataFrame(rows, "doc_id long, text string").write.parquet(
            inp
        )
        pinned_before = {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }
        rc = main(["--mode", "dedup", "--input", inp, "--output", out,
                   "--jaccard-threshold", "0.5"])
        assert rc == 0
        summary = _json.loads(
            capsys.readouterr().out.strip().splitlines()[-1]
        )
        assert summary["mode"] == "dedup"
        assert summary["docs"] == 3
        assert summary["kept"] == 2 and summary["dropped"] == 1
        assert summary["dup_groups"] == 1
        got = {
            r.doc_id: (r.keep, r.group_id)
            for r in spark.read.parquet(out).collect()
        }
        assert got[1][0] == 1 and got[3][0] == 1
        assert got[2][0] == 0 and got[2][1] == got[1][1]
        # no pinned operator caches leak out of the job (cache_scope);
        # only the components checkpoints (lineage-truncated data) may
        # remain
        pinned_after = {
            int(k)
            for k in spark.sparkContext._jsc.getPersistentRDDs()
            .keySet()
            .toArray()
        }
        assert len(pinned_after - pinned_before) <= 2


class TestSparkSubmitDeployment:
    """The north rule's shipping shape, executed for real: `spark-submit
    --py-files fuzi_spark.zip job.py ...` as a SUBPROCESS with its own JVM,
    not an in-process main() call. The application file is the repo-root
    submit_job.py shim (spark-submit has no `-m module` mode and
    fuzi_spark/job.py's relative imports need package context — a defect
    this test caught: the docstring previously advertised both broken
    shapes). The shim is copied to a scratch cwd, so `import fuzi_spark`
    can only be satisfied by the --py-files zip — proving the zip is
    self-contained (a missing module in the zip fails this test, where
    the in-process TestJobCLI would still pass via the repo checkout on
    sys.path)."""

    def _build_zip(self, tmp_path):
        import zipfile

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        pkg = os.path.join(repo, "fuzi_spark")
        zpath = str(tmp_path / "fuzi_spark.zip")
        with zipfile.ZipFile(zpath, "w", zipfile.ZIP_DEFLATED) as z:
            for root, _dirs, files in os.walk(pkg):
                if "__pycache__" in root:
                    continue
                for f in files:
                    if not f.endswith(".py"):
                        continue
                    full = os.path.join(root, f)
                    z.write(full, os.path.relpath(full, repo))
        return zpath

    def test_spark_submit_py_files_matches_in_process(self, spark, tmp_path):
        import shutil
        import subprocess
        import sys as _sys

        spark_submit = shutil.which("spark-submit") or "/opt/spark/bin/spark-submit"
        if not os.path.exists(spark_submit):
            pytest.skip("spark-submit binary not available")

        from fuzi_spark.corpus import corpus_df
        from fuzi_spark.pipeline import run_extraction_pipeline

        repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
        inp = str(tmp_path / "docs")
        out = str(tmp_path / "out")
        docs = corpus_df(spark, include_fixtures=True, skew=False)
        n_docs = docs.count()
        docs.write.parquet(inp)

        env = dict(os.environ)
        env["PYSPARK_PYTHON"] = _sys.executable
        env["PYSPARK_DRIVER_PYTHON"] = _sys.executable
        env.pop("PYTHONPATH", None)  # the zip must carry the package
        # copy the shim into the scratch cwd: its own directory lands on
        # sys.path, and it must NOT be the repo root
        shim = str(tmp_path / "submit_job.py")
        shutil.copyfile(os.path.join(repo, "submit_job.py"), shim)
        proc = subprocess.run(
            [
                spark_submit,
                "--master", "local[4]",
                "--conf", "spark.ui.enabled=false",
                "--conf", "spark.sql.shuffle.partitions=8",
                "--py-files", self._build_zip(tmp_path),
                shim,
                "--input", inp, "--output", out,
                "--n-buckets", "4", "--num-partitions", "4",
            ],
            cwd=str(tmp_path),  # NOT the repo root: no checkout on sys.path
            env=env,
            capture_output=True,
            text=True,
            timeout=600,
        )
        assert proc.returncode == 0, proc.stderr[-4000:]
        summary = json.loads(proc.stdout.strip().splitlines()[-1])
        assert summary["docs"] == n_docs
        assert summary["parse_errors"] == 0

        # the subprocess deployment must produce byte-identical span rows
        # to the same pipeline run in-process
        sub_spans = spark.read.parquet(os.path.join(out, "spans"))
        ref_spans, _ = run_extraction_pipeline(
            spark, docs, n_buckets=4, num_partitions=4
        )
        cols = [c for c in ref_spans.columns]
        got = sorted(
            tuple(r) for r in sub_spans.select(*cols).collect()
        )
        want = sorted(tuple(r) for r in ref_spans.collect())
        assert got == want
