"""Driver contract for the spark-graft builder (PySpark target).

`entry(spark)` — flagship end-to-end extraction on sf0.001.
`queries()` — one entry per implemented operator family (SURVEY.md §2),
each a (spark, sf_dir) -> DataFrame callable.
`oracle_sql()` — DuckDB-equivalent SQL for every SQL-expressible query.

Design of the correctness battery: the testdata `documents` table carries
plain text, so each query CONSTRUCTS markup deterministically from table
columns (same construction in Spark and in the oracle SQL), runs the real
parse/query engine on the Spark side, and lets DuckDB compute the expected
answer with plain string/arithmetic functions. A hash match therefore
certifies the parser + XPath/CSS engine + extractor against 60k-row-scale
input, row by row.
"""

from __future__ import annotations

from collections.abc import Callable

import pandas as pd

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


# ---------------------------------------------------------------- helpers

def _docs(spark: SparkSession, sf_dir: str) -> DataFrame:
    # The dev tables are single parquet files → Spark reads them as ONE
    # partition, serializing every CPU-heavy per-doc operator downstream
    # (measured: the dedup battery ran single-threaded). A real corpus is
    # thousands of files; the explicit spread restores the production
    # shape — the 5k-row shuffle costs ~ms.
    return spark.read.parquet(f"{sf_dir}/documents.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _embeddings(spark: SparkSession, sf_dir: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/embeddings.parquet").repartition(
        spark.sparkContext.defaultParallelism
    )


def _esc(col):
    """XML entity escape — mirrored in oracle SQL with nested replace()."""
    c = F.regexp_replace(col, "&", "&amp;")
    c = F.regexp_replace(c, "<", "&lt;")
    return F.regexp_replace(c, ">", "&gt;")


_ESC_SQL = "replace(replace(replace({c}, '&', '&amp;'), '<', '&lt;'), '>', '&gt;')"


def _xml_markup():
    """<doc lang=.. source=..><body>ESC(text)</body></doc>"""
    return F.concat(
        F.lit('<doc lang="'),
        F.col("lang"),
        F.lit('" source="'),
        F.col("source"),
        F.lit('"><body>'),
        _esc(F.col("text")),
        F.lit("</body></doc>"),
    )


def _html_markup():
    """Flagship page: title + h1 + paragraph + image."""
    return F.concat(
        F.lit("<html><head><title>"),
        F.col("source"),
        F.lit("</title></head><body><h1>D"),
        F.col("doc_id").cast("string"),
        F.lit("</h1><p>"),
        _esc(F.col("text")),
        F.lit('</p><img src="img/'),
        F.col("doc_id").cast("string"),
        F.lit('.jpg"></body></html>'),
    )


_FLAGSHIP_ORACLE = """
SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS seq, 'heading' AS kind,
       source AS text, CAST(NULL AS VARCHAR) AS media_ref
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 1, 'heading', 'D' || CAST(doc_id AS VARCHAR), NULL
FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 2, 'paragraph', text, NULL FROM documents
UNION ALL
SELECT CAST(doc_id AS VARCHAR), 3, 'media', '',
       'img/' || CAST(doc_id AS VARCHAR) || '.jpg'
FROM documents
"""


def _flagship_extracted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """documents → html markup → single-span interleaved rows → extractor."""
    from fuzi_spark.udfs import extract_spans_df

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                _html_markup().alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    return extract_spans_df(docs, doc_type="html")


# ---------------------------------------------------------------- queries


def q_parse_roundtrip(spark, sf_dir):
    """S1-S4 + P5: recovering parse + recursive stringValue with entity
    resolution, roundtripped over every document."""
    from fuzi_spark.udfs import xpath_string

    return _docs(spark, sf_dir).select(
        "doc_id",
        xpath_string("string(/doc/body)", doc_type="xml")(_xml_markup()).alias(
            "body_text"
        ),
    )


def q_attr_extract(spark, sf_dir):
    """P4: attribute access via the @ axis."""
    from fuzi_spark.udfs import xpath_string

    m = _xml_markup()
    return _docs(spark, sf_dir).select(
        "doc_id",
        xpath_string("string(/doc/@lang)", doc_type="xml")(m).alias("lang_out"),
        xpath_string("string(/doc/@source)", doc_type="xml")(m).alias("source_out"),
    )


def q_children_counts(spark, sf_dir):
    """N2/N5 + Q7 count(): typed child scans."""
    from fuzi_spark.udfs import xpath_double

    markup = F.concat(
        F.lit("<doc>"),
        F.repeat(F.lit("<a/>"), (F.col("n_chars") % 5).cast("int")),
        F.repeat(F.lit("<b/>"), (F.col("n_chars") % 3).cast("int")),
        F.lit("</doc>"),
    )
    # cast to long: count() is integral, and integer hashing is stable
    # across Spark and DuckDB (double formatting is not guaranteed to be)
    return _docs(spark, sf_dir).select(
        "doc_id",
        xpath_double("count(/doc/a)", doc_type="xml")(markup)
        .cast("long")
        .alias("count_a"),
        xpath_double("count(/doc/b)", doc_type="xml")(markup)
        .cast("long")
        .alias("count_b"),
    )


def q_xpath_sum(spark, sf_dir):
    """Q7 sum() over node-set."""
    from fuzi_spark.udfs import xpath_double

    markup = F.concat(
        F.lit("<r><n>"),
        F.col("n_chars").cast("string"),
        F.lit("</n><n>"),
        F.col("doc_id").cast("string"),
        F.lit("</n></r>"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        xpath_double("sum(/r/n)", doc_type="xml")(markup).cast("long").alias("total"),
    )


def q_css_select(spark, sf_dir):
    """Q4/Q6: CSS→XPath compile + class selector semantics."""
    from fuzi_spark.udfs import css_select

    markup = F.concat(
        F.lit('<html><body><div class="'),
        F.when(F.col("lang") == "en", F.lit("note highlight")).otherwise(
            F.lit("other")
        ),
        F.lit('">'),
        F.col("source"),
        F.lit('</div><div class="other">x</div></body></html>'),
    )
    snaps = css_select(".note", doc_type="html")(markup)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(snaps).alias("n_hits"),
        F.get(snaps, 0)["string_value"].alias("first_text"),
    )


def q_positional_select(spark, sf_dir):
    """Q1/Q3 + C1: positional predicates / first-match over word elements."""
    from fuzi_spark.udfs import xpath_string

    words = F.slice(F.split(F.col("text"), " "), 1, 3)
    markup = F.concat(
        F.lit("<d>"),
        F.concat_ws(
            "", F.transform(words, lambda w: F.concat(F.lit("<w>"), w, F.lit("</w>")))
        ),
        F.lit("</d>"),
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        xpath_string("string(/d/w[1])", doc_type="xml")(markup).alias("w1"),
        xpath_string("string(/d/w[2])", doc_type="xml")(markup).alias("w2"),
        xpath_string("string(/d/w[last()])", doc_type="xml")(markup).alias("wlast"),
    )


def q_html_title(spark, sf_dir):
    """S5 + P12/P13: HTML parse + title convenience."""
    from fuzi_spark.udfs import doc_meta

    meta = doc_meta(doc_type="html")(_html_markup())
    return _docs(spark, sf_dir).select(
        "doc_id",
        meta["title"].alias("title"),
        meta["root_tag"].alias("root_tag"),
        meta["parse_error"].alias("parse_error"),
    )


def q_parse_errors(spark, sf_dir):
    """S6 error surface: parse failures become flag rows, never task
    failures — every tenth doc gets unparseable (empty) markup."""
    from fuzi_spark.udfs import doc_meta

    markup = F.when(F.col("n_chars") % 10 == 0, F.lit("")).otherwise(_xml_markup())
    meta = doc_meta(doc_type="xml")(markup)
    return _docs(spark, sf_dir).select(
        "doc_id", meta["parse_error"].alias("parse_error")
    )


def q_snapshot_select(spark, sf_dir):
    """A2/C1: snapshot materialization — ordered ArrayType results."""
    from fuzi_spark.udfs import xpath_select

    markup = F.concat(
        F.lit('<doc><item id="i1">'),
        F.col("lang"),
        F.lit('</item><item id="i2">'),
        F.col("source"),
        F.lit("</item></doc>"),
    )
    snaps = xpath_select("//item", doc_type="xml")(markup)
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.size(snaps).alias("n_items"),
        F.element_at(snaps, 1)["tag"].alias("first_tag"),
        F.element_at(snaps, 1)["string_value"].alias("first_value"),
        F.element_at(snaps, 2)["attributes"]["id"].alias("second_id"),
        F.element_at(snaps, 2)["raw_xml"].alias("second_raw"),
    )


def q_extract_flagship(spark, sf_dir):
    """M1/M4 (north_rule): full extraction — title/h1 headings, paragraph,
    media span with ref — per document."""
    return _flagship_extracted(spark, sf_dir).select(
        "doc_id", "seq", "kind", "text", "media_ref"
    )


def q_extract_interleaved(spark, sf_dir):
    """M0 codec + M1: multi-span interleaved input reassembled then
    extracted (the input_hint table shape exercised end-to-end)."""
    from fuzi_spark.udfs import extract_spans_df

    head = F.concat(
        F.lit("<html><head><title>"), F.col("source"), F.lit("</title></head><body><p>")
    )
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                head.alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                _esc(F.col("text")).alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(1).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.lit("</p>").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(2).alias("offset"),
            ),
            F.struct(
                F.lit("media").alias("kind"),
                F.concat(
                    F.lit('<img src="m/'),
                    F.col("doc_id").cast("string"),
                    F.lit('.png" alt="pic">'),
                ).alias("text"),
                F.concat(
                    F.lit("m/"), F.col("doc_id").cast("string"), F.lit(".png")
                ).alias("media_ref"),
                F.lit(3).alias("offset"),
            ),
            F.struct(
                F.lit("text").alias("kind"),
                F.lit("</body></html>").alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(4).alias("offset"),
            ),
        ).alias("spans"),
    )
    return extract_spans_df(docs, doc_type="html").select(
        "doc_id", "seq", "kind", "text", "media_ref"
    )


def q_lineage(spark, sf_dir):
    """§2.8 lineage: per-bucket hash agg (map-side combinable)."""
    e = _flagship_extracted(spark, sf_dir).withColumn(
        "bucket", F.col("doc_id").cast("long") % 16
    )
    return e.groupBy("bucket").agg(
        F.countDistinct("doc_id").alias("doc_count"),
        F.sum(F.when(F.col("seq") >= 0, 1).otherwise(0)).alias("span_count"),
        F.sum("parse_error").alias("parse_error_count"),
    )


def q_resume_anti_join(spark, sf_dir):
    """§2.8 resume: broadcast anti-join against committed buckets."""
    docs = _docs(spark, sf_dir).withColumn("bucket", F.col("doc_id") % 16)
    committed = spark.createDataFrame(
        [(i,) for i in range(8)], "bucket long"
    )
    return docs.join(F.broadcast(committed), "bucket", "left_anti").select(
        "doc_id", "bucket"
    )


def q_verification_join(spark, sf_dir):
    """§2.8 verification: extracted ⋈ golden on (doc_id, seq), matched
    span counts per kind (north_rule's equality check as an operator)."""
    e = _flagship_extracted(spark, sf_dir).select(
        "doc_id", "seq", "kind", "text", "media_ref"
    )
    d = _docs(spark, sf_dir)

    def row(seq, kind, text, ref):
        return d.select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.lit(seq).alias("seq"),
            kind.alias("g_kind"),
            text.alias("g_text"),
            ref.alias("g_media_ref"),
        )

    golden = (
        row(0, F.lit("heading"), F.col("source"), F.lit(None).cast("string"))
        .unionByName(
            row(
                1,
                F.lit("heading"),
                F.concat(F.lit("D"), F.col("doc_id").cast("string")),
                F.lit(None).cast("string"),
            )
        )
        .unionByName(row(2, F.lit("paragraph"), F.col("text"), F.lit(None).cast("string")))
        .unionByName(
            row(
                3,
                F.lit("media"),
                F.lit(""),
                F.concat(F.lit("img/"), F.col("doc_id").cast("string"), F.lit(".jpg")),
            )
        )
    )
    j = e.join(golden, ["doc_id", "seq"])
    matched = (
        F.col("kind").eqNullSafe(F.col("g_kind"))
        & F.col("text").eqNullSafe(F.col("g_text"))
        & F.col("media_ref").eqNullSafe(F.col("g_media_ref"))
    )
    return (
        j.groupBy("kind")
        .agg(
            F.sum(F.when(matched, 1).otherwise(0)).alias("matched"),
            F.count("*").alias("total"),
        )
        .select("kind", "matched", "total")
    )


def q_code_dedup(spark, sf_dir):
    """Formatting-invariant code dedup: per base group (doc_id % 199 —
    coprime with the 5 variant classes, so every base group mixes
    formatting variants)
    five variants — canonical, block-comment + blank lines, tab indent
    + trailing spaces, line comment, and a REAL extra statement. The
    first four must collapse to one group and the fifth must not; the
    oracle replays the identical normalization regex chain (Java∩RE2)
    in DuckDB and groups by the normal form itself."""
    from fuzi_spark.ops.dedup import code_dedup

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    g = (i % 199).cast("string")
    base = F.concat(
        F.lit("def g"), g, F.lit("(x):\n    return x * "), g, F.lit("\n")
    )
    text = (
        F.when(
            i % 5 == 1,
            F.concat(F.lit("/* header\n comment */\n\n"), base, F.lit("\n\n")),
        )
        .when(
            i % 5 == 2,
            F.concat(
                F.lit("def g"), g, F.lit("(x):\n\treturn x * "), g,
                F.lit("  \n"),
            ),
        )
        .when(i % 5 == 3, F.concat(base, F.lit("// note\n")))
        .when(i % 5 == 4, F.concat(base, F.lit("print(x)\n")))
        .otherwise(base)
    )
    return code_dedup(d.select("doc_id", text.alias("text")))


def q_dedup_exact(spark, sf_dir):
    """Exact dedup: every doc duplicated once, collapse on content digest."""
    from fuzi_spark.ops.dedup import exact_dedup

    d = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    return exact_dedup(doubled)


def q_dedup_minhash(spark, sf_dir):
    """MinHash+LSH near-dup recovery, oracle-checked: every doc with ≥20
    DISTINCT 3-word shingles has Jaccard ≥ 20/21 with its one-word-
    appended copy (the append adds at most one shingle to the set), so
    with 8 two-row bands the planted pair survives LSH with probability
    1 − (1 − j²)^8 ≥ 1 − 6e-9 and the exact verify keeps it; the oracle
    predicts the full planted-pair set from the shingle sets alone. The
    filter must count DISTINCT shingles, not tokens — repetitive docs
    can have many tokens but few shingles and arbitrarily low planted
    Jaccard. (Organic near-dups are excluded by the id-offset filter —
    LSH misses on mid-similarity pairs are not oracle-predictable.)"""
    from fuzi_spark.ops.cache import scoped_persist
    from fuzi_spark.ops.dedup import (
        minhash_lsh_candidates,
        ngram_jaccard,
        shingle_hashes,
    )

    base = _docs(spark, sf_dir).select("doc_id", "text")
    mutated = base.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    # hashed shingle sets computed ONCE and persisted: the same arrays
    # feed the size filter, the signature pipeline, and the exact verify
    # (shingles_col passthrough). Filtering on hashed-distinct count vs
    # the oracle's string-distinct count can only diverge via an in-doc
    # 31-bit collision exactly at the threshold (~1e-8 per corpus).
    both = scoped_persist(
        base.unionByName(mutated)
        .select("doc_id", shingle_hashes("text", 3).alias("_sh"))
        .filter(F.size(F.col("_sh")) >= 20)
    )
    cands = minhash_lsh_candidates(both, n_hashes=16, bands=8, shingles_col="_sh")
    return (
        ngram_jaccard(cands, both, shingles_col="_sh")
        .filter(F.col("jaccard") >= 0.5)
        .filter(F.col("id_b") - F.col("id_a") == 1000000)
        .select("id_a", "id_b")
    )


def q_dedup_components(spark, sf_dir):
    """Connected components over a planted pair graph: each doc anchors a
    4-node chain i — i+1M — i+2M — i+3M, so the canonical label must
    propagate two hops (one round of label propagation is NOT enough —
    this checks the iteration, not just the join). Oracle: every chain
    node maps to its doc's id."""
    from fuzi_spark.ops.dedup import dedup_components

    d = _docs(spark, sf_dir).select("doc_id")
    m = 1000000

    def pair(ka, kb):
        return d.select(
            (F.col("doc_id") + ka * m).alias("id_a"),
            (F.col("doc_id") + kb * m).alias("id_b"),
        )

    pairs = pair(0, 1).unionByName(pair(1, 2)).unionByName(pair(2, 3))
    return dedup_components(pairs)


def q_dedup_keep(spark, sf_dir):
    """Keeper election over the planted component chains: groups from
    dedup_components (4-node chains), quality = node_id % 7 (four
    consecutive residues mod 7 are always distinct, so the winner is
    SQL-predictable: the in-group max residue). The oracle recomputes the
    election with a window rank — the Spark side uses a map-side
    min(struct) agg + broadcast-back, same values, scale-shaped."""
    from fuzi_spark.ops.dedup import dedup_components, dedup_representatives

    d = _docs(spark, sf_dir).select("doc_id")
    m = 1000000

    def pair(ka, kb):
        return d.select(
            (F.col("doc_id") + ka * m).alias("id_a"),
            (F.col("doc_id") + kb * m).alias("id_b"),
        )

    pairs = pair(0, 1).unionByName(pair(1, 2)).unionByName(pair(2, 3))
    groups = dedup_components(pairs)
    quality = groups.select(
        F.col("node_id"), (F.col("node_id") % 7).alias("quality")
    )
    return dedup_representatives(groups, quality)


def q_dedup_pipeline(spark, sf_dir):
    """The COMPLETE dedup DAG in one call (LSH → exact verify →
    components → keeper election → keep/drop list), on a corpus where
    every pairwise similarity is controlled: doc i's text is 25 tokens
    'w{i}_1..w{i}_25' (cross-doc shingle overlap is exactly ZERO by
    construction), even docs get a near-copy at id+1M (one token
    appended → J = 23/24 ≥ 0.9 after 3-shingling), odd docs stay
    singletons. So the oracle is total: even docs pair with their copy
    (keeper = the original, smaller id), odd docs are their own group
    with keep=1."""
    from fuzi_spark.ops.dedup import dedup_pipeline

    m = 1000000
    ids = _docs(spark, sf_dir).select("doc_id")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(25)),
            lambda j: F.concat(
                F.lit("w"), F.col("doc_id").cast("string"), F.lit("_"),
                j.cast("string"),
            ),
        ),
    )
    base = ids.select("doc_id", text.alias("text"))
    copies = base.filter(F.col("doc_id") % 2 == 0).select(
        (F.col("doc_id") + m).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    return dedup_pipeline(
        base.unionByName(copies), jaccard_threshold=0.9, min_shingles=20
    )


def q_stream_dedup(spark, sf_dir):
    """Incremental (streaming-shaped) dedup kernel, run over three
    deterministic batches: every doc appears in 3 copies (ids d, d+1M,
    d+2M — same text), routed to batches by id % 3, so each text shows up
    in EVERY batch and exactly one copy must survive. The kernel drops
    digests already in the accumulated seen set, then keeps min id within
    the batch — so the oracle's winner is rank-1 of
    ORDER BY (id % 3), id per text. Exercises dedup-against-history
    semantics (streaming.dedup_novel — the foreachBatch wrapper adds only
    the manifest commit, tested in TestStreamingDedup)."""
    from fuzi_spark.ops.cache import scoped_persist
    from fuzi_spark.streaming import dedup_novel

    m = 1000000
    base = _docs(spark, sf_dir).select("doc_id", "text")
    union = base
    for k in (1, 2):
        union = union.unionByName(
            base.select((F.col("doc_id") + k * m).alias("doc_id"), "text")
        )
    seen = None
    kept = None
    for k in range(3):
        batch = union.filter(F.col("doc_id") % 3 == k)
        # persist each round's novel set: round k's seen side otherwise
        # RE-RUNS every earlier round's anti-join+election inside one
        # lazy plan (the real streaming wrapper reads durable parquet per
        # batch, so only this in-process harness loop has the blowup)
        novel = scoped_persist(
            dedup_novel(batch, seen).select("doc_id", "digest")
        )
        kept = novel if kept is None else kept.unionByName(novel)
        dg = novel.select("digest")
        seen = dg if seen is None else seen.unionByName(dg)
    return kept


def q_parse_archive(spark, sf_dir):
    """Archive-source explode, both container formats every run: even
    docs carry a ZIP (1 + id%3 text members plus one binary member of
    5 + id%4 NUL bytes), odd docs a TAR.GZ (text members only); every
    9th doc is junk (archive_ok=0 stub row). Member names, sizes
    (LENGTH of the identically-constructed string), text/binary
    classification, and archive order are all predicted by the SQL
    oracle from the formulas."""
    import io
    import tarfile
    import zipfile

    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.archive import parse_archive_df

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            if i % 9 == 0:
                out.append(b"not an archive at all")
                continue
            members = [
                (f"m{k}.txt", f"content {i}-{k}")
                for k in range(1 + i % 3)
            ]
            if i % 2 == 0:
                buf = io.BytesIO()
                with zipfile.ZipFile(buf, "w", zipfile.ZIP_DEFLATED) as z:
                    for name, data in members:
                        z.writestr(name, data)
                    z.writestr("blob.bin", b"\x00" * (5 + i % 4))
                out.append(buf.getvalue())
            else:
                buf = io.BytesIO()
                with tarfile.open(fileobj=buf, mode="w:gz") as t:
                    for name, data in members:
                        enc = data.encode()
                        info = tarfile.TarInfo(name)
                        info.size = len(enc)
                        t.addfile(info, io.BytesIO(enc))
                out.append(buf.getvalue())
        return pd.Series(out)

    docs = _docs(spark, sf_dir).select(
        "doc_id", mk(F.col("doc_id")).alias("content")
    )
    return parse_archive_df(docs)


def q_audio_mp3(spark, sf_dir):
    """REAL MP3 metadata decode end to end: per doc an ID3v2 tag
    (v2.3 on even ids, v2.4 syncsafe on odd; UTF-16 text every third
    doc) wraps 3 + id%5 real MPEG1-Layer-III frames at formula
    bitrate/rate — the frame WALK must count them (frame length
    computed per header) and derive the duration. Every seventh doc is
    tag-less junk (decode_ok=0). The SQL oracle predicts every column
    from the formulas, including the 1152-samples-per-frame duration
    arithmetic."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.multimodal import build_mp3, mp3_meta_df

    rates = [44100, 48000, 32000]
    brs = [128, 192, 320]

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            if i % 7 == 0:
                out.append(b"not an mp3 stream")
                continue
            out.append(
                build_mp3(
                    title=f"Track {i}",
                    artist=f"Artist {i % 9}",
                    bitrate_kbps=brs[i % 3],
                    sample_rate=rates[i % 3],
                    n_frames=3 + i % 5,
                    mono=i % 2 == 1,
                    v24=i % 2 == 1,
                    utf16=i % 3 == 0,
                )
            )
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("au/"), F.col("doc_id").cast("string"), F.lit(".mp3")
        ).alias("media_ref"),
        F.lit("audio").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    return mp3_meta_df(media).select(
        F.regexp_extract("media_ref", r"au/(\d+)\.mp3", 1)
        .cast("long")
        .alias("doc_id"),
        "title", "artist", "bitrate_kbps", "sample_rate", "channels",
        "n_frames", "duration_ms", "decode_ok",
    )


def q_video_keyframes(spark, sf_dir):
    """Container-level video keyframes (ops/mp4.py, r5): per doc a
    deterministic MP4 (even ids) or Matroska (odd ids) single-track
    container — codec by formula, 3+id%5 samples, keyframe every
    2+id%3 — parsed through the production video_keyframes_df walk
    and EXPLODED to one row per keyframe. The oracle recomputes every
    ABSOLUTE byte offset in SQL from the builders' closed-form layout
    (MP4 mdat payload at 605+4n+4k; MKV block payloads at
    126+len(codec)+7i+prefix-sums), so a parser that fakes the
    stsc/stco/stsz chunk-map resolution or the EBML walk cannot pass.
    Every ninth doc is junk: parse_ok=0, NULL fields, and decode_ok
    stays 0 everywhere (coded-frame decode honestly absent)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.mp4 import (
        build_mkv,
        build_mp4,
        video_keyframes_df,
    )

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            if i % 9 == 0:
                out.append(b"not a video container")
                continue
            n = 3 + i % 5
            g = 2 + i % 3
            sync = [j for j in range(n) if j % g == 0]
            sizes = [40 + ((i * 3 + j * 7) % 50) for j in range(n)]
            if i % 2 == 0:
                codec = "avc1" if i % 4 == 0 else "hev1"
                out.append(build_mp4(codec=codec, sizes=sizes,
                                     sync=sync))
            else:
                codec = ("V_MPEG4/ISO/AVC" if i % 4 == 1
                         else "V_VP9")
                out.append(build_mkv(codec=codec, sizes=sizes,
                                     sync=sync,
                                     duration_ms=40.0 * n))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("vd/"), F.col("doc_id").cast("string"), F.lit(".bin")
        ).alias("media_ref"),
        F.lit("video").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    kf = video_keyframes_df(media)
    return kf.select(
        F.regexp_extract("media_ref", r"vd/(\d+)\.bin", 1)
        .cast("long").alias("doc_id"),
        "codec", "container", "duration_ms",
        "n_samples", "parse_ok",
        F.explode_outer("keyframes").alias("kf"),
    ).select(
        "doc_id", "codec", "container", "duration_ms", "n_samples",
        "parse_ok",
        F.col("kf.idx").alias("kf_idx"),
        F.col("kf.offset").alias("kf_offset"),
        F.col("kf.size").alias("kf_size"),
    )


def q_audio_aac_meta(spark, sf_dir):
    """ADTS/AAC transport header walk (r5): per doc a formula-built
    ADTS stream (profile / rate / channels / CRC / raw-block count
    all cycling) whose MEASURED frame count and 1024-samples-per-
    raw-block duration the SQL oracle recomputes; every 8th doc is
    junk (NULL metadata). decode_ok is 0 on EVERY row — the walk
    measures transport metadata, it never claims AAC PCM (the
    spectral codebooks are non-derivable constants in this sandbox;
    see parse_adts)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.multimodal import adts_meta_df, build_adts

    rates = [44100, 48000, 32000, 22050]

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            if i % 8 == 0:
                out.append(b"not an adts stream")
                continue
            out.append(build_adts(
                profile=i % 4,
                sample_rate=rates[i % 4],
                channels=1 + i % 3,
                n_frames=4 + i % 5,
                payload_len=40 + i % 30,
                crc=bool(i % 2),
                raw_blocks=1 + i % 2,
            ))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("aac/"), F.col("doc_id").cast("string"),
            F.lit(".aac")
        ).alias("media_ref"),
        F.lit("audio").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    return adts_meta_df(media).select(
        F.regexp_extract("media_ref", r"aac/(\d+)\.aac", 1)
        .cast("long").alias("doc_id"),
        "profile", "sample_rate", "channels", "n_frames",
        "duration_ms", "crc_protected", "decode_ok",
    )


def q_audio_m4a_meta(spark, sf_dir):
    """MP4 AUDIO-track (M4A — the real-world AAC container) header
    walk (r5): per doc a formula-built audio-only MP4; codec fourcc,
    channels, 16.16 sample rate, stts sample count, and mdhd-derived
    duration all SQL-predicted; every 7th doc junk (NULLs).
    decode_ok pinned 0 — transport metadata only, no AAC/ALAC PCM
    claim (see parse_m4a / parse_adts)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.mp4 import build_m4a, m4a_meta_df

    rates = [44100, 48000, 32000, 22050]

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            if i % 7 == 0:
                out.append(b"not an mp4")
                continue
            out.append(build_m4a(
                codec="alac" if i % 5 == 1 else "mp4a",
                sample_rate=rates[i % 4],
                channels=1 + i % 2,
                n_samples=50 + i % 60,
            ))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("m4a/"), F.col("doc_id").cast("string"),
            F.lit(".m4a")
        ).alias("media_ref"),
        F.lit("audio").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    return m4a_meta_df(media).select(
        F.regexp_extract("media_ref", r"m4a/(\d+)\.m4a", 1)
        .cast("long").alias("doc_id"),
        "codec", "channels", "sample_rate", "n_samples",
        "duration_ms", "decode_ok",
    )


def q_video_container_dedup(spark, sf_dir):
    """Dedup-by-container-fingerprint (r5): every doc with id ≡ 2
    (mod 3) is a REMUX of its predecessor — same canonical codec
    family, same sample count, same exact keyframe-size vector, but
    in the OTHER container (even ids mp4, odd mkv) — so the
    fingerprint (canonical codec, n_samples, size vector) must
    collide across container dialects while every other doc stays
    singleton... except that the size/codec formulas repeat with
    period 150 in the base id, so bases ≡ (mod 150) also merge — the
    oracle groups by base % 150, which is EXACTLY the fingerprint
    equivalence class (3 is invertible mod 50, so equal size vectors
    force base ≡ mod 50, and the codec adds the mod-3 factor).
    Every 11th doc is junk: parse_ok 0, kept."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.mp4 import (
        build_mkv,
        build_mp4,
        video_container_dedup,
    )

    mp4_codecs = ["avc1", "hev1", "vp09"]
    mkv_codecs = ["V_MPEG4/ISO/AVC", "V_MPEGH/ISO/HEVC", "V_VP9"]

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            if i % 11 == 0:
                out.append(b"junk")
                continue
            base = i - 1 if i % 3 == 2 else i
            n = 3 + base % 5
            g = 2 + base % 3
            sync = [j for j in range(n) if j % g == 0]
            sizes = [40 + ((base * 3 + j * 7) % 50)
                     for j in range(n)]
            fam = base % 3
            if i % 2 == 0:
                out.append(build_mp4(codec=mp4_codecs[fam],
                                     sizes=sizes, sync=sync))
            else:
                out.append(build_mkv(codec=mkv_codecs[fam],
                                     sizes=sizes, sync=sync,
                                     duration_ms=40.0 * n))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("vc/"), F.col("doc_id").cast("string"),
            F.lit(".bin")
        ).alias("media_ref"),
        F.lit("video").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    return video_container_dedup(media).select(
        F.regexp_extract("media_ref", r"vc/(\d+)\.bin", 1)
        .cast("long").alias("doc_id"),
        F.col("group_size").cast("long").alias("group_size"),
        "keep", "parse_ok",
    )


def q_redact_cc(spark, sf_dir):
    """Luhn-gated credit-card masking on a four-class formula corpus:
    a valid Visa test number (masked), the same number with its check
    digit broken (candidate but NOT masked — the Luhn gate at work), a
    dash-separated valid Amex (separator form), and no-number text.
    The oracle writes expected clean_text and both counts from
    doc_id % 4 — a regex-only masker (no checksum) fails class 1."""
    from fuzi_spark.ops.redact import redact_credit_cards

    i = F.col("doc_id")
    s = i.cast("string")
    text = (
        F.when(i % 4 == 0, F.concat(F.lit("pay 4111111111111111 id "), s))
        .when(i % 4 == 1, F.concat(F.lit("ref 4111111111111112 id "), s))
        .when(i % 4 == 2, F.concat(F.lit("amex 3782-822463-10005 id "), s))
        .otherwise(F.concat(F.lit("plain text id "), s))
    )
    docs = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return redact_credit_cards(docs)


def q_subtitles(spark, sf_dir):
    """Subtitle parse end to end, both dialects every run: even docs
    carry SRT (CRLF, explicit indices), odd docs WebVTT (NOTE block to
    skip, <i> markup to strip, dot decimals). Cue count 2 + id%3,
    start = 10000·k + (id%7)·10 ms, end = start + 900 + k — every
    output row is predicted by the SQL oracle from the formulas; a
    parser that mishandles either dialect, the markup strip, or the
    millisecond arithmetic cannot match."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.subtitles import parse_subtitles_df

    def ts(ms, sep):
        s, ms2 = divmod(ms, 1000)
        h, rem = divmod(s, 3600)
        m, sec = divmod(rem, 60)
        return f"{h:02d}:{m:02d}:{sec:02d}{sep}{ms2:03d}"

    @pandas_udf("string")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            cues = []
            for k in range(2 + i % 3):
                s = 10000 * k + (i % 7) * 10
                e = s + 900 + k
                if i % 2 == 0:
                    cues.append(
                        f"{k + 1}\r\n{ts(s, ',')} --> {ts(e, ',')}\r\n"
                        f"line {i}-{k}\r\n"
                    )
                else:
                    cues.append(
                        f"{ts(s, '.')} --> {ts(e, '.')}\n"
                        f"<i>line {i}-{k}</i>\n"
                    )
            if i % 2 == 0:
                out.append("\r\n".join(cues))
            else:
                out.append(
                    "WEBVTT\n\nNOTE\nsynthetic fixture\n\n"
                    + "\n".join(cues)
                )
        return pd.Series(out)

    docs = _docs(spark, sf_dir).select(
        "doc_id", mk(F.col("doc_id")).alias("subs")
    )
    return parse_subtitles_df(docs)


def q_stream_near_dedup(spark, sf_dir):
    """Incremental NEAR-dedup kernel over three deterministic batches:
    50 families of 10 EXACT copies (family f = id % 50, text = 30
    family-unique tokens, families shingle-disjoint), batched by
    id % 3. Exact copies band identically, so every later copy is
    dropped against history or within-batch, and the survivor is
    rank-1 of ORDER BY (id % 3), id per family — which the oracle
    replays as a window. Mid-Jaccard mutation behavior is pinned in
    TestStreamingNearDedup; this oracle proves the history/commit/
    election machinery on certainty-class collisions."""
    from fuzi_spark.ops.cache import scoped_persist
    from fuzi_spark.streaming import near_novel

    f = (F.col("doc_id") % 50).cast("string")
    text = F.concat_ws(
        " ",
        *[F.concat(F.lit(f"f"), f, F.lit(f"w{j}")) for j in range(30)],
    )
    docs = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    seen = None
    kept = None
    for k in range(3):
        batch = docs.filter(F.col("doc_id") % 3 == k)
        novel, nb = near_novel(batch, seen)
        novel = scoped_persist(novel.select("doc_id"))
        bands = scoped_persist(nb.select("band", "bucket"))
        kept = novel if kept is None else kept.unionByName(novel)
        seen = bands if seen is None else seen.unionByName(bands)
    return kept


def q_extract_pdf(spark, sf_dir):
    """PDF/layout parse (north_rule): build a deterministic one-page PDF
    per document (24pt title = source, 12pt body = text), then run the
    recovering PDF parser — heading/paragraph classification from relative
    font size, same span contract as the HTML extractor."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from fuzi_spark.pdf import pdf_extract_df

    @pandas_udf(BinaryType())
    def gen(source: pd.Series, text: pd.Series) -> pd.Series:
        from fuzi_spark.pdf import build_simple_pdf

        return pd.Series(
            [build_simple_pdf(s, [t]) for s, t in zip(source, text)]
        )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        gen(F.col("source"), F.col("text")).alias("content"),
    )
    return pdf_extract_df(docs).select("doc_id", "seq", "kind", "text")


def q_repetition(spark, sf_dir):
    """Repetition/diversity metrics (Gopher rule-stack signals): unigram
    token entropy + duplicate-n-gram fractions, all single-pass Catalyst
    (the entropy walks the SORTED token array in one `aggregate` — no
    explode, no shuffle). Entropy rounded to 6 decimals: Spark sums
    c·ln c in sorted-run order, DuckDB in group-hash order, so the last
    few ulps differ; the n-gram fractions are exact int/int divisions
    and deterministic at 9."""
    from fuzi_spark.ops.textstats import repetition_metrics

    d = _docs(spark, sf_dir).select("doc_id", "text")
    m = repetition_metrics(d)
    return m.select(
        "doc_id",
        F.round("token_entropy", 6).alias("token_entropy"),
        F.round("dup_2gram_frac", 9).alias("dup_2gram_frac"),
        F.round("dup_3gram_frac", 9).alias("dup_3gram_frac"),
        F.round("dup_4gram_frac", 9).alias("dup_4gram_frac"),
    )


def q_extract_pdf_cmap(spark, sf_dir):
    """Subset-font PDF parse (round 3): the same corpus as extract_pdf but
    every page is generated as a Type0 font with 2-byte glyph codes and a
    /ToUnicode CMap (Identity-H shape) — the raw content-stream bytes are
    meaningless without CMap decoding, so matching the oracle proves the
    bfchar/bfrange decode path end-to-end, distributed. Span contract and
    oracle shape are identical to extract_pdf: heading = source, one
    whitespace-normalized paragraph = text."""
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.types import BinaryType

    from fuzi_spark.pdf import pdf_extract_df

    @pandas_udf(BinaryType())
    def gen(source: pd.Series, text: pd.Series) -> pd.Series:
        from fuzi_spark.pdf import build_subset_font_pdf

        return pd.Series(
            [build_subset_font_pdf(s, [t]) for s, t in zip(source, text)]
        )

    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        gen(F.col("source"), F.col("text")).alias("content"),
    )
    return pdf_extract_df(docs).select("doc_id", "seq", "kind", "text")


def q_dedup_ngram_jaccard(spark, sf_dir):
    """Exact 3-gram Jaccard between each doc and its one-word-appended
    mutation (string-shingle path, hashed=False — bit-exact vs the SQL
    oracle; the production LSH verify uses the hashed fast path, exercised
    by dedup_minhash). Values land strictly inside (0, 1), so the oracle
    checks real set arithmetic, not degenerate zeros."""
    from fuzi_spark.ops.dedup import ngram_jaccard

    d = _docs(spark, sf_dir).select("doc_id", "text")
    mutated = d.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.concat(F.col("text"), F.lit(" extraword")).alias("text"),
    )
    both = d.unionByName(mutated)
    pairs = d.select(
        F.col("doc_id").alias("id_a"), (F.col("doc_id") + 1000000).alias("id_b")
    )
    return ngram_jaccard(
        pairs, both, hashed=False, broadcast_pairs=True
    ).select("id_a", "id_b", F.round(F.col("jaccard"), 9).alias("jaccard"))


def q_dedup_simhash(spark, sf_dir):
    """SimHash near-dups over doc ∪ exact copy, oracle-checked: identical
    token streams vote identical 64-bit fingerprints, identical chunks
    always collide in the pigeonhole join, so every doc pairs with its
    copy at hamming 0 — the oracle is exactly one row per document."""
    from fuzi_spark.ops.dedup import simhash_near_dups

    d = _docs(spark, sf_dir).select("doc_id", "text")
    copied = d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    pairs = simhash_near_dups(d.unionByName(copied))
    return pairs.filter(
        (F.col("id_b") - F.col("id_a") == 1000000) & (F.col("hamming") == 0)
    ).select("id_a", "id_b")


def q_text_quality(spark, sf_dir):
    """Quality metrics — pure Catalyst expressions."""
    from fuzi_spark.ops.textstats import token_count_bpe, token_count_ws

    tokens = F.split(F.trim(F.col("text")), "\\s+")
    return _docs(spark, sf_dir).select(
        "doc_id",
        token_count_ws("text").cast("long").alias("tokens_ws"),
        token_count_bpe("text").cast("long").alias("tokens_bpe"),
        F.size(F.array_distinct(tokens)).cast("long").alias("distinct_tokens"),
        F.length("text").cast("long").alias("n_chars_measured"),
    )


# constructed per-language corpus for the lang_id oracle: each phrase is
# pinned to classify as its language (script ranges for zh/ru, stopword
# profiles for the Latin four); doc_id % 6 picks the language, so the SQL
# oracle predicts every prediction from the documents table alone
_LANG_PHRASES = [
    ("en", "the cat and the dog was in the house for it"),
    ("es", "el que de la los las una es en por un"),
    ("fr", "le la les des et en un une du est dans que"),
    ("de", "der die das und in den von zu mit ist des ein"),
    ("ru", "это русский текст про собаку и кошку в доме"),
    ("zh", "中文文本关于猫和狗的故事在房子里"),
]


def q_quality_filter(spark, sf_dir):
    """C4/Gopher-style corpus quality gate, oracle-checked: real docs plus
    four planted rejection classes (too short, over-long tokens,
    punctuation-heavy, repetitive) — the oracle mirrors every metric
    formula and the first-failure reason order."""
    from fuzi_spark.ops.textstats import quality_filter

    d = _docs(spark, sf_dir).select("doc_id", "text")

    def planted(k, text):
        return d.select(
            (F.col("doc_id") + k * 1000000).alias("doc_id"),
            F.lit(text).alias("text"),
        )

    uni = (
        d.unionByName(planted(1, "a b"))
        .unionByName(planted(2, "spam " * 40))
        .unionByName(planted(3, "?! " * 50))
        .unionByName(planted(4, "abcdefghijklmnopqrst " * 6))
    )
    return quality_filter(uni).select("doc_id", "keep", "reject_reason")


def q_lang_id(spark, sf_dir):
    """Language-ID over a constructed per-language corpus (doc_id % 6
    selects the language; a doc_id suffix varies every text). The oracle
    predicts both the true and the predicted language exactly."""
    from fuzi_spark.ops.textstats import lang_id

    langs = F.array(*[F.lit(l) for l, _ in _LANG_PHRASES])
    phrases = F.array(*[F.lit(p) for _, p in _LANG_PHRASES])
    idx = (F.col("doc_id") % 6 + 1).cast("int")
    text = F.concat(
        F.element_at(phrases, idx), F.lit(" doc "), F.col("doc_id").cast("string")
    )
    return _docs(spark, sf_dir).select(
        "doc_id",
        F.element_at(langs, idx).alias("lang_true"),
        lang_id(text).alias("lang_pred"),
    )


def q_fingerprint(spark, sf_dir):
    """Winnowing fingerprint invariants, oracle-checked: an identical copy
    (computed in a separate union branch, i.e. a different task) must
    digest identically, and a 25-char tail mutation must change the
    digest (the appended region contributes ≥18 interior window minima of
    brand-new k-gram hashes). One row per doc with both verdicts."""
    from fuzi_spark.ops.textstats import winnow_fingerprint_udf

    fp = winnow_fingerprint_udf()
    mut = " zxqj vwpk mlty gdhr snfb"  # 25 chars > window + k
    d = _docs(spark, sf_dir).select("doc_id", "text")
    trip = (
        d.select("doc_id", F.col("text").alias("t"), F.lit("o").alias("tag"))
        .unionByName(
            d.select("doc_id", F.col("text").alias("t"), F.lit("c").alias("tag"))
        )
        .unionByName(
            d.select(
                "doc_id",
                F.concat(F.col("text"), F.lit(mut)).alias("t"),
                F.lit("m").alias("tag"),
            )
        )
    )
    digs = trip.select(
        "doc_id",
        "tag",
        F.sha2(
            F.concat_ws(
                ",", F.transform(fp(F.col("t")), lambda x: x.cast("string"))
            ),
            256,
        ).alias("dig"),
    )
    agg = digs.groupBy("doc_id").agg(
        F.max(F.when(F.col("tag") == "o", F.col("dig"))).alias("dig_o"),
        F.max(F.when(F.col("tag") == "c", F.col("dig"))).alias("dig_c"),
        F.max(F.when(F.col("tag") == "m", F.col("dig"))).alias("dig_m"),
    )
    return agg.select(
        "doc_id",
        (F.col("dig_o") == F.col("dig_c")).cast("int").alias("copy_same"),
        (F.col("dig_o") != F.col("dig_m")).cast("int").alias("mutated_differs"),
    )


def q_similarity_topk(spark, sf_dir):
    """Brute-force cosine top-5 for the first 10 vectors (broadcast join +
    per-query window)."""
    from fuzi_spark.ops.similarity import cosine_topk_bruteforce

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    queries = vecs.filter(F.col("vec_id") < 10)
    return cosine_topk_bruteforce(vecs, queries, k=5).select(
        "query_id", "neighbor_id", "rank"
    )


def _planted_probes(vecs):
    """10 near-identical probe vectors (ids +10M): a ~0.005-radian
    deterministic perturbation of the first 10 table vectors. An ANN
    structure that cannot return the original as rank-1 for these is
    broken — recovery probability is 1 minus ~1e-15 for the shipped LSH
    params, exact for IVF probing — so the oracle can predict the result."""
    return vecs.filter(F.col("vec_id") < 10).select(
        (F.col("vec_id") + 10_000_000).alias("vec_id"),
        F.transform(
            "embedding", lambda x: x + F.lit(0.005) * F.sin(x * F.lit(1000.0))
        ).alias("embedding"),
    )


def q_similarity_lsh(spark, sf_dir):
    """Multi-table sign-LSH ANN, oracle-checked on planted probes: each
    perturbed probe must recover its original vector as rank-1 (bucket
    collision is certain up to ~1e-15; the exact in-bucket re-rank then
    guarantees the argmax)."""
    from fuzi_spark.ops.similarity import cosine_topk_lsh

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    out = cosine_topk_lsh(vecs, _planted_probes(vecs), k=5, bits=8, n_tables=8)
    return out.filter(F.col("rank") == 1).select("query_id", "neighbor_id")


def q_embedding_near_dups(spark, sf_dir):
    """Embedding near-dup pairs: each vector unioned with an exact copy
    (id+10000) must pair with it at cosine 1."""
    from fuzi_spark.ops.similarity import embedding_near_dups

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    doubled = vecs.unionByName(
        vecs.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    # bits=10 → 1024 buckets: exact copies share a bucket at ANY bit width
    # (identical vector ⇒ identical signature), so recall for the checked
    # pairs is 1.0 while the quadratic bucket join shrinks ~16× vs bits=6
    pairs = embedding_near_dups(doubled, threshold=0.999, bits=10)
    return pairs.filter(F.col("id_b") - F.col("id_a") == 10000).select(
        "id_a", "id_b"
    )


def q_semantic_dedup(spark, sf_dir):
    """SemDeDup keep/drop list: each vector unioned with an exact copy
    (id+10000). An exact copy always lands in the SAME k-means cell
    (identical vector => identical assignment) and, processed after its
    original in the ascending-id greedy, always finds a kept vector at
    cosine >= threshold (its original if kept, else whatever kept vector
    dropped the original, at the identical cosine) — so every copy is
    dropped, regardless of organic near-dups among the originals. The
    query projects exactly that invariant."""
    from fuzi_spark.ops.similarity import semantic_dedup

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias("embedding"),
    )
    doubled = vecs.unionByName(
        vecs.select((F.col("vec_id") + 10000).alias("vec_id"), "embedding")
    )
    res = semantic_dedup(doubled, n_cells=8, threshold=0.999)
    return (
        res.filter((F.col("vec_id") >= 10000) & (F.col("keep") == 0))
        .select("vec_id")
    )


def q_normalize_text(spark, sf_dir):
    """Canonical text normalization over a constructed messy corpus:
    padded whitespace runs, tabs/newlines, C0 controls, and decomposed
    Unicode (combining acute/ring/diaeresis), including a combining mark
    separated from its base by a control byte (exercises the strip-
    before-NFC stage-order contract). The oracle rebuilds the identical
    messy string and applies the same regex pipeline + nfc_normalize in
    DuckDB — bit-exact."""
    from fuzi_spark.ops.textstats import normalize_text

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    messy = F.concat(
        F.lit("  "),
        F.col("text"),
        F.lit("\tx\n\ny  "),
        F.when(
            i % 2 == 0, F.lit(" Café du\x01nord e\x02́")
        ).otherwise(F.lit("")),
        F.when(
            i % 3 == 0, F.lit(" Ångström\x07 \x0b ok")
        ).otherwise(F.lit("")),
    )
    return normalize_text(d.select("doc_id", messy.alias("text"))).select(
        "doc_id", "norm_text"
    )


def q_content_filter(spark, sf_dir):
    """C4-style content wordlist gate over a constructed corpus: planted
    blocked words at known id rates, in mixed case and with punctuation
    glued on (exercises the lowercase + [^a-z0-9]+ split contract), plus
    a superstring near-miss ('badger12') that must NOT match. The oracle
    does not assume the rates: it rebuilds the identical string and
    re-runs the identical token pipeline in DuckDB."""
    from fuzi_spark.ops.textstats import content_filter

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.when(i % 5 == 0, F.lit(" BADGER1, badger1")).otherwise(F.lit("")),
        F.when(i % 7 == 0, F.lit(" toxic2! ok")).otherwise(F.lit("")),
        F.when(i % 3 == 0, F.lit(" badger12 clean")).otherwise(F.lit("")),
    )
    return content_filter(
        d.select("doc_id", txt.alias("text")),
        ["badger1", "toxic2", "unused3"],
    ).select("doc_id", "n_blocked", "keep", "reject_reason")


def q_events_window(spark, sf_dir):
    """Tumbling-window aggregation over the events stream table (batch
    form of the watermarked streaming operator in fuzi_spark.streaming)."""
    from fuzi_spark.streaming import windowed_event_counts

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    agg = windowed_event_counts(events, "1 day")
    return agg.select(
        F.date_format("window_start", "yyyy-MM-dd").alias("day"),
        "event_type",
        "n_events",
        "total_cents",
    )


def q_sessionize(spark, sf_dir):
    """Per-user sessionization (lag + running-sum window functions); the
    same semantics run as a custom stateful streaming operator via
    applyInPandasWithState (fuzi_spark.streaming.sessionize_stream)."""
    from fuzi_spark.streaming import sessionize_batch

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    s = sessionize_batch(events, gap_minutes=30)
    return s.select(
        "user_id",
        "session_id",
        F.date_format("session_start", "yyyy-MM-dd HH:mm:ss").alias("start_s"),
        F.date_format("session_end", "yyyy-MM-dd HH:mm:ss").alias("end_s"),
        "n_events",
    )


def q_similarity_ivf(spark, sf_dir):
    """IVF ANN, oracle-checked on planted probes: the probe's top-4 cells
    contain its original's cell (a 0.005-radian perturbation cannot push
    it past 3 other centroids), and the exact in-cell re-rank returns the
    original as rank-1."""
    from fuzi_spark.ops.similarity import cosine_topk_ivf

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id", F.transform("embedding", lambda x: x.cast("double")).alias("embedding")
    )
    out = cosine_topk_ivf(
        vecs, _planted_probes(vecs), k=5, n_cells=16, n_probe=4
    )
    return out.filter(F.col("rank") == 1).select("query_id", "neighbor_id")


def q_multimodal_decode(spark, sf_dir):
    """Multimodal pipeline, oracle-checked end to end: media refs from
    extracted spans → synthetic image bytes (real JPEG headers, dims from
    the SQL-expressible synth_dims formula) → header-parse decode. The
    oracle predicts every (format, width, height, channels, decode_ok)
    from the documents table alone."""
    from fuzi_spark.ops.multimodal import decode_features_df, synth_media_df

    extracted = _flagship_extracted(spark, sf_dir)
    media = synth_media_df(spark, extracted)
    return decode_features_df(media).select(
        "media_ref", "media_type", "format", "width", "height", "channels",
        "decode_ok",
    )


def q_line_dedup(spark, sf_dir):
    """CCNet-style cross-document line dedup on a constructed 4-line
    corpus: HDR/FTR lines are shared by every doc (always removed at
    min_docs=2), the 'U{id} {text}' line is unique per doc (always
    kept), and the 'LANG {lang}' line is removed iff >= 2 docs share the
    language — so the oracle predicts the exact surviving text, kept
    count, and removed count per doc from a window count over lang."""
    from fuzi_spark.ops.dedup import line_dedup

    txt = F.concat_ws(
        "\n",
        F.lit("HDR common header"),
        F.concat(
            F.lit("U"), F.col("doc_id").cast("string"), F.lit(" "), F.col("text")
        ),
        F.concat(F.lit("LANG "), F.col("lang")),
        F.lit("FTR common footer"),
    )
    d = _docs(spark, sf_dir).select("doc_id", txt.alias("text"))
    return line_dedup(d, min_docs=2)


def q_hash_sample(spark, sf_dir):
    """Deterministic hash-stratified sampling: per-lang keep rates
    (en .5 / de .25 / fr .125 / es .75 / zh 1.0) decided by an
    md5-prefix threshold — a pure scan predicate, and exactly
    recomputable by the oracle because both engines agree on md5."""
    from fuzi_spark.ops.sampling import stratified_sample

    d = _docs(spark, sf_dir).select("doc_id", "lang")
    return stratified_sample(
        d,
        {"en": 0.5, "de": 0.25, "fr": 0.125, "es": 0.75, "zh": 1.0},
        stratum_col="lang",
        key_col="doc_id",
        salt="fuzi",
    )


def q_decontaminate(spark, sf_dir):
    """Benchmark decontamination over a zero-cross-overlap corpus
    (doc i's text is 25 tokens 'w{i}_1..w{i}_25', so inter-doc 5-gram
    overlap is exactly zero by construction): the 'benchmark' is every
    10th doc's text, so contaminated docs are exactly doc_id % 10 == 0
    with all 21 distinct 5-gram shingles matched — the oracle is total."""
    from fuzi_spark.ops.dedup import decontaminate

    ids = _docs(spark, sf_dir).select("doc_id")
    text = F.concat_ws(
        " ",
        F.transform(
            F.sequence(F.lit(1), F.lit(25)),
            lambda j: F.concat(
                F.lit("w"),
                F.col("doc_id").cast("string"),
                F.lit("_"),
                j.cast("string"),
            ),
        ),
    )
    corpus = ids.select("doc_id", text.alias("text"))
    bench = corpus.filter(F.col("doc_id") % 10 == 0).select("text")
    return decontaminate(corpus, bench, shingle_n=5)


def q_redact_pii(spark, sf_dir):
    """PII scrubbing over a constructed corpus: every 3rd doc gets a
    planted email, every 4th an IPv4, every 5th a phone — but the oracle
    does not assume those rates; it re-runs the identical RE2-compatible
    patterns (regexp_extract_all / regexp_replace 'g') on the same
    constructed string, so counts AND masked text are recomputed."""
    from fuzi_spark.ops.redact import redact_pii

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    txt = F.concat(
        F.col("text"),
        F.when(
            i % 3 == 0,
            F.concat(F.lit(" mail u"), i.cast("string"), F.lit("@ex.org")),
        ).otherwise(F.lit("")),
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit(" ip 10."),
                (i % 200).cast("string"),
                F.lit(".0."),
                (i % 250).cast("string"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 5 == 0,
            F.concat(F.lit(" call +41"), (7000000 + i).cast("string")),
        ).otherwise(F.lit("")),
    )
    return redact_pii(d.select("doc_id", txt.alias("text")))


def q_pack_sequences(spark, sf_dir):
    """Quota packing of the corpus into ~20k-char context windows over
    8 explicit buckets (doc_id % 8 so the oracle can recompute the
    bucket; production uses the default xxhash64 bucket). The oracle is
    the same closed-form window arithmetic in DuckDB."""
    from fuzi_spark.ops.packing import pack_sequences

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return pack_sequences(
        d,
        budget=20000,
        tokens_col="n_chars",
        key_col="doc_id",
        bucket=F.col("doc_id") % 8,
    ).select("doc_id", "bucket", "pack_id", "pack_pos")


def _doc_urls(spark, sf_dir):
    """documents + a constructed url column: every 13th doc gets a
    scheme-less relative ref (host extraction must yield '' and keep
    the row), the rest a mixed-case https URL derived from source —
    both recomputable by the oracle."""
    d = _docs(spark, sf_dir)
    url = F.when(
        F.col("doc_id") % 13 == 0, F.lit("relative/path.html")
    ).otherwise(
        F.concat(
            F.lit("https://"),
            F.col("source"),
            F.lit(".Example.COM/d/"),
            F.col("doc_id").cast("string"),
        )
    )
    return d.select("doc_id", "n_chars", url.alias("url"))


def q_domain_stats(spark, sf_dir):
    """Per-domain rollup over constructed URLs: host extraction
    (lowercased; '' for scheme-less refs) + one map-side-combinable agg
    keyed by domain. The oracle recomputes the identical RE2 pattern."""
    from fuzi_spark.ops.web import domain_stats

    return domain_stats(_doc_urls(spark, sf_dir))


def q_blocked_domains(spark, sf_dir):
    """Blocklist filter: drop docs whose URL host is on a (mixed-case)
    two-domain blocklist — broadcast left_anti on the extracted host;
    rows pass through otherwise unchanged."""
    from fuzi_spark.ops.web import filter_blocked_domains

    d = _doc_urls(spark, sf_dir).select("doc_id", "url")
    blocked = spark.createDataFrame(
        [("SRC1.Example.Com",), ("src3.EXAMPLE.com",)], "domain string"
    )
    return filter_blocked_domains(d, blocked)


def q_top_terms(spark, sf_dir):
    """Top-3 most document-specific terms per doc, scored tf/df (IEEE
    division — bit-exact in both engines, unlike log-idf), ties broken
    (tf desc, term asc); the oracle is the same window over the same
    whitespace tokenization."""
    from fuzi_spark.ops.web import top_terms

    return top_terms(_docs(spark, sf_dir).select("doc_id", "text"), k=3)


def q_corpus_report(spark, sf_dir):
    """Per-(lang, source) corpus profile with exact quantiles — Spark's
    percentile and DuckDB's quantile_cont share the R-7 linear-
    interpolation definition, so median/p90 match to the bit."""
    from fuzi_spark.ops.textstats import corpus_report

    return corpus_report(
        _docs(spark, sf_dir), group_cols=["lang", "source"]
    )


def q_link_graph(spark, sf_dir):
    """Integration query: construct HTML with formula-planted anchors
    (one mixed-case absolute link per doc; a second for even ids; a
    DUPLICATE-domain link for ids % 3 == 0 so in_degree > n_sources;
    plus a relative href and an href-less anchor that must drop), parse
    with the real HTML parser, select '//a' via the XPath surface, and
    roll up in-degree per target domain. The oracle recomputes the
    planted graph from the same formulas — never trusting the parser."""
    from fuzi_spark.ops.web import link_graph

    i = F.col("doc_id")
    t1 = ((i * 7 + 1) % 20).cast("string")
    t2 = ((i * 11 + 3) % 20).cast("string")
    markup = F.concat(
        F.lit('<html><body><a href="https://Src'),
        t1,
        F.lit('.Example.com/p/1">one</a>'),
        F.when(
            i % 2 == 0,
            F.concat(
                F.lit('<a href="https://src'),
                t2,
                F.lit('.example.com/q">two</a>'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit('<a href="https://src'),
                t1,
                F.lit('.example.com/other">again</a>'),
            ),
        ).otherwise(F.lit("")),
        F.lit('<a href="/relative/x">rel</a><a name="nohref">n</a>'
              "</body></html>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return link_graph(d)


def q_domain_rank(spark, sf_dir):
    """PageRank over a formula-planted domain graph: src d(i%20) →
    dst d((7i+1)%25), so nodes d20..d24 are pure sinks (dangling — they
    receive rank, contribute none; the documented no-redistribution
    contract). Two power-method iterations; the oracle unrolls the same
    recurrence as two join+agg rounds in SQL. Ranks rounded to 8
    decimals on both sides (float-sum order is the only freedom)."""
    from fuzi_spark.ops.web import domain_rank

    d = _docs(spark, sf_dir).select("doc_id")
    e = d.select(
        F.concat(F.lit("d"), (F.col("doc_id") % 20).cast("string")).alias(
            "src"
        ),
        F.concat(
            F.lit("d"), ((F.col("doc_id") * 7 + 1) % 25).cast("string")
        ).alias("dst"),
    )
    r = domain_rank(e, n_iter=2)
    return r.select(
        F.col("node").alias("domain"), F.round("rank", 8).alias("rank")
    )


def q_apply_robots(spark, sf_dir):
    """robots.txt crawl-compliance gate over formula-planted inputs:
    20 domains, each with 'Disallow: /private' + 'Allow: /private/ok'
    (longest-match precedence) except domains %5==0 which have NO
    robots row (missing ⇒ allowed); URLs route to /private/ok/…,
    /private/…, or /pub/… by doc_id %3. The oracle replays the
    longest-literal-prefix decision in SQL (the planted rules are
    wildcard-free by construction; wildcard/$ semantics are pinned in
    TestRobots)."""
    from fuzi_spark.ops.web import apply_robots

    i = F.col("doc_id")
    s = i.cast("string")
    host = F.concat(F.lit("d"), (i % 20).cast("string"), F.lit(".example.com"))
    url = F.concat(
        F.lit("https://"),
        host,
        F.when(i % 3 == 0, F.concat(F.lit("/private/ok/"), s))
        .when(i % 3 == 1, F.concat(F.lit("/private/"), s))
        .otherwise(F.concat(F.lit("/pub/"), s)),
    )
    urls = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    robots = (
        spark.range(20)
        .filter(F.col("id") % 5 != 0)
        .select(
            F.concat(
                F.lit("d"), F.col("id").cast("string"), F.lit(".example.com")
            ).alias("domain"),
            F.lit(
                "User-agent: evilbot\nDisallow: /\n\n"
                "User-agent: *\nDisallow: /private\nAllow: /private/ok\n"
            ).alias("robots_txt"),
        )
    )
    return apply_robots(urls, robots).select("doc_id", "url", "allowed")


def q_parse_warc(spark, sf_dir):
    """WARC container parsing over formula-constructed archives: each
    doc becomes a two-record WARC blob — an HTTP response record (html
    body, Content-Length computed from the actual payload length) and a
    metadata record. The oracle predicts every record field from the
    construction formulas, never running a parser."""
    from fuzi_spark.warc import parse_warc_df

    i = F.col("doc_id")
    s = i.cast("string")
    body = F.concat(F.lit("<html><title>W"), s, F.lit("</title></html>"))
    http = F.concat(
        F.lit("HTTP/1.1 200 OK\r\nContent-Type: text/html\r\n\r\n"), body
    )
    rec0 = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: response\r\nWARC-Target-URI: "),
        F.lit("https://w.example.com/"),
        s,
        F.lit("\r\nContent-Length: "),
        F.length(http).cast("string"),
        F.lit("\r\n\r\n"),
        http,
    )
    meta_block = F.concat(F.lit('{"k":'), s, F.lit("}"))
    rec1 = F.concat(
        F.lit("WARC/1.0\r\nWARC-Type: metadata\r\n"),
        F.lit("Content-Type: application/json\r\nContent-Length: "),
        F.length(meta_block).cast("string"),
        F.lit("\r\n\r\n"),
        meta_block,
    )
    blob = F.concat(rec0, F.lit("\r\n\r\n"), rec1, F.lit("\r\n\r\n"))
    archives = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("archive_id"),
        blob.cast("binary").alias("data"),
    )
    return parse_warc_df(archives).select(
        "archive_id",
        "record_idx",
        "offset",
        "warc_type",
        "target_uri",
        "http_status",
        "content_type",
        "body_len",
        "body_text",
    )


def q_page_metadata(spark, sf_dir):
    """Page-level metadata extraction over formula-planted HTML: title
    always present; description (mixed-case META/NAME) on even ids;
    canonical link on ids %3==0; OpenGraph title on %5==0; meta robots
    'NOINDEX, nofollow' on %4==0 and 'index, follow' on %4==2 (only the
    former sets the flag). The oracle predicts every column from the
    construction formulas — independent of the parser."""
    from fuzi_spark.ops.web import page_metadata

    i = F.col("doc_id")
    s = i.cast("string")
    markup = F.concat(
        F.lit("<html><head><title>Page "),
        s,
        F.lit("</title>"),
        F.when(
            i % 2 == 0,
            F.concat(
                F.lit('<META NAME="Description" content="Desc '),
                s,
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit('<link rel="Canonical" href="https://c.example.com/'),
                s,
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 5 == 0,
            F.concat(
                F.lit('<meta property="og:title" content="OG '),
                s,
                F.lit('">'),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 4 == 0,
            F.lit('<meta name="robots" content="NOINDEX, nofollow">'),
        )
        .when(
            i % 4 == 2,
            F.lit('<meta name="robots" content="index, follow">'),
        )
        .otherwise(F.lit("")),
        F.lit("</head><body><p>x</p></body></html>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return d.select("doc_id", page_metadata().alias("m")).select(
        "doc_id", "m.*"
    )


def q_vocab_table(spark, sf_dir):
    """Corpus vocabulary with deterministic dense ids (count desc,
    token asc) at min_count=5 — the tokenizer-training input; the
    oracle is the same count + global window rank."""
    from fuzi_spark.ops.textstats import vocab_table

    return vocab_table(
        _docs(spark, sf_dir).select("text"), min_count=5
    )


def q_repeated_passages(spark, sf_dir):
    """Passage-repetition flagging on a constructed corpus: every doc =
    a common 40-token prefix (shared corpus-wide) + a unique tail of
    10 + (doc_id % 4)·10 tokens. With k=20, stride=10 the windows at
    offsets 0/10/20 lie fully in the prefix (repeated in all docs) and
    every later window straddles into the unique tail — so the oracle
    predicts exactly n_windows = L/10 − 1 = 4 + doc_id % 4 and
    n_repeated = 3 per doc, no parsing trusted."""
    from fuzi_spark.ops.dedup import repeated_passages

    i = F.col("doc_id")
    prefix = " ".join(f"c{j}" for j in range(40))
    tail = F.array_join(
        F.transform(
            F.sequence(F.lit(1), (10 + (i % 4) * 10).cast("int")),
            lambda j: F.concat(
                F.lit("u"), i.cast("string"), F.lit("_"), j.cast("string")
            ),
        ),
        " ",
    )
    txt = F.concat(F.lit(prefix + " "), tail)
    d = _docs(spark, sf_dir).select("doc_id", txt.alias("text"))
    return repeated_passages(d, k=20, stride=10, min_docs=2)


def q_lm_perplexity(spark, sf_dir):
    """CCNet-style LM quality scoring: train an add-alpha bigram model
    on the even-doc_id half of the corpus, score EVERY doc against it —
    so odd docs exercise the unseen-bigram smoothing path and even docs
    the in-model path. The oracle recomputes the identical counts,
    vocabulary size, and add-0.1 formula in SQL."""
    from fuzi_spark.ops.lm import lm_perplexity, train_bigram_lm

    d = _docs(spark, sf_dir).select("doc_id", "text")
    uni, bi = train_bigram_lm(d.filter(F.col("doc_id") % 2 == 0))
    return lm_perplexity(d, uni, bi, alpha=0.1)


def q_perplexity_buckets(spark, sf_dir):
    """CCNet head/middle/tail bucketing: the same add-0.1 bigram model
    as lm_perplexity (trained on the even-doc_id half), then PER-LANG
    exact tercile cutoffs (group_quantiles' rank arithmetic) and the
    ties-down bucket assignment. The oracle replays the whole chain in
    SQL — model counts, perplexity, per-lang value-at-rank cutoffs,
    comparison bucketing — so the bucket boundaries themselves are
    verified, not just the scores."""
    from fuzi_spark.ops.lm import perplexity_buckets, train_bigram_lm

    d = _docs(spark, sf_dir).select("doc_id", "lang", "text")
    uni, bi = train_bigram_lm(d.filter(F.col("doc_id") % 2 == 0))
    return perplexity_buckets(
        d, uni, bi, n_buckets=3, group_cols=["lang"], alpha=0.1
    )


def q_span_corruption(spark, sf_dir):
    """T5 denoising-objective prep over every document (window=20,
    spans 1-3). The oracle replays the FULL construction in SQL —
    identical tokenization, md5-derived span length/offset per
    window, the three list slices, sentinel text, and the ordered
    string_agg reassembly — so inputs/targets strings are bit-exact."""
    from fuzi_spark.ops.fim import span_corruption

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return span_corruption(d, window=20, max_span=3)


def q_temperature_mix(spark, sf_dir):
    """Temperature-alpha multilingual rebalancing (the XLM-R/mT5
    recipe, share ∝ mass^0.7) by n_chars over the 5-language corpus.
    The oracle replays the IDENTICAL unnormalized IEEE sequence —
    pow(t, 0.7), MIN(t/share), LEAST(1, tm*share/t), numeric md5
    bucket < rate*2^32 — so stratum membership matches row-for-row
    (pow is the only cross-engine float risk, 1 ulp, ~2^-32 flip
    odds per doc against a random bucket)."""
    from fuzi_spark.ops.sampling import temperature_mixture

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("w")
    )
    return temperature_mixture(d, stratum_col="lang", weight_col="w", alpha=0.7)


def q_preference_pairs(spark, sf_dir):
    """DPO preference-pair mining over a constructed forum: docs group
    into 100 threads of 5 (m=0 the root prompt, m=1..4 replies), with
    reply COUNT varied per thread ((g%4)+1, so one-reply threads pin
    the rejected=NULL SFT case) and score = doc_id%3 forcing heavy
    vote TIES — the opposite-direction tie-breaks (chosen: smallest
    id, rejected: largest) are what the oracle's twin window ranking
    must reproduce exactly."""
    from fuzi_spark.ops.threads import preference_pairs

    d = _docs(spark, sf_dir).select("doc_id", "text")
    g = F.floor(F.col("doc_id") / 5).cast("long")
    m = F.col("doc_id") % 5
    posts = (
        d.filter((m == 0) | (m <= (g % 4) + 1))
        .select(
            F.col("doc_id").alias("post_id"),
            F.when(m == 0, F.lit(None).cast("long"))
            .otherwise(g * 5)
            .alias("parent_id"),
            (F.col("doc_id") % 3).alias("score"),
            "text",
        )
    )
    return preference_pairs(posts)


def q_chat_validate(spark, sf_dir):
    """SFT chat-structure gate over constructed conversations: doc_id%7
    plants one case per failure class — valid (0), empty thread (1),
    unknown role WITH an empty content also planted (2: pins the fixed
    first-failure precedence), assistant-first (3), repeated role (4),
    empty content (5), no assistant turn (6). The oracle writes the
    EXPECTED (n_turns, n_assistant, valid, reason) straight from the
    construction formula — parser-independent."""
    from fuzi_spark.ops.threads import chat_validate

    d = _docs(spark, sf_dir).select("doc_id", "text")
    m = F.col("doc_id") % 7
    body = F.concat(
        F.lit("u:"), F.coalesce(F.substring("text", 1, 40), F.lit(""))
    )

    def turn(role, content):
        return F.struct(F.lit(role).alias("role"), content.alias("content"))

    sys_t = turn("system", F.lit("be helpful"))
    usr = turn("user", body)
    asst = turn("assistant", body)
    turns = (
        F.when(m == 0, F.array(sys_t, usr, asst))
        .when(m == 1, F.array().cast("array<struct<role:string,content:string>>"))
        .when(m == 2, F.array(usr, turn("moderator", body),
                              turn("assistant", F.lit(""))))
        .when(m == 3, F.array(asst, usr, asst))
        .when(m == 4, F.array(usr, turn("user", body), asst))
        .when(m == 5, F.array(turn("user", F.lit("")), asst))
        .otherwise(F.array(sys_t, usr))
    )
    return chat_validate(d.select("doc_id", turns.alias("turns")))


def q_detect_license(spark, sf_dir):
    """License detection (The Stack gate) over constructed headers:
    doc_id%10 plants one case per family — SPDX declarations (0),
    SPDX-beats-phrase precedence (1: Apache SPDX above a GPL phrase),
    a LINE-WRAPPED MIT notice (2: whitespace collapse required), the
    Apache/BSD/GPLv3/GPLv2/LGPL/CC-BY phrases (3-8), and no license
    (9). The oracle writes the EXPECTED (spdx_id, family, permissive)
    straight from the construction formula — parser-independent (the
    repeated_passages evidence style)."""
    from fuzi_spark.ops.license import detect_license

    i = F.col("doc_id") % 10
    hdr = (
        F.when(i == 0, "// SPDX-License-Identifier: MIT\n")
        .when(
            i == 1,
            "# SPDX-License-Identifier: Apache-2.0\n# This program is "
            "free software: you can redistribute it under the terms of "
            "the GNU General Public License, either version 3.\n",
        )
        .when(
            i == 2,
            "/* Permission is hereby\n   granted, free of charge, to "
            "any person obtaining a copy of this software */\n",
        )
        .when(
            i == 3,
            "Licensed under the Apache License, Version 2.0 (the "
            '"License");\n',
        )
        .when(
            i == 4,
            "Redistribution and use in source and binary forms, with "
            "or without modification, are permitted\n",
        )
        .when(
            i == 5,
            "under the terms of the GNU General Public License as "
            "published by the Free Software Foundation, either "
            "version 3 of the License\n",
        )
        .when(
            i == 6,
            "under the terms of the GNU General Public License as "
            "published by the Free Software Foundation, either "
            "version 2 of the License\n",
        )
        .when(
            i == 7,
            "under the terms of the GNU Lesser General Public License\n",
        )
        .when(
            i == 8,
            "This work is licensed under a Creative Commons "
            "Attribution 4.0 International License\n",
        )
        .otherwise("")
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat(hdr, F.col("text")).alias("text")
    )
    return detect_license(d)


def q_chunk_documents(spark, sf_dir):
    """Overlapping 120-char windows (overlap 20) over every document —
    the chunking step before embedding/packing. Zero shuffles; the
    oracle recomputes the same closed-form window arithmetic and
    substring slices in DuckDB."""
    from fuzi_spark.ops.packing import chunk_documents

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return chunk_documents(d, size=120, overlap=20)


def q_url_dedup(spark, sf_dir):
    """Crawl-side URL dedup over constructed messy URLs: doc_id%4 ∈
    {0,1} are tracking-tagged/cased variants of the SAME page (must
    collapse, min-id kept), %4==2 exercises the https:443 strip, %4==3
    a relative ref with a kept param. The oracle writes the EXPECTED
    canonical string from the construction formula — parser-independent
    (the repeated_passages evidence style)."""
    from fuzi_spark.ops.web import url_dedup

    i = F.col("doc_id")
    g = F.floor(i / 4).cast("long")
    s = lambda c: c.cast("string")  # noqa: E731
    url = (
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit("HTTP://Host"), s(g % 50), F.lit(".Example.COM:80/p/"),
                s(g), F.lit("?utm_campaign=a&q="), s(g % 7), F.lit("#frag"),
            ),
        )
        .when(
            i % 4 == 1,
            F.concat(
                F.lit("http://host"), s(g % 50), F.lit(".example.com/p/"),
                s(g), F.lit("?q="), s(g % 7),
            ),
        )
        .when(
            i % 4 == 2,
            F.concat(
                F.lit("HTTPS://Sec"), s(g), F.lit(".Example.Com:443/only/"), s(i)
            ),
        )
        .otherwise(
            F.concat(
                F.lit("rel/path"), s(i), F.lit(".html?utm_source=z&x=y#f")
            )
        )
    )
    d = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return url_dedup(d)


def q_encode_documents(spark, sf_dir):
    """Tokenizer application: train a min_count=2 vocabulary on the
    corpus (rare tokens drop out, so some positions encode as unk -1),
    then encode every document to its token-id sequence. The oracle
    retrains the identical deterministic vocabulary (count desc, token
    asc dense ids) and re-encodes in SQL."""
    from fuzi_spark.ops.textstats import encode_documents, vocab_table

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return encode_documents(d, vocab_table(d, min_count=2))


def q_remove_passages(spark, sf_dir):
    """Exact-substring REMOVAL on the repeated_passages corpus (40-token
    shared prefix + unique tail): the three flagged windows cover token
    positions [0,40) exactly, so the oracle predicts the cleaned text —
    the unique tail verbatim — and n_removed = 40 from the construction
    formula alone, no parsing trusted."""
    from fuzi_spark.ops.dedup import remove_repeated_passages

    i = F.col("doc_id")
    prefix = " ".join(f"c{j}" for j in range(40))
    tail = F.array_join(
        F.transform(
            F.sequence(F.lit(1), (10 + (i % 4) * 10).cast("int")),
            lambda j: F.concat(
                F.lit("u"), i.cast("string"), F.lit("_"), j.cast("string")
            ),
        ),
        " ",
    )
    txt = F.concat(F.lit(prefix + " "), tail)
    d = _docs(spark, sf_dir).select("doc_id", txt.alias("text"))
    return remove_repeated_passages(d, k=20, stride=10, min_docs=2)


def _synth_spans(i):
    """Deterministic interleaved spans: heading=source, paragraph=text,
    one media ref, a caption, and an empty paragraph (must be dropped
    by the renderer) — every field recomputable by the oracle."""

    def span(kind, text, ref, off):
        return F.struct(
            F.lit(kind).alias("kind"),
            text.alias("text"),
            (F.lit(ref) if ref is None else ref).cast("string").alias(
                "media_ref"
            ),
            F.lit(off).alias("offset"),
        )

    return F.array(
        span("heading", F.col("source"), None, 0),
        span("paragraph", F.col("text"), None, 1),
        span(
            "media",
            F.lit(""),
            F.concat(F.lit("img/"), i.cast("string"), F.lit(".jpg")),
            2,
        ),
        span("caption", F.concat(F.lit("cap "), i.cast("string")), None, 3),
        span("paragraph", F.lit(""), None, 4),
    )


def q_interleaved_text(spark, sf_dir):
    """Interleaved-sequence assembly: render constructed spans (heading,
    paragraph, media, caption, empty paragraph) to trainer text with
    <image> sentinels. The oracle writes the expected string from the
    same construction formula."""
    from fuzi_spark.ops.assemble import interleaved_training_text

    i = F.col("doc_id")
    d = _docs(spark, sf_dir).select("doc_id", _synth_spans(i).alias("spans"))
    return interleaved_training_text(d)


def q_media_balance(spark, sf_dir):
    """Media-balance gate over constructed spans with doc_id%40 media
    refs and the real text: exercises too_many_media (>32), the
    chars-per-media ratio rejection, and the text-only pass-through."""
    from fuzi_spark.ops.assemble import media_balance_filter

    i = F.col("doc_id")
    m = (i % 40).cast("int")
    media = F.when(
        m > 0,
        F.transform(
            F.sequence(F.lit(1), m),
            lambda j: F.struct(
                F.lit("media").alias("kind"),
                F.lit("").alias("text"),
                F.concat(
                    F.lit("img/"), i.cast("string"), F.lit("_"),
                    j.cast("string"), F.lit(".jpg"),
                ).alias("media_ref"),
                j.alias("offset"),
            ),
        ),
    ).otherwise(F.array().cast(SPANS_SQL_TYPE))
    textspan = F.array(
        F.struct(
            F.lit("paragraph").alias("kind"),
            F.col("text").alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", F.concat(textspan, media).alias("spans")
    )
    return media_balance_filter(
        d, max_media=32, min_chars_per_media=10
    ).select("doc_id", "n_media", "n_text_chars", "keep", "reject_reason")


SPANS_SQL_TYPE = (
    "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
)


def q_curate(spark, sf_dir):
    """The full hygiene DAG on a planted ten-class corpus (doc_id % 10
    selects the stage that must reject the doc — or keep it): blocklist,
    canonical-URL dedup, language, quality, exact dedup, and
    decontamination all fire, in precedence order, with elections run on
    survivors. The oracle is the construction formula itself."""
    from fuzi_spark.ops.curate import curate

    i = F.col("doc_id")
    m = i % 10
    g = F.floor(i / 10).cast("long")
    s = lambda c: c.cast("string")  # noqa: E731
    clean = F.concat(
        F.lit("the common corpus document number n"), s(i),
        F.lit(" is a fine example of clean text"),
    )
    dup = F.concat(
        F.lit("the shared duplicate body is a copy of the alpha beta "
              "gamma text g"), s(g),
    )
    text = (
        F.when(m == 3, F.lit("the the the the the the the the"))
        .when(m == 4, F.concat(
            F.lit("привет мир это тест документ номер "), s(i)))
        .when((m == 5) | (m == 6), dup)
        .when(m == 7, F.concat(
            F.lit("the quick brown fox says leaked benchmark answer "
                  "sequence token alpha and more words n"), s(i)))
        .otherwise(clean)
    )
    url = (
        F.when(m == 0, F.concat(F.lit("https://OK.example.com/p/"), s(g)))
        .when(m == 1, F.concat(
            F.lit("https://ok.example.com:443/p/"), s(g),
            F.lit("?utm_source=x")))
        .when(m == 2, F.concat(F.lit("https://Spam.Example.COM/x"), s(i)))
        .otherwise(F.concat(F.lit("https://ok.example.com/u/"), s(i)))
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", text.alias("text"), url.alias("url")
    )
    blocked = spark.createDataFrame([("spam.example.com",)], "domain string")
    ev = spark.createDataFrame(
        [(1, "leaked benchmark answer sequence token alpha")],
        "doc_id long, text string",
    )
    return curate(
        d, url_col="url", blocked_domains=blocked, lang_allow=["en"],
        eval_set=ev,
    )


def q_materialize_packs(spark, sf_dir):
    """Pack materialization: the pack_sequences assignment emitted as
    actual trainer rows — member texts concatenated in pack order. Same
    explicit doc_id%8 bucket as the assignment query; the oracle is the
    identical window arithmetic + ordered string_agg in DuckDB."""
    from fuzi_spark.ops.packing import materialize_packs

    d = _docs(spark, sf_dir).select("doc_id", "text", "n_chars")
    return materialize_packs(
        d,
        budget=20000,
        text_col="text",
        tokens_col="n_chars",
        key_col="doc_id",
        bucket=F.col("doc_id") % 8,
    )


def q_group_quota(spark, sf_dir):
    """Per-source token-budget quota (no single domain may exceed the
    cap): deterministic hash-priority prefix per source, kept while the
    inclusive running n_chars total stays <= 4000. The oracle is the
    identical windowed cumulative sum in DuckDB — both engines agree on
    the md5-hex priority order and the ROWS frame."""
    from fuzi_spark.ops.sampling import group_quota

    d = _docs(spark, sf_dir).select(
        "doc_id", "source", F.col("n_chars").cast("long").alias("w")
    )
    return group_quota(d, 4000, "source", "w")


def q_split_by_group(spark, sf_dir):
    """Leakage-safe train/val/test split: the corpus is doubled (each
    text appears under two doc_ids, the dedup_exact construction), and
    the split is assigned by md5 of the CONTENT hash so both copies of
    a text land in the same split — the invariant that blocks benchmark
    contamination. Oracle: the same CASE/threshold chain in DuckDB."""
    from fuzi_spark.ops.sampling import split_assign

    d = _docs(spark, sf_dir).select("doc_id", "text")
    doubled = d.unionByName(
        d.select((F.col("doc_id") + 1000000).alias("doc_id"), "text")
    )
    out = split_assign(
        doubled,
        {"train": 0.8, "val": 0.1, "test": 0.1},
        group_key=F.md5(F.col("text")),
    )
    return out.select("doc_id", "split")


def q_epoch_order(spark, sf_dir):
    """Deterministic epoch shuffle: every doc gets its 0-based position
    in epoch 1's permutation (sort order of md5('fuzi-epoch:1:key')),
    computed with the bucketed offset+rank plan — no single-task global
    sort. Oracle: plain ROW_NUMBER over the same hash order (the
    differential the bucketing must match byte-for-byte)."""
    from fuzi_spark.ops.packing import epoch_order

    d = _docs(spark, sf_dir).select("doc_id")
    return epoch_order(d, epoch=1, key_cols=("doc_id",), n_buckets=256).select(
        "doc_id", "epoch", "epoch_pos"
    )


def q_mixture_sample(spark, sf_dir):
    """Token-mass corpus mixing: re-balance to 35% en / 25% de / 20% fr
    / 20% es by n_chars (zh is absent from the mix and dropped; de is
    the binding stratum and keeps rate 1.0). The oracle recomputes the
    IDENTICAL rate arithmetic in SQL — same aggregates, same IEEE op
    sequence (t/share, MIN, T*share/t, r*2^32) — and compares the md5
    bucket numerically, so the match is bit-exact, not approximate."""
    from fuzi_spark.ops.sampling import mixture_by_tokens

    d = _docs(spark, sf_dir).select(
        "doc_id", "lang", F.col("n_chars").cast("long").alias("w")
    )
    return mixture_by_tokens(
        d,
        {"en": 0.35, "de": 0.25, "fr": 0.2, "es": 0.2},
        stratum_col="lang",
        weight_col="w",
    )


def q_strip_media_chrome(spark, sf_dir):
    """Boilerplate-media strip over formula-planted interleaved spans:
    every doc carries a per-domain logo (domain = doc_id%25 ⇒ N/25 docs
    share it), docs with doc_id%10==0 carry a corpus-wide banner, and
    every doc carries a unique image. min_docs=10 ⇒ at sf0.01 (500
    docs) logo (20 docs) and banner (50 docs) are chrome, the unique
    image is content. The oracle replays the frequency decision from
    the SAME group counts — data-driven, not constant-coded, so it
    stays correct at any sf."""
    from fuzi_spark.ops.media import strip_boilerplate_media

    i = F.col("doc_id")
    logo = F.concat(
        F.lit("logo_d"), (i % 25).cast("string"), F.lit(".png")
    )
    img = F.concat(F.lit("img/"), i.cast("string"), F.lit(".jpg"))

    def media_span(ref, off):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit("").alias("text"),
            ref.alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    para = F.struct(
        F.lit("paragraph").alias("kind"),
        F.col("text").alias("text"),
        F.lit(None).cast("string").alias("media_ref"),
        F.lit(0).cast("int").alias("offset"),
    )
    spans = F.when(
        i % 10 == 0,
        F.array(
            para,
            media_span(logo, 1),
            media_span(F.lit("banner.png"), 2),
            media_span(img, 3),
        ),
    ).otherwise(F.array(para, media_span(logo, 1), media_span(img, 3)))
    d = _docs(spark, sf_dir).select("doc_id", spans.alias("spans"))
    out = strip_boilerplate_media(d, min_docs=10)
    kept = F.transform(
        F.filter(F.col("spans"), lambda s: s["kind"] == "media"),
        lambda s: s["media_ref"],
    )
    return out.select(
        "doc_id",
        "n_media_stripped",
        F.size("spans").cast("long").alias("n_spans_after"),
        F.array_join(kept, ",").alias("kept_refs"),
    )


def q_sitemap_urls(spark, sf_dir):
    """Sitemap parsing over formula-constructed XML: docs with
    doc_id%5==0 become <sitemapindex> blobs (2 child sitemaps, lastmod
    planted), the rest <urlset> blobs (3 URLs exercising lastmod,
    changefreq, priority, and absent-field NULLs). The oracle emits
    the same rows from the construction formulas — the parser must
    invert the construction exactly (namespaced default xmlns, field
    order, 0-based seq)."""
    from fuzi_spark.ops.discovery import parse_sitemap_df

    i = F.col("doc_id")
    s = i.cast("string")
    index_xml = F.concat(
        F.lit('<?xml version="1.0"?><sitemapindex '
              'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<sitemap><loc>https://s"), s,
        F.lit(".example.com/sitemap1.xml</loc>"
              "<lastmod>2024-01-01</lastmod></sitemap>"
              "<sitemap><loc>https://s"), s,
        F.lit(".example.com/sitemap2.xml</loc>"
              "<lastmod>2024-01-02</lastmod></sitemap></sitemapindex>"),
    )
    urlset_xml = F.concat(
        F.lit('<?xml version="1.0"?><urlset '
              'xmlns="http://www.sitemaps.org/schemas/sitemap/0.9">'
              "<url><loc>https://d"), s,
        F.lit(".example.com/p/1</loc><lastmod>2024-02-01</lastmod></url>"
              "<url><loc>https://d"), s,
        F.lit(".example.com/p/2</loc><changefreq>weekly</changefreq></url>"
              "<url><loc>https://d"), s,
        F.lit(".example.com/p/3</loc><priority>0.3</priority></url></urlset>"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("site_id"),
        F.when(i % 5 == 0, index_xml).otherwise(urlset_xml).alias("xml"),
    )
    return parse_sitemap_df(d)


def q_extract_feed(spark, sf_dir):
    """Feed parsing over formula-constructed Atom (even ids) and RSS
    2.0 (odd ids) documents: Atom entries exercise rel='alternate'
    link selection over rel='self', the rel-less default, the
    published→updated fallback, and author/name; RSS items exercise
    pubDate and author. Reference parity: the Atom walk is pinned
    against Tests/Resources/atom.xml in TestDiscovery."""
    from fuzi_spark.ops.discovery import parse_feed_df

    i = F.col("doc_id")
    s = i.cast("string")
    atom = F.concat(
        F.lit('<feed xmlns="http://www.w3.org/2005/Atom"><title>Feed '), s,
        F.lit("</title><entry><title>Post "), s,
        F.lit('a</title><link rel="self" href="https://f'), s,
        F.lit('/self"/><link rel="alternate" href="https://f'), s,
        F.lit('/1"/><updated>2024-03-01</updated>'
              "<author><name>A"), s,
        F.lit("</name></author></entry><entry><title>Post "), s,
        F.lit('b</title><link href="https://f'), s,
        F.lit('/2"/><published>2024-03-02</published></entry></feed>'),
    )
    rss = F.concat(
        F.lit('<rss version="2.0"><channel><title>Chan '), s,
        F.lit("</title><item><title>Item "), s,
        F.lit("</title><link>https://r"), s,
        F.lit("/1</link><pubDate>Tue, 02 Apr 2024</pubDate><author>a"), s,
        F.lit("@e.com</author></item></channel></rss>"),
    )
    d = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("feed_id"),
        F.when(i % 2 == 0, atom).otherwise(rss).alias("xml"),
    )
    return parse_feed_df(d)


def q_to_markdown(spark, sf_dir):
    """Structure-preserving markdown rendering over a formula-built
    full-feature document (heading, paragraph, list, link, inline
    code, blockquote, code fence, pipe table, emphasis, hr, image).
    The oracle predicts the EXACT markdown string from the same
    formulas — every rendering rule (marker placement, fence/table
    layout, block joining) must hold byte-for-byte."""
    from fuzi_spark.ops.markdown import to_markdown_df

    s = F.col("doc_id").cast("string")
    markup = F.concat(
        F.lit("<html><head><title>Doc "), s,
        F.lit("</title></head><body><h2>Section "), s,
        F.lit("</h2><p>Intro paragraph for document "), s,
        F.lit(" with plain text.</p><ul><li>alpha "), s,
        F.lit("</li><li>beta "), s,
        F.lit('</li></ul><p>See <a href="https://ex.com/'), s,
        F.lit('">link '), s, F.lit("</a> and <code>v"), s,
        F.lit("</code>.</p><blockquote><p>Quoted "), s,
        F.lit("</p></blockquote><pre><code>code line "), s,
        F.lit("\nsecond line</code></pre>"
              "<table><tr><th>K</th><th>V</th></tr>"
              "<tr><td>id</td><td>"), s,
        F.lit("</td></tr></table><p>Tail <strong>bold "), s,
        F.lit('</strong> and <em>it</em>.</p><hr><p><img src="img/'), s,
        F.lit('.png" alt="pic '), s,
        F.lit('"></p></body></html>'),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return to_markdown_df(d)


def q_extract_tables(spark, sf_dir):
    """Table explode over formula-built markup: every doc carries a
    thead+tbody table (header K/V, two data rows), docs %3==0 a
    second table whose all-<th> first row must classify as header
    without a thead. Cells join with '|' for the value compare."""
    from fuzi_spark.ops.tables import extract_tables_df

    i = F.col("doc_id")
    s = i.cast("string")
    s2 = (i + 1).cast("string")
    t1 = F.concat(
        F.lit("<table><thead><tr><th>K</th><th>V</th></tr></thead>"
              "<tbody><tr><td>id</td><td>"), s,
        F.lit("</td></tr><tr><td>next</td><td>"), s2,
        F.lit("</td></tr></tbody></table>"),
    )
    t2 = F.concat(
        F.lit("<table><tr><th>X "), s,
        F.lit("</th></tr><tr><td>y</td></tr></table>"),
    )
    markup = F.concat(
        F.lit("<body>"), t1,
        F.when(i % 3 == 0, t2).otherwise(F.lit("")),
        F.lit("</body>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return extract_tables_df(d).select(
        "doc_id", "table_idx", "row_idx", "is_header",
        F.array_join("cells", "|").alias("cells_joined"), "n_cells",
    )


def q_anchor_text(spark, sf_dir):
    """Inbound anchor-text index over a formula-built link graph:
    every doc links 'Target k' (k=doc_id%20), even docs add a 'Hub'
    anchor to the same target, and every doc cross-links the next
    residue — so each target URL aggregates links from two residue
    classes and the most frequent anchor must win. The oracle replays
    the same link formulas relationally (UNION ALL + window rank)."""
    from fuzi_spark.ops.web import anchor_text_index

    i = F.col("doc_id")
    k = (i % 20).cast("string")
    k1 = ((i + 1) % 20).cast("string")
    link = lambda tgt, txt: F.concat(  # noqa: E731
        F.lit('<a href="https://t'), tgt, F.lit('.example.com/p">'),
        txt, F.lit("</a>"),
    )
    markup = F.concat(
        F.lit("<body>"),
        link(k, F.concat(F.lit("Target "), k)),
        F.when(i % 2 == 0, link(k, F.lit("Hub"))).otherwise(F.lit("")),
        link(k1, F.concat(F.lit("Target "), k1)),
        F.lit("</body>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return anchor_text_index(d)


def q_json_ld(spark, sf_dir):
    """JSON-LD explode over formula-built markup: every doc carries an
    Article script (headline→name fallback, author-object→name,
    formula datePublished), docs %7==0 insert a MALFORMED script
    between the Article and any @graph script (it must consume a
    script_idx but emit no rows — pinning the index semantics), and
    docs %4==0 append an @graph script whose two items exercise
    @type-list-first and NULL fallbacks."""
    from fuzi_spark.ops.jsonld import extract_json_ld_df

    i = F.col("doc_id")
    s = i.cast("string")
    d9 = (i % 9 + 1).cast("string")
    article = F.concat(
        F.lit('<script type="application/ld+json">'
              '{"@type":"Article","headline":"Title '), s,
        F.lit('","datePublished":"2024-05-0'), d9,
        F.lit('","author":{"@type":"Person","name":"A'), s,
        F.lit('"},"url":"https://e.com/'), s,
        F.lit('"}</script>'),
    )
    bad = F.lit('<script type="application/ld+json">{bad json</script>')
    graph = F.concat(
        F.lit('<script type="application/ld+json">{"@graph":['
              '{"@type":["NewsArticle","Article"],"name":"G'), s,
        F.lit('"},{"@type":"WebPage","url":"https://e.com/w/'), s,
        F.lit('"}]}</script>'),
    )
    markup = F.concat(
        F.lit("<html><head>"),
        article,
        F.when(i % 7 == 0, bad).otherwise(F.lit("")),
        F.when(i % 4 == 0, graph).otherwise(F.lit("")),
        F.lit("</head><body><p>x</p></body></html>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return extract_json_ld_df(d)


def q_readability(spark, sf_dir):
    """Flesch reading-ease over the REAL documents.text corpus (no
    construction): the oracle recomputes the identical regex counts
    and the identical IEEE arithmetic in DuckDB — Java regex and RE2
    agree on the three character-class patterns by design."""
    from fuzi_spark.ops.textstats import readability_metrics

    return readability_metrics(_docs(spark, sf_dir).select("doc_id", "text"))


def q_hreflang(spark, sf_dir):
    """hreflang alternate-link explode over formula-built <head>
    markup: 'en' always, 'de' on even ids, an 'x-default' declared
    with mixed-case rel='Alternate' on ids %3==0 (pinning the
    case-insensitive rel match), plus a stylesheet link and a
    hreflang-less alternate that must both be dropped. seq is the
    0-based document-order index among SURFACED rows."""
    from fuzi_spark.ops.web import hreflang_links

    i = F.col("doc_id")
    s = i.cast("string")
    en = F.concat(
        F.lit('<link rel="alternate" hreflang="en" href="https://e.com/'),
        s, F.lit('/en">'),
    )
    de = F.concat(
        F.lit('<link rel="alternate" hreflang="de" href="https://e.com/'),
        s, F.lit('/de">'),
    )
    xd = F.concat(
        F.lit('<link rel="Alternate" hreflang="x-default" '
              'href="https://e.com/'),
        s, F.lit('/x">'),
    )
    markup = F.concat(
        F.lit('<html><head><link rel="stylesheet" href="/s.css">'),
        en,
        F.when(i % 2 == 0, de).otherwise(F.lit("")),
        F.lit('<link rel="alternate" href="/no-hreflang">'),
        F.when(i % 3 == 0, xd).otherwise(F.lit("")),
        F.lit("</head><body><p>x</p></body></html>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return hreflang_links(d)


def q_image_captions(spark, sf_dir):
    """Image-caption pairing over formula-built markup exercising the
    full precedence ladder: a figure whose figcaption must beat its
    alt; an img whose alt exists only on even ids (odd ids fall
    through to title); a bare src-only img on ids %3==0 (caption NULL,
    source 'none'); and a src-LESS img with alt on ids %5==0 (the row
    must survive with media_ref NULL). img_idx is the document-order
    index over ALL imgs, so later indices shift with the %3 img."""
    from fuzi_spark.ops.captions import extract_captions_df

    i = F.col("doc_id")
    s = i.cast("string")
    fig = F.concat(
        F.lit('<figure><img src="https://e.com/'), s,
        F.lit('/a.jpg" alt="alt-a-'), s,
        F.lit('"><figcaption>Fig '), s,
        F.lit("</figcaption></figure>"),
    )
    img_b = F.concat(
        F.lit('<img src="https://e.com/'), s, F.lit('/b.jpg"'),
        F.when(
            i % 2 == 0, F.concat(F.lit(' alt="alt-b-'), s, F.lit('"'))
        ).otherwise(F.lit("")),
        F.lit(' title="t-'), s, F.lit('">'),
    )
    img_c = F.concat(
        F.lit('<img src="https://e.com/'), s, F.lit('/c.jpg">'),
    )
    img_d = F.concat(F.lit('<img alt="d-'), s, F.lit('">'))
    markup = F.concat(
        F.lit("<body>"), fig, img_b,
        F.when(i % 3 == 0, img_c).otherwise(F.lit("")),
        F.when(i % 5 == 0, img_d).otherwise(F.lit("")),
        F.lit("<p>x</p></body>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return extract_captions_df(d)


def q_doc_outline(spark, sf_dir):
    """Heading-outline explode over formula-built markup pinning the
    stack semantics: h1 then (ids %3==0) a level-SKIPPING h4 that must
    inherit the h1 alone, an h2 that pops it, (even ids) an h3 under
    that h2, and a sibling h2 that must pop the h3+h2 subtree back to
    the h1. seq is the document-order heading index."""
    from fuzi_spark.ops.captions import extract_outline_df

    i = F.col("doc_id")
    s = i.cast("string")

    def h(level, name):
        return F.concat(
            F.lit(f"<h{level}>{name}"), s, F.lit(f"</h{level}>")
        )

    markup = F.concat(
        F.lit("<body>"), h(1, "T"),
        F.when(i % 3 == 0, h(4, "D")).otherwise(F.lit("")),
        h(2, "A"),
        F.when(i % 2 == 0, h(3, "B")).otherwise(F.lit("")),
        h(2, "C"),
        F.lit("<p>x</p></body>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return extract_outline_df(d)


_MOJI_CLEAN = "café déjà vu — naïve"
_MOJI_TEXT = _MOJI_CLEAN.encode("utf-8").decode("cp1252")


def q_fix_mojibake(spark, sf_dir):
    """Mojibake repair over a three-class constructed corpus: ids %3==0
    carry real cp1252 double-encoding (must repair to the clean
    literal), %3==1 carry clean text with a non-Latin-1 char (must pass
    untouched), %3==2 carry a marker-bearing FRENCH phrase whose bytes
    are not valid UTF-8 (the false-positive trap — must pass
    untouched). Both sides embed the same literals, computed once from
    clean.encode('utf-8').decode('cp1252')."""
    from fuzi_spark.ops.textstats import fix_mojibake

    i = F.col("doc_id")
    s = i.cast("string")
    text = (
        F.when(i % 3 == 0, F.concat(F.lit(_MOJI_TEXT + " "), s))
        .when(i % 3 == 1, F.concat(F.lit("plain "), s, F.lit(" ☃ text.")))
        .otherwise(F.concat(F.lit("price Ã 10 euros "), s))
    )
    d = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return fix_mojibake(d).select(
        "doc_id", "fixed_text", "was_mojibake"
    )


def q_detect_code(spark, sf_dir):
    """Code detection over the REAL documents.text corpus (no
    construction): the oracle recomputes the identical (?m) line
    regexes, keyword alternation, and IEEE score arithmetic in DuckDB —
    all patterns in the Java∩RE2 subset."""
    from fuzi_spark.ops.textstats import detect_code

    return detect_code(_docs(spark, sf_dir).select("doc_id", "text"))


def q_code_quality(spark, sf_dir):
    """The Stack-style code-file quality gate with all five planted
    rejection classes: doc_id%5 builds clean code (keep), a 1200-char
    minified line (long_line), a digit-dominated data blob (data_file),
    an auto-generated header (autogen), and symbol soup (low_alnum).
    The oracle replays the identical construction AND the identical
    closed-form metrics (array_max line length, newline-arithmetic avg,
    regexp_replace-length fractions) in DuckDB."""
    from fuzi_spark.ops.textstats import code_quality

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    base = F.concat(
        F.lit("def f_"),
        i.cast("string"),
        F.lit("(x):\n    return x + "),
        (i % 7).cast("string"),
        F.lit("\n# comment\n"),
    )
    text = (
        F.when(i % 5 == 1, F.concat(base, F.repeat(F.lit("a"), 1200)))
        .when(i % 5 == 2, F.concat(base, F.repeat(F.lit("0123456789"), 30)))
        .when(
            i % 5 == 3,
            F.concat(F.lit("# auto-generated; do not edit\n"), base),
        )
        .when(i % 5 == 4, F.concat(base, F.repeat(F.lit("!@#$%^&*() "), 20)))
        .otherwise(base)
    )
    return code_quality(d.select("doc_id", text.alias("text")))


def q_image_pixels(spark, sf_dir):
    """REAL pixel decode for ALL THREE stdlib codecs, oracle-checked
    end to end: per doc a solid-color image is ENCODED from formula
    pixels — ids ≡0 (mod 3) as RGB PNG (build_png, zlib scanlines),
    ≡1 as palette GIF (build_gif, real LZW stream), ≡2 as grayscale
    baseline JPEG at quality 100 (ops/jpeg.py: huffman entropy coding
    + DCT; all-ones quant tables make a solid gray bit-exact) — decoded
    back by the pure-stdlib decoders and pooled to the 64-dim luma
    features, so first/last/mean feature must all equal the formula
    luma computed by the SQL oracle in the same IEEE double-then-REAL
    arithmetic. Proves all three pixel paths are real: a header-only
    or digest-fake implementation cannot predict these values."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.jpeg import encode_baseline
    from fuzi_spark.ops.multimodal import (
        build_gif,
        build_png,
        decode_features_df,
    )

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w, h = 8 + i % 9, 8 + i % 5
            r, g, b = i % 256, (2 * i) % 256, (3 * i) % 256
            if i % 3 == 0:
                px = np.empty((h, w, 3), dtype=np.uint8)
                px[:, :, 0], px[:, :, 1], px[:, :, 2] = r, g, b
                out.append(build_png(w, h, pixels=px))
            elif i % 3 == 1:
                out.append(
                    build_gif(
                        w, h,
                        pixels=np.zeros((h, w), dtype=np.uint8),
                        palette=bytes([r, g, b]),
                    )
                )
            else:
                px = np.full((h, w), i % 256, dtype=np.uint8)
                out.append(encode_baseline(px, quality=100))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("img/"), F.col("doc_id").cast("string"), F.lit(".png")
        ).alias("media_ref"),
        F.lit("image").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    dec = decode_features_df(media)
    feats = F.col("features")
    mean_f = F.aggregate(
        feats, F.lit(0.0), lambda a, x: a + x.cast("double")
    ) / F.size(feats)
    return dec.select(
        F.regexp_extract("media_ref", r"img/(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        "format",
        "width", "height", "channels", "decode_ok",
        F.round(F.element_at(feats, 1).cast("double"), 4).alias("f_first"),
        F.round(F.element_at(feats, 64).cast("double"), 4).alias("f_last"),
        F.round(mean_f, 4).alias("mean_f"),
    )


def q_audio_flac(spark, sf_dir):
    """REAL FLAC decode (ops/flac.py, r4), oracle-checked end to end
    through the SAME production path as audio_features: per doc a
    constant-amplitude PCM signal is FLAC-encoded from formula
    parameters (constant subframes for even ids; fixed-predictor
    rice-coded subframes for odd ids — two decoder paths under the
    oracle) and decoded back — every window-RMS feature must equal
    float32(amplitude/32768), which the SQL oracle computes
    independently. A WAV-only or digest-fake audio path cannot
    produce format='flac' rows with these values."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.flac import encode_flac
    from fuzi_spark.ops.multimodal import decode_features_df

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            amp = 100 + (i * 37) % 30000
            n = 640 + i % 97
            ch = 1 + i % 2
            pcm = np.full((n, ch), amp, dtype=np.int64)
            out.append(
                encode_flac(
                    pcm,
                    rate=8000 * (1 + i % 3),
                    mode="constant" if i % 2 == 0 else "fixed",
                )
            )
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("au/"), F.col("doc_id").cast("string"), F.lit(".flac")
        ).alias("media_ref"),
        F.lit("audio").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    dec = decode_features_df(media)
    feats = F.col("features")
    mean_f = F.aggregate(
        feats, F.lit(0.0), lambda a, x: a + x.cast("double")
    ) / F.size(feats)
    return dec.select(
        F.regexp_extract("media_ref", r"au/(\d+)\.flac", 1)
        .cast("long")
        .alias("doc_id"),
        "format", "channels", "decode_ok",
        F.round(F.element_at(feats, 1).cast("double"), 4).alias("f_first"),
        F.round(F.element_at(feats, 64).cast("double"), 4).alias("f_last"),
        F.round(mean_f, 4).alias("mean_f"),
    )


def q_image_pixels_deep(spark, sf_dir):
    """The round-4 codec envelope, oracle-checked end to end: per doc
    a solid-color image exercising the DEEP format paths — ids ≡0
    (mod 3) as Adam7-INTERLACED 16-bit grayscale PNG (samples v*257;
    high-byte reduction must recover v exactly), ≡1 as
    Adam7-interlaced 4-bit PALETTE PNG (index 0 → formula RGB), ≡2 as
    PROGRESSIVE (SOF2) grayscale JPEG at quality 100 (all-ones quant
    + full successive-approximation transmission ⇒ bit-exact DC-only
    reconstruction). Decoded back through the production feature path
    (decode_features_df), so features must equal the formula luma —
    a baseline-only JPEG decoder, an 8-bit-only or
    sequential-only PNG decoder, or any digest fake cannot pass."""
    import struct
    import zlib

    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.jpeg import encode_progressive
    from fuzi_spark.ops.multimodal import _ADAM7, decode_features_df

    def chunk(typ, data):
        return (
            struct.pack(">I", len(data)) + typ + data
            + struct.pack(">I", zlib.crc32(typ + data) & 0xFFFFFFFF)
        )

    def png_deep(w, h, depth, ctype, sample, palette=None):
        """Adam7-interlaced solid-valued PNG, filter-0 rows."""
        nch = 1
        def pack_row(pw):
            if depth == 16:
                return b"\x00" + struct.pack(">H", sample) * pw
            per = 8 // depth
            nb = (pw + per - 1) // per
            acc = 0
            for _ in range(per):
                acc = (acc << depth) | sample
            return b"\x00" + bytes([acc]) * nb
        raw = bytearray()
        for (x0, y0, xs, ys) in _ADAM7:
            pw = (w - x0 + xs - 1) // xs
            ph = (h - y0 + ys - 1) // ys
            if pw > 0 and ph > 0:
                raw += pack_row(pw) * ph
        ihdr = struct.pack(">IIBBBBB", w, h, depth, ctype, 0, 0, 1)
        png = b"\x89PNG\r\n\x1a\n" + chunk(b"IHDR", ihdr)
        if palette is not None:
            png += chunk(b"PLTE", palette)
        return png + chunk(b"IDAT", zlib.compress(bytes(raw))) + chunk(
            b"IEND", b""
        )

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w, h = 8 + i % 9, 8 + i % 5
            v = i % 256
            if i % 3 == 0:
                out.append(png_deep(w, h, 16, 0, v * 257))
            elif i % 3 == 1:
                pal = bytes([v, (2 * i) % 256, (3 * i) % 256]) + b"\x00" * 45
                out.append(png_deep(w, h, 4, 3, 0, palette=pal))
            else:
                px = np.full((h, w), v, dtype=np.uint8)
                out.append(
                    encode_progressive(
                        px, quality=100, al=1, band_splits=(5,)
                    )
                )
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("deep/"), F.col("doc_id").cast("string"), F.lit(".png")
        ).alias("media_ref"),
        F.lit("image").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    dec = decode_features_df(media)
    feats = F.col("features")
    mean_f = F.aggregate(
        feats, F.lit(0.0), lambda a, x: a + x.cast("double")
    ) / F.size(feats)
    return dec.select(
        F.regexp_extract("media_ref", r"deep/(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        "format",
        "width", "height", "channels", "decode_ok",
        F.round(F.element_at(feats, 1).cast("double"), 4).alias("f_first"),
        F.round(F.element_at(feats, 64).cast("double"), 4).alias("f_last"),
        F.round(mean_f, 4).alias("mean_f"),
    )


def q_image_pixels_12bit(spark, sf_dir):
    """12-bit extended-sequential JPEG (r5), oracle-checked through
    the production feature path: per doc a solid 12-bit grayscale
    SOF1 JPEG at v = 819*(doc_id%6) — chosen so the decoder's
    255/4095 output scale lands EXACTLY on 51*(doc_id%6) (819/4095 =
    1/5; DC-only reconstruction error <= 1 twelve-bit unit << the
    rounding margin) — so every 8x8 block-mean luma feature is the
    exact integer the SQL oracle computes. An 8-bit-only decoder
    returns None here (decode_ok=0) and cannot pass."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.jpeg import encode_baseline12
    from fuzi_spark.ops.multimodal import decode_features_df

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            w, h = 8 + i % 9, 8 + i % 5
            v = 819 * (i % 6)
            out.append(encode_baseline12(
                np.full((h, w), v, dtype=np.uint16), quality=100))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("j12/"), F.col("doc_id").cast("string"),
            F.lit(".jpg")
        ).alias("media_ref"),
        F.lit("image").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    dec = decode_features_df(media)
    feats = F.col("features")
    mean_f = F.aggregate(
        feats, F.lit(0.0), lambda a, x: a + x.cast("double")
    ) / F.size(feats)
    return dec.select(
        F.regexp_extract("media_ref", r"j12/(\d+)\.jpg", 1)
        .cast("long")
        .alias("doc_id"),
        "format", "width", "height", "channels", "decode_ok",
        F.round(F.element_at(feats, 1).cast("double"), 4)
        .alias("f_first"),
        F.round(F.element_at(feats, 64).cast("double"), 4)
        .alias("f_last"),
        F.round(mean_f, 4).alias("mean_f"),
    )


def q_audio_features(spark, sf_dir):
    """REAL WAV PCM decode, oracle-checked end to end: per doc a
    constant-amplitude PCM WAV is built from formula parameters
    (amplitude, channel count) and decoded back — every window-RMS
    feature must equal float32(amplitude/32768), which the SQL oracle
    computes independently. A digest-fake audio path cannot predict
    these values."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.multimodal import build_wav, decode_features_df

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            out.append(
                build_wav(
                    rate=8000 * (1 + i % 3),
                    n_frames=640 + i % 97,
                    channels=1 + i % 2,
                    bits=16,
                    amplitude=100 + (i * 37) % 30000,
                )
            )
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("au/"), F.col("doc_id").cast("string"), F.lit(".wav")
        ).alias("media_ref"),
        F.lit("audio").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    dec = decode_features_df(media)
    feats = F.col("features")
    mean_f = F.aggregate(
        feats, F.lit(0.0), lambda a, x: a + x.cast("double")
    ) / F.size(feats)
    return dec.select(
        F.regexp_extract("media_ref", r"au/(\d+)\.wav", 1)
        .cast("long")
        .alias("doc_id"),
        "format", "channels", "decode_ok",
        F.round(F.element_at(feats, 1).cast("double"), 4).alias("f_first"),
        F.round(F.element_at(feats, 64).cast("double"), 4).alias("f_last"),
        F.round(mean_f, 4).alias("mean_f"),
    )


def q_video_frames(spark, sf_dir):
    """REAL AVI/MJPEG container decode, oracle-checked end to end: per
    doc an AVI is built wrapping 3 + id%4 JPEG frames whose dimensions
    follow a formula, at fps 10 + id%5 — the frame explode must recover
    every frame's index, container-derived timestamp (i·uspf//1000),
    and the REAL JPEG-header dimensions parsed from the frame bytes at
    the recorded offsets. A digest-fake video path cannot predict
    these."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.multimodal import (
        avi_frames_df,
        build_avi,
        build_jpeg,
    )

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            frames = [
                build_jpeg(
                    16 + (i + k) % 8, 9 + k, ("f%d" % k).encode()
                )
                for k in range(3 + i % 4)
            ]
            out.append(build_avi(64, 48, 10 + i % 5, frames))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("vid/"), F.col("doc_id").cast("string"), F.lit(".avi")
        ).alias("media_ref"),
        F.lit("video").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    return avi_frames_df(media).select(
        F.regexp_extract("media_ref", r"vid/(\d+)\.avi", 1)
        .cast("long")
        .alias("doc_id"),
        "frame_idx", "ts_ms", "frame_w", "frame_h",
    )


def q_image_exif(spark, sf_dir):
    """REAL EXIF decode end to end: per doc an APP1 TIFF IFD is built
    from formula parameters — byte order alternates II/MM (both
    endiannesses exercised every run), make 'Cam<id%5>' (offset-
    addressed ASCII), model 'M-<id%4>' (inline ASCII), orientation
    1 + id%8, a formula DateTime, GPS IFD present on id%3==0 — and
    every 7th doc ships NO EXIF at all. The SQL oracle predicts every
    field including the geotag-PII flag from the formulas."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.multimodal import (
        build_exif_jpeg,
        build_jpeg,
        exif_df,
    )

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        base = build_jpeg(8, 8)
        out = []
        for i in ids:
            i = int(i)
            if i % 7 == 0:
                out.append(base)
                continue
            out.append(
                build_exif_jpeg(
                    base,
                    byte_order="II" if i % 2 == 0 else "MM",
                    make=f"Cam{i % 5}",
                    model=f"M-{i % 4}",
                    orientation=1 + i % 8,
                    datetime=f"2024:0{1 + i % 9}:01 00:00:00",
                    gps=i % 3 == 0,
                )
            )
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("img/"), F.col("doc_id").cast("string"), F.lit(".jpg")
        ).alias("media_ref"),
        F.lit("image").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    return exif_df(media).select(
        F.regexp_extract("media_ref", r"img/(\d+)\.jpg", 1)
        .cast("long")
        .alias("doc_id"),
        "byte_order", "orientation", "make", "model", "datetime",
        "has_gps", "exif_ok",
    )


def q_exif_strip(spark, sf_dir):
    """EXIF scrubbing (image PII) end to end: the SAME formula fixtures
    as image_exif (APP1 TIFF IFD built per doc; every 7th doc has no
    EXIF), stripped by the real segment walk. The oracle predicts the
    audit columns from the construction arithmetic — orig_len = 41-byte
    base + 97 (no GPS) or 115 (GPS IFD) APP1 bytes, new_len = the bare
    base — and still_exif re-parses the SCRUBBED bytes in Spark (must
    be 0 everywhere; a no-op scrubber fails on every i%7!=0 row)."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.multimodal import (
        build_exif_jpeg,
        build_jpeg,
        exif_strip_df,
        parse_exif,
    )

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        base = build_jpeg(8, 8)
        out = []
        for i in ids:
            i = int(i)
            if i % 7 == 0:
                out.append(base)
                continue
            out.append(
                build_exif_jpeg(
                    base,
                    byte_order="II" if i % 2 == 0 else "MM",
                    make=f"Cam{i % 5}",
                    model=f"M-{i % 4}",
                    orientation=1 + i % 8,
                    datetime=f"2024:0{1 + i % 9}:01 00:00:00",
                    gps=i % 3 == 0,
                )
            )
        return pd.Series(out)

    @pandas_udf("int")
    def reparse(content: pd.Series) -> pd.Series:
        return pd.Series(
            [int(parse_exif(c) is not None) for c in content]
        )

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("img/"), F.col("doc_id").cast("string"), F.lit(".jpg")
        ).alias("media_ref"),
        F.lit("image").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    return exif_strip_df(media).select(
        F.regexp_extract("media_ref", r"img/(\d+)\.jpg", 1)
        .cast("long")
        .alias("doc_id"),
        "orig_len", "new_len", "had_exif", "strip_ok",
        reparse(F.col("content")).alias("still_exif"),
    )


def q_robots_sitemaps(spark, sf_dir):
    """Sitemap discovery from robots.txt: per doc a robots blob with
    doc_id % 3 Sitemap directives (mixed field-name casing by j % 2)
    plus a commented-out decoy and a rules group. Host lowering, the
    global (group-independent) extraction, and in-file order are all
    replayed from the formulas by the oracle; zero-directive docs
    contribute no rows."""
    from fuzi_spark.ops.web import robots_sitemaps

    i = F.col("doc_id")
    s = i.cast("string")
    lines = [
        F.lit("User-agent: *\nDisallow: /private\n"),
        F.lit("# Sitemap: https://decoy.com/no.xml\n"),
    ]
    directive_lines = F.transform(
        F.sequence(F.lit(0), (i % 3).cast("int") - 1),
        lambda j: F.concat(
            F.when(j % 2 == 0, F.lit("Sitemap: ")).otherwise(
                F.lit("sitemap: ")
            ),
            F.lit("https://d"), s, F.lit(".com/sm-"),
            j.cast("string"), F.lit(".xml\n"),
        ),
    )
    sm = F.concat_ws(
        "",
        *lines,
        # sequence(0, -1) DESCENDS in Spark — guard the zero case
        F.when(i % 3 > 0, directive_lines).otherwise(
            F.array().cast("array<string>")
        ),
    )
    robots = _docs(spark, sf_dir).select(
        F.concat(F.lit("D"), s, F.lit(".com")).alias("domain"),
        sm.alias("robots_txt"),
    )
    return robots_sitemaps(robots)


def q_hidden_text(spark, sf_dir):
    """Hidden-text (SEO cloaking) stats over formula-built pages: a
    visible paragraph of 10+i%7 'v' chars plus an always-visible
    opacity:0.5 decoy ('dd'), a display:none div of 5+i%4 'h' chars on
    ids %3==0, and on ids %5==0 a `hidden`-boolean span ('xxx') with a
    NESTED visibility:hidden bold ('yy') — the nested element adds
    text but must NOT add a second block (subtree-once semantics). A
    <script> body must count as neither. The oracle replays all four
    counters and the 0.4 cloak threshold relationally."""
    from fuzi_spark.ops.web import hidden_text

    i = F.col("doc_id")
    vis_p = F.concat(
        F.lit("<p>"), F.repeat(F.lit("v"), (10 + i % 7).cast("int")),
        F.lit("</p>"),
    )
    hid_div = F.concat(
        F.lit('<div style="display:none">'),
        F.repeat(F.lit("h"), (5 + i % 4).cast("int")),
        F.lit("</div>"),
    )
    hid_span = F.lit(
        '<span hidden>xxx<b style="visibility:hidden">yy</b></span>'
    )
    markup = F.concat(
        F.lit("<html><head><title>TT</title></head><body>"),
        vis_p,
        F.lit('<p style="opacity:0.5">dd</p>'),
        F.when(i % 3 == 0, hid_div).otherwise(F.lit("")),
        F.when(i % 5 == 0, hid_span).otherwise(F.lit("")),
        F.lit("<script>junk()</script></body></html>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return d.select("doc_id", hidden_text("markup").alias("h")).select(
        "doc_id", "h.visible_len", "h.hidden_len", "h.n_hidden_blocks",
        "h.hidden_frac", "h.cloaked",
    )


def q_publish_date(spark, sf_dir):
    """Publish-date precedence over four formula classes: ids %4==0
    carry a valid article:published_time META (and a decoy URL date
    that must LOSE), %4==1 a datetime-less <time> decoy followed by a
    valid <time datetime>, %4==2 only a /YYYY/M/D/ URL path (pinning
    the JVM lpad zero-padding), %4==3 an INVALID meta date, an
    impossible time datetime (month 99) and a date-less URL — all
    three must be rejected, yielding NULL. The oracle replays the
    winning source and the normalized YYYY-MM-DD relationally."""
    from fuzi_spark.ops.web import publish_date

    i = F.col("doc_id")
    s = i.cast("string")
    meta_ok = F.concat(
        F.lit('<meta property="article:published_time" content="2023-0'),
        (1 + i % 9).cast("string"), F.lit('-11T08:30:00Z">'),
    )
    time_ok = F.concat(
        F.lit("<time>plain</time><article><time datetime=\"2022-1"),
        (i % 2).cast("string"),
        F.lit('-05T00:00:00">d</time></article>'),
    )
    markup = (
        F.when(i % 4 == 0, F.concat(
            F.lit("<html><head>"), meta_ok,
            F.lit("</head><body><p>x</p></body></html>"),
        ))
        .when(i % 4 == 1, F.concat(
            F.lit('<html><head><meta property="og:title" content="T">'
                  "</head><body>"), time_ok, F.lit("</body></html>"),
        ))
        .when(i % 4 == 2, F.lit("<html><body><p>x</p></body></html>"))
        .otherwise(F.lit(
            '<html><head><meta property="article:published_time" '
            'content="not-a-date"></head><body>'
            '<time datetime="2023-99-99">bad</time></body></html>'
        ))
    )
    url = (
        F.when(i % 4 == 0, F.concat(
            F.lit("https://h.com/2019/1/2/a-"), s,
        ))
        .when(i % 4 == 2, F.concat(
            F.lit("https://h.com/"), (2020 + i % 3).cast("string"),
            F.lit("/"), (1 + i % 12).cast("string"),
            F.lit("/"), (1 + i % 28).cast("string"), F.lit("/post"),
        ))
        .otherwise(F.concat(F.lit("https://h.com/about-"), s))
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", markup.alias("markup"), url.alias("url")
    )
    return publish_date(d)


def q_paywall(spark, sf_dir):
    """Paywall/login-wall signals over five formula classes: %5==0
    clean article (all zero), %5==1 a class="paywall-overlay" div
    whose text is a wall phrase (marker AND phrase), %5==2 head
    JSON-LD isAccessibleForFree:false (schema — pins that <head> is
    descended), %5==3 a password login form (login gate but NOT
    paywalled), %5==4 decoys that must all stay zero: a
    subscribe-button class, isAccessibleForFree:true, and 'subscribe
    to our newsletter' prose. The oracle replays every flag from the
    class arithmetic."""
    from fuzi_spark.ops.web import paywall_signals

    i = F.col("doc_id")
    markup = (
        F.when(i % 5 == 0, F.lit(
            "<html><body><article><p>Plain article text.</p>"
            "</article></body></html>"
        ))
        .when(i % 5 == 1, F.lit(
            '<html><body><p>Teaser.</p><div class="paywall-overlay">'
            "Subscribe to continue reading.</div></body></html>"
        ))
        .when(i % 5 == 2, F.lit(
            '<html><head><script type="application/ld+json">'
            '{"@type":"NewsArticle","isAccessibleForFree": false}'
            "</script></head><body><p>Teaser only.</p></body></html>"
        ))
        .when(i % 5 == 3, F.lit(
            '<html><body><form action="/login">'
            '<input type="text" name="u">'
            '<input type="Password" name="p"></form></body></html>'
        ))
        .otherwise(F.lit(
            '<html><head><script type="application/ld+json">'
            '{"isAccessibleForFree": true}</script></head>'
            '<body><button class="subscribe-button">Go</button>'
            "<p>Subscribe to our newsletter.</p></body></html>"
        ))
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return d.select(
        "doc_id", paywall_signals("markup").alias("p")
    ).select(
        "doc_id", "p.has_password_input", "p.has_paywall_schema",
        "p.n_wall_markers", "p.has_wall_phrase", "p.paywalled",
    )


def q_script_mix(spark, sf_dir):
    """Homoglyph-spoof signals over four constructed script classes:
    %4==0 pure Latin 'ab'×(3+i%5), %4==1 pure Cyrillic 'дом '×(2+i%3),
    %4==2 the spoof class — 'xа ' (Latin x + CYRILLIC а) ×(1+i%4),
    each token one adjacent confusable pair, %4==3 Greek 'αβ '×(1+i%2).
    The Spark side counts with JVM regexp_count over the real unicode
    ranges; the oracle replays every count from the construction
    arithmetic — including the latin-priority tie in the spoof class's
    dominant_script."""
    from fuzi_spark.ops.textstats import script_mix

    i = F.col("doc_id")
    k0 = (3 + i % 5).cast("int")
    k1 = (2 + i % 3).cast("int")
    k2 = (1 + i % 4).cast("int")
    k3 = (1 + i % 2).cast("int")
    text = (
        F.when(i % 4 == 0, F.repeat(F.lit("ab"), k0))
        .when(i % 4 == 1, F.repeat(F.lit("дом "), k1))
        .when(i % 4 == 2, F.repeat(F.lit("xа "), k2))
        .otherwise(F.repeat(F.lit("αβ "), k3))
    )
    d = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return script_mix(d).select(
        "doc_id", "n_latin", "n_cyrillic", "n_greek",
        "n_confusable_pairs", "dominant_script", "script_spoof",
    )


def q_compress_ratio(spark, sf_dir):
    """Compression-ratio gate over three constructed entropy classes:
    %3==0 ~235 chars of varied prose (measured zlib ratio 0.716-0.737
    across 3000 ids — keep), %3==1 'spam '×(80+i%5) (ratio ≤0.045 —
    too_repetitive), %3==2 the doc_id's sha2-256 hex (ratio
    0.859-0.953 — too_random). Thresholds 0.25/0.80 sit ≥0.06 from
    every measured class boundary, so the DECISION is construction-
    stable; the oracle replays reason and keep from the class
    arithmetic (the raw ratio is pinned in pytest, not hashed here)."""
    from fuzi_spark.ops.textstats import compression_signals

    i = F.col("doc_id")
    s = i.cast("string")
    prose = F.concat(
        F.lit(
            "The committee released its findings on Tuesday after "
            "months of deliberation. Researchers noted that river "
            "levels had fallen sharply since spring. Local farmers "
            "described the harvest as unusually early this year. doc-"
        ),
        s, F.lit(" review pending."),
    )
    text = (
        F.when(i % 3 == 0, prose)
        .when(i % 3 == 1, F.repeat(F.lit("spam "), (80 + i % 5).cast("int")))
        .otherwise(F.sha2(s, 256))
    )
    d = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return compression_signals(d).select("doc_id", "reject_reason", "keep")


def q_url_signals(spark, sf_dir):
    """URL-shape signals over five formula classes: a plain 3-deep
    article path, a /search?q= page with a utm_ tracker, a
    /tag/.../page/N/ index (path pagination), an article with
    ?page=N&ref= (param pagination; 'ref' must NOT count as search),
    and a bare root. Every counter and flag is replayed from the
    class arithmetic by the oracle."""
    from fuzi_spark.ops.web import url_signals

    i = F.col("doc_id")
    s = i.cast("string")
    url = (
        F.when(i % 5 == 0, F.concat(
            F.lit("https://h.com/a/b/c-"), s,
        ))
        .when(i % 5 == 1, F.lit(
            "https://h.com/search?q=x&utm_source=feed"
        ))
        .when(i % 5 == 2, F.concat(
            F.lit("https://h.com/tag/python/page/"),
            (1 + i % 9).cast("string"), F.lit("/"),
        ))
        .when(i % 5 == 3, F.concat(
            F.lit("https://h.com/article-"), s, F.lit("?page="),
            (1 + i % 7).cast("string"), F.lit("&ref=rss"),
        ))
        .otherwise(F.lit("https://h.com/"))
    )
    d = _docs(spark, sf_dir).select("doc_id", url.alias("url"))
    return url_signals(d).select(
        "doc_id", "path_depth", "n_query_params", "is_search",
        "is_index", "is_paginated", "has_tracking",
    )


def q_bitext_pairs(spark, sf_dir):
    """Reciprocal-hreflang bitext mining over 4-doc clusters (base
    b = id - id%4): member 0 is the English page declaring its German
    twin, member 1 the German page declaring English BACK (with a
    mixed-case rel='Alternate' to pin case-insensitivity) — the
    surviving pair. Members 2/3 are the one-way spam pattern: 2
    declares a de alternate at 3's URL, but 3 points its en link at a
    foreign host — the reciprocity semi-join must kill that pair. The
    oracle replays the surviving (src,tgt) set as a pure relational
    join on the cluster arithmetic (incomplete tail clusters drop on
    both sides identically)."""
    from fuzi_spark.ops.web import bitext_pairs

    i = F.col("doc_id")
    b = (i - i % 4).cast("string")
    base = F.concat(F.lit("https://e.com/"), b, F.lit("/"))
    url = (
        F.when(i % 4 == 0, F.concat(base, F.lit("en")))
        .when(i % 4 == 1, F.concat(base, F.lit("de")))
        .when(i % 4 == 2, F.concat(base, F.lit("en2")))
        .otherwise(F.concat(base, F.lit("de2")))
    )
    link = (
        F.when(i % 4 == 0, F.concat(
            F.lit('<link rel="alternate" hreflang="de" href="'),
            base, F.lit('de">'),
        ))
        .when(i % 4 == 1, F.concat(
            F.lit('<link rel="Alternate" hreflang="en" href="'),
            base, F.lit('en">'),
        ))
        .when(i % 4 == 2, F.concat(
            F.lit('<link rel="alternate" hreflang="de" href="'),
            base, F.lit('de2">'),
        ))
        .otherwise(F.lit(
            '<link rel="alternate" hreflang="en" '
            'href="https://other.com/x">'
        ))
    )
    markup = F.concat(
        F.lit("<html><head>"), link,
        F.lit("</head><body><p>x</p></body></html>"),
    )
    d = _docs(spark, sf_dir).select(
        "doc_id", markup.alias("markup"), url.alias("url")
    )
    return bitext_pairs(d)


def q_media_quality(spark, sf_dir):
    """LAION-style image gate over REAL PNG bytes with formula dims:
    %4==0 keeps (100+i%50 × 120), %4==1 a 32×200 icon (too_small — and
    its 6.25 aspect must NOT fire: first-failure precedence), %4==2 a
    600×80 banner (extreme_aspect), %4==3 a truncated PNG
    (decode_failed, NULL dims/aspect). Decode is the real header
    parse; the oracle replays dims, the GREATEST-ratio aspect, and
    the precedence chain relationally."""
    from pyspark.sql.types import BinaryType

    from fuzi_spark.ops.multimodal import (
        decode_features_df, media_quality_filter,
    )

    @F.pandas_udf(BinaryType())
    def mk(ids: pd.Series) -> pd.Series:
        from fuzi_spark.ops.multimodal import build_png

        out = []
        for i in ids:
            c = i % 4
            if c == 3:
                out.append(b"\x89PNG\r\n\x1a\nJUNK")
            elif c == 0:
                out.append(build_png(int(100 + i % 50), 120))
            elif c == 1:
                out.append(build_png(32, 200))
            else:
                out.append(build_png(600, 80))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("img/"), F.col("doc_id").cast("string"), F.lit(".png")
        ).alias("media_ref"),
        F.lit("image").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
        F.lit("png").alias("format"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("int").alias("duration_ms"),
    )
    gated = media_quality_filter(decode_features_df(media))
    return gated.select(
        F.regexp_extract("media_ref", r"img/(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        "width", "height", "aspect", "reject_reason", "keep",
    )


def q_interleave_episodes(spark, sf_dir):
    """Episode splitting under (max_images=1, max_chars=25) budgets
    over a formula span sequence [P,M,P,M,P] + (i%3) extra paragraphs
    (P = 10 chars): episode 0 is always [P,M,P] (the second image
    rolls), episode 1 absorbs [M,P] plus one extra paragraph when
    present (20 ≤ 25), and the second extra overflows into episode 2.
    The oracle enumerates every episode's rendered text (real
    newlines via chr(10)), media_refs list, and counts from the class
    arithmetic."""
    from fuzi_spark.ops.assemble import interleave_episodes

    i = F.col("doc_id")
    s = i.cast("string")
    A = "aaaaaaaaaa"

    def p(off):
        return F.struct(
            F.lit("paragraph").alias("kind"),
            F.lit(A).alias("text"),
            F.lit(None).cast("string").alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    def m(j, off):
        return F.struct(
            F.lit("media").alias("kind"),
            F.lit("<img>").alias("text"),
            F.concat(
                F.lit("m/"), s, F.lit(f"/{j}.jpg")
            ).alias("media_ref"),
            F.lit(off).cast("int").alias("offset"),
        )

    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,"
        "offset:int>>"
    )
    spans = F.concat(
        F.array(p(0), m(0, 1), p(2), m(1, 3), p(4)),
        F.when(i % 3 >= 1, F.array(p(5))).otherwise(empty),
        F.when(i % 3 == 2, F.array(p(6))).otherwise(empty),
    )
    d = _docs(spark, sf_dir).select("doc_id", spans.alias("spans"))
    return interleave_episodes(d, max_images=1, max_chars=25)


def q_skew_report(spark, sf_dir):
    """Partition-skew prediction on a deliberately skewed corpus: host
    'hot.com' owns a quarter of the rows, the rest spread over 37
    hosts. With the md5 hasher the entire report — bucket assignment,
    row/key counts, weight sums, and the heaviest-key election with
    its (count DESC, key ASC) tie rule — is replayed relationally by
    the oracle. The 'spark' hasher variant (bucket == physical
    partition id under repartition) is pinned in TestSkewReport."""
    from fuzi_spark.ops.diagnostics import skew_report

    i = F.col("doc_id")
    host = F.when(i % 4 == 0, F.lit("hot.com")).otherwise(
        F.concat(F.lit("h"), (i % 37).cast("string"), F.lit(".com"))
    )
    docs = _docs(spark, sf_dir).select(
        "doc_id", host.alias("host"), (10 + i % 5).cast("long").alias("w")
    )
    return skew_report(
        docs, "host", n_buckets=16, weight_col="w", hasher="md5"
    )


def q_crawl_schedule(spark, sf_dir):
    """Politeness scheduling over a formula frontier: 20 hosts × ~25
    URLs with priority doc_id % 11. The oracle replays the md5 shard
    arithmetic, the (priority DESC, url ASC) per-host window, and the
    10-per-host budget relationally — shard cohesion, queue positions,
    and the dropped overflow must all match row-for-row."""
    from fuzi_spark.ops.web import crawl_schedule

    i = F.col("doc_id")
    frontier = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("https://h"), (i % 20).cast("string"), F.lit(".com/p"),
            (i % 7).cast("string"), F.lit("-"), i.cast("string"),
        ).alias("url"),
        (i % 11).cast("double").alias("priority"),
    )
    out = crawl_schedule(
        frontier, priority_col="priority", n_shards=64, max_per_host=10
    )
    return out.select("doc_id", "url", "host", "shard", "fetch_seq")


def q_bloom_seen(spark, sf_dir):
    """Bloom-filter membership gate, decision-exact: seen keys are
    'url-<id>' for ids % 10 == 0, probes are 'url-<id%97>'. The oracle
    replays the EXACT position arithmetic (md5('bloom:i:key') hex
    prefix mod 2^20, the cross-engine contract) and the all-k-set
    decision relationally — so n_set and the seen flag match
    bit-for-bit, FALSE POSITIVES INCLUDED (none occur at this m/n, but
    the replay would reproduce them if they did)."""
    from fuzi_spark.ops.bloom import bloom_seen_filter

    i = F.col("doc_id")
    seen = _docs(spark, sf_dir).filter(i % 10 == 0).select(
        F.concat(F.lit("url-"), i.cast("string")).alias("key")
    )
    probes = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(F.lit("url-"), (i % 97).cast("string")).alias("key"),
    )
    out = bloom_seen_filter(probes, seen, m_bits=1 << 20, k=4)
    return out.select("doc_id", "key", "n_set", "seen")


def q_edit_verify(spark, sf_dir):
    """Edit-distance verification of candidate pairs: docs carry a
    family prefix (doc_id % 25), an optional 'extra ' insertion
    (doc_id % 3 == 0), and a digit tail (doc_id % 9); candidates pair
    each doc with doc_id + 25 (same family, different mutation). The
    oracle replays the IDENTICAL construction and recomputes
    levenshtein itself in DuckDB — distance, similarity, and the keep
    gate must agree value-for-value on every pair."""
    from fuzi_spark.ops.dedup import edit_similarity_pairs

    i = F.col("doc_id")
    text = F.concat(
        F.lit("family "), (i % 25).cast("string"),
        F.lit(" common body text "),
        F.when(i % 3 == 0, F.lit("extra ")).otherwise(F.lit("")),
        F.lit("tail-"), (i % 9).cast("string"),
    )
    docs = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    a = docs.select(F.col("doc_id").alias("id_a"))
    b = docs.select(F.col("doc_id").alias("id_b"))
    pairs = a.join(b, F.col("id_b") == F.col("id_a") + 25)
    out = edit_similarity_pairs(docs, pairs, threshold=0.9)
    return out.select(
        "id_a", "id_b", "edit_dist",
        F.round(F.col("edit_sim"), 4).alias("edit_sim"),
        "keep",
    )


def q_semantic_decontaminate(spark, sf_dir):
    """Embedding-level decontamination on a provably-separable corpus:
    doc i's vector is (1 + i%5)·e_{i%16} over a 16-dim basis, the eval
    set is e_0..e_7 (ids 1000..1007). Same-basis pairs have cosine
    EXACTLY 1 (scale divides out in float64: a/a = 1), disjoint-basis
    pairs exactly 0 — so max_cos, the matched eval id (ties → lowest),
    n_hits, and the contaminated flag are all pure functions of
    doc_id % 16 that the SQL oracle replays independently."""
    from fuzi_spark.ops.similarity import semantic_decontaminate

    i = F.col("doc_id")
    basis = (i % 16).cast("int")
    vec = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: F.when(j == basis, (F.lit(1.0) + (i % 5).cast("double")))
        .otherwise(F.lit(0.0)),
    )
    corpus = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("vec_id"), vec.alias("embedding")
    )
    k = F.col("id")
    ev_vec = F.transform(
        F.sequence(F.lit(0), F.lit(15)),
        lambda j: F.when(j == k.cast("int"), F.lit(1.0)).otherwise(F.lit(0.0)),
    )
    ev = spark.range(8).select(
        (k + 1000).alias("vec_id"), ev_vec.alias("embedding")
    )
    out = semantic_decontaminate(corpus, ev, threshold=0.95)
    return out.select(
        F.col("vec_id").alias("doc_id"),
        F.round(F.col("max_cos"), 4).alias("max_cos"),
        "matched_eval", "n_hits", "contaminated",
    )


def q_audio_spectrogram(spark, sf_dir):
    """REAL frequency-domain audio analysis, oracle-checked end to end:
    per doc a pure sine tone WAV is built from formula parameters —
    bin 4 + id%96 of a 256-point FFT, rate 8000·(1 + id%2), amplitude
    4096·(1 + id%7) (so the periodic-Hann peak magnitude is EXACTLY
    (1 + id%7)/16, a 4-decimal-exact value with a 5e-5 rounding margin
    over the ≤1.5e-5 int16-quantization bound), 256·(2 + id%4) frames.
    The STFT must recover the bin, the derived Hz, the window count,
    and the analytic Hann peak magnitude — the SQL oracle computes all
    of them independently from the construction formulas. A fake or
    RMS-only audio path cannot predict these."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.multimodal import (
        audio_spectrogram_df,
        build_tone_wav,
    )

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            rate = 8000 * (1 + i % 2)
            out.append(
                build_tone_wav(
                    rate=rate,
                    n_frames=256 * (2 + i % 4),
                    freq_hz=(4 + i % 96) * rate / 256,
                    amplitude=4096 * (1 + i % 7),
                )
            )
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("au/"), F.col("doc_id").cast("string"), F.lit(".wav")
        ).alias("media_ref"),
        F.lit("audio").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    spec = audio_spectrogram_df(media)
    return spec.select(
        F.regexp_extract("media_ref", r"au/(\d+)\.wav", 1)
        .cast("long")
        .alias("doc_id"),
        "sample_rate", "n_windows", "dominant_bin",
        F.round(F.col("dominant_hz").cast("double"), 4).alias("dominant_hz"),
        F.round(F.col("peak_mag").cast("double"), 4).alias("peak_mag"),
        "decode_ok",
    )


def q_bpe_encode(spark, sf_dir):
    """BPE tokenizer trained end-to-end on the classic weighted corpus
    (low×5 lower×2 newest×6 widest×3, 6 merges — the textbook example,
    reproduced by the deterministic tie rule), then applied to
    formula-built documents. The oracle carries the hand-derivable
    token sequences: merge learning AND greedy application must both
    be correct to reproduce them."""
    from fuzi_spark.ops.bpe import bpe_encode, train_bpe

    train = spark.createDataFrame(
        [(0, "low " * 5 + "lower " * 2 + "newest " * 6 + "widest " * 3)],
        "doc_id long, text string",
    )
    merges = train_bpe(train, n_merges=6)
    i = F.col("doc_id")
    text = (
        F.when(i % 3 == 0, F.lit("low lower"))
        .when(i % 3 == 1, F.lit("newest widest"))
        .otherwise(F.lit("lowest low"))
    )
    d = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    enc = bpe_encode(d, merges)
    return enc.select(
        "doc_id",
        F.array_join("tokens", "|").alias("tokens_joined"),
        "n_tokens",
    )


def q_reflow_text(spark, sf_dir):
    """PDF/column-layout line-break repair over planted texts covering
    every stage: dehyphenation (and the kept hyphen before a capital),
    paragraph preservation, single-newline reflow, run collapse, trim.
    The oracle writes the EXPECTED output strings from the
    construction formula (parser-independent, the url_dedup evidence
    style)."""
    from fuzi_spark.ops.textstats import reflow_text

    i = F.col("doc_id")
    text = (
        F.when(i % 4 == 0, F.lit("an exam-\nple of hyphen-\nation."))
        .when(i % 4 == 1, F.lit("keep X-\nRay and page-\n9 intact"))
        .when(i % 4 == 2, F.lit("para one\nsame line.\n\n  para two"))
        .otherwise(F.lit("  spaced   out\ttext \n one line  "))
    )
    d = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return reflow_text(d).select("doc_id", "reflowed")


def q_split_sentences(spark, sf_dir):
    """Sentence explosion over planted texts: terminator runs, quoted
    and parenthesized openers, the no-split-inside-parens case, and a
    single-sentence doc. The oracle enumerates the expected
    (doc_id, sent_idx, sentence) rows from the formula."""
    from fuzi_spark.ops.textstats import split_sentences

    i = F.col("doc_id")
    text = (
        F.when(i % 3 == 0, F.lit("Alpha one. Beta two! Gamma three?"))
        .when(i % 3 == 1, F.lit("Single sentence only"))
        .otherwise(
            F.lit('Quote test. "Quoted start." (Paren start.) End.')
        )
    )
    d = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return split_sentences(d)


def q_nb_classifier(spark, sf_dir):
    """Learned quality gate: multinomial NB trained on a fixed
    6-doc clean-vs-spam corpus (pure Catalyst count aggregation),
    then scored over formula test texts — one of which carries an
    unseen token to exercise the smoothing default. The oracle
    RETRAINS the identical model in SQL (counts, priors, add-1
    smoothing, argmax with the same tie rule) — training and scoring
    must both be right, down to the log-posterior at 4 decimals."""
    from fuzi_spark.ops.classify import predict_nb, train_nb

    train = spark.createDataFrame(
        [
            (0, "the quiet library held many old books"),
            (0, "old books held the quiet answers"),
            (0, "library answers many quiet questions"),
            (1, "buy now click free offer buy"),
            (1, "free offer now buy click fast"),
            (1, "click fast free now offer deal"),
        ],
        "label int, text string",
    )
    classes, token_lik = train_nb(train, alpha=1.0)
    i = F.col("doc_id")
    text = (
        F.when(i % 4 == 0, F.lit("the library held books"))
        .when(i % 4 == 1, F.lit("buy free offer now"))
        .when(i % 4 == 2, F.lit("click buy zebra"))
        .otherwise(F.lit("old quiet books held"))
    )
    d = _docs(spark, sf_dir).select("doc_id", text.alias("text"))
    return predict_nb(d, classes, token_lik)


def q_image_dedup(spark, sf_dir):
    """Perceptual-hash image dedup over REAL pixels: per doc a
    structured picture (seeded 8×8 random blocks upsampled to 64×64,
    seed = doc_id % 50) is encoded as a lossless PNG, pHashed through
    the real decode path, and exact-deduped on the 64-bit hash.
    Identical pictures (same doc_id mod 50) MUST collide and distinct
    pictures MUST NOT (test_formula_pictures_all_distinct pins all 50
    hashes distinct at min pairwise hamming ≥ 12), so the SQL oracle
    can replay group sizes and canonical-keep flags from the formula
    alone. A header-only or digest-fake pipeline cannot reproduce this
    grouping."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.multimodal import build_png
    from fuzi_spark.ops.phash import phash_dedup_groups, phash_df

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            rng = np.random.RandomState(int(i) % 50)
            base = rng.randint(0, 256, (8, 8))
            img = np.kron(
                base, np.ones((8, 8), dtype=np.int64)
            ).astype(np.uint8)
            out.append(
                build_png(64, 64, pixels=np.stack([img] * 3, axis=2))
            )
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("img/"), F.col("doc_id").cast("string"), F.lit(".png")
        ).alias("media_ref"),
        F.lit("image").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    groups = phash_dedup_groups(phash_df(media))
    return groups.select(
        F.regexp_extract("media_ref", r"img/(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        "group_size",
        "keep",
    )


def q_video_dedup(spark, sf_dir):
    """Perceptual VIDEO dedup over real codecs end to end: per doc an
    AVI wraps 3 + id%4 identical MJPEG frames of the seeded block
    picture keyed by doc_id % 40 (encoded by our own baseline-JPEG
    encoder at q95). Frame sampling + per-frame pHash + the majority
    bit-vote must produce one fingerprint per picture key — same key
    MUST collide (identical frames ⇒ identical vote), different keys
    MUST NOT (test_query_formula_pictures_distinct_through_jpeg pins
    all 40 JPEG-roundtripped hashes pairwise ≥ 10 bits apart) — so the
    SQL oracle replays group sizes, canonical-keep flags, and the
    sampling arithmetic from doc_id alone."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.jpeg import encode_baseline
    from fuzi_spark.ops.multimodal import build_avi
    from fuzi_spark.ops.phash import phash_dedup_groups, video_phash_df

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        import numpy as np

        cache = {}
        out = []
        for i in ids:
            i = int(i)
            key = i % 40
            if key not in cache:
                rng = np.random.RandomState(key)
                base = rng.randint(0, 256, (8, 8))
                img = np.kron(
                    base, np.ones((8, 8), dtype=np.int64)
                ).astype(np.uint8)
                cache[key] = encode_baseline(
                    np.stack([img] * 3, axis=2), quality=95
                )
            out.append(build_avi(64, 64, 10.0, [cache[key]] * (3 + i % 4)))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("vid/"), F.col("doc_id").cast("string"), F.lit(".avi")
        ).alias("media_ref"),
        F.lit("video").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    from fuzi_spark.ops.cache import scoped_persist

    # one decode pass: the groups agg and the frame-count join both read
    # the hashed table (prod: write it once)
    hashed = scoped_persist(video_phash_df(media))
    groups = phash_dedup_groups(hashed.select("media_ref", "phash"))
    out = hashed.select(
        "media_ref", "n_frames_total", "n_sampled"
    ).join(groups, "media_ref")
    return out.select(
        F.regexp_extract("media_ref", r"vid/(\d+)\.avi", 1)
        .cast("long")
        .alias("doc_id"),
        "n_frames_total", "n_sampled", "group_size", "keep",
    )


def q_video_scenes(spark, sf_dir):
    """Scene-change detection end to end: per doc an AVI carries
    1 + id%3 segments of 2 + id%2 identical frames each (segment s
    uses the pinned block picture (id + s) % 40; distinct pictures are
    pinned ≥ 10 bits apart through the JPEG round-trip, threshold 8
    sits below that and above the 0-bit identical-frame floor), at fps
    10 + id%5. Scene starts must land exactly on segment boundaries
    and timestamps must follow the container timing — both pure
    functions of doc_id that the SQL oracle replays. hamming_prev is
    real measurement (not formula-predictable) and is exercised in
    TestVideoScenes instead."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.jpeg import encode_baseline
    from fuzi_spark.ops.multimodal import build_avi
    from fuzi_spark.ops.phash import video_scenes_df

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        import numpy as np

        cache = {}

        def jp(key):
            if key not in cache:
                rng = np.random.RandomState(key)
                base = rng.randint(0, 256, (8, 8))
                img = np.kron(
                    base, np.ones((8, 8), dtype=np.int64)
                ).astype(np.uint8)
                cache[key] = encode_baseline(
                    np.stack([img] * 3, axis=2), quality=95
                )
            return cache[key]

        out = []
        for i in ids:
            i = int(i)
            frames = []
            for seg in range(1 + i % 3):
                frames += [jp((i + seg) % 40)] * (2 + i % 2)
            out.append(build_avi(64, 64, 10 + i % 5, frames))
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("vid/"), F.col("doc_id").cast("string"), F.lit(".avi")
        ).alias("media_ref"),
        F.lit("video").alias("media_type"),
        mk(F.col("doc_id")).alias("content"),
    )
    scenes = video_scenes_df(media, threshold=8)
    return scenes.select(
        F.regexp_extract("media_ref", r"vid/(\d+)\.avi", 1)
        .cast("long")
        .alias("doc_id"),
        "frame_idx", "ts_ms", "is_scene_start",
    )


def q_media_context(spark, sf_dir):
    """Image-text alignment rows over formula-built span arrays: a
    leading media span (no preceding text — context_before must be
    NULL), a paragraph, an empty-alt media span on even ids (alt_text
    NULL, both neighbors), a second paragraph on ids %3==0, and a
    trailing media span whose context_before depends on which optional
    spans exist. The oracle replays the neighbor rules relationally."""
    from fuzi_spark.ops.assemble import media_context

    i = F.col("doc_id")
    s = i.cast("string")
    empty = (
        "array<struct<kind:string,text:string,"
        "media_ref:string,offset:int>>"
    )

    def sp(kind, text_col, ref_col=None):
        return F.struct(
            F.lit(kind).alias("kind"),
            text_col.alias("text"),
            (ref_col if ref_col is not None else F.lit(None))
            .cast("string").alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    m0 = sp("media", F.concat(F.lit("a0-"), s),
            F.concat(F.lit("img/"), s, F.lit("/0.jpg")))
    p0 = sp("paragraph", F.concat(F.lit("P0 "), s))
    m1 = sp("media", F.lit(""),
            F.concat(F.lit("img/"), s, F.lit("/1.jpg")))
    p1 = sp("paragraph", F.concat(F.lit("P1 "), s))
    m2 = sp("media", F.concat(F.lit("c-"), s),
            F.concat(F.lit("img/"), s, F.lit("/2.jpg")))
    spans = F.concat(
        F.array(m0, p0),
        F.when(i % 2 == 0, F.array(m1)).otherwise(
            F.array().cast(empty)
        ),
        F.when(i % 3 == 0, F.array(p1)).otherwise(
            F.array().cast(empty)
        ),
        F.array(m2),
    )
    d = _docs(spark, sf_dir).select("doc_id", spans.alias("spans"))
    return media_context(d)


def q_crawl_frontier(spark, sf_dir):
    """Capstone crawl DAG over formula-built discoveries: every doc's
    page URL arrives twice (uppercase-host raw + a '#frag' variant —
    both must collapse to ONE canonical row with n_sources=2), ids
    %3==0 live under /private (robots-denied by the planted rule), ids
    %4==0 are already in the crawled set (stored with uppercase host +
    fragment, pinning canonicalization of THAT side too), ids %5==0
    add a blocklisted-domain URL. First-failure precedence
    blocked_domain > robots_denied > already_crawled is part of the
    contract."""
    from fuzi_spark.ops.web import crawl_frontier

    i = F.col("doc_id")
    s = i.cast("string")
    path = F.when(i % 3 == 0, F.concat(F.lit("/private/p"), s)).otherwise(
        F.concat(F.lit("/p/"), s)
    )
    raw = F.concat(F.lit("https://E.com"), path)
    base = _docs(spark, sf_dir).select("doc_id", raw.alias("url"))
    discovered = (
        base.select("url")
        .union(base.select(F.concat(F.col("url"), F.lit("#frag"))))
        .union(
            base.filter(i % 5 == 0).select(
                F.concat(F.lit("https://blocked.com/x/"), s)
            )
        )
    )
    crawled = base.filter(i % 4 == 0).select(
        F.concat(F.col("url"), F.lit("#c")).alias("url")
    )
    robots = spark.createDataFrame(
        [("e.com", "User-agent: *\nDisallow: /private")],
        "domain string, robots_txt string",
    )
    blocked = spark.createDataFrame(
        [("Blocked.com",)], "domain string"
    )
    return crawl_frontier(
        discovered, crawled=crawled, robots=robots, blocked=blocked
    )


def q_span_language(spark, sf_dir):
    """Per-span language ID over formula-built interleaved span arrays
    (code-switch detection): every doc opens with an English paragraph,
    even ids add a German one, ids %3==0 add a Russian heading, and a
    media span plus an empty-text paragraph are planted in every doc to
    pin the skip rules. seq is the position in the ORIGINAL array, so
    the oracle predicts it from the same conditionals."""
    from fuzi_spark.ops.textstats import span_language

    i = F.col("doc_id")
    s = i.cast("string")

    def sp(kind, text_col, ref=None):
        return F.struct(
            F.lit(kind).alias("kind"),
            text_col.alias("text"),
            (F.lit(ref) if ref else F.lit(None)).cast("string")
            .alias("media_ref"),
            F.lit(0).alias("offset"),
        )

    en = sp("paragraph", F.concat(F.lit(_LANG_PHRASES[0][1] + " "), s))
    media = sp("media", F.lit(""), "img/x.jpg")
    de = sp("paragraph", F.concat(F.lit(_LANG_PHRASES[3][1] + " "), s))
    ru = sp("heading", F.lit(_LANG_PHRASES[4][1]))
    empty = sp("paragraph", F.lit(""))
    spans = F.concat(
        F.array(en, media),
        F.when(i % 2 == 0, F.array(de)).otherwise(
            F.array().cast("array<struct<kind:string,text:string,"
                           "media_ref:string,offset:int>>")
        ),
        F.when(i % 3 == 0, F.array(ru)).otherwise(
            F.array().cast("array<struct<kind:string,text:string,"
                           "media_ref:string,offset:int>>")
        ),
        F.array(empty),
    )
    d = _docs(spark, sf_dir).select("doc_id", spans.alias("spans"))
    return span_language(d)


def q_snapshot_delta(spark, sf_dir):
    """Crawl-refresh delta over two formula-derived snapshots of the
    documents table: ids %4==0 exist only in the current crawl (added),
    %4==1 only in the previous one (removed), the rest in both — with
    ids %7==0 re-served with different text (changed) and everything
    else byte-identical (unchanged)."""
    from fuzi_spark.ops.web import snapshot_delta

    i = F.col("doc_id")
    url = F.concat(F.lit("https://e.com/d/"), i.cast("string"))
    base = _docs(spark, sf_dir).select(
        "doc_id", url.alias("url"), "text"
    )
    cur = base.filter(i % 4 != 1)
    prev = base.filter(i % 4 != 0).withColumn(
        "text",
        F.when(i % 7 == 0, F.concat(F.col("text"), F.lit(" old")))
        .otherwise(F.col("text")),
    )
    return snapshot_delta(cur, prev)


def q_site_template(spark, sf_dir):
    """Cross-document site-template detection driven through the REAL
    extraction pass: per doc a page is built as markup (`<p>NAV
    {domain}</p><p>unique {id}</p>` + even ids `<p>FOOT {domain}</p>`),
    extracted by the actual parser, then template_stats runs with
    min_frac=0.6 — NAV (every page of its domain) must flag, FOOT
    (~half the domain's pages, under the 0.6 bar) must NOT, unique
    never. The oracle replays the doc-frequency election RELATIONALLY
    (counts + the greatest(min_docs, ceil(frac*domain_docs)) threshold
    from the same formula corpus), so the decision rule itself is
    verified, not just the fixture outcome."""
    from fuzi_spark.ops.template import template_stats
    from fuzi_spark.udfs import extract_markup_df

    i = F.col("doc_id")
    s = i.cast("string")
    dom = F.concat(F.lit("d"), (i % 7).cast("string"))
    markup = F.concat(
        F.lit("<body><p>NAV "), dom, F.lit("</p><p>unique "), s,
        F.when(i % 2 == 0, F.concat(F.lit("</p><p>FOOT "), dom))
        .otherwise(F.lit("")),
        F.lit("</p></body>"),
    )
    d = _docs(spark, sf_dir).select(
        i.cast("string").alias("doc_id"), markup.alias("markup")
    )
    spans = extract_markup_df(d).withColumn(
        "domain",
        F.concat(
            F.lit("d"), (F.col("doc_id").cast("long") % 7).cast("string")
        ),
    )
    out = template_stats(spans, min_docs=2, min_frac=0.6)
    return out.select(
        F.col("doc_id").cast("long").alias("doc_id"),
        "n_spans", "n_template", "template_frac", "main_text",
    )


def q_bitext_margin(spark, sf_dir):
    """Margin-based bitext mining (Artetxe & Schwenk 2019) over the
    embeddings table split even(src)/odd(tgt): ratio margin with k=4
    neighborhoods, mutual-best intersection, threshold 1.0. The oracle
    replays the ENTIRE pipeline in SQL — all cross cosines
    (list_cosine_similarity on the same double-cast vectors), both
    top-4 neighborhoods, the hubness-normalizing denominator, the
    margin, and the mutual argmax — so the mining rule itself is
    verified end to end."""
    from fuzi_spark.ops.similarity import margin_bitext

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    src = vecs.filter(F.col("vec_id") % 2 == 0)
    tgt = vecs.filter(F.col("vec_id") % 2 == 1)
    return margin_bitext(src, tgt, k=4, threshold=1.0)


def q_audio_dedup(spark, sf_dir):
    """Perceptual audio dedup over REAL WAV decode + STFT landmark
    fingerprints (ops/audiofp.py): per doc a 3-note bin-centered
    melody WAV is built from g = doc_id % 40 (bins 5+g / 50+g /
    30+(g*7)%40, two 256-pt windows per note) with the GAIN varied
    within each group (amplitude 4096·(1+doc_id%3)) — so group
    membership is recoverable only by a fingerprint that is a function
    of the spectral peak sequence, not of the sample bytes (byte-exact
    dedup sees 120 distinct blobs, not 40 groups). The oracle predicts
    groups relationally from the construction formula."""
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf

    from fuzi_spark.ops.audiofp import audio_dedup_groups, audio_fingerprint_df
    from fuzi_spark.ops.multimodal import build_melody_wav

    @pandas_udf("binary")
    def mk(ids: pd.Series) -> pd.Series:
        out = []
        for i in ids:
            i = int(i)
            g = i % 40
            out.append(
                build_melody_wav(
                    rate=16000,
                    bins=[5 + g, 50 + g, 30 + (g * 7) % 40],
                    amplitude=4096 * (1 + i % 3),
                )
            )
        return pd.Series(out)

    media = _docs(spark, sf_dir).select(
        F.concat(
            F.lit("au/"), F.col("doc_id").cast("string"), F.lit(".wav")
        ).alias("media_ref"),
        mk(F.col("doc_id")).alias("content"),
    )
    return audio_dedup_groups(audio_fingerprint_df(media)).select(
        F.regexp_extract("media_ref", r"au/(\d+)\.wav", 1)
        .cast("long")
        .alias("doc_id"),
        "n_windows", "group_size", "keep",
    )


def q_dsir_select(spark, sf_dir):
    """DSIR importance resampling (Xie et al. 2023): target = the
    doc_id%3==0 third of the corpus, raw pool = everything; hashed
    unigram+bigram bucket counts (B=10000, md5 bucket — engine-
    portable), add-1 smoothing over the full bucket spine, per-doc
    log-weight, then deterministic Gumbel top-200 selection. The
    oracle recomputes the ENTIRE pipeline in SQL — featurize, both
    distributions, totals, log-ratios, doc scores, Gumbel priorities,
    top-k — so the scoring math and the selection rule are both
    verified, not just row plumbing."""
    from fuzi_spark.ops.dsir import (
        dsir_log_ratios_flagged,
        dsir_sample,
        dsir_weights,
    )

    d = _docs(spark, sf_dir).select("doc_id", "text")
    # target ⊆ raw → the flagged fast path: one featurize pass builds
    # BOTH distributions (identical values to the two-DataFrame form)
    ratios = dsir_log_ratios_flagged(
        d, F.col("doc_id") % 3 == 0, n_buckets=10000, smoothing=1.0
    )
    w = dsir_weights(d, ratios, n_buckets=10000)
    return dsir_sample(w, k=200)


def q_asof_join(spark, sf_dir):
    """As-of join (ops/relational.py): every click event picks up the
    value of the user's most recent purchase at-or-before its
    timestamp — the union+carry-forward window shape (ONE shuffle on
    user_id, no per-key blowup). The oracle is DuckDB's NATIVE `ASOF
    LEFT JOIN` — an independent implementation of the semantics, not
    a replay of ours."""
    from fuzi_spark.ops.relational import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    clicks = ev.filter(F.col("event_type") == "click").select(
        "event_id", "user_id", "ts"
    )
    purch = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", "ts")
        .agg(F.max("value").alias("purchase_value"))
    )
    return asof_join(
        clicks, purch, on="user_id", left_ts="ts", right_ts="ts",
        payload=["purchase_value"],
    ).select(
        "event_id", "user_id", "asof_purchase_value", "asof_ts_matched"
    )


def q_range_join(spark, sf_dir):
    """Range (interval-containment) join (ops/relational.py): lineitem
    prices against order-derived price bands [o_totalprice,
    o_totalprice+300], via bin-grid equi-join + residual filter (never
    a broadcast-nested-loop). The oracle is the naive BETWEEN join —
    independent semantics, so the binning rewrite is verified to
    produce exactly the same pair set."""
    from fuzi_spark.ops.relational import range_join

    iv = (
        spark.read.parquet(f"{sf_dir}/orders.parquet")
        .filter(F.col("o_orderkey") % 25 == 0)
        .select(
            F.col("o_orderkey").alias("iv_id"),
            F.col("o_totalprice").alias("lo"),
            (F.col("o_totalprice") + F.lit(300.0)).alias("hi"),
        )
    )
    pts = (
        spark.read.parquet(f"{sf_dir}/lineitem.parquet")
        .filter(F.col("l_partkey") % 10 == 0)
        .select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").alias("price"),
        )
    )
    return range_join(pts, iv, "price", "lo", "hi", bin_width=500.0).select(
        "iv_id", "l_orderkey", "l_linenumber", "price"
    )


def q_merge_upsert(spark, sf_dir):
    """CDC latest-wins merge (ops/relational.py): a synthetic recrawl
    batch (every 7th doc re-extracted with +1000 chars, every 21st now
    a 404 delete) folded into the corpus — union + one rank-1 window,
    the MERGE INTO kernel. Oracle replays the version/source
    precedence relationally."""
    from fuzi_spark.ops.relational import merge_upsert

    base = _docs(spark, sf_dir).select(
        "doc_id", "lang", "source", "n_chars",
        F.lit(1).alias("version"),
    )
    upd = (
        _docs(spark, sf_dir)
        .filter(F.col("doc_id") % 7 == 0)
        .select(
            "doc_id",
            "lang",
            F.lit("recrawl").alias("source"),
            (F.col("n_chars") + 1000).alias("n_chars"),
            F.lit(2).alias("version"),
            (F.col("doc_id") % 21 == 0).alias("is_del"),
        )
    )
    return merge_upsert(base, upd, "doc_id", "version", delete_col="is_del")


def q_zorder_layout(spark, sf_dir):
    """Z-order layout plan (ops/relational.py): lineitem clustered on
    (l_partkey, l_suppkey) Morton values into 64 target files; returns
    per-file row counts + min/max of BOTH dims — the manifest-level
    statistics that make 2-D predicates prune files. Bounds come from
    one metadata aggregate (what a real layout writer samples); the
    oracle replays the integer quantization + bit-interleave ladder
    bit-for-bit."""
    from fuzi_spark.ops.relational import zorder_layout

    li = spark.read.parquet(f"{sf_dir}/lineitem.parquet")
    b = li.agg(
        F.min("l_partkey"), F.max("l_partkey"),
        F.min("l_suppkey"), F.max("l_suppkey"),
    ).collect()[0]
    return zorder_layout(
        li, "l_partkey", "l_suppkey",
        int(b[0]), int(b[1]), int(b[2]), int(b[3]), n_files=64,
    )


def q_heavy_hitters(spark, sf_dir):
    """Count-min heavy hitters (ops/sketch.py): the exact top-50
    corpus tokens scored by a 4x1024 count-min sketch (md5-seeded
    rows, engine-portable) — (token, exact, est) with est >= exact by
    the CMS one-sided guarantee. The oracle replays tokenization, the
    sketch build, and the min-over-rows estimate, so the sketch
    arithmetic itself is hash-verified."""
    from fuzi_spark.ops.sketch import heavy_hitters

    return heavy_hitters(
        _docs(spark, sf_dir), text_col="text", top_n=50, depth=4, width=1024
    )


def q_embedding_quantize(spark, sf_dir):
    """Per-vector int8 max-abs quantization telemetry (ops/quantize.py):
    scale, saturation count, integer code checksum, reconstruction
    cosine and MSE for every embedding — the quality gate you run
    before rewriting the float32 lake to int8 (4x smaller). Pure
    projection, zero shuffles. Oracle replays the whole codec
    (round-half-up spelled as floor(x+0.5) in both engines)."""
    from fuzi_spark.ops.quantize import quantize_report

    return quantize_report(_embeddings(spark, sf_dir))


def q_hard_negatives(spark, sf_dir):
    """Hard-negative mining for contrastive training (ops/negatives.py):
    for each query vector (vec_id % 25 == 0) the top-5 most-similar
    corpus vectors with a DIFFERENT label and cosine <= 0.95 (the
    false-negative ceiling). Broadcast query side + WindowGroupLimit
    top-k. Oracle replays filter + rank over list_cosine_similarity."""
    from fuzi_spark.ops.negatives import hard_negatives

    emb = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
        "label",
    )
    qs = emb.filter(F.col("vec_id") % 25 == 0)
    return hard_negatives(emb, qs, k=5, ceiling=0.95, floor=0.0)


def q_hll_distinct(spark, sf_dir):
    """HyperLogLog distinct-token cardinality per language
    (ops/sketch.py): the register table is a 256-row-per-group
    monoid you can store and merge per crawl batch — unlike
    approx_count_distinct's opaque driver-side sketch. Returned next
    to the exact distinct count so the estimate's error is visible in
    the artifact. Oracle replays hash → register → max-rank →
    harmonic estimate (the 2^-rho sum is exact dyadic arithmetic, so
    aggregation order cannot perturb it)."""
    from fuzi_spark.ops.sketch import hll_estimate, hll_sketch

    toks = _docs(spark, sf_dir).select(
        "lang", F.explode(F.filter(
            F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
            lambda t: t != "",
        )).alias("token")
    )
    est = hll_estimate(hll_sketch(toks, "token", ["lang"]), ["lang"])
    exact = toks.groupBy("lang").agg(
        F.countDistinct("token").alias("distinct_exact")
    )
    return est.join(exact, "lang")


def q_bm25_search(spark, sf_dir):
    """BM25 retrieval (ops/bm25.py): top-20 documents for the query
    'hash join merge scan' — inverted-index build (one map-side-
    combinable groupBy), Lucene idf, tf saturation + length
    normalization, broadcast query-term join, TakeOrdered top-n.
    Oracle replays the whole scoring pipeline (constants spelled as
    the same arithmetic — 1.2 + 1.0, not 2.2 — so both engines fold
    identical doubles)."""
    from fuzi_spark.ops.bm25 import bm25_search

    return bm25_search(
        _docs(spark, sf_dir), "hash join merge scan", top_n=20
    )


def q_hash_embed(spark, sf_dir):
    """Feature-hashing embeddings (ops/hashembed.py): every document
    to a 64-dim signed-hash vector with zero shuffles and zero Python
    — the model-free bridge from text to the embedding operator suite.
    The unnormalized accumulator is integer-valued (exact in doubles),
    so the vectors are bit-identical across engines; oracle rebuilds
    them relationally (explode → signed sums → dense spine → ordered
    list) and replays the L2 normalization."""
    from fuzi_spark.ops.hashembed import hash_embed

    return hash_embed(_docs(spark, sf_dir), dims=64)


def q_thread_assembly(spark, sf_dir):
    """Discussion-thread assembly (ops/threads.py): a deterministic
    forum is synthesized from the documents table (groups of 10 doc
    ids form a binary-heap tree, sibling order scrambled by
    (doc_id*37)%100), then every post is resolved to (root, depth,
    DFS thread_order) by bounded iterative ancestor joins. The oracle
    is a WITH RECURSIVE walk — a genuinely different mechanism that
    must land the identical assignment."""
    from fuzi_spark.ops.threads import thread_assembly

    d = _docs(spark, sf_dir).select("doc_id")
    k = F.col("doc_id") % 10
    posts = d.select(
        F.col("doc_id").alias("post_id"),
        F.when(k == 0, F.lit(None).cast("long"))
        .otherwise(
            (F.col("doc_id") - k) + F.floor((k - 1) / 2).cast("long")
        )
        .alias("parent_id"),
        ((F.col("doc_id") * 37) % 100).alias("tsk"),
    )
    return thread_assembly(
        posts, id_col="post_id", parent_col="parent_id",
        order_col="tsk", max_depth=8,
    )


def q_loss_mask(spark, sf_dir):
    """Loss-mask spans over the SAME episode construction as
    interleave_episodes: the <image> sentinel ranges (start/end char
    offsets in the rendered text), trainable char count, and the
    sentinel-collision audit flag. The oracle enumerates every
    episode class's mask offsets from the construction arithmetic
    (A=10 chars, separators are double newlines, sentinel is 7
    chars)."""
    from fuzi_spark.ops.assemble import loss_mask_spans

    eps = q_interleave_episodes(spark, sf_dir)
    return loss_mask_spans(eps).select(
        "doc_id", "episode_idx", "mask_starts", "mask_ends",
        "n_trainable_chars", "mask_ok",
    )


def q_parse_jsonl(spark, sf_dir):
    """JSONL source (ops/jsonsrc.py): lines constructed from the
    documents table ('{"id":…,"lang":…,"n":…}'), with every 97th line
    corrupted by a leading non-JSON token. from_json (JVM Jackson, no
    Python, no inference scan) parses against an explicit schema;
    malformed lines surface as parse_ok=false + preserved raw line,
    never a task failure — the engine's standing recovering-parser
    contract. Oracle replays the construction arithmetic."""
    from fuzi_spark.ops.jsonsrc import parse_jsonl

    line = F.concat(
        F.when(F.col("doc_id") % 97 == 0, F.lit("oops")).otherwise(
            F.lit("")
        ),
        F.lit('{"id": '),
        F.col("doc_id").cast("string"),
        F.lit(', "lang": "'),
        F.col("lang"),
        F.lit('", "n": '),
        F.col("n_chars").cast("string"),
        F.lit("}"),
    )
    d = _docs(spark, sf_dir).select("doc_id", line.alias("line"))
    return parse_jsonl(d, "id BIGINT, lang STRING, n BIGINT")


def q_rate_anomalies(spark, sf_dir):
    """Trailing z-score rate anomalies (ops/anomaly.py) over hourly
    per-event-type counts of the events table: one partial-combined
    groupBy + one window pass (ROWS BETWEEN -6 AND -1), z scored only
    with >= 3 history buckets and positive sigma. Oracle replays
    bucket counts (time_bucket — hour-aligned like Spark's window),
    the trailing frame, and the gating."""
    from fuzi_spark.ops.anomaly import rate_anomalies

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return rate_anomalies(
        ev, "ts", "event_type", "1 hour", trailing=6, threshold=2.5
    )


def q_text_semantic_dedup(spark, sf_dir):
    """Integration of the self-contained text→embedding→dedup bridge:
    every document gets a twin (doc_id+100000) with its TOKEN ORDER
    REVERSED — byte/shingle dedup cannot group these, but the
    bag-of-words hashed embedding (ops/hashembed.py) is order-
    invariant, so hash_embed → embedding_near_dups (multi-table LSH
    self-join) must pair every doc with its twin. Output: per doc the
    near-dup partner count. The oracle replays the invariant
    relationally — groups are token MULTISET equality (sorted-token
    md5) over originals ∪ twins."""
    from fuzi_spark.ops.hashembed import hash_embed
    from fuzi_spark.ops.similarity import embedding_near_dups

    toks = F.filter(
        F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
        lambda t: t != "",
    )
    d = _docs(spark, sf_dir).select("doc_id", "text")
    rev = d.select(
        (F.col("doc_id") + 100000).alias("doc_id"),
        F.array_join(F.reverse(toks), " ").alias("text"),
    )
    emb = hash_embed(d.unionByName(rev), dims=64).filter(
        F.col("norm") > 0
    )
    pairs = embedding_near_dups(
        emb.select("doc_id", "embedding"),
        threshold=0.999999,
        id_col="doc_id",
    )
    both = pairs.select(F.col("id_a").alias("doc_id")).unionByName(
        pairs.select(F.col("id_b").alias("doc_id"))
    )
    counts = both.groupBy("doc_id").agg(F.count("*").alias("_n"))
    return emb.select("doc_id").join(counts, "doc_id", "left").select(
        "doc_id",
        F.coalesce(F.col("_n"), F.lit(0)).cast("long").alias("n_partners"),
    )


def q_resolve_redirects(spark, sf_dir):
    """Redirect-chain resolution (ops/web.py): a deterministic edge
    set from doc ids — ids ≡ 0,1,2 (mod 10) redirect to the next id
    (chains of length 3/2/1 ending at the decade's id+3), except ids
    ≡ 50,51 (mod 100) which form a 2-cycle LOOP. Bounded iterative
    joins must resolve every chain to its final url and flag the loop
    rows ok=false with NULL final/hops. Oracle replays the chain
    arithmetic."""
    from fuzi_spark.ops.web import resolve_redirects

    i = F.col("doc_id")
    u = lambda c: F.concat(F.lit("u"), c.cast("string"))  # noqa: E731
    d = _docs(spark, sf_dir).select("doc_id")
    normal = d.filter(
        ((i % 10).isin(0, 1, 2)) & (~(i % 100).isin(50, 51))
    ).select(u(i).alias("src"), u(i + 1).alias("dst"))
    loop = d.filter((i % 100) == 50).select(
        u(i).alias("src"), u(i + 1).alias("dst")
    ).unionByName(
        d.filter((i % 100) == 51).select(
            u(i).alias("src"), u(i - 1).alias("dst")
        )
    )
    return resolve_redirects(normal.unionByName(loop), max_hops=8)


def q_fim_split(spark, sf_dir):
    """Fill-in-the-middle training prep (ops/fim.py): rate-0.5
    deterministic gate + md5-derived split points rewrite selected
    documents to <PRE>prefix<SUF>suffix<MID>middle; everything else
    passes through. Oracle replays the gate, both uniform draws, and
    the three substrings byte-for-byte."""
    from fuzi_spark.ops.fim import fim_split

    d = _docs(spark, sf_dir).select("doc_id", "text")
    return fim_split(d, rate=0.5, min_chars=8).select(
        "doc_id", "fim_applied", "fim_text"
    )


def q_length_quantiles(spark, sf_dir):
    """Exact per-language n_chars quantiles (ops/diagnostics.py
    group_quantiles): lower-interpolation order statistics at
    p50/p90/p99 — rank arithmetic only, so the oracle replay is
    bit-exact (no midpoint float interpolation)."""
    from fuzi_spark.ops.diagnostics import group_quantiles

    return group_quantiles(
        _docs(spark, sf_dir), "n_chars", ["lang"], (0.5, 0.9, 0.99)
    )


def q_multimodal_dedup(spark, sf_dir):
    """JOINT text+image dedup for interleaved documents — the scraped-
    copy reality where one clone keeps the picture but rewrites the
    text and another keeps the text but re-encodes the picture.
    Construction: in every block of 4 ids, text pairs (4k,4k+1) and
    (4k+2,4k+3) share exact text, image pairs (4k,4k+2) and (4k+1,4k+3)
    share the SAME real PNG (pHashed through the real decode path;
    formula pictures are pairwise-distinct — min hamming 14 across
    1000 seeds, pinned). Neither modality alone groups the block; the
    UNION of both edge sets under connected components must — every
    doc lands in component canonical = 4k with group_size 4. Oracle:
    the block arithmetic."""
    import numpy as np
    import pandas as pd
    from pyspark.sql.pandas.functions import pandas_udf
    from pyspark.sql.window import Window

    from fuzi_spark.ops.dedup import dedup_components
    from fuzi_spark.ops.multimodal import build_png
    from fuzi_spark.ops.phash import phash_df

    i = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        "doc_id",
        F.concat(
            F.lit("txt-"),
            ((i - i % 4) + F.floor((i % 4) / 2).cast("long")).cast(
                "string"
            ),
        ).alias("text"),
        ((i - i % 4) + i % 2).alias("img_seed"),
    )

    @pandas_udf("binary")
    def mk(seeds: pd.Series) -> pd.Series:
        out = []
        for s in seeds:
            rng = np.random.RandomState(int(s))
            base = rng.randint(0, 256, (8, 8))
            img = np.kron(
                base, np.ones((8, 8), dtype=np.int64)
            ).astype(np.uint8)
            out.append(build_png(64, 64, pixels=np.stack([img] * 3, axis=2)))
        return pd.Series(out)

    media = d.select(
        F.concat(
            F.lit("im/"), i.cast("string"), F.lit(".png")
        ).alias("media_ref"),
        F.lit("image").alias("media_type"),
        mk(F.col("img_seed")).alias("content"),
    )
    wt = Window.partitionBy(F.sha2(F.col("text"), 256))
    text_edges = d.select(
        F.min("doc_id").over(wt).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    ).filter(F.col("id_a") != F.col("id_b"))
    hashed = phash_df(media).select(
        F.regexp_extract("media_ref", r"im/(\d+)\.png", 1)
        .cast("long")
        .alias("doc_id"),
        "phash",
    )
    wi = Window.partitionBy("phash")
    img_edges = hashed.filter(F.col("phash").isNotNull()).select(
        F.min("doc_id").over(wi).alias("id_a"),
        F.col("doc_id").alias("id_b"),
    ).filter(F.col("id_a") != F.col("id_b"))
    comp = dedup_components(text_edges.unionByName(img_edges))
    sizes = comp.groupBy("canonical_id").agg(
        F.count("*").alias("group_size")
    )
    return comp.join(sizes, "canonical_id").select(
        F.col("node_id").alias("doc_id"), "canonical_id", "group_size"
    )


def q_embedding_outliers(spark, sf_dir):
    """Centroid-distance embedding outliers with planted spikes: two
    formula dimensions (small exact integers/halves, so every partial
    sum is exact in double regardless of reduction order) plus two
    CONSTANT dimensions (must contribute zero distance), and every
    97th doc shifted +50 in dim 0 — far past z=3 against the lattice
    spread. The oracle replays mean, Euclidean distance, and the
    stddev_samp z-score relationally on the same scalars."""
    from fuzi_spark.ops.decomp import embedding_outliers

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    a = (i % 5 - 2).cast("double") + F.when(
        i % 97 == 0, F.lit(50.0)
    ).otherwise(F.lit(0.0))
    b = ((i % 7).cast("double") - 3) / 2.0
    vec = F.array(a, b, F.lit(0.5), F.lit(-1.0))
    return embedding_outliers(
        d.select("doc_id", vec.alias("embedding")), z_threshold=3.0
    )


def q_embedding_pca(spark, sf_dir):
    """Distributed PCA (ops/decomp.py): one-pass Gram aggregation →
    driver-side eigensolve → per-batch matmul projection. Planted
    rank-2 construction: (a_i, b_i) from doc_id arithmetic (correlated
    on purpose — b carries 0.5·a, so the eigenbasis is a genuine
    rotation, not axes), embedded in 8-dim via two fixed orthonormal
    directions. Because the directions are orthonormal, the 8-dim PCA
    projections equal the 2×2 eigendecomposition of the (a,b)
    covariance — which the DuckDB oracle computes in CLOSED FORM
    (quadratic eigenvalues, (sab, l1−saa) eigenvector), so the
    distributed Gram reduction, the eigensolve, AND the projection
    matmul are all verified against independent math, not replayed
    plumbing. Eigenvector sign is data-anchored on both sides: the
    min-id row's projection is oriented non-negative."""
    import math

    from fuzi_spark.ops.decomp import pca_fit, pca_project

    i = F.col("doc_id")
    a = (i % 5 - F.lit(2)).cast("double")
    b = (i % 3 - F.lit(1)).cast("double") + F.lit(0.5) * a
    r1 = [1.0 / math.sqrt(8.0)] * 8
    r2 = [((-1.0) ** j) / math.sqrt(8.0) for j in range(8)]
    emb = _docs(spark, sf_dir).select(
        "doc_id",
        F.array(
            *[a * F.lit(r1[j]) + b * F.lit(r2[j]) for j in range(8)]
        ).alias("embedding"),
    )
    model = pca_fit(emb, vec_col="embedding", k=2, dim=8)
    # orientation anchor: project ONLY the min-id row (metadata-sized
    # TakeOrderedAndProject job — never a second UDF pass over the
    # corpus) and fold the two signs in as literals
    anchor = pca_project(
        emb.orderBy("doc_id").limit(1), model, vec_col="embedding"
    ).select("proj").first()["proj"]
    s1 = 1.0 if anchor[0] >= 0 else -1.0
    s2 = 1.0 if anchor[1] >= 0 else -1.0

    def r4(c):
        return F.floor(c * F.lit(10000.0) + F.lit(0.5)) / F.lit(10000.0)

    v1, v2 = (float(v) for v in model.explained_variance)
    return pca_project(emb, model, vec_col="embedding").select(
        "doc_id",
        r4(F.element_at("proj", 1) * F.lit(s1)).alias("p1"),
        r4(F.element_at("proj", 2) * F.lit(s2)).alias("p2"),
        r4(F.lit(v1)).alias("var1"),
        r4(F.lit(v2)).alias("var2"),
    )


def q_kmeans_clusters(spark, sf_dir):
    """Distributed k-means (ops/cluster.py): deterministic farthest-
    first init on a bounded sample, Lloyd iterations where assignment
    is one matmul per Arrow batch and the centroid update is a
    map-side-combinable (cluster, coordinate) partial-sum shuffle.
    Planted geometry: 4 clusters at 10·e_m (m = doc_id % 4) with an
    integer within-cluster offset δ = (⌊doc_id/4⌋ % 5) on a shared
    6th axis. Separation ≫ spread makes farthest-first provably pick
    one seed per cluster and Lloyd converge exactly in two rounds —
    so canonical labels, sizes, AND the euclidean distance to the
    converged centroid (|δ − 2|, since each class's δ mean is exactly
    2) are pure id arithmetic the oracle replays. All quantities are
    small integers → exact in double → hash-exact, no rounding."""
    from fuzi_spark.ops.cluster import (
        kmeans_assign,
        kmeans_canonical_clusters,
        kmeans_fit,
    )

    i = F.col("doc_id")
    delta = (((i - i % 4) / F.lit(4)).cast("long") % 5).cast("double")
    emb = _docs(spark, sf_dir).select(
        "doc_id",
        F.array(
            *[
                F.when(i % 4 == j, F.lit(10.0)).otherwise(F.lit(0.0))
                for j in range(4)
            ],
            F.lit(0.0),
            delta,
        ).alias("embedding"),
    )
    centroids = kmeans_fit(
        emb, k=4, vec_col="embedding", id_col="doc_id", max_iter=10
    )
    assigned = kmeans_assign(
        emb, centroids, vec_col="embedding", id_col="doc_id"
    )
    return kmeans_canonical_clusters(assigned, id_col="doc_id").select(
        "doc_id", "cluster_id", "cluster_size", "dist"
    )


def q_funnel(spark, sf_dir):
    """Ordered first-touch conversion funnel (ops/behavior.py) over
    the events table: view -> click -> purchase with strict
    ts-after-previous-stage semantics, computed in ONE exchange
    (groupBy user, sort_array, a single F.aggregate walk) instead of
    k per-step self-joins. Oracle replays the equivalent minimal
    timestamp chain relationally: s1 = min view ts, s2 = min click
    ts > s1, s3 = min purchase ts > s2 — greedy first-touch provably
    equals the min-chain."""
    from fuzi_spark.ops.behavior import funnel_stages

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return funnel_stages(ev, ("view", "click", "purchase"))


def q_retention(spark, sf_dir):
    """Weekly retention cohorts (ops/behavior.py): cohort = first-seen
    day per user via a window MIN (one exchange, no firsts join),
    week_offset = exact integer DIV of the day difference, cohort
    size = the cohort's own offset-0 count (broadcast self-join of
    the tiny report). retained_frac is one int/int IEEE division —
    engine-exact."""
    from fuzi_spark.ops.behavior import retention_cohorts

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return retention_cohorts(ev)


def q_gap_fill(spark, sf_dir):
    """Gap-filled daily per-type counts (ops/behavior.py): map-side-
    combined (type, day) counts, then ONE single-row aggregate holds
    bounds + type set + a count lookup map, and the dense grid is two
    explodes + a map probe over that row — one events scan, zero
    joins, nothing collected to the driver. Silent days materialize
    as explicit zero rows (is_gap = true)."""
    from fuzi_spark.ops.behavior import gap_fill_daily

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    return gap_fill_daily(ev)


def q_attribution(spark, sf_dir):
    """Last-touch attribution (integration over ops/relational.py's
    as-of join): every purchase picks up the user's most recent view
    or click at-or-before it, nulled beyond a 1-day lookback via the
    operator's tolerance contract — the union+carry-forward window
    shape, ONE shuffle on user_id. Oracle: DuckDB's NATIVE ASOF LEFT
    JOIN plus the same epoch-difference tolerance arithmetic — an
    independent implementation of the semantics."""
    from fuzi_spark.ops.relational import asof_join

    ev = spark.read.parquet(f"{sf_dir}/events.parquet")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    touches = ev.filter(
        F.col("event_type").isin("view", "click")
    ).select("user_id", "ts", F.col("event_type").alias("touch"))
    j = asof_join(
        purchases,
        touches,
        on="user_id",
        left_ts="ts",
        right_ts="ts",
        payload=["touch"],
        tolerance=86400.0,
    )
    return j.select(
        "event_id",
        "user_id",
        F.col("asof_touch").alias("touch_type"),
        (
            F.col("ts").cast("timestamp").cast("double")
            - F.col("asof_ts_matched")
        ).alias("lag_s"),
        F.col("asof_touch").isNotNull().alias("attributed"),
    )


def q_collocations(spark, sf_dir):
    """PMI collocations (ops/colloc.py): unigram + adjacent-bigram
    counts in ONE explode/groupBy pass (single corpus scan), reduced
    frame scoped_persist()ed for its three consumers, lift computed
    with an engine-identical IEEE op sequence and used as the ranking
    key (ln() only in the VALUE — a libm ulp must never flip the
    top-n boundary). Oracle replays the counting and the exact
    arithmetic relationally. Composed pipelines wrap the call in
    cache_scope() (ops/cache.py) to release the counts persist."""
    from fuzi_spark.ops.colloc import collocations

    return collocations(_docs(spark, sf_dir), min_count=5, top_n=100)


def q_ngram_novelty(spark, sf_dir):
    """Per-doc n-gram novelty (ops/novelty.py): fraction of each
    document's DISTINCT trigrams seen in no other document, plus its
    max corpus document-frequency — the boilerplate-saturation /
    memorization-risk signal. One map-side array_distinct shrink, one
    df groupBy (count(*) IS df since each doc ships each gram once),
    one co-partitioned join back, one doc_id fold. Oracle replays the
    identical token + gram convention relationally."""
    from fuzi_spark.ops.novelty import ngram_novelty

    return ngram_novelty(_docs(spark, sf_dir), n=3)


def q_media_integrity(spark, sf_dir):
    """Span->asset referential integrity (ops/media.py
    media_ref_integrity): the media table holds m://k for even k;
    doc_id%4 plants a resolved+orphan pair with a duplicate ref (0),
    one resolved ref (1), one orphan (2), no media spans (3). Oracle
    writes the EXPECTED verdicts straight from the parity formula."""
    from fuzi_spark.ops.media import media_ref_integrity

    d = _docs(spark, sf_dir)
    sid = F.col("doc_id").cast("string")
    ref_self = F.concat(F.lit("m://"), sid)
    ref_next = F.concat(F.lit("m://"), (F.col("doc_id") + 1).cast("string"))
    ref_prev = F.concat(F.lit("m://"), (F.col("doc_id") - 1).cast("string"))
    ns = F.lit(None).cast("string")

    def med(ref, off):
        return F.struct(
            F.lit("media").alias("kind"),
            ns.alias("text"),
            ref.alias("media_ref"),
            F.lit(off).alias("offset"),
        )

    txt = F.struct(
        F.lit("text").alias("kind"),
        F.lit("t").alias("text"),
        ns.alias("media_ref"),
        F.lit(9).alias("offset"),
    )
    m = F.col("doc_id") % 4
    spans = (
        F.when(m == 0, F.array(med(ref_self, 0), med(ref_self, 1),
                               med(ref_next, 2), txt))
        .when(m == 1, F.array(med(ref_prev, 0), txt))
        .when(m == 2, F.array(med(ref_next, 0)))
        .otherwise(F.array(txt))
    )
    media = (
        d.where(F.col("doc_id") % 2 == 0)
        .select(ref_self.alias("media_id"))
    )
    return media_ref_integrity(
        d.select("doc_id", spans.alias("spans")), media
    )


def q_span_validate(spark, sf_dir):
    """Span-table structural gate (ops/assemble.py span_validate)
    over constructed spans: doc_id%6 plants one case per reason class
    — valid (0), empty array (1), unknown kind WITH a NULL text also
    planted (2: pins precedence), media missing its ref (3), non-media
    NULL text (4), offset tie/inversion (5). Oracle writes the
    EXPECTED verdicts straight from the construction formula."""
    from fuzi_spark.ops.assemble import span_validate

    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 6
    ns = F.lit(None).cast("string")

    def sp(kind, text, ref, off):
        return F.struct(
            (F.lit(kind) if kind else ns).alias("kind"),
            (F.lit(text) if text is not None else ns).alias("text"),
            (F.lit(ref) if ref else ns).alias("media_ref"),
            F.lit(off).alias("offset"),
        )

    empty = F.array().cast(
        "array<struct<kind:string,text:string,media_ref:string,offset:int>>"
    )
    spans = (
        F.when(
            m == 0,
            F.array(
                sp("text", "a", None, 0),
                sp("media", None, "img://x", 1),
                sp("heading", "h", None, 2),
            ),
        )
        .when(m == 1, empty)
        .when(m == 2, F.array(sp("banner", None, None, 0), sp("text", "b", None, 1)))
        .when(m == 3, F.array(sp("media", None, None, 0), sp("text", "x", None, 1)))
        .when(m == 4, F.array(sp("text", None, None, 0), sp("caption", "c", None, 1)))
        .otherwise(
            F.array(
                sp("text", "a", None, 0),
                sp("text", "b", None, 5),
                sp("text", "c", None, 3),
            )
        )
    )
    return span_validate(d.select("doc_id", spans.alias("spans")))


def q_strip_running_lines(spark, sf_dir):
    """Running header/footer flagging (ops/pagelayout.py) over a
    constructed page-line table: each doc gets doc_id%3+2 pages of 4
    lines; even docs carry a constant header (running), odd docs a
    per-page letter header (kept), every doc a 'Page N' footer whose
    digit normalization must unify it (running); interior lines repeat
    but can never be flagged. Oracle replays zones, normalization,
    distinct-page thresholds, and the flag join relationally."""
    from fuzi_spark.ops.pagelayout import strip_running_lines

    d = _docs(spark, sf_dir)
    letters = F.array(F.lit("a"), F.lit("b"), F.lit("c"), F.lit("d"))

    def mk(p):
        page = p.cast("int")
        header = F.when(
            F.col("doc_id") % 2 == 0, F.lit("ACME Corp")
        ).otherwise(
            F.concat(F.lit("intro "), F.element_at(letters, page + 1))
        )
        return F.array(
            F.struct(
                page.alias("page"),
                F.lit(0).alias("line_no"),
                F.lit(4).alias("n_lines"),
                header.alias("text"),
            ),
            F.struct(
                page.alias("page"),
                F.lit(1).alias("line_no"),
                F.lit(4).alias("n_lines"),
                F.substring(
                    "text", page * 10 + 1, F.lit(30)
                ).alias("text"),
            ),
            F.struct(
                page.alias("page"),
                F.lit(2).alias("line_no"),
                F.lit(4).alias("n_lines"),
                F.concat(
                    F.lit("mid "), F.element_at(letters, page + 1)
                ).alias("text"),
            ),
            F.struct(
                page.alias("page"),
                F.lit(3).alias("line_no"),
                F.lit(4).alias("n_lines"),
                F.concat(
                    F.lit("Page "), (page + 1).cast("string")
                ).alias("text"),
            ),
        )

    rows = (
        d.select(
            "doc_id",
            F.explode(
                F.flatten(
                    F.transform(
                        F.sequence(
                            F.lit(0).cast("long"), F.col("doc_id") % 3 + 1
                        ),
                        mk,
                    )
                )
            ).alias("_l"),
        )
        .select("doc_id", "_l.page", "_l.line_no", "_l.n_lines", "_l.text")
    )
    return strip_running_lines(rows, band=1, min_pages=2, min_frac=0.6)


def q_pseudonymize(spark, sf_dir):
    """Consistent email pseudonymization (ops/redact.py
    pseudonymize_emails) over constructed text: doc_id%4 plants the
    same formula address twice (0), a substring-nested pair xb@c.com /
    b@c.com whose replacement order is the correctness edge (1), a
    mixed-case duplicate that must merge to ONE identity and ONE
    pseudonym (2), nothing (3). The oracle replays the identical
    lpad-key ordering and literal-replace fold in DuckDB — hash
    equality proves both the md5 formula and the fold order."""
    from fuzi_spark.ops.redact import pseudonymize_emails

    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 4
    sid = F.col("doc_id").cast("string")
    planted = (
        F.when(
            m == 0,
            F.concat(
                F.lit(" write u"), sid, F.lit("@a.com or u"), sid,
                F.lit("@a.com"),
            ),
        )
        .when(m == 1, F.lit(" pair xb@c.com b@c.com"))
        .when(m == 2, F.lit(" shared@x.org and Shared@X.org"))
        .otherwise(F.lit(""))
    )
    t = F.concat(F.substring("text", 1, 40), planted)
    return pseudonymize_emails(d.select("doc_id", t.alias("text")))


def q_section_chunks(spark, sf_dir):
    """Heading-delimited section chunking (ops/sections.py) over a
    constructed interleaved span table (the input_hint shape):
    doc_id%5==0 plants a preamble span (section 0 with NULL heading),
    doc_id%3==0 plants a media span inside section 1, every doc gets
    two headings, a possibly-empty mid text and a formula tail. The
    oracle replays the slot construction as UNION ALL rows and the
    running-heading-count window + ordered re-join relationally."""
    from fuzi_spark.ops.sections import section_chunks

    d = _docs(spark, sf_dir)
    ns = F.lit(None).cast("string")

    def slot(pos, kind, text, media=None, cond=None):
        k = F.lit(kind) if cond is None else F.when(cond, F.lit(kind))
        return F.struct(
            k.alias("kind"),
            (ns if text is None else text).alias("text"),
            (ns if media is None else media).alias("media_ref"),
            F.lit(pos).alias("offset"),
        )

    sid = F.col("doc_id").cast("string")
    spans = F.filter(
        F.array(
            slot(0, "text", F.lit("lead para"), cond=F.col("doc_id") % 5 == 0),
            slot(1, "heading", F.concat(F.lit("Intro "), F.col("source"))),
            slot(2, "text", F.substring("text", 1, 60)),
            slot(
                3,
                "media",
                None,
                media=F.concat(F.lit("img://"), sid),
                cond=F.col("doc_id") % 3 == 0,
            ),
            slot(4, "heading", F.lit("Details")),
            slot(5, "text", F.substring("text", 61, 80)),
            slot(6, "text", F.concat(F.lit("tail "), sid)),
        ),
        lambda s: s["kind"].isNotNull(),
    )
    return section_chunks(d.select("doc_id", spans.alias("spans")))


def q_extract_citations(spark, sf_dir):
    """Citation-id extraction (ops/citations.py) over constructed
    text: doc_id%6 plants one case per class — a formula-derived DOI
    (0), a duplicate DOI plus one embedding the word 'arXiv' with no
    colon (1: dedup + no cross-match), mixed-case arXiv ids with
    trailing punctuation (2), RFC space/hyphen/too-short forms (3),
    near-miss decoys that must all be rejected (4: 3-digit DOI
    registrant, 3-digit arXiv year, 2-digit RFC), nothing (5). The
    oracle runs the IDENTICAL patterns in DuckDB over the identical
    construction — the portability proof for the Java∩RE2 subset."""
    from fuzi_spark.ops.citations import extract_citations

    d = _docs(spark, sf_dir)
    m = F.col("doc_id") % 6
    planted = (
        F.when(
            m == 0,
            F.concat(
                F.lit(" see doi:10.1234/x."), F.col("doc_id").cast("string")
            ),
        )
        .when(m == 1, F.lit(" 10.5555/a1 10.5555/a1 (10.48550/arXiv.2107.06499)"))
        .when(m == 2, F.lit(" ArXiv:2302.03169v2 plus arxiv:2107.06499."))
        .when(m == 3, F.lit(" RFC 9309, rfc-793 and RFC 12"))
        .when(m == 4, F.lit(" 10.123/tooshort arXiv:123.4567 rfc 12"))
        .otherwise(F.lit(""))
    )
    t = F.concat(F.substring("text", 1, 40), planted)
    return extract_citations(d.select("doc_id", t.alias("text")))


_GAZETTEER = [
    ("hash join", "op"),
    ("merge scan", "op"),
    ("sort table", "obj"),
    ("spark", "sys"),
    ("key agg row", "op3"),
]


def q_gazetteer_tag(spark, sf_dir):
    """Gazetteer phrase tagging (ops/gazetteer.py): a 5-phrase
    dictionary (lengths 1..3) matched against every document as a
    relational join — candidate token windows for all phrase lengths
    built in ONE tokenize pass and one explode, broadcast join on the
    phrase string, map-side mention aggregation. No per-row automaton,
    no Python matcher. Oracle replays the construction: same token
    convention, same window slices, same join."""
    from fuzi_spark.ops.gazetteer import gazetteer_tag

    gz = spark.createDataFrame(_GAZETTEER, "phrase string, tag string")
    return gazetteer_tag(_docs(spark, sf_dir), gz)


def q_rrf_fuse(spark, sf_dir):
    """Reciprocal-rank fusion (ops/fuse.py): two BM25 rankings for
    query reformulations ('hash join merge scan' / 'window sort group
    agg') fused by rrf = sum 1/(60+rank) — rank-only fusion, union +
    ONE groupBy (not an n-way outer join), each term one IEEE integer
    division so the ordering key is engine-stable. Oracle replays both
    BM25 scorings (the bm25_search oracle construction twice), the
    row_number ranking, and the identical fusion arithmetic."""
    from fuzi_spark.ops.bm25 import bm25_search
    from fuzi_spark.ops.fuse import rrf_fuse, to_ranking

    d = _docs(spark, sf_dir)
    ranks = [
        to_ranking(bm25_search(d, q, top_n=50))
        for q in ("hash join merge scan", "window sort group agg")
    ]
    return rrf_fuse(ranks, k=60, top_n=20)


def q_source_drift(spark, sf_dir):
    """Per-source distribution drift (ops/drift.py): unigram
    Jensen-Shannon divergence of every source against the corpus —
    ONE corpus scan, vocab-sized counts persist shared by the corpus
    re-aggregation and the cell join, absent-cell q-mass folded in
    algebraically (0.5*(1-qmass)*ln2) so the dense source x vocab
    cross join never exists. Oracle: the identical formulation
    relationally; jsd is a VALUE column (6-sig-digit rounding absorbs
    float-sum grouping noise, the bm25/lm_perplexity contract) and
    the ORDER key is the source string."""
    from fuzi_spark.ops.drift import source_drift

    return source_drift(_docs(spark, sf_dir))


def q_balanced_shards(spark, sf_dir):
    """Weight-balanced shard assignment (ops/packing.py
    balanced_shards): docs in (n_chars desc, doc_id) order dealt
    boustrophedon across 16 shards — the deterministic near-LPT
    writer layout. The global rank comes from range-bucketed offsets
    + per-bucket windows (percentile_approx cut points only shift
    work between tasks, never the answer); the oracle is the
    single-window ROW_NUMBER differential the bucketing must match
    byte-for-byte, plus the same wave arithmetic."""
    from fuzi_spark.ops.packing import balanced_shards

    d = _docs(spark, sf_dir).select("doc_id", "n_chars")
    return balanced_shards(d, n_shards=16, weight_col="n_chars")


def q_pr_curve(spark, sf_dir):
    """Classifier operating-point sweep (ops/classify.pr_curve): a
    deterministic scored set built from doc_id — label = doc_id%3==0,
    score = ((doc_id*37)%101)/100.0 (exact hundredths, so every
    score-vs-threshold comparison is the same double decision in both
    engines) — swept at five thresholds. The oracle recomputes the
    full confusion matrix relationally (threshold unnest -> one hash
    agg) and the precision/recall/f1 arithmetic in the identical
    spelling, so the division/NULL contract is value-checked."""
    from fuzi_spark.ops.classify import pr_curve

    d = _docs(spark, sf_dir).select(
        (F.col("doc_id") % 3 == 0).cast("int").alias("label"),
        (((F.col("doc_id") * 37) % 101).cast("double") / 100.0).alias(
            "score"
        ),
    )
    return pr_curve(d, [0.1, 0.3, 0.5, 0.7, 0.9])


def q_near_decontaminate(spark, sf_dir):
    """Fuzzy benchmark decontamination (ops/dedup.near_decontaminate)
    over a zero-cross-overlap corpus (doc i's text is 25 unique tokens,
    as in `decontaminate`): the 'benchmark' is every 10th doc
    PARAPHRASED — its first 23 tokens kept, last 2 replaced — so exact
    decontamination finds nothing new, but trigram Jaccard is exactly
    21/25 = 0.84 (21 shared of 23+23-21 distinct shingles). Planted
    invariant: contaminated iff doc_id%10==0 with max_jaccard 21/25,
    else 0.0 (LSH recall at J=0.84 with 32x2 bands is 1-1e-17 per
    pair; the verify stage is exact set arithmetic, so spurious bucket
    collisions can never flag)."""
    from fuzi_spark.ops.dedup import near_decontaminate

    ids = _docs(spark, sf_dir).select("doc_id")
    tok = lambda j: F.concat(  # noqa: E731
        F.lit("w"),
        F.col("doc_id").cast("string"),
        F.lit("_"),
        j.cast("string"),
    )
    corpus = ids.select(
        "doc_id",
        F.concat_ws(
            " ", F.transform(F.sequence(F.lit(1), F.lit(25)), tok)
        ).alias("text"),
    )
    bench = ids.filter(F.col("doc_id") % 10 == 0).select(
        F.col("doc_id").alias("bench_id"),
        F.concat_ws(
            " ",
            F.concat(
                F.transform(F.sequence(F.lit(1), F.lit(23)), tok),
                F.array(
                    F.concat(
                        F.lit("b"),
                        F.col("doc_id").cast("string"),
                        F.lit("_1"),
                    ),
                    F.concat(
                        F.lit("b"),
                        F.col("doc_id").cast("string"),
                        F.lit("_2"),
                    ),
                ),
            ),
        ).alias("text"),
    )
    return near_decontaminate(corpus, bench, threshold=0.7)


def q_pq_encode(spark, sf_dir):
    """Product quantization of the embedding lake (ops/quantize.
    pq_encode): 64-dim float vectors -> 8 subspace codes against the
    deterministic demo codebook (exact binary-fraction centroids), via
    the codegen'd expression path (m*k=32). The oracle replays every
    squared distance, the first-min CASE tie-break, and the least()-sum
    reconstruction error with the identical arithmetic spelling —
    codes are exact-int checked, recon_err within 6-sig-fig rounding."""
    from fuzi_spark.ops.quantize import pq_codebook, pq_encode

    return pq_encode(
        _embeddings(spark, sf_dir),
        pq_codebook(8, 4, 8),
        vec_col="embedding",
        id_col="vec_id",
    )


def q_domain_weights(spark, sf_dir):
    """DoReMi-style domain reweighting (ops/sampling.domain_weights):
    per-source excess loss (proxy minus reference, clamped at 0) from
    deterministic doc_id-derived loss columns, softmaxed at tau=0.5
    into next-mix weights. ONE corpus scan with map-side partials into
    20 rows; the normalizer is an unpartitioned window over that
    metadata-sized table. Oracle replays the identical excess/softmax
    arithmetic (avg grouping noise and libm exp ulps both land inside
    the 6-sig-fig value rounding)."""
    from fuzi_spark.ops.sampling import domain_weights

    d = _docs(spark, sf_dir).select(
        "source",
        ((F.col("doc_id") * 7 % 40).cast("double") / 10.0).alias("loss"),
        ((F.col("doc_id") * 11 % 30).cast("double") / 10.0).alias(
            "ref_loss"
        ),
    )
    return domain_weights(d, "source", "loss", "ref_loss", temperature=0.5)


def q_bradley_terry(spark, sf_dir):
    """Bradley-Terry preference-rating fit (ops/btrank.bradley_terry).
    Comparisons are a planted BT tournament over 12 items: a=d%12,
    b=(5d+1)%12 (never equal: 4d+1 is odd mod 4), winner a iff
    d % (a+b+2) <= a — i.e. P(a wins) tracks (a+1)/(a+b+2), exactly a
    BT model with strength i+1, so the fit must recover the index
    order. Oracle unrolls the identical MM recurrence 8 rounds in SQL
    (float grouping-order ulps land inside 6-sig-fig rounding)."""
    from fuzi_spark.ops.btrank import bradley_terry

    d = _docs(spark, sf_dir).select(F.col("doc_id").alias("d"))
    a = F.col("d") % 12
    b = (F.col("d") * 5 + 1) % 12
    a_wins = (F.col("d") % (a + b + 2)) <= a
    comp = d.select(
        F.when(a_wins, a).otherwise(b).alias("winner"),
        F.when(a_wins, b).otherwise(a).alias("loser"),
    )
    return bradley_terry(comp, n_iter=8)


def q_shard_manifest(spark, sf_dir):
    """Content-addressed shard manifest + run-over-run diff
    (ops/manifest.py): old = documents as-is; new = same corpus with
    doc_id%7==3 texts edited and doc_id%11==5 docs dropped. The diff
    must localize drift to exactly the shards holding touched docs;
    the old manifest's content_hash/n_chars ride along so the oracle
    pins the 60-bit xor fingerprints bit-exact, not just statuses."""
    from fuzi_spark.ops.manifest import manifest_diff, shard_manifest

    d = _docs(spark, sf_dir)
    old = d.select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.coalesce("text", F.lit("")).alias("text"),
    )
    new = (
        d.where(F.col("doc_id") % 11 != 5)
        .select(
            F.col("doc_id").cast("string").alias("doc_id"),
            F.when(
                F.col("doc_id") % 7 == 3,
                F.concat(F.coalesce("text", F.lit("")), F.lit(" v2")),
            )
            .otherwise(F.coalesce("text", F.lit("")))
            .alias("text"),
        )
    )
    m_old = shard_manifest(old, n_shards=32)
    return manifest_diff(m_old, shard_manifest(new, n_shards=32)).join(
        m_old.select("shard_id", "content_hash", "n_chars"),
        "shard_id",
        "left",
    )


def q_corpus_rollup(spark, sf_dir):
    """Hierarchical dataset-card report (ops/diagnostics.rollup_report):
    docs/chars/avg by (source, lang) + source subtotals + grand total
    in ONE scan — Expand replicates rows per grouping set map-side and
    partial aggregation collapses them before the single exchange.
    level = grouping_id (1 = lang rolled up, 3 = grand total); DuckDB's
    GROUPING(source, lang) uses the same bit order (verified)."""
    from fuzi_spark.ops.diagnostics import rollup_report

    return rollup_report(_docs(spark, sf_dir), dims=("source", "lang"))


def q_corpus_overlap(spark, sf_dir):
    """Bottom-k token-set overlap between two corpora
    (ops/sketch.corpus_overlap): A = documents as-is; B keeps even
    docs' text and replaces odd docs' with unique junk tokens, so the
    true overlap is mid-range. The bottom-k estimator is deterministic
    given the md5 hash, so the oracle replays sketches, union bottom-k,
    and all three estimates bit-exactly."""
    from fuzi_spark.ops.sketch import corpus_overlap

    d = _docs(spark, sf_dir)
    a = d.select("text")
    b = d.select(
        F.when(F.col("doc_id") % 2 == 0, F.col("text"))
        .otherwise(
            F.concat(
                F.lit("u"),
                F.col("doc_id").cast("string"),
                F.lit(" v"),
                F.col("doc_id").cast("string"),
            )
        )
        .alias("text")
    )
    return corpus_overlap(a, b, k=256)


def q_microdata(spark, sf_dir):
    """Schema.org microdata explode (ops/microdata.py) over
    formula-built markup: every doc carries an Article scope (headline,
    a NESTED Person author — emitted as a value-NULL prop plus its own
    scope —, meta wordCount, a-href url), d%5==0 adds a time prop,
    d%3==0 appends a typeless scope with a two-token itemprop pinning
    token splitting and the NULL item_type branch. Oracle writes the
    expected (scope_idx, prop, value, prop_idx) rows directly."""
    from fuzi_spark.ops.microdata import extract_microdata_df

    i = F.col("doc_id")
    s = i.cast("string")
    markup = F.concat(
        F.lit('<html><body><div itemscope '
              'itemtype="https://schema.org/Article">'
              '<h1 itemprop="headline">T'), s,
        F.lit('</h1><span itemprop="author" itemscope '
              'itemtype="https://schema.org/Person">'
              '<b itemprop="name">A'), s,
        F.lit('</b></span><meta itemprop="wordCount" content="'),
        (i % 100).cast("string"),
        F.lit('"><a itemprop="url" href="/p/'), s, F.lit('">x</a>'),
        F.when(
            i % 5 == 0,
            F.concat(
                F.lit('<time itemprop="datePublished" '
                      'datetime="2024-01-0'),
                (i % 9 + 1).cast("string"),
                F.lit('">J</time>'),
            ),
        ).otherwise(F.lit("")),
        F.lit("</div>"),
        F.when(
            i % 3 == 0,
            F.concat(
                F.lit('<div itemscope><span itemprop="name alternateName">W'),
                s,
                F.lit("</span></div>"),
            ),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return extract_microdata_df(d)


def q_code_blocks(spark, sf_dir):
    """HTML code-block harvest (ops/microdata.py extract_code_blocks):
    block 0 is a two-line pre>code with a language-* class cycling by
    d%4; d%4==0 adds a pre with lang-js on the PRE (fallback path);
    d%6==0 adds a class-less pre>code (NULL language). Oracle writes
    the expected blocks, line counts, and lengths directly."""
    from fuzi_spark.ops.microdata import extract_code_blocks_df

    i = F.col("doc_id")
    s = i.cast("string")
    lang = F.element_at(
        F.array(F.lit("python"), F.lit("rust"), F.lit("go"), F.lit("sql")),
        (i % 4 + 1).cast("int"),
    )
    markup = F.concat(
        F.lit('<html><body><pre><code class="language-'), lang,
        F.lit('">line one '), s, F.lit("\nreturn "),
        (i % 7).cast("string"),
        F.lit("</code></pre>"),
        F.when(
            i % 4 == 0,
            F.concat(
                F.lit('<pre class="lang-js">console.log('), s,
                F.lit(")</pre>"),
            ),
        ).otherwise(F.lit("")),
        F.when(
            i % 6 == 0,
            F.concat(F.lit("<pre><code>plain "), s,
                     F.lit("</code></pre>")),
        ).otherwise(F.lit("")),
        F.lit("</body></html>"),
    )
    d = _docs(spark, sf_dir).select("doc_id", markup.alias("markup"))
    return extract_code_blocks_df(d)


def q_token_budget(spark, sf_dir):
    """Data-constrained mix planning (ops/sampling.token_budget_plan):
    per-source tokens = sum(n_chars), weights = source index + 1
    (skewed so high-weight sources cap and re-spread their excess —
    a multi-round cascade), budget = 1.5x corpus tokens, cap 2.0
    epochs. Every quantity is integer-valued in double, so the whole
    water-filling recurrence is bit-exact across engines — the oracle
    unrolls the identical rounds with window sums."""
    from fuzi_spark.ops.sampling import token_budget_plan

    d = _docs(spark, sf_dir)
    total = d.agg(F.sum("n_chars")).first()[0]
    per = d.groupBy("source").agg(
        F.sum("n_chars").alias("n_tokens")
    ).select(
        "source",
        "n_tokens",
        (
            F.regexp_extract("source", r"(\d+)", 1).cast("double") + 1.0
        ).alias("weight"),
    )
    return token_budget_plan(
        per, budget=1.5 * float(total), max_epochs=2.0, n_rounds=6
    )


def q_triangle_count(spark, sf_dir):
    """Distributed triangle counting (ops/graph.triangle_count) over a
    20-host graph derived from doc ids: edges (d%20, (3d+1)%20) and
    (d%20, (7d+2)%20), deduped/symmetrized inside the op. The oracle
    replays the whole Schank-Wagner dataflow (degrees, orientation,
    rank-ordered wedges, closing-edge join) relationally."""
    from fuzi_spark.ops.graph import triangle_count

    d = _docs(spark, sf_dir)
    h = lambda c: F.concat(F.lit("h"), c.cast("string"))  # noqa: E731
    i = F.col("doc_id")
    e = d.select(
        h(i % 20).alias("src"), h((i * 3 + 1) % 20).alias("dst")
    ).unionByName(
        d.select(h(i % 20).alias("src"), h((i * 7 + 2) % 20).alias("dst"))
    )
    return triangle_count(e)


def q_label_agreement(spark, sf_dir):
    """Fleiss' kappa label QA (ops/classify.fleiss_kappa): a 3-rater
    panel labels every doc A/B/C from d%3; raters 1 and 2 flip to the
    next label on decorrelated d%5 strata (partial agreement, so kappa
    is strictly between 0 and 1); d%17==0 items get a 4th rating and
    must be EXCLUDED and counted, not mixed in. Oracle replays the
    construction and the kappa arithmetic relationally."""
    from fuzi_spark.ops.classify import fleiss_kappa

    d = F.col("d")
    b = F.col("b")
    base = _docs(spark, sf_dir).select(
        F.col("doc_id").alias("d"), (F.col("doc_id") % 3).alias("b")
    )

    def rate(rater, lab):
        return base.select(
            d.alias("item"), F.lit(rater).alias("rater"), lab.alias("_l")
        )

    ratings = (
        rate(0, b)
        .unionByName(
            rate(1, F.when(d % 5 == 0, (b + 1) % 3).otherwise(b))
        )
        .unionByName(
            rate(2, F.when((d * 2 + 1) % 5 == 0, (b + 1) % 3).otherwise(b))
        )
        .unionByName(
            base.where(d % 17 == 0).select(
                d.alias("item"), F.lit(3).alias("rater"), b.alias("_l")
            )
        )
        .select(
            "item",
            "rater",
            F.element_at(
                F.array(F.lit("A"), F.lit("B"), F.lit("C")),
                (F.col("_l") + 1).cast("int"),
            ).alias("label"),
        )
    )
    return fleiss_kappa(ratings, n_raters=3)


def q_pareto_select(spark, sf_dir):
    """2D skyline over planted metrics (ops/pareto.pareto_frontier):
    quality = 7d mod 50 (maximize), cost = 13d mod 40 (minimize) —
    dense ties in both axes exercise the duplicate-stays rule. The
    oracle is an INDEPENDENT NOT EXISTS dominance scan, so the
    window algebra is checked against the skyline definition."""
    from fuzi_spark.ops.pareto import pareto_frontier

    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("doc_id") * 7 % 50).alias("quality"),
        (F.col("doc_id") * 13 % 40).alias("cost"),
    )
    return pareto_frontier(d, max_col="quality", min_col="cost")


def q_edit_join(spark, sf_dir):
    """SymSpell edit-distance self-join (ops/editjoin.edit_join) over
    planted typo families: docs in triples share base 'item<d/3>',
    with m=1 an insertion ('x' suffix) and m=2 a first-char
    substitution — plus whatever cross-family near-collisions the
    numerals create ('item16' vs 'item17'), which the brute-force
    oracle catches identically. k=1."""
    from fuzi_spark.ops.editjoin import edit_join

    i = F.col("doc_id")
    b = F.concat(F.lit("item"), F.floor(i / 3).cast("long").cast("string"))
    m = i % 3
    text = (
        F.when(m == 0, b)
        .when(m == 1, F.concat(b, F.lit("x")))
        .otherwise(F.concat(F.lit("j"), F.substring(b, 2, 100)))
    )
    d = _docs(spark, sf_dir).select("doc_id", text.alias("name"))
    return edit_join(d, k=1, id_col="doc_id", text_col="name")


def q_kcore(spark, sf_dir):
    """k-core peeling (ops/graph.kcore) on a sparse 25-node graph
    (docs < 60, edges (d%25, (3d+7)%25), avg degree ~4) at k=4 —
    sparse enough that peeling removes nodes and cascades. Oracle
    unrolls the identical peel rounds as HAVING-filtered semi-joins
    and recomputes the convergence check."""
    from fuzi_spark.ops.graph import kcore

    d = _docs(spark, sf_dir).where(F.col("doc_id") < 60)
    h = lambda c: F.concat(F.lit("g"), c.cast("string"))  # noqa: E731
    i = F.col("doc_id")
    e = d.select(h(i % 25).alias("src"), h((i * 3 + 7) % 25).alias("dst"))
    return kcore(e, k=4, n_rounds=8)


def q_retrieval_eval(spark, sf_dir):
    """IR metrics (ops/ir.retrieval_eval) over a constructed run:
    d -> query q(d%10) at rank d//10+1 (bijective: 10 queries x ranks
    1..50), gold = d%3==0 (~17/query, some beyond the k=10 cut, so
    recall < 1 and MRR sees ranks > k). n_gold >= 10 for every query
    by construction, so ideal DCG is the constant 10-term sum on both
    sides. Oracle replays joins + metric arithmetic (log2 ulps inside
    6-sig-fig rounding)."""
    from fuzi_spark.ops.ir import retrieval_eval

    i = F.col("doc_id")
    q = F.concat(F.lit("q"), (i % 10).cast("string"))
    doc = F.concat(F.lit("d"), i.cast("string"))
    d = _docs(spark, sf_dir)
    results = d.select(
        q.alias("query_id"),
        doc.alias("doc_id"),
        (F.floor(i / 10) + 1).cast("int").alias("rank"),
    )
    gold = d.where(i % 3 == 0).select(
        q.alias("query_id"), doc.alias("doc_id")
    )
    return retrieval_eval(results, gold, k=10)


def q_hll_rollup(spark, sf_dir):
    """HLL monoid merge (ops/sketch.hll_merge_rollup): per-language
    register tables merged into a '(total)' sketch by groupBy(idx)
    max-rank — the union-of-sets merge — with per-group AND overall
    estimates from the same register algebra, joined to exact distinct
    counts so the estimate error is visible. Oracle replays the merge
    and the harmonic estimate (dyadic 2^-rho sums — order-exact)."""
    from fuzi_spark.ops.sketch import hll_merge_rollup, hll_sketch

    toks = _docs(spark, sf_dir).select(
        "lang",
        F.explode(
            F.filter(
                F.split(F.trim(F.lower(F.col("text"))), r"\s+"),
                lambda t: t != "",
            )
        ).alias("token"),
    )
    est = hll_merge_rollup(
        hll_sketch(toks, "token", ["lang"]), "lang"
    )
    exact = (
        toks.groupBy("lang")
        .agg(F.countDistinct("token").alias("distinct_exact"))
        .unionByName(
            toks.agg(
                F.countDistinct("token").alias("distinct_exact")
            ).select(F.lit("(total)").alias("lang"), "distinct_exact")
        )
    )
    return est.join(exact, "lang")


def q_cdc_dedup(spark, sf_dir):
    """Content-defined chunking invariants (ops/cdc.cdc_chunks_df):
    every doc's 1024-byte blob is built from 64 md5-derived 16-byte
    segments keyed by g = doc_id%40, so each group's ~12 docs carry
    IDENTICAL bytes. The planted invariants the oracle writes
    directly: one distinct chunk sequence per group, chunk lengths
    partition the 1024-byte blob exactly, and every chunk respects
    max_size (min_size does not bind the tail chunk; boundaries
    themselves are content-derived — pinned by TestCdcChunks incl.
    the insertion-resync property)."""
    from fuzi_spark.ops.cdc import cdc_chunks_df

    g = (F.col("doc_id") % 40).cast("string")
    seg_hexes = F.transform(
        F.sequence(F.lit(0), F.lit(63)),
        lambda i: F.md5(
            F.concat(F.lit("seg:"), g, F.lit(":"), i.cast("string"))
        ),
    )
    payload = F.unhex(F.array_join(seg_hexes, ""))
    docs = _docs(spark, sf_dir).select(
        "doc_id", payload.alias("payload")
    )
    chunks = cdc_chunks_df(docs, avg_size=128, min_size=32, max_size=512)
    per_doc = chunks.groupBy("doc_id").agg(
        F.md5(
            F.array_join(
                F.transform(
                    F.array_sort(
                        F.collect_list(
                            F.struct("chunk_idx", "chunk_hash")
                        )
                    ),
                    lambda s: s["chunk_hash"],
                ),
                ",",
            )
        ).alias("_seq"),
        F.sum("length").alias("_blob_bytes"),
        F.max("length").alias("_max_chunk"),
    )
    return (
        per_doc.groupBy((F.col("doc_id") % 40).alias("grp"))
        .agg(
            F.count("*").alias("n_docs"),
            F.countDistinct("_seq").alias("n_seqs"),
            F.min("_blob_bytes").cast("bigint").alias("blob_bytes_min"),
            F.max("_blob_bytes").cast("bigint").alias("blob_bytes_max"),
            # max_size holds for EVERY chunk; min_size legitimately
            # does not bind the tail chunk (pinned in TestCdcChunks)
            (F.max("_max_chunk") <= 512).cast("int").alias("max_size_ok"),
        )
    )


def q_span_diff(spark, sf_dir):
    """Span-level extraction diff (ops/assemble.span_diff): old run =
    3 spans/doc (two text + one NULL-text media span — exercising the
    NULL-safe field compare); new run mutates by d%5: identical /
    text-changed / span-removed / span-added / kind-changed+added.
    Oracle writes the expected per-doc verdicts from the construction."""
    from fuzi_spark.ops.assemble import span_diff

    d = _docs(spark, sf_dir)
    i = F.col("doc_id")
    s = i.cast("string")
    ns = F.lit(None).cast("string")

    def spans(df, rows):
        parts = [
            df.select(
                "doc_id",
                F.lit(seq).alias("seq"),
                kind.alias("kind"),
                text.alias("text"),
                ref.alias("media_ref"),
            )
            for seq, kind, text, ref in rows
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out.unionByName(p)
        return out

    old = spans(
        d,
        [
            (0, F.lit("text"), F.concat(F.lit("a"), s), ns),
            (1, F.lit("text"), F.concat(F.lit("b"), s), ns),
            (2, F.lit("media"), ns, F.concat(F.lit("m://"), s)),
        ],
    )
    m = i % 5
    new = spans(
        d,
        [
            (
                0,
                F.when(m == 4, F.lit("heading")).otherwise(F.lit("text")),
                F.concat(F.lit("a"), s),
                ns,
            ),
            (
                1,
                F.lit("text"),
                F.when(m == 1, F.concat(F.lit("B"), s)).otherwise(
                    F.concat(F.lit("b"), s)
                ),
                ns,
            ),
            (2, F.lit("media"), ns, F.concat(F.lit("m://"), s)),
        ],
    )
    new = new.where(~((F.col("seq") == 2) & (m == 2)))
    extra = d.where((m == 3) | (m == 4)).select(
        "doc_id",
        F.lit(3).alias("seq"),
        F.lit("text").alias("kind"),
        F.concat(F.lit("c"), s).alias("text"),
        ns.alias("media_ref"),
    )
    return span_diff(old, new.unionByName(extra))


def q_tokenizer_fertility(spark, sf_dir):
    """Per-language tokenizer fertility (ops/textstats.
    tokenizer_fertility) over the real documents corpus: chars/bytes
    per BPE-ish token and tokens per doc — the multilingual
    budget-planning table. Oracle replicates regexp token counts,
    char lengths, and strlen byte lengths per language."""
    from fuzi_spark.ops.textstats import tokenizer_fertility

    return tokenizer_fertility(_docs(spark, sf_dir), "lang")


def q_markov_transitions(spark, sf_dir):
    """First-order Markov transition matrix (ops/behavior.
    markov_transitions) over the real events table: per-user streams
    ordered by (ts, event_id), last event transitions to '(end)'.
    Oracle replays the lead window and the per-row normalizer."""
    from fuzi_spark.ops.behavior import markov_transitions

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return markov_transitions(events)


def q_reliability_bins(spark, sf_dir):
    """Calibration reliability table (ops/classify.reliability_bins):
    score = (13d mod 100)/100, label = 1 iff (7d mod 100) < 13d mod
    100 — positive rate grows with score, so bins show a calibrated-ish
    but imperfect diagram. Oracle replays the bucket floor (identical
    IEEE double math) and the per-bin averages."""
    from fuzi_spark.ops.classify import reliability_bins

    i = F.col("doc_id")
    d = _docs(spark, sf_dir).select(
        ((i * 13 % 100).cast("double") / 100.0).alias("score"),
        ((i * 7 % 100) < (i * 13 % 100)).cast("int").alias("label"),
    )
    return reliability_bins(d, n_bins=10)


def q_weighted_sample(spark, sf_dir):
    """Deterministic weighted sampling without replacement (ops/
    sampling.weighted_sample): Efraimidis–Spirakis top-k with a
    content-stable md5 uniform, weight = (n_chars % 101) - 3 so some
    rows carry non-positive weight and exercise the exclusion filter.
    Oracle replays the exact u arithmetic ((hex13 + 0.5) / 2^52) and
    the pow-keyed ORDER BY ... LIMIT selection."""
    from fuzi_spark.ops.sampling import weighted_sample

    return weighted_sample(
        _docs(spark, sf_dir),
        k=200,
        weight_col=(F.col("n_chars") % 101 - 3),
        key_col="doc_id",
        salt="aes",
    )


def q_skew_join(spark, sf_dir):
    """Salted skew-replicated join (ops/skewjoin.salted_join): events
    (hot event_type keys) against a per-type dim, salted 8 ways, then
    an integer-only rollup. The oracle runs the PLAIN unsalted join —
    asserting the salt+replicate plan is row-identical to it."""
    from fuzi_spark.ops.skewjoin import salted_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (
        events.select("event_type")
        .distinct()
        .withColumn("type_len", F.length("event_type").cast("int"))
    )
    j = salted_join(
        events.select("event_id", "user_id", "event_type"),
        dim,
        "event_type",
        n_salts=8,
    )
    return j.groupBy("event_type", "type_len").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("user_id") % 7).alias("sum_uid_mod7"),
    )


def q_quantile_rollup(spark, sf_dir):
    """Mergeable histogram quantile sketch (ops/sketch.quantile_rollup):
    per-lang n_chars histograms (width-8 bins over [0,1024)) merged to
    corpus p50/p90/p99. Oracle replays the integer binning, cumulative
    window, and ceil(q*total) selection — all integer/IEEE-exact."""
    from fuzi_spark.ops.sketch import quantile_rollup

    return quantile_rollup(
        _docs(spark, sf_dir),
        "n_chars",
        "lang",
        qs=(0.5, 0.9, 0.99),
        n_bins=128,
        lo=0,
        width=8,
    )


def q_frequent_pairs(spark, sf_dir):
    """A-priori pruned document co-occurrence mining (ops/cooccur.
    frequent_pairs) over the real documents corpus: df band [2, 95% of
    docs] (the synthetic corpus has a ~30-token vocabulary at ~78% df,
    so a stopword-tight band would empty it), pairs in >= 50 docs.
    Oracle replays the identical tokenize/band/self-join/count
    dataflow."""
    from fuzi_spark.ops.cooccur import frequent_pairs

    return frequent_pairs(
        _docs(spark, sf_dir),
        min_df=2,
        max_df_frac=0.95,
        min_pair_df=50,
    )


def q_assign_ids(spark, sf_dir):
    """Contiguous global id assignment (ops/relational.
    assign_contiguous_ids): two-pass range-bucketed rank over a
    scrambled unique key (n_chars*2^20 + doc_id) — output invariant to
    the bucket split points. Oracle: ROW_NUMBER() OVER (ORDER BY key)."""
    from fuzi_spark.ops.relational import assign_contiguous_ids

    d = _docs(spark, sf_dir).select(
        "doc_id",
        (F.col("n_chars") * 1048576 + F.col("doc_id")).alias("sortkey"),
    )
    return assign_contiguous_ids(d, "sortkey", n_buckets=16)


def q_vocab_rank(spark, sf_dir):
    """Composite-key distributed global rank (ops/relational.
    global_rank): token vocabulary of the documents table ranked by
    (document_frequency ASC, token ASC) — the window-free total order
    set_similarity's prefix filter consumes. Zipf ties (most tokens
    have df == 1) force the composite range split; output invariant
    to the sampled bucket boundaries. Oracle: ROW_NUMBER() OVER
    (ORDER BY df, token)."""
    from fuzi_spark.ops.relational import global_rank

    toks = _docs(spark, sf_dir).select(
        F.explode(
            F.array_distinct(
                F.regexp_extract_all(
                    F.lower(F.coalesce(F.col("text"), F.lit(""))),
                    F.lit("[a-z0-9]{2,}"),
                    F.lit(0),
                )
            )
        ).alias("token")
    )
    vocab = toks.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    return global_rank(vocab, ["df", "token"], n_buckets=16)


def q_containment_join(spark, sf_dir):
    """Exact shingle containment (ops/dedup.ngram_containment) on
    planted EXCERPT pairs: doc B = first half of doc A's words, so
    shingles(B) ⊂ shingles(A) ⇒ containment_b ≡ 1.0 while
    containment_a ≈ 0.5 and Jaccard would miss the duplication —
    Broder's containment-vs-resemblance case. String-shingle path,
    bit-exact vs the SQL oracle (the production path is hashed)."""
    from fuzi_spark.ops.dedup import ngram_containment

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d2 = d.withColumn("_w", F.split("text", " ")).withColumn(
        "_n2", F.greatest(F.expr("size(_w) div 2"), F.lit(3))
    )
    excerpt = d2.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice("_w", F.lit(1), F.col("_n2")), " ").alias(
            "text"
        ),
    )
    pairs = d.select(
        F.col("doc_id").alias("id_a"),
        (F.col("doc_id") + 1000000).alias("id_b"),
    )
    got = ngram_containment(
        pairs, d.unionByName(excerpt), hashed=False, broadcast_pairs=True
    )
    return got.select(
        "id_a",
        "id_b",
        F.round("containment_a", 9).alias("containment_a"),
        F.round("containment_b", 9).alias("containment_b"),
        F.round("containment", 9).alias("containment"),
    )


def q_score_percentiles(spark, sf_dir):
    """Sort-free per-group quantile normalization (ops/sketch.
    score_percentiles): every document's n_chars percentile band
    within its language via the histogram-sketch CDF + a broadcast
    (group, bin) join — no per-group corpus sort. Oracle replays the
    binning, the windowed CDF, and both IEEE divisions."""
    from fuzi_spark.ops.sketch import score_percentiles

    got = score_percentiles(
        _docs(spark, sf_dir), "n_chars", "lang", n_bins=128, lo=0, width=8
    )
    return got.select(
        "doc_id", "lang", "n_chars", "bin", "pct_lo", "pct_hi"
    )


def q_skipgram_pairs(spark, sf_dir):
    """Skip-gram training-pair extraction (ops/cooccur.skipgram_pairs)
    over the real corpus: ordered pairs at distance 1..2, counted,
    long tail pruned at n >= 5. Oracle replays the positional
    tokenization and the banded self-join."""
    from fuzi_spark.ops.cooccur import skipgram_pairs

    return skipgram_pairs(_docs(spark, sf_dir), window=2, min_count=5)


def q_similarity_ivfpq(spark, sf_dir):
    """IVF-PQ ANN (ops/similarity.cosine_topk_ivfpq) on the planted
    probes: rerank=200 covers every probed-cell candidate (500 vecs /
    16 cells × 4 probes ≈ 125), so the exact re-rank provably returns
    the original as rank-1 — the same IVF invariant, now through the
    code→ADC→shortlist→exact funnel. A genuinely PRUNING rerank is
    pinned in TestIvfPq on constructed clusters."""
    from fuzi_spark.ops.similarity import cosine_topk_ivfpq

    vecs = _embeddings(spark, sf_dir).select(
        "vec_id",
        F.transform("embedding", lambda x: x.cast("double")).alias(
            "embedding"
        ),
    )
    out = cosine_topk_ivfpq(
        vecs,
        _planted_probes(vecs),
        k=5,
        n_cells=16,
        n_probe=4,
        rerank=200,
    )
    return out.filter(F.col("rank") == 1).select("query_id", "neighbor_id")


def q_robust_outliers(spark, sf_dir):
    """Median/MAD outlier gate at sketch precision (ops/sketch.
    robust_outliers) on per-lang n_chars: no sorts, two scan passes,
    integer med2/mad2/dev2. Oracle replays both histogram medians and
    the k·MAD comparison."""
    from fuzi_spark.ops.sketch import robust_outliers

    got = robust_outliers(
        _docs(spark, sf_dir), "n_chars", "lang", k=3.0, n_bins=128,
        lo=0, width=8,
    )
    return got.select(
        "doc_id", "lang", "n_chars", "med2", "mad2", "dev2", "is_outlier"
    )


def q_group_sample(spark, sf_dir):
    """Deterministic per-group k-sample (ops/sampling.group_sample):
    first 20 docs per language by the content-stable md5 order.
    Oracle replays the identical ROW_NUMBER window."""
    from fuzi_spark.ops.sampling import group_sample

    got = group_sample(_docs(spark, sf_dir), k=20, group_col="lang")
    return got.select("doc_id", "lang", "sample_rank")


def q_join_size(spark, sf_dir):
    """CMS inner-product join-size estimate (ops/sketch.
    join_size_estimate): events ⋈ its own 10% subsample on event_type
    — the pre-join planning probe. Few distinct keys at width 1024 ⇒
    collision-free ⇒ the estimate is EXACTLY the join size; the
    oracle replays the full sketch arithmetic either way."""
    from fuzi_spark.ops.sketch import join_size_estimate

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    right = events.filter(F.col("event_id") % 10 == 0)
    return join_size_estimate(events, right, "event_type")


def q_length_buckets(spark, sf_dir):
    """Bucketed-batching padding plan (ops/packing.length_buckets)
    over documents n_chars: equal-depth quantile caps, per-bucket
    batch sizes and padding vs flat-max padding — all integer.
    Oracle replays the quantile caps and every sum."""
    from fuzi_spark.ops.packing import length_buckets

    return length_buckets(
        _docs(spark, sf_dir), "n_chars", n_buckets=4, token_budget=4096
    )


def q_scd2_history(spark, sf_dir):
    """SCD type-2 validity windows (ops/relational.scd2_history) over
    the real event stream: per-user event_type version history with
    unchanged-state collapse, (ts, event_id) tie-break. Oracle replays
    the lag change detection and both windows."""
    from fuzi_spark.ops.relational import scd2_history

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    return scd2_history(
        events, "user_id", "ts", ["event_type"], tiebreak_col="event_id"
    )


def q_quantile_map(spark, sf_dir):
    """Cross-corpus quantile transform (ops/sketch.quantile_map):
    English doc lengths mapped onto the French length distribution via
    histogram inverse-CDF — the score-calibration step, sort-free.
    Oracle replays both CDFs and the rank lookup."""
    from fuzi_spark.ops.sketch import quantile_map

    d = _docs(spark, sf_dir)
    got = quantile_map(
        d.filter(F.col("lang") == "en"),
        "n_chars",
        d.filter(F.col("lang") == "fr"),
        "n_chars",
    )
    return got.select(
        "doc_id", "n_chars", "bin", "pct_lo", "mapped_bin", "mapped_value"
    )


def q_containment_pipeline(spark, sf_dir):
    """The full containment funnel (minhash LSH candidates → exact
    hashed-shingle containment): corpus = docs ∪ 90%-prefix excerpts
    (J ≈ 0.9 ⇒ banded collision probability 1−3e-8 per pair, the
    repo's planted-recovery convention), verified containment_b ≡ 1.0
    because prefix shingles are a subset. Filtered to the planted
    pairs — organic cross-doc collisions are the operator's job but
    not SQL-predictable."""
    from fuzi_spark.ops.dedup import minhash_lsh_candidates, ngram_containment

    d = _docs(spark, sf_dir).select("doc_id", "text")
    d2 = d.withColumn("_w", F.split("text", " ")).withColumn(
        "_n2",
        F.greatest(F.expr("(size(_w) * 9) div 10"), F.lit(3)),
    )
    excerpt = d2.select(
        (F.col("doc_id") + 1000000).alias("doc_id"),
        F.array_join(F.slice("_w", F.lit(1), F.col("_n2")), " ").alias(
            "text"
        ),
    )
    both = d.unionByName(excerpt)
    cands = minhash_lsh_candidates(both, n_hashes=64, bands=16)
    planted = cands.filter(F.col("id_b") - F.col("id_a") == 1000000)
    return ngram_containment(planted, both).select(
        "id_a",
        "id_b",
        F.round("containment_b", 9).alias("containment_b"),
    )


def q_set_similarity(spark, sf_dir):
    """Exact prefix-filtered set-similarity self-join (ops/setjoin.
    set_similarity_join) over 3-word-SHINGLE sets at Jaccard >= 0.8 —
    the oracle is an INDEPENDENT brute-force all-pairs Jaccard in
    DuckDB (25 organic near-dup pairs at sf0.01), so the prefix
    filter's zero-false-negative guarantee is differentially tested,
    not planted. Shingle sets (not token sets) keep the metric
    order-sensitive and the prefixes selective on this shared-
    vocabulary corpus."""
    from fuzi_spark.ops.setjoin import set_similarity_join

    return set_similarity_join(
        _docs(spark, sf_dir), threshold=0.8, shingle_n=3
    )


def q_weighted_draws(spark, sf_dir):
    """With-replacement weighted sampling (ops/sampling.
    weighted_draws): 1000 epoch draws over per-language doc counts —
    integer target ranks, so no boundary ulp can flip a draw. Oracle
    replays the cumulative table and every draw's rank lookup."""
    from fuzi_spark.ops.sampling import weighted_draws

    wts = (
        _docs(spark, sf_dir)
        .groupBy(F.col("lang").alias("key"))
        .agg(F.count(F.lit(1)).alias("w"))
    )
    return weighted_draws(wts, n_draws=1000)


def q_poisson_bootstrap(spark, sf_dir):
    """Poisson-bootstrap error bars (ops/diagnostics.
    poisson_bootstrap) on the corpus n_chars sum: 16 content-stable
    Poisson(1) re-weighted replicate sums in ONE scan. Replicate sums
    are exact longs; the oracle replays the inverse-CDF CASE chains
    and the left-assoc mean/std arithmetic."""
    from fuzi_spark.ops.diagnostics import poisson_bootstrap

    return poisson_bootstrap(_docs(spark, sf_dir), "n_chars")


def q_bloom_join(spark, sf_dir):
    """Bloom-prefiltered join (ops/bloom.bloom_join): events against
    a sparse user dim (user_id % 97 == 0), prefiltered map-side by
    the dim's bitmap. Oracle = the PLAIN join — Bloom's
    no-false-negative guarantee as row identity."""
    from fuzi_spark.ops.bloom import bloom_join

    events = spark.read.parquet(f"{sf_dir}/events.parquet")
    dim = (
        events.filter(F.col("user_id") % 97 == 0)
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_ev"))
    )
    j = bloom_join(
        events.select("event_id", "user_id", "event_type"), dim, "user_id"
    )
    return j.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("n_ev").alias("sum_dim_nev"),
    )


def q_stream_histogram(spark, sf_dir):
    """Incremental sketch maintenance, streamed shape (stream_dedup
    harness precedent): documents routed to 3 batches by doc_id % 3,
    per-batch histogram sketches ACCUMULATED as the monoid, corpus
    p50/p90/p99 from the union — must equal the one-shot rollup, so
    the oracle is quantile_rollup's full-corpus SQL verbatim."""
    from fuzi_spark.ops.sketch import histogram_quantiles, histogram_sketch

    d = _docs(spark, sf_dir)
    acc = None
    for b in range(3):
        batch = d.filter(F.col("doc_id") % 3 == b)
        sk = histogram_sketch(batch, "n_chars", "lang", 128, 0, 8)
        acc = sk if acc is None else acc.unionByName(sk)
    return histogram_quantiles(acc, (0.5, 0.9, 0.99), 0, 8)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every `q_*` operator of this module, keyed by its name minus `q_`,
    in definition order."""
    return {
        name[2:]: fn
        for name, fn in globals().items()
        if name.startswith("q_") and callable(fn)
    }


def _bootstrap_oracle_sql(n_replicates: int = 16, salt: str = "boot") -> str:
    """Generated oracle for `poisson_bootstrap`: 16 replicate sums via
    the identical inverse-CDF CASE chain (literal double thresholds),
    then the identical left-assoc mean/variance spelling."""
    cum = (
        0.36787944117144233,
        0.7357588823428847,
        0.9196986029286058,
        0.9810118431238462,
        0.9963401531726563,
        0.9994058151824183,
        0.9999167588507119,
    )
    def u_expr(r: int) -> str:
        return (
            "((CAST(CAST(CONCAT('0x', SUBSTRING(md5(CONCAT("
            f"'{salt}:', '{r}', ':', CAST(doc_id AS VARCHAR))), 1, 13))"
            " AS BIGINT) AS DOUBLE) + 0.5) / 4503599627370496.0)"
        )

    def w_expr(r: int) -> str:
        whens = " ".join(
            f"WHEN {u_expr(r)} < {c!r} THEN {k}"
            for k, c in enumerate(cum)
        )
        return f"(CASE {whens} ELSE {len(cum)} END)"

    s_cols = ", ".join(
        f"CAST(SUM({w_expr(r)} * CAST(n_chars AS BIGINT)) AS BIGINT) "
        f"AS s_{r}"
        for r in range(n_replicates)
    )
    mean = " + ".join(
        f"CAST(s_{r} AS DOUBLE)" for r in range(n_replicates)
    )
    var = " + ".join(
        f"(CAST(s_{r} AS DOUBLE) - boot_mean) * "
        f"(CAST(s_{r} AS DOUBLE) - boot_mean)"
        for r in range(n_replicates)
    )
    reps = ", ".join(f"s_{r}" for r in range(n_replicates))
    return (
        "WITH a AS (SELECT CAST(SUM(CAST(n_chars AS BIGINT)) AS BIGINT)"
        f" AS exact_sum, {s_cols} FROM documents "
        "WHERE n_chars IS NOT NULL), "
        f"m AS (SELECT *, ({mean}) / {float(n_replicates)!r} AS boot_mean"
        " FROM a) "
        f"SELECT exact_sum, {reps}, boot_mean, "
        f"SQRT(({var}) / {float(n_replicates)!r}) AS boot_std, "
        f"SQRT(({var}) / {float(n_replicates)!r}) "
        "/ CAST(exact_sum AS DOUBLE) AS rel_err FROM m"
    )


def _pq_oracle_sql(m: int = 8, k: int = 4, sub: int = 8) -> str:
    """Generated oracle for `pq_encode`: a CTE computing every
    subspace-x-centroid squared distance ONCE (same arithmetic spelling
    as the op's expression path — left-assoc term sums over
    CAST(embedding[i] AS DOUBLE)), then the identical first-min CASE
    chain per subspace and the least()-sum recon_err."""
    from fuzi_spark.ops.quantize import pq_codebook

    cb = pq_codebook(m, k, sub)
    dists = []
    for s in range(m):
        for j in range(k):
            terms = " + ".join(
                f"(CAST(embedding[{s * sub + d + 1}] AS DOUBLE) - "
                f"({cb[s][j][d]!r})) * "
                f"(CAST(embedding[{s * sub + d + 1}] AS DOUBLE) - "
                f"({cb[s][j][d]!r}))"
                for d in range(sub)
            )
            dists.append(f"{terms} AS d{s}_{j}")
    codes = []
    for s in range(m):
        whens = []
        for j in range(k - 1):
            cond = " AND ".join(
                f"d{s}_{j} <= d{s}_{j2}" for j2 in range(j + 1, k)
            )
            whens.append(f"WHEN {cond} THEN {j}")
        codes.append(
            "CAST(CASE "
            + " ".join(whens)
            + f" ELSE {k - 1} END AS INTEGER) AS code_{s}"
        )
    err = " + ".join(
        "least(" + ", ".join(f"d{s}_{j}" for j in range(k)) + ")"
        for s in range(m)
    )
    return (
        "WITH d AS (SELECT vec_id, "
        + ", ".join(dists)
        + " FROM embeddings) SELECT vec_id, "
        + ", ".join(codes)
        + f", {err} AS recon_err FROM d"
    )


def oracle_sql() -> dict[str, str]:
    esc_text = _ESC_SQL.format(c="text")
    return {
        "parse_roundtrip": "SELECT doc_id, text AS body_text FROM documents",
        "attr_extract": (
            "SELECT doc_id, lang AS lang_out, source AS source_out FROM documents"
        ),
        "children_counts": (
            "SELECT doc_id, CAST(n_chars % 5 AS BIGINT) AS count_a, "
            "CAST(n_chars % 3 AS BIGINT) AS count_b FROM documents"
        ),
        "xpath_sum": (
            "SELECT doc_id, CAST(n_chars + doc_id AS BIGINT) AS total FROM documents"
        ),
        "css_select": (
            "SELECT doc_id, CASE WHEN lang = 'en' THEN 1 ELSE 0 END AS n_hits, "
            "CASE WHEN lang = 'en' THEN source ELSE NULL END AS first_text "
            "FROM documents"
        ),
        "positional_select": (
            "SELECT doc_id, split_part(text, ' ', 1) AS w1, "
            "split_part(text, ' ', 2) AS w2, "
            "CASE WHEN len(string_split(text, ' ')) >= 3 "
            "THEN split_part(text, ' ', 3) ELSE split_part(text, ' ', "
            "len(string_split(text, ' '))) END AS wlast "
            "FROM documents"
        ),
        "html_title": (
            "SELECT doc_id, source AS title, 'html' AS root_tag, "
            "0 AS parse_error FROM documents"
        ),
        "parse_errors": (
            "SELECT doc_id, CASE WHEN n_chars % 10 = 0 THEN 1 ELSE 0 END "
            "AS parse_error FROM documents"
        ),
        "snapshot_select": (
            "SELECT doc_id, 2 AS n_items, 'item' AS first_tag, "
            "lang AS first_value, 'i2' AS second_id, "
            "'<item id=\"i2\">' || source || '</item>' AS second_raw "
            "FROM documents"
        ),
        "extract_flagship": _FLAGSHIP_ORACLE,
        "extract_interleaved": (
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS seq, "
            "'heading' AS kind, source AS text, CAST(NULL AS VARCHAR) AS media_ref "
            "FROM documents "
            "UNION ALL SELECT CAST(doc_id AS VARCHAR), 1, 'paragraph', text, NULL "
            "FROM documents "
            "UNION ALL SELECT CAST(doc_id AS VARCHAR), 2, 'media', 'pic', "
            "'m/' || CAST(doc_id AS VARCHAR) || '.png' FROM documents"
        ),
        "lineage": (
            "SELECT doc_id % 16 AS bucket, "
            "COUNT(DISTINCT doc_id) AS doc_count, "
            "4 * COUNT(*) AS span_count, CAST(0 AS BIGINT) AS parse_error_count "
            "FROM documents GROUP BY 1"
        ),
        "resume_anti_join": (
            "SELECT doc_id, doc_id % 16 AS bucket FROM documents "
            "WHERE doc_id % 16 >= 8"
        ),
        "verification_join": (
            "SELECT 'heading' AS kind, 2 * COUNT(*) AS matched, "
            "2 * COUNT(*) AS total FROM documents "
            "UNION ALL SELECT 'paragraph', COUNT(*), COUNT(*) FROM documents "
            "UNION ALL SELECT 'media', COUNT(*), COUNT(*) FROM documents"
        ),
        "code_dedup": (
            "WITH b AS (SELECT doc_id, "
            "  'def g' || CAST(doc_id % 199 AS VARCHAR) || '(x):' "
            "  || chr(10) || '    return x * ' "
            "  || CAST(doc_id % 199 AS VARCHAR) || chr(10) AS base "
            "  FROM documents), "
            "t AS (SELECT doc_id, "
            "  CASE WHEN doc_id % 5 = 1 THEN '/* header' || chr(10) "
            "      || ' comment */' || chr(10) || chr(10) || base "
            "      || chr(10) || chr(10) "
            "    WHEN doc_id % 5 = 2 THEN 'def g' "
            "      || CAST(doc_id % 199 AS VARCHAR) || '(x):' || chr(10) "
            "      || chr(9) || 'return x * ' "
            "      || CAST(doc_id % 199 AS VARCHAR) || '  ' || chr(10) "
            "    WHEN doc_id % 5 = 3 THEN base || '// note' || chr(10) "
            "    WHEN doc_id % 5 = 4 THEN base || 'print(x)' || chr(10) "
            "    ELSE base END AS text FROM b), "
            "n AS (SELECT doc_id, "
            "  regexp_replace(regexp_replace(regexp_replace("
            "regexp_replace(regexp_replace(regexp_replace("
            "regexp_replace(text, "
            "  '(?s)/\\*.*?\\*/', '', 'g'), "
            "  '(?m)//[^\\n]*', '', 'g'), "
            "  '(?m)#[^\\n]*', '', 'g'), "
            "  '(?m)^[ \\t]+|[ \\t]+$', '', 'g'), "
            "  '[ \\t]+', ' ', 'g'), "
            "  '\\n{2,}', chr(10), 'g'), "
            "  '^\\n+|\\n+$', '', 'g') AS norm FROM t) "
            "SELECT MIN(doc_id) AS doc_id, "
            "  COUNT(*) AS dup_count "
            "FROM n GROUP BY norm"
        ),
        "dedup_exact": (
            "SELECT MIN(doc_id) AS doc_id, COUNT(*) AS dup_count "
            "FROM (SELECT doc_id, text FROM documents "
            "      UNION ALL SELECT doc_id + 1000000, text FROM documents) "
            "GROUP BY text"
        ),
        "extract_pdf": (
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS seq, "
            "'heading' AS kind, source AS text FROM documents "
            "UNION ALL "
            "SELECT CAST(doc_id AS VARCHAR), 1, 'paragraph', "
            "regexp_replace(trim(text), '\\s+', ' ', 'g') "
            "FROM documents WHERE trim(text) != ''"
        ),
        "repetition": (
            "WITH toks AS ("
            "  SELECT doc_id, list_filter("
            "    string_split_regex(trim(text), '\\s+'), x -> x <> '') AS t"
            "  FROM documents"
            "), u AS ("
            "  SELECT doc_id, unnest(t) AS tok FROM toks"
            "), cnts AS ("
            "  SELECT doc_id, tok, count(*) AS c FROM u GROUP BY doc_id, tok"
            "), ent AS ("
            "  SELECT doc_id, ln(sum(c)) - sum(c * ln(c)) / sum(c) AS h"
            "  FROM cnts GROUP BY doc_id"
            ") SELECT toks.doc_id, "
            "CASE WHEN len(t) > 0 THEN round(ent.h, 6) END AS token_entropy, "
            + ", ".join(
                f"CASE WHEN len(t) >= {n} THEN round(1.0 - "
                f"len(list_distinct([array_to_string(t[i:i+{n-1}], ' ') "
                f"FOR i IN generate_series(1, len(t)-{n-1})])) "
                f"/ CAST(len(t)-{n-1} AS DOUBLE), 9) END AS dup_{n}gram_frac"
                for n in (2, 3, 4)
            )
            + " FROM toks LEFT JOIN ent ON toks.doc_id = ent.doc_id"
        ),
        # identical oracle to extract_pdf on purpose: the CMap variant must
        # recover the SAME text from glyph-coded bytes that are opaque
        # without the ToUnicode decode
        "extract_pdf_cmap": (
            "SELECT CAST(doc_id AS VARCHAR) AS doc_id, 0 AS seq, "
            "'heading' AS kind, source AS text FROM documents "
            "UNION ALL "
            "SELECT CAST(doc_id AS VARCHAR), 1, 'paragraph', "
            "regexp_replace(trim(text), '\\s+', ' ', 'g') "
            "FROM documents WHERE trim(text) != ''"
        ),
        "dedup_ngram_jaccard": (
            # 3-word shingles, set jaccard between doc i and its mutated
            # copy (text + ' extraword', id + 1000000); slice semantics
            # match Spark slice(tokens, i, 3) = w[i:i+2]
            "WITH uni AS (SELECT doc_id, text FROM documents "
            "  UNION ALL SELECT doc_id + 1000000, text || ' extraword' "
            "  FROM documents), "
            "sh AS (SELECT doc_id, list_distinct("
            "  [array_to_string(w[i:i+2], ' ') "
            "   FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS s "
            "  FROM (SELECT doc_id, string_split(text, ' ') AS w FROM uni)) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / "
            "  len(list_distinct(a.s || b.s)), 9) AS jaccard "
            "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000"
        ),
        "text_quality": (
            "SELECT doc_id, len(string_split(trim(text), ' ')) AS tokens_ws, "
            "len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+')) "
            "AS tokens_bpe, "
            "len(list_distinct(string_split(trim(text), ' '))) AS distinct_tokens, "
            "length(text) AS n_chars_measured FROM documents"
        ),
        "similarity_topk": (
            "WITH q AS (SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv "
            "FROM embeddings WHERE vec_id < 10), "
            "scored AS (SELECT q.query_id, e.vec_id AS neighbor_id, "
            "  list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) AS cosine "
            "  FROM q CROSS JOIN embeddings e WHERE e.vec_id != q.query_id), "
            "ranked AS (SELECT query_id, neighbor_id, "
            "  ROW_NUMBER() OVER (PARTITION BY query_id "
            "    ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored) "
            "SELECT query_id, neighbor_id, CAST(rank AS INT) AS rank "
            "FROM ranked WHERE rank <= 5"
        ),
        "embedding_near_dups": (
            "SELECT vec_id AS id_a, vec_id + 10000 AS id_b FROM embeddings"
        ),
        "semantic_dedup": (
            # the planted invariant: every exact copy is dropped (see
            # q_semantic_dedup docstring for why this holds regardless of
            # organic near-dups among the originals)
            "SELECT vec_id + 10000 AS vec_id FROM embeddings"
        ),
        "normalize_text": (
            # identical messy construction (chr() for controls/combining
            # marks), identical stage order: strip C0-except-ws + DEL,
            # collapse ws runs, trim, then NFC — bit-exact vs Spark
            "WITH messy AS (SELECT doc_id, '  ' || text || chr(9) || 'x' "
            "|| chr(10) || chr(10) || 'y  ' "
            "|| CASE WHEN doc_id % 2 = 0 THEN ' Cafe' || chr(769) "
            "   || ' du' || chr(1) || 'nord e' || chr(2) || chr(769) "
            "   ELSE '' END "
            "|| CASE WHEN doc_id % 3 = 0 THEN ' A' || chr(778) "
            "   || 'ngstro' || chr(776) || 'm' || chr(7) || ' ' "
            "   || chr(11) || ' ok' ELSE '' END AS t FROM documents) "
            "SELECT doc_id, nfc_normalize(trim(regexp_replace("
            "regexp_replace(t, '[\\x00-\\x08\\x0E-\\x1F\\x7F]', '', 'g'), "
            "'[ \\t\\n\\r\\f\\x0B]+', ' ', 'g'))) AS norm_text FROM messy"
        ),
        "content_filter": (
            # identical construction + identical token pipeline:
            # lowercase, [^a-z0-9]+ split, exact-token blocklist count
            "WITH t AS (SELECT doc_id, text "
            "|| CASE WHEN doc_id % 5 = 0 THEN ' BADGER1, badger1' "
            "   ELSE '' END "
            "|| CASE WHEN doc_id % 7 = 0 THEN ' toxic2! ok' ELSE '' END "
            "|| CASE WHEN doc_id % 3 = 0 THEN ' badger12 clean' "
            "   ELSE '' END AS x FROM documents), "
            "h AS (SELECT doc_id, len(list_filter("
            "regexp_split_to_array(lower(x), '[^a-z0-9]+'), "
            "tk -> list_contains(['badger1','toxic2','unused3'], tk))) "
            "AS nb FROM t) "
            "SELECT doc_id, CAST(nb AS INT) AS n_blocked, "
            "CAST(CASE WHEN nb = 0 THEN 1 ELSE 0 END AS INT) AS keep, "
            "CASE WHEN nb > 0 THEN 'blocked_word' END AS reject_reason "
            "FROM h"
        ),
        "sessionize": (
            "WITH flagged AS ("
            "  SELECT user_id, ts, CASE WHEN lag(ts) OVER w IS NULL OR "
            "    epoch_us(ts) - epoch_us(lag(ts) OVER w) > 1800000000 "
            "    THEN 1 ELSE 0 END AS is_new FROM events "
            "  WINDOW w AS (PARTITION BY user_id ORDER BY ts)), "
            "sess AS ("
            "  SELECT user_id, ts, CAST(SUM(is_new) OVER ("
            "    PARTITION BY user_id ORDER BY ts ROWS UNBOUNDED PRECEDING) "
            "    AS BIGINT) AS session_id FROM flagged) "
            "SELECT user_id, session_id, "
            "strftime(MIN(ts), '%Y-%m-%d %H:%M:%S') AS start_s, "
            "strftime(MAX(ts), '%Y-%m-%d %H:%M:%S') AS end_s, "
            "COUNT(*) AS n_events FROM sess GROUP BY 1, 2"
        ),
        "events_window": (
            "SELECT strftime(time_bucket(INTERVAL '1 day', ts), '%Y-%m-%d') AS day, "
            "event_type, COUNT(*) AS n_events, "
            "CAST(SUM(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS total_cents "
            "FROM events GROUP BY 1, 2"
        ),
        "dedup_minhash": (
            # planted pairs only: every doc with >=20 distinct 3-word
            # shingles must be recovered with its one-word-appended copy
            # (see q_dedup_minhash for the 1-6e-9 LSH recovery bound);
            # shingle construction mirrors the dedup_ngram_jaccard oracle
            "WITH sh0 AS (SELECT doc_id, list_distinct("
            "  [array_to_string(w[i:i+2], ' ') "
            "   FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) AS s "
            "  FROM (SELECT doc_id, string_split(text, ' ') AS w "
            "        FROM documents)) "
            "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM sh0 "
            "WHERE len(s) >= 20"
        ),
        "dedup_components": (
            # 4-node chain per doc: every node's canonical is the doc id
            "SELECT doc_id + k * 1000000 AS node_id, doc_id AS canonical_id "
            "FROM documents CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)"
        ),
        "dedup_simhash": (
            # identical copy ⇒ identical fingerprint ⇒ hamming-0 pair
            "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b FROM documents"
        ),
        "dedup_pipeline": (
            # even docs: {i, i+1M} group, keeper = i; odd docs: singleton
            "SELECT doc_id, doc_id AS group_id, 1 AS keep FROM documents "
            "WHERE doc_id % 2 = 1 "
            "UNION ALL "
            "SELECT doc_id, doc_id AS group_id, 1 AS keep FROM documents "
            "WHERE doc_id % 2 = 0 "
            "UNION ALL "
            "SELECT doc_id + 1000000 AS doc_id, doc_id AS group_id, 0 AS keep "
            "FROM documents WHERE doc_id % 2 = 0"
        ),
        "stream_dedup": (
            # 3 copies of every text routed to batches by id % 3; the
            # incremental kernel's survivor is rank-1 of (batch, id)
            "WITH all_copies AS ("
            "  SELECT doc_id + k * 1000000 AS doc_id, text "
            "  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2]) AS k)"
            "), r AS ("
            "  SELECT doc_id, text, row_number() OVER ("
            "    PARTITION BY text ORDER BY doc_id % 3, doc_id) AS rn "
            "  FROM all_copies"
            ") SELECT doc_id, sha256(text) AS digest FROM r WHERE rn = 1"
        ),
        "dedup_keep": (
            # window-rank re-election of the keeper the Spark agg picks:
            # quality DESC then node_id ASC, rank 1 keeps
            "WITH nodes AS ("
            "  SELECT doc_id + k * 1000000 AS node_id, doc_id AS canonical_id "
            "  FROM documents CROSS JOIN (SELECT unnest([0, 1, 2, 3]) AS k)"
            "), r AS ("
            "  SELECT node_id, canonical_id, row_number() OVER ("
            "    PARTITION BY canonical_id "
            "    ORDER BY node_id % 7 DESC, node_id ASC) AS rn FROM nodes"
            ") SELECT node_id, canonical_id, "
            "CASE WHEN rn = 1 THEN 1 ELSE 0 END AS keep FROM r"
        ),
        "quality_filter": (
            "WITH uni AS ("
            "  SELECT doc_id, text FROM documents"
            "  UNION ALL SELECT doc_id + 1000000, 'a b' FROM documents"
            "  UNION ALL SELECT doc_id + 2000000, repeat('spam ', 40) FROM documents"
            "  UNION ALL SELECT doc_id + 3000000, repeat('?! ', 50) FROM documents"
            "  UNION ALL SELECT doc_id + 4000000, repeat('abcdefghijklmnopqrst ', 6) "
            "    FROM documents), "
            "m AS (SELECT doc_id, "
            "  len(string_split(trim(text), ' ')) AS n_tok, "
            "  CAST(length(text) AS DOUBLE) / len(string_split(trim(text), ' ')) AS mtl, "
            "  CAST(len(regexp_extract_all(text, '[^\\w\\s]')) AS DOUBLE) "
            "    / greatest(length(text), 1) AS pr, "
            "  CAST(len(list_distinct(string_split(trim(text), ' '))) AS DOUBLE) "
            "    / greatest(len(string_split(trim(text), ' ')), 1) AS dr "
            "  FROM uni), "
            "r AS (SELECT doc_id, "
            "  CASE WHEN n_tok < 5 THEN 'too_few_tokens' "
            "       WHEN mtl > 15.0 THEN 'tokens_too_long' "
            "       WHEN pr > 0.3 THEN 'too_much_punct' "
            "       WHEN dr < 0.2 THEN 'too_repetitive' END AS reject_reason "
            "  FROM m) "
            "SELECT doc_id, CAST(CASE WHEN reject_reason IS NULL THEN 1 ELSE 0 END "
            "  AS INTEGER) AS keep, reject_reason FROM r"
        ),
        "lang_id": (
            "SELECT doc_id, "
            "CASE CAST(doc_id % 6 AS INTEGER) WHEN 0 THEN 'en' WHEN 1 THEN 'es' "
            "WHEN 2 THEN 'fr' WHEN 3 THEN 'de' WHEN 4 THEN 'ru' ELSE 'zh' END "
            "AS lang_true, "
            "CASE CAST(doc_id % 6 AS INTEGER) WHEN 0 THEN 'en' WHEN 1 THEN 'es' "
            "WHEN 2 THEN 'fr' WHEN 3 THEN 'de' WHEN 4 THEN 'ru' ELSE 'zh' END "
            "AS lang_pred "
            "FROM documents"
        ),
        "fingerprint": (
            # invariants: identical copy digests identically; the 25-char
            # tail mutation always changes the digest
            "SELECT doc_id, CAST(1 AS INTEGER) AS copy_same, "
            "CAST(1 AS INTEGER) AS mutated_differs FROM documents"
        ),
        "similarity_lsh": (
            "SELECT vec_id + 10000000 AS query_id, vec_id AS neighbor_id "
            "FROM embeddings WHERE vec_id < 10"
        ),
        "similarity_ivf": (
            "SELECT vec_id + 10000000 AS query_id, vec_id AS neighbor_id "
            "FROM embeddings WHERE vec_id < 10"
        ),
        "multimodal_decode": (
            # flagship pages embed exactly one image span per doc with
            # ref 'img/<doc_id>.jpg'; synth_media_df builds a real JPEG
            # whose dims follow synth_dims (pure length arithmetic), and
            # the decoder header-parses them back
            "SELECT 'img/' || CAST(doc_id AS VARCHAR) || '.jpg' AS media_ref, "
            "'image' AS media_type, 'jpeg' AS format, "
            "CAST(16 + (7 * length('img/' || CAST(doc_id AS VARCHAR) || '.jpg')) % 96 "
            "  AS INTEGER) AS width, "
            "CAST(16 + (13 * length('img/' || CAST(doc_id AS VARCHAR) || '.jpg')) % 96 "
            "  AS INTEGER) AS height, "
            "CAST(3 AS INTEGER) AS channels, CAST(1 AS INTEGER) AS decode_ok "
            "FROM documents"
        ),
        "line_dedup": (
            # 4 constructed lines per doc: HDR/FTR shared by all docs
            # (removed), U-line unique (kept), LANG-line removed iff the
            # language has >= 2 docs — recomputed with a window count
            "WITH lc AS (SELECT doc_id, text, lang, "
            "  COUNT(*) OVER (PARTITION BY lang) AS lang_n FROM documents) "
            "SELECT doc_id, "
            "CASE WHEN lang_n >= 2 "
            "  THEN 'U' || CAST(doc_id AS VARCHAR) || ' ' || text "
            "  ELSE 'U' || CAST(doc_id AS VARCHAR) || ' ' || text || chr(10) "
            "       || 'LANG ' || lang END AS clean_text, "
            "CAST(CASE WHEN lang_n >= 2 THEN 1 ELSE 2 END AS BIGINT) AS n_kept, "
            "CAST(CASE WHEN lang_n >= 2 THEN 3 ELSE 2 END AS BIGINT) AS n_removed "
            "FROM lc"
        ),
        "hash_sample": (
            # the sampler's predicate verbatim: md5 prefix vs per-lang
            # hex thresholds (hex_threshold(.5/.25/.125/.75/1.0)); both
            # engines agree on md5 of the same string
            "SELECT doc_id, lang FROM documents "
            "WHERE substr(md5('fuzi:' || CAST(doc_id AS VARCHAR)), 1, 8) < "
            "CASE lang WHEN 'en' THEN '80000000' WHEN 'de' THEN '40000000' "
            "WHEN 'fr' THEN '20000000' WHEN 'es' THEN 'c0000000' "
            "WHEN 'zh' THEN 'g' ELSE '00000000' END"
        ),
        "decontaminate": (
            # zero cross-doc overlap by construction; every 10th doc IS
            # the benchmark, so it matches all 25-4 = 21 distinct 5-grams
            "SELECT doc_id, "
            "CAST(CASE WHEN doc_id % 10 = 0 THEN 21 ELSE 0 END AS BIGINT) "
            "  AS n_contaminated, "
            "CAST(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS INTEGER) "
            "  AS contaminated "
            "FROM documents"
        ),
        "redact_pii": (
            # recompute the IDENTICAL patterns with RE2 on the same
            # constructed string: counts via regexp_extract_all, masking
            # via chained regexp_replace(..., 'g') in the same order
            "WITH t AS (SELECT doc_id, text "
            "  || CASE WHEN doc_id % 3 = 0 THEN ' mail u' "
            "     || CAST(doc_id AS VARCHAR) || '@ex.org' ELSE '' END "
            "  || CASE WHEN doc_id % 4 = 0 THEN ' ip 10.' "
            "     || CAST(doc_id % 199 AS VARCHAR) || '.0.' "
            "     || CAST(doc_id % 250 AS VARCHAR) ELSE '' END "
            "  || CASE WHEN doc_id % 5 = 0 THEN ' call +41' "
            "     || CAST(7000000 + doc_id AS VARCHAR) ELSE '' END AS txt "
            "FROM documents) "
            # each class counts on the text AFTER the previous classes'
            # replacements, mirroring the op's placeholder-exact counts
            ", e AS (SELECT doc_id, txt, regexp_replace(txt, "
            "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}', "
            "  '<EMAIL>', 'g') AS t1 FROM t) "
            ", ii AS (SELECT doc_id, txt, t1, regexp_replace(t1, "
            "  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b', "
            "  '<IP>', 'g') AS t2 FROM e) "
            "SELECT doc_id, "
            "regexp_replace(t2, '\\+[0-9]{7,15}\\b', '<PHONE>', 'g') "
            "  AS clean_text, "
            "CAST(len(regexp_extract_all(txt, "
            "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) AS BIGINT) AS n_email, "
            "CAST(len(regexp_extract_all(t1, "
            "  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) AS BIGINT) AS n_ipv4, "
            "CAST(len(regexp_extract_all(t2, "
            "  '\\+[0-9]{7,15}\\b')) AS BIGINT) AS n_phone, "
            "CAST(len(regexp_extract_all(txt, "
            "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}')) "
            " + len(regexp_extract_all(t1, "
            "  '\\b[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\.[0-9]{1,3}\\b')) "
            " + len(regexp_extract_all(t2, "
            "  '\\+[0-9]{7,15}\\b')) AS BIGINT) AS n_pii "
            "FROM ii"
        ),
        "pack_sequences": (
            # the same closed-form quota-packing window arithmetic:
            # prev_cum = per-bucket keyed running sum EXCLUDING current,
            # pack = floor(prev_cum / budget), pos = rank within pack
            "WITH c AS (SELECT doc_id, doc_id % 8 AS bucket, n_chars, "
            "  SUM(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id "
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "    - n_chars AS prev_cum "
            "  FROM documents), "
            "p AS (SELECT doc_id, bucket, "
            "  CAST(prev_cum // 20000 AS BIGINT) AS pack_id FROM c) "
            "SELECT doc_id, CAST(bucket AS INTEGER) AS bucket, pack_id, "
            "CAST(ROW_NUMBER() OVER (PARTITION BY bucket, pack_id "
            "  ORDER BY doc_id) - 1 AS BIGINT) AS pack_pos "
            "FROM p"
        ),
        "domain_stats": (
            # identical host regexp (RE2 = Java subset), lowercased;
            # scheme-less refs extract '' and roll up under ''
            "WITH u AS (SELECT doc_id, n_chars, "
            "  CASE WHEN doc_id % 13 = 0 THEN 'relative/path.html' "
            "  ELSE 'https://' || source || '.Example.COM/d/' "
            "    || CAST(doc_id AS VARCHAR) END AS url FROM documents), "
            "h AS (SELECT lower(regexp_extract(url, "
            "  '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) AS domain, "
            "  n_chars FROM u) "
            "SELECT domain, COUNT(*) AS n_docs, "
            "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
            "CAST(MAX(n_chars) AS BIGINT) AS max_chars "
            "FROM h GROUP BY domain"
        ),
        "blocked_domains": (
            "WITH u AS (SELECT doc_id, "
            "  CASE WHEN doc_id % 13 = 0 THEN 'relative/path.html' "
            "  ELSE 'https://' || source || '.Example.COM/d/' "
            "    || CAST(doc_id AS VARCHAR) END AS url FROM documents) "
            "SELECT doc_id, url FROM u "
            "WHERE lower(regexp_extract(url, "
            "  '^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)', 1)) "
            "NOT IN ('src1.example.com', 'src3.example.com')"
        ),
        "top_terms": (
            # same whitespace tokenization, same tf/df IEEE-exact score,
            # same (score desc, tf desc, term asc) deterministic ties
            "WITH toks AS (SELECT doc_id, unnest(string_split_regex("
            "  lower(text), '\\s+')) AS term FROM documents), "
            "t AS (SELECT doc_id, term, COUNT(*) AS tf FROM toks "
            "  WHERE term <> '' GROUP BY doc_id, term), "
            "d AS (SELECT term, COUNT(*) AS df FROM t GROUP BY term), "
            "s AS (SELECT t.doc_id, t.term, t.tf, d.df, "
            "  t.tf / d.df AS score FROM t JOIN d USING (term)), "
            "r AS (SELECT *, CAST(ROW_NUMBER() OVER (PARTITION BY doc_id "
            "  ORDER BY score DESC, tf DESC, term ASC) AS INTEGER) AS rank "
            "  FROM s) "
            "SELECT doc_id, term, tf, df, score, rank FROM r WHERE rank <= 3"
        ),
        "corpus_report": (
            # quantile_cont = R-7 linear interpolation = Spark percentile
            "SELECT lang, source, COUNT(*) AS n_docs, "
            "CAST(SUM(n_chars) AS BIGINT) AS total_chars, "
            "CAST(quantile_cont(n_chars, 0.5) AS DOUBLE) AS median_chars, "
            "CAST(quantile_cont(n_chars, 0.9) AS DOUBLE) AS p90_chars "
            "FROM documents GROUP BY lang, source"
        ),
        "link_graph": (
            # recompute the PLANTED graph from the construction formulas
            # (planted-invariant oracle — independent of the parser):
            # every doc links to src((7d+1)%20); even docs also to
            # src((11d+3)%20); docs %3==0 link AGAIN to the first domain
            "WITH l AS ("
            "  SELECT doc_id, 'src' || CAST((doc_id*7+1)%20 AS VARCHAR) "
            "    || '.example.com' AS domain FROM documents "
            "  UNION ALL "
            "  SELECT doc_id, 'src' || CAST((doc_id*11+3)%20 AS VARCHAR) "
            "    || '.example.com' FROM documents WHERE doc_id % 2 = 0 "
            "  UNION ALL "
            "  SELECT doc_id, 'src' || CAST((doc_id*7+1)%20 AS VARCHAR) "
            "    || '.example.com' FROM documents WHERE doc_id % 3 = 0) "
            "SELECT domain, COUNT(*) AS in_degree, "
            "CAST(COUNT(DISTINCT doc_id) AS BIGINT) AS n_sources "
            "FROM l GROUP BY domain"
        ),
        "apply_robots": (
            # replay: domains %5==0 have no robots row -> allowed;
            # otherwise longest literal prefix of {/private (deny),
            # /private/ok (allow)} decides; no match -> allowed
            "SELECT doc_id, "
            "'https://d' || CAST(doc_id % 20 AS VARCHAR) || '.example.com' "
            "|| CASE WHEN doc_id % 3 = 0 THEN '/private/ok/' "
            "        WHEN doc_id % 3 = 1 THEN '/private/' "
            "        ELSE '/pub/' END || CAST(doc_id AS VARCHAR) AS url, "
            "CAST(CASE WHEN doc_id % 20 % 5 = 0 THEN 1 "
            "  WHEN doc_id % 3 = 0 THEN 1 "
            "  WHEN doc_id % 3 = 1 THEN 0 "
            "  ELSE 1 END AS INT) AS allowed "
            "FROM documents"
        ),
        "parse_warc": (
            # every record field predicted from the construction
            # formulas (two records per archive, fixed order)
            "WITH b AS (SELECT doc_id, "
            "'<html><title>W' || CAST(doc_id AS VARCHAR) || '</title></html>' "
            "AS body FROM documents) "
            "SELECT doc_id AS archive_id, 0 AS record_idx, "
            "CAST(0 AS BIGINT) AS offset, 'response' AS warc_type, "
            "'https://w.example.com/' || CAST(doc_id AS VARCHAR) "
            "  AS target_uri, "
            "CAST(200 AS INT) AS http_status, 'text/html' AS content_type, "
            "CAST(length(body) AS BIGINT) AS body_len, body AS body_text "
            "FROM b "
            "UNION ALL "
            "SELECT doc_id, 1, "
            # record-1 offset = len(rec0) + 4. rec0's fixed text is 165
            # bytes; the id appears twice (uri + inside the body whose
            # length feeds Content-Length); the Content-Length digits
            # are length(73 + len(id)) — verified against the Spark
            # construction for 1-4 digit ids
            "CAST(169 + 2*length(CAST(doc_id AS VARCHAR)) "
            " + length(CAST(73 + length(CAST(doc_id AS VARCHAR)) "
            "   AS VARCHAR)) AS BIGINT), "
            "'metadata', CAST(NULL AS VARCHAR), CAST(NULL AS INT), "
            "'application/json', "
            "CAST(length('{\"k\":' || CAST(doc_id AS VARCHAR) || '}') "
            "  AS BIGINT), "
            "'{\"k\":' || CAST(doc_id AS VARCHAR) || '}' "
            "FROM b ORDER BY 1, 2"
        ),
        "page_metadata": (
            # every column predicted from the construction formulas
            "SELECT doc_id, "
            "'Page ' || CAST(doc_id AS VARCHAR) AS title, "
            "CASE WHEN doc_id % 2 = 0 THEN 'Desc ' || CAST(doc_id AS VARCHAR) END "
            "  AS description, "
            "CASE WHEN doc_id % 3 = 0 THEN "
            "  'https://c.example.com/' || CAST(doc_id AS VARCHAR) END "
            "  AS canonical_url, "
            "CASE WHEN doc_id % 5 = 0 THEN 'OG ' || CAST(doc_id AS VARCHAR) END "
            "  AS og_title, "
            "CAST(NULL AS VARCHAR) AS og_image, "
            "CAST(CASE WHEN doc_id % 4 = 0 THEN 1 ELSE 0 END AS INT) "
            "  AS robots_noindex "
            "FROM documents"
        ),
        "domain_rank": (
            # the identical recurrence, unrolled for n_iter=2:
            # r0 = 1/N; r_{k+1}(v) = 0.15/N + 0.85*sum r_k(u)*share(u,v);
            # dangling mass NOT redistributed (documented contract)
            "WITH e0 AS (SELECT 'd' || CAST(doc_id % 20 AS VARCHAR) AS src, "
            "  'd' || CAST((doc_id*7+1) % 25 AS VARCHAR) AS dst "
            "  FROM documents), "
            "e AS (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS w "
            "  FROM e0 GROUP BY 1, 2), "
            "outw AS (SELECT src, SUM(w) AS ow FROM e GROUP BY 1), "
            "sh AS (SELECT e.src, e.dst, e.w/outw.ow AS share "
            "  FROM e JOIN outw ON e.src = outw.src), "
            "nodes AS (SELECT DISTINCT src AS node FROM e "
            "  UNION SELECT DISTINCT dst FROM e), "
            "nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM nodes), "
            "r0 AS (SELECT node, 1.0/(SELECT n FROM nn) AS rank "
            "  FROM nodes), "
            "c1 AS (SELECT sh.dst, SUM(r0.rank * sh.share) AS c "
            "  FROM sh JOIN r0 ON sh.src = r0.node GROUP BY sh.dst), "
            "r1 AS (SELECT node, 0.15/(SELECT n FROM nn) "
            "  + 0.85*COALESCE(c1.c, 0.0) AS rank "
            "  FROM nodes LEFT JOIN c1 ON node = c1.dst), "
            "c2 AS (SELECT sh.dst, SUM(r1.rank * sh.share) AS c "
            "  FROM sh JOIN r1 ON sh.src = r1.node GROUP BY sh.dst), "
            "r2 AS (SELECT node, 0.15/(SELECT n FROM nn) "
            "  + 0.85*COALESCE(c2.c, 0.0) AS rank "
            "  FROM nodes LEFT JOIN c2 ON node = c2.dst) "
            "SELECT node AS domain, ROUND(rank, 8) AS rank FROM r2"
        ),
        "vocab_table": (
            "WITH t AS (SELECT unnest(string_split_regex(lower(text), "
            "  '\\s+')) AS token FROM documents), "
            "c AS (SELECT token, COUNT(*) AS n FROM t WHERE token <> '' "
            "  GROUP BY token HAVING COUNT(*) >= 5) "
            "SELECT token, n, CAST(ROW_NUMBER() OVER "
            "  (ORDER BY n DESC, token ASC) - 1 AS INTEGER) AS token_id "
            "FROM c"
        ),
        "repeated_passages": (
            # L = 40 + 10 + (d%4)*10 tokens; windows every 10 tokens of
            # width 20 → n_windows = L/10 - 1; exactly the 3 windows at
            # offsets 0/10/20 sit fully inside the corpus-wide prefix
            "SELECT doc_id, "
            "CAST(4 + doc_id % 4 AS BIGINT) AS n_windows, "
            "CAST(3 AS BIGINT) AS n_repeated, "
            "CAST(3.0 / (4 + doc_id % 4) AS DOUBLE) AS repeated_frac "
            "FROM documents"
        ),
        "lm_perplexity": (
            # identical add-0.1 bigram model retrained in SQL: counts
            # from the even-doc_id half, P = (cb+a)/(cu+a*V), ppl =
            # exp(-avg ln P); short docs LEFT-JOIN back as n_bigrams=0
            "WITH t AS (SELECT doc_id, "
            "  list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "    x -> x <> '') AS toks FROM documents), "
            "uni AS (SELECT u.tok AS token, COUNT(*) AS cu "
            "  FROM (SELECT unnest(toks) AS tok FROM t WHERE doc_id % 2 = 0) u "
            "  GROUP BY 1), "
            "v AS (SELECT COUNT(*) AS vs FROM uni), "
            "bg AS (SELECT t.doc_id, t.toks[g.i] AS w1, t.toks[g.i + 1] AS w2 "
            "  FROM t, UNNEST(range(1, len(t.toks))) AS g(i)), "
            "bi AS (SELECT w1, w2, COUNT(*) AS cb FROM bg "
            "  WHERE doc_id % 2 = 0 GROUP BY 1, 2), "
            "scored AS (SELECT bg.doc_id, "
            "  ln((COALESCE(bi.cb, 0) + 0.1) / (COALESCE(uni.cu, 0) + 0.1 * v.vs)) "
            "    AS logp "
            "  FROM bg LEFT JOIN bi USING (w1, w2) "
            "  LEFT JOIN uni ON bg.w1 = uni.token CROSS JOIN v), "
            "agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, "
            "  AVG(logp) AS avg_logprob FROM scored GROUP BY 1) "
            "SELECT d.doc_id, CAST(COALESCE(a.n_bigrams, 0) AS BIGINT) "
            "  AS n_bigrams, a.avg_logprob, "
            "CASE WHEN a.n_bigrams > 0 THEN exp(-a.avg_logprob) END AS perplexity "
            "FROM documents d LEFT JOIN agg a USING (doc_id)"
        ),
        "perplexity_buckets": (
            # identical model + perplexity chain as lm_perplexity, then
            # per-lang tercile cutoffs via the SAME value-at-rank rule
            # (floor(p*(n-1))+1 over perplexity asc) and ties-down
            # comparison bucketing
            "WITH t AS (SELECT doc_id, "
            "  list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "    x -> x <> '') AS toks FROM documents), "
            "uni AS (SELECT u.tok AS token, COUNT(*) AS cu "
            "  FROM (SELECT unnest(toks) AS tok FROM t WHERE doc_id % 2 = 0) u "
            "  GROUP BY 1), "
            "v AS (SELECT COUNT(*) AS vs FROM uni), "
            "bg AS (SELECT t.doc_id, t.toks[g.i] AS w1, t.toks[g.i + 1] AS w2 "
            "  FROM t, UNNEST(range(1, len(t.toks))) AS g(i)), "
            "bi AS (SELECT w1, w2, COUNT(*) AS cb FROM bg "
            "  WHERE doc_id % 2 = 0 GROUP BY 1, 2), "
            "scored AS (SELECT bg.doc_id, "
            "  ln((COALESCE(bi.cb, 0) + 0.1) / (COALESCE(uni.cu, 0) + 0.1 * v.vs)) "
            "    AS logp "
            "  FROM bg LEFT JOIN bi USING (w1, w2) "
            "  LEFT JOIN uni ON bg.w1 = uni.token CROSS JOIN v), "
            "agg AS (SELECT doc_id, COUNT(*) AS n_bigrams, "
            "  AVG(logp) AS avg_logprob FROM scored GROUP BY 1), "
            "ppl AS (SELECT d.doc_id, d.lang, "
            "  CASE WHEN a.n_bigrams > 0 THEN exp(-a.avg_logprob) END "
            "    AS perplexity "
            "  FROM documents d LEFT JOIN agg a USING (doc_id)), "
            "rk AS (SELECT lang, round(perplexity, 6) AS pplr, "
            "  ROW_NUMBER() OVER (PARTITION BY lang "
            "    ORDER BY round(perplexity, 6) ASC) AS rn, "
            "  COUNT(*) OVER (PARTITION BY lang) AS n "
            "  FROM ppl WHERE perplexity IS NOT NULL), "
            "cut AS (SELECT lang, "
            "  MAX(CASE WHEN rn = CAST(floor((1.0/3) * (n - 1)) AS BIGINT) + 1 "
            "    THEN pplr END) AS q33, "
            "  MAX(CASE WHEN rn = CAST(floor((2.0/3) * (n - 1)) AS BIGINT) + 1 "
            "    THEN pplr END) AS q67 "
            "  FROM rk GROUP BY 1), "
            "b AS (SELECT p.doc_id, p.lang, p.perplexity, "
            "  CASE WHEN p.perplexity IS NOT NULL AND c.q33 IS NOT NULL THEN "
            "    (CASE WHEN round(p.perplexity, 6) > c.q33 THEN 1 ELSE 0 END) "
            "    + (CASE WHEN round(p.perplexity, 6) > c.q67 THEN 1 ELSE 0 END) "
            "  END AS bucket "
            "  FROM ppl p LEFT JOIN cut c USING (lang)) "
            "SELECT doc_id, lang, perplexity, CAST(bucket AS INTEGER) "
            "  AS bucket, "
            "CASE bucket WHEN 0 THEN 'head' WHEN 1 THEN 'middle' "
            "  WHEN 2 THEN 'tail' END AS bucket_label FROM b"
        ),
        "span_corruption": (
            # full construction replay: same tokenization, same md5
            # draws (floor(u*3)+1 span, floor(u*(wl-L+1)) offset), the
            # three 1-based-inclusive list slices, ordered reassembly
            "WITH t AS (SELECT doc_id, "
            "  list_filter(regexp_split_to_array(trim(text), '\\s+'), "
            "    x -> x <> '') AS toks FROM documents), "
            "base AS (SELECT doc_id, toks, len(toks) AS n, "
            "  CAST(floor((len(toks) + 19) / 20.0) AS BIGINT) AS nwin "
            "  FROM t), "
            "w AS (SELECT doc_id, toks, n, g.i AS i "
            "  FROM base, UNNEST(range(0, nwin)) AS g(i)), "
            "d AS (SELECT doc_id, toks, n, i, i * 20 AS ws, "
            "  LEAST(20, n - i * 20) AS wl, "
            "  CAST(('0x' || substr(md5('t5len:' || doc_id || ':' || i), "
            "    1, 8)) AS UBIGINT)::DOUBLE / 4294967296.0 AS ul, "
            "  CAST(('0x' || substr(md5('t5off:' || doc_id || ':' || i), "
            "    1, 8)) AS UBIGINT)::DOUBLE / 4294967296.0 AS us "
            "  FROM w), "
            "e AS (SELECT *, "
            "  LEAST(CAST(floor(ul * 3) AS BIGINT) + 1, wl) AS L FROM d), "
            "f AS (SELECT *, CAST(floor(us * (wl - L + 1)) AS BIGINT) "
            "  AS off FROM e), "
            "g2 AS (SELECT doc_id, i, L, "
            "  array_to_string(list_concat(list_concat("
            "    toks[ws + 1 : ws + off], "
            "    ['<extra_id_' || i || '>']), "
            "    toks[ws + off + L + 1 : ws + wl]), ' ') AS inp, "
            "  array_to_string(list_concat(['<extra_id_' || i || '>'], "
            "    toks[ws + off + 1 : ws + off + L]), ' ') AS tgt "
            "  FROM f), "
            "agg AS (SELECT doc_id, "
            "  string_agg(inp, ' ' ORDER BY i) AS inputs, "
            "  string_agg(tgt, ' ' ORDER BY i) AS targets, "
            "  SUM(L) AS n_corrupted FROM g2 GROUP BY 1) "
            "SELECT b.doc_id, COALESCE(a.inputs, '') AS inputs, "
            "COALESCE(a.targets, '') AS targets, "
            "CAST(b.n AS BIGINT) AS n_tokens, "
            "CAST(COALESCE(a.n_corrupted, 0) AS BIGINT) AS n_corrupted "
            "FROM base b LEFT JOIN agg a USING (doc_id)"
        ),
        "temperature_mix": (
            # the unnormalized temperature sequence, op-for-op:
            # share = pow(t, 0.7), tm = MIN(t/share),
            # r = LEAST(1, tm*share/t), keep iff md5 bucket < r*2^32
            "WITH tot AS ("
            "  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS t "
            "  FROM documents GROUP BY lang HAVING SUM(n_chars) > 0), "
            "sh AS (SELECT lang, t, pow(t, 0.7) AS share FROM tot), "
            "tmax AS (SELECT MIN(t / share) AS tm FROM sh), "
            "rates AS ("
            "  SELECT lang, LEAST(1.0, tm * share / t) AS r "
            "  FROM sh, tmax) "
            "SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS w "
            "FROM documents d JOIN rates USING (lang) "
            "WHERE CAST(('0x' || substr(md5('fuzi-mix:' "
            "  || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)::DOUBLE "
            "  < r * 4294967296.0"
        ),
        "chat_validate": (
            # expected verdicts written straight from the doc_id%7
            # construction: slot 2 plants BOTH an unknown role and an
            # empty content, so the row only matches if unknown_role
            # wins the precedence race
            "WITH c AS (SELECT doc_id, doc_id % 7 AS m FROM documents) "
            "SELECT doc_id, "
            "CAST(CASE WHEN m IN (0, 2, 3, 4) THEN 3 WHEN m = 1 THEN 0 "
            "  ELSE 2 END AS INTEGER) AS n_turns, "
            "CAST(CASE WHEN m = 3 THEN 2 WHEN m IN (0, 2, 4, 5) THEN 1 "
            "  ELSE 0 END AS INTEGER) AS n_assistant, "
            "CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INTEGER) AS valid, "
            "CASE m WHEN 1 THEN 'no_turns' WHEN 2 THEN 'unknown_role' "
            "  WHEN 3 THEN 'bad_start' WHEN 4 THEN 'role_repeat' "
            "  WHEN 5 THEN 'empty_content' WHEN 6 THEN 'no_assistant' END "
            "  AS reason "
            "FROM c"
        ),
        "preference_pairs": (
            # twin election as window ranks: chosen = (score DESC, id
            # ASC) rank 1, rejected = (score ASC, id DESC) rank 1, over
            # the same doc_id%5 thread construction
            "WITH p AS (SELECT doc_id, doc_id // 5 AS g, doc_id % 5 AS m, "
            "  text FROM documents "
            "  WHERE doc_id % 5 = 0 OR doc_id % 5 <= (doc_id // 5) % 4 + 1), "
            "r AS (SELECT g, doc_id AS id, doc_id % 3 AS s, text FROM p "
            "  WHERE m <> 0), "
            "rk AS (SELECT g, id, s, text, "
            "  ROW_NUMBER() OVER (PARTITION BY g ORDER BY s DESC, id ASC) "
            "    AS rc, "
            "  ROW_NUMBER() OVER (PARTITION BY g ORDER BY s ASC, id DESC) "
            "    AS rr, "
            "  COUNT(*) OVER (PARTITION BY g) AS n FROM r), "
            "ch AS (SELECT g, text AS chosen, s AS chosen_score, n "
            "  FROM rk WHERE rc = 1), "
            "rj AS (SELECT g, text AS rejected, s AS rejected_score "
            "  FROM rk WHERE rr = 1), "
            "roots AS (SELECT doc_id // 5 AS g, doc_id AS root_id, "
            "  text AS question FROM p WHERE m = 0) "
            "SELECT roots.root_id, roots.question, ch.chosen, "
            "CASE WHEN ch.n >= 2 THEN rj.rejected END AS rejected, "
            "CAST(ch.chosen_score AS BIGINT) AS chosen_score, "
            "CASE WHEN ch.n >= 2 THEN CAST(rj.rejected_score AS BIGINT) END "
            "  AS rejected_score, "
            "CAST(ch.n AS BIGINT) AS n_replies "
            "FROM roots JOIN ch USING (g) JOIN rj USING (g)"
        ),
        "detect_license": (
            # expected detection written straight from the doc_id%10
            # construction: SPDX ids for 0-1 (1 proves SPDX beats the
            # planted GPL phrase), phrase families for 2-8, NULLs for 9
            "WITH c AS (SELECT doc_id, doc_id % 10 AS m FROM documents) "
            "SELECT doc_id, "
            "CASE WHEN m = 0 THEN 'MIT' WHEN m = 1 THEN 'Apache-2.0' END "
            "  AS spdx_id, "
            "CASE WHEN m = 0 THEN 'MIT' WHEN m = 1 THEN 'Apache-2.0' "
            "  WHEN m = 2 THEN 'MIT' WHEN m = 3 THEN 'Apache-2.0' "
            "  WHEN m = 4 THEN 'BSD' WHEN m = 5 THEN 'GPL-3.0' "
            "  WHEN m = 6 THEN 'GPL-2.0' WHEN m = 7 THEN 'LGPL' "
            "  WHEN m = 8 THEN 'CC-BY' END AS license_family, "
            "CAST(CASE WHEN m IN (0, 1, 2, 3, 4, 8) THEN 1 "
            "  WHEN m IN (5, 6, 7) THEN 0 END AS INTEGER) AS permissive "
            "FROM c"
        ),
        "chunk_documents": (
            # same closed-form chunk count (integer ceil-div, floored at
            # 1) and the same substring slices: stride 100, width 120
            "WITH c AS (SELECT doc_id, text, "
            "  GREATEST(1, (len(text) - 20 + 99) // 100) AS n FROM documents) "
            "SELECT doc_id, CAST(g.i AS INTEGER) AS chunk_id, "
            "CAST(g.i * 100 AS BIGINT) AS offset, "
            "substring(text, CAST(g.i * 100 + 1 AS INTEGER), 120) AS chunk "
            "FROM c, UNNEST(range(0, n)) AS g(i)"
        ),
        "url_dedup": (
            # expected canonical strings written straight from the URL
            # construction formula (doc_id%4∈{0,1} collapse pairwise)
            "WITH c AS (SELECT doc_id, doc_id % 4 AS m, doc_id // 4 AS g "
            "  FROM documents), "
            "e AS (SELECT doc_id, CASE "
            "  WHEN m <= 1 THEN 'http://host' || (g % 50) || "
            "    '.example.com/p/' || g || '?q=' || (g % 7) "
            "  WHEN m = 2 THEN 'https://sec' || g || '.example.com/only/' "
            "    || doc_id "
            "  ELSE 'rel/path' || doc_id || '.html?x=y' END AS url_canon "
            "  FROM c) "
            "SELECT url_canon, MIN(doc_id) AS doc_id, "
            "COUNT(*) AS dup_count FROM e GROUP BY 1"
        ),
        "encode_documents": (
            # retrain the identical deterministic vocabulary (count
            # desc, token asc dense ids; min_count=2) and re-encode
            "WITH t AS (SELECT doc_id, "
            "  list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "    x -> x <> '') AS toks FROM documents), "
            "cnt AS (SELECT u.tok AS token, COUNT(*) AS n "
            "  FROM (SELECT unnest(toks) AS tok FROM t) u "
            "  GROUP BY 1 HAVING COUNT(*) >= 2), "
            "v AS (SELECT token, CAST(ROW_NUMBER() OVER "
            "  (ORDER BY n DESC, token ASC) - 1 AS INTEGER) AS token_id "
            "  FROM cnt), "
            "pos AS (SELECT t.doc_id, g.i AS pos, t.toks[g.i] AS token "
            "  FROM t, UNNEST(range(1, len(t.toks) + 1)) AS g(i)), "
            "enc AS (SELECT pos.doc_id, pos.pos, "
            "  CAST(COALESCE(v.token_id, -1) AS INTEGER) AS tid "
            "  FROM pos LEFT JOIN v USING (token)), "
            "agg AS (SELECT doc_id, list(tid ORDER BY pos) AS ids, "
            "  COUNT(*) AS n_tokens, COUNT(*) FILTER (tid = -1) AS n_unk "
            "  FROM enc GROUP BY 1) "
            "SELECT d.doc_id, COALESCE(a.ids, CAST([] AS INTEGER[])) "
            "  AS token_ids, "
            "CAST(COALESCE(a.n_tokens, 0) AS BIGINT) AS n_tokens, "
            "CAST(COALESCE(a.n_unk, 0) AS BIGINT) AS n_unk "
            "FROM documents d LEFT JOIN agg a USING (doc_id)"
        ),
        "remove_passages": (
            # flagged windows cover exactly the 40-token shared prefix;
            # cleaned text = the unique tail, written from the formula
            "WITH c AS (SELECT doc_id, "
            "  CAST(10 + (doc_id % 4) * 10 AS BIGINT) AS t FROM documents) "
            "SELECT doc_id, "
            "array_to_string(list_transform(range(1, t + 1), "
            "  j -> 'u' || doc_id || '_' || j), ' ') AS text, "
            "t AS n_tokens, CAST(40 AS BIGINT) AS n_removed FROM c"
        ),
        "interleaved_text": (
            # expected render written from the span construction:
            # '# source' ␤␤ text ␤␤ <image> ␤␤ 'cap id' (empty dropped)
            "SELECT doc_id, "
            "'# ' || source || chr(10) || chr(10) || text || chr(10) || "
            "chr(10) || '<image>' || chr(10) || chr(10) || 'cap ' || doc_id "
            "  AS text, "
            "CAST(1 AS BIGINT) AS n_media, "
            "CAST(len(source) + len(text) + len('cap ' || doc_id) AS BIGINT) "
            "  AS n_text_chars "
            "FROM documents"
        ),
        "media_balance": (
            "WITH c AS (SELECT doc_id, doc_id % 40 AS m, len(text) AS tc "
            "  FROM documents) "
            "SELECT doc_id, CAST(m AS BIGINT) AS n_media, "
            "CAST(tc AS BIGINT) AS n_text_chars, "
            "CASE WHEN m > 32 THEN 'too_many_media' "
            "  WHEN m > 0 AND tc < 10 * m THEN 'media_text_ratio' END "
            "  AS reject_reason, "
            "CASE WHEN m > 32 OR (m > 0 AND tc < 10 * m) THEN 0 ELSE 1 END "
            "  AS keep "
            "FROM c"
        ),
        "curate": (
            # the planted ten-class corpus: the expected stage verdict
            # is a pure function of doc_id % 10
            "SELECT doc_id, CASE doc_id % 10 "
            "  WHEN 1 THEN 'url_duplicate' WHEN 2 THEN 'blocked_domain' "
            "  WHEN 3 THEN 'quality:too_repetitive' WHEN 4 THEN 'language' "
            "  WHEN 6 THEN 'exact_duplicate' WHEN 7 THEN 'contaminated' "
            "  END AS reject_reason, "
            "CASE WHEN doc_id % 10 IN (0, 5, 8, 9) THEN 1 ELSE 0 END AS keep "
            "FROM documents"
        ),
        "materialize_packs": (
            # the pack_sequences window arithmetic + ordered string_agg
            "WITH c AS (SELECT doc_id, text, doc_id % 8 AS bucket, "
            "  SUM(n_chars) OVER (PARTITION BY doc_id % 8 ORDER BY doc_id "
            "    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) "
            "    - n_chars AS prev_cum, n_chars FROM documents), "
            "p AS (SELECT doc_id, text, n_chars, "
            "  CAST(bucket AS INTEGER) AS bucket, "
            "  CAST(prev_cum // 20000 AS BIGINT) AS pack_id FROM c) "
            "SELECT bucket, pack_id, "
            "string_agg(text, E'\\n\\n' ORDER BY doc_id) AS text, "
            "COUNT(*) AS n_docs, CAST(SUM(n_chars) AS BIGINT) AS n_tokens "
            "FROM p GROUP BY 1, 2"
        ),
        "group_quota": (
            # the quota predicate verbatim: md5-hex priority order, ROWS
            # frame, inclusive cumulative sum <= budget
            "SELECT doc_id, source, w FROM ("
            "  SELECT doc_id, source, CAST(n_chars AS BIGINT) AS w, "
            "    SUM(CAST(n_chars AS BIGINT)) OVER ("
            "      PARTITION BY source "
            "      ORDER BY substr(md5('fuzi-quota:' || CAST(doc_id AS VARCHAR)), 1, 8), "
            "               CAST(doc_id AS VARCHAR) "
            "      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum "
            "  FROM documents) WHERE cum <= 4000"
        ),
        "split_by_group": (
            # thresholds are hex_threshold(0.8)/hex_threshold(0.8+0.1)
            # through the implementation's exact float path: cccccccc /
            # e6666666; group key = md5(text) so both copies co-assign
            "SELECT doc_id, "
            "CASE WHEN h < 'cccccccc' THEN 'train' "
            "     WHEN h < 'e6666666' THEN 'val' ELSE 'test' END AS split "
            "FROM (SELECT doc_id, "
            "        substr(md5('fuzi-split:' || md5(text)), 1, 8) AS h "
            "      FROM (SELECT doc_id, text FROM documents "
            "            UNION ALL "
            "            SELECT doc_id + 1000000, text FROM documents))"
        ),
        "epoch_order": (
            # the bucketed offset+rank plan must equal plain ROW_NUMBER
            # over the same md5 order (ties impossible: md5 over unique
            # keys)
            "SELECT doc_id, CAST(1 AS INTEGER) AS epoch, "
            "CAST(ROW_NUMBER() OVER ("
            "  ORDER BY md5('fuzi-epoch:1:' || CAST(doc_id AS VARCHAR))"
            ") - 1 AS BIGINT) AS epoch_pos FROM documents"
        ),
        "mixture_sample": (
            # mixture_rates' exact IEEE sequence: t/share, MIN -> T,
            # LEAST(1, T*share/t) -> rate, keep iff md5 bucket (parsed
            # numerically via the 0x cast) < rate * 2^32
            "WITH tot AS ("
            "  SELECT lang, CAST(SUM(n_chars) AS DOUBLE) AS t "
            "  FROM documents GROUP BY lang), "
            "sh AS ("
            "  SELECT lang, t, CASE lang WHEN 'en' THEN 0.35 "
            "    WHEN 'de' THEN 0.25 WHEN 'fr' THEN 0.2 "
            "    WHEN 'es' THEN 0.2 END AS share "
            "  FROM tot WHERE t > 0), "
            "tmax AS (SELECT MIN(t / share) AS tm FROM sh "
            "         WHERE share IS NOT NULL), "
            "rates AS ("
            "  SELECT lang, LEAST(1.0, tm * share / t) AS r "
            "  FROM sh, tmax WHERE share IS NOT NULL) "
            "SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS w "
            "FROM documents d JOIN rates USING (lang) "
            "WHERE CAST(('0x' || substr(md5('fuzi-mix:' "
            "  || CAST(d.doc_id AS VARCHAR)), 1, 8)) AS UBIGINT)::DOUBLE "
            "  < r * 4294967296.0"
        ),
        "strip_media_chrome": (
            # replay the frequency decision from the same group counts:
            # logo chrome iff its domain has >= 10 docs, banner chrome
            # iff >= 10 docs carry it, unique img always kept
            "WITH d AS (SELECT doc_id, doc_id % 25 AS dm, "
            "  (doc_id % 10 = 0) AS hasb FROM documents), "
            "c AS (SELECT dm, COUNT(*) AS dom_cnt FROM d GROUP BY dm), "
            "b AS (SELECT COUNT(*) AS ban_cnt FROM d WHERE hasb) "
            "SELECT d.doc_id, "
            "CAST((CASE WHEN c.dom_cnt >= 10 THEN 1 ELSE 0 END) "
            "  + (CASE WHEN d.hasb AND b.ban_cnt >= 10 THEN 1 ELSE 0 END) "
            "  AS BIGINT) AS n_media_stripped, "
            "CAST(2 + (CASE WHEN c.dom_cnt < 10 THEN 1 ELSE 0 END) "
            "  + (CASE WHEN d.hasb AND b.ban_cnt < 10 THEN 1 ELSE 0 END) "
            "  AS BIGINT) AS n_spans_after, "
            "concat_ws(',', "
            "  CASE WHEN c.dom_cnt < 10 THEN "
            "    'logo_d' || CAST(d.dm AS VARCHAR) || '.png' END, "
            "  CASE WHEN d.hasb AND b.ban_cnt < 10 THEN 'banner.png' END, "
            "  'img/' || CAST(d.doc_id AS VARCHAR) || '.jpg') AS kept_refs "
            "FROM d JOIN c USING (dm) CROSS JOIN b"
        ),
        "sitemap_urls": (
            "WITH j2 AS (SELECT UNNEST([1,2]) AS j), "
            "j3 AS (SELECT UNNEST([1,2,3]) AS j) "
            "SELECT d.doc_id AS site_id, 'sitemap' AS kind, "
            "CAST(j-1 AS INTEGER) AS seq, "
            "'https://s' || CAST(d.doc_id AS VARCHAR) "
            "  || '.example.com/sitemap' || CAST(j AS VARCHAR) "
            "  || '.xml' AS loc, "
            "'2024-01-0' || CAST(j AS VARCHAR) AS lastmod, "
            "CAST(NULL AS VARCHAR) AS changefreq, "
            "CAST(NULL AS DOUBLE) AS priority "
            "FROM documents d CROSS JOIN j2 WHERE d.doc_id % 5 = 0 "
            "UNION ALL "
            "SELECT d.doc_id, 'url', CAST(j-1 AS INTEGER), "
            "'https://d' || CAST(d.doc_id AS VARCHAR) "
            "  || '.example.com/p/' || CAST(j AS VARCHAR), "
            "CASE WHEN j = 1 THEN '2024-02-01' END, "
            "CASE WHEN j = 2 THEN 'weekly' END, "
            "CASE WHEN j = 3 THEN 0.3 END "
            "FROM documents d CROSS JOIN j3 WHERE d.doc_id % 5 <> 0"
        ),
        "extract_feed": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v "
            "  FROM documents) "
            "SELECT doc_id AS feed_id, 'atom' AS feed_type, "
            "  'Feed ' || v AS feed_title, CAST(0 AS INTEGER) AS entry_idx, "
            "  'Post ' || v || 'a' AS title, "
            "  'https://f' || v || '/1' AS link, "
            "  '2024-03-01' AS updated, 'A' || v AS author "
            "FROM s WHERE doc_id % 2 = 0 "
            "UNION ALL "
            "SELECT doc_id, 'atom', 'Feed ' || v, CAST(1 AS INTEGER), "
            "  'Post ' || v || 'b', 'https://f' || v || '/2', "
            "  '2024-03-02', CAST(NULL AS VARCHAR) "
            "FROM s WHERE doc_id % 2 = 0 "
            "UNION ALL "
            "SELECT doc_id, 'rss', 'Chan ' || v, CAST(0 AS INTEGER), "
            "  'Item ' || v, 'https://r' || v || '/1', "
            "  'Tue, 02 Apr 2024', 'a' || v || '@e.com' "
            "FROM s WHERE doc_id % 2 = 1"
        ),
        "to_markdown": (
            "WITH b AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS s, "
            "  chr(10) || chr(10) AS nn FROM documents), "
            "m AS (SELECT doc_id, "
            "  '# Doc ' || s || nn || "
            "  '## Section ' || s || nn || "
            "  'Intro paragraph for document ' || s "
            "    || ' with plain text.' || nn || "
            "  '- alpha ' || s || chr(10) || '- beta ' || s || nn || "
            "  'See [link ' || s || '](https://ex.com/' || s "
            "    || ') and `v' || s || '`.' || nn || "
            "  '> Quoted ' || s || nn || "
            "  '```' || chr(10) || 'code line ' || s || chr(10) "
            "    || 'second line' || chr(10) || '```' || nn || "
            "  '| K | V |' || chr(10) || '| --- | --- |' || chr(10) "
            "    || '| id | ' || s || ' |' || nn || "
            "  'Tail **bold ' || s || '** and *it*.' || nn || "
            "  '---' || nn || "
            "  '![pic ' || s || '](img/' || s || '.png)' AS markdown "
            "FROM b) "
            "SELECT doc_id, markdown, CAST(0 AS INTEGER) AS parse_error, "
            "CAST(length(markdown) AS BIGINT) AS n_chars FROM m"
        ),
        "extract_tables": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v, "
            "  CAST(doc_id + 1 AS VARCHAR) AS v2 FROM documents) "
            "SELECT doc_id, CAST(0 AS INTEGER) AS table_idx, "
            "  CAST(0 AS INTEGER) AS row_idx, CAST(1 AS INTEGER) AS is_header, "
            "  'K|V' AS cells_joined, CAST(2 AS INTEGER) AS n_cells FROM s "
            "UNION ALL SELECT doc_id, 0, 1, 0, 'id|' || v, 2 FROM s "
            "UNION ALL SELECT doc_id, 0, 2, 0, 'next|' || v2, 2 FROM s "
            "UNION ALL SELECT doc_id, 1, 0, 1, 'X ' || v, 1 FROM s "
            "  WHERE doc_id % 3 = 0 "
            "UNION ALL SELECT doc_id, 1, 1, 0, 'y', 1 FROM s "
            "  WHERE doc_id % 3 = 0"
        ),
        "anchor_text": (
            "WITH links AS ("
            "  SELECT doc_id, 'https://t' || CAST(doc_id % 20 AS VARCHAR) "
            "    || '.example.com/p' AS url, "
            "    'Target ' || CAST(doc_id % 20 AS VARCHAR) AS anchor "
            "  FROM documents "
            "  UNION ALL "
            "  SELECT doc_id, 'https://t' || CAST(doc_id % 20 AS VARCHAR) "
            "    || '.example.com/p', 'Hub' "
            "  FROM documents WHERE doc_id % 2 = 0 "
            "  UNION ALL "
            "  SELECT doc_id, 'https://t' || CAST((doc_id + 1) % 20 AS VARCHAR) "
            "    || '.example.com/p', "
            "    'Target ' || CAST((doc_id + 1) % 20 AS VARCHAR) "
            "  FROM documents), "
            "per_url AS (SELECT url, COUNT(*) AS n_links, "
            "  COUNT(DISTINCT doc_id) AS n_docs FROM links GROUP BY url), "
            "ranked AS (SELECT url, anchor, ROW_NUMBER() OVER ("
            "  PARTITION BY url ORDER BY COUNT(*) DESC, anchor ASC) AS rk "
            "  FROM links GROUP BY url, anchor) "
            "SELECT p.url, p.n_links, p.n_docs, r.anchor AS top_anchor "
            "FROM per_url p JOIN ranked r ON p.url = r.url AND r.rk = 1"
        ),
        "json_ld": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v, "
            "  CAST(doc_id % 9 + 1 AS VARCHAR) AS d9, "
            "  CASE WHEN doc_id % 7 = 0 THEN 2 ELSE 1 END AS gidx "
            "  FROM documents) "
            "SELECT doc_id, CAST(0 AS INTEGER) AS script_idx, "
            "  CAST(0 AS INTEGER) AS item_idx, 'Article' AS ld_type, "
            "  'Title ' || v AS name, '2024-05-0' || d9 AS date_published, "
            "  'A' || v AS author, 'https://e.com/' || v AS url FROM s "
            "UNION ALL "
            "SELECT doc_id, CAST(gidx AS INTEGER), 0, 'NewsArticle', "
            "  'G' || v, NULL, NULL, NULL FROM s WHERE doc_id % 4 = 0 "
            "UNION ALL "
            "SELECT doc_id, CAST(gidx AS INTEGER), 1, 'WebPage', "
            "  NULL, NULL, NULL, 'https://e.com/w/' || v "
            "FROM s WHERE doc_id % 4 = 0"
        ),
        "readability": (
            "WITH c AS (SELECT doc_id, "
            "  len(regexp_extract_all(text, '[A-Za-z]+')) AS w, "
            "  GREATEST(len(regexp_extract_all(text, '[.!?]+')), 1) AS sn, "
            "  len(regexp_extract_all(text, '[aeiouyAEIOUY]+')) AS sy "
            "  FROM documents) "
            "SELECT doc_id, CAST(w AS BIGINT) AS n_words, "
            "  CAST(CASE WHEN w > 0 THEN sn ELSE 0 END AS BIGINT) "
            "    AS n_sentences, "
            "  CAST(sy AS BIGINT) AS n_syllables, "
            "  CASE WHEN w > 0 THEN ROUND(206.835 "
            "    - 1.015 * (CAST(w AS DOUBLE) / sn) "
            "    - 84.6 * (CAST(sy AS DOUBLE) / w), 4) END AS flesch "
            "FROM c"
        ),
        "hreflang": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v "
            "  FROM documents) "
            "SELECT doc_id, CAST(0 AS INTEGER) AS seq, 'en' AS hreflang, "
            "  'https://e.com/' || v || '/en' AS href FROM s "
            "UNION ALL "
            "SELECT doc_id, CAST(1 AS INTEGER), 'de', "
            "  'https://e.com/' || v || '/de' FROM s WHERE doc_id % 2 = 0 "
            "UNION ALL "
            "SELECT doc_id, "
            "  CAST(CASE WHEN doc_id % 2 = 0 THEN 2 ELSE 1 END AS INTEGER), "
            "  'x-default', 'https://e.com/' || v || '/x' "
            "FROM s WHERE doc_id % 3 = 0"
        ),
        "image_captions": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v "
            "  FROM documents) "
            "SELECT doc_id, CAST(0 AS INTEGER) AS img_idx, "
            "  'https://e.com/' || v || '/a.jpg' AS media_ref, "
            "  'Fig ' || v AS caption, 'figcaption' AS caption_source "
            "FROM s "
            "UNION ALL "
            "SELECT doc_id, CAST(1 AS INTEGER), "
            "  'https://e.com/' || v || '/b.jpg', "
            "  CASE WHEN doc_id % 2 = 0 THEN 'alt-b-' || v "
            "       ELSE 't-' || v END, "
            "  CASE WHEN doc_id % 2 = 0 THEN 'alt' ELSE 'title' END "
            "FROM s "
            "UNION ALL "
            "SELECT doc_id, CAST(2 AS INTEGER), "
            "  'https://e.com/' || v || '/c.jpg', "
            "  CAST(NULL AS VARCHAR), 'none' "
            "FROM s WHERE doc_id % 3 = 0 "
            "UNION ALL "
            "SELECT doc_id, "
            "  CAST(CASE WHEN doc_id % 3 = 0 THEN 3 ELSE 2 END "
            "    AS INTEGER), "
            "  CAST(NULL AS VARCHAR), 'd-' || v, 'alt' "
            "FROM s WHERE doc_id % 5 = 0"
        ),
        "doc_outline": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v, "
            "  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS d3, "
            "  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS d2 "
            "  FROM documents) "
            "SELECT doc_id, CAST(0 AS INTEGER) AS seq, "
            "  CAST(1 AS INTEGER) AS level, 'T' || v AS heading, "
            "  '' AS path FROM s "
            "UNION ALL "
            "SELECT doc_id, CAST(1 AS INTEGER), CAST(4 AS INTEGER), "
            "  'D' || v, 'T' || v FROM s WHERE d3 = 1 "
            "UNION ALL "
            "SELECT doc_id, CAST(1 + d3 AS INTEGER), "
            "  CAST(2 AS INTEGER), 'A' || v, 'T' || v FROM s "
            "UNION ALL "
            "SELECT doc_id, CAST(2 + d3 AS INTEGER), "
            "  CAST(3 AS INTEGER), 'B' || v, "
            "  'T' || v || ' > A' || v FROM s WHERE d2 = 1 "
            "UNION ALL "
            "SELECT doc_id, CAST(2 + d3 + d2 AS INTEGER), "
            "  CAST(2 AS INTEGER), 'C' || v, 'T' || v FROM s"
        ),
        "fix_mojibake": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v "
            "  FROM documents) "
            "SELECT doc_id, "
            f"  CASE WHEN doc_id % 3 = 0 THEN '{_MOJI_CLEAN} ' || v "
            "       WHEN doc_id % 3 = 1 "
            "         THEN 'plain ' || v || ' ☃ text.' "
            "       ELSE 'price Ã 10 euros ' || v END AS fixed_text, "
            "  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS was_mojibake "
            "FROM s"
        ),
        "detect_code": (
            "WITH c AS (SELECT doc_id, "
            "  CAST(length(text) - length(replace(text, chr(10), '')) "
            "    + 1 AS DOUBLE) AS nl, "
            "  CAST(len(regexp_extract_all(text, "
            "    '(?m)[;{}][ \\t]*$')) AS DOUBLE) AS p, "
            "  CAST(len(regexp_extract_all(text, "
            "    '(?m)^(?:\\t|    )')) AS DOUBLE) AS ind, "
            "  len(regexp_extract_all(text, "
            "    '\\b(?:def|class|return|import|function|var|let|const|"
            "void|public|static|if|else|for|while|struct|enum|fn|"
            "println|printf)\\b')) AS kw "
            "  FROM documents), "
            "sc AS (SELECT doc_id, nl, p, ind, kw, "
            "  ROUND(0.5 * (p / nl) + 0.3 * (ind / nl) "
            "    + 0.2 * CAST(LEAST(kw, 10) AS DOUBLE) / 10.0, 4) "
            "    AS code_score FROM c) "
            "SELECT doc_id, CAST(nl AS BIGINT) AS n_lines, "
            "  CAST(p AS BIGINT) AS n_punct_lines, "
            "  CAST(ind AS BIGINT) AS n_indent_lines, "
            "  CAST(kw AS BIGINT) AS n_keywords, code_score, "
            "  CAST(CASE WHEN code_score >= 0.25 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS is_code "
            "FROM sc"
        ),
        "code_quality": (
            "WITH b AS (SELECT doc_id, "
            "  'def f_' || CAST(doc_id AS VARCHAR) || '(x):' || chr(10) "
            "  || '    return x + ' || CAST(doc_id % 7 AS VARCHAR) "
            "  || chr(10) || '# comment' || chr(10) AS base "
            "  FROM documents), "
            "t AS (SELECT doc_id, "
            "  CASE WHEN doc_id % 5 = 1 THEN base || repeat('a', 1200) "
            "       WHEN doc_id % 5 = 2 "
            "         THEN base || repeat('0123456789', 30) "
            "       WHEN doc_id % 5 = 3 "
            "         THEN '# auto-generated; do not edit' || chr(10) "
            "           || base "
            "       WHEN doc_id % 5 = 4 "
            "         THEN base || repeat('!@#$%^&*() ', 20) "
            "       ELSE base END AS text FROM b), "
            "m AS (SELECT doc_id, "
            "  CAST(length(text) AS DOUBLE) AS nc, "
            "  CAST(length(text) - length(replace(text, chr(10), '')) "
            "    + 1 AS DOUBLE) AS nl, "
            "  CAST(list_max(list_transform(string_split(text, chr(10)), "
            "    x -> length(x))) AS BIGINT) AS maxl, "
            "  CAST(length(regexp_replace(text, '[^A-Za-z0-9]', '', 'g')) "
            "    AS DOUBLE) AS na, "
            "  CAST(length(regexp_replace(text, '[^0-9]', '', 'g')) "
            "    AS DOUBLE) AS nd, "
            "  CAST(CASE WHEN len(regexp_extract_all("
            "    lower(substr(text, 1, 300)), "
            "    'auto-generated|autogenerated|do not edit|generated by'"
            ")) > 0 THEN 1 ELSE 0 END AS INTEGER) AS autogen "
            "  FROM t), "
            "r AS (SELECT doc_id, nl, maxl, "
            "  ROUND((nc - (nl - 1)) / nl, 4) AS avg_len, "
            "  ROUND(na / nc, 4) AS alnum, ROUND(nd / nc, 4) AS digit, "
            "  autogen, nc FROM m), "
            "f AS (SELECT doc_id, nl, maxl, avg_len, alnum, digit, "
            "  autogen, "
            "  CASE WHEN nc = 0 THEN 'empty' "
            "       WHEN maxl > 1000 THEN 'long_line' "
            "       WHEN avg_len > 100.0 THEN 'avg_line' "
            "       WHEN alnum < 0.25 THEN 'low_alnum' "
            "       WHEN digit > 0.50 THEN 'data_file' "
            "       WHEN autogen = 1 THEN 'autogen' "
            "       ELSE NULL END AS reject_reason FROM r) "
            "SELECT doc_id, CAST(nl AS BIGINT) AS n_lines, "
            "  maxl AS max_line_len, avg_len AS avg_line_len, "
            "  alnum AS alnum_frac, digit AS digit_frac, autogen, "
            "  reject_reason, "
            "  CAST(CASE WHEN reject_reason IS NULL THEN 1 ELSE 0 END "
            "    AS INTEGER) AS keep "
            "FROM f"
        ),
        "audio_flac": (
            # identical RMS formula to audio_features; format 'flac'
            "WITH s AS (SELECT doc_id, "
            "  CAST(100 + (doc_id * 37) % 30000 AS DOUBLE) AS a "
            "  FROM documents), "
            "l AS (SELECT doc_id, "
            "  ROUND(CAST(CAST(a / 32768.0 AS REAL) AS DOUBLE), 4) "
            "    AS v FROM s) "
            "SELECT doc_id, 'flac' AS format, "
            "  CAST(1 + doc_id % 2 AS INTEGER) AS channels, "
            "  CAST(1 AS INTEGER) AS decode_ok, "
            "  v AS f_first, v AS f_last, v AS mean_f "
            "FROM l"
        ),
        "image_pixels_12bit": (
            "SELECT doc_id, 'jpeg' AS format, "
            "  CAST(8 + doc_id % 9 AS INTEGER) AS width, "
            "  CAST(8 + doc_id % 5 AS INTEGER) AS height, "
            "  CAST(1 AS INTEGER) AS channels, "
            "  CAST(1 AS INTEGER) AS decode_ok, "
            "  CAST(51.0 * (doc_id % 6) AS DOUBLE) AS f_first, "
            "  CAST(51.0 * (doc_id % 6) AS DOUBLE) AS f_last, "
            "  CAST(51.0 * (doc_id % 6) AS DOUBLE) AS mean_f "
            "FROM documents"
        ),
        "image_pixels_deep": (
            # the deep-envelope formula: gray16/progressive rows carry
            # the exact gray value; the palette row the REAL-cast luma
            "WITH s AS (SELECT doc_id, "
            "  CAST(doc_id % 256 AS DOUBLE) AS r, "
            "  CAST((2 * doc_id) % 256 AS DOUBLE) AS g, "
            "  CAST((3 * doc_id) % 256 AS DOUBLE) AS b "
            "  FROM documents), "
            "l AS (SELECT doc_id, "
            "  CASE WHEN doc_id % 3 = 1 "
            "    THEN ROUND(CAST(CAST(CAST(0.299 AS DOUBLE) * r "
            "      + CAST(0.587 AS DOUBLE) * g "
            "      + CAST(0.114 AS DOUBLE) * b AS REAL) AS DOUBLE), 4) "
            "    ELSE CAST(doc_id % 256 AS DOUBLE) "
            "  END AS v FROM s) "
            "SELECT doc_id, "
            "  CASE WHEN doc_id % 3 = 2 THEN 'jpeg' ELSE 'png' END "
            "    AS format, "
            "  CAST(8 + doc_id % 9 AS INTEGER) AS width, "
            "  CAST(8 + doc_id % 5 AS INTEGER) AS height, "
            "  CAST(1 AS INTEGER) AS channels, "
            "  CAST(1 AS INTEGER) AS decode_ok, "
            "  v AS f_first, v AS f_last, v AS mean_f "
            "FROM l"
        ),
        "image_pixels": (
            "WITH s AS (SELECT doc_id, "
            "  CAST(doc_id % 256 AS DOUBLE) AS r, "
            "  CAST((2 * doc_id) % 256 AS DOUBLE) AS g, "
            "  CAST((3 * doc_id) % 256 AS DOUBLE) AS b "
            "  FROM documents), "
            "l AS (SELECT doc_id, "
            "  CASE WHEN doc_id % 3 = 2 "
            "    THEN CAST(doc_id % 256 AS DOUBLE) "
            "    ELSE ROUND(CAST(CAST(CAST(0.299 AS DOUBLE) * r "
            "      + CAST(0.587 AS DOUBLE) * g "
            "      + CAST(0.114 AS DOUBLE) * b AS REAL) AS DOUBLE), 4) "
            "  END AS v FROM s) "
            "SELECT doc_id, "
            "  CASE WHEN doc_id % 3 = 0 THEN 'png' "
            "       WHEN doc_id % 3 = 1 THEN 'gif' "
            "       ELSE 'jpeg' END AS format, "
            "  CAST(8 + doc_id % 9 AS INTEGER) AS width, "
            "  CAST(8 + doc_id % 5 AS INTEGER) AS height, "
            "  CAST(CASE WHEN doc_id % 3 = 2 THEN 1 ELSE 3 END "
            "    AS INTEGER) AS channels, "
            "  CAST(1 AS INTEGER) AS decode_ok, "
            "  v AS f_first, v AS f_last, v AS mean_f "
            "FROM l"
        ),
        "span_language": (
            "WITH s AS (SELECT doc_id, "
            "  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS d2 "
            "  FROM documents) "
            "SELECT doc_id, CAST(0 AS INTEGER) AS seq, "
            "  'paragraph' AS kind, 'en' AS lang FROM s "
            "UNION ALL "
            "SELECT doc_id, CAST(2 AS INTEGER), 'paragraph', 'de' "
            "FROM s WHERE d2 = 1 "
            "UNION ALL "
            "SELECT doc_id, CAST(2 + d2 AS INTEGER), 'heading', 'ru' "
            "FROM s WHERE doc_id % 3 = 0"
        ),
        "snapshot_delta": (
            "SELECT 'https://e.com/d/' || CAST(doc_id AS VARCHAR) "
            "    AS url, "
            "  CASE WHEN doc_id % 4 = 0 THEN 'added' "
            "       WHEN doc_id % 4 = 1 THEN 'removed' "
            "       WHEN doc_id % 7 = 0 THEN 'changed' "
            "       ELSE 'unchanged' END AS status, "
            "  CASE WHEN doc_id % 4 = 1 THEN NULL ELSE doc_id END "
            "    AS cur_id, "
            "  CASE WHEN doc_id % 4 = 0 THEN NULL ELSE doc_id END "
            "    AS prev_id "
            "FROM documents"
        ),
        "audio_features": (
            "WITH s AS (SELECT doc_id, "
            "  CAST(100 + (doc_id * 37) % 30000 AS DOUBLE) AS a "
            "  FROM documents), "
            "l AS (SELECT doc_id, "
            "  ROUND(CAST(CAST(a / 32768.0 AS REAL) AS DOUBLE), 4) "
            "    AS v FROM s) "
            "SELECT doc_id, 'wav' AS format, "
            "  CAST(1 + doc_id % 2 AS INTEGER) AS channels, "
            "  CAST(1 AS INTEGER) AS decode_ok, "
            "  v AS f_first, v AS f_last, v AS mean_f "
            "FROM l"
        ),
        "video_frames": (
            "WITH n AS (SELECT doc_id, 3 + doc_id % 4 AS nf, "
            "  CASE doc_id % 5 WHEN 0 THEN 100000 WHEN 1 THEN 90909 "
            "    WHEN 2 THEN 83333 WHEN 3 THEN 76923 "
            "    ELSE 71429 END AS uspf "
            "  FROM documents), "
            "f AS (SELECT doc_id, uspf, "
            "  unnest(range(nf)) AS i FROM n) "
            "SELECT doc_id, CAST(i AS INTEGER) AS frame_idx, "
            "  CAST((i * uspf) // 1000 AS INTEGER) AS ts_ms, "
            "  CAST(16 + (doc_id + i) % 8 AS INTEGER) AS frame_w, "
            "  CAST(9 + i AS INTEGER) AS frame_h "
            "FROM f"
        ),
        "crawl_frontier": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v "
            "  FROM documents) "
            "SELECT 'https://e.com' || "
            "  (CASE WHEN doc_id % 3 = 0 THEN '/private/p' "
            "        ELSE '/p/' END) || v AS url, "
            "  CAST(2 AS BIGINT) AS n_sources, "
            "  CASE WHEN doc_id % 3 = 0 THEN 'robots_denied' "
            "       WHEN doc_id % 4 = 0 THEN 'already_crawled' "
            "       ELSE 'frontier' END AS reason, "
            "  CAST(CASE WHEN doc_id % 3 <> 0 AND doc_id % 4 <> 0 "
            "    THEN 1 ELSE 0 END AS INTEGER) AS fetch "
            "FROM s "
            "UNION ALL "
            "SELECT 'https://blocked.com/x/' || v, CAST(1 AS BIGINT), "
            "  'blocked_domain', CAST(0 AS INTEGER) "
            "FROM s WHERE doc_id % 5 = 0"
        ),
        "media_context": (
            "WITH s AS (SELECT doc_id, CAST(doc_id AS VARCHAR) AS v, "
            "  CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS d2, "
            "  CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END AS d3 "
            "  FROM documents) "
            "SELECT doc_id, CAST(0 AS INTEGER) AS seq, "
            "  'img/' || v || '/0.jpg' AS media_ref, "
            "  'a0-' || v AS alt_text, "
            "  CAST(NULL AS VARCHAR) AS context_before, "
            "  'P0 ' || v AS context_after FROM s "
            "UNION ALL "
            "SELECT doc_id, CAST(2 AS INTEGER), "
            "  'img/' || v || '/1.jpg', CAST(NULL AS VARCHAR), "
            "  'P0 ' || v, "
            "  CASE WHEN d3 = 1 THEN 'P1 ' || v END "
            "FROM s WHERE d2 = 1 "
            "UNION ALL "
            "SELECT doc_id, CAST(2 + d2 + d3 AS INTEGER), "
            "  'img/' || v || '/2.jpg', 'c-' || v, "
            "  CASE WHEN d3 = 1 THEN 'P1 ' || v ELSE 'P0 ' || v END, "
            "  CAST(NULL AS VARCHAR) "
            "FROM s"
        ),
        "exif_strip": (
            "SELECT doc_id, "
            "  CAST(CASE WHEN doc_id % 7 = 0 THEN 41 "
            "       WHEN doc_id % 3 = 0 THEN 41 + 115 "
            "       ELSE 41 + 97 END AS INTEGER) AS orig_len, "
            "  CAST(41 AS INTEGER) AS new_len, "
            "  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END "
            "    AS INTEGER) AS had_exif, "
            "  CAST(1 AS INTEGER) AS strip_ok, "
            "  CAST(0 AS INTEGER) AS still_exif "
            "FROM documents"
        ),
        "image_exif": (
            "SELECT doc_id, "
            "  CASE WHEN doc_id % 7 = 0 THEN NULL "
            "    WHEN doc_id % 2 = 0 THEN 'II' ELSE 'MM' END AS byte_order, "
            "  CAST(CASE WHEN doc_id % 7 = 0 THEN NULL "
            "    ELSE 1 + doc_id % 8 END AS INTEGER) AS orientation, "
            "  CASE WHEN doc_id % 7 = 0 THEN NULL "
            "    ELSE 'Cam' || CAST(doc_id % 5 AS VARCHAR) END AS make, "
            "  CASE WHEN doc_id % 7 = 0 THEN NULL "
            "    ELSE 'M-' || CAST(doc_id % 4 AS VARCHAR) END AS model, "
            "  CASE WHEN doc_id % 7 = 0 THEN NULL "
            "    ELSE '2024:0' || CAST(1 + doc_id % 9 AS VARCHAR) || "
            "    ':01 00:00:00' END AS datetime, "
            "  CAST(CASE WHEN doc_id % 7 <> 0 AND doc_id % 3 = 0 "
            "    THEN 1 ELSE 0 END AS INTEGER) AS has_gps, "
            "  CAST(CASE WHEN doc_id % 7 = 0 THEN 0 ELSE 1 END "
            "    AS INTEGER) AS exif_ok "
            "FROM documents"
        ),
        "robots_sitemaps": (
            "WITH d AS (SELECT doc_id, doc_id % 3 AS ns FROM documents "
            "  WHERE doc_id % 3 > 0), "
            "e AS (SELECT doc_id, unnest(range(ns)) AS j FROM d) "
            "SELECT 'd' || CAST(doc_id AS VARCHAR) || '.com' AS host, "
            "  CAST(j AS INTEGER) AS seq, "
            "  'https://d' || CAST(doc_id AS VARCHAR) || '.com/sm-' || "
            "  CAST(j AS VARCHAR) || '.xml' AS sitemap_url "
            "FROM e"
        ),
        "interleave_episodes": (
            "WITH d AS (SELECT doc_id, doc_id % 3 AS x, "
            "  'aaaaaaaaaa' AS A, chr(10) || chr(10) AS nn "
            "  FROM documents), "
            "e0 AS (SELECT doc_id, 0 AS episode_idx, "
            "  A || nn || '<image>' || nn || A AS text, "
            "  ['m/' || CAST(doc_id AS VARCHAR) || '/0.jpg'] "
            "    AS media_refs, "
            "  CAST(1 AS BIGINT) AS n_media, "
            "  CAST(20 AS BIGINT) AS n_text_chars FROM d), "
            "e1 AS (SELECT doc_id, 1 AS episode_idx, "
            "  CASE WHEN x = 0 THEN '<image>' || nn || A "
            "    ELSE '<image>' || nn || A || nn || A END AS text, "
            "  ['m/' || CAST(doc_id AS VARCHAR) || '/1.jpg'] "
            "    AS media_refs, "
            "  CAST(1 AS BIGINT) AS n_media, "
            "  CAST(CASE WHEN x = 0 THEN 10 ELSE 20 END AS BIGINT) "
            "    AS n_text_chars FROM d), "
            "e2 AS (SELECT doc_id, 2 AS episode_idx, A AS text, "
            "  CAST([] AS VARCHAR[]) AS media_refs, "
            "  CAST(0 AS BIGINT) AS n_media, "
            "  CAST(10 AS BIGINT) AS n_text_chars FROM d WHERE x = 2) "
            "SELECT doc_id, CAST(episode_idx AS INTEGER) AS episode_idx, "
            "  text, media_refs, n_media, n_text_chars FROM ("
            "  SELECT * FROM e0 UNION ALL SELECT * FROM e1 "
            "  UNION ALL SELECT * FROM e2)"
        ),
        "media_quality": (
            "WITH d AS (SELECT doc_id, doc_id % 4 AS c, "
            "  CASE WHEN doc_id % 4 = 0 THEN 100 + doc_id % 50 "
            "    WHEN doc_id % 4 = 1 THEN 32 "
            "    WHEN doc_id % 4 = 2 THEN 600 ELSE NULL END AS w, "
            "  CASE WHEN doc_id % 4 = 0 THEN 120 "
            "    WHEN doc_id % 4 = 1 THEN 200 "
            "    WHEN doc_id % 4 = 2 THEN 80 ELSE NULL END AS h "
            "  FROM documents) "
            "SELECT doc_id, CAST(w AS INTEGER) AS width, "
            "  CAST(h AS INTEGER) AS height, "
            "  CASE WHEN c = 3 THEN NULL "
            "    ELSE GREATEST(CAST(w AS DOUBLE) / h, "
            "                  CAST(h AS DOUBLE) / w) END AS aspect, "
            "  CASE WHEN c = 3 THEN 'decode_failed' "
            "    WHEN c = 1 THEN 'too_small' "
            "    WHEN c = 2 THEN 'extreme_aspect' "
            "    ELSE NULL END AS reject_reason, "
            "  CAST(CASE WHEN c = 0 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS keep "
            "FROM d"
        ),
        "bitext_pairs": (
            "WITH d0 AS (SELECT doc_id AS src_id, "
            "    doc_id - (doc_id % 4) AS b "
            "  FROM documents WHERE doc_id % 4 = 0), "
            "d1 AS (SELECT doc_id AS tgt_id, "
            "    doc_id - (doc_id % 4) AS b "
            "  FROM documents WHERE doc_id % 4 = 1) "
            "SELECT src_id, tgt_id, "
            "  'https://e.com/' || CAST(b AS VARCHAR) || '/en' "
            "    AS src_url, "
            "  'https://e.com/' || CAST(b AS VARCHAR) || '/de' "
            "    AS tgt_url "
            "FROM d0 JOIN d1 USING (b)"
        ),
        "url_signals": (
            "WITH d AS (SELECT doc_id, doc_id % 5 AS c FROM documents) "
            "SELECT doc_id, "
            "  CAST(CASE WHEN c = 0 THEN 3 WHEN c = 1 THEN 1 "
            "    WHEN c = 2 THEN 4 WHEN c = 3 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS path_depth, "
            "  CAST(CASE WHEN c = 1 THEN 2 WHEN c = 3 THEN 2 "
            "    ELSE 0 END AS INTEGER) AS n_query_params, "
            "  CAST(CASE WHEN c = 1 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS is_search, "
            "  CAST(CASE WHEN c = 2 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS is_index, "
            "  CAST(CASE WHEN c = 2 OR c = 3 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS is_paginated, "
            "  CAST(CASE WHEN c = 1 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS has_tracking "
            "FROM d"
        ),
        "compress_ratio": (
            "SELECT doc_id, "
            "  CASE WHEN doc_id % 3 = 1 THEN 'too_repetitive' "
            "    WHEN doc_id % 3 = 2 THEN 'too_random' "
            "    ELSE NULL END AS reject_reason, "
            "  CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS keep "
            "FROM documents"
        ),
        "script_mix": (
            "WITH d AS (SELECT doc_id, doc_id % 4 AS c, "
            "  3 + doc_id % 5 AS k0, 2 + doc_id % 3 AS k1, "
            "  1 + doc_id % 4 AS k2, 1 + doc_id % 2 AS k3 "
            "  FROM documents) "
            "SELECT doc_id, "
            "  CAST(CASE WHEN c = 0 THEN 2 * k0 "
            "    WHEN c = 2 THEN k2 ELSE 0 END AS BIGINT) AS n_latin, "
            "  CAST(CASE WHEN c = 1 THEN 3 * k1 "
            "    WHEN c = 2 THEN k2 ELSE 0 END AS BIGINT) AS n_cyrillic, "
            "  CAST(CASE WHEN c = 3 THEN 2 * k3 ELSE 0 END AS BIGINT) "
            "    AS n_greek, "
            "  CAST(CASE WHEN c = 2 THEN k2 ELSE 0 END AS BIGINT) "
            "    AS n_confusable_pairs, "
            "  CASE WHEN c = 0 OR c = 2 THEN 'latin' "
            "    WHEN c = 1 THEN 'cyrillic' ELSE 'greek' END "
            "    AS dominant_script, "
            "  CAST(CASE WHEN c = 2 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS script_spoof "
            "FROM d"
        ),
        "paywall": (
            "WITH d AS (SELECT doc_id, doc_id % 5 AS c FROM documents) "
            "SELECT doc_id, "
            "  CAST(CASE WHEN c = 3 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS has_password_input, "
            "  CAST(CASE WHEN c = 2 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS has_paywall_schema, "
            "  CAST(CASE WHEN c = 1 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS n_wall_markers, "
            "  CAST(CASE WHEN c = 1 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS has_wall_phrase, "
            "  CAST(CASE WHEN c = 1 OR c = 2 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS paywalled "
            "FROM d"
        ),
        "publish_date": (
            "WITH d AS (SELECT doc_id, doc_id % 4 AS c FROM documents) "
            "SELECT doc_id, "
            "  CASE WHEN c = 0 THEN '2023-0' || "
            "    CAST(1 + doc_id % 9 AS VARCHAR) || '-11' "
            "  WHEN c = 1 THEN '2022-1' || "
            "    CAST(doc_id % 2 AS VARCHAR) || '-05' "
            "  WHEN c = 2 THEN CAST(2020 + doc_id % 3 AS VARCHAR) || '-' "
            "    || lpad(CAST(1 + doc_id % 12 AS VARCHAR), 2, '0') || '-' "
            "    || lpad(CAST(1 + doc_id % 28 AS VARCHAR), 2, '0') "
            "  ELSE NULL END AS published, "
            "  CASE WHEN c = 0 THEN 'meta' WHEN c = 1 THEN 'time' "
            "    WHEN c = 2 THEN 'url' ELSE NULL END AS date_source, "
            "  CAST(CASE WHEN c < 3 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS has_date "
            "FROM d"
        ),
        "hidden_text": (
            "WITH d AS (SELECT doc_id, "
            "  12 + doc_id % 7 AS vis, "
            "  (CASE WHEN doc_id % 3 = 0 THEN 5 + doc_id % 4 ELSE 0 END "
            "   + CASE WHEN doc_id % 5 = 0 THEN 5 ELSE 0 END) AS hid, "
            "  (CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 0 END "
            "   + CASE WHEN doc_id % 5 = 0 THEN 1 ELSE 0 END) AS blocks "
            "  FROM documents) "
            "SELECT doc_id, CAST(vis AS INTEGER) AS visible_len, "
            "  CAST(hid AS INTEGER) AS hidden_len, "
            "  CAST(blocks AS INTEGER) AS n_hidden_blocks, "
            "  CAST(hid AS DOUBLE) / (vis + hid) AS hidden_frac, "
            "  CAST(CASE WHEN CAST(hid AS DOUBLE) / (vis + hid) > 0.4 "
            "    THEN 1 ELSE 0 END AS INTEGER) AS cloaked "
            "FROM d"
        ),
        "skew_report": (
            "WITH d AS (SELECT doc_id, "
            "  CASE WHEN doc_id % 4 = 0 THEN 'hot.com' "
            "    ELSE 'h' || CAST(doc_id % 37 AS VARCHAR) || '.com' "
            "  END AS host, "
            "  10 + doc_id % 5 AS w FROM documents), "
            "b AS (SELECT host, w, "
            "  CAST(CAST(('0x' || substr(md5(host), 1, 15)) AS BIGINT) "
            "    % 16 AS INTEGER) AS bucket FROM d), "
            "pk AS (SELECT bucket, host, COUNT(*) AS kn, "
            "  SUM(w) AS kw FROM b GROUP BY bucket, host), "
            "tot AS (SELECT bucket, SUM(kn) AS n_rows, "
            "  COUNT(*) AS n_keys, SUM(kw) AS total_weight "
            "  FROM pk GROUP BY bucket), "
            "hv AS (SELECT bucket, host AS max_key, kn AS max_key_rows "
            "  FROM (SELECT bucket, host, kn, ROW_NUMBER() OVER "
            "    (PARTITION BY bucket ORDER BY kn DESC, host ASC) AS rn "
            "    FROM pk) WHERE rn = 1) "
            "SELECT t.bucket, t.n_rows, t.n_keys, h.max_key, "
            "  h.max_key_rows, t.total_weight "
            "FROM tot t JOIN hv h ON t.bucket = h.bucket"
        ),
        "crawl_schedule": (
            "WITH f AS (SELECT doc_id, "
            "  'https://h' || CAST(doc_id % 20 AS VARCHAR) || '.com/p' || "
            "  CAST(doc_id % 7 AS VARCHAR) || '-' || "
            "  CAST(doc_id AS VARCHAR) AS url, "
            "  CAST(doc_id % 11 AS DOUBLE) AS priority, "
            "  'h' || CAST(doc_id % 20 AS VARCHAR) || '.com' AS host "
            "  FROM documents), "
            "w AS (SELECT doc_id, url, host, "
            "  CAST(CAST(('0x' || substr(md5(host), 1, 15)) AS BIGINT) "
            "    % 64 AS INTEGER) AS shard, "
            "  CAST(ROW_NUMBER() OVER (PARTITION BY host "
            "    ORDER BY priority DESC, url ASC) AS INTEGER) AS fetch_seq "
            "  FROM f) "
            "SELECT doc_id, url, host, shard, fetch_seq FROM w "
            "WHERE fetch_seq <= 10"
        ),
        "parse_archive": (
            "WITH d AS (SELECT doc_id, doc_id % 9 = 0 AS bad, "
            "  doc_id % 2 = 0 AS is_zip, 1 + doc_id % 3 AS nm "
            "  FROM documents), "
            "txt AS (SELECT doc_id, "
            "  CASE WHEN is_zip THEN 'zip' ELSE 'tar' END "
            "    AS archive_format, "
            "  CAST(1 AS INTEGER) AS archive_ok, "
            "  CAST(k AS INTEGER) AS seq, "
            "  'm' || CAST(k AS VARCHAR) || '.txt' AS member_name, "
            "  CAST(LENGTH('content ' || CAST(doc_id AS VARCHAR) "
            "    || '-' || CAST(k AS VARCHAR)) AS BIGINT) AS member_size, "
            "  CAST(1 AS INTEGER) AS is_text, "
            "  'content ' || CAST(doc_id AS VARCHAR) || '-' || "
            "    CAST(k AS VARCHAR) AS text "
            "  FROM (SELECT doc_id, is_zip, nm, unnest(range(nm)) AS k "
            "        FROM d WHERE NOT bad)), "
            "bin AS (SELECT doc_id, 'zip', CAST(1 AS INTEGER), "
            "  CAST(nm AS INTEGER), 'blob.bin', "
            "  CAST(5 + doc_id % 4 AS BIGINT), CAST(0 AS INTEGER), "
            "  CAST(NULL AS VARCHAR) "
            "  FROM d WHERE NOT bad AND is_zip), "
            "stub AS (SELECT doc_id, CAST(NULL AS VARCHAR), "
            "  CAST(0 AS INTEGER), CAST(NULL AS INTEGER), "
            "  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), "
            "  CAST(NULL AS INTEGER), CAST(NULL AS VARCHAR) "
            "  FROM d WHERE bad) "
            "SELECT * FROM txt UNION ALL SELECT * FROM bin "
            "UNION ALL SELECT * FROM stub"
        ),
        "audio_aac_meta": (
            "WITH p AS (SELECT doc_id, doc_id % 8 = 0 AS bad, "
            "  CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000 "
            "    WHEN 2 THEN 32000 ELSE 22050 END AS sr, "
            "  CASE doc_id % 4 WHEN 0 THEN 'Main' WHEN 1 THEN 'LC' "
            "    WHEN 2 THEN 'SSR' ELSE 'LTP' END AS prof, "
            "  1 + doc_id % 3 AS ch, 4 + doc_id % 5 AS nf, "
            "  doc_id % 2 AS crc, 1 + doc_id % 2 AS rb "
            "  FROM documents) "
            "SELECT doc_id, "
            "  CASE WHEN bad THEN NULL ELSE prof END AS profile, "
            "  CAST(CASE WHEN bad THEN NULL ELSE sr END AS INTEGER) "
            "    AS sample_rate, "
            "  CAST(CASE WHEN bad THEN NULL ELSE ch END AS INTEGER) "
            "    AS channels, "
            "  CAST(CASE WHEN bad THEN NULL ELSE nf END AS INTEGER) "
            "    AS n_frames, "
            "  CAST(CASE WHEN bad THEN NULL "
            "    ELSE (nf * rb * 1024 * 1000) // sr END AS INTEGER) "
            "    AS duration_ms, "
            "  CAST(CASE WHEN bad THEN NULL ELSE crc END AS INTEGER) "
            "    AS crc_protected, "
            "  CAST(0 AS INTEGER) AS decode_ok "
            "FROM p"
        ),
        "audio_m4a_meta": (
            "WITH p AS (SELECT doc_id, doc_id % 7 = 0 AS bad, "
            "  CASE doc_id % 4 WHEN 0 THEN 44100 WHEN 1 THEN 48000 "
            "    WHEN 2 THEN 32000 ELSE 22050 END AS sr, "
            "  CASE WHEN doc_id % 5 = 1 THEN 'alac' ELSE 'mp4a' END "
            "    AS cdc, "
            "  1 + doc_id % 2 AS ch, 50 + doc_id % 60 AS ns "
            "  FROM documents) "
            "SELECT doc_id, "
            "  CASE WHEN bad THEN NULL ELSE cdc END AS codec, "
            "  CAST(CASE WHEN bad THEN NULL ELSE ch END AS INTEGER) "
            "    AS channels, "
            "  CAST(CASE WHEN bad THEN NULL ELSE sr END AS INTEGER) "
            "    AS sample_rate, "
            "  CAST(CASE WHEN bad THEN NULL ELSE ns END AS INTEGER) "
            "    AS n_samples, "
            "  CAST(CASE WHEN bad THEN NULL "
            "    ELSE (ns * 1024 * 1000) // sr END AS BIGINT) "
            "    AS duration_ms, "
            "  CAST(0 AS INTEGER) AS decode_ok "
            "FROM p"
        ),
        "video_container_dedup": (
            "WITH d AS (SELECT doc_id, doc_id % 11 = 0 AS bad, "
            "  CASE WHEN doc_id % 3 = 2 THEN doc_id - 1 "
            "    ELSE doc_id END AS base FROM documents), "
            "g AS (SELECT doc_id, base % 150 AS k, "
            "  'vc/' || CAST(doc_id AS VARCHAR) || '.bin' AS ref "
            "  FROM d WHERE NOT bad), "
            "a AS (SELECT k, COUNT(*) AS gs, MIN(ref) AS canon "
            "  FROM g GROUP BY k) "
            "SELECT g.doc_id, CAST(a.gs AS BIGINT) AS group_size, "
            "  CAST(CASE WHEN g.ref = a.canon THEN 1 ELSE 0 END "
            "    AS INTEGER) AS keep, "
            "  CAST(1 AS INTEGER) AS parse_ok "
            "FROM g JOIN a USING (k) "
            "UNION ALL "
            "SELECT doc_id, CAST(1 AS BIGINT), CAST(1 AS INTEGER), "
            "  CAST(0 AS INTEGER) FROM d WHERE bad"
        ),
        "video_keyframes": (
            "WITH d AS (SELECT doc_id, doc_id % 9 = 0 AS bad, "
            "  doc_id % 2 = 0 AS ismp4, 3 + doc_id % 5 AS n, "
            "  2 + doc_id % 3 AS g FROM documents), "
            "p AS (SELECT *, CASE WHEN ismp4 THEN "
            "    (CASE WHEN doc_id % 4 = 0 THEN 'avc1' "
            "      ELSE 'hev1' END) "
            "  ELSE (CASE WHEN doc_id % 4 = 1 THEN 'V_MPEG4/ISO/AVC' "
            "      ELSE 'V_VP9' END) END AS codec, "
            "  (n + g - 1) // g AS k FROM d), "
            "s AS (SELECT doc_id, bad, ismp4, codec, n, g, k, "
            "  unnest(range(n)) AS i FROM p), "
            "sz AS (SELECT *, 40 + ((doc_id * 3 + i * 7) % 50) "
            "  AS size FROM s), "
            "cum AS (SELECT *, COALESCE(SUM(size) OVER ("
            "  PARTITION BY doc_id ORDER BY i ROWS BETWEEN "
            "  UNBOUNDED PRECEDING AND 1 PRECEDING), 0) AS pre "
            "  FROM sz) "
            "SELECT doc_id, codec, "
            "  CASE WHEN ismp4 THEN 'mp4' ELSE 'mkv' END "
            "    AS container, "
            "  CAST(40 * n AS BIGINT) AS duration_ms, "
            "  CAST(n AS INTEGER) AS n_samples, "
            "  CAST(1 AS INTEGER) AS parse_ok, "
            "  CAST(i AS INTEGER) AS kf_idx, "
            "  CAST(CASE WHEN ismp4 THEN 605 + 4*n + 4*k + pre "
            "    ELSE 126 + length(codec) + 7*i + pre END "
            "    AS BIGINT) AS kf_offset, "
            "  CAST(size AS INTEGER) AS kf_size "
            "FROM cum WHERE NOT bad AND i % g = 0 "
            "UNION ALL "
            "SELECT doc_id, CAST(NULL AS VARCHAR), "
            "  CAST(NULL AS VARCHAR), CAST(NULL AS BIGINT), "
            "  CAST(NULL AS INTEGER), CAST(0 AS INTEGER), "
            "  CAST(NULL AS INTEGER), CAST(NULL AS BIGINT), "
            "  CAST(NULL AS INTEGER) "
            "FROM d WHERE bad"
        ),
        "audio_mp3": (
            "WITH p AS (SELECT doc_id, doc_id % 7 = 0 AS bad, "
            "  CASE doc_id % 3 WHEN 0 THEN 128 WHEN 1 THEN 192 "
            "    ELSE 320 END AS br, "
            "  CASE doc_id % 3 WHEN 0 THEN 44100 WHEN 1 THEN 48000 "
            "    ELSE 32000 END AS sr, "
            "  3 + doc_id % 5 AS nf FROM documents) "
            "SELECT doc_id, "
            "  CASE WHEN bad THEN NULL "
            "    ELSE 'Track ' || CAST(doc_id AS VARCHAR) END AS title, "
            "  CASE WHEN bad THEN NULL ELSE 'Artist ' || "
            "    CAST(doc_id % 9 AS VARCHAR) END AS artist, "
            "  CAST(CASE WHEN bad THEN NULL ELSE br END AS INTEGER) "
            "    AS bitrate_kbps, "
            "  CAST(CASE WHEN bad THEN NULL ELSE sr END AS INTEGER) "
            "    AS sample_rate, "
            "  CAST(CASE WHEN bad THEN NULL "
            "    WHEN doc_id % 2 = 1 THEN 1 ELSE 2 END AS INTEGER) "
            "    AS channels, "
            "  CAST(CASE WHEN bad THEN NULL ELSE nf END AS INTEGER) "
            "    AS n_frames, "
            "  CAST(CASE WHEN bad THEN NULL "
            "    ELSE (nf * 1152 * 1000) // sr END AS INTEGER) "
            "    AS duration_ms, "
            "  CAST(CASE WHEN bad THEN 0 ELSE 1 END AS INTEGER) "
            "    AS decode_ok "
            "FROM p"
        ),
        "redact_cc": (
            "SELECT doc_id, "
            "  CASE doc_id % 4 "
            "    WHEN 0 THEN 'pay <CC> id ' || CAST(doc_id AS VARCHAR) "
            "    WHEN 1 THEN 'ref 4111111111111112 id ' "
            "      || CAST(doc_id AS VARCHAR) "
            "    WHEN 2 THEN 'amex <CC> id ' || CAST(doc_id AS VARCHAR) "
            "    ELSE 'plain text id ' || CAST(doc_id AS VARCHAR) "
            "  END AS clean_text, "
            "  CAST(CASE WHEN doc_id % 4 < 3 THEN 1 ELSE 0 END AS BIGINT) "
            "    AS n_cc_candidates, "
            "  CAST(CASE WHEN doc_id % 4 = 0 OR doc_id % 4 = 2 "
            "    THEN 1 ELSE 0 END AS BIGINT) AS n_cc_valid "
            "FROM documents"
        ),
        "subtitles": (
            "WITH n AS (SELECT doc_id, 2 + doc_id % 3 AS nc, "
            "  (doc_id % 7) * 10 AS off FROM documents), "
            "c AS (SELECT doc_id, off, unnest(range(nc)) AS k FROM n) "
            "SELECT doc_id, CAST(k + 1 AS INTEGER) AS seq, "
            "  CAST(10000 * k + off AS BIGINT) AS start_ms, "
            "  CAST(10000 * k + off + 900 + k AS BIGINT) AS end_ms, "
            "  'line ' || CAST(doc_id AS VARCHAR) || '-' || "
            "  CAST(k AS VARCHAR) AS text "
            "FROM c"
        ),
        "stream_near_dedup": (
            "WITH m AS (SELECT doc_id, doc_id % 50 AS f, "
            "  doc_id % 3 AS b FROM documents), "
            "r AS (SELECT doc_id, ROW_NUMBER() OVER "
            "  (PARTITION BY f ORDER BY b, doc_id) AS rn FROM m) "
            "SELECT doc_id FROM r WHERE rn = 1"
        ),
        "bloom_seen": (
            "WITH seen AS (SELECT 'url-' || CAST(doc_id AS VARCHAR) AS key "
            "  FROM documents WHERE doc_id % 10 = 0), "
            "hs AS (SELECT unnest(range(4)) AS i), "
            "spos AS (SELECT DISTINCT "
            "  CAST(('0x' || substr(md5('bloom:' || CAST(i AS VARCHAR) "
            "    || ':' || key), 1, 15)) AS BIGINT) % 1048576 AS pos "
            "  FROM seen, hs), "
            "pr AS (SELECT doc_id, "
            "  'url-' || CAST(doc_id % 97 AS VARCHAR) AS key "
            "  FROM documents), "
            "pp AS (SELECT doc_id, key, "
            "  CAST(('0x' || substr(md5('bloom:' || CAST(i AS VARCHAR) "
            "    || ':' || key), 1, 15)) AS BIGINT) % 1048576 AS pos "
            "  FROM pr, hs), "
            "cnt AS (SELECT doc_id, key, COUNT(s.pos) AS n_set "
            "  FROM pp LEFT JOIN spos s USING (pos) "
            "  GROUP BY doc_id, key) "
            "SELECT doc_id, key, CAST(n_set AS INTEGER) AS n_set, "
            "  CAST(CASE WHEN n_set = 4 THEN 1 ELSE 0 END AS INTEGER) "
            "    AS seen "
            "FROM cnt"
        ),
        "edit_verify": (
            "WITH d AS (SELECT doc_id, "
            "  'family ' || CAST(doc_id % 25 AS VARCHAR) || "
            "  ' common body text ' || "
            "  (CASE WHEN doc_id % 3 = 0 THEN 'extra ' ELSE '' END) || "
            "  'tail-' || CAST(doc_id % 9 AS VARCHAR) AS text "
            "  FROM documents), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "  a.text AS ta, b.text AS tb "
            "  FROM d a JOIN d b ON b.doc_id = a.doc_id + 25), "
            "s AS (SELECT id_a, id_b, levenshtein(ta, tb) AS edit_dist, "
            "  GREATEST(LENGTH(ta), LENGTH(tb)) AS big FROM p) "
            "SELECT id_a, id_b, CAST(edit_dist AS INTEGER) AS edit_dist, "
            "  ROUND(CAST(1.0 - CAST(edit_dist AS DOUBLE) / big "
            "    AS DOUBLE), 4) AS edit_sim, "
            "  CAST(CASE WHEN 1.0 - CAST(edit_dist AS DOUBLE) / big "
            "    >= 0.9 THEN 1 ELSE 0 END AS INTEGER) AS keep "
            "FROM s"
        ),
        "semantic_decontaminate": (
            "SELECT doc_id, "
            "  ROUND(CAST(CASE WHEN doc_id % 16 < 8 THEN 1.0 ELSE 0.0 END "
            "    AS DOUBLE), 4) AS max_cos, "
            "  CAST(CASE WHEN doc_id % 16 < 8 THEN 1000 + doc_id % 16 "
            "    ELSE 1000 END AS BIGINT) AS matched_eval, "
            "  CAST(CASE WHEN doc_id % 16 < 8 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS n_hits, "
            "  CAST(CASE WHEN doc_id % 16 < 8 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS contaminated "
            "FROM documents"
        ),
        "audio_spectrogram": (
            "SELECT doc_id, "
            "  CAST(8000 * (1 + doc_id % 2) AS INTEGER) AS sample_rate, "
            "  CAST(2 + doc_id % 4 AS INTEGER) AS n_windows, "
            "  CAST(4 + doc_id % 96 AS INTEGER) AS dominant_bin, "
            "  ROUND(CAST((4 + doc_id % 96) * (8000 * (1 + doc_id % 2)) "
            "    / 256.0 AS DOUBLE), 4) AS dominant_hz, "
            "  ROUND(CAST((1 + doc_id % 7) / 16.0 AS DOUBLE), 4) "
            "    AS peak_mag, "
            "  CAST(1 AS INTEGER) AS decode_ok "
            "FROM documents"
        ),
        "bpe_encode": (
            "SELECT doc_id, "
            "  CASE WHEN doc_id % 3 = 0 "
            "    THEN 'low|</w>|low|e|r|</w>' "
            "  WHEN doc_id % 3 = 1 "
            "    THEN 'n|ew|est</w>|w|i|d|est</w>' "
            "  ELSE 'low|est</w>|low|</w>' END AS tokens_joined, "
            "  CAST(CASE WHEN doc_id % 3 = 0 THEN 6 "
            "    WHEN doc_id % 3 = 1 THEN 7 ELSE 4 END AS BIGINT) "
            "    AS n_tokens "
            "FROM documents"
        ),
        "reflow_text": (
            # expected strings written from the construction formula:
            # dehyphenated joins, kept hyphen before capital/digit
            # (newline still reflows to a space), paragraph preserved
            # as exactly \n\n, runs collapsed, trimmed
            "SELECT doc_id, CASE "
            "  WHEN doc_id % 4 = 0 "
            "    THEN 'an example of hyphenation.' "
            "  WHEN doc_id % 4 = 1 "
            "    THEN 'keep X- Ray and page- 9 intact' "
            "  WHEN doc_id % 4 = 2 "
            "    THEN 'para one same line.' || chr(10) || chr(10) "
            "      || 'para two' "
            "  ELSE 'spaced out text one line' END AS reflowed "
            "FROM documents"
        ),
        "split_sentences": (
            # expected (doc_id, sent_idx, sentence) rows enumerated
            # from the formula: 3-sentence doc, 1-sentence doc, and
            # the quote/paren opener+closer cases
            "WITH d AS (SELECT doc_id, doc_id % 3 AS m "
            "  FROM documents) "
            "SELECT doc_id, CAST(0 AS INTEGER) AS sent_idx, CASE "
            "  WHEN m = 0 THEN 'Alpha one.' "
            "  WHEN m = 1 THEN 'Single sentence only' "
            "  ELSE 'Quote test.' END AS sentence FROM d "
            "UNION ALL "
            "SELECT doc_id, CAST(1 AS INTEGER), CASE "
            "  WHEN m = 0 THEN 'Beta two!' "
            "  ELSE '\"Quoted start.\"' END FROM d WHERE m <> 1 "
            "UNION ALL "
            "SELECT doc_id, CAST(2 AS INTEGER), CASE "
            "  WHEN m = 0 THEN 'Gamma three?' "
            "  ELSE '(Paren start.)' END FROM d WHERE m <> 1 "
            "UNION ALL "
            "SELECT doc_id, CAST(3 AS INTEGER), 'End.' "
            "FROM d WHERE m = 2"
        ),
        "nb_classifier": (
            # the identical NB retrained in SQL: same 6-doc corpus,
            # same tokenization, add-1 smoothing, ln priors, argmax
            # with (score DESC, label ASC)
            "WITH train(label, txt) AS (VALUES "
            "  (0, 'the quiet library held many old books'), "
            "  (0, 'old books held the quiet answers'), "
            "  (0, 'library answers many quiet questions'), "
            "  (1, 'buy now click free offer buy'), "
            "  (1, 'free offer now buy click fast'), "
            "  (1, 'click fast free now offer deal')), "
            "tt AS (SELECT label, unnest(list_filter("
            "  regexp_split_to_array(trim(lower(txt)), '\\s+'), "
            "  x -> x <> '')) AS token FROM train), "
            "tl AS (SELECT token, label, COUNT(*) AS c "
            "  FROM tt GROUP BY 1, 2), "
            "tot AS (SELECT label, SUM(c) AS cl FROM tl GROUP BY 1), "
            "v AS (SELECT COUNT(DISTINCT token) AS vs FROM tl), "
            "pri AS (SELECT label, ln(COUNT(*) / "
            "  (SELECT CAST(COUNT(*) AS DOUBLE) FROM train)) "
            "  AS log_prior FROM train GROUP BY 1), "
            "d AS (SELECT doc_id, CASE "
            "  WHEN doc_id % 4 = 0 THEN 'the library held books' "
            "  WHEN doc_id % 4 = 1 THEN 'buy free offer now' "
            "  WHEN doc_id % 4 = 2 THEN 'click buy zebra' "
            "  ELSE 'old quiet books held' END AS txt "
            "  FROM documents), "
            "dt AS (SELECT doc_id, unnest(list_filter("
            "  regexp_split_to_array(trim(lower(txt)), '\\s+'), "
            "  x -> x <> '')) AS token FROM d), "
            "sc AS (SELECT dt.doc_id, lb.label, "
            "  COALESCE(ln((tl.c + 1.0) / (tot.cl + v.vs)), "
            "           ln(1.0 / (tot.cl + v.vs))) AS ll "
            "  FROM dt CROSS JOIN (SELECT DISTINCT label FROM train) lb "
            "  LEFT JOIN tl ON tl.token = dt.token "
            "    AND tl.label = lb.label "
            "  JOIN tot ON tot.label = lb.label CROSS JOIN v), "
            "agg AS (SELECT sc.doc_id, sc.label, "
            "  pri.log_prior + SUM(sc.ll) AS score, "
            "  COUNT(*) AS n FROM sc JOIN pri ON pri.label = sc.label "
            "  GROUP BY 1, 2, pri.log_prior), "
            "rk AS (SELECT doc_id, label, score, n, "
            "  ROW_NUMBER() OVER (PARTITION BY doc_id "
            "    ORDER BY score DESC, label ASC) AS r FROM agg) "
            "SELECT doc_id, CAST(label AS INTEGER) AS pred_label, "
            "  ROUND(score, 4) AS score, "
            "  CAST(n AS BIGINT) AS n_tokens "
            "FROM rk WHERE r = 1"
        ),
        "image_dedup": (
            "WITH m AS (SELECT doc_id, "
            "  'img/' || CAST(doc_id AS VARCHAR) || '.png' AS ref, "
            "  doc_id % 50 AS g FROM documents) "
            "SELECT doc_id, "
            "  COUNT(*) OVER (PARTITION BY g) AS group_size, "
            "  CAST(CASE WHEN ref = MIN(ref) OVER (PARTITION BY g) "
            "    THEN 1 ELSE 0 END AS INTEGER) AS keep "
            "FROM m"
        ),
        "video_scenes": (
            "WITH p AS (SELECT doc_id, "
            "  CASE doc_id % 5 WHEN 0 THEN 100000 WHEN 1 THEN 90909 "
            "    WHEN 2 THEN 83333 WHEN 3 THEN 76923 "
            "    ELSE 71429 END AS uspf, "
            "  2 + doc_id % 2 AS fpseg, "
            "  (1 + doc_id % 3) * (2 + doc_id % 2) AS total "
            "  FROM documents), "
            "f AS (SELECT doc_id, uspf, fpseg, "
            "  unnest(range(total)) AS fi FROM p) "
            "SELECT doc_id, CAST(fi AS INTEGER) AS frame_idx, "
            "  CAST((fi * uspf) // 1000 AS INTEGER) AS ts_ms, "
            "  CAST(CASE WHEN fi % fpseg = 0 THEN 1 ELSE 0 END "
            "    AS INTEGER) AS is_scene_start "
            "FROM f"
        ),
        "video_dedup": (
            "WITH m AS (SELECT doc_id, "
            "  'vid/' || CAST(doc_id AS VARCHAR) || '.avi' AS ref, "
            "  doc_id % 40 AS g, "
            "  CAST(3 + doc_id % 4 AS INTEGER) AS nf FROM documents) "
            "SELECT doc_id, nf AS n_frames_total, "
            "  CAST(CASE WHEN nf < 4 THEN nf ELSE 4 END AS INTEGER) "
            "    AS n_sampled, "
            "  COUNT(*) OVER (PARTITION BY g) AS group_size, "
            "  CAST(CASE WHEN ref = MIN(ref) OVER (PARTITION BY g) "
            "    THEN 1 ELSE 0 END AS INTEGER) AS keep "
            "FROM m"
        ),
        "site_template": (
            "WITH s AS (SELECT doc_id, "
            "  'd' || CAST(doc_id % 7 AS VARCHAR) AS domain, "
            "  CAST(doc_id AS VARCHAR) AS v, "
            "  doc_id % 2 = 0 AS ev FROM documents), "
            "blocks AS ("
            "  SELECT doc_id, domain, 0 AS seq, "
            "    'NAV ' || domain AS btext FROM s "
            "  UNION ALL SELECT doc_id, domain, 1, 'unique ' || v "
            "    FROM s "
            "  UNION ALL SELECT doc_id, domain, 2, 'FOOT ' || domain "
            "    FROM s WHERE ev), "
            "dd AS (SELECT domain, COUNT(DISTINCT doc_id) AS nd "
            "  FROM blocks GROUP BY domain), "
            "bf AS (SELECT domain, btext, "
            "  COUNT(DISTINCT doc_id) AS bd "
            "  FROM blocks GROUP BY domain, btext), "
            "fl AS (SELECT bf.domain, bf.btext, "
            "  bd >= GREATEST(2, CAST(CEIL(0.6 * nd) AS BIGINT)) "
            "    AS is_t "
            "  FROM bf JOIN dd ON bf.domain = dd.domain), "
            "tg AS (SELECT b.doc_id, b.seq, b.btext, fl.is_t "
            "  FROM blocks b JOIN fl ON b.domain = fl.domain "
            "    AND b.btext = fl.btext) "
            "SELECT doc_id, COUNT(*) AS n_spans, "
            "  CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS BIGINT) "
            "    AS n_template, "
            "  CAST(SUM(CASE WHEN is_t THEN 1 ELSE 0 END) AS DOUBLE) "
            "    / COUNT(*) AS template_frac, "
            "  COALESCE(STRING_AGG("
            "    CASE WHEN NOT is_t THEN btext END, chr(10) "
            "    ORDER BY seq), '') AS main_text "
            "FROM tg GROUP BY doc_id"
        ),
        "dsir_select": (
            # full DSIR replay: hashed unigram+bigram buckets (md5 8-hex
            # % 10000), add-1 smoothed target(p)/raw(q) bucket
            # distributions over the complete 0..B-1 spine, per-doc
            # log-weight sum, md5-derived Gumbel priority, top-200
            "WITH t AS (SELECT doc_id, "
            "  list_filter(regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "    x -> x <> '') AS toks FROM documents), "
            "uf AS (SELECT doc_id, unnest(toks) AS f FROM t), "
            "bg AS (SELECT t.doc_id, t.toks[g.i] || ' ' || t.toks[g.i + 1] "
            "    AS f FROM t, UNNEST(range(1, len(t.toks))) AS g(i)), "
            "feats AS (SELECT doc_id, f FROM uf "
            "  UNION ALL SELECT doc_id, f FROM bg), "
            "fb AS (SELECT doc_id, "
            "  CAST(('0x' || substr(md5(f), 1, 8)) AS BIGINT) % 10000 AS b "
            "  FROM feats), "
            "q AS (SELECT b, COUNT(*) AS cq FROM fb GROUP BY 1), "
            "p AS (SELECT b, COUNT(*) AS cp FROM fb "
            "  WHERE doc_id % 3 = 0 GROUP BY 1), "
            "tot AS (SELECT (SELECT COUNT(*) FROM fb) AS tq, "
            "  (SELECT COUNT(*) FROM fb WHERE doc_id % 3 = 0) AS tp), "
            "r AS (SELECT g.i AS b, "
            "  ln((COALESCE(p.cp, 0) + 1.0) / (tot.tp + 1.0 * 10000)) - "
            "  ln((COALESCE(q.cq, 0) + 1.0) / (tot.tq + 1.0 * 10000)) "
            "    AS log_ratio "
            "  FROM UNNEST(range(0, 10000)) AS g(i) "
            "  LEFT JOIN q ON q.b = g.i LEFT JOIN p ON p.b = g.i "
            "  CROSS JOIN tot), "
            "sc AS (SELECT fb.doc_id, COUNT(*) AS nf, "
            "  SUM(r.log_ratio) AS lw "
            "  FROM fb JOIN r ON fb.b = r.b GROUP BY 1), "
            "w AS (SELECT d.doc_id, "
            "  CAST(COALESCE(sc.nf, 0) AS BIGINT) AS n_feats, sc.lw "
            "  FROM documents d LEFT JOIN sc USING (doc_id)), "
            "g AS (SELECT doc_id, n_feats, lw AS log_weight, "
            "  COALESCE(lw, 0.0) + -ln(-ln((CAST(('0x' || "
            "    substr(md5('dsir-gumbel:' || CAST(doc_id AS VARCHAR)), "
            "    1, 8)) AS BIGINT) + 0.5) / 4294967296.0)) AS priority "
            "  FROM w) "
            "SELECT doc_id, n_feats, log_weight, priority FROM g "
            "ORDER BY priority DESC, doc_id LIMIT 200"
        ),
        "asof_join": (
            # INDEPENDENT oracle: DuckDB's native ASOF LEFT JOIN
            # implements the same at-or-before semantics our
            # union+carry-forward window composes — two unrelated
            # implementations must agree row-for-row
            "WITH c AS (SELECT event_id, user_id, ts FROM events "
            "  WHERE event_type = 'click'), "
            "p AS (SELECT user_id, ts, MAX(value) AS purchase_value "
            "  FROM events WHERE event_type = 'purchase' GROUP BY 1, 2) "
            "SELECT c.event_id, c.user_id, "
            "  p.purchase_value AS asof_purchase_value, "
            "  epoch(p.ts) AS asof_ts_matched "
            "FROM c ASOF LEFT JOIN p "
            "ON c.user_id = p.user_id AND c.ts >= p.ts"
        ),
        "range_join": (
            # INDEPENDENT oracle: the naive BETWEEN theta-join — the
            # bin-grid equi-join rewrite must reproduce its exact pair
            # set
            "WITH iv AS (SELECT o_orderkey AS iv_id, "
            "  o_totalprice AS lo, o_totalprice + 300.0 AS hi "
            "  FROM orders WHERE o_orderkey % 25 = 0), "
            "pt AS (SELECT l_orderkey, l_linenumber, "
            "  l_extendedprice AS price FROM lineitem "
            "  WHERE l_partkey % 10 = 0) "
            "SELECT iv.iv_id, pt.l_orderkey, pt.l_linenumber, pt.price "
            "FROM pt JOIN iv ON pt.price BETWEEN iv.lo AND iv.hi"
        ),
        "merge_upsert": (
            # latest-wins precedence replay: version DESC, then
            # updates-beat-base, then delete drops the key
            "WITH b AS (SELECT doc_id, lang, source, n_chars, "
            "  1 AS version, FALSE AS is_del, 0 AS src FROM documents), "
            "u AS (SELECT doc_id, lang, 'recrawl' AS source, "
            "  n_chars + 1000 AS n_chars, 2 AS version, "
            "  doc_id % 21 = 0 AS is_del, 1 AS src FROM documents "
            "  WHERE doc_id % 7 = 0), "
            "a AS (SELECT * FROM b UNION ALL SELECT * FROM u), "
            "r AS (SELECT *, ROW_NUMBER() OVER (PARTITION BY doc_id "
            "  ORDER BY version DESC, src DESC) AS rn FROM a) "
            "SELECT doc_id, lang, source, n_chars, version "
            "FROM r WHERE rn = 1 AND NOT is_del"
        ),
        "zorder_layout": (
            # bit-for-bit replay of the Morton ladder: integer
            # quantization to 16 bits (exact integer division — no
            # float cell boundaries), the 4-step spread
            # (8/4/2/1-shift, magic masks), interleave, file_id =
            # z >> 26 (64 files over the 32-bit z space)
            "WITH bd AS (SELECT MIN(l_partkey) AS xlo, "
            "  MAX(l_partkey) AS xhi, MIN(l_suppkey) AS ylo, "
            "  MAX(l_suppkey) AS yhi FROM lineitem), "
            "q AS (SELECT l_partkey, l_suppkey, "
            "  CASE WHEN bd.xhi - bd.xlo <= 0 THEN 0 ELSE "
            "    ((l_partkey - bd.xlo) * 65535) // (bd.xhi - bd.xlo) "
            "  END AS sx, "
            "  CASE WHEN bd.yhi - bd.ylo <= 0 THEN 0 ELSE "
            "    ((l_suppkey - bd.ylo) * 65535) // (bd.yhi - bd.ylo) "
            "  END AS sy "
            "  FROM lineitem CROSS JOIN bd), "
            "s1 AS (SELECT * REPLACE (((sx | (sx << 8)) & 16711935) "
            "  AS sx, ((sy | (sy << 8)) & 16711935) AS sy) FROM q), "
            "s2 AS (SELECT * REPLACE (((sx | (sx << 4)) & 252645135) "
            "  AS sx, ((sy | (sy << 4)) & 252645135) AS sy) FROM s1), "
            "s3 AS (SELECT * REPLACE (((sx | (sx << 2)) & 858993459) "
            "  AS sx, ((sy | (sy << 2)) & 858993459) AS sy) FROM s2), "
            "s4 AS (SELECT * REPLACE (((sx | (sx << 1)) & 1431655765) "
            "  AS sx, ((sy | (sy << 1)) & 1431655765) AS sy) FROM s3), "
            "z AS (SELECT l_partkey, l_suppkey, "
            "  (sx | (sy << 1)) AS zv FROM s4) "
            "SELECT zv >> 26 AS file_id, COUNT(*) AS n_rows, "
            "  MIN(l_partkey) AS min_l_partkey, "
            "  MAX(l_partkey) AS max_l_partkey, "
            "  MIN(l_suppkey) AS min_l_suppkey, "
            "  MAX(l_suppkey) AS max_l_suppkey "
            "FROM z GROUP BY 1"
        ),
        "heavy_hitters": (
            # full count-min replay: shared tokenizer, 4 md5-seeded
            # hash rows x 1024 buckets ('<seed>:<token>' — the
            # engine-portable bucket), sketch = GROUP BY (row,
            # bucket), estimate = min over rows; exact top-50
            # candidates with total ties broken on token
            "WITH toks AS (SELECT unnest(list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '')) AS token FROM documents), "
            "rws AS (SELECT token, g.i AS r, "
            "  CAST(('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || "
            "    token), 1, 8)) AS BIGINT) % 1024 AS bucket "
            "  FROM toks, UNNEST(range(0, 4)) AS g(i)), "
            "sk AS (SELECT r, bucket, COUNT(*) AS cnt FROM rws "
            "  GROUP BY 1, 2), "
            "exact AS (SELECT token, COUNT(*) AS exact FROM toks "
            "  GROUP BY 1 ORDER BY exact DESC, token ASC LIMIT 50), "
            "cb AS (SELECT e.token, e.exact, g.i AS r, "
            "  CAST(('0x' || substr(md5(CAST(g.i AS VARCHAR) || ':' || "
            "    e.token), 1, 8)) AS BIGINT) % 1024 AS bucket "
            "  FROM exact e, UNNEST(range(0, 4)) AS g(i)) "
            "SELECT cb.token, cb.exact, "
            "  CAST(MIN(COALESCE(sk.cnt, 0)) AS BIGINT) AS est "
            "FROM cb LEFT JOIN sk ON sk.r = cb.r "
            "  AND sk.bucket = cb.bucket "
            "GROUP BY cb.token, cb.exact"
        ),
        "embedding_quantize": (
            # full int8 codec replay: per-vector max-abs scale,
            # round-half-up codes (floor(x+0.5) — portable, unlike
            # bankers' rounding), saturation count, code checksum,
            # reconstruction cosine (term order mirrors the Spark
            # aggregate: v_i * (c_i * scale)) and MSE
            "WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS v "
            "  FROM embeddings), "
            "s AS (SELECT vec_id, v, "
            "  list_max(list_transform(v, x -> abs(x))) / 127.0 "
            "  AS scale FROM v), "
            "c AS (SELECT vec_id, v, scale, CASE WHEN scale > 0 THEN "
            "  list_transform(v, x -> CAST(greatest(-127, least(127, "
            "    floor(x / scale + 0.5))) AS BIGINT)) "
            "  ELSE list_transform(v, x -> 0::BIGINT) END AS codes "
            "  FROM s), "
            "m AS (SELECT vec_id, scale, "
            "  CAST(len(list_filter(codes, x -> abs(x) = 127)) "
            "    AS INTEGER) AS n_sat, "
            "  CAST(list_sum(codes) AS BIGINT) AS code_sum, "
            "  list_sum(list_transform(list_zip(v, codes), "
            "    p -> p[1] * (p[2] * scale))) AS vq, "
            "  list_sum(list_transform(v, x -> x * x)) AS vv, "
            "  list_sum(list_transform(codes, "
            "    x -> (x * scale) * (x * scale))) AS rr, "
            "  list_sum(list_transform(list_zip(v, codes), "
            "    p -> (p[1] - p[2] * scale) * (p[1] - p[2] * scale))) "
            "    AS ee, "
            "  len(v) AS n FROM c) "
            "SELECT vec_id, scale, n_sat, code_sum, "
            "  CASE WHEN sqrt(vv) > 0 AND sqrt(rr) > 0 THEN "
            "    vq / (sqrt(vv) * sqrt(rr)) END AS cos_recon, "
            "  ee / n AS mse FROM m"
        ),
        "hard_negatives": (
            # mining-rule replay: label-mismatch filter, cosine
            # ceiling/floor band, per-query rank with deterministic
            # (cosine DESC, neg_id ASC) ties, top-5
            "WITH q AS (SELECT vec_id AS query_id, "
            "  embedding::DOUBLE[] AS qv, label AS ql FROM embeddings "
            "  WHERE vec_id % 25 = 0), "
            "c AS (SELECT q.query_id, e.vec_id AS neg_id, "
            "  list_cosine_similarity(q.qv, e.embedding::DOUBLE[]) "
            "    AS cosine "
            "  FROM embeddings e CROSS JOIN q "
            "  WHERE e.label <> q.ql AND e.vec_id <> q.query_id), "
            "f AS (SELECT query_id, neg_id, cosine, "
            "  ROW_NUMBER() OVER (PARTITION BY query_id "
            "    ORDER BY cosine DESC, neg_id ASC) AS rank "
            "  FROM c WHERE cosine <= 0.95 AND cosine >= 0.0) "
            "SELECT query_id, neg_id, cosine, "
            "  CAST(rank AS INTEGER) AS rank "
            "FROM f WHERE rank <= 5"
        ),
        "hll_distinct": (
            # full HLL replay: 32-bit md5 hash, top-8-bit register
            # index, rho = 25 - bit_length of the low 24 bits (bin()
            # strips leading zeros in both engines), max-rank
            # registers, harmonic estimate with small-range
            # correction; exact distinct alongside
            "WITH toks AS (SELECT lang, unnest(list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '')) AS token FROM documents), "
            "h AS (SELECT lang, "
            "  CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS hv "
            "  FROM toks), "
            "r AS (SELECT lang, hv >> 24 AS idx, "
            "  CASE WHEN (hv & 16777215) = 0 THEN 25 "
            "  ELSE 25 - length(bin(hv & 16777215)) END AS rho FROM h), "
            "sk AS (SELECT lang, idx, MAX(rho) AS rho FROM r "
            "  GROUP BY 1, 2), "
            "ag AS (SELECT lang, SUM(power(2.0, -rho)) AS s, "
            "  COUNT(*) AS n FROM sk GROUP BY 1), "
            "e AS (SELECT lang, "
            "  (0.7213 / (1.0 + 1.079 / 256)) * 65536 / "
            "    (s + (256 - n)) AS raw, 256 - n AS v FROM ag), "
            "est AS (SELECT lang, CASE WHEN raw <= 640.0 AND v > 0 "
            "  THEN 256.0 * ln(256.0 / v) ELSE raw END "
            "  AS distinct_est FROM e), "
            "ex AS (SELECT lang, COUNT(DISTINCT token) "
            "  AS distinct_exact FROM toks GROUP BY 1) "
            "SELECT est.lang, est.distinct_est, ex.distinct_exact "
            "FROM est JOIN ex USING (lang)"
        ),
        "bm25_search": (
            # full BM25 replay: postings, per-doc token length from
            # the SAME list_filter (not the exploded stream — empty
            # docs must count), Lucene idf, identical constant
            # arithmetic (1.2 + 1.0, 1.0 - 0.75), top-20 with doc_id
            # ties
            "WITH t AS (SELECT doc_id, unnest(list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '')) AS token FROM documents), "
            "post AS (SELECT token, doc_id, COUNT(*) AS tf FROM t "
            "  GROUP BY 1, 2), "
            "dl AS (SELECT doc_id, len(list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '')) AS dl FROM documents), "
            "q AS (SELECT unnest(['hash', 'join', 'merge', 'scan']) "
            "  AS token), "
            "dfq AS (SELECT token, COUNT(*) AS df FROM post "
            "  JOIN q USING (token) GROUP BY 1), "
            "idf AS (SELECT token, ln(1.0 + "
            "  ((SELECT COUNT(*) FROM documents) - df + 0.5) / "
            "  (df + 0.5)) AS idf FROM dfq), "
            "sc AS (SELECT post.doc_id, idf.idf * "
            "  (post.tf * (1.2 + 1.0)) / (post.tf + 1.2 * "
            "  ((1.0 - 0.75) + 0.75 * dl.dl / "
            "    (SELECT AVG(dl) FROM dl))) AS s "
            "  FROM post JOIN idf USING (token) "
            "  JOIN dl USING (doc_id)) "
            "SELECT doc_id, COUNT(*) AS n_hits, SUM(s) AS score "
            "FROM sc GROUP BY 1 "
            "ORDER BY score DESC, doc_id ASC LIMIT 20"
        ),
        "hash_embed": (
            # feature-hashing replay: per-token (dimension, sign) from
            # the two md5 buckets, signed sums (integer-valued — exact
            # in doubles), dense 64-dim spine, ordered list, L2
            # normalize
            "WITH t AS (SELECT doc_id, unnest(list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '')) AS tok FROM documents), "
            "p AS (SELECT doc_id, "
            "  CAST(('0x' || substr(md5('he:' || tok), 1, 8)) "
            "    AS BIGINT) % 64 AS j, "
            "  CASE WHEN CAST(('0x' || substr(md5('hs:' || tok), 1, 8)) "
            "    AS BIGINT) % 2 = 0 THEN 1.0 ELSE -1.0 END AS s "
            "  FROM t), "
            "g AS (SELECT doc_id, j, SUM(s) AS v FROM p GROUP BY 1, 2), "
            "grid AS (SELECT d.doc_id, gg.i AS j FROM "
            "  (SELECT DISTINCT doc_id FROM documents) d, "
            "  UNNEST(range(0, 64)) AS gg(i)), "
            "vv AS (SELECT grid.doc_id, grid.j, "
            "  COALESCE(g.v, 0.0) AS v FROM grid LEFT JOIN g "
            "  ON g.doc_id = grid.doc_id AND g.j = grid.j), "
            "n AS (SELECT doc_id, sqrt(SUM(v * v)) AS norm FROM vv "
            "  GROUP BY 1), "
            "vecs AS (SELECT vv.doc_id, "
            "  list(vv.v ORDER BY vv.j) AS raw, n.norm "
            "  FROM vv JOIN n USING (doc_id) "
            "  GROUP BY vv.doc_id, n.norm) "
            "SELECT doc_id, CASE WHEN norm > 0 THEN "
            "  list_transform(raw, x -> x / norm) ELSE raw END "
            "  AS embedding, norm FROM vecs"
        ),
        "thread_assembly": (
            # INDEPENDENT mechanism: recursive-CTE ancestor walk vs
            # the operator's bounded iterative joins — identical
            # (root, depth, DFS order) required. Fixed-width path
            # segments make plain string order the DFS preorder.
            "WITH RECURSIVE posts AS (SELECT doc_id AS post_id, "
            "  CASE WHEN doc_id % 10 = 0 THEN NULL ELSE "
            "    (doc_id - doc_id % 10) + ((doc_id % 10) - 1) // 2 "
            "  END AS parent_id, "
            "  (doc_id * 37) % 100 AS tsk FROM documents), "
            "seg AS (SELECT post_id, parent_id, "
            "  lpad(CAST(tsk AS VARCHAR), 20, '0') || '-' || "
            "  lpad(CAST(post_id AS VARCHAR), 10, '0') AS s FROM posts), "
            "walk AS ("
            "  SELECT post_id, parent_id AS par, "
            "    CASE WHEN parent_id IS NULL THEN post_id END AS root, "
            "    s AS path FROM seg "
            "  UNION ALL "
            "  SELECT w.post_id, p.parent_id AS par, "
            "    CASE WHEN p.parent_id IS NULL THEN p.post_id END "
            "      AS root, "
            "    p.s || '/' || w.path AS path "
            "  FROM walk w JOIN seg p ON w.par = p.post_id), "
            "done AS (SELECT post_id, root, path FROM walk "
            "  WHERE par IS NULL) "
            "SELECT post_id, root AS root_id, "
            "  CAST(length(path) - length(replace(path, '/', '')) "
            "    AS INTEGER) AS depth, "
            "  CAST(ROW_NUMBER() OVER (PARTITION BY root "
            "    ORDER BY path) AS INTEGER) AS thread_order "
            "FROM done"
        ),
        "loss_mask": (
            # class-arithmetic enumeration of the mask offsets in the
            # interleave_episodes construction: ep0 = A nn <image> nn A
            # (mask [12,19), trainable 24), ep1 = <image> nn A [nn A]
            # (mask [0,7), trainable 12/24), ep2 = A (no mask)
            "WITH d AS (SELECT doc_id, doc_id % 3 AS x FROM documents), "
            "e0 AS (SELECT doc_id, 0 AS episode_idx, "
            "  [CAST(12 AS BIGINT)] AS mask_starts, "
            "  [CAST(19 AS BIGINT)] AS mask_ends, "
            "  CAST(24 AS BIGINT) AS n_trainable_chars, "
            "  TRUE AS mask_ok FROM d), "
            "e1 AS (SELECT doc_id, 1 AS episode_idx, "
            "  [CAST(0 AS BIGINT)] AS mask_starts, "
            "  [CAST(7 AS BIGINT)] AS mask_ends, "
            "  CAST(CASE WHEN x = 0 THEN 12 ELSE 24 END AS BIGINT) "
            "    AS n_trainable_chars, TRUE AS mask_ok FROM d), "
            "e2 AS (SELECT doc_id, 2 AS episode_idx, "
            "  CAST([] AS BIGINT[]) AS mask_starts, "
            "  CAST([] AS BIGINT[]) AS mask_ends, "
            "  CAST(10 AS BIGINT) AS n_trainable_chars, "
            "  TRUE AS mask_ok FROM d WHERE x = 2) "
            "SELECT doc_id, CAST(episode_idx AS INTEGER) "
            "  AS episode_idx, mask_starts, mask_ends, "
            "  n_trainable_chars, mask_ok FROM ("
            "  SELECT * FROM e0 UNION ALL SELECT * FROM e1 "
            "  UNION ALL SELECT * FROM e2)"
        ),
        "parse_jsonl": (
            # construction replay: every 97th line was corrupted with
            # a leading non-JSON token, so its fields are NULL, its
            # raw line preserved; all others parse to the source
            # columns
            "SELECT doc_id, "
            "  doc_id % 97 <> 0 AS parse_ok, "
            "  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE doc_id END "
            "    AS id, "
            "  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE lang END "
            "    AS lang, "
            "  CASE WHEN doc_id % 97 = 0 THEN NULL ELSE n_chars END "
            "    AS n, "
            "  CASE WHEN doc_id % 97 = 0 THEN "
            "    'oops{\"id\": ' || CAST(doc_id AS VARCHAR) || "
            "    ', \"lang\": \"' || lang || '\", \"n\": ' || "
            "    CAST(n_chars AS VARCHAR) || '}' END AS raw "
            "FROM documents"
        ),
        "rate_anomalies": (
            # hourly bucket counts (time_bucket is hour-aligned, same
            # grid as Spark's tumbling window), trailing 6-bucket
            # frame, z gated on >=3 history buckets and sigma > 0
            "WITH c AS (SELECT event_type, "
            "  time_bucket(INTERVAL 1 HOUR, ts) AS win_start, "
            "  COUNT(*) AS n FROM events GROUP BY 1, 2), "
            "s AS (SELECT event_type, win_start, n, "
            "  AVG(n) OVER w AS mu, STDDEV_SAMP(n) OVER w AS sigma, "
            "  COUNT(n) OVER w AS hist FROM c WINDOW w AS ("
            "  PARTITION BY event_type ORDER BY win_start "
            "  ROWS BETWEEN 6 PRECEDING AND 1 PRECEDING)), "
            "z AS (SELECT event_type, win_start, n, mu, sigma, "
            "  CASE WHEN hist >= 3 AND sigma IS NOT NULL "
            "    AND sigma > 0 THEN (n - mu) / sigma END AS z "
            "  FROM s) "
            "SELECT event_type, win_start, n, mu, sigma, z, "
            "  COALESCE(abs(z) >= 2.5, FALSE) AS is_anomaly FROM z"
        ),
        "text_semantic_dedup": (
            # order-invariance invariant replayed relationally: a
            # doc and its reversed-token twin share a token MULTISET
            # (sorted-token md5 key), so each doc's partner count is
            # its multiset group size - 1; byte dedup sees 1000
            # distinct texts, the hashed embedding must see the groups
            "WITH base AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '') AS toks FROM documents), "
            "allr AS (SELECT doc_id, toks FROM base "
            "  UNION ALL SELECT doc_id + 100000, toks FROM base), "
            "key AS (SELECT doc_id, md5(array_to_string("
            "  list_sort(toks), chr(31))) AS k FROM allr "
            "  WHERE len(toks) > 0), "
            "g AS (SELECT k, COUNT(*) AS n FROM key GROUP BY 1) "
            "SELECT key.doc_id, CAST(g.n - 1 AS BIGINT) AS n_partners "
            "FROM key JOIN g USING (k)"
        ),
        "multimodal_dedup": (
            # block arithmetic: text pairs (4k,4k+1)/(4k+2,4k+3) and
            # image pairs (4k,4k+2)/(4k+1,4k+3) close into the 4-block
            # component under the edge union — canonical 4k, size 4
            "SELECT doc_id, doc_id - doc_id % 4 AS canonical_id, "
            "CAST(4 AS BIGINT) AS group_size FROM documents"
        ),
        "embedding_outliers": (
            "WITH s AS (SELECT doc_id, "
            "  CAST(doc_id % 5 - 2 AS DOUBLE) "
            "    + CASE WHEN doc_id % 97 = 0 THEN 50.0 ELSE 0.0 END AS a, "
            "  (CAST(doc_id % 7 AS DOUBLE) - 3) / 2.0 AS b "
            "  FROM documents), "
            "m AS (SELECT avg(a) AS ma, avg(b) AS mb FROM s), "
            "d AS (SELECT doc_id, "
            "  sqrt((a - ma) * (a - ma) + (b - mb) * (b - mb)) AS dist "
            "  FROM s, m), "
            "st AS (SELECT avg(dist) AS dm, stddev_samp(dist) AS ds "
            "  FROM d) "
            "SELECT doc_id, ROUND(dist, 4) AS dist, "
            "  ROUND((dist - dm) / ds, 4) AS z, "
            "  CAST(CASE WHEN ROUND((dist - dm) / ds, 4) > 3.0 "
            "    THEN 1 ELSE 0 END AS INTEGER) AS is_outlier "
            "FROM d, st"
        ),
        "embedding_pca": (
            # independent closed-form math, not a replay: the planted
            # data is rank-2 in an orthonormal frame, so the 8-dim PCA
            # equals the 2x2 eigendecomposition of the (a,b) covariance
            # — quadratic-formula eigenvalues, (sab, l1-saa) eigen-
            # vector, projections on centered coordinates, orientation
            # anchored on the min-id row. floor(x+0.5) rounding matches
            # the Spark side's arithmetic exactly.
            "WITH base AS (SELECT doc_id, "
            "  CAST(doc_id % 5 - 2 AS DOUBLE) AS a, "
            "  CAST(doc_id % 3 - 1 AS DOUBLE) + 0.5 * CAST(doc_id % 5 - 2 AS DOUBLE) AS b "
            "  FROM documents), "
            "m AS (SELECT AVG(a) AS ma, AVG(b) AS mb FROM base), "
            "c AS (SELECT doc_id, a - ma AS ac, b - mb AS bc FROM base, m), "
            "s AS (SELECT AVG(ac*ac) AS saa, AVG(ac*bc) AS sab, "
            "  AVG(bc*bc) AS sbb FROM c), "
            "e AS (SELECT saa, sab, sbb, "
            "  ((saa+sbb) + SQRT((saa-sbb)*(saa-sbb) + 4*sab*sab))/2 AS l1, "
            "  ((saa+sbb) - SQRT((saa-sbb)*(saa-sbb) + 4*sab*sab))/2 AS l2 "
            "  FROM s), "
            "w AS (SELECT l1, l2, "
            "  sab / SQRT(sab*sab + (l1-saa)*(l1-saa)) AS w1x, "
            "  (l1-saa) / SQRT(sab*sab + (l1-saa)*(l1-saa)) AS w1y FROM e), "
            "p AS (SELECT doc_id, ac*w1x + bc*w1y AS p1r, "
            "  -ac*w1y + bc*w1x AS p2r, l1, l2 FROM c, w), "
            "o AS (SELECT "
            "  (SELECT CASE WHEN p1r >= 0 THEN 1.0 ELSE -1.0 END FROM p "
            "   ORDER BY doc_id LIMIT 1) AS s1, "
            "  (SELECT CASE WHEN p2r >= 0 THEN 1.0 ELSE -1.0 END FROM p "
            "   ORDER BY doc_id LIMIT 1) AS s2) "
            "SELECT doc_id, "
            "  FLOOR(p1r*s1*10000.0 + 0.5)/10000.0 AS p1, "
            "  FLOOR(p2r*s2*10000.0 + 0.5)/10000.0 AS p2, "
            "  FLOOR(l1*10000.0 + 0.5)/10000.0 AS var1, "
            "  FLOOR(l2*10000.0 + 0.5)/10000.0 AS var2 "
            "FROM p, o"
        ),
        "kmeans_clusters": (
            # exact-convergence arithmetic: cluster = doc_id % 4
            # (canonical label = smallest member id = the residue,
            # ids contiguous from 0), per-class delta mean is exactly
            # 2 (class size divisible by 5), so dist = |delta - 2| —
            # all small integers, exact in double, hash-exact
            "SELECT doc_id, doc_id % 4 AS cluster_id, "
            "CAST((SELECT COUNT(*) FROM documents)/4 AS BIGINT) "
            "AS cluster_size, "
            "CAST(ABS(CAST((doc_id - doc_id % 4)/4 AS BIGINT) % 5 - 2) "
            "AS DOUBLE) AS dist FROM documents"
        ),
        "resolve_redirects": (
            # chain arithmetic: id%10 == k (k<3, not the loop ids)
            # terminates at the decade's id+3 after 3-k hops; the
            # 50/51 two-cycle yields ok=false, NULL final/hops
            "WITH s AS (SELECT doc_id AS i FROM documents "
            "  WHERE doc_id % 10 IN (0, 1, 2)) "
            "SELECT 'u' || CAST(i AS VARCHAR) AS src, "
            "  CASE WHEN i % 100 IN (50, 51) THEN NULL "
            "    ELSE 'u' || CAST((i - i % 10) + 3 AS VARCHAR) END "
            "    AS final_url, "
            "  CASE WHEN i % 100 IN (50, 51) THEN NULL "
            "    ELSE CAST(3 - i % 10 AS INTEGER) END AS n_hops, "
            "  i % 100 NOT IN (50, 51) AS ok "
            "FROM s"
        ),
        "fim_split": (
            # full FIM replay: md5 gate, two md5-uniform split draws
            # scaled over [0, len], lo/hi ordering, the three
            # substrings and sentinels byte-for-byte
            "WITH d AS (SELECT doc_id, text, length(text) AS n "
            "  FROM documents), "
            "u AS (SELECT doc_id, text, n, "
            "  CAST(('0x' || substr(md5('fim-gate:' || "
            "    CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
            "    / 4294967296.0 AS g, "
            "  CAST(('0x' || substr(md5('fim-a:' || "
            "    CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
            "    / 4294967296.0 AS ua, "
            "  CAST(('0x' || substr(md5('fim-b:' || "
            "    CAST(doc_id AS VARCHAR)), 1, 8)) AS BIGINT) "
            "    / 4294967296.0 AS ub FROM d), "
            "s AS (SELECT doc_id, text, n, "
            "  g < 0.5 AND n >= 8 AS ap, "
            "  CAST(floor(ua * (n + 1)) AS INTEGER) AS p1, "
            "  CAST(floor(ub * (n + 1)) AS INTEGER) AS p2 FROM u), "
            "t AS (SELECT doc_id, text, n, ap, "
            "  least(p1, p2) AS lo, greatest(p1, p2) AS hi FROM s) "
            "SELECT doc_id, ap AS fim_applied, "
            "  CASE WHEN ap THEN '<PRE>' || substring(text, 1, lo) || "
            "    '<SUF>' || substring(text, hi + 1, n - hi) || "
            "    '<MID>' || substring(text, lo + 1, hi - lo) "
            "  ELSE text END AS fim_text "
            "FROM t"
        ),
        "length_quantiles": (
            # exact order statistics: value at 1-based rank
            # floor(p*(n-1))+1 per language — rank arithmetic only
            "WITH r AS (SELECT lang, n_chars, "
            "  ROW_NUMBER() OVER (PARTITION BY lang "
            "    ORDER BY n_chars) AS rn, "
            "  COUNT(*) OVER (PARTITION BY lang) AS n "
            "  FROM documents) "
            "SELECT lang, MAX(n) AS n, "
            "  MAX(CASE WHEN rn = floor(0.5 * (n - 1)) + 1 "
            "    THEN n_chars END) AS q50, "
            "  MAX(CASE WHEN rn = floor(0.9 * (n - 1)) + 1 "
            "    THEN n_chars END) AS q90, "
            "  MAX(CASE WHEN rn = floor(0.99 * (n - 1)) + 1 "
            "    THEN n_chars END) AS q99 "
            "FROM r GROUP BY lang"
        ),
        "audio_dedup": (
            # relational replay of the melody-group construction:
            # group = doc_id % 40, n_windows = 3 notes × 2 windows,
            # keep = lexicographically-smallest media_ref of the group
            # (the STRING 'au/<id>.wav' min, exactly as the operator
            # elects canonicals)
            "WITH m AS (SELECT doc_id, "
            "  'au/' || CAST(doc_id AS VARCHAR) || '.wav' AS ref, "
            "  doc_id % 40 AS g FROM documents) "
            "SELECT doc_id, CAST(6 AS INTEGER) AS n_windows, "
            "  COUNT(*) OVER (PARTITION BY g) AS group_size, "
            "  CAST(CASE WHEN ref = MIN(ref) OVER (PARTITION BY g) "
            "    THEN 1 ELSE 0 END AS INTEGER) AS keep "
            "FROM m"
        ),
        "bitext_margin": (
            # full margin-mining replay: cross cosines on the same
            # double-cast vectors, top-4 neighborhoods both ways,
            # ratio margin cos/(a_src/2 + a_tgt/2), mutual argmax
            # (ties to the smaller partner id), threshold 1.0
            "WITH s AS (SELECT vec_id, embedding::DOUBLE[] AS v "
            "  FROM embeddings WHERE vec_id % 2 = 0), "
            "t AS (SELECT vec_id, embedding::DOUBLE[] AS v "
            "  FROM embeddings WHERE vec_id % 2 = 1), "
            "c AS (SELECT s.vec_id AS sid, t.vec_id AS tid, "
            "  list_cosine_similarity(s.v, t.v) AS cosine FROM s, t), "
            "fr AS (SELECT sid, tid, cosine, ROW_NUMBER() OVER "
            "  (PARTITION BY sid ORDER BY cosine DESC, tid ASC) AS r "
            "  FROM c), "
            "br AS (SELECT sid, tid, cosine, ROW_NUMBER() OVER "
            "  (PARTITION BY tid ORDER BY cosine DESC, sid ASC) AS r "
            "  FROM c), "
            "ax AS (SELECT sid, AVG(cosine) AS a_src FROM fr "
            "  WHERE r <= 4 GROUP BY 1), "
            "ay AS (SELECT tid, AVG(cosine) AS a_tgt FROM br "
            "  WHERE r <= 4 GROUP BY 1), "
            "cand AS (SELECT sid, tid, cosine FROM fr WHERE r <= 4 "
            "  UNION SELECT sid, tid, cosine FROM br WHERE r <= 4), "
            "m AS (SELECT cand.sid, cand.tid, cand.cosine, "
            "  cand.cosine / (ax.a_src / 2.0 + ay.a_tgt / 2.0) AS margin "
            "  FROM cand JOIN ax USING (sid) JOIN ay USING (tid)), "
            "bf AS (SELECT sid, tid, cosine, margin, "
            "  ROW_NUMBER() OVER (PARTITION BY sid "
            "    ORDER BY margin DESC, tid ASC) AS rf, "
            "  ROW_NUMBER() OVER (PARTITION BY tid "
            "    ORDER BY margin DESC, sid ASC) AS rb FROM m) "
            "SELECT sid AS src_id, tid AS tgt_id, cosine, margin "
            "FROM bf WHERE rf = 1 AND rb = 1 AND margin >= 1.0"
        ),
        "funnel": (
            # minimal timestamp chain = greedy first-touch walk:
            # s1 = min view ts; s2 = min click ts STRICTLY after s1;
            # s3 = min purchase ts strictly after s2
            "WITH s1 AS (SELECT user_id, MIN(ts) AS t1 FROM events "
            "  WHERE event_type = 'view' GROUP BY 1), "
            "s2 AS (SELECT e.user_id, MIN(e.ts) AS t2 FROM events e "
            "  JOIN s1 ON e.user_id = s1.user_id AND e.ts > s1.t1 "
            "  WHERE e.event_type = 'click' GROUP BY 1), "
            "s3 AS (SELECT e.user_id, MIN(e.ts) AS t3 FROM events e "
            "  JOIN s2 ON e.user_id = s2.user_id AND e.ts > s2.t2 "
            "  WHERE e.event_type = 'purchase' GROUP BY 1), "
            "u AS (SELECT DISTINCT user_id FROM events) "
            "SELECT u.user_id, CAST(CASE WHEN t3 IS NOT NULL THEN 3 "
            "  WHEN t2 IS NOT NULL THEN 2 "
            "  WHEN t1 IS NOT NULL THEN 1 ELSE 0 END AS INTEGER) "
            "  AS n_stages, t1, t2, t3 "
            "FROM u LEFT JOIN s1 USING (user_id) "
            "LEFT JOIN s2 USING (user_id) LEFT JOIN s3 USING (user_id)"
        ),
        "retention": (
            # cohort = first-seen DAY per user; week_offset = exact
            # integer division (// — same as Spark's DIV) of the day
            # difference; cohort_size = the cohort's offset-0 count
            "WITH f AS (SELECT user_id, CAST(MIN(ts) AS DATE) "
            "  AS cohort_day FROM events GROUP BY 1), "
            "cells AS (SELECT DISTINCT e.user_id, f.cohort_day, "
            "  date_diff('day', f.cohort_day, CAST(e.ts AS DATE)) // 7 "
            "  AS week_offset FROM events e JOIN f USING (user_id)), "
            "r AS (SELECT cohort_day, week_offset, COUNT(*) AS n_users "
            "  FROM cells GROUP BY 1, 2), "
            "z AS (SELECT cohort_day, n_users AS cohort_size FROM r "
            "  WHERE week_offset = 0) "
            "SELECT r.cohort_day, r.week_offset, r.n_users, "
            "  z.cohort_size, r.n_users / z.cohort_size "
            "  AS retained_frac "
            "FROM r JOIN z USING (cohort_day)"
        ),
        "gap_fill": (
            # dense calendar from the global bounds; zero rows where
            # the per-(type, day) groupBy was silent
            "WITH b AS (SELECT CAST(MIN(ts) AS DATE) AS d0, "
            "  CAST(MAX(ts) AS DATE) AS d1 FROM events), "
            "cal AS (SELECT CAST(unnest(generate_series(d0, d1, "
            "  INTERVAL 1 DAY)) AS DATE) AS day FROM b), "
            "t AS (SELECT DISTINCT event_type FROM events), "
            "c AS (SELECT event_type, CAST(ts AS DATE) AS day, "
            "  COUNT(*) AS n FROM events GROUP BY 1, 2) "
            "SELECT t.event_type, cal.day, "
            "  COALESCE(c.n, 0) AS n_events, "
            "  COALESCE(c.n, 0) = 0 AS is_gap "
            "FROM cal CROSS JOIN t "
            "LEFT JOIN c ON c.event_type = t.event_type "
            "  AND c.day = cal.day"
        ),
        "attribution": (
            # INDEPENDENT oracle: native ASOF LEFT JOIN + the same
            # epoch-difference 1-day tolerance null-out
            "WITH p AS (SELECT event_id, user_id, ts FROM events "
            "  WHERE event_type = 'purchase'), "
            "t AS (SELECT user_id, ts, event_type AS touch "
            "  FROM events WHERE event_type IN ('view', 'click')), "
            "j AS (SELECT p.event_id, p.user_id, t.touch, "
            "  epoch(p.ts) - epoch(t.ts) AS lag FROM p "
            "  ASOF LEFT JOIN t "
            "  ON p.user_id = t.user_id AND p.ts >= t.ts) "
            "SELECT event_id, user_id, "
            "  CASE WHEN lag <= 86400.0 THEN touch END AS touch_type, "
            "  CASE WHEN lag <= 86400.0 THEN lag END AS lag_s, "
            "  COALESCE(lag <= 86400.0, FALSE) AS attributed "
            "FROM j"
        ),
        "span_validate": (
            # expected verdicts written straight from the doc_id%6
            # construction: slot 2 plants bad_kind + missing_text so
            # the row only matches if bad_kind wins the precedence
            "WITH c AS (SELECT doc_id, doc_id % 6 AS m FROM documents) "
            "SELECT doc_id, "
            "CAST(CASE WHEN m = 0 THEN 3 WHEN m = 1 THEN 0 "
            "  WHEN m = 5 THEN 3 ELSE 2 END AS INTEGER) AS n_spans, "
            "CAST(CASE WHEN m IN (0, 3) THEN 1 ELSE 0 END AS INTEGER) "
            "  AS n_media, "
            "CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INTEGER) AS valid, "
            "CASE m WHEN 1 THEN 'no_spans' WHEN 2 THEN 'bad_kind' "
            "  WHEN 3 THEN 'missing_media_ref' WHEN 4 THEN 'missing_text' "
            "  WHEN 5 THEN 'offset_disorder' END AS reason "
            "FROM c"
        ),
        "media_integrity": (
            # expected verdicts straight from the doc_id%4 parity
            # construction: media table = m://k for even k (doc_ids are
            # contiguous from 0, so d-1 for d%4==1 always exists);
            # m=0 plants dup ref_self (resolved, counted once) + odd
            # ref_next orphan; m=1 one resolved ref_prev; m=2 one
            # orphan ref_next; m=3 no media spans
            "WITH c AS (SELECT doc_id, CAST(doc_id % 4 AS INTEGER) AS m "
            "  FROM documents) "
            "SELECT doc_id, "
            "CAST(CASE WHEN m = 0 THEN 2 WHEN m = 3 THEN 0 ELSE 1 END "
            "  AS INTEGER) AS n_media_refs, "
            "CAST(CASE WHEN m IN (0, 1) THEN 1 ELSE 0 END AS INTEGER) "
            "  AS n_resolved, "
            "CAST(CASE WHEN m IN (0, 2) THEN 1 ELSE 0 END AS INTEGER) "
            "  AS n_orphans, "
            "CASE WHEN m IN (0, 2) "
            "  THEN ['m://' || CAST(doc_id + 1 AS VARCHAR)] "
            "  ELSE CAST([] AS VARCHAR[]) END AS orphan_refs "
            "FROM c"
        ),
        "strip_running_lines": (
            # identical construction (pages x 4 line templates), zone
            # CASE, '#'-digit + ws normalization, distinct-page
            # thresholds, and the flag LEFT JOIN
            "WITH pg AS (SELECT doc_id, text, "
            "  unnest(generate_series(0, CAST(doc_id % 3 + 1 AS INTEGER))) "
            "  AS p FROM documents), "
            "l AS ("
            "SELECT doc_id, p AS page, 0 AS line_no, 4 AS n_lines, "
            "  CASE WHEN doc_id % 2 = 0 THEN 'ACME Corp' "
            "  ELSE 'intro ' || ['a','b','c','d'][CAST(p + 1 AS INTEGER)] "
            "  END AS text FROM pg "
            "UNION ALL SELECT doc_id, p, 1, 4, "
            "  substr(text, CAST(p * 10 + 1 AS INTEGER), 30) FROM pg "
            "UNION ALL SELECT doc_id, p, 2, 4, "
            "  'mid ' || ['a','b','c','d'][CAST(p + 1 AS INTEGER)] FROM pg "
            "UNION ALL SELECT doc_id, p, 3, 4, "
            "  'Page ' || CAST(p + 1 AS VARCHAR) FROM pg), "
            "t AS (SELECT *, CASE WHEN line_no < 1 THEN 'h' "
            "  WHEN line_no >= n_lines - 1 THEN 'f' END AS zone, "
            "  trim(regexp_replace(regexp_replace(lower(text), "
            "  '[0-9]+', '#', 'g'), '\\s+', ' ', 'g')) AS norm FROM l), "
            "rec AS (SELECT doc_id, zone, norm, "
            "  COUNT(DISTINCT page) AS seen FROM t "
            "  WHERE zone IS NOT NULL GROUP BY 1, 2, 3), "
            "np AS (SELECT doc_id, COUNT(DISTINCT page) AS n_pages "
            "  FROM l GROUP BY 1), "
            "run AS (SELECT rec.doc_id, zone, norm FROM rec "
            "  JOIN np USING (doc_id) "
            "  WHERE seen >= 2 AND seen >= CEIL(n_pages * 0.6)) "
            "SELECT t.doc_id, t.page, t.line_no, t.n_lines, t.text, "
            "  (run.norm IS NOT NULL) AS is_running "
            "FROM t LEFT JOIN run ON t.doc_id = run.doc_id "
            "  AND t.zone = run.zone AND t.norm = run.norm"
        ),
        "pseudonymize": (
            # identical construction, pattern, ordering key, md5
            # formula, and literal-replace fold — run by DuckDB
            "WITH c AS (SELECT doc_id, substr(text, 1, 40) || "
            "CASE CAST(doc_id % 4 AS INTEGER) "
            "WHEN 0 THEN ' write u' || CAST(doc_id AS VARCHAR) "
            "  || '@a.com or u' || CAST(doc_id AS VARCHAR) || '@a.com' "
            "WHEN 1 THEN ' pair xb@c.com b@c.com' "
            "WHEN 2 THEN ' shared@x.org and Shared@X.org' "
            "ELSE '' END AS t FROM documents), "
            "m AS (SELECT doc_id, t, regexp_extract_all(t, "
            "  '[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\\.[A-Za-z]{2,}') "
            "  AS ms FROM c), "
            "o AS (SELECT doc_id, t, ms, "
            "  list_transform(list_sort(list_transform(list_distinct(ms), "
            "    e -> lpad(CAST(100000 - length(e) AS VARCHAR), 6, '0') "
            "    || e)), k -> substr(k, 7)) AS ordered FROM m) "
            "SELECT doc_id, "
            "list_reduce(list_prepend(t, ordered), (acc, e) -> "
            "  replace(acc, e, 'user-' || substr(md5(lower(e)), 1, 10) "
            "  || '@example.invalid')) AS clean_text, "
            "CAST(len(ms) AS BIGINT) AS n_emails, "
            "CAST(len(list_distinct(list_transform(ms, x -> lower(x)))) "
            "  AS BIGINT) AS n_identities "
            "FROM o"
        ),
        "section_chunks": (
            # slot construction as UNION ALL rows, section id as the
            # running heading count, ordered re-join via STRING_AGG
            # ... ORDER BY pos, '' (not NULL) for text-less sections
            "WITH s AS ("
            "SELECT doc_id, 0 AS pos, 'text' AS kind, "
            "  'lead para' AS text, CAST(NULL AS VARCHAR) AS media_ref, "
            "  0 AS off FROM documents WHERE doc_id % 5 = 0 "
            "UNION ALL SELECT doc_id, 1, 'heading', 'Intro ' || source, "
            "  NULL, 1 FROM documents "
            "UNION ALL SELECT doc_id, 2, 'text', substr(text, 1, 60), "
            "  NULL, 2 FROM documents "
            "UNION ALL SELECT doc_id, 3, 'media', NULL, "
            "  'img://' || CAST(doc_id AS VARCHAR), 3 FROM documents "
            "  WHERE doc_id % 3 = 0 "
            "UNION ALL SELECT doc_id, 4, 'heading', 'Details', NULL, 4 "
            "  FROM documents "
            "UNION ALL SELECT doc_id, 5, 'text', substr(text, 61, 80), "
            "  NULL, 5 FROM documents "
            "UNION ALL SELECT doc_id, 6, 'text', "
            "  'tail ' || CAST(doc_id AS VARCHAR), NULL, 6 "
            "  FROM documents), "
            "w AS (SELECT *, SUM(CASE WHEN kind = 'heading' THEN 1 "
            "  ELSE 0 END) OVER (PARTITION BY doc_id ORDER BY pos) "
            "  AS section_id FROM s) "
            "SELECT doc_id, CAST(section_id AS BIGINT) AS section_id, "
            "MAX(CASE WHEN kind = 'heading' THEN text END) AS heading, "
            "COALESCE(STRING_AGG(CASE WHEN kind = 'text' THEN text END, "
            "  chr(10) ORDER BY pos), '') AS text, "
            "CAST(SUM(CASE WHEN kind = 'media' THEN 1 ELSE 0 END) "
            "  AS BIGINT) AS n_media, "
            "CAST(MIN(off) AS INTEGER) AS first_offset "
            "FROM w GROUP BY doc_id, section_id"
        ),
        "extract_citations": (
            # identical construction, IDENTICAL regex patterns run by
            # DuckDB's RE2 — hash equality proves the Java∩RE2 subset
            "WITH c AS (SELECT doc_id, substr(text, 1, 40) || "
            "CASE CAST(doc_id % 6 AS INTEGER) "
            "WHEN 0 THEN ' see doi:10.1234/x.' || CAST(doc_id AS VARCHAR) "
            "WHEN 1 THEN "
            "  ' 10.5555/a1 10.5555/a1 (10.48550/arXiv.2107.06499)' "
            "WHEN 2 THEN ' ArXiv:2302.03169v2 plus arxiv:2107.06499.' "
            "WHEN 3 THEN ' RFC 9309, rfc-793 and RFC 12' "
            "WHEN 4 THEN ' 10.123/tooshort arXiv:123.4567 rfc 12' "
            "ELSE '' END AS t FROM documents), "
            "e AS (SELECT doc_id, "
            "list_sort(list_distinct(regexp_extract_all(t, "
            "  '10\\.[0-9]{4,9}/[-._;()/:A-Za-z0-9]*[A-Za-z0-9]'))) "
            "  AS dois, "
            "list_sort(list_distinct(list_transform(regexp_extract_all(t, "
            "  '(?i)arxiv:[0-9]{4}\\.[0-9]{4,5}(?:v[0-9]+)?'), "
            "  x -> lower(x)))) AS arxiv_ids, "
            "list_sort(list_distinct(list_transform(regexp_extract_all(t, "
            "  '(?i)rfc[ -]?[0-9]{3,5}'), "
            "  x -> 'rfc' || regexp_replace(x, '[^0-9]', '', 'g')))) "
            "  AS rfcs "
            "FROM c) "
            "SELECT doc_id, dois, arxiv_ids, rfcs, "
            "CAST(len(dois) + len(arxiv_ids) + len(rfcs) AS INTEGER) "
            "  AS n_refs FROM e"
        ),
        "ngram_novelty": (
            # same token + trigram convention, per-doc DISTINCT grams,
            # df = count over the distinct pairs, novelty left NULL for
            # sub-3-token docs (the LEFT JOIN keeps the rows)
            "WITH base AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '') AS toks FROM documents), "
            "g0 AS (SELECT doc_id, toks, "
            "  unnest(generate_series(1, len(toks) - 2)) AS i "
            "  FROM base WHERE len(toks) >= 3), "
            "g AS (SELECT DISTINCT doc_id, "
            "  array_to_string(toks[i:i+2], ' ') AS ng FROM g0), "
            "dfv AS (SELECT ng, COUNT(*) AS df FROM g GROUP BY 1), "
            "sc AS (SELECT doc_id, COUNT(*) AS n_ngrams, "
            "  SUM(CASE WHEN df = 1 THEN 1 ELSE 0 END) AS n_novel, "
            "  MAX(df) AS max_df FROM g JOIN dfv USING (ng) GROUP BY 1) "
            "SELECT d.doc_id, "
            "CAST(COALESCE(sc.n_ngrams, 0) AS BIGINT) AS n_ngrams, "
            "CAST(COALESCE(sc.n_novel, 0) AS BIGINT) AS n_novel, "
            "sc.n_novel * 1.0 / sc.n_ngrams AS novelty, "
            "CAST(sc.max_df AS BIGINT) AS max_df "
            "FROM documents d LEFT JOIN sc USING (doc_id)"
        ),
        "collocations": (
            # same token convention, same counting, and the IDENTICAL
            # IEEE op sequence for lift — the ranking key; ln only in
            # the value column where rounded hashing absorbs ulp noise
            "WITH base AS (SELECT list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '') AS toks FROM documents), "
            "uc AS (SELECT unnest(toks) AS w FROM base), "
            "u AS (SELECT w, COUNT(*) AS c FROM uc GROUP BY 1), "
            "bz AS (SELECT unnest(list_zip(toks[1:len(toks)-1], "
            "  toks[2:len(toks)])) AS z FROM base "
            "  WHERE len(toks) >= 2), "
            "b AS (SELECT z[1] AS w1, z[2] AS w2, COUNT(*) AS n "
            "  FROM bz GROUP BY 1, 2), "
            "tot AS (SELECT (SELECT SUM(c) FROM u) AS nt, "
            "  (SELECT SUM(n) FROM b) AS nb) "
            "SELECT b.w1, b.w2, b.n AS n_pair, u1.c AS c1, "
            "  u2.c AS c2, "
            "  ((b.n * 1.0) * tot.nt / u1.c) * (tot.nt / u2.c) "
            "    / tot.nb AS lift, "
            "  ln(((b.n * 1.0) * tot.nt / u1.c) * (tot.nt / u2.c) "
            "    / tot.nb) AS pmi "
            "FROM b, tot "
            "JOIN u u1 ON b.w1 = u1.w JOIN u u2 ON b.w2 = u2.w "
            "WHERE b.n >= 5 "
            "ORDER BY lift DESC, b.w1, b.w2 LIMIT 100"
        ),
        "gazetteer_tag": (
            # same token convention, same candidate windows (one per
            # phrase length), same join — built relationally
            "WITH g(phrase, tag) AS (VALUES "
            + ", ".join(f"('{p}', '{t}')" for p, t in _GAZETTEER)
            + "), "
            "base AS (SELECT doc_id, list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '') AS toks FROM documents), "
            "ls AS (SELECT DISTINCT len(regexp_split_to_array("
            "  trim(lower(phrase)), '\\s+')) AS l FROM g), "
            "cand0 AS (SELECT doc_id, toks, l, "
            "  unnest(generate_series(1, len(toks)-l+1)) AS pos "
            "  FROM base, ls), "
            "cand AS (SELECT doc_id, pos, "
            "  array_to_string(toks[pos:pos+l-1], ' ') AS cand "
            "  FROM cand0) "
            "SELECT doc_id, g.phrase, g.tag, "
            "  COUNT(*) AS n_mentions, MIN(pos) AS first_pos "
            "FROM cand JOIN g ON cand.cand = trim(lower(g.phrase)) "
            "GROUP BY 1, 2, 3"
        ),
        "rrf_fuse": (
            # both BM25 scorings replayed (the bm25_search oracle
            # construction, parameterized by query), ranked by
            # ROW_NUMBER over (score DESC, doc_id) within each top-50,
            # then the identical fusion arithmetic: 1.0/(60+rank)
            "WITH t AS (SELECT doc_id, unnest(list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '')) AS token FROM documents), "
            "post AS (SELECT token, doc_id, COUNT(*) AS tf FROM t "
            "  GROUP BY 1, 2), "
            "dl AS (SELECT doc_id, len(list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '')) AS dl FROM documents), "
            + "".join(
                f"q{i} AS (SELECT unnest({terms}) AS token), "
                f"dfq{i} AS (SELECT token, COUNT(*) AS df FROM post "
                f"  JOIN q{i} USING (token) GROUP BY 1), "
                f"idf{i} AS (SELECT token, ln(1.0 + "
                "  ((SELECT COUNT(*) FROM documents) - df + 0.5) / "
                f"  (df + 0.5)) AS idf FROM dfq{i}), "
                f"sc{i} AS (SELECT post.doc_id, idf{i}.idf * "
                "  (post.tf * (1.2 + 1.0)) / (post.tf + 1.2 * "
                "  ((1.0 - 0.75) + 0.75 * dl.dl / "
                "    (SELECT AVG(dl) FROM dl))) AS s "
                f"  FROM post JOIN idf{i} USING (token) "
                "  JOIN dl USING (doc_id)), "
                f"top{i} AS (SELECT doc_id, SUM(s) AS score FROM sc{i} "
                "  GROUP BY 1 ORDER BY score DESC, doc_id LIMIT 50), "
                f"r{i} AS (SELECT doc_id, ROW_NUMBER() OVER "
                f"  (ORDER BY score DESC, doc_id) AS rank FROM top{i}), "
                for i, terms in (
                    (1, "['hash', 'join', 'merge', 'scan']"),
                    (2, "['agg', 'group', 'sort', 'window']"),
                )
            )
            + "u AS (SELECT doc_id, rank FROM r1 "
            "  UNION ALL SELECT doc_id, rank FROM r2) "
            "SELECT doc_id, SUM(1.0 / (60 + rank)) AS rrf_score, "
            "  COUNT(*) AS n_lists, MIN(rank) AS best_rank "
            "FROM u GROUP BY 1 "
            "ORDER BY rrf_score DESC, doc_id LIMIT 20"
        ),
        "source_drift": (
            # identical formulation: present-cell JSD terms + the
            # algebraic absent-cell remainder 0.5*(1-qmass)*ln(2)
            "WITH base AS (SELECT source AS src, list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '') AS toks FROM documents), "
            "c AS (SELECT src, unnest(toks) AS tok FROM base), "
            "counts AS (SELECT src, tok, COUNT(*) AS n FROM c "
            "  GROUP BY 1, 2), "
            "corpus AS (SELECT tok, SUM(n) AS cn FROM counts "
            "  GROUP BY 1), "
            "stv AS (SELECT src, SUM(n) AS st, COUNT(*) AS vocab "
            "  FROM counts GROUP BY 1), "
            "g AS (SELECT SUM(n) AS gt FROM counts), "
            "cells AS (SELECT counts.src, stv.st, stv.vocab, "
            "  counts.n / stv.st AS p, corpus.cn / g.gt AS q "
            "  FROM counts JOIN corpus USING (tok) "
            "  JOIN stv USING (src), g), "
            "per AS (SELECT src, st, vocab, "
            "  SUM(0.5 * (p * ln(2.0*p/(p+q)) + q * ln(2.0*q/(p+q)))) "
            "    AS present, "
            "  SUM(q) AS qmass FROM cells GROUP BY 1, 2, 3) "
            "SELECT src AS source, st AS n_tokens, vocab, "
            "  present + 0.5 * (1.0 - qmass) * ln(2.0) AS jsd "
            "FROM per ORDER BY source"
        ),
        "balanced_shards": (
            # the single-window ROW_NUMBER differential the bucketed
            # rank must match byte-for-byte, plus the wave arithmetic
            "WITH r AS (SELECT doc_id, n_chars, "
            "  ROW_NUMBER() OVER (ORDER BY -n_chars, doc_id) - 1 "
            "    AS pos FROM documents) "
            "SELECT doc_id, n_chars, pos AS size_rank, "
            "  CASE WHEN pos % 32 < 16 THEN pos % 32 "
            "  ELSE 31 - (pos % 32) END AS shard "
            "FROM r"
        ),
        "pr_curve": (
            # full confusion-matrix recompute per threshold, identical
            # division spelling ("precision" quoted: DOUBLE PRECISION
            # keyword); the 0/0 branches stay NULL in both engines
            "WITH s AS (SELECT CAST(doc_id % 3 = 0 AS INT) AS y, "
            "  CAST((doc_id*37) % 101 AS DOUBLE)/100.0 AS sc "
            "  FROM documents), "
            "t AS (SELECT unnest(CAST([0.1,0.3,0.5,0.7,0.9] "
            "  AS DOUBLE[])) AS threshold), "
            "a AS (SELECT threshold, "
            "  CAST(SUM(CASE WHEN sc >= threshold AND y = 1 THEN 1 "
            "    ELSE 0 END) AS BIGINT) AS tp, "
            "  CAST(SUM(CASE WHEN sc >= threshold AND y = 0 THEN 1 "
            "    ELSE 0 END) AS BIGINT) AS fp, "
            "  CAST(SUM(CASE WHEN sc < threshold AND y = 1 THEN 1 "
            "    ELSE 0 END) AS BIGINT) AS fn, "
            "  CAST(SUM(CASE WHEN sc < threshold AND y = 0 THEN 1 "
            "    ELSE 0 END) AS BIGINT) AS tn "
            "  FROM s CROSS JOIN t GROUP BY threshold), "
            "p AS (SELECT *, "
            "  CASE WHEN tp + fp > 0 THEN CAST(tp AS DOUBLE)/(tp + fp) "
            "    END AS prec, "
            "  CASE WHEN tp + fn > 0 THEN CAST(tp AS DOUBLE)/(tp + fn) "
            "    END AS rec FROM a) "
            "SELECT threshold, tp, fp, fn, tn, "
            '  prec AS "precision", rec AS recall, '
            "  CASE WHEN prec IS NOT NULL AND rec IS NOT NULL "
            "    AND prec + rec > 0 "
            "    THEN 2 * prec * rec / (prec + rec) END AS f1 "
            "FROM p"
        ),
        "near_decontaminate": (
            # planted invariant: every 10th doc's benchmark paraphrase
            # keeps 23 of 25 tokens, so trigram Jaccard is exactly
            # 21 shared / (23+23-21) distinct = 21/25; everything else
            # shares zero shingles by construction
            "SELECT doc_id, "
            "CASE WHEN doc_id % 10 = 0 THEN CAST(21 AS DOUBLE)/25 "
            "  ELSE 0.0 END AS max_jaccard, "
            "CAST(CASE WHEN doc_id % 10 = 0 THEN 1 ELSE 0 END AS INT) "
            "  AS contaminated "
            "FROM documents"
        ),
        "pq_encode": _pq_oracle_sql(8, 4, 8),
        "domain_weights": (
            # identical excess/softmax arithmetic; AVG grouping noise
            # and libm exp() ulps both land inside 6-sig-fig rounding
            "WITH per AS (SELECT source, "
            "  CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "  AVG(GREATEST(CAST(doc_id*7 % 40 AS DOUBLE)/10.0 "
            "    - CAST(doc_id*11 % 30 AS DOUBLE)/10.0, 0.0)) AS excess "
            "  FROM documents GROUP BY source) "
            "SELECT source, n_docs, excess, "
            "  exp(excess / 0.5) / SUM(exp(excess / 0.5)) OVER () "
            "    AS weight "
            "FROM per"
        ),
        "bradley_terry": (
            # identical tournament construction + Hunter MM recurrence
            # unrolled 8 rounds (generated CTE chain, same precedent as
            # pq_encode's generated oracle); mean-1 normalization at
            # the end only — the update is 1-homogeneous so this
            # matches the Spark op's end-normalization exactly
            "WITH src AS (SELECT doc_id AS d, doc_id % 12 AS a, "
            "  (doc_id*5 + 1) % 12 AS b FROM documents), "
            "comp AS (SELECT "
            "  CASE WHEN d % (a+b+2) <= a THEN a ELSE b END AS w, "
            "  CASE WHEN d % (a+b+2) <= a THEN b ELSE a END AS l "
            "  FROM src), "
            "e AS (SELECT a, b, CAST(COUNT(*) AS DOUBLE) AS n FROM ("
            "  SELECT w AS a, l AS b FROM comp "
            "  UNION ALL SELECT l AS a, w AS b FROM comp) GROUP BY a, b), "
            "wins AS (SELECT w AS a, CAST(COUNT(*) AS DOUBLE) AS wn "
            "  FROM comp GROUP BY w), "
            "stats AS (SELECT e.a, COALESCE(MAX(wins.wn), 0.0) AS wn, "
            "  SUM(e.n) AS n_games FROM e "
            "  LEFT JOIN wins ON e.a = wins.a GROUP BY e.a), "
            "p0 AS (SELECT a, 1.0 AS p FROM stats), "
            + ", ".join(
                f"p{k} AS (SELECT s.a, s.wn / SUM(e.n / (x.p + y.p)) AS p "
                f"FROM e JOIN p{k-1} x ON e.a = x.a "
                f"JOIN p{k-1} y ON e.b = y.a "
                f"JOIN stats s ON s.a = e.a GROUP BY s.a, s.wn)"
                for k in range(1, 9)
            )
            + " SELECT s.a AS item, "
            "p8.p / (SELECT AVG(p) FROM p8) AS score, "
            "CAST(s.wn AS BIGINT) AS n_wins, "
            "CAST(s.n_games AS BIGINT) AS n_games "
            "FROM p8 JOIN stats s ON p8.a = s.a"
        ),
        "shard_manifest": (
            # identical md5 routing/digest device (sampling.py/sketch.py
            # precedent): shard = first-8-hex bucket % 32, row digest =
            # first-15-hex of md5(id || US || text), content hash =
            # bit_xor of digests; statuses from the full outer join
            "WITH oldd AS (SELECT CAST(doc_id AS VARCHAR) AS id, "
            "  COALESCE(text, '') AS t FROM documents), "
            "newd AS (SELECT CAST(doc_id AS VARCHAR) AS id, "
            "  CASE WHEN doc_id % 7 = 3 THEN COALESCE(text, '') || ' v2' "
            "  ELSE COALESCE(text, '') END AS t FROM documents "
            "  WHERE doc_id % 11 <> 5), "
            "mo AS (SELECT CAST(CAST(('0x' || substr(md5(id), 1, 8)) "
            "    AS BIGINT) % 32 AS INTEGER) AS shard_id, "
            "  CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "  CAST(SUM(length(t)) AS BIGINT) AS n_chars, "
            "  bit_xor(CAST(('0x' || substr(md5(id || chr(31) || t), "
            "    1, 15)) AS BIGINT)) AS content_hash "
            "  FROM oldd GROUP BY 1), "
            "mn AS (SELECT CAST(CAST(('0x' || substr(md5(id), 1, 8)) "
            "    AS BIGINT) % 32 AS INTEGER) AS shard_id, "
            "  CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "  CAST(SUM(length(t)) AS BIGINT) AS n_chars, "
            "  bit_xor(CAST(('0x' || substr(md5(id || chr(31) || t), "
            "    1, 15)) AS BIGINT)) AS content_hash "
            "  FROM newd GROUP BY 1) "
            "SELECT COALESCE(mo.shard_id, mn.shard_id) AS shard_id, "
            "CASE WHEN mo.shard_id IS NULL THEN 'added' "
            "  WHEN mn.shard_id IS NULL THEN 'removed' "
            "  WHEN mo.n_docs = mn.n_docs AND mo.n_chars = mn.n_chars "
            "    AND mo.content_hash = mn.content_hash THEN 'same' "
            "  ELSE 'changed' END AS status, "
            "mo.n_docs AS old_docs, mn.n_docs AS new_docs, "
            "mo.content_hash AS content_hash, mo.n_chars AS n_chars "
            "FROM mo FULL OUTER JOIN mn ON mo.shard_id = mn.shard_id"
        ),
        "corpus_rollup": (
            # same ROLLUP grouping sets; GROUPING(source, lang) bit
            # order verified identical to Spark's grouping_id; exact-int
            # sums divide identically in double
            "SELECT COALESCE(source, '(total)') AS source, "
            "COALESCE(lang, '(total)') AS lang, "
            "CAST(GROUPING(source, lang) AS INTEGER) AS level, "
            "CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(SUM(length(COALESCE(text, ''))) AS BIGINT) AS n_chars, "
            "CAST(SUM(length(COALESCE(text, ''))) AS DOUBLE) / COUNT(*) "
            "  AS avg_chars "
            "FROM documents GROUP BY ROLLUP(source, lang)"
        ),
        "corpus_overlap": (
            # identical tokenization (trim+lower+\s+ split, drop
            # empties), identical 60-bit md5 hash, per-corpus bottom-k,
            # union bottom-k, and the three membership estimates
            "WITH ta AS (SELECT DISTINCT CAST(('0x' || "
            "    substr(md5(t), 1, 15)) AS BIGINT) AS h FROM ("
            "  SELECT unnest(string_split_regex(trim(lower(text)), "
            "    '\\s+')) AS t FROM documents) WHERE t <> ''), "
            "sa AS (SELECT h FROM ta ORDER BY h LIMIT 256), "
            "tb AS (SELECT DISTINCT CAST(('0x' || "
            "    substr(md5(t), 1, 15)) AS BIGINT) AS h FROM ("
            "  SELECT unnest(string_split_regex(trim(lower("
            "    CASE WHEN doc_id % 2 = 0 THEN text "
            "    ELSE 'u' || CAST(doc_id AS VARCHAR) || ' v' || "
            "      CAST(doc_id AS VARCHAR) END)), '\\s+')) AS t "
            "  FROM documents) WHERE t <> ''), "
            "sb AS (SELECT h FROM tb ORDER BY h LIMIT 256), "
            "u AS (SELECT h, MAX(ia) AS _a, MAX(ib) AS _b FROM ("
            "  SELECT h, 1 AS ia, 0 AS ib FROM sa "
            "  UNION ALL SELECT h, 0, 1 FROM sb) GROUP BY h "
            "  ORDER BY h LIMIT 256) "
            "SELECT CAST(COUNT(*) AS BIGINT) AS k_eff, "
            "CAST(SUM(_a * _b) AS DOUBLE) / COUNT(*) AS est_jaccard, "
            "CASE WHEN SUM(_a) > 0 THEN "
            "  CAST(SUM(_a * _b) AS DOUBLE) / SUM(_a) END "
            "  AS est_contain_a, "
            "CASE WHEN SUM(_b) > 0 THEN "
            "  CAST(SUM(_a * _b) AS DOUBLE) / SUM(_b) END "
            "  AS est_contain_b "
            "FROM u"
        ),
        "microdata": (
            # expected property rows written straight from the planted
            # construction: scope 0 Article (nested author prop emits
            # value NULL), scope 1 Person, scope 2 typeless two-token
            # itemprop when i%3=0
            "WITH d AS (SELECT doc_id AS i FROM documents) "
            "SELECT i AS doc_id, CAST(0 AS INTEGER) AS scope_idx, "
            "  'https://schema.org/Article' AS item_type, "
            "  'headline' AS prop, 'T' || i AS value, "
            "  CAST(0 AS INTEGER) AS prop_idx FROM d "
            "UNION ALL SELECT i, 0, 'https://schema.org/Article', "
            "  'author', NULL, 1 FROM d "
            "UNION ALL SELECT i, 0, 'https://schema.org/Article', "
            "  'wordCount', CAST(i % 100 AS VARCHAR), 2 FROM d "
            "UNION ALL SELECT i, 0, 'https://schema.org/Article', "
            "  'url', '/p/' || i, 3 FROM d "
            "UNION ALL SELECT i, 0, 'https://schema.org/Article', "
            "  'datePublished', '2024-01-0' || CAST(i % 9 + 1 AS VARCHAR), "
            "  4 FROM d WHERE i % 5 = 0 "
            "UNION ALL SELECT i, 1, 'https://schema.org/Person', "
            "  'name', 'A' || i, 0 FROM d "
            "UNION ALL SELECT i, 2, NULL, 'name', 'W' || i, 0 FROM d "
            "  WHERE i % 3 = 0 "
            "UNION ALL SELECT i, 2, NULL, 'alternateName', 'W' || i, 1 "
            "  FROM d WHERE i % 3 = 0"
        ),
        "code_blocks": (
            # expected blocks from the construction: two-line language-*
            # block, lang-js-on-pre fallback at i%4=0, class-less NULL
            # language at i%6=0 (its index shifts when the js block is
            # also present)
            "WITH d AS (SELECT doc_id AS i, "
            "  ['python','rust','go','sql'][CAST(i % 4 + 1 AS INTEGER)] "
            "    AS lang, "
            "  'line one ' || i || chr(10) || 'return ' || "
            "    CAST(i % 7 AS VARCHAR) AS c0 FROM documents) "
            "SELECT i AS doc_id, CAST(0 AS INTEGER) AS block_idx, "
            "  lang AS language, c0 AS code, "
            "  CAST(2 AS INTEGER) AS n_lines, "
            "  CAST(length(c0) AS INTEGER) AS n_chars FROM d "
            "UNION ALL SELECT i, 1, 'js', 'console.log(' || i || ')', "
            "  1, CAST(length('console.log(' || i || ')') AS INTEGER) "
            "  FROM d WHERE i % 4 = 0 "
            "UNION ALL SELECT i, "
            "  CASE WHEN i % 4 = 0 THEN 2 ELSE 1 END, NULL, "
            "  'plain ' || i, 1, "
            "  CAST(length('plain ' || i) AS INTEGER) "
            "  FROM d WHERE i % 6 = 0"
        ),
        "token_budget": (
            # identical water-filling recurrence unrolled 6 rounds with
            # window sums; every quantity is integer-valued in double,
            # so caps/provisions compare bit-exactly across engines
            "WITH per AS (SELECT source, "
            "  CAST(SUM(n_chars) AS DOUBLE) AS n_tokens, "
            "  CAST(regexp_extract(source, '(\\d+)', 1) AS DOUBLE) + 1.0 "
            "    AS weight, "
            "  CAST(SUM(n_chars) AS DOUBLE) * 2.0 AS cap "
            "  FROM documents GROUP BY source), "
            "r0 AS (SELECT per.*, FALSE AS capped, "
            "  (SELECT CAST(SUM(n_chars) AS DOUBLE) * 1.5 FROM documents) "
            "    AS b FROM per), "
            + " ".join(
                f"r{k} AS (SELECT source, n_tokens, weight, cap, b, "
                "capped OR ("
                "SUM(CASE WHEN NOT capped THEN weight ELSE 0 END) "
                "  OVER () > 0 "
                "AND weight / SUM(CASE WHEN NOT capped THEN weight "
                "  ELSE 0 END) OVER () "
                "* (b - SUM(CASE WHEN capped THEN cap ELSE 0 END) "
                "  OVER ()) > cap) AS capped "
                f"FROM r{k-1}),"
                for k in range(1, 7)
            )
            + " f AS (SELECT *, "
            "SUM(CASE WHEN NOT capped THEN weight ELSE 0 END) OVER () "
            "  AS wa, "
            "b - SUM(CASE WHEN capped THEN cap ELSE 0 END) OVER () AS rr "
            "FROM r6) "
            "SELECT source, n_tokens, weight, cap AS cap_tokens, "
            "CASE WHEN capped THEN cap "
            "  ELSE GREATEST(weight / wa * rr, 0.0) END AS alloc_tokens, "
            "CASE WHEN capped THEN cap "
            "  ELSE GREATEST(weight / wa * rr, 0.0) END / n_tokens "
            "  AS epochs, "
            "CAST(capped AS INTEGER) AS capped, "
            "CAST(SUM(CASE WHEN NOT capped AND weight / wa * rr > cap "
            "  THEN 1 ELSE 0 END) OVER () = 0 AS INTEGER) AS converged "
            "FROM f"
        ),
        "triangle_count": (
            # identical Schank-Wagner dataflow: symmetrize+dedup,
            # degrees, lower-(deg,id)->higher orientation, rank-ordered
            # wedge join, closing-edge join, 3-way vertex attribution
            "WITH raw AS ("
            "  SELECT 'h' || CAST(doc_id % 20 AS VARCHAR) AS a, "
            "    'h' || CAST((doc_id*3+1) % 20 AS VARCHAR) AS b "
            "  FROM documents "
            "  UNION ALL SELECT 'h' || CAST(doc_id % 20 AS VARCHAR), "
            "    'h' || CAST((doc_id*7+2) % 20 AS VARCHAR) "
            "  FROM documents), "
            "e AS (SELECT a, b FROM raw WHERE a <> b), "
            "und AS (SELECT DISTINCT a, b FROM ("
            "  SELECT a, b FROM e UNION ALL SELECT b, a FROM e)), "
            "deg AS (SELECT a AS node, COUNT(*) AS deg FROM und "
            "  GROUP BY a), "
            "canon AS (SELECT a, b FROM und WHERE a < b), "
            "rk AS (SELECT c.a, c.b, x.deg AS da, y.deg AS db "
            "  FROM canon c JOIN deg x ON c.a = x.node "
            "  JOIN deg y ON c.b = y.node), "
            "ori AS (SELECT "
            "  CASE WHEN da < db OR (da = db AND a < b) THEN a ELSE b "
            "    END AS u, "
            "  CASE WHEN da < db OR (da = db AND a < b) THEN b ELSE a "
            "    END AS v, "
            "  CASE WHEN da < db OR (da = db AND a < b) THEN db ELSE da "
            "    END AS rv FROM rk), "
            "w AS (SELECT o1.u, o1.v AS x, o2.v AS y "
            "  FROM ori o1 JOIN ori o2 ON o1.u = o2.u "
            "  WHERE o1.rv < o2.rv OR (o1.rv = o2.rv AND o1.v < o2.v)), "
            "tri AS (SELECT w.u, w.x, w.y FROM w "
            "  JOIN ori t ON w.x = t.u AND w.y = t.v), "
            "pn AS (SELECT node, COUNT(*) AS n FROM ("
            "  SELECT u AS node FROM tri "
            "  UNION ALL SELECT x FROM tri "
            "  UNION ALL SELECT y FROM tri) GROUP BY node) "
            "SELECT deg.node, CAST(deg.deg AS BIGINT) AS degree, "
            "CAST(COALESCE(pn.n, 0) AS BIGINT) AS n_triangles "
            "FROM deg LEFT JOIN pn ON deg.node = pn.node"
        ),
        "label_agreement": (
            # identical panel construction + Fleiss arithmetic; AVG
            # grouping-order ulps land inside 6-sig-fig rounding
            "WITH base AS (SELECT doc_id AS d, doc_id % 3 AS b "
            "  FROM documents), "
            "r AS (SELECT d AS item, b AS l FROM base "
            "  UNION ALL SELECT d, CASE WHEN d % 5 = 0 THEN (b+1) % 3 "
            "    ELSE b END FROM base "
            "  UNION ALL SELECT d, CASE WHEN (d*2+1) % 5 = 0 "
            "    THEN (b+1) % 3 ELSE b END FROM base "
            "  UNION ALL SELECT d, b FROM base WHERE d % 17 = 0), "
            "lab AS (SELECT item, ['A','B','C'][CAST(l + 1 AS INTEGER)] "
            "  AS label FROM r), "
            "cell AS (SELECT item, label, COUNT(*) AS nij FROM lab "
            "  GROUP BY item, label), "
            "pi AS (SELECT item, SUM(nij) AS n, "
            "  SUM(nij * (nij - 1)) AS agree FROM cell GROUP BY item), "
            "keep AS (SELECT * FROM pi WHERE n = 3), "
            "exc AS (SELECT COUNT(*) AS ne FROM pi WHERE n <> 3), "
            "marg AS (SELECT label, SUM(nij) AS cnt FROM cell "
            "  JOIN keep ON cell.item = keep.item GROUP BY label), "
            "m AS (SELECT COUNT(*) AS n_categories, "
            "  SUM(cnt * cnt) AS sq, SUM(cnt) AS tot FROM marg), "
            "k AS (SELECT CAST(COUNT(*) AS BIGINT) AS n_items, "
            "  AVG(CAST(agree AS DOUBLE) / 6.0) AS p_bar FROM keep) "
            "SELECT k.n_items, CAST(exc.ne AS BIGINT) AS n_excluded, "
            "CAST(m.n_categories AS BIGINT) AS n_categories, "
            "k.p_bar, "
            "CAST(m.sq AS DOUBLE) / (CAST(m.tot AS DOUBLE) * "
            "  CAST(m.tot AS DOUBLE)) AS p_e, "
            "CASE WHEN CAST(m.sq AS DOUBLE) / (CAST(m.tot AS DOUBLE) * "
            "  CAST(m.tot AS DOUBLE)) < 1.0 THEN "
            "  (k.p_bar - CAST(m.sq AS DOUBLE) / (CAST(m.tot AS DOUBLE) "
            "    * CAST(m.tot AS DOUBLE))) / (1.0 - CAST(m.sq AS DOUBLE) "
            "    / (CAST(m.tot AS DOUBLE) * CAST(m.tot AS DOUBLE))) "
            "  END AS kappa "
            "FROM k, exc, m"
        ),
        "pareto_select": (
            # independent formulation: the skyline DEFINITION as a
            # correlated NOT EXISTS dominance scan (the Spark op uses
            # two-level grouping + a strictly-before window)
            "WITH m AS (SELECT doc_id, "
            "  doc_id * 7 % 50 AS quality, "
            "  doc_id * 13 % 40 AS cost FROM documents) "
            "SELECT m.doc_id, m.quality, m.cost, "
            "CAST(NOT EXISTS (SELECT 1 FROM m s "
            "  WHERE s.cost <= m.cost AND s.quality >= m.quality "
            "  AND (s.cost < m.cost OR s.quality > m.quality)) "
            "  AS INTEGER) AS on_frontier "
            "FROM m"
        ),
        "edit_join": (
            # independent formulation: brute-force levenshtein over all
            # ordered pairs (the Spark op blocks via symmetric-deletion
            # neighborhoods and verifies candidates only)
            "WITH t AS (SELECT doc_id, "
            "  CASE CAST(doc_id % 3 AS INTEGER) "
            "  WHEN 0 THEN 'item' || CAST(doc_id // 3 AS VARCHAR) "
            "  WHEN 1 THEN 'item' || CAST(doc_id // 3 AS VARCHAR) || 'x' "
            "  ELSE 'j' || substr('item' || CAST(doc_id // 3 AS VARCHAR), 2) "
            "  END AS s FROM documents) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "CAST(levenshtein(a.s, b.s) AS INTEGER) AS dist "
            "FROM t a JOIN t b ON a.doc_id < b.doc_id "
            "WHERE levenshtein(a.s, b.s) <= 1"
        ),
        "kcore": (
            # identical peel recurrence unrolled 8 rounds + the same
            # one-more-round convergence check
            "WITH raw AS (SELECT 'g' || CAST(doc_id % 25 AS VARCHAR) "
            "    AS a, 'g' || CAST((doc_id*3+7) % 25 AS VARCHAR) AS b "
            "  FROM documents WHERE doc_id < 60), "
            "e AS (SELECT a, b FROM raw WHERE a <> b), "
            "und AS (SELECT DISTINCT a, b FROM ("
            "  SELECT a, b FROM e UNION ALL SELECT b, a FROM e)), "
            "deg AS (SELECT a AS node, COUNT(*) AS deg FROM und "
            "  GROUP BY a), "
            "a0 AS (SELECT node FROM deg WHERE deg >= 4), "
            + " ".join(
                f"a{r} AS (SELECT u.a AS node FROM und u "
                f"JOIN a{r-1} x ON u.a = x.node "
                f"JOIN a{r-1} y ON u.b = y.node "
                "GROUP BY u.a HAVING COUNT(*) >= 4),"
                for r in range(1, 9)
            )
            + " nxt AS (SELECT u.a AS node FROM und u "
            "  JOIN a8 x ON u.a = x.node JOIN a8 y ON u.b = y.node "
            "  GROUP BY u.a HAVING COUNT(*) >= 4) "
            "SELECT deg.node, CAST(deg.deg AS BIGINT) AS degree, "
            "CAST(CASE WHEN m.node IS NOT NULL THEN 1 ELSE 0 END "
            "  AS INTEGER) AS in_core, "
            "CAST((SELECT COUNT(*) FROM nxt) = "
            "  (SELECT COUNT(*) FROM a8) AS INTEGER) AS converged "
            "FROM deg LEFT JOIN a8 m ON deg.node = m.node"
        ),
        "retrieval_eval": (
            # identical run construction + metric arithmetic; ideal DCG
            # is the constant 10-term sum (n_gold >= 10 by construction
            # on both sides)
            "WITH res AS (SELECT 'q' || CAST(doc_id % 10 AS VARCHAR) "
            "    AS query_id, 'd' || CAST(doc_id AS VARCHAR) AS doc, "
            "  CAST(doc_id // 10 + 1 AS INTEGER) AS rank "
            "  FROM documents), "
            "g AS (SELECT DISTINCT 'q' || CAST(doc_id % 10 AS VARCHAR) "
            "    AS query_id, 'd' || CAST(doc_id AS VARCHAR) AS doc "
            "  FROM documents WHERE doc_id % 3 = 0), "
            "ng AS (SELECT query_id, CAST(COUNT(*) AS BIGINT) AS n_gold "
            "  FROM g GROUP BY query_id), "
            "h AS (SELECT res.query_id, rank FROM res "
            "  JOIN g ON res.query_id = g.query_id AND res.doc = g.doc), "
            "pq AS (SELECT query_id, "
            "  CAST(SUM(CASE WHEN rank <= 10 THEN 1 ELSE 0 END) "
            "    AS BIGINT) AS nh, "
            "  MIN(rank) AS fr, "
            "  SUM(CASE WHEN rank <= 10 THEN 1.0 / log2(rank + 1.0) "
            "    ELSE 0 END) AS dcg FROM h GROUP BY query_id), "
            "ideal AS (SELECT SUM(1.0 / log2(i + 1.0)) AS idcg "
            "  FROM generate_series(1, 10) t(i)) "
            "SELECT ng.query_id, ng.n_gold, "
            "COALESCE(pq.nh, 0) AS n_hits_at_k, "
            "CAST(COALESCE(pq.nh, 0) AS DOUBLE) / ng.n_gold "
            "  AS recall_at_k, "
            "CAST(COALESCE(pq.nh, 0) AS DOUBLE) / 10.0 "
            "  AS precision_at_k, "
            "CASE WHEN pq.fr IS NOT NULL THEN 1.0 / pq.fr ELSE 0.0 END "
            "  AS mrr, "
            "COALESCE(pq.dcg, 0.0) / (SELECT idcg FROM ideal) "
            "  AS ndcg_at_k "
            "FROM ng LEFT JOIN pq ON ng.query_id = pq.query_id"
        ),
        "hll_rollup": (
            # hll_distinct's replay + the monoid merge: '(total)'
            # registers are groupBy(idx) max over the per-lang sketch
            "WITH toks AS (SELECT lang, unnest(list_filter("
            "  regexp_split_to_array(trim(lower(text)), '\\s+'), "
            "  x -> x <> '')) AS token FROM documents), "
            "h AS (SELECT lang, "
            "  CAST(('0x' || substr(md5(token), 1, 8)) AS BIGINT) AS hv "
            "  FROM toks), "
            "r AS (SELECT lang, hv >> 24 AS idx, "
            "  CASE WHEN (hv & 16777215) = 0 THEN 25 "
            "  ELSE 25 - length(bin(hv & 16777215)) END AS rho FROM h), "
            "sk AS (SELECT lang, idx, MAX(rho) AS rho FROM r "
            "  GROUP BY 1, 2), "
            "skall AS (SELECT lang, idx, rho FROM sk "
            "  UNION ALL SELECT '(total)', idx, MAX(rho) FROM sk "
            "  GROUP BY idx), "
            "ag AS (SELECT lang, SUM(power(2.0, -rho)) AS s, "
            "  COUNT(*) AS n FROM skall GROUP BY 1), "
            "e AS (SELECT lang, "
            "  (0.7213 / (1.0 + 1.079 / 256)) * 65536 / "
            "    (s + (256 - n)) AS raw, 256 - n AS v FROM ag), "
            "est AS (SELECT lang, CASE WHEN raw <= 640.0 AND v > 0 "
            "  THEN 256.0 * ln(256.0 / v) ELSE raw END "
            "  AS distinct_est FROM e), "
            "ex AS (SELECT lang, CAST(COUNT(DISTINCT token) AS BIGINT) "
            "  AS distinct_exact FROM toks GROUP BY 1 "
            "  UNION ALL SELECT '(total)', "
            "  CAST(COUNT(DISTINCT token) AS BIGINT) FROM toks) "
            "SELECT est.lang, est.distinct_est, ex.distinct_exact "
            "FROM est JOIN ex ON est.lang = ex.lang"
        ),
        "cdc_dedup": (
            # the planted invariants written directly: per doc_id%40
            # group — identical bytes — exactly ONE distinct chunk
            # sequence, lengths partition the 1024-byte blob, max_size
            # respected on every chunk (boundary positions themselves
            # are pinned by the pytest resync suite, not SQL)
            "SELECT CAST(doc_id % 40 AS BIGINT) AS grp, "
            "CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "CAST(1 AS BIGINT) AS n_seqs, "
            "CAST(1024 AS BIGINT) AS blob_bytes_min, "
            "CAST(1024 AS BIGINT) AS blob_bytes_max, "
            "CAST(1 AS INTEGER) AS max_size_ok "
            "FROM documents GROUP BY doc_id % 40"
        ),
        "span_diff": (
            # expected verdicts straight from the d%5 mutation plan:
            # 0 identical; 1 text change at seq1; 2 seq2 removed;
            # 3 seq3 added; 4 kind change at seq0 + seq3 added
            "WITH c AS (SELECT doc_id, CAST(doc_id % 5 AS INTEGER) AS m "
            "  FROM documents) "
            "SELECT doc_id, "
            "CAST(CASE m WHEN 0 THEN 3 WHEN 1 THEN 2 WHEN 2 THEN 2 "
            "  WHEN 3 THEN 3 ELSE 2 END AS BIGINT) AS n_same, "
            "CAST(CASE WHEN m IN (1, 4) THEN 1 ELSE 0 END AS BIGINT) "
            "  AS n_changed, "
            "CAST(CASE WHEN m IN (3, 4) THEN 1 ELSE 0 END AS BIGINT) "
            "  AS n_added, "
            "CAST(CASE WHEN m = 2 THEN 1 ELSE 0 END AS BIGINT) "
            "  AS n_removed, "
            "CAST(CASE WHEN m = 0 THEN 1 ELSE 0 END AS INTEGER) "
            "  AS identical, "
            "CAST(CASE m WHEN 1 THEN 1 WHEN 2 THEN 2 WHEN 3 THEN 3 "
            "  WHEN 4 THEN 0 END AS INTEGER) AS first_div_seq "
            "FROM c"
        ),
        "tokenizer_fertility": (
            # identical token regex (text_quality precedent), char
            # length, and strlen byte length; exact-int sums divide
            # identically in double
            "WITH t AS (SELECT lang, COALESCE(text, '') AS tx "
            "  FROM documents), "
            "per AS (SELECT lang, CAST(COUNT(*) AS BIGINT) AS n_docs, "
            "  CAST(SUM(len(regexp_extract_all(tx, "
            "    '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+'))) AS BIGINT) "
            "    AS n_tokens, "
            "  CAST(SUM(length(tx)) AS BIGINT) AS n_chars, "
            "  CAST(SUM(strlen(tx)) AS BIGINT) AS n_bytes "
            "  FROM t GROUP BY lang) "
            "SELECT lang, n_docs, n_tokens, n_chars, n_bytes, "
            "CASE WHEN n_tokens > 0 THEN "
            "  CAST(n_chars AS DOUBLE) / n_tokens END AS chars_per_token, "
            "CASE WHEN n_tokens > 0 THEN "
            "  CAST(n_bytes AS DOUBLE) / n_tokens END AS bytes_per_token, "
            "CAST(n_tokens AS DOUBLE) / n_docs AS tokens_per_doc "
            "FROM per"
        ),
        "markov_transitions": (
            # identical lead window (ts, event_id ordering) + '(end)'
            # absorbing state + per-cur_type normalizer
            "WITH p AS (SELECT event_type AS cur_type, "
            "  COALESCE(LEAD(event_type) OVER ("
            "    PARTITION BY user_id ORDER BY ts ASC, event_id ASC), "
            "    '(end)') AS next_type FROM events), "
            "c AS (SELECT cur_type, next_type, "
            "  CAST(COUNT(*) AS BIGINT) AS n FROM p "
            "  GROUP BY cur_type, next_type) "
            "SELECT cur_type, next_type, n, "
            "CAST(n AS DOUBLE) / SUM(n) OVER (PARTITION BY cur_type) "
            "  AS p "
            "FROM c"
        ),
        "reliability_bins": (
            # identical score/label construction, bucket floor (same
            # IEEE double multiply), and per-bin averages
            "WITH s AS (SELECT "
            "  CAST(doc_id * 13 % 100 AS DOUBLE) / 100.0 AS score, "
            "  CAST(doc_id * 7 % 100 < doc_id * 13 % 100 AS INTEGER) "
            "    AS label FROM documents), "
            "b AS (SELECT LEAST(GREATEST(CAST(FLOOR(score * 10) "
            "    AS INTEGER), 0), 9) AS bin, score, label FROM s) "
            "SELECT bin, CAST(bin AS DOUBLE) / 10 AS bin_lo, "
            "CAST(COUNT(*) AS BIGINT) AS n, "
            "AVG(score) AS mean_score, "
            "AVG(CAST(label AS DOUBLE)) AS frac_positive, "
            "AVG(score) - AVG(CAST(label AS DOUBLE)) AS gap "
            "FROM b GROUP BY bin"
        ),
        "weighted_sample": (
            # identical md5 uniform ((hex13-as-int + 0.5) / 2^52 —
            # both steps exact in binary64), identical weight
            # expression and exclusion, identical A-ES pow ordering;
            # pow's last ulp is not emitted, only the selected set
            "WITH w AS (SELECT doc_id, text, lang, source, n_chars, "
            "  (CAST(CAST(CONCAT('0x', SUBSTRING(md5(CONCAT('aes:', "
            "    CAST(doc_id AS VARCHAR))), 1, 13)) AS BIGINT) "
            "    AS DOUBLE) + 0.5) / 4503599627370496.0 AS u "
            "  FROM documents "
            "  WHERE n_chars IS NOT NULL AND n_chars % 101 - 3 > 0) "
            "SELECT doc_id, text, lang, source, n_chars, u FROM w "
            "ORDER BY POW(u, 1.0 / CAST(n_chars % 101 - 3 AS DOUBLE)) "
            "  DESC, doc_id ASC LIMIT 200"
        ),
        "skew_join": (
            # the PLAIN unsalted join: salted_join must be
            # row-identical to it (salt spreads reducers, never rows)
            "WITH dim AS (SELECT event_type, "
            "  CAST(LENGTH(event_type) AS INTEGER) AS type_len "
            "  FROM (SELECT DISTINCT event_type FROM events)), "
            "j AS (SELECT e.event_id, e.user_id, e.event_type, "
            "  d.type_len FROM events e "
            "  JOIN dim d USING (event_type)) "
            "SELECT event_type, type_len, "
            "CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(user_id % 7) AS BIGINT) AS sum_uid_mod7 "
            "FROM j GROUP BY event_type, type_len"
        ),
        "quantile_rollup": (
            # identical integer binning (trunc div — values
            # non-negative so trunc == floor), cumulative window,
            # and ceil(q*total) bin selection
            "WITH h AS (SELECT LEAST(GREATEST("
            "    CAST(n_chars AS BIGINT) // 8, 0), 127) AS bin, "
            "  CAST(COUNT(*) AS BIGINT) AS n FROM documents "
            "  WHERE n_chars IS NOT NULL GROUP BY 1), "
            "c AS (SELECT bin, n, "
            "  CAST(SUM(n) OVER (ORDER BY bin "
            "    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, "
            "  CAST(SUM(n) OVER () AS BIGINT) AS total FROM h), "
            "q AS (SELECT CAST(UNNEST([0.5, 0.9, 0.99]) AS DOUBLE) "
            "  AS q), "
            "sel AS (SELECT q.q AS q, MIN(c.bin) AS bin, "
            "  MAX(c.total) AS total FROM q, c "
            "  WHERE c.cum >= CAST(CEIL(q.q * c.total) AS BIGINT) "
            "  GROUP BY q.q) "
            "SELECT q, CAST(bin AS INTEGER) AS bin, "
            "CAST(bin AS BIGINT) * 8 AS value_lo, "
            "CAST(bin + 1 AS BIGINT) * 8 AS value_hi, total FROM sel"
        ),
        "frequent_pairs": (
            # identical tokenize / df band / canonical-order self-join
            # / pair count; dice spelled with the same cast order
            "WITH toks AS (SELECT doc_id, "
            "  UNNEST(list_distinct(regexp_extract_all("
            "    lower(COALESCE(text, '')), '[a-z]{3,}'))) AS token "
            "  FROM documents), "
            "tot AS (SELECT CAST(COUNT(*) AS BIGINT) AS n "
            "  FROM documents WHERE text IS NOT NULL), "
            "items AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df "
            "  FROM toks GROUP BY token "
            "  HAVING COUNT(*) >= 2 AND COUNT(*) <= "
            "    (SELECT CAST(FLOOR(0.95 * n) AS BIGINT) FROM tot)), "
            "kept AS (SELECT t.doc_id, t.token, i.df FROM toks t "
            "  JOIN items i USING (token)), "
            "p AS (SELECT a.token AS t1, b.token AS t2, a.df AS df1, "
            "  b.df AS df2, CAST(COUNT(*) AS BIGINT) AS n_docs "
            "  FROM kept a JOIN kept b ON a.doc_id = b.doc_id "
            "    AND a.token < b.token "
            "  GROUP BY 1, 2, 3, 4 HAVING COUNT(*) >= 50) "
            "SELECT t1, t2, n_docs, df1, df2, "
            "(CAST(2.0 AS DOUBLE) * CAST(n_docs AS DOUBLE)) "
            "  / CAST(df1 + df2 AS DOUBLE) AS dice FROM p"
        ),
        "assign_ids": (
            # the DEFINITION the two-pass bucketed assignment must
            # equal: global rank in key order, split-point invariant
            "SELECT doc_id, "
            "n_chars * 1048576 + doc_id AS sortkey, "
            "CAST(ROW_NUMBER() OVER (ORDER BY "
            "  n_chars * 1048576 + doc_id) - 1 AS BIGINT) AS new_id "
            "FROM documents"
        ),
        "vocab_rank": (
            # the DEFINITION the sample-bucketed composite rank must
            # equal: global row_number over (df, token), boundary
            # invariant; identical token spelling to the Spark side
            "WITH toks AS (SELECT DISTINCT doc_id, t.token FROM ("
            "  SELECT doc_id, unnest(regexp_extract_all(lower("
            "    COALESCE(text, '')), '[a-z0-9]{2,}')) AS token "
            "  FROM documents) t), "
            "v AS (SELECT token, CAST(COUNT(*) AS BIGINT) AS df "
            "  FROM toks GROUP BY token) "
            "SELECT token, df, CAST(ROW_NUMBER() OVER ("
            "  ORDER BY df, token) AS BIGINT) AS rank FROM v"
        ),
        "containment_join": (
            # planted excerpt (first half of words, min 3) — identical
            # slice semantics ([1:k] == Spark slice(w,1,k)), identical
            # shingle spelling as dedup_ngram_jaccard's oracle
            "WITH base AS (SELECT doc_id, text FROM documents), "
            "exc AS (SELECT doc_id + 1000000 AS doc_id, "
            "  array_to_string(w[1:greatest(len(w) // 2, 3)], ' ') "
            "  AS text FROM (SELECT doc_id, string_split(text, ' ') "
            "  AS w FROM base)), "
            "uni AS (SELECT * FROM base UNION ALL SELECT * FROM exc), "
            "sh AS (SELECT doc_id, list_distinct("
            "  [array_to_string(w[i:i+2], ' ') "
            "   FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) "
            "  AS s FROM (SELECT doc_id, string_split(text, ' ') AS w "
            "  FROM uni)) "
            "SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "  / len(a.s), 9) AS containment_a, "
            "round(CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "  / len(b.s), 9) AS containment_b, "
            "round(greatest("
            "  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(a.s), "
            "  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) / len(b.s)"
            "), 9) AS containment "
            "FROM sh a JOIN sh b ON b.doc_id = a.doc_id + 1000000"
        ),
        "score_percentiles": (
            # identical binning, windowed CDF over the (lang, bin)
            # histogram, and per-row band divisions
            "WITH b AS (SELECT doc_id, lang, n_chars, "
            "  LEAST(GREATEST(CAST(n_chars AS BIGINT) // 8, 0), 127) "
            "  AS bin FROM documents WHERE n_chars IS NOT NULL), "
            "h AS (SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS n "
            "  FROM b GROUP BY 1, 2), "
            "c AS (SELECT lang, bin, n, "
            "  CAST(SUM(n) OVER (PARTITION BY lang ORDER BY bin "
            "    ROWS UNBOUNDED PRECEDING) - n AS BIGINT) AS below, "
            "  CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) "
            "    AS total FROM h) "
            "SELECT b.doc_id, b.lang, b.n_chars, "
            "CAST(b.bin AS INTEGER) AS bin, "
            "CAST(below AS DOUBLE) / total AS pct_lo, "
            "CAST(below + n AS DOUBLE) / total AS pct_hi "
            "FROM b JOIN c ON b.lang = c.lang AND b.bin = c.bin"
        ),
        "skipgram_pairs": (
            # identical positional tokenization (1-based here, 0-based
            # in Spark — only distances matter) and distance band
            "WITH w AS (SELECT doc_id, regexp_extract_all("
            "  lower(COALESCE(text, '')), '[a-z]{3,}') AS ws "
            "  FROM documents), "
            "tok AS (SELECT doc_id, UNNEST([{'t': ws[i], 'p': i} "
            "  FOR i IN generate_series(1, len(ws))]) AS s FROM w), "
            "t AS (SELECT doc_id, s.t AS token, s.p AS pos FROM tok), "
            "p AS (SELECT a.token AS t1, b.token AS t2, "
            "  CAST(b.pos - a.pos AS INTEGER) AS dist, "
            "  CAST(COUNT(*) AS BIGINT) AS n "
            "  FROM t a JOIN t b ON a.doc_id = b.doc_id "
            "    AND b.pos > a.pos AND b.pos - a.pos <= 2 "
            "  GROUP BY 1, 2, 3) "
            "SELECT t1, t2, dist, n FROM p WHERE n >= 5"
        ),
        "similarity_ivfpq": (
            # planted invariant: rerank covers the probed cells, exact
            # re-rank returns the original as rank-1 (similarity_ivf
            # precedent)
            "SELECT vec_id + 10000000 AS query_id, vec_id AS neighbor_id "
            "FROM embeddings WHERE vec_id < 10"
        ),
        "robust_outliers": (
            # identical histogram medians ((total+1) div 2 target),
            # doubled-unit integer med2/dev2/mad2, and the k*MAD gate
            "WITH b AS (SELECT doc_id, lang, n_chars, LEAST(GREATEST("
            "  CAST(n_chars AS BIGINT) // 8, 0), 127) AS bin "
            "  FROM documents WHERE n_chars IS NOT NULL), "
            "h AS (SELECT lang, bin, CAST(COUNT(*) AS BIGINT) AS n "
            "  FROM b GROUP BY 1, 2), "
            "c AS (SELECT lang, bin, CAST(SUM(n) OVER (PARTITION BY "
            "  lang ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) "
            "  AS cum, CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) "
            "  AS total FROM h), "
            "medb AS (SELECT lang, MIN(bin) AS med_bin FROM c "
            "  WHERE cum >= (total + 1) // 2 GROUP BY lang), "
            "med AS (SELECT lang, CAST((2 * med_bin + 1) * 8 AS BIGINT) "
            "  AS med2 FROM medb), "
            "r AS (SELECT d.doc_id, d.lang, d.n_chars, m.med2, "
            "  ABS(2 * CAST(d.n_chars AS BIGINT) - m.med2) AS dev2 "
            "  FROM documents d JOIN med m ON d.lang = m.lang "
            "  WHERE d.n_chars IS NOT NULL), "
            "h2 AS (SELECT lang, LEAST(GREATEST(dev2 // 16, 0), 127) "
            "  AS bin, CAST(COUNT(*) AS BIGINT) AS n FROM r "
            "  GROUP BY 1, 2), "
            "c2 AS (SELECT lang, bin, CAST(SUM(n) OVER (PARTITION BY "
            "  lang ORDER BY bin ROWS UNBOUNDED PRECEDING) AS BIGINT) "
            "  AS cum, CAST(SUM(n) OVER (PARTITION BY lang) AS BIGINT) "
            "  AS total FROM h2), "
            "madb AS (SELECT lang, MIN(bin) AS mad_bin FROM c2 "
            "  WHERE cum >= (total + 1) // 2 GROUP BY lang), "
            "mad AS (SELECT lang, CAST((mad_bin + 1) * 16 AS BIGINT) "
            "  AS mad2 FROM madb) "
            "SELECT r.doc_id, r.lang, r.n_chars, r.med2, mad.mad2, "
            "r.dev2, CAST(CAST(r.dev2 AS DOUBLE) > CAST(3.0 AS DOUBLE) "
            "  * CAST(GREATEST(mad.mad2, 16) AS DOUBLE) AS INTEGER) "
            "  AS is_outlier "
            "FROM r JOIN mad ON r.lang = mad.lang"
        ),
        "group_sample": (
            # identical md5-ordered window rank, doc_id tie-break
            "WITH r AS (SELECT doc_id, lang, "
            "  CAST(ROW_NUMBER() OVER (PARTITION BY lang ORDER BY "
            "    SUBSTRING(md5(CONCAT('gsample:', "
            "    CAST(doc_id AS VARCHAR))), 1, 8) ASC, doc_id ASC) "
            "  AS INTEGER) AS sample_rank FROM documents) "
            "SELECT doc_id, lang, sample_rank FROM r "
            "WHERE sample_rank <= 20"
        ),
        "join_size": (
            # full CMS inner-product replay: both sketches with the
            # heavy_hitters bucket spelling, per-row inner products
            # over the d-row universe (absent row -> 0), min
            "WITH lk AS (SELECT CAST(event_type AS VARCHAR) AS token "
            "  FROM events), "
            "rk AS (SELECT CAST(event_type AS VARCHAR) AS token "
            "  FROM events WHERE event_id % 10 = 0), "
            "lb AS (SELECT g.i AS r, CAST(('0x' || substr(md5("
            "  CAST(g.i AS VARCHAR) || ':' || token), 1, 8)) AS BIGINT)"
            "  % 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt "
            "  FROM lk, UNNEST(range(0, 4)) AS g(i) GROUP BY 1, 2), "
            "rb AS (SELECT g.i AS r, CAST(('0x' || substr(md5("
            "  CAST(g.i AS VARCHAR) || ':' || token), 1, 8)) AS BIGINT)"
            "  % 1024 AS bucket, CAST(COUNT(*) AS BIGINT) AS cnt "
            "  FROM rk, UNNEST(range(0, 4)) AS g(i) GROUP BY 1, 2), "
            "ip AS (SELECT l.r, SUM(l.cnt * r.cnt) AS ip FROM lb l "
            "  JOIN rb r ON l.r = r.r AND l.bucket = r.bucket "
            "  GROUP BY 1), "
            "uni AS (SELECT g.i AS r FROM UNNEST(range(0, 4)) AS g(i)), "
            "e AS (SELECT CAST(MIN(COALESCE(ip.ip, 0)) AS BIGINT) "
            "  AS est FROM uni LEFT JOIN ip ON ip.r = uni.r) "
            "SELECT e.est, "
            "(SELECT CAST(COUNT(*) AS BIGINT) FROM lk) AS rows_left, "
            "(SELECT CAST(COUNT(*) AS BIGINT) FROM rk) AS rows_right "
            "FROM e"
        ),
        "length_buckets": (
            # identical quantile caps (value_hi - 1 at i/4), clamp,
            # smallest-cap assignment, and integer padding sums
            "WITH h AS (SELECT LEAST(GREATEST("
            "  CAST(n_chars AS BIGINT) // 8, 0), 127) AS bin, "
            "  CAST(COUNT(*) AS BIGINT) AS n FROM documents "
            "  WHERE n_chars IS NOT NULL GROUP BY 1), "
            "c AS (SELECT bin, n, CAST(SUM(n) OVER (ORDER BY bin "
            "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, "
            "  CAST(SUM(n) OVER () AS BIGINT) AS total FROM h), "
            "q AS (SELECT CAST(UNNEST([0.25, 0.5, 0.75, 1.0]) "
            "  AS DOUBLE) AS q), "
            "sel AS (SELECT q.q, MIN(c.bin) AS bin FROM q, c "
            "  WHERE c.cum >= CAST(CEIL(q.q * c.total) AS BIGINT) "
            "  GROUP BY 1), "
            "caps AS (SELECT DISTINCT CAST((bin + 1) * 8 - 1 "
            "  AS BIGINT) AS cap FROM sel), "
            "g AS (SELECT MAX(cap) AS gcap FROM caps), "
            "r AS (SELECT LEAST(CAST(n_chars AS BIGINT), 1023) AS len "
            "  FROM documents WHERE n_chars IS NOT NULL), "
            "asg AS (SELECT len, (SELECT MIN(cap) FROM caps "
            "  WHERE cap >= r.len) AS cap FROM r), "
            "st AS (SELECT cap, CAST(COUNT(*) AS BIGINT) AS n_rows, "
            "  CAST(SUM(cap - len) AS BIGINT) AS pad_tokens, "
            "  CAST(SUM((SELECT gcap FROM g) - len) AS BIGINT) "
            "  AS flat_pad_tokens FROM asg GROUP BY 1) "
            "SELECT cap, n_rows, "
            "CAST(GREATEST(4096 // cap, 1) AS BIGINT) AS batch_size, "
            "CAST((n_rows + GREATEST(4096 // cap, 1) - 1) "
            "  // GREATEST(4096 // cap, 1) AS BIGINT) AS n_batches, "
            "pad_tokens, flat_pad_tokens, "
            "CAST(flat_pad_tokens - pad_tokens AS BIGINT) "
            "  AS saved_tokens FROM st"
        ),
        "scd2_history": (
            # identical lag change detection ((ts, event_id) order,
            # first row always a change), version numbering, lead
            # validity windows
            "WITH o AS (SELECT user_id, ts, event_id, event_type, "
            "  LAG(event_type) OVER (PARTITION BY user_id "
            "    ORDER BY ts, event_id) AS prev, "
            "  ROW_NUMBER() OVER (PARTITION BY user_id "
            "    ORDER BY ts, event_id) AS rn FROM events), "
            "chg AS (SELECT user_id, ts, event_id, event_type FROM o "
            "  WHERE rn = 1 OR event_type IS DISTINCT FROM prev), "
            "v AS (SELECT user_id, event_type, "
            "  CAST(ROW_NUMBER() OVER (PARTITION BY user_id "
            "    ORDER BY ts, event_id) AS INTEGER) AS version_n, "
            "  ts AS valid_from, "
            "  LEAD(ts) OVER (PARTITION BY user_id "
            "    ORDER BY ts, event_id) AS valid_to FROM chg) "
            "SELECT user_id, event_type, version_n, valid_from, "
            "valid_to, CAST(valid_to IS NULL AS INTEGER) AS is_current "
            "FROM v"
        ),
        "quantile_map": (
            # both histogram CDFs + the floor(pct*ref_total)+1 rank
            # lookup, replayed with the established binning spelling
            "WITH s AS (SELECT doc_id, n_chars, LEAST(GREATEST("
            "  CAST(n_chars AS BIGINT) // 8, 0), 127) AS bin "
            "  FROM documents WHERE lang = 'en' "
            "  AND n_chars IS NOT NULL), "
            "sh AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM s "
            "  GROUP BY 1), "
            "sc AS (SELECT bin, CAST(SUM(n) OVER (ORDER BY bin ROWS "
            "  UNBOUNDED PRECEDING) - n AS BIGINT) AS below, "
            "  CAST(SUM(n) OVER () AS BIGINT) AS total FROM sh), "
            "r AS (SELECT LEAST(GREATEST(CAST(n_chars AS BIGINT) // 8, "
            "  0), 127) AS bin FROM documents WHERE lang = 'fr' "
            "  AND n_chars IS NOT NULL), "
            "rh AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS n FROM r "
            "  GROUP BY 1), "
            "rc AS (SELECT bin, CAST(SUM(n) OVER (ORDER BY bin ROWS "
            "  UNBOUNDED PRECEDING) AS BIGINT) AS cum, "
            "  CAST(SUM(n) OVER () AS BIGINT) AS rtotal FROM rh), "
            "j AS (SELECT s.doc_id, s.n_chars, s.bin, "
            "  CAST(sc.below AS DOUBLE) / sc.total AS pct_lo, "
            "  CAST(FLOOR(CAST(sc.below AS DOUBLE) / sc.total * "
            "    (SELECT MAX(rtotal) FROM rc)) AS BIGINT) + 1 "
            "    AS target FROM s JOIN sc ON s.bin = sc.bin) "
            "SELECT j.doc_id, j.n_chars, j.bin, j.pct_lo, "
            "(SELECT MIN(rc.bin) FROM rc WHERE rc.cum >= j.target) "
            "  AS mapped_bin, "
            "CAST(((SELECT MIN(rc.bin) FROM rc WHERE rc.cum >= "
            "  j.target) + 1) * 8 - 1 AS BIGINT) AS mapped_value "
            "FROM j"
        ),
        "containment_pipeline": (
            # planted invariant: every doc's 90%-word-prefix excerpt
            # is banding-recovered (J >= ~0.875 -> per-pair miss
            # <= 7.5e-7) and its prefix shingles are a SUBSET, so
            # containment_b is identically 1.0
            "SELECT doc_id AS id_a, doc_id + 1000000 AS id_b, "
            "CAST(1.0 AS DOUBLE) AS containment_b FROM documents"
        ),
        "set_similarity": (
            # INDEPENDENT brute-force all-pairs shingle-set Jaccard —
            # tests the prefix filter's zero-false-negative guarantee
            # differentially; same integer set sizes -> identical
            # IEEE division; shingle spelling = dedup_ngram_jaccard
            "WITH sh AS (SELECT doc_id, list_distinct("
            "  [array_to_string(w[i:i+2], ' ') "
            "   FOR i IN generate_series(1, greatest(len(w) - 2, 1))]) "
            "  AS s FROM (SELECT doc_id, string_split(text, ' ') AS w "
            "  FROM documents)), "
            "f AS (SELECT doc_id, s FROM sh WHERE len(s) > 0), "
            "p AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, "
            "  CAST(len(list_intersect(a.s, b.s)) AS DOUBLE) "
            "  / len(list_distinct(a.s || b.s)) AS jaccard "
            "  FROM f a JOIN f b ON a.doc_id < b.doc_id) "
            "SELECT id_a, id_b, jaccard FROM p WHERE jaccard >= 0.8"
        ),
        "weighted_draws": (
            # identical cumulative table (key-asc order), md5 uniform,
            # integer target rank, arg_min rank lookup per draw
            "WITH wts AS (SELECT lang AS key, CAST(COUNT(*) AS BIGINT)"
            "  AS w FROM documents GROUP BY 1), "
            "c AS (SELECT key, w, CAST(SUM(w) OVER (ORDER BY key "
            "  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cumw FROM wts), "
            "tot AS (SELECT CAST(SUM(w) AS BIGINT) AS total FROM wts), "
            "d AS (SELECT CAST(UNNEST(range(0, 1000)) AS BIGINT) "
            "  AS draw_id), "
            "t AS (SELECT draw_id, CAST(FLOOR(((CAST(CAST(CONCAT('0x',"
            "  SUBSTRING(md5(CONCAT('draws:', CAST(draw_id AS VARCHAR)"
            "  )), 1, 13)) AS BIGINT) AS DOUBLE) + 0.5) "
            "  / 4503599627370496.0) * (SELECT CAST(total AS DOUBLE) "
            "  FROM tot)) AS BIGINT) + 1 AS target FROM d) "
            "SELECT t.draw_id, (SELECT arg_min(c.key, c.cumw) FROM c "
            "  WHERE c.cumw >= t.target) AS key FROM t"
        ),
        "poisson_bootstrap": _bootstrap_oracle_sql(),
        "bloom_join": (
            # the PLAIN join — bloom_join must be row-identical to it
            # (no false negatives; false positives die in the join)
            "WITH dim AS (SELECT user_id, CAST(COUNT(*) AS BIGINT) "
            "  AS n_ev FROM events WHERE user_id % 97 = 0 "
            "  GROUP BY 1) "
            "SELECT e.event_type, CAST(COUNT(*) AS BIGINT) AS n, "
            "CAST(SUM(d.n_ev) AS BIGINT) AS sum_dim_nev "
            "FROM events e JOIN dim d ON e.user_id = d.user_id "
            "GROUP BY 1"
        ),
        "stream_histogram": (
            # the one-shot full-corpus rollup — the streamed monoid
            # accumulation must land on the identical quantile table
            "WITH h AS (SELECT LEAST(GREATEST("
            "    CAST(n_chars AS BIGINT) // 8, 0), 127) AS bin, "
            "  CAST(COUNT(*) AS BIGINT) AS n FROM documents "
            "  WHERE n_chars IS NOT NULL GROUP BY 1), "
            "c AS (SELECT bin, n, "
            "  CAST(SUM(n) OVER (ORDER BY bin "
            "    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum, "
            "  CAST(SUM(n) OVER () AS BIGINT) AS total FROM h), "
            "q AS (SELECT CAST(UNNEST([0.5, 0.9, 0.99]) AS DOUBLE) "
            "  AS q), "
            "sel AS (SELECT q.q AS q, MIN(c.bin) AS bin, "
            "  MAX(c.total) AS total FROM q, c "
            "  WHERE c.cum >= CAST(CEIL(q.q * c.total) AS BIGINT) "
            "  GROUP BY q.q) "
            "SELECT q, CAST(bin AS INTEGER) AS bin, "
            "CAST(bin AS BIGINT) * 8 AS value_lo, "
            "CAST(bin + 1 AS BIGINT) * 8 AS value_hi, total FROM sel"
        ),
    }


def entry(spark: SparkSession) -> DataFrame:
    """Flagship: full salted/bucketed extraction pipeline on sf0.001."""
    from fuzi_spark.pipeline import run_extraction_pipeline

    sf_dir = "/root/testdata/sf0.001"
    docs = _docs(spark, sf_dir).select(
        F.col("doc_id").cast("string").alias("doc_id"),
        F.array(
            F.struct(
                F.lit("text").alias("kind"),
                _html_markup().alias("text"),
                F.lit(None).cast("string").alias("media_ref"),
                F.lit(0).alias("offset"),
            )
        ).alias("spans"),
    )
    extracted, lineage = run_extraction_pipeline(
        spark, docs, output_dir=None, n_buckets=16, num_partitions=8, doc_type="html"
    )
    return extracted.select("doc_id", "seq", "kind", "text", "media_ref", "offset")
