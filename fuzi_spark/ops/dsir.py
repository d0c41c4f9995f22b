"""DSIR — Data Selection via Importance Resampling (Xie et al., 2023,
arXiv:2302.03169) as pure Catalyst dataflow.

The published recipe for "make the crawl look like the target corpus":
featurize every document into hashed n-gram counts, fit two bag-of-
words distributions — p over the TARGET sample, q over the RAW pool —
score each raw document with the importance log-weight

    log w(d) = sum_{feature f in d} [ ln p(bucket(f)) - ln q(bucket(f)) ]

and resample without replacement proportionally to w via the Gumbel
top-k trick.  Documents whose hashed-n-gram profile resembles the
target (books, wiki, curated reference text) float up; boilerplate-
shaped crawl text sinks.

Design decisions, all oracle-portable (the DuckDB twin recomputes the
identical pipeline end-to-end):

- Features are unigrams + bigrams over the shared tokenizer contract
  (lowercase, split \\s+, drop empty — textstats.vocab_table / lm.py /
  classify.py), hashed into `n_buckets` buckets with the engine-
  portable md5 bucket: ('0x'-prefix 8-hex md5 chars) % B.  md5 is a
  uniformity device, not a security one (sampling.py's argument); both
  engines agree on its value bit-for-bit.
- Both distributions are add-`smoothing` estimates over the SAME fixed
  bucket universe 0..B-1 (a generated `spark.range(B)` spine, not just
  observed buckets), so the log-ratio is total — no unseen-bucket
  special case, which is what keeps the SQL twin an exact mirror.
- Resampling priority is log w + Gumbel(0,1) with the Gumbel uniform
  drawn from the document key's md5 bucket, NOT an RNG — the
  sampling.py determinism contract: re-runs, resumes, and cluster-size
  changes reproduce the identical selected set.

Scale shape (the part that must survive 10^12 docs):
- Bucket counting is explode → ONE map-side-combinable groupBy over
  bucket ids — 10^12·L feature rows reduce to <= B partial pairs per
  task before anything moves.  The ratio table is B rows (metadata-
  sized by construction: B is 10^4-10^5), built from a range spine +
  two broadcastable count joins.
- Scoring joins the exploded features against the BROADCAST ratio
  table, then one doc-keyed aggregation (partial sums map-side) — the
  corpus shuffles exactly once, on doc_id.
- Gumbel top-k is orderBy(limit k) — Spark's TakeOrdered: per-partition
  top-k then a k-sized merge on the driver, never a global sort.

Reference parity note: the reference (kylehughes/Fuzi) has no data-
selection surface — pipeline-brief scope (training-data curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens


def _features(text_col: str):
    """Unigrams ++ bigrams ('w1 w2'), as one array column."""
    toks = lower_tokens(text_col)
    n = F.size(toks)
    bigrams = F.when(
        n >= 2,
        F.zip_with(
            F.slice(toks, 1, n - 1),
            F.slice(toks, 2, n - 1),
            lambda a, b: F.concat(a, F.lit(" "), b),
        ),
    ).otherwise(F.array().cast("array<string>"))
    return F.concat(toks, bigrams)


def _bucket_of(col, n_buckets: int):
    """Engine-portable feature bucket: first 8 md5 hex chars as an
    integer, mod B — DuckDB computes the identical value via
    ('0x' || substr(md5(f), 1, 8))::BIGINT % B."""
    return F.pmod(
        F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint"),
        F.lit(int(n_buckets)),
    )


def doc_buckets(
    df: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10000,
) -> DataFrame:
    """(id_col, bucket:long) — one row per hashed n-gram feature
    OCCURRENCE (duplicates kept: DSIR weights count multiplicity)."""
    feats = _features(text_col)
    return df.select(
        F.col(id_col),
        F.explode(F.transform(feats, lambda f: _bucket_of(f, n_buckets))).alias(
            "bucket"
        ),
    )


def dsir_log_ratios(
    raw: DataFrame,
    target: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10000,
    smoothing: float = 1.0,
) -> DataFrame:
    """Per-bucket importance log-ratio table: (bucket:long,
    log_ratio:double), one row for EVERY bucket 0..B-1.

        log_ratio(b) = ln((cp_b + s) / (tp + s*B))
                     - ln((cq_b + s) / (tq + s*B))

    cp/cq = feature-occurrence counts of bucket b in target/raw, tp/tq
    the corresponding totals.  The totals ride the plan as scalar
    aggregates (a 1-row cross join) — no driver round-trip, so the
    whole table is a single lazy plan the caller can broadcast."""
    s = float(smoothing)
    b = int(n_buckets)
    spark = raw.sparkSession
    q_counts = (
        doc_buckets(raw, text_col, id_col, b)
        .groupBy("bucket")
        .agg(F.count("*").alias("cq"))
    )
    p_counts = (
        doc_buckets(target, text_col, id_col, b)
        .groupBy("bucket")
        .agg(F.count("*").alias("cp"))
    )
    q_tot = q_counts.agg(F.sum("cq").alias("tq"))
    p_tot = p_counts.agg(F.sum("cp").alias("tp"))
    spine = spark.range(b).select(F.col("id").alias("bucket"))
    return (
        spine.join(q_counts, "bucket", "left")
        .join(p_counts, "bucket", "left")
        .crossJoin(q_tot)
        .crossJoin(p_tot)
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("cp"), F.lit(0)) + F.lit(s))
                    / (F.coalesce(F.col("tp"), F.lit(0)) + F.lit(s) * F.lit(b))
                )
                - F.log(
                    (F.coalesce(F.col("cq"), F.lit(0)) + F.lit(s))
                    / (F.coalesce(F.col("tq"), F.lit(0)) + F.lit(s) * F.lit(b))
                )
            ).alias("log_ratio"),
        )
    )


def dsir_log_ratios_flagged(
    raw: DataFrame,
    target_flag,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10000,
    smoothing: float = 1.0,
) -> DataFrame:
    """`dsir_log_ratios` fast path for the common case where the
    target sample is a SUBSET of the raw pool, identified by a boolean
    column expression `target_flag`: both bucket distributions come
    out of ONE featurize pass (one explode + one groupBy with a
    flag-conditional second count) instead of two full passes over
    overlapping data — same values bit-for-bit (the counts are the
    same counts), half the scan/hash work. Use the two-DataFrame form
    when the target is a different corpus."""
    s = float(smoothing)
    b = int(n_buckets)
    spark = raw.sparkSession
    feats = _features(text_col)
    fb = raw.select(
        target_flag.alias("_tf"),
        F.explode(
            F.transform(feats, lambda f: _bucket_of(f, b))
        ).alias("bucket"),
    )
    counts = fb.groupBy("bucket").agg(
        F.count("*").alias("cq"),
        F.sum(F.when(F.col("_tf"), 1).otherwise(0)).alias("cp"),
    )
    tot = counts.agg(
        F.sum("cq").alias("tq"), F.sum("cp").alias("tp")
    )
    spine = spark.range(b).select(F.col("id").alias("bucket"))
    return (
        spine.join(counts, "bucket", "left")
        .crossJoin(tot)
        .select(
            "bucket",
            (
                F.log(
                    (F.coalesce(F.col("cp"), F.lit(0)) + F.lit(s))
                    / (F.coalesce(F.col("tp"), F.lit(0)) + F.lit(s) * F.lit(b))
                )
                - F.log(
                    (F.coalesce(F.col("cq"), F.lit(0)) + F.lit(s))
                    / (F.coalesce(F.col("tq"), F.lit(0)) + F.lit(s) * F.lit(b))
                )
            ).alias("log_ratio"),
        )
    )


def dsir_weights(
    df: DataFrame,
    ratios: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n_buckets: int = 10000,
) -> DataFrame:
    """Score every document of `df` against a `dsir_log_ratios` table:
    (id_col, n_feats:long, log_weight:double).  Documents with no
    features (empty/whitespace text) keep n_feats=0 and a NULL
    log_weight — total, never a crash, and the caller decides their
    fate (dsir_sample treats NULL as weight 0)."""
    fb = doc_buckets(df, text_col, id_col, n_buckets)
    scored = (
        fb.join(F.broadcast(ratios), "bucket")
        .groupBy(id_col)
        .agg(
            F.count("*").alias("n_feats"),
            F.sum("log_ratio").alias("log_weight"),
        )
    )
    return (
        df.select(id_col)
        .join(scored, id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("n_feats"), F.lit(0)).cast("long").alias(
                "n_feats"
            ),
            F.col("log_weight"),
        )
    )


def dsir_sample(
    weights: DataFrame,
    k: int,
    id_col: str = "doc_id",
    salt: str = "dsir-gumbel",
) -> DataFrame:
    """Gumbel top-k resampling without replacement, proportional to the
    importance weights (Vieira 2014's trick, as the DSIR paper uses):
    priority = log_weight + Gumbel(0,1), take the k largest.

    The Gumbel uniform is content-stable — u = (h + 0.5) / 2^32 with h
    the document key's 8-hex md5 bucket (salted) — so the selected set
    is a pure function of (corpus, target, salt, k): the sampling.py
    determinism contract.  +0.5 keeps u strictly inside (0,1), so the
    double -ln(-ln(u)) is always finite.

    Returns (id_col, n_feats, log_weight, priority:double), the k
    highest-priority rows.  orderBy+limit plans as TakeOrdered —
    per-partition top-k, k-row merge; no global sort at 10^12 docs."""
    h = F.conv(
        F.substring(
            F.md5(F.concat_ws(":", F.lit(salt), F.col(id_col).cast("string"))),
            1,
            8,
        ),
        16,
        10,
    ).cast("bigint")
    u = (h.cast("double") + F.lit(0.5)) / F.lit(float(1 << 32))
    gumbel = -F.log(-F.log(u))
    pri = F.coalesce(F.col("log_weight"), F.lit(0.0)) + gumbel
    return (
        weights.withColumn("priority", pri)
        .orderBy(F.desc("priority"), F.col(id_col))
        .limit(int(k))
    )
