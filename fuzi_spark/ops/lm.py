"""N-gram language-model perplexity scoring (the CCNet quality step).

Web-corpus curation's strongest single quality signal is perplexity
under a small LM trained on a trusted reference corpus (CCNet trains
KenLM on Wikipedia and buckets Common Crawl by perplexity tercile).
This module is that step as pure Catalyst dataflow: train add-alpha
bigram counts on a reference DataFrame, score any corpus against them,
filter on the score.

Model = two count tables. They are CORPUS-DERIVED but METADATA-SIZED:
unigrams are the vocabulary (10^5-10^8 rows at web scale) and bigrams
the observed-pair table — both orders of magnitude smaller than a
10^12-doc corpus, so the scoring joins broadcast the model to the data,
never the reverse.

    P(w2 | w1) = (c(w1,w2) + alpha) / (c(w1) + alpha * V)

with c(.) counts from the training corpus and V its vocabulary size.
Total by construction: an unseen context (c(w1)=0, c(w1,w2)=0) scores
the uniform 1/V, an unseen continuation alpha/(c(w1)+alpha*V) — no
special cases, which keeps the DuckDB oracle an exact mirror.
perplexity = exp(-mean log P) over the document's bigrams; documents
with <2 tokens score NULL (no evidence either way — callers decide).

Scale shape of `lm_perplexity`: tokenize + bigram-pairing are one
codegen'd projection (zip of the token array with its own tail — no
self-join, no window); the explode is map-side; both model joins are
broadcast hash joins; the only shuffle is the final doc-keyed partial
aggregation of (sum log P, count). Training is two map-side-combinable
count shuffles, same shape as textstats.vocab_table.

Reference tie-in: tokenization matches ops/textstats.vocab_table
(lowercase, split \\s+, drop empty) so a vocabulary and an LM trained
on the same reference corpus agree on V.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .hof import bind
from .textstats import lower_tokens


def _bigram_pairs(text_col: str):
    """Per-row array of (w1, w2) structs — the token array zipped with
    its own tail, bound once (hof.bind: higher-order lambdas get no CSE,
    unbound the tokenize would run three times per row). NULL when the
    document has fewer than 2 tokens, so explode_outer keeps the row."""

    def mk(toks):
        n = F.size(toks)
        return F.when(
            n >= 2,
            F.zip_with(
                F.slice(toks, 1, n - 1),
                F.slice(toks, 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            ),
        )

    return bind(lower_tokens(text_col), mk)


def train_bigram_lm(
    df: DataFrame, text_col: str = "text"
) -> tuple[DataFrame, DataFrame]:
    """Count tables for an add-alpha bigram LM from a reference corpus.

    Returns (unigrams, bigrams): (token, n:long) and (w1, w2, n:long).
    Each is ONE map-side-combinable shuffle — 10^12*L token rows reduce
    to partial per-key counts inside each task before moving; the
    outputs are metadata-sized next to the corpus (see module note).
    """
    toks = df.select(F.explode(lower_tokens(text_col)).alias("token"))
    unigrams = toks.groupBy("token").agg(F.count("*").alias("n"))
    pairs = df.select(F.explode(_bigram_pairs(text_col)).alias("bg"))
    bigrams = (
        pairs.select("bg.w1", "bg.w2").groupBy("w1", "w2").agg(
            F.count("*").alias("n")
        )
    )
    return unigrams, bigrams


def lm_perplexity(
    df: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    vocab_size: int | None = None,
) -> DataFrame:
    """Per-document perplexity under the add-alpha bigram model.

    Returns one row per input row: (id_col, n_bigrams:long,
    avg_logprob:double, perplexity:double) — NULL score when the
    document has <2 tokens (n_bigrams = 0).

    vocab_size: pass it when known; None triggers ONE driver-side count
    of the metadata-sized unigram table (same guarded-small-query
    contract as similarity.cosine_topk_ivf's centroid collect).

    The model sides are broadcast (they are metadata-sized by the
    module contract); the corpus explodes (id, w1, w2) only — never
    the document text — and reduces back with one doc-keyed partial
    aggregation.
    """
    if vocab_size is None:
        vocab_size = unigrams.count()
    if vocab_size <= 0:
        raise ValueError("empty language model: vocabulary size 0")
    a = float(alpha)
    scored = (
        df.select(F.col(id_col), F.explode_outer(_bigram_pairs(text_col)).alias("bg"))
        .select(id_col, "bg.w1", "bg.w2")
        .join(
            F.broadcast(
                bigrams.select("w1", "w2", F.col("n").alias("_c_bi"))
            ),
            ["w1", "w2"],
            "left",
        )
        .join(
            F.broadcast(
                unigrams.select(
                    F.col("token").alias("w1"), F.col("n").alias("_c_w1")
                )
            ),
            ["w1"],
            "left",
        )
        .withColumn(
            "_logp",
            F.when(
                F.col("w1").isNotNull(),
                F.log(
                    (F.coalesce(F.col("_c_bi"), F.lit(0)) + F.lit(a))
                    / (
                        F.coalesce(F.col("_c_w1"), F.lit(0))
                        + F.lit(a * vocab_size)
                    )
                ),
            ),
        )
    )
    agg = scored.groupBy(id_col).agg(
        F.count("_logp").alias("n_bigrams"),
        F.avg("_logp").alias("avg_logprob"),
    )
    return agg.select(
        id_col,
        F.col("n_bigrams").cast("long").alias("n_bigrams"),
        "avg_logprob",
        F.when(
            F.col("n_bigrams") > 0, F.exp(-F.col("avg_logprob"))
        ).alias("perplexity"),
    )


def perplexity_filter(
    df: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    max_perplexity: float,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    vocab_size: int | None = None,
) -> DataFrame:
    """Keep/drop gate on LM perplexity (CCNet's head/middle cut).

    Adds (n_bigrams, avg_logprob, perplexity, keep:int) to the input
    rows. Documents too short to score (n_bigrams = 0) are KEPT —
    perplexity filtering removes fluent-garbage, absence of evidence
    is not garbage; stack quality_filter's length gate for that.
    """
    ppl = lm_perplexity(
        df, unigrams, bigrams, text_col, id_col, alpha, vocab_size
    )
    joined = df.join(ppl, id_col)
    return joined.withColumn(
        "keep",
        (
            F.col("perplexity").isNull()
            | (F.col("perplexity") <= F.lit(float(max_perplexity)))
        ).cast("int"),
    )


def perplexity_buckets(
    df: DataFrame,
    unigrams: DataFrame,
    bigrams: DataFrame,
    n_buckets: int = 3,
    group_cols: list[str] | None = None,
    text_col: str = "text",
    id_col: str = "doc_id",
    alpha: float = 0.1,
    vocab_size: int | None = None,
) -> DataFrame:
    """CCNet's corpus bucketing (Wenzek et al. 2020, arXiv:1911.00359):
    score every document's perplexity under the reference LM, then
    split the corpus into equal-count buckets at the perplexity
    quantiles — head / middle / tail terciles in the paper, computed
    PER LANGUAGE (pass group_cols=["lang"]); the head bucket is the
    lowest-perplexity (most reference-like) slice.

    Returns one row per input doc:
    (id_col, group_cols..., perplexity, bucket:int, bucket_label) —
    bucket 0 is the head; docs too short to score (perplexity NULL)
    and docs in groups with no scorable member get bucket NULL (no
    evidence either way — callers decide, as in perplexity_filter).
    Cutoff convention: a doc lands in the lowest bucket whose cutoff
    it does not exceed (ppl <= q_i ties DOWN), with cutoff values from
    diagnostics.group_quantiles' exact rank arithmetic. Both ranking
    and comparison run on perplexity ROUNDED to 6 decimals: perplexity
    is an avg of logs whose float summation order is engine-specific,
    so two docs with mathematically equal perplexity (duplicate texts
    — common in the corpora this buckets) can swap rank order across
    engines by one ulp and flip a boundary assignment; comparing at
    fixed granularity makes the boundary itself replayable. The
    emitted perplexity column stays unrounded.

    Scale shape: scoring is lm_perplexity's (broadcast model joins,
    one doc-keyed partial agg); the cutoff table is ONE exact
    per-group quantile pass over doc-level (group, perplexity) rows —
    the group sort is the honest price of exact order statistics
    (swap in percentile_approx when an audit-grade boundary isn't
    required); assignment joins the metadata-sized cutoff table back
    broadcast and buckets with codegen'd comparisons. No corpus
    shuffle beyond the scoring agg and the skinny quantile sort.
    """
    if n_buckets < 2:
        raise ValueError(f"n_buckets must be >= 2, got {n_buckets}")
    from .diagnostics import group_quantiles

    gcols = list(group_cols or [])
    scored = (
        lm_perplexity(
            df, unigrams, bigrams, text_col, id_col, alpha, vocab_size
        )
        .select(id_col, "perplexity")
        .withColumn("_pplr", F.round(F.col("perplexity"), 6))
    )
    if gcols:
        scored = scored.join(df.select(id_col, *gcols), id_col)
    else:
        scored = scored.withColumn("_g", F.lit(0))
    gg = gcols or ["_g"]
    ps = tuple(i / n_buckets for i in range(1, n_buckets))
    labels = [f"q{int(round(p * 100))}" for p in ps]
    cut = group_quantiles(
        scored.filter(F.col("_pplr").isNotNull()),
        "_pplr",
        gg,
        ps=ps,
    )
    assigned = scored.join(
        F.broadcast(cut.select(*gg, *labels)), gg, "left"
    )
    b = F.lit(0)
    for lab in labels:
        b = b + F.when(F.col("_pplr") > F.col(lab), 1).otherwise(0)
    bucket = F.when(
        F.col("_pplr").isNotNull() & F.col(labels[0]).isNotNull(),
        b,
    ).cast("int")
    if n_buckets == 3:
        label = (
            F.when(F.col("bucket") == 0, "head")
            .when(F.col("bucket") == 1, "middle")
            .when(F.col("bucket") == 2, "tail")
        )
    else:
        label = F.when(
            F.col("bucket").isNotNull(),
            F.concat(F.lit("b"), F.col("bucket").cast("string")),
        )
    return (
        assigned.withColumn("bucket", bucket)
        .withColumn("bucket_label", label)
        .select(id_col, *gcols, "perplexity", "bucket", "bucket_label")
    )
