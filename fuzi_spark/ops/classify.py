"""Learned document quality classification: multinomial Naive Bayes
as pure Catalyst dataflow.

The industrial web-curation recipe (CCNet, RefinedWeb, DCLM) pairs the
heuristic quality gates with a LEARNED classifier — a cheap linear
model (fastText / logistic / NB over token features) trained on
"trusted corpus vs crawl" labels, whose score decides keep/drop or
mixture bucket. This module is that stage with multinomial NB, chosen
because training IS a count aggregation — the one estimator whose
fit maps exactly onto a map-side-combinable groupBy at 10^12 docs
(no gradient loop, no driver synchronization per step):

    P(label) = n_docs(label) / n_docs
    P(token | label) = (c(token,label) + alpha) / (c(label) + alpha*V)

Model = two DataFrames, corpus-derived but METADATA-sized (the
(token, label) count table and the per-label totals — the lm.py
contract), so scoring broadcasts the model to the corpus, never the
reverse.

Scale shape:
- train_nb: ONE shuffle — the (token, label) count aggregation with
  map-side partial counts; label totals and vocabulary size reduce
  from that same table (no second corpus pass).
- predict_nb: tokenize + explode map-side, one broadcast join against
  the token table per the (token, label) key, one doc-keyed partial
  aggregation, argmax via max_by — zero Python, zero UDFs, exactly one
  corpus shuffle. Documents with no tokens fall back to the prior.
- Unseen tokens take the per-label default log(alpha/(c+alpha*V)) via
  coalesce — total by construction, no special cases, which keeps the
  DuckDB oracle an exact SQL mirror (the lm.py design).

Tokenization matches textstats.vocab_table / lm.py (lowercase, split
\\s+, drop empty) so all learned stages share one contract.

Reference parity note: the reference (kylehughes/Fuzi) has no
classifier surface — pipeline-brief scope (training-data curation).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens


def train_nb(
    labeled: DataFrame,
    text_col: str = "text",
    label_col: str = "label",
    alpha: float = 1.0,
) -> tuple[DataFrame, DataFrame]:
    """Fit multinomial NB. Returns (classes, token_lik):

    classes:   (label, log_prior, log_default) — log_default is the
               unseen-token log-likelihood for that label.
    token_lik: (token, label, log_lik).

    Both are metadata-sized model tables; nothing is collected."""
    toks = labeled.select(
        F.col(label_col).alias("label"),
        F.explode(lower_tokens(text_col)).alias("token"),
    )
    tl = toks.groupBy("token", "label").agg(
        F.count(F.lit(1)).alias("c_tl")
    )
    # label token totals + vocabulary size from the SAME count table —
    # no second pass over the corpus
    totals = tl.groupBy("label").agg(F.sum("c_tl").alias("c_l"))
    vocab = tl.select("token").distinct().count()
    doc_counts = labeled.groupBy(F.col(label_col).alias("label")).agg(
        F.count(F.lit(1)).alias("n_docs")
    )
    n_total = labeled.count()
    classes = doc_counts.join(F.broadcast(totals), "label", "left").select(
        "label",
        F.log(F.col("n_docs") / F.lit(float(n_total))).alias(
            "log_prior"
        ),
        F.log(
            F.lit(alpha)
            / (
                F.coalesce(F.col("c_l"), F.lit(0)).cast("double")
                + F.lit(alpha * vocab)
            )
        ).alias("log_default"),
    )
    token_lik = tl.join(F.broadcast(totals), "label").select(
        "token",
        "label",
        F.log(
            (F.col("c_tl") + F.lit(alpha))
            / (F.col("c_l") + F.lit(alpha * vocab))
        ).alias("log_lik"),
    )
    return classes, token_lik


def predict_nb(
    docs: DataFrame,
    classes: DataFrame,
    token_lik: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Score + argmax: (id_col, pred_label, score, n_tokens). Ties
    break toward the smallest label (deterministic). score is the
    winning unnormalized log-posterior rounded to 4 decimals."""
    toks = docs.select(
        F.col(id_col), F.explode_outer(lower_tokens(text_col)).alias("token")
    )
    # every (doc token) × every class; the classes side is tiny and the
    # token model join is broadcast — one corpus shuffle at the end
    per = (
        toks.crossJoin(F.broadcast(classes))
        .join(
            F.broadcast(token_lik),
            ["token", "label"],
            "left",
        )
        .select(
            id_col,
            "label",
            "log_prior",
            F.when(F.col("token").isNull(), F.lit(0.0))
            .otherwise(
                F.coalesce(F.col("log_lik"), F.col("log_default"))
            )
            .alias("ll"),
            F.when(F.col("token").isNull(), F.lit(0))
            .otherwise(F.lit(1))
            .alias("tk"),
        )
    )
    scores = per.groupBy(id_col, "label", "log_prior").agg(
        F.sum("ll").alias("sum_ll"), F.sum("tk").alias("n_tokens")
    )
    return (
        scores.select(
            id_col,
            "n_tokens",
            F.struct(
                (F.col("log_prior") + F.col("sum_ll")).alias("score"),
                (-F.col("label")).alias("neg_label"),
            ).alias("sl"),
        )
        .groupBy(id_col)
        .agg(
            F.max("sl").alias("best"),
            F.first("n_tokens").alias("n_tokens"),
        )
        .select(
            id_col,
            (-F.col("best.neg_label")).alias("pred_label"),
            F.round(F.col("best.score"), 4).alias("score"),
            F.col("n_tokens").cast("long").alias("n_tokens"),
        )
    )


def nb_quality_filter(
    docs: DataFrame,
    classes: DataFrame,
    token_lik: DataFrame,
    keep_label: int = 0,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """The curation gate: keep docs the classifier assigns keep_label.
    Returns docs' columns + the score (callers thread it into the
    curate DAG's reason codes)."""
    pred = predict_nb(docs, classes, token_lik, text_col, id_col)
    return docs.join(
        pred.filter(F.col("pred_label") == keep_label).select(
            id_col, "score"
        ),
        id_col,
    )


def pr_curve(
    scored: DataFrame,
    thresholds: list,
    label_col: str = "label",
    score_col: str = "score",
) -> DataFrame:
    """Operating-point sweep for a binary quality/safety classifier:
    confusion counts and precision/recall/F1 at each candidate
    threshold — the evidence a gate's cutoff is chosen on (quality
    filters are deployed at a THRESHOLD, and picking it from one
    accuracy number instead of the curve is how corpora silently lose
    recall).

    `scored` carries a {0,1} label column (human ratings or a planted
    eval set) and a real-valued score; a row is predicted positive iff
    score >= threshold. Returns one row per threshold:
    (threshold, tp, fp, fn, tn : long, precision, recall, f1 : double)
    with precision NULL at thresholds nothing clears (0/0), and f1 NULL
    whenever precision is.

    Scale shape: ONE corpus scan exploded by the literal threshold list
    (|T| small — rows scale by |T|, not data volume twice per point),
    then a hash aggregate to |T| rows with map-side partials; every
    predicate is codegen'd. No joins, no window, no driver collect."""
    if not thresholds:
        raise ValueError("thresholds must name at least one cut point")
    t = F.explode(
        F.array(*[F.lit(float(x)) for x in thresholds])
    ).alias("threshold")
    e = scored.select(
        F.col(label_col).cast("int").alias("_y"),
        F.col(score_col).cast("double").alias("_s"),
        t,
    )
    pos = F.col("_s") >= F.col("threshold")
    y1 = F.col("_y") == 1
    cnt = lambda c: F.sum(F.when(c, 1).otherwise(0)).cast("long")  # noqa: E731
    agg = e.groupBy("threshold").agg(
        cnt(pos & y1).alias("tp"),
        cnt(pos & ~y1).alias("fp"),
        cnt(~pos & y1).alias("fn"),
        cnt(~pos & ~y1).alias("tn"),
    )
    tp, fp, fn = F.col("tp"), F.col("fp"), F.col("fn")
    precision = F.when(tp + fp > 0, tp / (tp + fp))
    recall = F.when(tp + fn > 0, tp / (tp + fn))
    f1 = F.when(
        precision.isNotNull() & recall.isNotNull() & (precision + recall > 0),
        2 * precision * recall / (precision + recall),
    )
    return agg.select(
        "threshold", "tp", "fp", "fn", "tn",
        precision.alias("precision"),
        recall.alias("recall"),
        f1.alias("f1"),
    ).orderBy("threshold")


def fleiss_kappa(
    ratings: DataFrame,
    n_raters: int,
    item_col: str = "item",
    rater_col: str = "rater",
    label_col: str = "label",
) -> DataFrame:
    """Fleiss' kappa over (item, rater, label) rows — the label-quality
    gate for human/model-annotated training data: raw percent
    agreement flatters any skewed label set (two raters stamping 95%
    'ok' agree 90.5% by luck alone); kappa subtracts exactly that
    chance floor. Run it per annotation batch before trusting labels
    enough to train or filter on them.

    Classic Fleiss (1971) requires a constant panel size: items with a
    rating count != n_raters (partial batches, double-submits) are
    EXCLUDED and reported, never silently mixed in — a kappa over
    ragged panels answers a different question.

        P_i  = sum_j n_ij (n_ij - 1) / (n (n - 1))   per-item agreement
        Pbar = mean_i P_i;  p_j = marginal share of label j
        Pe   = sum_j p_j^2;  kappa = (Pbar - Pe) / (1 - Pe)

    Returns ONE row: (n_items, n_excluded, n_categories, p_bar, p_e,
    kappa — NULL when Pe = 1, i.e. every rating is one label and
    chance explains everything). Dataflow: one groupBy(item, label)
    count (map-side partials over the rating stream), a per-item fold,
    and two metadata-sized reductions; label marginals shuffle
    |labels| rows. Deterministic up to float addition order."""
    n = int(n_raters)
    if n < 2:
        raise ValueError("fleiss_kappa needs n_raters >= 2")
    cell = (
        ratings.select(
            F.col(item_col).alias("item"), F.col(label_col).alias("label")
        )
        .groupBy("item", "label")
        .agg(F.count("*").alias("nij"))
    )
    per_item = cell.groupBy("item").agg(
        F.sum("nij").alias("_n"),
        F.sum(F.col("nij") * (F.col("nij") - 1)).alias("_agree"),
    )
    keep = per_item.where(F.col("_n") == n)
    kept_cells = cell.join(keep.select("item"), "item", "left_semi")
    marg = kept_cells.groupBy("label").agg(F.sum("nij").alias("_cnt"))
    # one conditional-aggregation pass over per_item covers kept AND
    # excluded counts (avg ignores the NULLs the when() leaves)
    stats = (
        per_item.agg(
            F.count(F.when(F.col("_n") == n, 1)).alias("n_items"),
            F.count(F.when(F.col("_n") != n, 1)).alias("n_excluded"),
            F.avg(
                F.when(
                    F.col("_n") == n,
                    F.col("_agree").cast("double")
                    / F.lit(float(n * (n - 1))),
                )
            ).alias("p_bar"),
        )
        .crossJoin(
            F.broadcast(
                marg.agg(
                    F.count("*").alias("n_categories"),
                    F.sum(F.col("_cnt") * F.col("_cnt")).alias("_sq"),
                    F.sum("_cnt").alias("_tot"),
                )
            )
        )
    )
    pe = F.col("_sq").cast("double") / (
        F.col("_tot").cast("double") * F.col("_tot").cast("double")
    )
    return stats.select(
        F.col("n_items").cast("bigint").alias("n_items"),
        F.col("n_excluded").cast("bigint").alias("n_excluded"),
        F.coalesce(F.col("n_categories"), F.lit(0))
        .cast("bigint")
        .alias("n_categories"),
        F.col("p_bar").alias("p_bar"),
        pe.alias("p_e"),
        F.when(pe < 1.0, (F.col("p_bar") - pe) / (F.lit(1.0) - pe)).alias(
            "kappa"
        ),
    )


def reliability_bins(
    scored: DataFrame,
    n_bins: int = 10,
    score_col: str = "score",
    label_col: str = "label",
) -> DataFrame:
    """Reliability-diagram table for classifier calibration: bucket
    predictions by score and compare each bucket's mean score against
    its observed positive rate. pr_curve answers "can the score RANK"
    (discrimination); this answers "does 0.9 MEAN 90%" (calibration) —
    the property a gate threshold silently assumes when it is chosen
    as a probability rather than tuned on the curve. Expected
    calibration error = sum(n/total * |gap|) over the returned rows.

    One scan, one n_bins-row groupBy with map-side partials. Scores
    outside [0, 1) clamp into the edge bins (score 1.0 lands in the
    top bin, not a phantom n_bins-th bin). Returns (bin int,
    bin_lo double, n bigint, mean_score double, frac_positive double,
    gap double = mean_score - frac_positive)."""
    b = F.floor(F.col(score_col) * n_bins).cast("int")
    b = F.least(F.greatest(b, F.lit(0)), F.lit(n_bins - 1))
    per = (
        scored.select(
            b.alias("bin"),
            F.col(score_col).alias("_s"),
            F.col(label_col).cast("double").alias("_y"),
        )
        .groupBy("bin")
        .agg(
            F.count("*").alias("n"),
            F.avg("_s").alias("mean_score"),
            F.avg("_y").alias("frac_positive"),
        )
    )
    return per.select(
        "bin",
        (F.col("bin").cast("double") / n_bins).alias("bin_lo"),
        F.col("n").cast("bigint").alias("n"),
        "mean_score",
        "frac_positive",
        (F.col("mean_score") - F.col("frac_positive")).alias("gap"),
    )
