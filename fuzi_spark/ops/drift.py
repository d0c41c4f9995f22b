"""Per-stratum token-distribution drift: Jensen-Shannon divergence.

Corpus monitoring needs a scalar answer to "does source X's language
look like the rest of the corpus?" — crawl regressions, template
floods, and encoding accidents all show up as unigram-distribution
drift long before they show up in eyeballed samples. The standard
scalar is the Jensen-Shannon divergence between the stratum's token
distribution P and the corpus distribution Q:

    JSD(P||Q) = 0.5 * sum_t [ p ln(2p/(p+q)) ] + 0.5 * sum_t [ q ln(2q/(p+q)) ]

(natural log; bounded by ln 2; symmetric; defined at p=0).

Spark shape — ONE corpus scan, vocab-sized everything after:

- tokenize (the repo's convention) and count (source, token) — the
  single corpus-sized shuffle, map-side combinable;
- corpus totals derive from the per-source counts (vocab-sized
  re-aggregation, NOT a second scan), so the counts frame is
  scoped_persist()ed for its consumers (ops/cache.py contract);
- each (source, token) joins the corpus row for the token and the
  two metadata aggregates (per-source mass, total mass) come in by
  broadcast;
- the q-side sum needs every (token, source) cell INCLUDING p=0
  cells; rather than materializing the dense source x vocab cross
  join, the p=0 mass is folded in algebraically: the full q-side sum
  equals sum over present cells of 0.5*q*ln(2q/(p+q)) plus, for each
  ABSENT cell, 0.5*q*ln(2) — and sum_absent q = 1 - (q-mass of the
  source's present tokens), an aggregate over present cells only.
  The dense cross join never exists at any scale.

Determinism: per-term doubles follow an identical IEEE op sequence in
any engine; term SUMS are float additions whose grouping the engine
chooses, so jsd is stable to ~1e-12 relative — invisible at the
harness's 6-significant-digit rounding, the same contract every
float-aggregating query in this repo relies on (bm25, lm_perplexity).
jsd is a VALUE column; the output ORDER key is the source string.

Reference parity note: no counterpart in the reference —
pipeline-brief scope (corpus statistics), same bucket as
ops/diagnostics.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import scoped_persist
from .textstats import lower_tokens


def source_drift(
    docs: DataFrame,
    text_col: str = "text",
    group_col: str = "source",
) -> DataFrame:
    """(source, n_tokens, vocab, jsd): unigram JSD of each stratum
    against the whole corpus, ordered by source."""
    toks = lower_tokens(text_col)
    counts = scoped_persist(
        docs.select(F.col(group_col).alias("src"), toks.alias("_toks"))
        .select("src", F.explode("_toks").alias("tok"))
        .groupBy("src", "tok")
        .agg(F.count("*").alias("n"))
    )
    corpus = counts.groupBy("tok").agg(F.sum("n").alias("cn"))
    src_tot = counts.groupBy("src").agg(
        F.sum("n").alias("st"), F.count("*").alias("vocab")
    )
    grand = counts.agg(F.sum("n").alias("gt"))
    p = F.col("n") / F.col("st")
    q = F.col("cn") / F.col("gt")
    m2 = p + q  # 2*mid; ln(2p/(p+q)) spelled exactly this way in SQL
    cell = F.lit(0.5) * (
        p * F.log(F.lit(2.0) * p / m2) + q * F.log(F.lit(2.0) * q / m2)
    )
    per_src = (
        counts.join(corpus, "tok")
        .join(F.broadcast(src_tot), "src")
        .crossJoin(F.broadcast(grand))
        .groupBy("src", "st", "vocab")
        .agg(
            F.sum(cell).alias("present"),
            # q-mass of the tokens this source DOES use: the absent
            # remainder (1 - qmass) carries 0.5*ln(2) per unit of q
            F.sum(q).alias("qmass"),
        )
    )
    return per_src.select(
        F.col("src").alias(group_col),
        F.col("st").alias("n_tokens"),
        "vocab",
        (
            F.col("present")
            + F.lit(0.5) * (F.lit(1.0) - F.col("qmass")) * F.log(F.lit(2.0))
        ).alias("jsd"),
    ).orderBy(group_col)
