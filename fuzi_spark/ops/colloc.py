"""PMI collocations: statistically-bound adjacent word pairs.

Corpus curation uses collocation mining to surface boilerplate
phrases ("all rights reserved"), multi-word entities worth protecting
from tokenizer splits, and template fragments that survive per-doc
dedup. PMI(a,b) = ln(p(ab) / (p(a)p(b))) over adjacent-bigram events:
how much more often b follows a than independence predicts.

Spark shape — ONE corpus scan, vocab-sized everything after:

- tokenize in codegen (lower/trim/split — the repo's oracle-portable
  token convention), then build ONE per-doc entry array holding both
  the unigram entries (kind 0) and the zip_with-sliced adjacent
  bigram entries (kind 1), so a SINGLE explode + groupBy(kind, w1,
  w2) counts both tables in one pass. Splitting unigram and bigram
  counting into two aggregations would re-scan the corpus per branch
  (column pruning differentiates the scans, so exchange reuse cannot
  collapse them — the same trap ops/behavior.py documents).
- the reduced counts frame is scoped_persist()ed (ops/cache.py
  contract — vocab-sized, NOT corpus-sized) because three consumers
  need it: the totals aggregate, the bigram side, and the unigram
  side joined twice.
- totals (N tokens, B bigrams) ride a broadcast crossJoin; the two
  word-key joins are vocab-sized sort-merge joins.
- top-n is a global TakeOrdered under a TOTAL order.

Determinism contract: the ranking key is the LIFT ratio — the pure
arithmetic ((n·1.0)·N/c1)·(N/c2)/B, an identical IEEE operation
sequence in any engine — NOT the PMI logarithm: libm ln() may differ
in the last ulp across engines, and a 1-ulp flip at the top-n
boundary would change the selected SET. pmi = ln(lift) is still
emitted (rounded hashing makes ulp noise invisible in the VALUE; it
is only the ORDER that must be ulp-proof). Ties break on (w1, w2).

Reference parity note: no counterpart in the reference —
pipeline-brief scope (corpus statistics), same bucket as ops/bm25.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .cache import scoped_persist
from .textstats import lower_tokens


def collocations(
    docs: DataFrame,
    text_col: str = "text",
    min_count: int = 5,
    top_n: int = 100,
) -> DataFrame:
    """Top-n adjacent-bigram collocations: (w1, w2, n_pair, c1, c2,
    lift, pmi), ranked by exact-arithmetic lift (desc, ties on
    w1/w2), bigrams below `min_count` cut before the joins."""
    toks = lower_tokens(text_col)
    n_ = F.size("_toks")
    uni = F.transform(
        "_toks",
        lambda t: F.struct(
            F.lit(0).alias("kind"), t.alias("w1"), F.lit("").alias("w2")
        ),
    )
    big = F.when(
        n_ >= 2,
        F.zip_with(
            F.slice("_toks", 1, n_ - 1),
            F.slice("_toks", 2, n_ - 1),
            lambda a, b: F.struct(
                F.lit(1).alias("kind"), a.alias("w1"), b.alias("w2")
            ),
        ),
    ).otherwise(
        F.array().cast("array<struct<kind:int,w1:string,w2:string>>")
    )
    counts = scoped_persist(
        docs.select(toks.alias("_toks"))
        .select(F.explode(F.concat(uni, big)).alias("e"))
        .groupBy("e.kind", "e.w1", "e.w2")
        .agg(F.count("*").alias("n"))
    )
    totals = counts.agg(
        F.sum(F.when(F.col("kind") == 0, F.col("n"))).alias("nt"),
        F.sum(F.when(F.col("kind") == 1, F.col("n"))).alias("nb"),
    )
    u = counts.filter(F.col("kind") == 0).select(
        F.col("w1").alias("w"), F.col("n").alias("c")
    )
    bi = counts.filter(
        (F.col("kind") == 1) & (F.col("n") >= int(min_count))
    ).select("w1", "w2", F.col("n").alias("n_pair"))
    j = (
        bi.join(u.select(F.col("w").alias("w1"), F.col("c").alias("c1")), "w1")
        .join(u.select(F.col("w").alias("w2"), F.col("c").alias("c2")), "w2")
        .crossJoin(F.broadcast(totals))
    )
    # identical IEEE op sequence as the oracle: ((n*1.0)*N/c1)*(N/c2)/B
    lift = (
        (F.col("n_pair") * F.lit(1.0)) * F.col("nt") / F.col("c1")
    ) * (F.col("nt") / F.col("c2")) / F.col("nb")
    return (
        j.select(
            "w1",
            "w2",
            "n_pair",
            "c1",
            "c2",
            lift.alias("lift"),
            F.log(lift).alias("pmi"),
        )
        .orderBy(F.col("lift").desc(), "w1", "w2")
        .limit(int(top_n))
    )
