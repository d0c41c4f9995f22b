"""BM25 full-text retrieval over the corpus (Robertson et al., TREC-3;
the Lucene-default scoring function).

Curation pipelines use lexical retrieval constantly: targeted corpus
audits ("show me everything about X"), seed expansion for classifier
training sets, and retrieval-augmented eval-set construction. BM25 is
the standard: tf saturation (k1) + length normalization (b) + the
Lucene idf variant ln(1 + (N - df + 0.5)/(df + 0.5)), which is always
positive (the raw Robertson idf goes negative for df > N/2 — a known
footgun).

Spark shape:
- postings: one explode + ONE (token, doc) groupBy — map-side
  combinable; this is the inverted-index build, and at 10^12 docs it
  is the same shuffle the vocabulary/top-terms passes already pay.
- df/idf: one groupBy over postings, output vocabulary-sized.
- scoring: the QUERY terms (a handful) are inner-joined into the
  postings — Catalyst broadcasts the tiny side, so only matching
  postings survive the scan; then one doc-keyed sum and a top-n
  TakeOrdered. The corpus-wide tables (N, avgdl) ride the plan as
  1-row cross joins, never a driver round-trip.

Determinism: scores are double sums over <= |query| terms with
deterministic per-term values; ties in ranking break on doc_id.

Reference parity note: the reference (kylehughes/Fuzi) has no
retrieval surface — pipeline-brief scope (corpus audit / seed-set
retrieval).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens


def build_postings(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Inverted-index postings: (token, doc_id, tf:long)."""
    return (
        docs.select(F.col(id_col), F.explode(lower_tokens(text_col)).alias("token"))
        .groupBy("token", id_col)
        .agg(F.count("*").alias("tf"))
    )


def doc_lengths(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, dl:long) — token count per document."""
    return docs.select(
        F.col(id_col), F.size(lower_tokens(text_col)).alias("dl")
    )


def bm25_search(
    docs: DataFrame,
    query: str,
    top_n: int = 20,
    k1: float = 1.2,
    b: float = 0.75,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """(doc_id, n_hits, score) — top-n documents for a whitespace
    query, Lucene-flavor BM25:

        score(d) = sum_{t in q} idf(t) * tf * (k1+1)
                   / (tf + k1 * (1 - b + b * dl/avgdl))
        idf(t)   = ln(1 + (N - df + 0.5) / (df + 0.5))

    Duplicate query terms are deduped (standard boolean-OR bag
    semantics); `n_hits` counts distinct matched terms."""
    terms = sorted({t for t in query.lower().split() if t})
    if not terms:
        raise ValueError("empty query")
    spark = docs.sparkSession
    qdf = spark.createDataFrame([(t,) for t in terms], "token string")
    post = build_postings(docs, text_col, id_col)
    dl = doc_lengths(docs, text_col, id_col)
    n_docs = docs.agg(F.count("*").alias("n"))
    avg = dl.agg(F.avg("dl").alias("avgdl"))
    dfreq = (
        post.join(F.broadcast(qdf), "token")
        .groupBy("token")
        .agg(F.count("*").alias("df"))
    )
    idf = dfreq.crossJoin(n_docs).select(
        "token",
        F.log(
            F.lit(1.0)
            + (F.col("n") - F.col("df") + F.lit(0.5))
            / (F.col("df") + F.lit(0.5))
        ).alias("idf"),
    )
    scored = (
        post.join(F.broadcast(idf), "token")
        .join(dl, id_col)
        .crossJoin(avg)
        .select(
            id_col,
            (
                F.col("idf")
                * (F.col("tf") * F.lit(k1 + 1.0))
                / (
                    F.col("tf")
                    + F.lit(k1)
                    * (
                        F.lit(1.0 - b)
                        + F.lit(b) * F.col("dl") / F.col("avgdl")
                    )
                )
            ).alias("_s"),
        )
    )
    return (
        scored.groupBy(id_col)
        .agg(F.count("*").alias("n_hits"), F.sum("_s").alias("score"))
        .orderBy(F.col("score").desc(), F.col(id_col).asc())
        .limit(int(top_n))
    )
