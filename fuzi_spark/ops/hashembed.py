"""Feature-hashing document embeddings (the "hashing trick" —
Weinberger et al., ICML 2009): a deterministic, model-free text
embedder that turns every document into a dense d-dim vector with NO
trained model, NO vocabulary table, and NO Python in the hot path.

    j(t)    = md5-bucket("he:" + t) mod d      (dimension)
    s(t)    = +1 / -1 by one bit of md5("hs:" + t)   (sign)
    v[j(t)] += s(t)  per token occurrence; then L2-normalize.

The signed sum makes collisions cancel in expectation (the paper's
core argument), so cosine on hashed vectors approximates token-
multiset similarity. That is exactly what the embedding-side operator
suite (semantic_dedup / decontaminate / ANN / hard negatives /
margin mining) needs when no learned encoder is available in the
pipeline — a self-contained bridge from the documents table to every
embedding operator.

Scale shape: ZERO shuffles — the whole embedding is a per-row
projection: one transform computes (j, s) per token (two md5 calls
per token, not per dimension), one `aggregate` folds them into a
d-length accumulator array (O(d * n_tokens) JVM ops inside codegen),
one normalize pass. At 10^12 docs this is scan-speed.

Determinism: the UNNORMALIZED accumulator is integer-valued, and its
sums are exact in doubles — identical across partitionings, engines,
and cluster sizes; normalization is a single deterministic division.

Reference parity note: the reference (kylehughes/Fuzi) has no
embedding surface — pipeline-brief scope (model-free featurization).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens


def _md5_int(col):
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hash_embed(
    df: DataFrame,
    dims: int = 64,
    text_col: str = "text",
    id_col: str = "doc_id",
    normalize: bool = True,
) -> DataFrame:
    """(id_col, embedding: array<double>, norm: double) — the hashed
    bag-of-words vector per document. Empty documents embed to the
    zero vector with norm 0 (kept, never dropped)."""
    d = int(dims)
    pairs = F.transform(
        lower_tokens(text_col),
        lambda t: F.struct(
            F.pmod(_md5_int(F.concat(F.lit("he:"), t)), F.lit(d)).alias("j"),
            F.when(
                F.pmod(_md5_int(F.concat(F.lit("hs:"), t)), F.lit(2)) == 0,
                F.lit(1.0),
            ).otherwise(F.lit(-1.0)).alias("s"),
        ),
    )
    acc = F.aggregate(
        pairs,
        F.array_repeat(F.lit(0.0), d),
        lambda a, p: F.transform(
            a,
            lambda x, i: F.when(i == p["j"], x + p["s"]).otherwise(x),
        ),
    )
    out = df.select(F.col(id_col), acc.alias("_raw"))
    norm = F.sqrt(
        F.aggregate(F.col("_raw"), F.lit(0.0), lambda a, x: a + x * x)
    )
    out = out.withColumn("norm", norm)
    if normalize:
        vec = F.when(
            F.col("norm") > 0,
            F.transform(F.col("_raw"), lambda x: x / F.col("norm")),
        ).otherwise(F.col("_raw"))
    else:
        vec = F.col("_raw")
    return out.select(F.col(id_col), vec.alias("embedding"), "norm")
