"""N-gram novelty scoring: how much of each document is unique to it.

Training-data curation wants a per-document DIVERSITY/memorization
signal orthogonal to near-dup detection: a doc whose n-grams all
appear in many other docs is template/boilerplate-saturated (low
marginal value, high memorization risk when it IS kept many times);
a doc rich in corpus-unique n-grams carries novel content worth
up-weighting (the "self-repetition across documents" lens of
corpus-level quality work, e.g. Lee et al. 2022, arXiv:2107.06499).

Per doc this op reports, over its DISTINCT word n-grams:
  n_ngrams  — how many distinct n-grams the doc has,
  n_novel   — how many appear in NO other document (corpus df = 1),
  novelty   — n_novel / n_ngrams,
  max_df    — the highest document frequency among them (a direct
              "how templated is my most-shared phrase" number).

Distributed shape — the canonical df-counting dataflow, same family
as ops/web.py top_terms and ops/bm25.py:

- tokenize + n-gram assembly entirely in codegen (the repo's
  oracle-portable token convention: trim/lower/split \\s+, drop
  empties; `transform(sequence(...))` + `array_join(slice(...))`
  builds the n-gram strings without leaving the JVM),
- `array_distinct` BEFORE the explode, so each doc ships each n-gram
  once — the map-side shrink that keeps the exchange proportional to
  distinct content, not raw length,
- one groupBy(ngram) with map-side partial agg gives corpus df (each
  doc contributes at most 1 per n-gram, so count(*) IS document
  frequency — no count(distinct) shuffle),
- df joins back to the exploded (doc, ngram) pairs on the ngram key:
  both sides hash-partitioned on the SAME key by the preceding
  aggregate/exchange, so the sort-merge join is co-partitioned,
- final groupBy(doc_id) folds the verdict columns.

Three shuffles total (ngram-agg, join, doc-agg), each with partial
aggregation; no corpus-sized broadcast, no driver collection. At
10^12 docs the exchange width is the concern, not the shape: pass
`hash_keys=True` to run the df pipeline over xxhash64(ngram) instead
of the string — identical semantics modulo 64-bit collisions,
shuffle bytes cut to 8/key. The pytest pins hashed == unhashed on
the dev corpus; the oracle checks the string path (DuckDB has no
xxhash64).

Reference parity note: no counterpart in the reference
(kylehughes/Fuzi is a parse/query library) — pipeline-brief scope
(corpus statistics), same bucket as ops/colloc.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens


def ngram_novelty(
    docs: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    n: int = 3,
    hash_keys: bool = False,
) -> DataFrame:
    """(doc_id, n_ngrams, n_novel, novelty, max_df) per input row.

    Docs with fewer than `n` tokens have no n-grams: n_ngrams = 0,
    n_novel = 0, novelty/max_df NULL (kept, not dropped — a gate
    downstream decides what an empty doc means)."""
    if n < 1:
        raise ValueError(f"n must be >= 1, got {n}")
    toks = lower_tokens(text_col)
    # TOTAL gram builder: iterate the first max(size-n+1, 0) tokens by
    # INDEX (transform's 0-based i), gram = join(slice(toks, i+1, n)).
    # slice start is always >= 1, short docs yield [] — safe under any
    # expression reordering. The tempting sequence(1, size-n+1) form is
    # NOT total: sequence(1, 0) counts DOWN ([1, 0]) and
    # InferFiltersFromGenerate copies size(_ngs) > 0 into the scan
    # filter, where interpreted eval hits slice(_, 0, n) and aborts the
    # task (reproduced on a 1-token doc).
    grams = F.transform(
        F.slice(
            "_toks",
            1,
            F.greatest(F.size("_toks") - F.lit(n - 1), F.lit(0)),
        ),
        lambda _, i: F.array_join(F.slice("_toks", i + F.lit(1), n), " "),
    )
    per_doc = (
        docs.select(F.col(id_col).alias("doc_id"), toks.alias("_toks"))
        .where(F.size("_toks") >= n)
        .select("doc_id", F.array_distinct(grams).alias("_ngs"))
        .select("doc_id", F.explode("_ngs").alias("_ng"))
    )
    if hash_keys:
        per_doc = per_doc.select("doc_id", F.xxhash64("_ng").alias("_ng"))
    # each doc contributes <= 1 row per n-gram -> count(*) is df
    df_tbl = per_doc.groupBy("_ng").agg(F.count("*").alias("_df"))
    scored = (
        per_doc.join(df_tbl, "_ng")
        .groupBy("doc_id")
        .agg(
            F.count("*").alias("n_ngrams"),
            F.sum((F.col("_df") == 1).cast("long")).alias("n_novel"),
            F.max("_df").alias("max_df"),
        )
    )
    return (
        docs.select(F.col(id_col).alias("doc_id"))
        .join(scored, "doc_id", "left")
        .select(
            "doc_id",
            F.coalesce("n_ngrams", F.lit(0)).alias("n_ngrams"),
            F.coalesce("n_novel", F.lit(0)).alias("n_novel"),
            (F.col("n_novel") / F.col("n_ngrams")).alias("novelty"),
            "max_df",
        )
    )
