"""Gazetteer phrase tagging: dictionary mentions as a relational join.

Training-data pipelines tag documents against large controlled
vocabularies — PII denylists, topic taxonomies, product/entity
dictionaries — where the dictionary is thousands-to-millions of
multi-word phrases. Per-row automaton scans (Aho-Corasick in a Python
UDF) put the dictionary on the slow path and the matcher in Python;
the scalable formulation is relational:

- tokenize each document once (the repo's oracle-portable convention:
  lower/trim/split on whitespace);
- the distinct phrase LENGTHS (in tokens) are a metadata-sized,
  driver-known set — guarded by `max_phrase_len` the same way IVF
  guards its centroid collect. For each length l the candidate
  windows are `array_join(slice(toks, pos, l), ' ')` for pos in
  [1, n-l+1] — built for ALL lengths inside one projection, so the
  corpus is scanned ONCE and a single explode emits every candidate;
- candidates join to the gazetteer on the phrase string. The
  gazetteer is broadcast when small; at dictionary scale Catalyst
  falls back to a sort-merge join on the phrase key — either way no
  per-row Python, no automaton state, and the candidate stream is
  bounded by total_tokens x n_distinct_lengths;
- mentions aggregate map-side to (doc_id, phrase, tag, n_mentions,
  first_pos).

Overlapping and repeated mentions all count (window semantics);
matching is exact on the token sequence, so "new york" tags
"... new york ..." but not "newyork".

Reference parity note: no counterpart in the reference —
pipeline-brief scope (corpus curation), same bucket as ops/redact.py.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens


def gazetteer_tag(
    docs: DataFrame,
    gazetteer: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    max_phrase_len: int = 8,
    broadcast_gazetteer: bool = True,
) -> DataFrame:
    """Tag documents with dictionary mentions.

    `gazetteer` holds (phrase:string, tag:string); phrases are matched
    on the whitespace-token sequence, case-insensitive. Returns
    (id_col, phrase, tag, n_mentions, first_pos) with first_pos the
    1-based token position of the earliest mention.

    The distinct token-lengths of the gazetteer are collected to the
    driver (metadata-sized by contract — like IVF's centroid pull);
    lengths above `max_phrase_len` fail fast rather than silently
    shipping an unbounded candidate fan-out into the plan.
    """
    gz = gazetteer.select(
        F.trim(F.lower(F.col("phrase"))).alias("phrase"), "tag"
    ).withColumn(
        "_len", F.size(F.split(F.col("phrase"), r"\s+"))
    )
    lens = sorted(
        r["_len"] for r in gz.select("_len").distinct().collect()
    )
    if not lens:
        raise ValueError("empty gazetteer")
    if lens[0] < 1 or lens[-1] > int(max_phrase_len):
        raise ValueError(
            f"gazetteer phrase lengths {lens[0]}..{lens[-1]} outside "
            f"[1, max_phrase_len={max_phrase_len}]; raise the guard "
            "explicitly if the dictionary is genuinely this phrasal"
        )

    toks = lower_tokens(text_col)
    n = F.size("_toks")
    # one candidate array per phrase length, concatenated inside the
    # same projection: the corpus is tokenized and scanned ONCE.
    # (the length binds via a factory, NOT a defaulted lambda arg —
    # a 2-arg lambda makes pyspark pass the element INDEX as arg 2)
    def _windows(l: int):
        return F.transform(
            F.sequence(F.lit(1), n - (l - 1)),
            lambda pos: F.struct(
                pos.alias("pos"),
                F.array_join(F.slice("_toks", pos, l), " ").alias("cand"),
            ),
        )

    per_len = [
        F.when(n >= l, _windows(l)).otherwise(
            F.array().cast("array<struct<pos:int,cand:string>>")
        )
        for l in lens
    ]
    cands = (
        docs.select(id_col, toks.alias("_toks"))
        .select(id_col, F.explode(F.concat(*per_len)).alias("c"))
        .select(id_col, F.col("c.pos").alias("pos"), F.col("c.cand").alias("cand"))
    )
    gz_side = gz.select(F.col("phrase").alias("cand"), "phrase", "tag")
    if broadcast_gazetteer:
        gz_side = F.broadcast(gz_side)
    return (
        cands.join(gz_side, "cand")
        .groupBy(id_col, "phrase", "tag")
        .agg(
            F.count("*").alias("n_mentions"),
            F.min("pos").alias("first_pos"),
        )
    )
