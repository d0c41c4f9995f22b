"""Similarity search over embedding columns (array<float>).

Two paths:
- brute-force cosine top-k: broadcast the (small) query set against the
  full table; dot products are pure Catalyst (zip_with + aggregate), so
  the scan whole-stage-codegens — the right baseline at any scale where
  the query set is small.
- LSH-bucketed top-k: random-hyperplane signatures (deterministic seed)
  computed in a vectorized numpy UDF (one matmul per Arrow batch); probing
  joins on the signature bucket first, so the candidate set per query is
  ~table_size / 2^bits instead of the whole table. The scale path for
  query sets too big to broadcast-crossjoin.

Embedding near-duplicate detection reuses the same machinery with a
threshold filter instead of a top-k window.
"""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import IntegerType

from .cache import scoped_persist


def _dot(a, b):
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x * y),
        F.lit(0.0).cast("double"),
        lambda acc, v: acc + v,
    )


def _norm(a):
    return F.sqrt(
        F.aggregate(a, F.lit(0.0).cast("double"), lambda acc, v: acc + v * v)
    )


def cosine_col(a, b):
    """cosine(a, b) as a pure-JVM column expression."""
    return _dot(a, b) / (_norm(a) * _norm(b))


def cosine_topk_bruteforce(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """For each query vector, the k nearest table vectors by cosine.

    queries is expected to be small → broadcast, no shuffle of the big
    side; ranking is a per-query-partition window (top-k heap in AQE)."""
    q = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    v = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec")
    )
    scored = (
        v.join(F.broadcast(q), F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_col(F.col("q_vec"), F.col("v_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def make_hyperplanes(dim: int, bits: int = 12, seed: int = 42) -> np.ndarray:
    rng = np.random.RandomState(seed)
    return rng.randn(dim, bits).astype(np.float64)


def lsh_signatures_udf(planes_per_table: list):
    """Multi-table sign-LSH: ONE (batch × dim) @ (dim × tables·bits)
    matmul per Arrow batch, then per-table bucket ints — array<int>, one
    bucket per table."""
    P = np.concatenate(planes_per_table, axis=1)  # dim × (T*bits)
    bits = planes_per_table[0].shape[1]
    n_tables = len(planes_per_table)
    weights = 1 << np.arange(bits, dtype=np.int64)

    from pyspark.sql.types import ArrayType as _AT, IntegerType as _IT

    @pandas_udf(_AT(_IT()))
    def _udf(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype=object)
        M = np.stack(vec.to_numpy()).astype(np.float64)
        proj = (M @ P > 0).astype(np.int64)  # (n, T*bits)
        proj = proj.reshape(len(M), n_tables, bits)
        buckets = (proj @ weights).astype(np.int32)  # (n, T)
        return pd.Series(list(buckets))

    return _udf


def cosine_topk_lsh(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    bits: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Bucketed ANN: multi-table sign-LSH (the E2LSH shape) — n_tables
    independent hyperplane sets; a pair is a candidate if it collides in
    ANY table. Exact cosine re-rank over the deduped candidates.

    Recall tuning: per-table collision is p^bits (p = 1 - θ/π), overall
    1-(1-p^bits)^n_tables — raise n_tables for recall, raise bits to
    shrink buckets. A single table at any bit-width has near-zero recall
    on weakly-clustered data (measured round 2: recall@5 = 0.0 at bits=6
    on the uniform test embeddings); multiple independent tables are what
    make sign-LSH usable.

    Shuffle discipline (round-3 fix): the candidate join carries ONLY
    (id, table, bucket) rows — never the vectors. The round-2 plan
    carried v_vec/q_vec through the per-table explode and the
    dropDuplicates, materializing the big side n_tables× through an
    exchange. Now candidate id-pairs are deduped first, and the vectors
    are joined back exactly once for the exact re-rank (a second scan of
    the vector table, joined against the metadata-sized candidate set —
    two column-pruned scans beat an 8×-vector shuffle at any real
    scale)."""
    planes = [
        make_hyperplanes(dim, bits, seed=42 + 1000 * t) for t in range(n_tables)
    ]
    sig = lsh_signatures_udf(planes)
    tbl = F.explode(
        F.transform(
            F.col("_sigs"),
            lambda b, i: F.struct(i.alias("table"), b.alias("bucket")),
        )
    )
    v_keys = (
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            sig(F.col(vec_col)).alias("_sigs"),
        )
        .select("neighbor_id", tbl.alias("tb"))
        .select("neighbor_id", "tb.table", "tb.bucket")
    )
    q_keys = (
        queries.select(
            F.col(id_col).alias("query_id"),
            sig(F.col(vec_col)).alias("_sigs"),
        )
        .select("query_id", tbl.alias("tb"))
        .select("query_id", "tb.table", "tb.bucket")
    )
    cand = (
        v_keys.join(F.broadcast(q_keys), ["table", "bucket"])
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .select("query_id", "neighbor_id")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    v_vecs = vectors.select(
        F.col(id_col).alias("neighbor_id"), F.col(vec_col).alias("v_vec")
    )
    q_vecs = queries.select(
        F.col(id_col).alias("query_id"), F.col(vec_col).alias("q_vec")
    )
    scored = (
        cand.join(v_vecs, "neighbor_id")
        .join(F.broadcast(q_vecs), "query_id")
        .withColumn("cosine", cosine_col(F.col("q_vec"), F.col("v_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def ivf_assign_udf(centroids: np.ndarray):
    """Vectorized IVF cell assignment: one (batch × dim) @ (dim × C)
    matmul per Arrow batch, argmax over normalized centroids."""
    C = centroids / np.linalg.norm(centroids, axis=1, keepdims=True)
    CT = C.T

    @pandas_udf(IntegerType())
    def _udf(vec: pd.Series) -> pd.Series:
        if len(vec) == 0:
            return pd.Series([], dtype="int32")
        M = np.stack(vec.to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        return pd.Series(np.argmax(M @ CT, axis=1).astype(np.int32))

    return _udf


def ivf_centroids(
    vectors: DataFrame,
    n_cells: int,
    id_col: str,
    vec_col: str,
    sample_rows: int = 100_000,
    n_iter: int = 5,
    seed: int = 42,
) -> np.ndarray:
    """Deterministic sampled spherical k-means coarse quantizer.

    (Round-3 fix: the round-2 quantizer took the first n_cells vectors by
    id — deterministic but not a codebook; cell sizes were whatever the
    oldest rows dictated.)

    Sample: the sample_rows smallest values of xxhash64(id, seed) — a
    deterministic pseudo-random sample that Spark executes as distributed
    TakeOrderedAndProject (per-partition top-k, no global sort shuffle),
    so the collect is bounded at sample_rows × dim floats regardless of
    table size. Then a few Lloyd iterations driver-side in numpy
    (spherical: cosine assignment, renormalized mean updates), k-means++
    -style seeded init, empty cells reseeded from the point farthest from
    its centroid. Deterministic end to end (seeded RandomState, fixed
    iteration count)."""
    rows = (
        vectors.select(
            F.col(vec_col),
            F.xxhash64(F.col(id_col), F.lit(seed)).alias("_r"),
        )
        .orderBy(F.col("_r").asc())
        .limit(sample_rows)
        .select(vec_col)
        .collect()
    )
    X = np.array([r[0] for r in rows], dtype=np.float64)
    X = X / np.maximum(np.linalg.norm(X, axis=1, keepdims=True), 1e-12)
    k = min(n_cells, len(X))
    rng = np.random.RandomState(seed)
    cents = X[rng.choice(len(X), size=k, replace=False)]
    for _ in range(n_iter):
        sim = X @ cents.T  # (n, k) cosine similarities
        assign = np.argmax(sim, axis=1)
        new = np.zeros_like(cents)
        for c in range(k):
            members = X[assign == c]
            if len(members):
                new[c] = members.mean(axis=0)
            else:
                # reseed an empty cell with the worst-fit point
                worst = int(np.argmin(sim[np.arange(len(X)), assign]))
                new[c] = X[worst]
        cents = new / np.maximum(
            np.linalg.norm(new, axis=1, keepdims=True), 1e-12
        )
    return cents


def cosine_topk_ivf(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """IVF ANN: assign every vector to its nearest centroid cell, probe the
    query's n_probe nearest cells, exact cosine re-rank inside them.

    Scale shape: the assignment is one matmul per Arrow batch; the probe
    join is an equi-join on cell id, so per-query work is
    ~(n_probe / n_cells) of the table instead of all of it.

    Contract: the probe list is built DRIVER-SIDE, so the query set must
    be metadata-sized (≤ max_query_rows). Guarded with a limit(n+1) probe
    — never a full count — and a fail-fast error instead of a silent
    driver-OOM collect; route larger query sets through cosine_topk_lsh,
    which stays fully distributed."""
    n_q = queries.limit(max_query_rows + 1).count()
    if n_q > max_query_rows:
        raise ValueError(
            f"cosine_topk_ivf builds its probe list on the driver; the "
            f"query set exceeds max_query_rows={max_query_rows}. Use "
            f"cosine_topk_lsh for large query sets, or raise the limit "
            f"explicitly if the driver can hold them."
        )
    cents = ivf_centroids(vectors, n_cells, id_col, vec_col)
    assign = ivf_assign_udf(cents)
    Cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)

    v = scoped_persist(
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("v_vec"),
            assign(F.col(vec_col)).alias("cell"),
        )
    )

    # driver-side probe list per query (queries are small by contract)
    q_rows = queries.select(id_col, vec_col).collect()
    probe_rows = []
    for r in q_rows:
        qv = np.array(r[1], dtype=np.float64)
        qv = qv / max(np.linalg.norm(qv), 1e-12)
        cells = np.argsort(-(Cn @ qv))[:n_probe]
        for c in cells:
            probe_rows.append((r[0], list(r[1]), int(c)))
    spark = vectors.sparkSession
    q = spark.createDataFrame(
        probe_rows, schema=f"query_id long, q_vec array<double>, cell int"
    )
    scored = (
        v.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("cosine", cosine_col(F.col("q_vec"), F.col("v_vec")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )


def embedding_near_dups(
    vectors: DataFrame,
    threshold: float = 0.95,
    bits: int = 8,
    n_tables: int = 8,
    dim: int = 64,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
) -> DataFrame:
    """Near-duplicate vector pairs (cosine ≥ threshold), multi-table
    sign-LSH self-join so the candidate set stays sub-quadratic.

    Round-3 fix: MULTI-table. The round-2 single-table variant always
    recovers exact copies (identical vectors collide in every table —
    what the oracle plants), but its measured recall on organic
    0.95 ≤ cos < 1 pairs was ~0 on weakly-clustered data. n_tables
    independent hyperplane sets lift pair recall to 1-(1-p^bits)^T with
    p = 1-θ/π (see tests/test_ops.py::test_embedding_near_dup_recall for
    the measured curve vs brute force).

    Shuffle discipline mirrors cosine_topk_lsh: the self-join carries
    only (id, table, bucket) keys; candidate id-pairs are deduped across
    tables FIRST, and the L2-normalized vectors (computed once, persisted)
    are joined back exactly once for the exact cosine verify — the pair
    set out of LSH is metadata-sized next to the vector table, so the
    verify joins never shuffle vectors more than once."""
    planes = [
        make_hyperplanes(dim, bits, seed=42 + 1000 * t) for t in range(n_tables)
    ]
    sig = lsh_signatures_udf(planes)
    base = scoped_persist(
        vectors.select(
            F.col(id_col),
            F.col(vec_col),
            F.greatest(_norm(F.col(vec_col)), F.lit(1e-12)).alias("_n"),
            sig(F.col(vec_col)).alias("_sigs"),
        ).select(
            id_col,
            F.transform(F.col(vec_col), lambda x: x / F.col("_n")).alias("_u"),
            "_sigs",
        )
    )
    keys = base.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.col("_sigs"),
                lambda b, i: F.struct(i.alias("table"), b.alias("bucket")),
            )
        ).alias("tb"),
    ).select(id_col, "tb.table", "tb.bucket")
    l = keys.select(F.col(id_col).alias("id_a"), "table", "bucket")
    r = keys.select(F.col(id_col).alias("id_b"), "table", "bucket")
    pairs = (
        l.join(r, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .dropDuplicates(["id_a", "id_b"])
    )
    va = base.select(F.col(id_col).alias("id_a"), F.col("_u").alias("va"))
    vb = base.select(F.col(id_col).alias("id_b"), F.col("_u").alias("vb"))
    return (
        pairs.join(va, "id_a")
        .join(vb, "id_b")
        .withColumn("cosine", _dot(F.col("va"), F.col("vb")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def semantic_dedup(
    vectors: DataFrame,
    n_cells: int = 16,
    threshold: float = 0.999,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    sample_rows: int = 100_000,
) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023,
    arXiv:2303.09540): coarse spherical-k-means cells, then a
    DETERMINISTIC greedy prune inside each cell in ascending id order —
    a vector is dropped iff its cosine to some already-kept vector in
    the same cell is >= threshold; `dup_of` records the FIRST (lowest-id)
    kept vector that triggered the drop.

    Returns (id, cell:int, keep:int, dup_of:long|null). Differs from
    embedding_near_dups (pair list) by producing the training-pipeline
    artifact directly: a keep/drop list with a representative per
    semantic group, no pair materialization.

    Scale shape: cell assignment is one broadcast matmul per Arrow batch
    (ivf_assign_udf); the only shuffle is the groupBy(cell) exchange,
    keyed by a smallint. The within-cell prune is O(m_c^2 * dim) numpy
    flops worst-case, so n_cells is the knob that bounds per-task work —
    at 10^12 rows pick n_cells ~ corpus/10^5 so cells stay ~100k rows
    (the paper's operating point; cells are processed independently, so
    more cells = more parallelism AND less work). Exact copies always
    share a cell (identical vector => identical assignment), which is
    the invariant the driver oracle checks; recall on organic
    0.95<=cos<1 pairs is bounded by cell co-residency, same contract as
    the paper.
    """
    cents = ivf_centroids(
        vectors, n_cells, id_col, vec_col, sample_rows=sample_rows
    )
    assign = ivf_assign_udf(cents)
    assigned = vectors.select(
        F.col(id_col), F.col(vec_col), assign(F.col(vec_col)).alias("cell")
    )

    def _prune(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(id_col, kind="mergesort").reset_index(drop=True)
        M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
        M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
        ids = pdf[id_col].to_numpy()
        n = len(pdf)
        keep = np.ones(n, dtype=np.int32)
        dup_of: list = [None] * n
        kept_rows: list[int] = []
        for i in range(n):
            if kept_rows:
                # one matvec against the kept block per row (numpy),
                # never per-element Python
                sims = M[kept_rows] @ M[i]
                hit = np.nonzero(sims >= threshold)[0]
                if hit.size:
                    keep[i] = 0
                    dup_of[i] = int(ids[kept_rows[int(hit[0])]])
                    continue
            kept_rows.append(i)
        return pd.DataFrame(
            {
                id_col: ids,
                "cell": pdf["cell"].to_numpy(),
                "keep": keep,
                "dup_of": pd.array(dup_of, dtype="Int64"),
            }
        )

    return assigned.groupBy("cell").applyInPandas(
        _prune, schema=f"{id_col} long, cell int, keep int, dup_of long"
    )


def semantic_decontaminate(
    corpus: DataFrame,
    eval_vectors: DataFrame,
    threshold: float = 0.95,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_eval_rows: int = 1_000_000,
) -> DataFrame:
    """Embedding-level benchmark decontamination: flag corpus documents
    whose embedding is cosine-close to ANY held-out eval-set embedding —
    the semantic sibling of the n-gram `decontaminate` operator (which
    misses paraphrased leakage; this catches it).

    Returns (id, max_cos, matched_eval:long, n_hits:int, contaminated:int)
    where max_cos is the best cosine against the eval set, matched_eval
    the eval id achieving it (ties and the no-signal cos<=0 case resolve
    to the LOWEST eval id — the eval matrix is sorted by id driver-side,
    numpy argmax takes the first maximum), and n_hits counts eval rows
    at or above the threshold.

    Scale shape: the eval set is benchmark-sized BY CONTRACT
    (thousands-to-100k rows; the guard fails fast past `max_eval_rows`
    like IVF's metadata-sized-query contract) and ships to executors as
    a normalized numpy matrix in the UDF closure; the corpus is scanned
    ONCE with one (batch x dim) @ (dim x m) matmul per Arrow batch —
    zero shuffles, zero corpus materialization. For eval sets too big to
    broadcast, compose cosine_topk_lsh(corpus, eval) instead; this
    operator is the exact path."""
    probe = eval_vectors.select(id_col, vec_col).limit(max_eval_rows + 1)
    rows = probe.collect()
    if len(rows) > max_eval_rows:
        raise ValueError(
            f"semantic_decontaminate: eval set exceeds the broadcast "
            f"contract ({max_eval_rows} rows); use cosine_topk_lsh for "
            f"corpus-sized eval sets"
        )
    if not rows:
        raise ValueError("semantic_decontaminate: empty eval set")
    rows.sort(key=lambda r: r[0])
    eval_ids = np.array([r[0] for r in rows], dtype=np.int64)
    E = np.array([r[1] for r in rows], dtype=np.float64)
    E = E / np.maximum(np.linalg.norm(E, axis=1, keepdims=True), 1e-12)
    ET = E.T
    thr = float(threshold)

    def _score(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            M = M / np.maximum(np.linalg.norm(M, axis=1, keepdims=True), 1e-12)
            S = M @ ET  # (batch, m) cosines
            best = np.argmax(S, axis=1)
            max_cos = S[np.arange(len(S)), best]
            yield pd.DataFrame(
                {
                    id_col: pdf[id_col].to_numpy(),
                    "max_cos": max_cos,
                    "matched_eval": eval_ids[best],
                    "n_hits": (S >= thr).sum(axis=1).astype(np.int32),
                    "contaminated": (max_cos >= thr).astype(np.int32),
                }
            )

    return corpus.select(id_col, vec_col).mapInPandas(
        _score,
        schema=(
            f"{id_col} long, max_cos double, matched_eval long, "
            "n_hits int, contaminated int"
        ),
    )


# ------------------------------------------------ margin-based bitext


def margin_bitext(
    src: DataFrame,
    tgt: DataFrame,
    k: int = 4,
    threshold: float = 1.0,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_tgt_rows: int = 1_000_000,
) -> DataFrame:
    """Margin-based parallel-sentence mining (Artetxe & Schwenk, ACL
    2019, arXiv:1811.01136 — the LASER/CCMatrix recipe): score every
    candidate cross-language pair by the RATIO margin

        margin(x, y) = cos(x, y) /
            ( mean_{z in NN_k(x, tgt)} cos(x, z) / 2
            + mean_{z in NN_k(y, src)} cos(y, z) / 2 )

    and keep MUTUAL best matches above `threshold` — raw cosine
    thresholds fail because some sentences are "hubs" that are close to
    everything; dividing by the average similarity of each side's
    k-neighborhood normalizes that hubness away (the paper's core
    point, and why CCMatrix mines with margin, not cosine).

    Returns (src_id, tgt_id, cosine, margin): pairs where tgt_id is
    src_id's argmax-margin candidate AND vice versa (the paper's "max"
    strategy intersected both ways), with margin >= threshold. Ties
    break to the smaller partner id — fully deterministic.

    Scale shape: this is the EXACT kernel, and cosine is symmetric, so
    ONE matrix of cosines serves both neighborhoods. The tgt side is
    metadata-sized BY CONTRACT (the semantic_decontaminate broadcast
    contract; the guard fails fast past `max_tgt_rows`) and ships to
    executors as a normalized numpy matrix in the UDF closure; the src
    side is scanned ONCE with one (batch × dim) @ (dim × m) matmul per
    Arrow batch — the first formulation scored each pair with a
    Catalyst zip_with/aggregate dot product, and that per-pair
    higher-order-function evaluation over |src|·|tgt| rows was >90% of
    the measured wall (13 s vs 0.5 s for the join itself at 1M pairs).
    Each batch emits only neighborhoods, never the pair matrix:
    the EXACT forward top-k per src row (the whole tgt matrix is
    present per batch), plus per-batch backward top-k candidates per
    tgt column; a candidate excluded per-batch is dominated by k rows
    with (cosine, then id) priority over it, so the global backward
    top-k — one window over the candidate rows, |tgt|·k per batch —
    is exact too. Tie-breaks ride sort stability: the tgt matrix is
    id-sorted driver-side and each batch is id-sorted before scoring,
    so stable argsort breaks cosine ties to the smaller partner id in
    both directions. For two corpus-sized sides, generate candidates
    with cosine_topk_lsh / cosine_topk_ivf first and feed ONLY the
    candidate pairs through the same margin formula — the scoring
    stages below consume (src, tgt, cosine) tuples and do not care how
    they were produced.

    Reference parity note: the reference (kylehughes/Fuzi) has no
    embedding surface — pipeline-brief scope (cross-lingual curation;
    complements ops/web.py bitext_pairs' hreflang handshake with a
    content-similarity miner)."""
    kk = int(k)
    probe = tgt.select(id_col, vec_col).limit(max_tgt_rows + 1)
    rows = probe.collect()
    if len(rows) > max_tgt_rows:
        raise ValueError(
            f"margin_bitext: tgt side exceeds the broadcast contract "
            f"({max_tgt_rows} rows); mine candidates with "
            f"cosine_topk_lsh/cosine_topk_ivf and score those instead"
        )
    out_schema = "src_id long, tgt_id long, cosine double, margin double"
    if not rows:
        return src.sparkSession.createDataFrame([], out_schema)
    rows.sort(key=lambda r: r[0])
    tids = np.array([r[0] for r in rows], dtype=np.int64)
    T = np.array([r[1] for r in rows], dtype=np.float64)
    T = T / np.maximum(np.linalg.norm(T, axis=1, keepdims=True), 1e-12)
    TT = T.T
    m = len(tids)
    kf = min(kk, m)

    def _neigh(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            pdf = pdf.sort_values(id_col, kind="stable")
            sids = pdf[id_col].to_numpy()
            M = np.stack(pdf[vec_col].to_numpy()).astype(np.float64)
            M = M / np.maximum(
                np.linalg.norm(M, axis=1, keepdims=True), 1e-12
            )
            S = M @ TT  # (a, m) cosines
            a = len(sids)
            kb = min(kk, a)
            # stable argsort: tgt columns are tid-ascending and batch
            # rows sid-ascending, so ties break to the smaller id
            fo = np.argsort(-S, axis=1, kind="stable")[:, :kf]
            bo = np.argsort(-S, axis=0, kind="stable")[:kb, :]
            yield pd.DataFrame(
                {
                    "sid": np.concatenate(
                        [np.repeat(sids, kf), sids[bo].ravel(order="F")]
                    ),
                    "tid": np.concatenate(
                        [tids[fo].ravel(), np.repeat(tids, kb)]
                    ),
                    "cosine": np.concatenate(
                        [
                            np.take_along_axis(S, fo, axis=1).ravel(),
                            np.take_along_axis(S, bo, axis=0).ravel(
                                order="F"
                            ),
                        ]
                    ),
                    "fwd": np.concatenate(
                        [
                            np.ones(a * kf, dtype=np.int32),
                            np.zeros(m * kb, dtype=np.int32),
                        ]
                    ),
                }
            )

    emitted = scoped_persist(
        src.select(id_col, vec_col).mapInPandas(
            _neigh, schema="sid long, tid long, cosine double, fwd int"
        )
    )
    wb = Window.partitionBy("tid").orderBy(
        F.col("cosine").desc(), F.col("sid").asc()
    )
    fr = emitted.filter(F.col("fwd") == 1)
    br = (
        emitted.filter(F.col("fwd") == 0)
        .withColumn("r", F.row_number().over(wb))
        .filter(F.col("r") <= kk)
    )
    ax = fr.groupBy("sid").agg(F.avg("cosine").alias("a_src"))
    ay = br.groupBy("tid").agg(F.avg("cosine").alias("a_tgt"))
    cand = (
        fr.select("sid", "tid", "cosine")
        .unionByName(br.select("sid", "tid", "cosine"))
        .dropDuplicates(["sid", "tid"])
    )
    m = (
        cand.join(ax, "sid")
        .join(ay, "tid")
        .withColumn(
            "margin",
            F.col("cosine")
            / (F.col("a_src") / F.lit(2.0) + F.col("a_tgt") / F.lit(2.0)),
        )
    )
    mf = Window.partitionBy("sid").orderBy(
        F.col("margin").desc(), F.col("tid").asc()
    )
    mb = Window.partitionBy("tid").orderBy(
        F.col("margin").desc(), F.col("sid").asc()
    )
    best = (
        m.withColumn("rf", F.row_number().over(mf))
        .withColumn("rb", F.row_number().over(mb))
        .filter(
            (F.col("rf") == 1)
            & (F.col("rb") == 1)
            & (F.col("margin") >= F.lit(float(threshold)))
        )
    )
    return best.select(
        F.col("sid").alias("src_id"),
        F.col("tid").alias("tgt_id"),
        "cosine",
        "margin",
    )


def cosine_topk_ivfpq(
    vectors: DataFrame,
    queries: DataFrame,
    k: int = 5,
    n_cells: int = 16,
    n_probe: int = 4,
    rerank: int = 64,
    codebooks: list | None = None,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    max_query_rows: int = 10_000,
) -> DataFrame:
    """IVF-PQ ANN (the FAISS `IVFx,PQy` shape): IVF cells prune WHICH
    vectors are scored, PQ codes prune WHAT is read to score them —
    the candidate pass never touches the float vectors at all.

    Funnel per query:
      1. probe the n_probe nearest cells (same driver-side probe
         contract as cosine_topk_ivf — metadata-sized query sets);
      2. ADC candidate scoring: approx dot(q, v) = Σ_s LUT[s][code_s],
         where LUT[s][j] = dot(q_sub_s, codebook[s][j]) is computed
         once per query on the driver (m·k doubles) and shipped with
         the probe row. The scored columns are the m small int codes —
         at the classic m=D/8 byte-code point this scans 1/32 of the
         bytes a flat re-rank would;
      3. top-`rerank` candidates by ADC (per-query window limit), THEN
         the exact cosine re-rank over the float vectors of those
         `rerank` rows only — approximation decides the shortlist,
         exact arithmetic decides the answer (the same LSH-then-exact
         discipline the dedup stack uses).

    Cosine-consistent coding (r3 ADVICE fix): vectors are
    L2-NORMALIZED before both PQ encoding and codebook training
    (FAISS cosine practice — IP search over normalized vectors), so
    ADC approximates dot(q_hat, v_hat) = cosine directly. Coding RAW
    vectors would rank the shortlist by unnormalized dot(q, v), and
    when corpus norms vary, high-norm vectors crowd the shortlist and
    the true cosine top-k gets pruned regardless of codebook quality.
    The exact re-rank uses the raw vectors (cosine is scale-invariant).

    This variant codes normalized-full vectors (IVFPQ-flat); classic
    FAISS codes cell residuals for tighter LUTs — same dataflow,
    finer codebooks. recall@k depends on (rerank, codebook quality):
    with rerank >= the probed-cell population the result is EXACTLY
    cosine_topk_ivf's (the oracle pins that); the pinned tests
    exercise a genuinely pruning rerank on constructed clusters.
    codebooks=None trains REAL per-subspace k-means books
    (ops/quantize.pq_train, k=256 capped at the sample, normalized) —
    the measured-recall operating point in RECALL_ivfpq_r4.json;
    pass pq_codebook(...) explicitly for the oracle-replayable demo
    book."""
    from .quantize import pq_encode, pq_train

    n_q = queries.limit(max_query_rows + 1).count()
    if n_q > max_query_rows:
        raise ValueError(
            f"cosine_topk_ivfpq builds probe lists + ADC LUTs on the "
            f"driver; query set exceeds max_query_rows={max_query_rows}."
        )
    dim = len(vectors.select(vec_col).first()[0])
    if codebooks is None:
        m = 8 if dim % 8 == 0 else 4
        codebooks = pq_train(
            vectors, m, k=256, vec_col=vec_col, id_col=id_col,
            normalize=True,
        )
    m = len(codebooks)
    kk = len(codebooks[0])
    sub = len(codebooks[0][0])
    if m * sub != dim:
        raise ValueError(
            f"codebooks cover {m}x{sub} dims but vectors have {dim}"
        )
    cents = ivf_centroids(vectors, n_cells, id_col, vec_col)
    assign = ivf_assign_udf(cents)
    Cn = cents / np.linalg.norm(cents, axis=1, keepdims=True)
    cb = np.array(codebooks, dtype=np.float64)  # (m, k, sub)

    # L2-normalize BEFORE encoding (pure Catalyst: one aggregate for
    # the norm, one transform for the divide) — ADC then approximates
    # cosine itself, not the norm-biased raw dot product
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    nrm = F.sqrt(
        F.aggregate(vd, F.lit(0.0), lambda acc, x: acc + x * x)
    )
    normed = vectors.select(
        F.col(id_col), F.col(vec_col), nrm.alias("_nrm")
    ).select(
        F.col(id_col),
        F.transform(
            F.col(vec_col),
            lambda x: x.cast("double")
            / F.greatest(F.col("_nrm"), F.lit(1e-12)),
        ).alias("_vn"),
    )
    coded = pq_encode(normed, codebooks, "_vn", id_col)
    v = scoped_persist(
        vectors.select(
            F.col(id_col).alias("neighbor_id"),
            F.col(vec_col).alias("v_vec"),
            assign(F.col(vec_col)).alias("cell"),
        ).join(
            coded.select(
                F.col(id_col).alias("neighbor_id"),
                *[f"code_{s}" for s in range(m)],
            ),
            "neighbor_id",
        )
    )

    q_rows = queries.select(id_col, vec_col).collect()
    probe_rows = []
    for r in q_rows:
        qv = np.array(r[1], dtype=np.float64)
        qn = qv / max(np.linalg.norm(qv), 1e-12)
        cells = np.argsort(-(Cn @ qn))[:n_probe]
        # LUT[s][j] = dot(qhat_sub_s, codebook[s][j]) — the NORMALIZED
        # query, so ADC over normalized codes is approximate cosine
        lut = [
            [float(qn[s * sub:(s + 1) * sub] @ cb[s, j]) for j in range(kk)]
            for s in range(m)
        ]
        for c in cells:
            probe_rows.append((r[0], list(r[1]), lut, int(c)))
    spark = vectors.sparkSession
    q = spark.createDataFrame(
        probe_rows,
        schema=(
            "query_id long, q_vec array<double>, "
            "lut array<array<double>>, cell int"
        ),
    )
    adc = sum(
        F.element_at(
            F.element_at("lut", s + 1), F.col(f"code_{s}") + 1
        )
        for s in range(m)
    )
    cand = (
        v.join(F.broadcast(q), "cell")
        .filter(F.col("query_id") != F.col("neighbor_id"))
        .withColumn("adc", adc)
    )
    w_adc = Window.partitionBy("query_id").orderBy(
        F.col("adc").desc(), F.col("neighbor_id").asc()
    )
    shortlist = cand.withColumn(
        "adc_rank", F.row_number().over(w_adc)
    ).filter(F.col("adc_rank") <= rerank)
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        shortlist.withColumn(
            "cosine", cosine_col(F.col("q_vec"), F.col("v_vec"))
        )
        .withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select("query_id", "neighbor_id", "rank", "cosine")
    )
