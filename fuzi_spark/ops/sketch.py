"""Count-min sketch term-frequency estimation + heavy hitters.

At 10^12 documents an exact global term-count table is itself a big-
data object; the count-min sketch (Cormode & Muthukrishnan 2005) caps
the frequency state at d x w counters REGARDLESS of corpus size, with
the one-sided guarantee

    exact <= estimate <= exact + eps * N        (w = ceil(e / eps),
    with probability 1 - delta over the d rows,   d = ceil(ln 1/delta))

Spark-first shape — the sketch is a DATAFRAME, not a driver object:
- featurize: tokens (the shared tokenizer contract: lowercase, split
  \\s+, drop empty — dsir.py / textstats.py / lm.py) x d hash rows,
  each bucketed by the engine-portable md5 bucket over "seed:token".
- build: ONE groupBy (row, bucket) count — map-side partial combine
  reduces every task to <= d*w pairs before anything shuffles, and
  merging sketches across corpora/batches is the same groupBy-sum
  (the sketch is a monoid, which is the whole point).
- estimate: broadcast-join the d*w sketch rows against candidates and
  take min over the d rows per token.

Candidates come from the usual two-pass heavy-hitter recipe: any
candidate generator works (per-partition local top-k, a sample, a
prior vocabulary); the sketch then scores them with bounded error.

Determinism: no RNG anywhere — the d hash functions are md5 with
fixed integer seeds, so a DuckDB twin replays the sketch bit-for-bit
(the correctness gate checks the estimates hash-exact, and the pinned
tests check the CMS overestimate bound).

Reference parity note: the reference (kylehughes/Fuzi) has no
frequency-sketch surface — pipeline-brief scope (corpus statistics at
scale).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from .textstats import lower_tokens


def _bucket_of(col, seed: int, width: int):
    """Engine-portable hash bucket: first 8 md5 hex chars of
    '<seed>:<token>' as an integer, mod width — DuckDB computes the
    identical value via ('0x' || substr(md5(s), 1, 8))::BIGINT % w."""
    return F.pmod(
        F.conv(
            F.substring(
                F.md5(F.concat_ws(":", F.lit(str(int(seed))), col)), 1, 8
            ),
            16,
            10,
        ).cast("bigint"),
        F.lit(int(width)),
    )


def token_stream(
    df: DataFrame, text_col: str = "text"
) -> DataFrame:
    """(token) — one row per token OCCURRENCE (multiplicity kept)."""
    return df.select(F.explode(lower_tokens(text_col)).alias("token"))


def cms_build(
    tokens: DataFrame,
    depth: int = 4,
    width: int = 1024,
    token_col: str = "token",
) -> DataFrame:
    """Build the sketch: (row:int, bucket:long, cnt:long), <= depth*width
    rows. One explode (x depth) + one map-side-combinable groupBy."""
    rows = F.array(
        *[
            F.struct(
                F.lit(i).alias("row"),
                _bucket_of(F.col(token_col), i, width).alias("bucket"),
            )
            for i in range(int(depth))
        ]
    )
    return (
        tokens.select(F.explode(rows).alias("rb"))
        .groupBy(F.col("rb.row").alias("row"), F.col("rb.bucket").alias("bucket"))
        .agg(F.count("*").alias("cnt"))
    )


def cms_estimate(
    sketch: DataFrame,
    candidates: DataFrame,
    depth: int = 4,
    width: int = 1024,
    token_col: str = "token",
) -> DataFrame:
    """Estimate each candidate token's frequency: min over the d rows
    of its bucket counters (an absent counter pair means count 0 —
    kept as 0, not dropped, via the left join). Adds `est:long`.

    The SKETCH side is broadcast (it is <= d*w rows by construction,
    metadata-sized); candidates can be arbitrarily large."""
    cand = candidates
    for i in range(int(depth)):
        b = sketch.filter(F.col("row") == i).select(
            F.col("bucket").alias(f"_b{i}"), F.col("cnt").alias(f"_c{i}")
        )
        cand = cand.withColumn(
            f"_b{i}", _bucket_of(F.col(token_col), i, width)
        ).join(F.broadcast(b), f"_b{i}", "left")
    est = F.least(
        *[F.coalesce(F.col(f"_c{i}"), F.lit(0)) for i in range(int(depth))]
    )
    drop = [f"_b{i}" for i in range(int(depth))] + [
        f"_c{i}" for i in range(int(depth))
    ]
    return cand.withColumn("est", est.cast("long")).drop(*drop)


def heavy_hitters(
    df: DataFrame,
    text_col: str = "text",
    top_n: int = 50,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Two-pass heavy hitters: exact top-N tokens (deterministic
    count-desc, token-asc order) scored by the count-min sketch —
    (token, exact:long, est:long), est >= exact always.

    The exact candidate pass here doubles as the ground truth the
    pinned tests and the relational oracle check the CMS guarantee
    against; at 10^12 rows you'd swap it for local-top-k candidates
    and keep the sketch stages unchanged."""
    toks = token_stream(df, text_col)
    sketch = cms_build(toks, depth, width)
    exact = (
        toks.groupBy("token")
        .agg(F.count("*").alias("exact"))
        .orderBy(F.col("exact").desc(), F.col("token").asc())
        .limit(int(top_n))
    )
    return cms_estimate(sketch, exact, depth, width).select(
        "token", "exact", "est"
    )


# ------------------------------------------------------------- HyperLogLog

HLL_M = 256  # registers (b = 8 index bits); rel. error ~ 1.04/sqrt(m) = 6.5%


def _h32(col):
    """Engine-portable 32-bit hash: first 8 md5 hex chars as an int.
    DuckDB twin: ('0x' || substr(md5(k), 1, 8))::BIGINT."""
    return F.conv(F.substring(F.md5(col), 1, 8), 16, 10).cast("bigint")


def hll_sketch(
    df: DataFrame,
    key_col: str,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """HyperLogLog register table (Flajolet et al. 2007):
    (group..., idx:int, rho:int) — max rank per register, <= m rows per
    group REGARDLESS of cardinality. Like the CMS, the sketch is a
    monoid: union corpora then groupBy-max re-merges registers, which
    is what makes distinct-counting at 10^12 keys a metadata-sized
    artifact (Spark's own approx_count_distinct is the same algorithm,
    but its sketch is opaque/driver-side; this one is a DataFrame you
    can store, merge incrementally per crawl batch, and replay in SQL).

    Bit layout of the 32-bit md5-derived hash: top 8 bits = register
    index, low 24 bits = the pattern whose leading-zero rank rho is
    recorded (rho = 25 - bit_length(w), computed portably as the
    length of the binary string — w = 0 maps to the max rank 25).
    """
    g = list(group_cols or [])
    h = _h32(F.col(key_col))
    idx = F.shiftright(h, 24).cast("int")
    w = h.bitwiseAND(F.lit((1 << 24) - 1))
    rho = F.when(w == 0, F.lit(25)).otherwise(
        F.lit(25) - F.length(F.bin(w))
    ).cast("int")
    return (
        df.select(*g, idx.alias("idx"), rho.alias("rho"))
        .groupBy(*g, "idx")
        .agg(F.max("rho").alias("rho"))
    )


def hll_estimate(
    sketch: DataFrame,
    group_cols: list[str] | None = None,
) -> DataFrame:
    """Cardinality estimate per group from a register table:
    E = alpha_m * m^2 / (sum_observed 2^-rho + (m - n_observed)), with
    the standard small-range correction E <= 2.5m -> m * ln(m / V)
    where V = empty registers. The 2^-rho sum is EXACT in doubles
    (dyadic terms, <= 33 significant bits), so the estimate is
    bit-identical regardless of aggregation order — no float-sum
    nondeterminism across partitions/engines."""
    g = list(group_cols or [])
    m = HLL_M
    alpha = 0.7213 / (1.0 + 1.079 / m)
    agg = sketch.groupBy(*g).agg(
        F.sum(F.pow(F.lit(2.0), -F.col("rho"))).alias("_s"),
        F.count("*").alias("_n"),
        F.sum(F.when(F.col("rho") == 0, 1).otherwise(0)).alias("_z0"),
    )
    denom = F.col("_s") + (F.lit(m) - F.col("_n"))
    raw = F.lit(alpha * m * m) / denom
    # empty registers = never-observed + observed-with-rho-0 is wrong:
    # rho >= 1 for any observed key (bit_length(w) <= 24), so V is just
    # the never-observed count m - n
    v = F.lit(m) - F.col("_n")
    est = F.when(
        (raw <= F.lit(2.5 * m)) & (v > 0),
        F.lit(float(m)) * F.log(F.lit(float(m)) / v),
    ).otherwise(raw)
    return agg.select(*g, est.alias("distinct_est"))


# ------------------------------------------------------- bottom-k overlap

def _h60(col):
    """Engine-portable 60-bit hash: first 15 md5 hex chars as an int64.
    DuckDB twin: ('0x' || substr(md5(k), 1, 15))::BIGINT. 60 bits keep
    collision probability negligible at sketch sizes (k^2/2^61)."""
    return F.conv(F.substring(F.md5(col), 1, 15), 16, 10).cast("bigint")


def bottomk_sketch(
    df: DataFrame, k: int = 256, text_col: str = "text"
) -> DataFrame:
    """The k smallest 60-bit hashes of the corpus's DISTINCT tokens —
    a bottom-k MinHash sketch (Cohen & Kaplan 2007 summary form) of
    the token set, k rows regardless of corpus size.

    Scale shape: tokens dedup corpus-wide first (8-byte hash keys,
    map-side partial dedup before the one exchange), then a global
    TakeOrdered(k) — per-partition top-k heaps merged on the driver,
    never a full sort. The sketch is a monoid: union two sketches and
    re-take the k smallest to sketch the corpus union, which is what
    corpus_overlap exploits."""
    return (
        df.select(F.explode(lower_tokens(text_col)).alias("token"))
        .select(_h60(F.col("token")).alias("h"))
        .distinct()
        .orderBy("h")
        .limit(k)
    )


def corpus_overlap(
    a: DataFrame,
    b: DataFrame,
    k: int = 256,
    text_col: str = "text",
) -> DataFrame:
    """Estimate token-set overlap between two corpora from bottom-k
    sketches — the contamination / source-overlap screen you can
    afford to run between EVERY corpus pair (cost: two scans + a
    2k-row merge; an exact distinct-intersection is a fat shuffle of
    every token in both corpora).

    Returns ONE row:
      k_eff         rows of the union sketch actually used (= k unless
                    the union has fewer distinct tokens — then every
                    estimate below is exact)
      est_jaccard   |bottom_k(A∪B) ∩ A-sketch ∩ B-sketch| / k_eff
      est_contain_a |bottom_k(A∪B) ∩ both| / |bottom_k(A∪B) ∩ A-sketch|
                    (≈ |A∩B|/|A|), NULL when the A term is 0
      est_contain_b symmetric
    The union's bottom-k is a uniform sample of A∪B's distinct tokens,
    and membership in each side's sketch decides membership in that
    side — the standard bottom-k estimator, deterministic given the
    hash, so the DuckDB oracle replays it bit-exactly."""
    sa = bottomk_sketch(a, k, text_col).select(
        "h", F.lit(1).alias("_a")
    )
    sb = bottomk_sketch(b, k, text_col).select(
        "h", F.lit(1).alias("_b")
    )
    u = (
        sa.join(sb, "h", "full_outer")
        .orderBy("h")
        .limit(k)
        .select(
            "h",
            F.coalesce("_a", F.lit(0)).alias("_a"),
            F.coalesce("_b", F.lit(0)).alias("_b"),
        )
    )
    agg = u.agg(
        F.count("*").alias("k_eff"),
        F.sum((F.col("_a") * F.col("_b"))).alias("_both"),
        F.sum("_a").alias("_na"),
        F.sum("_b").alias("_nb"),
    )
    both = F.col("_both").cast("double")
    return agg.select(
        F.col("k_eff").cast("bigint").alias("k_eff"),
        # k_eff = 0 (both corpora empty) must yield NULL, not an ANSI
        # divide-by-zero task failure
        F.when(F.col("k_eff") > 0, both / F.col("k_eff")).alias(
            "est_jaccard"
        ),
        F.when(F.col("_na") > 0, both / F.col("_na")).alias(
            "est_contain_a"
        ),
        F.when(F.col("_nb") > 0, both / F.col("_nb")).alias(
            "est_contain_b"
        ),
    )


def hll_merge_rollup(
    sketch: DataFrame, group_col: str, total_label: str = "(total)"
) -> DataFrame:
    """Exercise the HLL monoid: merge per-group register tables into a
    '(total)' sketch (groupBy(idx) max-rank — the union-of-sets merge)
    and estimate per group AND overall from the SAME register algebra.
    This is the operation that makes stored sketches pay off: a year
    of per-batch register tables collapses to one corpus-wide distinct
    estimate without re-touching a single document. Input is
    hll_sketch(...) output with one grouping column; all work is over
    (groups x 256)-row tables."""
    per = sketch.select(F.col(group_col).alias("_g"), "idx", "rho")
    merged = (
        per.groupBy("idx")
        .agg(F.max("rho").alias("rho"))
        .select(F.lit(total_label).alias("_g"), "idx", "rho")
    )
    return hll_estimate(
        per.unionByName(merged), group_cols=["_g"]
    ).withColumnRenamed("_g", group_col)


# ---------------------------------------------------------------------------
# Mergeable histogram quantile sketch
# ---------------------------------------------------------------------------
#
# The distributed-quantile primitive for BOUNDED-DOMAIN values (doc
# lengths, token counts, scores scaled to ints): per-group fixed-bin
# histograms are a MONOID (bins sum), so a year of stored per-batch /
# per-shard sketches rolls up to corpus-wide quantiles without
# re-touching documents — same storage story as hll_merge_rollup, but
# for the length/size distributions a dataset card reports. Exactness
# contract: the estimate is the true quantile rounded UP to its bin's
# upper edge (error <= bin width, chosen by the caller); every step is
# integer arithmetic, so any engine replays it bit-for-bit — unlike
# GK/KLL sketches whose merge is order-sensitive.


def histogram_sketch(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_bins: int,
    lo: int,
    width: int,
) -> DataFrame:
    """(group, bin, n) histogram rows over [lo, lo + n_bins*width);
    values outside clamp into the edge bins (the sketch never drops a
    row — a clamped outlier still counts toward every quantile).
    ONE groupBy with map-side partials: each task emits <= n_bins rows
    per group before the shuffle, whatever the corpus size."""
    v = F.col(value_col).cast("long")
    bin_ = _hist_bin(value_col, n_bins, lo, width)
    return (
        df.filter(v.isNotNull())
        .groupBy(F.col(group_col).alias("grp"), bin_.alias("bin"))
        .agg(F.count(F.lit(1)).alias("n"))
    )


def _hist_bin(value_col: str, n_bins: int, lo: int, width: int):
    """Clamped integer bin index (trunc div — identical to floor for
    the non-negative offsets the clamp admits; engine-portable)."""
    return F.least(
        F.greatest(
            F.expr(f"(CAST({value_col} AS BIGINT) - {lo}) div {width}"),
            F.lit(0).cast("long"),
        ),
        F.lit(n_bins - 1).cast("long"),
    ).cast("int")


def histogram_quantiles(
    hist: DataFrame,
    qs: tuple[float, ...],
    lo: int,
    width: int,
) -> DataFrame:
    """Quantiles from a (merged) (bin, n) histogram: for each q the
    smallest bin whose cumulative count reaches ceil(q * total); the
    estimate is that bin's [value_lo, value_hi) edge pair. All math on
    the <= n_bins-row table — the single-partition window is metadata
    -sized by construction (hll_rollup / pr_curve precedent)."""
    from pyspark.sql import Window

    merged = hist.groupBy("bin").agg(F.sum("n").alias("n"))
    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    c = merged.select(
        "bin",
        "n",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(
            Window.partitionBy().rowsBetween(
                Window.unboundedPreceding, Window.unboundedFollowing
            )
        ).alias("total"),
    )
    qdf = c.limit(1).select(
        F.explode(F.array(*[F.lit(float(q)) for q in qs])).alias("q")
    )
    target = F.ceil(F.col("q") * F.col("total")).cast("long")
    sel = (
        qdf.crossJoin(c)
        .filter(F.col("cum") >= target)
        .groupBy("q")
        .agg(
            F.min("bin").alias("bin"),
            F.max("total").alias("total"),
        )
    )
    return sel.select(
        "q",
        "bin",
        (F.lit(lo) + F.col("bin").cast("long") * width).alias("value_lo"),
        (F.lit(lo) + (F.col("bin") + 1).cast("long") * width).alias(
            "value_hi"
        ),
        "total",
    )


def quantile_rollup(
    df: DataFrame,
    value_col: str,
    group_col: str,
    qs: tuple[float, ...] = (0.5, 0.9, 0.99),
    n_bins: int = 128,
    lo: int = 0,
    width: int = 8,
) -> DataFrame:
    """Per-group sketches → monoid merge → corpus quantiles, in one
    call: the shape a scheduled pipeline uses (store histogram_sketch
    rows per batch; roll up with histogram_quantiles whenever asked)."""
    return histogram_quantiles(
        histogram_sketch(df, value_col, group_col, n_bins, lo, width),
        qs,
        lo,
        width,
    )


def score_percentiles(
    df: DataFrame,
    value_col: str,
    group_col: str,
    n_bins: int = 128,
    lo: int = 0,
    width: int = 8,
) -> DataFrame:
    """Sort-free per-group quantile normalization: each row gets its
    percentile band [pct_lo, pct_hi) within its group — pct_lo = the
    fraction of the group strictly below the row's bin, pct_hi = that
    fraction through the row's bin. The true percentile provably lies
    in the band; band width = the row's bin mass / group size.

    WHY this shape: corpora with incomparable score scales (one
    quality model per language/source) mix correctly on RANKS, not raw
    scores — but per-group rank is a per-group SORT of the corpus
    (percent_rank() over a billion-row partition = single-reducer
    death). Here the group CDF comes from the histogram sketch
    (groups × n_bins rows, map-side partials), and rows get their band
    via a BROADCAST join on (group, bin): one scan, one metadata
    broadcast, zero corpus sorts — same trick the sketch quantiles
    use, applied row-wise.

    Integer counts + one IEEE division per bound: engine-exact."""
    from pyspark.sql import Window

    hist = histogram_sketch(df, value_col, group_col, n_bins, lo, width)
    w_cum = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    cdf = hist.select(
        "grp",
        "bin",
        (F.sum("n").over(w_cum) - F.col("n")).alias("below"),
        F.col("n").alias("bin_n"),
        F.sum("n").over(w_all).alias("grp_total"),
    )
    binned = df.filter(F.col(value_col).isNotNull()).withColumn(
        "bin", _hist_bin(value_col, n_bins, lo, width)
    )
    joined = binned.join(
        F.broadcast(cdf),
        (F.col(group_col) == F.col("grp")) & (binned["bin"] == cdf["bin"]),
    ).drop(cdf["bin"]).drop("grp")
    return joined.select(
        *df.columns,
        "bin",
        (
            F.col("below").cast("double") / F.col("grp_total")
        ).alias("pct_lo"),
        (
            (F.col("below") + F.col("bin_n")).cast("double")
            / F.col("grp_total")
        ).alias("pct_hi"),
    )


def _group_median_bin(hist: DataFrame) -> DataFrame:
    """Per-group median bin from a (grp, bin, n) histogram: smallest
    bin whose cumulative count reaches ceil(total/2). Window algebra
    over the metadata-sized histogram only."""
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    c = hist.select(
        "grp",
        "bin",
        F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("total"),
    )
    half = F.expr("(total + 1) div 2")  # == ceil(total/2), integer
    return (
        c.filter(F.col("cum") >= half)
        .groupBy("grp")
        .agg(F.min("bin").alias("med_bin"))
    )


def robust_outliers(
    df: DataFrame,
    value_col: str,
    group_col: str,
    k: float = 3.0,
    n_bins: int = 128,
    lo: int = 0,
    width: int = 8,
) -> DataFrame:
    """Median/MAD outlier gate at histogram-sketch precision — the
    ROBUST companion to mean/σ z-scores (one 10^9-char pathological
    doc drags a mean and explodes a σ; the median and the median
    absolute deviation shrug). No sorts anywhere: both location
    estimates come from histogram sketches.

    Two passes over the rows (both scan-shaped, metadata shuffles):
      1. per-group value histogram → median bin; med = the bin's
         MIDPOINT, carried ×2 (med2 = 2·lo + (2·bin+1)·width) so it
         stays an INTEGER for any width;
      2. rows join their group's med2 (broadcast), dev2 = |2·v − med2|
         (integer, in doubled units), dev2 histogram → MAD bin; mad2 =
         that bin's UPPER edge (conservative: never flags on an
         underestimated MAD).
    Row flag: dev2 > k · max(mad2, 2·width) — the max() floors a
    degenerate zero-MAD group (over half the mass in one bin) at one
    bin width, turning "everything beyond the modal bin is an outlier"
    into "beyond k bins", which is the intended gate semantics.

    Estimates are bin-granular (error ≤ width in value units) —
    exactly the precision a corpus quality gate needs, and every
    quantity is integer or one IEEE multiply, so any engine replays
    the flags bit-for-bit."""
    vh = histogram_sketch(df, value_col, group_col, n_bins, lo, width)
    med = _group_median_bin(vh).select(
        "grp",
        (F.lit(2 * lo) + (2 * F.col("med_bin") + 1) * width)
        .cast("long")
        .alias("med2"),
    )
    rows = df.filter(F.col(value_col).isNotNull()).join(
        F.broadcast(med), F.col(group_col) == F.col("grp")
    ).drop("grp")
    dev2 = F.abs(
        2 * F.col(value_col).cast("long") - F.col("med2")
    )
    devd = rows.withColumn("dev2", dev2)
    dh = histogram_sketch(devd, "dev2", group_col, n_bins, 0, 2 * width)
    mad = _group_median_bin(dh).select(
        "grp",
        ((F.col("med_bin") + 1) * (2 * width)).cast("long").alias("mad2"),
    )
    out = devd.join(
        F.broadcast(mad), F.col(group_col) == F.col("grp")
    ).drop("grp")
    floor2 = F.greatest(F.col("mad2"), F.lit(2 * width)).cast("double")
    return out.select(
        *df.columns,
        "med2",
        "mad2",
        "dev2",
        (F.col("dev2").cast("double") > F.lit(float(k)) * floor2)
        .cast("int")
        .alias("is_outlier"),
    )


def join_size_estimate(
    left: DataFrame,
    right: DataFrame,
    key_col: str,
    depth: int = 4,
    width: int = 1024,
) -> DataFrame:
    """Equi-join OUTPUT cardinality estimate from count-min sketches —
    the planning probe you run BEFORE a 10^12 × 10^12 join to decide
    strategy (broadcast? salt? pre-aggregate?): |A ⋈ B| on key k is
    the inner product Σ_k a_k·b_k, and the CMS inner-product estimator
    (Cormode & Muthukrishnan 2005, §4.3) bounds it from above:

        exact <= est = min_row Σ_bucket cntA[row,b]·cntB[row,b]
        est <= exact + eps·|A|·|B|   w.p. 1-delta

    Both sides reduce to d×w counter tables (map-side partials, the
    cms_build shape) — the estimate costs two scans + a metadata join,
    never the join itself. Collision-free keys give the EXACT size
    (pinned in tests); the one-sided overestimate means the planner
    errs toward caution (never under-provisions a salt factor).

    Returns one row: (est:long, rows_left:long, rows_right:long)."""
    a = cms_build(
        left.select(F.col(key_col).cast("string").alias("token")),
        depth,
        width,
    )
    b = cms_build(
        right.select(F.col(key_col).cast("string").alias("token")),
        depth,
        width,
    )
    per_row = (
        a.alias("a")
        .join(
            b.alias("b"),
            (F.col("a.row") == F.col("b.row"))
            & (F.col("a.bucket") == F.col("b.bucket")),
        )
        .groupBy(F.col("a.row").alias("row"))
        .agg(F.sum(F.col("a.cnt") * F.col("b.cnt")).alias("ip"))
    )
    # a hash row with NO colliding buckets has inner product 0 — it
    # must participate in the min (disjoint key sets estimate 0, not
    # NULL), so reindex over the full d-row universe before the min
    rows_univ = left.sparkSession.range(depth).select(
        F.col("id").cast("int").alias("row")
    )
    est = (
        rows_univ.join(per_row, "row", "left")
        .select(F.coalesce("ip", F.lit(0)).alias("ip"))
        .agg(F.min("ip").cast("long").alias("est"))
    )
    nl = left.select(F.count(F.lit(1)).alias("rows_left"))
    nr = right.select(F.count(F.lit(1)).alias("rows_right"))
    return est.crossJoin(nl).crossJoin(nr)


def quantile_map(
    df: DataFrame,
    value_col: str,
    ref: DataFrame,
    ref_value_col: str,
    n_bins: int = 128,
    lo: int = 0,
    width: int = 8,
) -> DataFrame:
    """Quantile-transform `df`'s values onto the REFERENCE corpus's
    distribution (histogram inverse-CDF) — the cross-corpus score
    calibration step: a quality score from model A and one from model
    B only mix after both are mapped onto a common distribution, and
    at 10^12 rows the mapping must come from sketches, not sorts.

    Per row: pct = fraction of `df` strictly below the row's bin
    (its own histogram CDF), target rank = floor(pct · ref_total) + 1,
    mapped value = upper edge − 1 of the smallest reference bin whose
    cumulative count reaches the target — i.e. the reference value at
    the same percentile, at bin precision.

    Scale shape: two histogram passes (map-side partials); the source
    CDF joins rows by BROADCAST on bin; the reference inverse-CDF
    ships as ONE broadcast row holding the (bin, cum) array, probed
    with a codegen'd array_min(filter) — zero sorts, zero row-side
    shuffles beyond the scan."""
    src = df.filter(F.col(value_col).isNotNull()).withColumn(
        "_g", F.lit("s")
    )
    sh = histogram_sketch(src, value_col, "_g", n_bins, lo, width)
    from pyspark.sql import Window

    w_cum = (
        Window.partitionBy("grp")
        .orderBy("bin")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    w_all = Window.partitionBy("grp").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing
    )
    scdf = sh.select(
        "bin",
        (F.sum("n").over(w_cum) - F.col("n")).alias("below"),
        F.sum("n").over(w_all).alias("total"),
    )
    rh = histogram_sketch(
        ref.filter(F.col(ref_value_col).isNotNull()).withColumn(
            "_g", F.lit("r")
        ),
        ref_value_col,
        "_g",
        n_bins,
        lo,
        width,
    )
    rcdf = rh.select(
        "bin", F.sum("n").over(w_cum).alias("cum"),
        F.sum("n").over(w_all).alias("rtotal"),
    )
    rrow = rcdf.agg(
        F.array_sort(
            F.collect_list(F.struct("bin", "cum"))
        ).alias("rcdf"),
        F.max("rtotal").alias("ref_total"),
    )
    binned = src.withColumn(
        "bin", _hist_bin(value_col, n_bins, lo, width)
    ).drop("_g")
    joined = (
        binned.join(F.broadcast(scdf), "bin")
        .crossJoin(F.broadcast(rrow))
    )
    pct = F.col("below").cast("double") / F.col("total")
    target = (
        F.floor(pct * F.col("ref_total").cast("double")).cast("long")
        + 1
    )
    mapped_bin = F.array_min(
        F.filter("rcdf", lambda s: s["cum"] >= target)
    )["bin"]
    return joined.select(
        *df.columns,
        "bin",
        pct.alias("pct_lo"),
        mapped_bin.alias("mapped_bin"),
        (F.lit(lo) + (mapped_bin + 1).cast("long") * width - 1).alias(
            "mapped_value"
        ),
    )
