"""Text analysis operators: token counting, quality scoring, language ID,
document fingerprinting.

Token/quality metrics are pure Catalyst expressions (JVM, codegen'd).
Language ID and winnowing fingerprints are Arrow-batched UDFs (numpy /
str-vectorized pandas), never per-row Python."""

from __future__ import annotations

import numpy as np
import pandas as pd

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf
from pyspark.sql.types import ArrayType, IntegerType, LongType, StringType

from .hof import bind

# ---------------------------------------------------------------- tokens

# BPE-ish pre-tokenization: word pieces, numbers, punctuation runs —
# the GPT-2 style pre-split expressed as a Java regex usable by Catalyst
_BPE_SPLIT_JAVA = "[A-Za-z]+|[0-9]+|[^A-Za-z0-9\\s]+"


def token_count_ws(text_col: str):
    """Whitespace token count (JVM)."""
    return F.size(F.split(F.trim(F.col(text_col)), "\\s+"))


def token_count_bpe(text_col: str):
    """BPE-ish token count via regexp_count (JVM)."""
    return F.regexp_count(F.col(text_col), F.lit(_BPE_SPLIT_JAVA))


def quality_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Length / punctuation / stopword / repetition quality signals —
    all JVM expressions, one narrow projection."""
    stop = "(?i)\\b(the|a|an|and|or|of|to|in|is|are|was|for|on|with)\\b"
    tokens = F.split(F.trim(F.col(text_col)), "\\s+")
    n_tok = F.size(tokens)
    return df.withColumns(
        {
            "n_chars_m": F.length(text_col),
            "n_tokens": n_tok,
            "mean_token_len": F.length(text_col) / n_tok,
            "punct_ratio": F.regexp_count(F.col(text_col), F.lit("[^\\w\\s]"))
            / F.greatest(F.length(text_col), F.lit(1)),
            "stopword_ratio": F.regexp_count(F.col(text_col), F.lit(stop))
            / F.greatest(n_tok, F.lit(1)),
            "distinct_token_ratio": F.size(F.array_distinct(tokens))
            / F.greatest(n_tok, F.lit(1)),
        }
    )


def quality_filter(
    df: DataFrame,
    text_col: str = "text",
    min_tokens: int = 5,
    max_mean_token_len: float = 15.0,
    max_punct_ratio: float = 0.3,
    min_distinct_ratio: float = 0.2,
) -> DataFrame:
    """Training-corpus keep/drop gate (the C4/Gopher-style rule stack):
    too-short docs, absurd mean token length (markup/base64 debris),
    punctuation-heavy noise, and low distinct-token ratio (boilerplate
    repetition) are rejected with a FIRST-FAILURE reason code. Stacked
    JVM predicates over quality_metrics — fully Catalyst, one projection,
    no Python; at corpus scale this is a scan-speed filter."""
    m = quality_metrics(df, text_col)
    reason = (
        F.when(F.col("n_tokens") < min_tokens, F.lit("too_few_tokens"))
        .when(
            F.col("mean_token_len") > max_mean_token_len,
            F.lit("tokens_too_long"),
        )
        .when(F.col("punct_ratio") > max_punct_ratio, F.lit("too_much_punct"))
        .when(
            F.col("distinct_token_ratio") < min_distinct_ratio,
            F.lit("too_repetitive"),
        )
        .otherwise(F.lit(None).cast("string"))
    )
    return m.withColumn("reject_reason", reason).withColumn(
        "keep", F.col("reject_reason").isNull().cast("int")
    )


def content_filter(
    df: DataFrame,
    blocked_words: list[str],
    text_col: str = "text",
) -> DataFrame:
    """C4-style content wordlist gate (Raffel et al. 2020 §2.2 dropped
    any page containing a word from a public blocklist): lowercase,
    split on non-alphanumeric runs, count tokens that appear in the
    blocklist (multiplicity included), reject when any hit.

    Adds n_blocked:int, keep:int, reject_reason ('blocked_word'|null).

    Matching contract — exact token equality after lowercasing and
    [^a-z0-9]+ splitting — is deliberately substring-free: 'class'
    never trips a block on 'ass'. Empty tokens from leading/trailing
    delimiters can never match (blocklist entries are non-empty), so
    engine differences in empty-token handling are immaterial — which
    is what lets the DuckDB oracle mirror this bit-exactly.

    Scale shape: the blocklist ships as a literal array (real-world
    lists are a few hundred entries), so the whole gate is ONE
    codegen'd Project on the scan — zero shuffles, zero Python. Each
    token probes the list linearly inside codegen; for lists beyond
    ~10k entries switch to an explode + broadcast join instead."""
    words = F.array(
        *[F.lit(w.lower()) for w in sorted(set(blocked_words))]
    )
    tokens = F.split(F.lower(F.col(text_col)), "[^a-z0-9]+")
    nb = F.size(F.filter(tokens, lambda t: F.array_contains(words, t)))
    return (
        df.withColumn("n_blocked", nb)
        .withColumn("keep", (F.col("n_blocked") == 0).cast("int"))
        .withColumn(
            "reject_reason",
            F.when(F.col("n_blocked") > 0, F.lit("blocked_word")).cast(
                "string"
            ),
        )
    )


# ------------------------------------------------------------ normalize

# C0 control characters except the whitespace ones handled by the
# collapse below (\t \n \r \f \x0B), plus DEL. Explicit byte ranges so
# the Java (Spark) and RE2 (DuckDB oracle) engines agree character-for-
# character — never \p classes, whose Unicode coverage differs.
_CTRL_CLASS = "[\\x00-\\x08\\x0E-\\x1F\\x7F]"
_WS_CLASS = "[ \\t\\n\\r\\f\\x0B]+"


@pandas_udf(StringType())
def _nfc_udf(s: pd.Series) -> pd.Series:
    # pandas Series.str.normalize is the vectorized unicodedata.normalize
    # (one pass per Arrow batch, nulls propagate) — never per-row Python.
    return s.str.normalize("NFC")


def normalize_text(
    df: DataFrame, text_col: str = "text", out_col: str = "norm_text"
) -> DataFrame:
    """Canonical text normalization (the CCNet-style cleanup pass that
    fronts every dedup/quality stage): strip non-whitespace C0 controls
    and DEL, collapse whitespace runs to single spaces, trim, then Unicode
    NFC composition.

    Stage order is part of the contract (and mirrored exactly by the
    DuckDB oracle): controls are stripped BEFORE composition so a
    combining mark separated from its base by a control byte still
    composes; whitespace collapse cannot be affected by NFC (composition
    never produces ASCII whitespace).

    The regex stages are JVM Catalyst expressions (codegen'd, scan-speed
    at any scale); only the NFC pass crosses into Arrow, on the
    already-shrunk string. Reference parity: the reference gets its
    whitespace handling from libxml2/XPath normalize-space()
    (/root/reference/Sources/Fuzi/Queryable.swift XPath surface); this is
    the corpus-scale generalization of that primitive."""
    cleaned = F.trim(
        F.regexp_replace(
            F.regexp_replace(F.col(text_col), _CTRL_CLASS, ""),
            _WS_CLASS,
            " ",
        )
    )
    return df.withColumn(out_col, _nfc_udf(cleaned))


def _clean_tokens(text_col: str):
    """Whitespace tokens with the empty-token artifact removed (split on
    '' yields [''] — same guard as dedup.token_hashes_col)."""
    return F.filter(
        F.split(F.trim(F.col(text_col)), "\\s+"), lambda t: t != ""
    )


def lower_tokens(text_col: str):
    """`_clean_tokens` of the lowercased text: the token array of every
    bag-of-words operator (bm25, classify, lm, sketch, ...)."""
    return F.filter(
        F.split(F.trim(F.lower(F.col(text_col))), r"\s+"), lambda t: t != ""
    )


def token_entropy(text_col: str):
    """Shannon entropy (nats) of the unigram token distribution, computed
    in ONE Catalyst pass without exploding tokens into rows:
    sort the token array, then a single `aggregate` walks the sorted runs
    carrying (prev_token, run_length, Σ c·ln c); H = ln N − Σ c·ln c / N.

    The explode→groupBy(doc,token)→entropy-agg formulation shuffles every
    token of every document TWICE at 10^12 docs; this stays map-side
    (O(n log n) sort per doc inside the projection, whole-stage codegen).
    NULL when the document has no tokens.

    The sorted token array is bound once per row (ops.hof.bind): the
    expression is referenced by the aggregate AND by size() three more
    times, and higher-order-function projections get no CSE — unbound,
    the tokenize+sort ran several times per document."""

    def mk(toks):
        n = F.size(toks)
        # acc: (prev token, current run length, sum of c*ln(c) for closed runs)
        init = F.named_struct(
            F.lit("prev"), F.lit(None).cast("string"),
            F.lit("run"), F.lit(0).cast("long"),
            F.lit("acc"), F.lit(0.0).cast("double"),
        )

        def step(a, t):
            same = a["prev"].isNotNull() & (a["prev"] == t)
            run = F.when(same, a["run"] + 1).otherwise(F.lit(1).cast("long"))
            closed = F.when(
                same | a["prev"].isNull(), a["acc"]
            ).otherwise(a["acc"] + a["run"] * F.log(a["run"].cast("double")))
            return F.named_struct(
                F.lit("prev"), t, F.lit("run"), run, F.lit("acc"), closed
            )

        def fin(a):
            total = F.when(
                a["prev"].isNull(), a["acc"]
            ).otherwise(a["acc"] + a["run"] * F.log(a["run"].cast("double")))
            return total

        sum_clogc = F.aggregate(toks, init, step, fin)
        return F.when(
            n > 0, F.log(n.cast("double")) - sum_clogc / n.cast("double")
        )

    return bind(F.array_sort(_clean_tokens(text_col)), mk)


def dup_ngram_fraction(text_col: str, n: int):
    """Gopher-style repetition signal: fraction of n-gram OCCURRENCES that
    are duplicates of an earlier one — 1 − distinct/total over word
    n-grams. 0 for fully novel text, →1 for looped boilerplate. Pure
    Catalyst (no shuffle, no Python); NULL when the doc has < n tokens.

    Tokens bound once per row (ops.hof.bind) — unbound, the per-gram
    lambda re-tokenized the document for every n-gram, O(L^2)."""

    def mk(toks):
        k = F.size(toks) - (n - 1)
        grams = F.transform(
            F.sequence(F.lit(1), F.greatest(k, F.lit(1))),
            # " " separator: tokens are whitespace-split so they cannot
            # contain a space - ("ab","c") and ("a","bc") must not alias
            lambda i: F.concat_ws(" ", F.slice(toks, i, n)),
        )
        return F.when(
            k >= 1,
            F.lit(1.0) - F.size(F.array_distinct(grams)) / k.cast("double"),
        )

    return bind(_clean_tokens(text_col), mk)


def repetition_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Repetition/diversity enrichment: token entropy + duplicate-n-gram
    fractions for n = 2,3,4 (the Gopher rule-stack signals that
    distinct_token_ratio alone misses — looped PHRASES with a diverse
    vocabulary)."""
    return df.withColumns(
        {
            "token_entropy": token_entropy(text_col),
            "dup_2gram_frac": dup_ngram_fraction(text_col, 2),
            "dup_3gram_frac": dup_ngram_fraction(text_col, 3),
            "dup_4gram_frac": dup_ngram_fraction(text_col, 4),
        }
    )


# ---------------------------------------------------------------- lang id

# character-range + stopword profiles; deterministic, dependency-free
_LATIN_PROFILES = {
    "en": {"the", "and", "of", "to", "is", "in", "that", "it", "for", "was", "with", "a"},
    "es": {"el", "la", "de", "que", "y", "en", "los", "del", "las", "por", "un", "una", "es"},
    "fr": {"le", "la", "les", "de", "des", "et", "en", "un", "une", "du", "est", "dans", "que"},
    "de": {"der", "die", "das", "und", "in", "den", "von", "zu", "mit", "ist", "des", "ein"},
}


# Latin scoring lookups: ONE intersection against the union stopword set
# per row (instead of one per language), then per-hit increments via a
# word→languages table. Exactly the same predictions as four separate
# set intersections — len(toks ∩ stops_l) = Σ_{w ∈ toks ∩ union} [w ∈ stops_l]
# — with a quarter of the token-set passes.
_LATIN_LANGS = list(_LATIN_PROFILES)
_STOP_UNION = frozenset().union(*_LATIN_PROFILES.values())
_WORD_LANGS = {
    w: [i for i, l in enumerate(_LATIN_LANGS) if w in _LATIN_PROFILES[l]]
    for w in _STOP_UNION
}


# (low, high, threshold, tag) — checked in order; counts are inclusive
# codepoint-range hits over the first 2000 chars
_SCRIPT_RANGES = (
    (0x4E00, 0x9FFF, 0.05, "zh"),
    (0x0400, 0x04FF, 0.2, "ru"),
    (0x0600, 0x06FF, 0.2, "ar"),
    (0x0590, 0x05FF, 0.2, "he"),
    (0x0370, 0x03FF, 0.2, "el"),
)


# (word, lang_idx) long table for the vectorized Latin merge below
_STOP_TABLE = pd.DataFrame(
    [(w, i) for w, langs in _WORD_LANGS.items() for i in langs],
    columns=["_tok", "_lang"],
)


@pandas_udf(StringType())
def lang_id(text: pd.Series) -> pd.Series:
    """n-gram/stopword heuristic language ID.

    Script detection first (CJK/Cyrillic/Arabic/Hebrew/Greek): one numpy
    codepoint-array pass per script range over the UTF-32 view, with a
    max() early-exit for pure-Latin text. Latin languages then resolve in
    ONE vectorized block for the whole batch — lowercase/split/explode,
    per-row token dedup, merge against the (stopword, lang) table, and a
    per-(row, lang) hit count — instead of a per-row Python set
    intersection. Tie rule preserved: highest DISTINCT-stopword count,
    first language in _LATIN_LANGS order on ties, "und" on zero hits."""
    out = [None] * len(text)
    latin_idx: list[int] = []
    latin_sample: list[str] = []
    for j, t in enumerate(text):
        if not t:
            out[j] = "und"
            continue
        sample = t[:2000]
        # errors="replace": unpaired surrogates (possible in malformed
        # upstream data) must degrade to U+FFFD, not kill the Spark task
        # with UnicodeEncodeError (round-3 ADVICE fix)
        cp = np.frombuffer(
            sample.encode("utf-32-le", errors="replace"), dtype=np.uint32
        )
        n = len(cp)
        tag = None
        # below U+0370 no tracked script can match — the (dominant) Latin
        # corpus skips all five range scans on one max() pass
        if int(cp.max(initial=0)) >= 0x0370:
            for lo, hi, frac, name in _SCRIPT_RANGES:
                if np.count_nonzero((cp >= lo) & (cp <= hi)) > frac * n:
                    tag = name
                    break
        if tag is not None:
            out[j] = tag
        else:
            latin_idx.append(j)
            latin_sample.append(sample)
    if latin_idx:
        toks = (
            pd.Series(latin_sample)
            .str.lower()
            .str.split()
            .explode()
            .rename("_tok")
            .reset_index()  # index = position within latin_sample
            .drop_duplicates()  # DISTINCT stopword types per row
        )
        hits = toks.merge(_STOP_TABLE, on="_tok")
        counts = hits.groupby(["index", "_lang"]).size().reset_index(name="_n")
        # first-max-wins tie rule: stable sort by (count desc, lang asc)
        counts = counts.sort_values(
            ["index", "_n", "_lang"], ascending=[True, False, True], kind="stable"
        ).drop_duplicates("index")
        best = dict(zip(counts["index"], counts["_lang"]))
        for pos, j in enumerate(latin_idx):
            out[j] = _LATIN_LANGS[best[pos]] if pos in best else "und"
    return pd.Series(out, dtype=object)


# ---------------------------------------------------------------- fingerprint


def winnow_fingerprint_udf(k: int = 5, window: int = 4):
    """Winnowing document fingerprint (Schleimer/Wilkerson/Aiken, SIGMOD'03):
    k-gram rolling hashes, min per sliding window, deduped — the standard
    near-dup/plagiarism fingerprint. numpy sliding windows per Arrow batch."""

    # Mersenne-31 modulus: byte (<2^8) × base-power (<2^31) × k terms stays
    # under 2^44 — no int64 overflow in the windowed dot product
    base, mod = 1000003, (1 << 31) - 1
    # power vector [base^(k-1), ..., base, 1] mod M: the polynomial k-gram
    # hash as ONE matrix product per document instead of a per-character
    # Python rolling-update loop (identical values — the rolling recurrence
    # is exactly this polynomial evaluated mod M)
    pw_vec = np.array(
        [pow(base, k - 1 - j, mod) for j in range(k)], dtype=np.int64
    )

    @pandas_udf(ArrayType(LongType()))
    def _udf(text: pd.Series) -> pd.Series:
        out = []
        for t in text:
            if not t or len(t) < k:
                out.append([])
                continue
            b = np.frombuffer(t.encode("utf-8"), dtype=np.uint8).astype(np.int64)
            if len(b) < k:
                out.append([])
                continue
            sw = np.lib.stride_tricks.sliding_window_view(b, k)
            hashes = (sw @ pw_vec) % mod
            if len(hashes) <= window:
                out.append([int(hashes.min())])
                continue
            mins = np.lib.stride_tricks.sliding_window_view(hashes, window).min(
                axis=1
            )
            out.append(np.unique(mins).tolist())
        return pd.Series(out)

    return _udf


def corpus_report(
    df: DataFrame,
    group_cols: list[str],
    chars_col: str = "n_chars",
    exact: bool = True,
) -> DataFrame:
    """Per-stratum corpus profile — the summary a mixing decision reads:
    (group_cols..., n_docs:long, total_chars:long, median_chars:double,
    p90_chars:double).

    `exact=True` uses Spark's exact `percentile` (R-7 linear
    interpolation — the SAME definition as DuckDB's quantile_cont, so
    the oracle matches to the bit). Exact percentile buffers each
    group's values in the aggregation state, which is fine for stratum
    cardinalities (languages × sources) but NOT for adversarial group
    sizes at 10^12 docs — pass exact=False there to switch to
    approx_percentile (t-digest sketch, map-side combinable, bounded
    state; no longer oracle-exact, accuracy 1e-4 relative rank).

    Scale shape: ONE group-keyed shuffle either way; count/sum always
    combine map-side.
    """
    pct = (
        F.percentile(F.col(chars_col), F.array(F.lit(0.5), F.lit(0.9)))
        if exact
        else F.approx_percentile(
            F.col(chars_col), F.array(F.lit(0.5), F.lit(0.9)), F.lit(10000)
        )
    )
    return (
        df.groupBy(*group_cols)
        .agg(
            F.count("*").alias("n_docs"),
            F.sum(F.col(chars_col)).cast("long").alias("total_chars"),
            pct.alias("_pct"),
        )
        .select(
            *group_cols,
            "n_docs",
            "total_chars",
            F.col("_pct")[0].cast("double").alias("median_chars"),
            F.col("_pct")[1].cast("double").alias("p90_chars"),
        )
    )


def vocab_table(
    df: DataFrame, text_col: str = "text", min_count: int = 1
) -> DataFrame:
    """Corpus vocabulary with deterministic ids — the input a tokenizer
    trainer (BPE/unigram) reads: (token, n:long, token_id:int), ids
    dense 0..V-1 assigned by (count desc, token asc).

    The tie-break makes the id assignment a pure function of the corpus
    — re-runs and cluster-size changes produce the identical vocabulary,
    so checkpointed training jobs can resume against it.

    Scale shape: the token count is ONE map-side-combinable shuffle
    (10^12·L token rows reduce to partial (token, n) pairs per task
    before moving). The global rank is a single-partition window sort —
    deliberate: after the agg + min_count cut the vocabulary is
    metadata-sized (10^5-10^8 rows) next to the corpus, and a total
    order is exactly what id assignment needs.
    """
    toks = df.select(
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("token")
    ).filter(F.col("token") != "")
    counts = (
        toks.groupBy("token")
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") >= min_count)
    )
    from pyspark.sql import Window

    w = Window.orderBy(F.desc("n"), F.asc("token"))
    return counts.withColumn(
        "token_id", (F.row_number().over(w) - 1).cast("int")
    )


def encode_documents(
    df: DataFrame,
    vocab: DataFrame,
    text_col: str = "text",
    id_col: str = "doc_id",
    unk_id: int = -1,
) -> DataFrame:
    """Apply a `vocab_table` vocabulary: token-id sequences per document
    — the tokenizer-application step that turns curated text into
    trainer input. Returns (id_col, token_ids:array<int>, n_tokens:long,
    n_unk:long); out-of-vocabulary tokens encode as `unk_id`.

    Tokenization matches vocab_table exactly (lowercase, split \\s+,
    drop empty), so a vocabulary trained by it round-trips with
    n_unk = 0 on its own training corpus (pinned in tests).

    Scale shape: ZERO shuffles — the vocabulary is collected driver-side
    and rides the closure to every task (tokenizer vocabularies are
    32k-256k entries by construction; the collect is the same guarded
    metadata-sized-query contract as similarity.cosine_topk_ivf). The
    JVM-join alternative (explode → broadcast join → collect_list) would
    re-shuffle every token of the corpus just to reassemble order. The
    UDF is Arrow-batched; the per-token dict lookup is the irreducible
    work of encoding.
    """
    pairs = vocab.select("token", "token_id").collect()
    table = {r.token: r.token_id for r in pairs}
    if not table:
        raise ValueError("empty vocabulary")
    unk = int(unk_id)

    import re

    split = re.compile(r"\s+", re.ASCII).split  # Java/RE2 \s parity

    @pandas_udf(ArrayType(IntegerType()))
    def _encode(text: pd.Series) -> pd.Series:
        get = table.get
        return pd.Series(
            [
                [get(w, unk) for w in split(t.lower().strip()) if w]
                if t
                else []
                for t in text
            ],
            index=text.index,
        )

    ids = F.col("token_ids")
    return (
        df.select(F.col(id_col), _encode(F.col(text_col)).alias("token_ids"))
        .withColumn("n_tokens", F.size(ids).cast("long"))
        .withColumn(
            "n_unk",
            F.size(F.filter(ids, lambda x: x == unk)).cast("long"),
        )
    )


def readability_metrics(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Flesch reading-ease readability — the classic complexity signal
    curation recipes use to bucket corpora by audience level.

    Deterministic approximation, identical in Spark and the SQL oracle:
    words = '[A-Za-z]+' runs, sentences = '[.!?]+' runs (floored at 1
    once any word exists), syllables = '[aeiouyAEIOUY]+' vowel groups
    (the standard regex surrogate — no dictionary). flesch rounds to 4
    decimals; a wordless document scores NULL, never a div-by-zero.

    Scale shape: pure Catalyst — three regexp_count in ONE codegen'd
    narrow projection on the scan; zero shuffles, zero Python."""
    words = F.regexp_count(F.col(text_col), F.lit("[A-Za-z]+"))
    sents = F.greatest(
        F.regexp_count(F.col(text_col), F.lit("[.!?]+")), F.lit(1)
    )
    syll = F.regexp_count(F.col(text_col), F.lit("[aeiouyAEIOUY]+"))
    flesch = F.when(
        words > 0,
        F.round(
            F.lit(206.835)
            - F.lit(1.015) * (words.cast("double") / sents)
            - F.lit(84.6) * (syll.cast("double") / words),
            4,
        ),
    )
    return df.select(
        "doc_id",
        words.cast("long").alias("n_words"),
        F.when(words > 0, sents).otherwise(F.lit(0))
        .cast("long").alias("n_sentences"),
        syll.cast("long").alias("n_syllables"),
        flesch.alias("flesch"),
    )


# ------------------------------------------------------- mojibake repair

_MOJI_MARKERS = ("Ã", "Â", "â€")  # Ã, Â, â€ — the
# cp1252 renderings of the UTF-8 lead bytes 0xC3/0xC2 and the 0xE2 0x80
# punctuation prefix; virtually every Latin-script double-encoding shows
# at least one.


def _repair_mojibake_one(s: str) -> tuple:
    """One repair pass on one string. A row repairs iff it carries a
    marker, round-trips through cp1252 (then latin-1 for the few bytes
    cp1252 leaves undefined), decodes as STRICT UTF-8, and the decode
    actually changed something. Anything else — including marker-bearing
    text whose bytes are NOT valid UTF-8 (real 'Ã la carte' French) —
    passes through untouched. Total: never raises."""
    if not any(m in s for m in _MOJI_MARKERS):
        return s, 0
    for enc in ("cp1252", "latin-1"):
        try:
            b = s.encode(enc)
        except UnicodeEncodeError:
            continue
        try:
            d = b.decode("utf-8")
        except UnicodeDecodeError:
            return s, 0
        return (d, 1) if d != s else (s, 0)
    return s, 0


def fix_mojibake(
    df: DataFrame, text_col: str = "text", out_col: str = "fixed_text"
) -> DataFrame:
    """Repair UTF-8-decoded-as-cp1252 double encoding ('cafÃ©' →
    'café') — the most common encoding corruption in web crawls, where
    an origin served UTF-8 bytes under a legacy-charset header and some
    intermediate store re-encoded them.

    Single-pass contract (pinned): one decode layer per call; feeding
    the output back repairs deeper nestings. Detection is conservative —
    see _repair_mojibake_one — so legitimate Latin-1-range text that is
    not a valid UTF-8 byte image never changes.

    Scale shape: ONE Arrow-batched pandas pass (same budget as
    normalize_text's NFC stage); inside the batch only marker-bearing
    rows (vectorized str.contains prefilter) pay the per-row codec
    round-trip — clean corpora cost two vectorized scans per batch.
    Zero shuffles, narrow map."""

    @pandas_udf("struct<fixed: string, was: int>")
    def _udf(s: pd.Series) -> pd.DataFrame:
        fixed = s.copy()
        was = pd.Series(0, index=s.index, dtype="int32")
        mask = s.notna() & s.str.contains(
            "Ã|Â|â€", regex=True
        )
        for i in s.index[mask]:
            f, w = _repair_mojibake_one(s[i])
            fixed[i], was[i] = f, w
        return pd.DataFrame({"fixed": fixed, "was": was})

    r = _udf(F.col(text_col))
    return df.withColumn(out_col, r["fixed"]).withColumn(
        "was_mojibake", r["was"]
    )


# ------------------------------------------------------- code detection

_CODE_KEYWORDS = (
    r"\b(?:def|class|return|import|function|var|let|const|void|public|"
    r"static|if|else|for|while|struct|enum|fn|println|printf)\b"
)


def detect_code(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Source-code detection — the corpus-routing signal that splits a
    web crawl into prose vs code streams (different tokenizers, quality
    gates, and mixture weights downstream).

    Deterministic feature formula, identical in Spark and the SQL
    oracle (all regexes in the Java∩RE2 subset):
    - punct_line_frac: lines ending in ; { or } (closing-brace lines,
      statement terminators) over total lines
    - indent_frac: lines starting with a tab or ≥4 spaces
    - n_keywords: reserved-word hits across ~20 common languages
    - code_score = 0.5·punct_line_frac + 0.3·indent_frac
      + 0.2·min(n_keywords, 10)/10, rounded to 4 decimals
    - is_code = score ≥ 0.25

    Scale shape: pure Catalyst — four regexp_count + arithmetic in ONE
    codegen'd projection on the scan; zero shuffles, zero Python."""
    t = F.col(text_col)
    n_lines = (
        F.length(t) - F.length(F.regexp_replace(t, "\n", "")) + 1
    ).cast("double")
    punct = F.regexp_count(t, F.lit("(?m)[;{}][ \t]*$")).cast("double")
    indent = F.regexp_count(t, F.lit("(?m)^(?:\t|    )")).cast("double")
    kw = F.regexp_count(t, F.lit(_CODE_KEYWORDS))
    score = F.round(
        F.lit(0.5) * (punct / n_lines)
        + F.lit(0.3) * (indent / n_lines)
        + F.lit(0.2) * F.least(kw, F.lit(10)).cast("double") / F.lit(10.0),
        4,
    )
    return df.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        punct.cast("long").alias("n_punct_lines"),
        indent.cast("long").alias("n_indent_lines"),
        kw.cast("long").alias("n_keywords"),
        score.alias("code_score"),
        (score >= 0.25).cast("int").alias("is_code"),
    )


def span_language(
    df: DataFrame, spans_col: str = "spans", id_col: str = "doc_id"
) -> DataFrame:
    """Per-span language ID over interleaved span arrays — the
    code-switch signal: a multilingual page (or a boilerplate-injected
    one) carries paragraphs in different languages, and routing/filtering
    on the DOCUMENT-level lang_id mislabels every minority-language span.
    Emits (doc_id, seq, kind, lang) for every textual span; media spans
    and empty text are skipped, and seq is the span's position in the
    ORIGINAL array so results join back against the span stream.

    Scale shape: posexplode of (kind, text) STRINGS only (media_ref and
    the rest never leave the row), then the SAME Arrow-batched lang_id
    pass the document-level operator uses — narrow map, zero shuffles."""
    ex = df.select(
        F.col(id_col),
        F.posexplode(F.col(spans_col)).alias("seq", "s"),
    )
    t = ex.filter(
        (F.col("s.kind") != "media") & (F.length(F.col("s.text")) > 0)
    )
    return t.select(
        id_col,
        F.col("seq").cast("int").alias("seq"),
        F.col("s.kind").alias("kind"),
        lang_id(F.col("s.text")).alias("lang"),
    )


def reflow_text(
    df: DataFrame, text_col: str = "text", out_col: str = "reflowed"
) -> DataFrame:
    """Line-break repair for extracted text (the PDF/column-layout
    cleanup normalize_text deliberately does NOT do — that pass
    collapses ALL whitespace; this one PRESERVES paragraph structure):

    1. dehyphenate words split at end-of-line: latin letter + '-' +
       newline + lowercase latin letter joins with the hyphen removed
       ('exam-\\nple' → 'example'); hyphens before capitals or digits
       are kept (proper-noun compounds, page refs);
    2. paragraph breaks (2+ newlines, with any interleaved spaces)
       survive as exactly '\\n\\n';
    3. remaining single newlines become spaces (the reflow);
    4. horizontal whitespace runs (spaces, tabs) collapse to one
       space.

    Every stage is one JVM regexp_replace (codegen'd, scan-speed); the
    DuckDB oracle mirrors the identical four-pattern chain, so the
    contract IS the regex sequence. Stage order matters and is pinned:
    dehyphenation must see raw newlines (before reflow), and paragraph
    detection must run before single-newline reflow. The paragraph
    sentinel is \\x00 — stripped from any input that went through
    normalize_text's control-strip first, and vanishingly rare in real
    extracted text otherwise."""
    t = F.col(text_col)
    t = F.regexp_replace(t, "([A-Za-z])-[ \\t]*\\n[ \\t]*([a-z])", "$1$2")
    t = F.regexp_replace(t, "[ \\t]*\\n[ \\t]*(\\n[ \\t]*)+", "\x00")
    t = F.regexp_replace(t, "[ \\t]*\\n[ \\t]*", " ")
    t = F.regexp_replace(t, "[ \\t]+", " ")
    t = F.regexp_replace(t, "\x00", "\n\n")
    return df.withColumn(out_col, F.trim(t))


def split_sentences(
    df: DataFrame, text_col: str = "text", id_col: str = "doc_id"
) -> DataFrame:
    """Explode documents into sentence rows: (id_col, sent_idx,
    sentence) — the granularity decontamination and dedup sometimes
    need below the passage level.

    Rule (documented, deliberately simple): a sentence boundary is a
    terminator [.!?] — optionally followed by one closing quote/paren
    [\"')\\]] — then whitespace, then an opening capital [A-Z\"'( ; the
    terminator (and its closer) stay with the left sentence. Java
    lookbehind/lookahead keep the split zero-width, so sentences
    reassemble to the original text minus the inter-sentence
    whitespace. Known limitation (by design, pinned in tests):
    abbreviations like 'Dr. Smith' split — a corpus-scale splitter
    trades that for never holding per-language abbreviation tables in
    the hot path. Zero Python; one Generate (explode) per doc."""
    parts = F.split(
        F.col(text_col), "(?<=[.!?][\"')\\]]?)\\s+(?=[A-Z\"'(])"
    )
    ex = df.select(
        F.col(id_col),
        F.posexplode_outer(parts).alias("sent_idx", "sentence"),
    )
    return ex.filter(
        F.col("sentence").isNull() | (F.trim(F.col("sentence")) != "")
    )


# ---------------------------------------------------- script mixing / spoof

# letter classes of the three mutually-confusable European scripts —
# Cyrillic 'а/о/е/р/с' and Greek 'ο/ν' render identically to Latin in
# most fonts, which is exactly what homoglyph spam exploits.
_LATIN_CLS = "[A-Za-z]"
_CYR_CLS = "[Ѐ-ӿ]"
_GREEK_CLS = "[Ͱ-Ͽ]"
# lookahead form: each match consumes ONE char and asserts the next,
# so a latin-cyr-latin run counts BOTH transitions (a plain two-char
# class pair would consume the shared middle char and undercount —
# regexp_count matches non-overlapping)
_CONFUSABLE_PAIR = (
    f"(?:{_LATIN_CLS}(?=[Ѐ-ӿͰ-Ͽ])"
    f"|[Ѐ-ӿͰ-Ͽ](?={_LATIN_CLS}))"
)


def script_mix(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Unicode script-mixing signals — the homoglyph-spoof/spam filter
    (keyword stuffing that swaps Latin letters for identical-looking
    Cyrillic/Greek ones to evade exact-match dedup and blocklists;
    a tokenizer then shatters such words into byte junk, so a trainer
    wants them flagged).

    Adds, all as JVM regexp_count expressions inside one codegen'd
    projection — zero Python, scan-speed at any corpus size:
    - n_latin / n_cyrillic / n_greek: letters per script;
    - n_confusable_pairs: ADJACENT cross-script letter pairs
      (Latin↔Cyrillic/Greek inside a word — organic multilingual text
      switches scripts at word boundaries, spoofed words switch
      mid-word);
    - dominant_script: 'latin'|'cyrillic'|'greek'|'none', ties by
      that fixed priority — deterministic at any parallelism;
    - script_spoof: 1 when any confusable pair exists.

    NULL text propagates NULL (never a fake clean row)."""
    t = F.col(text_col)
    n_lat = F.regexp_count(t, F.lit(_LATIN_CLS))
    n_cyr = F.regexp_count(t, F.lit(_CYR_CLS))
    n_grk = F.regexp_count(t, F.lit(_GREEK_CLS))
    pairs = F.regexp_count(t, F.lit(_CONFUSABLE_PAIR))
    dominant = (
        F.when(t.isNull(), F.lit(None).cast("string"))
        .when((n_lat == 0) & (n_cyr == 0) & (n_grk == 0), F.lit("none"))
        .when((n_lat >= n_cyr) & (n_lat >= n_grk), F.lit("latin"))
        .when(n_cyr >= n_grk, F.lit("cyrillic"))
        .otherwise(F.lit("greek"))
    )
    return df.withColumns(
        {
            "n_latin": n_lat.cast("long"),
            "n_cyrillic": n_cyr.cast("long"),
            "n_greek": n_grk.cast("long"),
            "n_confusable_pairs": pairs.cast("long"),
            "dominant_script": dominant,
            "script_spoof": (pairs > 0).cast("int"),
        }
    )


# ------------------------------------------------------ compression ratio

_COMPRESS_SCHEMA = "struct<zlib_ratio:double,reject_reason:string,keep:int>"


def compression_signals(
    df: DataFrame,
    text_col: str = "text",
    min_ratio: float = 0.25,
    max_ratio: float = 0.80,
) -> DataFrame:
    """Compression-ratio quality gate: zlib(level 6) bytes over raw
    utf-8 bytes. Natural prose lands mid-range (~0.6-0.8 at paragraph
    lengths); templated/repeated junk compresses away (ratio → 0);
    high-entropy non-language debris (hashes, base64, minified blobs,
    DNA-soup spam) stays near 1. Both extremes are exactly what a
    training corpus drops, and the signal needs no language model —
    one cheap pass per doc.

    reject_reason: 'too_repetitive' (< min_ratio) | 'too_random'
    (> max_ratio) | 'empty' | NULL (keep). NULL text → all-NULL row.
    Thresholds are length-sensitive (zlib's ~8-byte header dominates
    tiny inputs, pushing SHORT clean text over max_ratio) — callers
    gate on a minimum length first (quality_filter's min_tokens).

    Arrow-batched pandas UDF — zlib is C-speed and the only Python in
    the loop is the per-row call; at corpus scale this is I/O-bound
    next to the parquet scan."""
    import zlib

    lo, hi = float(min_ratio), float(max_ratio)

    @pandas_udf(_COMPRESS_SCHEMA)
    def _udf(text: pd.Series) -> pd.DataFrame:
        rows = []
        for t in text:
            if t is None:
                rows.append((None, None, None))
                continue
            raw = t.encode("utf-8", "replace")
            if not raw:
                rows.append((None, "empty", 0))
                continue
            ratio = len(zlib.compress(raw, 6)) / len(raw)
            reason = (
                "too_repetitive" if ratio < lo
                else "too_random" if ratio > hi
                else None
            )
            rows.append((ratio, reason, int(reason is None)))
        return pd.DataFrame(
            rows, columns=["zlib_ratio", "reject_reason", "keep"]
        )

    return df.withColumn("_c", _udf(F.col(text_col))).select(
        "*", "_c.zlib_ratio", "_c.reject_reason", "_c.keep"
    ).drop("_c")


def code_quality(
    df: DataFrame,
    text_col: str = "text",
    max_line: int = 1000,
    max_avg_line: float = 100.0,
    min_alnum_frac: float = 0.25,
    max_digit_frac: float = 0.50,
) -> DataFrame:
    """Code-file quality gate — The Stack / StarCoder data-prep filters
    for documents already routed as source code by `detect_code`:
    oversized lines (minified/embedded blobs), high average line length
    (single-line bundles), low alphanumeric fraction (binary-ish or
    symbol soup), digit-dominated content (data files checked in as
    code), and auto-generated headers ("do not edit" / "generated by"
    in the first 300 chars — machine output that teaches a model
    nothing new and floods near-dedup).

    First-failure reason precedence (the repo's curation convention):
    empty > long_line > avg_line > low_alnum > data_file > autogen.
    avg_line_len is the closed form (len - (n_lines-1)) / n_lines —
    total chars minus newlines over line count — identical in the SQL
    oracle. NULL text → all-NULL metrics, reason 'empty', keep 0.

    Scale shape: pure Catalyst — split/transform/array_max plus three
    regexp_replace-length fractions in ONE codegen'd projection on the
    scan; zero shuffles, zero Python. All regexes in the Java∩RE2
    subset so DuckDB replays them verbatim."""
    t = F.col(text_col)
    n_chars = F.length(t).cast("double")
    # NULL divisor on empty text (ANSI mode raises on 0/0); the 'empty'
    # reason fires first so the NULL fractions never reach a verdict
    nc_nz = F.when(n_chars > 0, n_chars)
    n_lines = (
        F.length(t) - F.length(F.regexp_replace(t, "\n", "")) + 1
    ).cast("double")
    max_len = F.array_max(
        F.transform(F.split(t, "\n"), lambda x: F.length(x))
    ).cast("long")
    avg_len = F.round((n_chars - (n_lines - 1)) / n_lines, 4)
    alnum = F.round(
        F.length(F.regexp_replace(t, "[^A-Za-z0-9]", "")) / nc_nz, 4
    )
    digit = F.round(
        F.length(F.regexp_replace(t, "[^0-9]", "")) / nc_nz, 4
    )
    autogen = (
        F.regexp_count(
            F.lower(F.substring(t, 1, 300)),
            F.lit("auto-generated|autogenerated|do not edit|generated by"),
        )
        > 0
    ).cast("int")
    reason = (
        F.when(t.isNull() | (F.length(t) == 0), F.lit("empty"))
        .when(max_len > max_line, F.lit("long_line"))
        .when(avg_len > max_avg_line, F.lit("avg_line"))
        .when(alnum < min_alnum_frac, F.lit("low_alnum"))
        .when(digit > max_digit_frac, F.lit("data_file"))
        .when(autogen == 1, F.lit("autogen"))
    )
    return df.select(
        "doc_id",
        n_lines.cast("long").alias("n_lines"),
        max_len.alias("max_line_len"),
        avg_len.alias("avg_line_len"),
        alnum.alias("alnum_frac"),
        digit.alias("digit_frac"),
        autogen.alias("autogen"),
        reason.alias("reject_reason"),
        reason.isNull().cast("int").alias("keep"),
    )


def tokenizer_fertility(
    docs: DataFrame,
    group_col: str = "lang",
    text_col: str = "text",
) -> DataFrame:
    """Per-group tokenizer fertility: how many characters and UTF-8
    bytes one token buys, by language/source — the diagnostic that
    decides multilingual token budgets (a fertility-2x language burns
    its budget twice as fast for the same text mass; temperature
    rebalancing and token_budget_plan both consume exactly this
    table). Token convention = the repo's BPE-ish regex (token_count),
    so numbers are comparable with text_quality/repetition.

    One scan, one groupBy with map-side partials; |groups| rows out.
    Returns (group, n_docs, n_tokens, n_chars, n_bytes,
    chars_per_token, bytes_per_token, tokens_per_doc) — ratios NULL
    for a group with zero tokens rather than an ANSI zero-division."""
    t = F.coalesce(F.col(text_col), F.lit(""))
    per = docs.groupBy(F.col(group_col).alias("grp")).agg(
        F.count("*").alias("n_docs"),
        F.sum(F.regexp_count(t, F.lit(_BPE_SPLIT_JAVA))).alias("n_tokens"),
        F.sum(F.length(t)).alias("n_chars"),
        F.sum(F.octet_length(t)).alias("n_bytes"),
    )
    tok = F.col("n_tokens").cast("double")
    return per.select(
        F.col("grp").alias(group_col),
        F.col("n_docs").cast("bigint").alias("n_docs"),
        F.col("n_tokens").cast("bigint").alias("n_tokens"),
        F.col("n_chars").cast("bigint").alias("n_chars"),
        F.col("n_bytes").cast("bigint").alias("n_bytes"),
        F.when(tok > 0, F.col("n_chars") / tok).alias("chars_per_token"),
        F.when(tok > 0, F.col("n_bytes") / tok).alias("bytes_per_token"),
        (tok / F.col("n_docs")).alias("tokens_per_doc"),
    )
