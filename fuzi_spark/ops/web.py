"""Web-corpus domain operators: host extraction, per-domain rollups,
domain blocklist filtering.

A crawled corpus is curated at DOMAIN granularity before anything else:
per-domain document counts and byte totals drive sampling weights, and
blocklists (spam, SEO farms, opted-out sites) remove whole hosts. Both
need the host extracted from the document URL at scan speed.

Host extraction is a single `regexp_extract` kept in the Java∩RE2
pattern subset (so the DuckDB oracle re-runs it verbatim) rather than
`parse_url`: the JVM's parse_url delegates to java.net.URI, which
RAISES on the malformed URLs a crawl is full of, and has no RE2
equivalent for the oracle. The regex is total — no match → empty
string, flagged rather than dropped.
"""

from __future__ import annotations

import re

import pandas as pd

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.pandas.functions import pandas_udf

# scheme://host, stopping at the first of / : ? #. Lowercased — hosts
# are case-insensitive (RFC 3986 §3.2.2) and mixed-case duplicates
# would split a domain's rollup row.
_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://([^/:?#]+)"


def host_of(url_col: str) -> Column:
    """Lowercased host of a URL; '' when the value has no scheme://host
    prefix (relative refs, garbage) — callers decide drop vs keep."""
    return F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1))


def domain_stats(
    docs: DataFrame,
    url_col: str = "url",
    id_col: str = "doc_id",
    chars_col: str = "n_chars",
) -> DataFrame:
    """Per-domain rollup: (domain, n_docs:long, total_chars:long,
    max_chars:long). Unparseable URLs roll up under domain ''.

    Scale shape: ONE shuffle, keyed by domain, with map-side partial
    aggregation — 10^12 rows reduce to ~domain-count rows per task
    before moving. Domain skew (a few giant hosts) only skews the
    REDUCE side of a partial agg, where each hot key is already one
    row per upstream task; AQE's skew handling covers the residue.
    """
    return (
        docs.select(
            host_of(url_col).alias("domain"),
            F.col(chars_col).cast("long").alias("_c"),
        )
        .groupBy("domain")
        .agg(
            F.count("*").alias("n_docs"),
            F.sum("_c").alias("total_chars"),
            F.max("_c").alias("max_chars"),
        )
    )


def filter_blocked_domains(
    docs: DataFrame,
    blocked: DataFrame,
    url_col: str = "url",
    blocked_col: str = "domain",
) -> DataFrame:
    """Drop every doc whose URL host appears in `blocked` (case-
    insensitive). Returns the input rows unchanged, minus blocked ones.

    Scale shape: blocklists are list-sized (10^4-10^7 hosts) next to the
    corpus, so the block set BROADCASTS and the corpus never shuffles —
    a left_anti BroadcastHashJoin on the extracted host.
    """
    blk = blocked.select(F.lower(F.col(blocked_col)).alias("_blk")).distinct()
    return (
        docs.withColumn("_host", host_of(url_col))
        .join(F.broadcast(blk), F.col("_host") == F.col("_blk"), "left_anti")
        .drop("_host")
    )


def top_terms(
    docs: DataFrame,
    k: int = 5,
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Top-k most document-specific terms per doc, TF-IDF-family scored.

    score = tf / df — term frequency in the doc over the number of docs
    containing the term. Rank-equivalent to tf·idf with the inverse-df
    weighting; chosen over log-idf because IEEE division is bit-exact
    across engines (the DuckDB oracle reproduces every score to the
    bit), while two libm `ln`s are only ULP-close. Ties break by
    (tf desc, term asc), so the output is fully deterministic.

    Returns (id_col, term, tf:long, df:long, score:double, rank:int).

    Scale shape: three shuffles, each the minimal one for its reduction
    — (doc,term) tf agg and term df agg are both map-side combinable
    (10^12·L token rows reduce per-task before moving); the tf⋈df join
    is term-keyed with the df side vocabulary-sized (AQE broadcasts it
    when it fits, and its skew-join splits the stopword keys when it
    does not); the per-doc top-k window reuses doc-hash partitioning
    over ≤|doc vocabulary| rows per doc.
    """
    toks = docs.select(
        F.col(id_col),
        F.explode(F.split(F.lower(F.col(text_col)), r"\s+")).alias("term"),
    ).filter(F.col("term") != "")
    tf = toks.groupBy(id_col, "term").agg(F.count("*").alias("tf"))
    dfreq = tf.groupBy("term").agg(F.count("*").alias("df"))
    scored = tf.join(dfreq, "term").withColumn(
        "score", F.col("tf") / F.col("df")
    )
    from pyspark.sql import Window

    w = Window.partitionBy(id_col).orderBy(
        F.desc("score"), F.desc("tf"), F.asc("term")
    )
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "term", "tf", "df", "score", "rank")
    )


def link_graph(
    docs: DataFrame, markup_col: str = "markup", id_col: str = "doc_id"
) -> DataFrame:
    """Outbound-link graph rollup: parse each document's HTML, select
    every anchor with the XPath surface, and aggregate in-degree per
    target domain — the crawl-frontier/PageRank-feeder step, and the
    integration of the two halves of this engine (Fuzi query surface →
    relational analytics).

    Returns (domain, in_degree:long, n_sources:long) — n_sources is the
    count of DISTINCT linking docs. Relative/garbage hrefs (no
    scheme://host) are dropped; anchors without href never surface
    (null-href rows fail the domain filter).

    Scale shape: ONE Arrow-batched parse pass (the same xpath_select
    UDF the query surface uses — never per-row Python), an explode of
    href STRINGS only (snapshots are pruned to the one attribute before
    the explode), then a domain-keyed map-side-combinable agg: the only
    shuffle carries (domain, partial counts).
    """
    from ..udfs import xpath_select

    snaps = xpath_select("//a", doc_type="html")(F.col(markup_col))
    hrefs = docs.select(
        F.col(id_col),
        F.explode(
            F.transform(snaps, lambda s: s["attributes"]["href"])
        ).alias("url"),
    )
    return (
        hrefs.withColumn("domain", host_of("url"))
        .filter(F.col("domain") != "")
        .groupBy("domain")
        .agg(
            F.count("*").alias("in_degree"),
            F.count_distinct(id_col).alias("n_sources"),
        )
    )


def anchor_text_index(
    docs: DataFrame,
    markup_col: str = "markup",
    id_col: str = "doc_id",
    min_links: int = 1,
) -> DataFrame:
    """Inbound anchor-text index per target URL — the classic web-IR
    relevance signal (anchor text describes the TARGET page better
    than the page itself; search engines and LLM-corpus quality
    scorers both index it).

    Per distinct href: (url, n_links, n_docs, top_anchor) where
    top_anchor is the most frequent whitespace-normalized anchor text
    (ties broken lexicographically — deterministic at any parallelism).
    Empty/missing hrefs drop; empty anchor texts drop (icon links).

    Scale shape: ONE linear tree — parse the corpus ONCE (the same
    Arrow-batched xpath_select UDF as link_graph), explode (href,
    anchor) STRING pairs only, ONE url-keyed exchange, then a
    (url, anchor, doc) pre-agg and stacked url-partitioned windows for
    every rollup (link total, distinct-doc count via the
    first-occurrence-indicator trick, anchor-frequency rank). A naive
    per_url-join-top formulation reads twice: Catalyst's ReuseExchange
    cannot dedup the two branches because column pruning makes their
    subplans non-identical, so the parse UDF would run per branch —
    at 10^12 docs that doubles the dominant cost. HashPartitioning on
    url satisfies every window/agg below it (subset clustering), so no
    further shuffles."""
    from pyspark.sql import Window

    from ..udfs import xpath_select

    snaps = xpath_select("//a", doc_type="html")(F.col(markup_col))
    pairs = (
        docs.select(
            F.col(id_col),
            F.explode(
                F.transform(
                    snaps,
                    lambda s: F.struct(
                        s["attributes"]["href"].alias("url"),
                        s["string_value"].alias("anchor"),
                    ),
                )
            ).alias("lnk"),
        )
        .select(
            F.col(id_col),
            F.col("lnk.url").alias("url"),
            F.trim(
                F.regexp_replace(F.col("lnk.anchor"), r"\s+", " ")
            ).alias("anchor"),
        )
        .filter(
            F.col("url").isNotNull()
            & (F.col("url") != "")
            & (F.col("anchor") != "")
        )
        .repartition(F.col("url"))
    )
    g = pairs.groupBy("url", "anchor", id_col).agg(
        F.count("*").alias("cnt")
    )
    w_url = Window.partitionBy("url")
    w_anchor = Window.partitionBy("url", "anchor")
    w_doc = Window.partitionBy("url", id_col).orderBy("anchor")
    w_rank = Window.partitionBy("url").orderBy(
        F.desc("anchor_cnt"), F.asc("anchor"), F.asc(id_col)
    )
    t = (
        g.withColumn("anchor_cnt", F.sum("cnt").over(w_anchor))
        .withColumn("n_links", F.sum("cnt").over(w_url))
        .withColumn("doc_rn", F.row_number().over(w_doc))
        .withColumn(
            "n_docs",
            F.sum(
                F.when(F.col("doc_rn") == 1, F.lit(1)).otherwise(F.lit(0))
            ).over(w_url),
        )
        .withColumn("rk", F.row_number().over(w_rank))
    )
    return (
        t.filter(F.col("rk") == 1)
        .select(
            "url",
            F.col("n_links").cast("long").alias("n_links"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.col("anchor").alias("top_anchor"),
        )
        .filter(F.col("n_links") >= min_links)
    )


# tracking-param names every major pipeline strips before URL dedup:
# utm_* (Google Analytics campaign tags) plus the big click-id params.
# Exact-name list kept small and documented — canonicalization must be
# conservative (a dropped functional param aliases distinct pages).
_TRACKING_EXACT = ("gclid", "fbclid", "msclkid", "igshid", "mc_eid")
_SCHEME_HOST_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*"


def canonicalize_url(url_col: str) -> Column:
    """Canonical form of a URL for URL-level dedup and frontier keys:

    1. fragment dropped ('#...' never reaches the server),
    2. scheme://host prefix lowercased (RFC 3986 §3.1/§3.2.2 — scheme
       and host are case-insensitive; path/query case is preserved),
    3. default ports stripped (http://h:80/, https://h:443/),
    4. tracking query params removed (utm_* prefix + the click-id list
       above, matched on the NAME before '='); '&&' artifacts and a
       left-over bare '?' disappear with them.

    Total: no scheme://host prefix → steps 2-3 are identity and the
    rest still apply, so relative refs and garbage pass through
    deterministically instead of raising (the java.net.URI hazard —
    see module header). Pure Catalyst, one codegen'd projection; every
    regex is in the Java∩RE2 subset so a SQL oracle can recompute it.

    Documented limits: userinfo (user:pass@host) is lowercased with the
    host; path dot-segments ('/a/../b') and percent-encoding case are
    left untouched (both need a real resolver to do safely).
    """
    u0 = F.regexp_replace(F.col(url_col), r"(?s)#.*", "")
    base = F.regexp_extract(u0, r"(?s)^([^?]*)", 1)
    query = F.regexp_extract(u0, r"(?s)^[^?]*\?(.*)", 1)
    prefix = F.regexp_extract(base, _SCHEME_HOST_RE, 0)
    lowered = F.concat(
        F.lower(prefix), F.substring(base, F.length(prefix) + 1, 2**31 - 1)
    )
    deported = F.regexp_replace(
        F.regexp_replace(
            lowered, r"(?s)^(http://[^/:?#]+):80((/.*)?)$", "$1$2"
        ),
        r"(?s)^(https://[^/:?#]+):443((/.*)?)$",
        "$1$2",
    )
    kept = F.filter(
        F.split(query, "&"),
        lambda p: (p != "")
        & ~F.split(p, "=", 2).getItem(0).startswith("utm_")
        & ~F.split(p, "=", 2).getItem(0).isin(*_TRACKING_EXACT),
    )
    return F.concat(
        deported,
        F.when(
            F.size(kept) > 0, F.concat(F.lit("?"), F.array_join(kept, "&"))
        ).otherwise(F.lit("")),
    )


def url_dedup(
    df: DataFrame, url_col: str = "url", id_col: str = "doc_id"
) -> DataFrame:
    """URL-level duplicate collapse: keep min id per canonical URL —
    the crawl-side dedup that runs BEFORE content dedup (the same page
    fetched via tracking-tagged links must not cost n_copies parses).

    Returns (url_canon, doc_id, dup_count) — the exact_dedup contract
    keyed by canonical URL. ONE map-side-combinable shuffle keyed by
    the canonical string (bounded: URLs, not documents)."""
    return (
        df.groupBy(canonicalize_url(url_col).alias("url_canon"))
        .agg(F.min(id_col).alias(id_col), F.count("*").alias("dup_count"))
        .select("url_canon", id_col, "dup_count")
    )


def domain_rank(
    edges: DataFrame,
    n_iter: int = 3,
    damping: float = 0.85,
    src_col: str = "src",
    dst_col: str = "dst",
    weight_col: str | None = None,
) -> DataFrame:
    """Weighted PageRank over the domain link graph — the crawl-
    prioritization / quality-weighting signal a web-scale pipeline
    derives from link_graph's edges (CommonCrawl publishes exactly this
    kind of host-level ranking).

    Fixed-iteration power method, DETERMINISTIC up to float addition
    order:

        r_0(v)    = 1/N
        r_{k+1}(v) = (1-d)/N + d * sum_{(u,v) in E} r_k(u) * w(u,v)/out(u)

    Dangling nodes (no out-edges) contribute nothing — their mass is NOT
    redistributed (the common simplification for host ranking; ranks
    then sum to < 1 when danglers exist). That contract is what lets the
    driver's DuckDB oracle mirror the recurrence as n_iter unrolled
    join+agg rounds, bit-stable at the hash's 6-significant-digit float
    normalization.

    Scale shape: the share-annotated edge table is built once
    (groupBy(src,dst) + one out-weight join) and persisted; each round
    is ONE src-keyed join with the (node, rank) table plus a dst-keyed
    map-side-combinable sum — both metadata-width (domains, not docs).
    Rounds are localCheckpoint'd like dedup_components (the iterative
    plan-growth trap documented at dedup.py) with superseded rank
    tables released deterministically once the next round's blocks
    exist; the edge/node tables release via the caller's cache_scope.
    """
    from .cache import scoped_persist

    w = (
        F.col(weight_col).cast("double")
        if weight_col is not None
        else F.lit(1.0)
    )
    e = (
        edges.select(
            F.col(src_col).alias("src"), F.col(dst_col).alias("dst"), w.alias("w")
        )
        .groupBy("src", "dst")
        .agg(F.sum("w").alias("w"))
    )
    outw = e.groupBy("src").agg(F.sum("w").alias("_ow"))
    share = scoped_persist(
        e.join(outw, "src").select(
            "src", "dst", (F.col("w") / F.col("_ow")).alias("share")
        )
    )
    nodes = scoped_persist(
        share.select(F.col("src").alias("node"))
        .unionByName(share.select(F.col("dst").alias("node")))
        .distinct()
    )
    n = nodes.count()
    if n == 0:
        return nodes.withColumn("rank", F.lit(0.0))
    base = (1.0 - damping) / n

    sc = edges.sparkSession.sparkContext

    def _persist_ids():
        return {int(k) for k in sc._jsc.getPersistentRDDs().keySet().toArray()}

    def _release(ids):
        m = sc._jsc.getPersistentRDDs()
        for i in ids:
            h = m.get(i)
            if h is not None:
                h.unpersist(False)

    before = _persist_ids()
    ranks = nodes.withColumn("rank", F.lit(1.0 / n)).localCheckpoint()
    rank_ids = _persist_ids() - before
    for _ in range(n_iter):
        contrib = (
            share.join(ranks, share["src"] == ranks["node"])
            .groupBy("dst")
            .agg(F.sum(F.col("rank") * F.col("share")).alias("_c"))
        )
        before = _persist_ids()
        ranks = (
            nodes.join(contrib, nodes["node"] == contrib["dst"], "left")
            .select(
                "node",
                (
                    F.lit(base)
                    + F.lit(damping) * F.coalesce(F.col("_c"), F.lit(0.0))
                ).alias("rank"),
            )
            .localCheckpoint()
        )
        new_ids = _persist_ids() - before
        _release(rank_ids)
        rank_ids = new_ids
    return ranks


# ------------------------------------------------------------- metadata

_PAGE_META_SCHEMA = (
    "struct<title:string,description:string,canonical_url:string,"
    "og_title:string,og_image:string,robots_noindex:int>"
)


def page_metadata(markup_col: str = "markup", doc_type: str = "html"):
    """Column function: markup → struct of the page-level metadata a
    crawl pipeline indexes per document — <title>, meta description,
    canonical link, OpenGraph title/image, and a robots-noindex flag
    (meta robots containing 'noindex', case-insensitive — pages a
    compliant training pipeline must drop).

    One parse per document, all fields pulled from the same DOM via the
    engine's own query surface (css/XPath — the Fuzi-parity integration
    path, same machinery as udfs.xpath_select). Arrow-batched pandas
    UDF; missing tags are NULL, never ''. Attribute matching is
    case-insensitive on the NAME side (the HTML parser lowercases
    attribute names and tags) while VALUES keep their case except the
    robots directive, compared lowercased per the spec.
    """
    from ..query import css
    from ..udfs import dom_column

    def _meta_content(doc, name_attr: str, value: str):
        for el in css(doc, "meta"):
            key = el.attr(name_attr)
            if key is not None and key.strip().lower() == value:
                return el.attr("content")
        return None

    def _meta(doc):
        if doc is None:
            return None
        canonical = None
        for el in css(doc, "link"):
            rel = el.attr("rel")
            if rel is not None and rel.strip().lower() == "canonical":
                canonical = el.attr("href")
                break
        robots = _meta_content(doc, "name", "robots")
        noindex = int(robots is not None and "noindex" in robots.lower())
        return (
            doc.title,
            _meta_content(doc, "name", "description"),
            canonical,
            _meta_content(doc, "property", "og:title"),
            _meta_content(doc, "property", "og:image"),
            noindex,
        )

    return dom_column(_PAGE_META_SCHEMA, _meta, doc_type)(F.col(markup_col))


# --------------------------------------------------------------- robots

def _robots_rules(txt: str, agent: str) -> list:
    """Compile one robots.txt into [(allow:int, pattern:str)] for the
    given user-agent, per RFC 9309 group selection: all groups whose
    user-agent line matches `agent` exactly (case-insensitive); if none,
    the '*' groups. Malformed lines are skipped — recovery, not errors."""
    groups: list[tuple[list[str], list[tuple[int, str]]]] = []
    cur_agents: list[str] = []
    cur_rules: list[tuple[int, str]] = []
    in_rules = False
    for raw in txt.splitlines():
        line = raw.split("#", 1)[0].strip()
        if not line:
            continue
        i = line.find(":")
        if i <= 0:
            continue
        field = line[:i].strip().lower()
        value = line[i + 1:].strip()
        if field == "user-agent":
            if in_rules:
                groups.append((cur_agents, cur_rules))
                cur_agents, cur_rules, in_rules = [], [], False
            cur_agents.append(value.lower())
        elif field in ("allow", "disallow"):
            in_rules = True
            if value:  # empty Disallow = no rule (allow all)
                cur_rules.append((1 if field == "allow" else 0, value))
    if cur_agents or cur_rules:
        groups.append((cur_agents, cur_rules))
    a = agent.lower()
    rules = [r for ags, rs in groups if a in ags for r in rs]
    if not rules:
        rules = [r for ags, rs in groups if "*" in ags for r in rs]
    return rules


def _robots_match(path: str, rules: list) -> int:
    """RFC 9309 decision: most-specific (longest-pattern) matching rule
    wins; tie → allow; no match → allow. '*' matches any run; '$'
    anchors the end."""
    import re

    best_len = -1
    best_allow = 1
    for allow, pat in rules:
        anchored = pat.endswith("$")
        body = pat[:-1] if anchored else pat
        rx = ".*".join(re.escape(seg) for seg in body.split("*"))
        if anchored:
            rx += "$"
        if re.match(rx, path) is None:
            continue
        plen = len(pat)
        if plen > best_len or (plen == best_len and allow > best_allow):
            best_len, best_allow = plen, allow
    return best_allow


def apply_robots(
    urls: DataFrame,
    robots: DataFrame,
    agent: str = "*",
    url_col: str = "url",
    domain_col: str = "domain",
    content_col: str = "robots_txt",
) -> DataFrame:
    """Crawl-compliance gate: join each URL's host to its domain's
    robots.txt and decide allowed/denied for `agent` per RFC 9309
    (group selection, longest-match precedence, allow-wins-ties,
    wildcards '*' and '$'). URLs whose host has no robots row are
    allowed (the crawl convention for missing robots.txt).

    Adds (allowed:int). Scale shape: rules are compiled ONCE per domain
    in an Arrow-batched UDF on the (domain-count-sized) robots table —
    never per URL — and the single join is host-keyed; under AQE the
    compiled-rules side broadcasts when it fits (it is metadata-width:
    domain + rule structs). The per-URL decision is one vectorized
    pandas pass over (path, rules)."""
    rules_schema = "array<struct<allow:int,pattern:string>>"

    @pandas_udf(rules_schema)
    def compile_udf(txt: pd.Series) -> pd.Series:
        return pd.Series(
            [
                None
                if t is None
                else [
                    {"allow": a, "pattern": p}
                    for a, p in _robots_rules(t, agent)
                ]
                for t in txt
            ]
        )

    @pandas_udf("int")
    def decide_udf(path: pd.Series, rules: pd.Series) -> pd.Series:
        out = []
        for p, rs in zip(path, rules):
            if rs is None or p is None:
                out.append(1)
                continue
            out.append(
                _robots_match(p, [(r["allow"], r["pattern"]) for r in rs])
            )
        return pd.Series(out, dtype="int32")

    compiled = robots.select(
        F.lower(F.col(domain_col)).alias("_host"),
        compile_udf(F.col(content_col)).alias("_rules"),
    )
    path = F.regexp_extract(F.col(url_col), r"^[A-Za-z][A-Za-z0-9+.-]*://[^/]*(/.*)?$", 1)
    u = urls.withColumn("_host", host_of(url_col)).withColumn(
        "_path", F.when(path == "", "/").otherwise(path)
    )
    return (
        u.join(compiled, "_host", "left")
        .withColumn("allowed", decide_udf(F.col("_path"), F.col("_rules")))
        .drop("_host", "_path", "_rules")
    )


def hreflang_links(
    docs: DataFrame, markup_col: str = "markup", id_col: str = "doc_id"
) -> DataFrame:
    """Explode <link rel="alternate" hreflang=...> declarations into
    (doc_id, hreflang, href) rows — the cross-language page-cluster
    signal: a multilingual crawl dedups/aligns translated page groups
    by exactly these edges, and x-default marks the canonical member.

    rel matching is case-insensitive ('Alternate' counts); rows missing
    either hreflang or href never surface. Document order is preserved
    per doc via the 0-based seq column.

    Scale shape: one Arrow-batched parse pass (the query surface's
    xpath_select, same as link_graph), then filter + explode of
    (hreflang, href) STRING structs only — a narrow map, no shuffle."""
    from ..udfs import xpath_select

    snaps = xpath_select("//link", doc_type="html")(F.col(markup_col))
    alts = F.filter(
        snaps,
        lambda s: (
            F.lower(F.trim(s["attributes"]["rel"])) == "alternate"
        )
        & s["attributes"]["hreflang"].isNotNull()
        & s["attributes"]["href"].isNotNull(),
    )
    pos = F.transform(
        alts,
        lambda s, i: F.struct(
            i.cast("int").alias("seq"),
            s["attributes"]["hreflang"].alias("hreflang"),
            s["attributes"]["href"].alias("href"),
        ),
    )
    return docs.select(
        F.col(id_col), F.explode(pos).alias("alt")
    ).select(id_col, "alt.seq", "alt.hreflang", "alt.href")


def snapshot_delta(
    cur: DataFrame,
    prev: DataFrame,
    url_col: str = "url",
    text_col: str = "text",
    id_col: str = "doc_id",
) -> DataFrame:
    """Crawl-refresh delta: classify every URL across two corpus
    snapshots as added / removed / changed / unchanged — the incremental
    recrawl primitive (process only added+changed downstream; a refresh
    pipeline that re-extracts unchanged pages does 10-100x wasted work).

    Change detection is content-digest equality (sha2-256 of text), so
    a re-served byte-identical page is 'unchanged' regardless of crawl
    timestamps.

    Scale shape: each side reduces to (url, digest, id) in its scan
    projection — the full-outer join shuffles metadata-width rows keyed
    on url, never document text. On Iceberg/bucketed tables written
    bucketed by url hash the exchange disappears entirely
    (storage-partitioned join); digests are codegen'd JVM sha2."""
    c = cur.select(
        F.col(url_col).alias("url"),
        F.col(id_col).alias("cur_id"),
        F.sha2(F.col(text_col), 256).alias("_cd"),
    )
    p = prev.select(
        F.col(url_col).alias("url"),
        F.col(id_col).alias("prev_id"),
        F.sha2(F.col(text_col), 256).alias("_pd"),
    )
    status = (
        F.when(F.col("cur_id").isNull(), F.lit("removed"))
        .when(F.col("prev_id").isNull(), F.lit("added"))
        .when(F.col("_cd") == F.col("_pd"), F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    )
    return (
        c.join(p, "url", "full_outer")
        .select("url", status.alias("status"), "cur_id", "prev_id")
    )


def crawl_frontier(
    discovered: DataFrame,
    crawled: Optional[DataFrame] = None,
    robots: Optional[DataFrame] = None,
    blocked: Optional[DataFrame] = None,
    url_col: str = "url",
    agent: str = "*",
) -> DataFrame:
    """Next-crawl frontier assembly — the capstone crawl-side DAG that
    turns raw URL discoveries (sitemaps, anchors, feeds) into the list a
    fetcher may actually request. One row per CANONICAL URL with a
    first-failure reason, gates in pinned order:

    1. canonicalize + collapse duplicates (n_sources counts them)
    2. 'blocked_domain'   — host on the blocklist
    3. 'robots_denied'    — RFC 9309 gate for `agent`
    4. 'already_crawled'  — canonical URL present in the crawled set
    5. 'frontier'         — fetch it

    Scale shape: canonicalization and host extraction are codegen'd
    scan projections; the duplicate collapse is ONE map-side-combinable
    url-keyed agg; blocklist and crawled-set joins are left joins
    against metadata-width sides (AQE broadcasts them when they fit —
    the crawled set reduces to its canonical-url column first); the
    robots gate reuses apply_robots (rules compiled once per domain).
    The URL corpus itself shuffles once, as (url, n_sources) pairs."""
    canon = (
        discovered.select(canonicalize_url(url_col).alias("url"))
        .where(F.col("url").isNotNull())
        .groupBy("url")
        .agg(F.count(F.lit(1)).alias("n_sources"))
    )
    if robots is not None:
        canon = apply_robots(canon, robots, agent=agent)
    else:
        canon = canon.withColumn("allowed", F.lit(1))
    if blocked is not None:
        blk = blocked.select(
            F.lower(F.col("domain")).alias("_blk"),
            F.lit(1).alias("_is_blocked"),
        ).distinct()
        canon = (
            canon.withColumn("_host", host_of("url"))
            .join(blk, F.col("_host") == F.col("_blk"), "left")
            .drop("_blk", "_host")
        )
    else:
        canon = canon.withColumn("_is_blocked", F.lit(None).cast("int"))
    if crawled is not None:
        seen = (
            crawled.select(canonicalize_url(url_col).alias("url"))
            .where(F.col("url").isNotNull())
            .distinct()
            .withColumn("_seen", F.lit(1))
        )
        canon = canon.join(seen, "url", "left")
    else:
        canon = canon.withColumn("_seen", F.lit(None).cast("int"))
    reason = (
        F.when(F.col("_is_blocked").isNotNull(), F.lit("blocked_domain"))
        .when(F.col("allowed") == 0, F.lit("robots_denied"))
        .when(F.col("_seen").isNotNull(), F.lit("already_crawled"))
        .otherwise(F.lit("frontier"))
    )
    return canon.select(
        "url",
        "n_sources",
        reason.alias("reason"),
        (reason == "frontier").cast("int").alias("fetch"),
    )


def crawl_schedule(
    frontier: DataFrame,
    url_col: str = "url",
    priority_col: str = None,
    n_shards: int = 256,
    max_per_host: int = 0,
) -> DataFrame:
    """Politeness-aware crawl scheduling: assign every frontier URL a
    fetcher SHARD (all of a host's URLs land on the same shard, so one
    fetcher owns a host's rate limit) and a per-host FETCH_SEQ (the
    politeness queue position — a fetcher issues a host's requests in
    this order, one connection per host).

    - shard = md5-bucket of the lowercased host mod n_shards (md5 so
      the driver oracle can replay the assignment; any well-mixed hash
      works — same rationale as ops/sampling.py);
    - fetch_seq = dense per-host position ordering by (priority DESC,
      url ASC) when `priority_col` is given (crawl the high-value pages
      of a host first), else url ASC — deterministic either way;
    - max_per_host > 0 drops a host's overflow beyond that many URLs
      per cycle (the standard per-cycle host budget; dropped rows are
      simply absent — re-discovered next cycle).

    Scale shape: ONE host-keyed window exchange (the corpus shuffles
    once, keyed by host); the shard column is a scan-side projection.
    Host skew is real (a few giant hosts own much of any frontier) but
    bounded by max_per_host: the window's per-partition work is capped
    at the budget wherever the budget is set."""
    from pyspark.sql import Window

    host = F.lower(F.regexp_extract(F.col(url_col), _HOST_RE, 1))
    shard = F.pmod(
        F.conv(F.substring(F.md5(host), 1, 15), 16, 10).cast("bigint"),
        F.lit(n_shards),
    ).cast("int")
    base = frontier.withColumn("_host", host)
    if priority_col:
        order = [F.col(priority_col).desc(), F.col(url_col).asc()]
    else:
        order = [F.col(url_col).asc()]
    w = Window.partitionBy("_host").orderBy(*order)
    out = base.withColumn(
        "fetch_seq", F.row_number().over(w).cast("int")
    ).withColumn("shard", shard)
    if max_per_host > 0:
        out = out.filter(F.col("fetch_seq") <= max_per_host)
    return out.withColumnRenamed("_host", "host")


def robots_sitemaps(
    robots: DataFrame,
    domain_col: str = "domain",
    robots_col: str = "robots_txt",
) -> DataFrame:
    """Sitemap discovery from robots.txt: per RFC 9309 §2.3 /
    sitemaps.org, `Sitemap:` lines are GLOBAL (not group-scoped) and a
    file may carry several. Returns (host, seq, sitemap_url) — seq is
    the in-file order — feeding straight into ops/discovery.py's
    sitemap parser: robots fetch → sitemap URLs → URL frontier is the
    standard crawl bootstrap chain.

    All-Catalyst: one regexp_extract_all per robots blob (case-
    insensitive field name, whole-line value), a posexplode, and host
    lowering — zero Python, and the robots table is domain-sized, so
    this costs nothing next to any real stage."""
    urls = F.regexp_extract_all(
        F.col(robots_col), F.lit(r"(?im)^\s*sitemap\s*:\s*(\S+)\s*$"), 1
    )
    return (
        robots.select(
            F.lower(F.col(domain_col)).alias("host"),
            F.posexplode(urls).alias("seq", "sitemap_url"),
        )
        .select("host", F.col("seq").cast("int").alias("seq"), "sitemap_url")
    )


# ----------------------------------------------------- hidden text / cloaking

_HIDDEN_STYLE_RE = re.compile(
    r"(?:^|;)\s*(?:display\s*:\s*none|visibility\s*:\s*hidden"
    r"|opacity\s*:\s*0(?:\.0+)?\s*(?:;|$)|font-size\s*:\s*0(?:px|pt|em|rem|%)?\s*(?:;|$))",
    re.IGNORECASE,
)

_HIDDEN_SKIP_TAGS = frozenset(
    "script style noscript template title head".split()
)

_HIDDEN_SCHEMA = (
    "struct<visible_len:int,hidden_len:int,n_hidden_blocks:int,"
    "hidden_frac:double,cloaked:int>"
)


def _el_is_hidden(el) -> bool:
    style = el.attr("style")
    if style is not None and _HIDDEN_STYLE_RE.search(style):
        return True
    if el.attr("hidden") is not None:  # boolean attribute: presence hides
        return True
    aria = el.attr("aria-hidden")
    return aria is not None and aria.strip().lower() == "true"


def hidden_text(
    markup_col: str = "markup",
    doc_type: str = "html",
    cloak_frac: float = 0.4,
):
    """Column function: markup → hidden-text (cloaking) stats — the
    SEO-spam signal where a page stuffs keyword text users never see
    (display:none / visibility:hidden / zero font-size / opacity:0
    inline styles, the HTML5 `hidden` boolean attribute,
    aria-hidden="true"). A training pipeline wants these pages DOWN-
    weighted: their token stream diverges from their rendered content.

    Per document (one parse, one iterative DOM walk — no recursion, so
    the 10^12-corpus depth tail can't blow the Python stack):
    - visible_len / hidden_len: whitespace-normalized char counts of
      rendered vs hidden text (script/style/template/head text counts
      as NEITHER — it was never prose);
    - n_hidden_blocks: hidden-root elements (a hidden subtree counts
      once, matching how a spam filter reasons about injected blocks);
    - hidden_frac = hidden / (visible + hidden), 0.0 for empty pages;
    - cloaked = 1 when hidden_frac > cloak_frac.

    Style matching is declaration-anchored ((?:^|;) boundary), so
    `display:none` matches while `opacity:0.5` or a `font-size:10px`
    never false-positive. Arrow-batched pandas UDF; parse failure →
    all-NULL struct (never a fake zero)."""
    from ..dom import ELEMENT_NODE, TEXT_NODE
    from ..udfs import dom_column

    def _stats(doc):
        if doc is None:
            return None
        root = doc.root
        if root is None:
            return (0, 0, 0, 0.0, 0)
        vis = hid = blocks = 0
        todo = [(root, False)]
        while todo:
            node, hidden = todo.pop()
            if node.type == TEXT_NODE:
                n = len("".join(node.content.split()))
                if hidden:
                    hid += n
                else:
                    vis += n
                continue
            if node.type != ELEMENT_NODE:
                continue
            if node.tag in _HIDDEN_SKIP_TAGS:
                continue
            h = hidden
            if not hidden and _el_is_hidden(node):
                h = True
                blocks += 1
            todo.extend((c, h) for c in node.children)
        total = vis + hid
        frac = (hid / total) if total else 0.0
        return (vis, hid, blocks, frac, int(frac > cloak_frac))

    return dom_column(_HIDDEN_SCHEMA, _stats, doc_type)(F.col(markup_col))


# ------------------------------------------------------- publish date

_ISO_DATE_RE = re.compile(r"^(\d{4})-(\d{2})-(\d{2})")

# path-segment date: /YYYY/M/D/ or /YYYY/M/D<end>. Kept in the
# Java∩RE2 subset so the same pattern could run in either engine.
_URL_DATE_RE = r"/((?:19|20)\d{2})/(\d{1,2})/(\d{1,2})(?:/|$)"

_PUBDATE_SCHEMA = "struct<published:string,date_source:string>"


def _valid_iso_prefix(s):
    """YYYY-MM-DD prefix of an ISO-8601 string, or None when absent or
    calendar-impossible (month/day range check — a pipeline must not
    index '2023-99-99' just because a template emitted it)."""
    if s is None:
        return None
    m = _ISO_DATE_RE.match(s.strip())
    if m is None:
        return None
    mo, d = int(m.group(2)), int(m.group(3))
    if not (1 <= mo <= 12 and 1 <= d <= 31):
        return None
    return m.group(0)


def publish_date(
    docs: DataFrame,
    markup_col: str = "markup",
    url_col: str = "url",
    id_col: str = "doc_id",
) -> DataFrame:
    """Publication-date extraction — the crawl-recency signal a
    training pipeline uses for dated mixtures, dedup keeper election
    (keep the EARLIEST copy), and freshness-weighted sampling.

    Precedence (first VALID wins; invalid dates fall through rather
    than poisoning the column):
      1. <meta property="article:published_time"> (OpenGraph/
         schema.org convention) — 'meta';
      2. the first <time datetime="..."> in document order — 'time';
      3. a /YYYY/M/D/ path segment in the URL — 'url'.

    The DOM fields come from ONE parse per document in an Arrow-batched
    pandas UDF (the engine's own css surface); the URL fallback stays
    JVM-side as three regexp_extract + lpad expressions inside the same
    codegen'd projection, so date-less markup costs no extra Python.
    The DOM struct is computed once (single select) and both derived
    columns read its fields — no duplicated UDF evaluation.

    Output: (id, published 'YYYY-MM-DD' | NULL, date_source
    'meta'|'time'|'url'|NULL, has_date).
    """
    from ..query import css
    from ..udfs import dom_column

    def _dom_date(doc):
        if doc is None:
            return None
        for el in css(doc, "meta"):
            prop = el.attr("property")
            if (
                prop is not None
                and prop.strip().lower() == "article:published_time"
            ):
                got = _valid_iso_prefix(el.attr("content"))
                if got is not None:
                    return (got, "meta")
        for el in css(doc, "time"):
            got = _valid_iso_prefix(el.attr("datetime"))
            if got is not None:
                return (got, "time")
        return None

    staged = docs.select(
        F.col(id_col),
        F.col(url_col).alias("_u"),
        dom_column(_PUBDATE_SCHEMA, _dom_date, "html")(F.col(markup_col)).alias("_d"),
    )
    u = F.col("_u")
    y = F.regexp_extract(u, _URL_DATE_RE, 1)
    mo = F.regexp_extract(u, _URL_DATE_RE, 2)
    d = F.regexp_extract(u, _URL_DATE_RE, 3)
    url_ok = (
        (y != "")
        & mo.cast("int").between(1, 12)
        & d.cast("int").between(1, 31)
    )
    url_date = F.concat(
        y, F.lit("-"), F.lpad(mo, 2, "0"), F.lit("-"), F.lpad(d, 2, "0")
    )
    published = F.coalesce(
        F.col("_d.published"),
        F.when(url_ok, url_date),
    )
    source = (
        F.when(F.col("_d.published").isNotNull(), F.col("_d.date_source"))
        .when(url_ok, F.lit("url"))
        .otherwise(F.lit(None).cast("string"))
    )
    return staged.select(
        id_col,
        published.alias("published"),
        source.alias("date_source"),
        published.isNotNull().cast("int").alias("has_date"),
    )


# ---------------------------------------------------- paywall / login wall

_LDJSON_WALL_RE = re.compile(
    r'"isAccessibleForFree"\s*:\s*(?:false|"false")', re.IGNORECASE
)

# visible-text phrases that mark a metered/hard wall. Matched on the
# lowercased whitespace-collapsed text, so markup breaks inside the
# phrase can't hide it.
_WALL_PHRASES = (
    "subscribe to continue",
    "subscribe to read",
    "sign in to continue",
    "to continue reading",
    "already a subscriber",
)

_PAYWALL_SCHEMA = (
    "struct<has_password_input:int,has_paywall_schema:int,"
    "n_wall_markers:int,has_wall_phrase:int,paywalled:int>"
)


def paywall_signals(markup_col: str = "markup", doc_type: str = "html"):
    """Column function: markup → paywall/login-wall signals. A trainer
    must drop walled pages: their extractable text is the TEASER plus
    wall chrome, not the article — keeping them teaches the model to
    emit "Subscribe to continue reading".

    Four independent signals from ONE parse + ONE iterative walk:
    - has_password_input: any <input type="password"> (login gate —
      reported separately because a login form alone is not a paywall);
    - has_paywall_schema: schema.org `"isAccessibleForFree": false`
      inside an application/ld+json script (the standards-track wall
      declaration publishers actually emit);
    - n_wall_markers: elements whose class tokens or id contain
      'paywall' or 'regwall' (wall-overlay chrome; 'subscribe-button'
      deliberately does NOT match);
    - has_wall_phrase: a wall phrase in the text (style/title text
      excluded; a phrase inside a hidden overlay still counts — walls
      ship display:none until metering fires).

    paywalled = schema OR phrase OR markers>0. JSON-LD in <head> is
    reached (head is descended, only its text-bearing decoys are
    skipped). Arrow-batched pandas UDF; parse failure → all-NULL."""
    from ..dom import ELEMENT_NODE, TEXT_NODE
    from ..udfs import dom_column

    def _scan(doc):
        if doc is None:
            return None
        root = doc.root
        if root is None:
            return (0, 0, 0, 0, 0)
        pw = schema = markers = 0
        texts = []
        todo = [root]
        while todo:
            node = todo.pop()
            if node.type == TEXT_NODE:
                texts.append(node.content)
                continue
            if node.type != ELEMENT_NODE:
                continue
            tag = node.tag
            if tag == "script":
                t = node.attr("type")
                if (
                    t is not None
                    and t.strip().lower() == "application/ld+json"
                    and _LDJSON_WALL_RE.search(node.string_value)
                ):
                    schema = 1
                continue
            if tag in ("style", "noscript", "template", "title"):
                continue
            if tag == "input":
                t = node.attr("type")
                if t is not None and t.strip().lower() == "password":
                    pw = 1
            toks = []
            cls = node.attr("class")
            if cls:
                toks.extend(cls.lower().split())
            nid = node.attr("id")
            if nid:
                toks.append(nid.lower())
            if any("paywall" in t or "regwall" in t for t in toks):
                markers += 1
            # reversed: LIFO pop then yields DOCUMENT order, so a wall
            # phrase split across inline elements stays contiguous
            todo.extend(reversed(node.children))
        text = " ".join(" ".join(texts).lower().split())
        phrase = int(any(p in text for p in _WALL_PHRASES))
        return (
            pw, schema, markers, phrase,
            int(bool(schema or phrase or markers)),
        )

    return dom_column(_PAYWALL_SCHEMA, _scan, doc_type)(F.col(markup_col))


# ------------------------------------------------------------ URL signals

# path part: everything after scheme://host up to ? or #
_URL_PATH_RE = r"^[A-Za-z][A-Za-z0-9+.-]*://[^/?#]*([^?#]*)"
_URL_QUERY_RE = r"\?([^#]*)"

_INDEX_SEGMENTS = ("tag", "tags", "category", "categories", "archive")
_SEARCH_PARAM_RE = "(?:^|&)(?:q|s|search|query)="
_PAGINATION_PATH_RE = "/page/[0-9]+(?:/|$)"
_PAGINATION_PARAM_RE = "(?:^|&)(?:page|p)=[0-9]+"
_TRACKING_PARAM_RE = "(?:^|&)utm_[a-z]+="


def url_signals(df: DataFrame, url_col: str = "url") -> DataFrame:
    """URL-shape curation signals — the pre-fetch/pre-parse gate a
    crawl pipeline applies to its frontier and a corpus pipeline to
    its manifests. Search results, tag/category/archive indexes, and
    deep pagination are boilerplate-dominant link farms: their TEXT is
    mostly titles repeated from the pages they list, so a trainer
    drops or down-weights them before spending a parse.

    Adds, all JVM regexp expressions in one codegen'd projection
    (zero Python, zero shuffles — scan-speed at frontier scale):
    - path_depth: non-empty /-segments after the host;
    - n_query_params: &-separated non-empty query segments;
    - is_search: first path segment 'search' OR a q/s/search/query
      parameter;
    - is_index: first path segment tag(s)/categor(y|ies)/archive;
    - is_paginated: /page/N path or page=N / p=N parameter;
    - has_tracking: any utm_* parameter (the canonicalize_url strip
      candidates — flagged here, stripped there).

    NULL url propagates NULL."""
    u = F.col(url_col)
    path = F.regexp_extract(u, _URL_PATH_RE, 1)
    query = F.regexp_extract(u, _URL_QUERY_RE, 1)
    segs = F.filter(F.split(path, "/"), lambda s: s != "")
    first_seg = F.lower(F.regexp_extract(path, "^/([^/]+)", 1))
    qp = F.filter(F.split(query, "&"), lambda s: s != "")
    lquery = F.lower(query)
    return df.withColumns(
        {
            "path_depth": F.size(segs).cast("int"),
            "n_query_params": F.size(qp).cast("int"),
            "is_search": (
                (first_seg == "search")
                | lquery.rlike(_SEARCH_PARAM_RE)
            ).cast("int"),
            "is_index": first_seg.isin(*_INDEX_SEGMENTS).cast("int"),
            "is_paginated": (
                F.lower(path).rlike(_PAGINATION_PATH_RE)
                | lquery.rlike(_PAGINATION_PARAM_RE)
            ).cast("int"),
            "has_tracking": lquery.rlike(_TRACKING_PARAM_RE).cast("int"),
        }
    )


# ----------------------------------------------------------- bitext mining

def bitext_pairs(
    docs: DataFrame,
    markup_col: str = "markup",
    url_col: str = "url",
    id_col: str = "doc_id",
    src_lang: str = "en",
    tgt_lang: str = "de",
    require_reciprocal: bool = True,
) -> DataFrame:
    """Parallel-corpus (bitext) mining from hreflang declarations —
    the highest-precision free alignment signal on the web: a page
    that declares `<link rel="alternate" hreflang="de" href=...>`
    is asserting that URL is ITS OWN translation, which is exactly
    the (src, tgt) document pair an MT/multilingual trainer wants.

    A pair surfaces when a src_lang-declaring doc's tgt_lang alternate
    href resolves (case-insensitive host via lowercased exact URL
    match) to another doc in the corpus. With require_reciprocal
    (default), the target must declare the source back under src_lang
    — the bidirectional handshake that filters out the common spam
    pattern of one-way hreflang pointing at scraped copies.

    Returns (src_id, tgt_id, src_url, tgt_url) with src_id < tgt_id
    NOT enforced (direction is semantic: src declares tgt).

    Scale shape: ONE parse pass (hreflang_links' Arrow UDF), edges as
    (declaring_doc, lang, href) STRING rows; resolving href→doc is an
    equi-join keyed on the URL string (corpus-sized both sides — the
    one unavoidable shuffle); the reciprocity check is a semi-join of
    the edge table against itself on the REVERSED key pair, keyed on
    the same (url, url) strings — no DOM or vector payload ever moves
    through either exchange."""
    edges = hreflang_links(docs, markup_col=markup_col, id_col=id_col)
    ids = docs.select(
        F.col(id_col), F.col(url_col).alias("_own_url")
    )
    ed = edges.join(ids, id_col).select(
        F.col(id_col).alias("from_id"),
        F.col("_own_url").alias("from_url"),
        F.lower(F.trim(F.col("hreflang"))).alias("lang"),
        F.col("href"),
    )
    fwd = ed.filter(F.col("lang") == tgt_lang.lower())
    targets = docs.select(
        F.col(id_col).alias("tgt_id"), F.col(url_col).alias("tgt_url")
    )
    pairs = fwd.join(
        targets, fwd["href"] == targets["tgt_url"]
    ).select(
        F.col("from_id").alias("src_id"),
        "tgt_id",
        F.col("from_url").alias("src_url"),
        "tgt_url",
    ).filter(F.col("src_id") != F.col("tgt_id"))
    if not require_reciprocal:
        return pairs
    back = ed.filter(F.col("lang") == src_lang.lower()).select(
        F.col("from_url").alias("tgt_url"),
        F.col("href").alias("src_url"),
    )
    return pairs.join(back, ["tgt_url", "src_url"], "left_semi").select(
        "src_id", "tgt_id", "src_url", "tgt_url"
    )


def resolve_redirects(
    edges: DataFrame,
    src_col: str = "src",
    dst_col: str = "dst",
    max_hops: int = 16,
) -> DataFrame:
    """Resolve HTTP redirect chains to their final target:
    (src_col, final_url, n_hops, ok). Crawl frontiers are full of
    301/308 chains (http→https, www-canonicalization, link shorteners,
    tracking hops); URL-level dedup and the link graph must key on the
    FINAL url or every chain member counts as a distinct page.

    `edges` holds one row per redirecting url; any url not present as
    a source is terminal. Chains resolve by bounded iterative joins —
    each round follows one hop for still-unresolved rows and
    localCheckpoints (the thread_assembly/dedup_components plan-growth
    discipline). A row that is still redirecting after `max_hops`
    rounds gets ok = false and final_url = NULL — redirect LOOPS are a
    real crawl pathology (and a crawler-trap signal), so they surface
    as data, not as a job failure and not as a silently wrong
    'final' url. n_hops counts followed edges (0 for terminal inputs
    never seen in edges... callers resolve the urls they crawled:
    every input src gets exactly one output row).

    Scale: rounds = longest real chain (redirect chains are short —
    default 16 far exceeds the ~5 browsers follow); each round is one
    equi-join keyed on the current target + an isEmpty probe."""
    e = edges.select(
        F.col(src_col).alias("_s"), F.col(dst_col).alias("_d")
    )
    hop = e.select(F.col("_s").alias("_hs"), F.col("_d").alias("_hd"))
    # the per-round union would otherwise ACCUMULATE partitions
    # (each join adds shuffle partitions; 8 rounds measured 6144
    # tasks for 150 rows) — coalesce bounds the state width for the
    # next round's join without an extra shuffle
    width = edges.sparkSession.sparkContext.defaultParallelism
    # state: (_s, _cur, _hops, _done)
    state = e.select(
        "_s",
        F.col("_d").alias("_cur"),
        F.lit(1).alias("_hops"),
        F.lit(False).alias("_done"),
    ).localCheckpoint()
    for _ in range(int(max_hops)):
        live = state.filter(~F.col("_done"))
        if live.isEmpty():
            break
        done = state.filter(F.col("_done"))
        stepped = (
            live.join(hop, live["_cur"] == hop["_hs"], "left")
            .select(
                "_s",
                F.coalesce(F.col("_hd"), F.col("_cur")).alias("_cur"),
                F.when(
                    F.col("_hd").isNotNull(), F.col("_hops") + 1
                ).otherwise(F.col("_hops")).alias("_hops"),
                F.col("_hd").isNull().alias("_done"),
            )
        )
        state = done.unionByName(stepped).coalesce(width).localCheckpoint()
    return state.select(
        F.col("_s").alias(src_col),
        F.when(F.col("_done"), F.col("_cur")).alias("final_url"),
        # a loop has no meaningful hop count — NULL, not the round
        # budget it happened to burn
        F.when(F.col("_done"), F.col("_hops").cast("int")).alias("n_hops"),
        F.col("_done").alias("ok"),
    )
