"""Crawl-discovery surfaces: sitemap and syndication-feed parsing.

A web-scale extraction pipeline does not only consume fetched pages —
it consumes the discovery documents that tell the crawler WHAT to
fetch: XML sitemaps (sitemaps.org protocol: <urlset>/<url> leaf maps
and <sitemapindex>/<sitemap> index maps) and syndication feeds (Atom
RFC 4287, RSS 2.0). Both are XML; both are parsed here with the
engine's own recovering XML parser and DOM walk (fuzi_spark/xmlparser,
dom — the same surface Fuzi exposes: children(tag:), firstChild(tag:),
stringValue; reference parity: Sources/Fuzi/Element.swift's tag-scoped
child walk, Tests/XMLTests.swift's Atom fixture which this module's
feed walk mirrors).

Recovering contract, matching the rest of the engine: malformed or
non-sitemap/non-feed input yields ZERO rows — never a raised task
error. Missing required fields (a <url> without <loc>) drop that entry
only. Sitemaps are namespaced with a default xmlns; the walk keys on
local tag names, so both namespaced and bare documents parse.

Scale shape: one mapInPandas explode per document blob (Arrow-batched,
never per-row Python driver loops), emitting small string rows. At
10^12 docs the inputs here are metadata-sized relative to the page
corpus (one sitemap per ~50k URLs), so these stages are never the
bottleneck; they exist so the crawl frontier (apply_robots,
url_dedup, link_graph in ops/web.py) can be fed from inside the same
engine.
"""

from __future__ import annotations

from typing import Optional

from pyspark.sql import DataFrame

from ..errors import XMLError
from ..udfs import row_mapper
from ..xmlparser import parse_xml


def _text(el, tag: str) -> Optional[str]:
    c = el.first_child(tag)
    if c is None:
        return None
    v = c.string_value.strip()
    return v if v else None


def parse_sitemap(source) -> list[dict]:
    """Parse one sitemap document → entry dicts in document order.

    <urlset> leaves yield kind='url' entries with (loc, lastmod,
    changefreq, priority); <sitemapindex> yields kind='sitemap'
    entries with (loc, lastmod). Entries without a non-empty <loc>
    are dropped (loc is the protocol's only required field).
    priority parses to float, None when absent or non-numeric.
    Non-sitemap roots and unparsable input → [].
    """
    try:
        doc = parse_xml(source)
    except XMLError:
        return []
    root = doc.root
    if root is None:
        return []
    rt = root.tag.lower() if root.tag else ""
    if rt == "urlset":
        child_tag, kind = "url", "url"
    elif rt == "sitemapindex":
        child_tag, kind = "sitemap", "sitemap"
    else:
        return []
    out = []
    for entry in root.children_with_tag(child_tag):
        loc = _text(entry, "loc")
        if loc is None:
            continue
        prio = None
        if kind == "url":
            p = _text(entry, "priority")
            if p is not None:
                try:
                    prio = float(p)
                except ValueError:
                    prio = None
        out.append(
            {
                "kind": kind,
                "loc": loc,
                "lastmod": _text(entry, "lastmod"),
                "changefreq": _text(entry, "changefreq") if kind == "url" else None,
                "priority": prio,
            }
        )
    return out


SITEMAP_SCHEMA = (
    "site_id long, kind string, seq int, loc string, "
    "lastmod string, changefreq string, priority double"
)


def parse_sitemap_df(
    df: DataFrame, xml_col: str = "xml", id_col: str = "site_id"
) -> DataFrame:
    """Explode sitemap blobs into entry rows: (site_id, kind, seq, loc,
    lastmod, changefreq, priority) — seq is the 0-based document-order
    index, the crawl-frontier tiebreaker."""
    def rows(sid, xml):
        if xml is None:
            return []
        return [
            (
                int(sid), e["kind"], seq, e["loc"],
                e["lastmod"], e["changefreq"], e["priority"],
            )
            for seq, e in enumerate(parse_sitemap(xml))
        ]

    return df.select(id_col, xml_col).mapInPandas(
        row_mapper(rows, SITEMAP_SCHEMA), schema=SITEMAP_SCHEMA
    )


def _first_alternate_link(entry) -> Optional[str]:
    """Atom link selection: first rel='alternate' (or rel-less, which
    RFC 4287 defaults to alternate), else None."""
    for ln in entry.children_with_tag("link"):
        rel = (ln.attr("rel") or "alternate").strip().lower()
        if rel == "alternate":
            href = (ln.attr("href") or "").strip()
            if href:
                return href
    return None


def parse_feed(source) -> list[dict]:
    """Parse one Atom or RSS 2.0 feed → entry dicts in document order.

    Atom (root <feed>): entries are <entry> children; link is the
    first rel='alternate' <link href>; updated falls back to
    <published>; author is the first <author><name>.
    RSS 2.0 (root <rss> → <channel>): entries are <item> children;
    link is <link> text; updated is <pubDate>; author is <author>
    (falling back to a dc:creator child by local name).
    Every row carries (feed_type, feed_title). Unparsable or
    non-feed input → [].
    """
    try:
        doc = parse_xml(source)
    except XMLError:
        return []
    root = doc.root
    if root is None or not root.tag:
        return []
    rt = root.tag.lower()
    out = []
    if rt == "feed":
        feed_title = _text(root, "title")
        for entry in root.children_with_tag("entry"):
            author = None
            a = entry.first_child("author")
            if a is not None:
                author = _text(a, "name")
            out.append(
                {
                    "feed_type": "atom",
                    "feed_title": feed_title,
                    "title": _text(entry, "title"),
                    "link": _first_alternate_link(entry),
                    "updated": _text(entry, "updated") or _text(entry, "published"),
                    "author": author,
                }
            )
    elif rt == "rss":
        channel = root.first_child("channel")
        if channel is None:
            return []
        feed_title = _text(channel, "title")
        for item in channel.children_with_tag("item"):
            out.append(
                {
                    "feed_type": "rss",
                    "feed_title": feed_title,
                    "title": _text(item, "title"),
                    "link": _text(item, "link"),
                    "updated": _text(item, "pubDate"),
                    "author": _text(item, "author") or _text(item, "creator"),
                }
            )
    return out


FEED_SCHEMA = (
    "feed_id long, feed_type string, feed_title string, entry_idx int, "
    "title string, link string, updated string, author string"
)


def parse_feed_df(
    df: DataFrame, xml_col: str = "xml", id_col: str = "feed_id"
) -> DataFrame:
    """Explode feed blobs into entry rows: (feed_id, feed_type,
    feed_title, entry_idx, title, link, updated, author)."""
    def rows(fid, xml):
        if xml is None:
            return []
        return [
            (
                int(fid), e["feed_type"], e["feed_title"], idx,
                e["title"], e["link"], e["updated"], e["author"],
            )
            for idx, e in enumerate(parse_feed(xml))
        ]

    return df.select(id_col, xml_col).mapInPandas(
        row_mapper(rows, FEED_SCHEMA), schema=FEED_SCHEMA
    )
