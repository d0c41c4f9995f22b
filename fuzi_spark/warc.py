"""Recovering WARC (ISO 28500) record parser + Spark surface.

The web-archive container format CommonCrawl-style pipelines ingest:
a WARC file is a sequence of records, each

    WARC/1.0\r\n
    <Name>: <value>\r\n ...          (record headers)
    \r\n
    <Content-Length bytes of block>
    \r\n\r\n                          (record separator)

For `WARC-Type: response` records the block is an HTTP/1.x response
(status line, headers, \r\n\r\n, body). This parser follows the house
recovery contract (xmlparser/pdf.py): NEVER raises on hostile input —
a corrupt record is skipped and scanning resumes at the next
`WARC/` magic; truncated blocks yield what is present.

Reference parity note: the reference (kylehughes/Fuzi) has no container
formats — /root/reference/Sources reads in-memory buffers only
(Document.swift) — this module is pipeline-brief scope (north_rule
source surface), original work.

Spark surface: `parse_warc_df` explodes each archive blob into one row
per record via ONE map_rows pass (Arrow-batched; the per-record
Python is the parser itself, the same contract as extract_spans_df).
Blobs should be pre-split upstream (one blob per task unit); record
offsets are per-blob, deterministic.
"""

from __future__ import annotations

from typing import Optional

_MAGIC = b"WARC/"


def _parse_headers(chunk: bytes) -> dict:
    """Parse `Name: value` lines; tolerant of stray bytes and missing
    colons (skipped). Names lowercased; values stripped."""
    headers: dict = {}
    for line in chunk.split(b"\r\n"):
        if not line:
            continue
        i = line.find(b":")
        if i <= 0:
            continue
        name = line[:i].strip().lower().decode("latin-1")
        headers[name] = line[i + 1:].strip().decode("latin-1", "replace")
    return headers


def _parse_http_response(block: bytes):
    """(status:int|None, content_type:str|None, body:bytes). Total: a
    block that is not HTTP at all comes back (None, None, block)."""
    if not block.startswith(b"HTTP/"):
        return None, None, block
    head, sep, body = block.partition(b"\r\n\r\n")
    lines = head.split(b"\r\n")
    status: Optional[int] = None
    parts = lines[0].split()
    if len(parts) >= 2 and parts[1].isdigit():
        status = int(parts[1])
    ctype = _parse_headers(b"\r\n".join(lines[1:])).get("content-type")
    return status, ctype, (body if sep else b"")


def parse_warc(data: bytes) -> list[dict]:
    """All well-formed-enough records in one WARC blob, in order.

    Per record: {offset, warc_type, target_uri, http_status,
    content_type, body (bytes), headers (dict)}. For response records
    body is the HTTP body; for everything else the raw block.
    Recovery: a record whose Content-Length is missing/absurd is
    re-scanned from the next magic instead of trusted."""
    out: list[dict] = []
    if not data:
        return out
    pos = 0
    n = len(data)
    while True:
        start = data.find(_MAGIC, pos)
        if start < 0 or start >= n:
            break
        hdr_end = data.find(b"\r\n\r\n", start)
        if hdr_end < 0:
            break  # truncated header block — nothing more to recover
        headers = _parse_headers(data[start:hdr_end])
        try:
            length = int(headers.get("content-length", ""))
        except ValueError:
            length = -1
        block_start = hdr_end + 4
        if length < 0 or block_start + length > n:
            # missing/lying length or truncated block: take what exists
            # up to the next magic (or EOF) rather than trusting it
            nxt = data.find(_MAGIC, block_start)
            block = data[block_start:nxt if nxt >= 0 else n]
            pos = block_start + max(len(block), 1)
        else:
            block = data[block_start:block_start + length]
            pos = block_start + length
        wtype = headers.get("warc-type", "")
        if wtype == "response":
            status, ctype, body = _parse_http_response(block)
        else:
            status, ctype, body = None, headers.get("content-type"), block
        out.append(
            {
                "offset": start,
                "warc_type": wtype,
                "target_uri": headers.get("warc-target-uri"),
                "http_status": status,
                "content_type": ctype,
                "body": body,
                "headers": headers,
            }
        )
    return out


WARC_RECORD_SCHEMA = (
    "archive_id long, record_idx int, offset long, warc_type string, "
    "target_uri string, http_status int, content_type string, "
    "body_len long, body_text string"
)


def parse_warc_df(archives, data_col: str = "data", id_col: str = "archive_id"):
    """Explode WARC archive blobs into record rows — one map_rows
    pass, Arrow-batched. body_text is the block decoded as UTF-8
    (errors replaced) so downstream text operators (extraction, dedup,
    quality) chain directly; body_len is the raw byte length.

    Scale shape: record parsing is a linear scan per blob inside the
    UDF; output rows carry text + small metadata, no blob is kept. At
    10^12 records, repartition the archive table first (the extraction
    pipeline's salting applies — giant archives are the skew unit here).
    """
    from .udfs import map_rows

    def rows(aid, blob):
        if blob is None:
            return []
        return [
            (
                int(aid), idx, r["offset"], r["warc_type"], r["target_uri"],
                r["http_status"], r["content_type"], len(r["body"]),
                r["body"].decode("utf-8", "replace"),
            )
            for idx, r in enumerate(parse_warc(bytes(blob)))
        ]

    return map_rows(archives.select(id_col, data_col), rows, WARC_RECORD_SCHEMA)
