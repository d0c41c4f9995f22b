"""Content-defined chunking (CDC) for binary/blob dedup.

The storage-level dedup family: split every blob at positions chosen
by a rolling hash of its CONTENT, so two blobs sharing long byte runs
produce identical chunks for the shared runs even when insertions
shift offsets — the property fixed-size chunking lacks and the reason
every dedup store (restic/borg/LBFS lineage, WARC dedup caches) uses
CDC. In a crawl pipeline this is how re-crawled pages, mirrored
assets, and re-encoded container files dedup at the byte level before
any parsing happens.

Scheme (FastCDC-simplified, deterministic, dependency-free):
- gear table: 256 uint64 constants derived from md5("gear:<byte>") —
  reproducible anywhere, no RNG;
- rolling hash at position i: sum over the last W=16 bytes of
  gear[b[i-j]] << j (uint64 wrap) — computed for ALL positions with
  16 shifted adds over the byte array (numpy, no per-byte Python
  loop);
- a position is a cut candidate iff (h & (avg_size-1)) == 0
  (avg_size a power of two); min_size/max_size are enforced with a
  greedy pass over the SPARSE candidate index list.

Chunk identity is md5 of the chunk bytes. The per-doc walk runs in
mapInPandas (Arrow batches); corpus-level dedup is then a plain
chunk-hash groupBy — the same shuffle discipline as dedup_exact but
at sub-document granularity.
"""

from __future__ import annotations

import hashlib

import numpy as np

from pyspark.sql import DataFrame

from ..udfs import row_mapper

_W = 16  # rolling window (bytes)


def _gear_table() -> np.ndarray:
    g = np.empty(256, dtype=np.uint64)
    for b in range(256):
        g[b] = int.from_bytes(
            hashlib.md5(f"gear:{b}".encode()).digest()[:8], "big"
        )
    return g


_GEAR = _gear_table()


def _rolling_hash(data: bytes) -> np.ndarray:
    """h[i] = sum_{j<W} gear[data[i-j]] << j (uint64 wrap), defined for
    i >= W-1; positions before a full window never cut."""
    arr = np.frombuffer(data, dtype=np.uint8)
    mapped = _GEAR[arr]
    h = np.zeros(len(arr), dtype=np.uint64)
    for j in range(_W):
        shifted = mapped << np.uint64(j)
        if j == 0:
            h += shifted
        else:
            h[j:] += shifted[:-j]
    h[: _W - 1] = np.uint64(1)  # never zero -> never a candidate
    return h


def chunk_boundaries(
    data: bytes,
    avg_size: int = 256,
    min_size: int = 64,
    max_size: int = 1024,
) -> list:
    """End offsets (exclusive) of each chunk; always ends at len(data).
    avg_size must be a power of two (mask = avg_size - 1)."""
    n = len(data)
    if n == 0:
        return []
    mask = np.uint64(avg_size - 1)
    h = _rolling_hash(data)
    cand = np.nonzero((h & mask) == 0)[0] + 1  # cut AFTER position i
    cuts = []
    start = 0
    for c in cand:
        c = int(c)
        if c - start < min_size:
            continue
        while c - start > max_size:
            cuts.append(start + max_size)
            start += max_size
        if c - start >= min_size:
            cuts.append(c)
            start = c
    while n - start > max_size:
        cuts.append(start + max_size)
        start += max_size
    if start < n:
        cuts.append(n)
    return cuts


def cdc_chunk_blob(
    data: bytes,
    avg_size: int = 256,
    min_size: int = 64,
    max_size: int = 1024,
) -> list:
    """[(chunk_idx, offset, length, chunk_hash hex)] for one blob."""
    out = []
    start = 0
    for idx, end in enumerate(
        chunk_boundaries(data, avg_size, min_size, max_size)
    ):
        piece = data[start:end]
        out.append(
            (idx, start, end - start, hashlib.md5(piece).hexdigest())
        )
        start = end
    return out


CDC_SCHEMA = (
    "doc_id long, chunk_idx int, offset int, length int, "
    "chunk_hash string"
)


def cdc_chunks_df(
    docs: DataFrame,
    bin_col: str = "payload",
    id_col: str = "doc_id",
    avg_size: int = 256,
    min_size: int = 64,
    max_size: int = 1024,
) -> DataFrame:
    """Explode blobs into CDC chunk rows (Arrow-batched)."""
    def rows(did, blob):
        if blob is None:
            return []
        return [
            (int(did), *chunk)
            for chunk in cdc_chunk_blob(bytes(blob), avg_size, min_size, max_size)
        ]

    return docs.select(id_col, bin_col).mapInPandas(
        row_mapper(rows, CDC_SCHEMA), schema=CDC_SCHEMA
    )
