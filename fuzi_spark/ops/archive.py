"""Archive container sources (ZIP / TAR / TAR.GZ) → member rows.

Web corpora ship as archives at least as often as as loose files:
dataset dumps, sitemap bundles, scraped-site snapshots. This is the
source-format seam that turns an archive BLOB column into per-member
rows the rest of the pipeline can process — the same explode shape as
parse_warc_df (ONE map_rows pass, no shuffle).

Recovering contract, same philosophy as warc.py/pdf.py: a blob that is
not a parseable archive yields zero member rows and one `archive_ok=0`
stub row (absence is knowledge); a member that fails extraction yields
its metadata with NULL text rather than killing the batch; nothing ever
raises. Format is sniffed per blob (PK zip magic, gzip magic, ustar
block) — mixed-format columns just work.

Text decode: members are decoded as UTF-8 (replace) up to `text_cap`
bytes when they look textual (no NUL in the sniff window); binary
members keep text=NULL with their true size — downstream media ops take
the bytes path via member_bytes=False callers re-extracting what they
need. Member order is the archive's own order, exposed as `seq`.
"""

from __future__ import annotations

import io
import tarfile
import zipfile
from typing import List, Optional, Tuple

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from ..udfs import map_rows

ARCHIVE_SCHEMA = StructType(
    [
        StructField("doc_id", LongType()),
        StructField("archive_format", StringType()),  # zip | tar | NULL
        StructField("archive_ok", IntegerType()),
        StructField("seq", IntegerType()),
        StructField("member_name", StringType()),
        StructField("member_size", LongType()),
        StructField("is_text", IntegerType()),
        StructField("text", StringType()),
    ]
)

_TEXT_SNIFF = 4096


def _decode_member(data: bytes, text_cap: int) -> Tuple[int, Optional[str]]:
    if b"\x00" in data[:_TEXT_SNIFF]:
        return 0, None
    return 1, data[:text_cap].decode("utf-8", "replace")


def parse_zip(content, text_cap: int = 65536) -> Optional[List[tuple]]:
    """ZIP central-directory walk via stdlib zipfile. Returns member
    tuples (seq, name, size, is_text, text) or None when the blob is
    not a readable zip. Directories are skipped; a member whose
    extraction fails (bad CRC, unsupported compression) keeps its
    metadata with NULL text."""
    try:
        zf = zipfile.ZipFile(io.BytesIO(bytes(content or b"")))
    except Exception:
        return None
    out = []
    seq = 0
    for info in zf.infolist():
        if info.is_dir():
            continue
        try:
            data = zf.read(info.filename)
            is_text, text = _decode_member(data, text_cap)
        except Exception:
            is_text, text = 0, None
        out.append((seq, info.filename, int(info.file_size), is_text, text))
        seq += 1
    return out


def parse_tar(content, text_cap: int = 65536) -> Optional[List[tuple]]:
    """TAR (plain or gzip) member walk via stdlib tarfile (mode 'r:*'
    sniffs compression). Same member-tuple contract as parse_zip."""
    try:
        tf = tarfile.open(fileobj=io.BytesIO(bytes(content or b"")), mode="r:*")
    except Exception:
        return None
    out = []
    seq = 0
    try:
        for m in tf:
            if not m.isfile():
                continue
            try:
                data = tf.extractfile(m).read()
                is_text, text = _decode_member(data, text_cap)
            except Exception:
                is_text, text = 0, None
            out.append((seq, m.name, int(m.size), is_text, text))
            seq += 1
    except Exception:
        pass  # truncated tail: keep the members already walked
    return out


def parse_archive(content, text_cap: int = 65536):
    """Sniff + parse: ('zip'|'tar', members) or (None, None)."""
    b = bytes(content or b"")
    if b[:4] in (b"PK\x03\x04", b"PK\x05\x06"):
        members = parse_zip(b, text_cap)
        if members is not None:
            return "zip", members
    members = parse_tar(b, text_cap)
    if members is not None:
        return "tar", members
    # zip self-extracting / trailing-junk forms: last resort
    members = parse_zip(b, text_cap)
    if members is not None:
        return "zip", members
    return None, None


def parse_archive_df(
    docs: DataFrame,
    id_col: str = "doc_id",
    blob_col: str = "content",
    text_cap: int = 65536,
) -> DataFrame:
    """(id, archive blob) → member rows (ARCHIVE_SCHEMA): ONE
    map_rows explode, repartitioned by id first so giant archives
    spread across tasks. Unparseable blobs emit a single archive_ok=0
    stub row."""

    def rows(did, blob):
        fmt, members = parse_archive(blob, text_cap)
        if members is None:
            return [(did, None, 0, None, None, None, None, None)]
        return [(did, fmt, 1, *m) for m in members]

    return map_rows(
        docs.select(F.col(id_col).alias("doc_id"), F.col(blob_col)).repartition(
            docs.sparkSession.sparkContext.defaultParallelism, "doc_id"
        ),
        rows,
        ARCHIVE_SCHEMA,
    )
