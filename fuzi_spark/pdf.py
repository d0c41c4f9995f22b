"""Recovering PDF text + layout extraction (north_rule: "PDF/layout parse").

Pure-stdlib (re + zlib), same design stance as the HTML path: a RECOVERING
parser that never raises on malformed input — objects are found by regex
scan (the xref table is ignored entirely, like libxml2 ignoring a broken
DTD), streams that fail to inflate are skipped, and any failure downgrades
to a parse_error flag, never a task failure.

Scope (honest): text extraction covers literal/hex strings, escapes,
UTF-16BE text strings, FlateDecode and uncompressed content streams, and
the core text-positioning operators (BT/ET, Tf, Td/TD/Tm/T*, Tj/'/"/TJ).
Layout heuristics: line breaks from y-position movement, block breaks from
vertical gaps, heading-vs-paragraph from relative font size — mirroring
the HTML extractor's (kind, text, media_ref, offset) span contract.

Subset-embedded fonts (round 3): /ToUnicode CMaps (bfchar + both bfrange
forms, codespacerange-derived code width) are parsed and applied per
Tf-selected font, so glyph-coded text — the most common real-PDF failure
mode for a training-data pipeline — extracts as real characters. Fonts
WITHOUT a ToUnicode CMap still fall back to byte-value text (the
documented no-dependency limit); font resource names are resolved
document-wide, so a multi-page file reusing one name for different fonts
keeps the last binding (recovery-first tradeoff, same as XObject names).

Spark surface: `pdf_extract_df` maps a binary `content` column through the
same mapInPandas/EXTRACTED_SCHEMA contract as the HTML extractor, so every
downstream pipeline stage (lineage, resume, verification join) works on
PDF corpora unchanged.
"""

from __future__ import annotations

import re
import zlib
from typing import Optional

# ------------------------------------------------------------ object scan

_OBJ_RE = re.compile(rb"(\d+)\s+(\d+)\s+obj\b(.*?)endobj", re.S)
_STREAM_RE = re.compile(rb"stream\r?\n(.*?)endstream", re.S)
_FLATE_RE = re.compile(rb"/Filter\s*(?:\[\s*)?/FlateDecode")
_IMAGE_RE = re.compile(rb"/Subtype\s*/Image")
_XOBJ_NAME_RE = re.compile(rb"/(\w+)\s+(\d+)\s+\d+\s+R")
_XOBJ_DICT_RE = re.compile(rb"/XObject\s*<<(.*?)>>", re.S)


def _object_streams(data: bytes):
    """Yield (obj_num, dict_bytes, stream_bytes_or_None) by regex scan —
    no xref needed (recovery-first, works on truncated/garbled files)."""
    for m in _OBJ_RE.finditer(data):
        body = m.group(3)
        sm = _STREAM_RE.search(body)
        if sm:
            head = body[: sm.start()]
            raw = sm.group(1)
            if _FLATE_RE.search(head):
                try:
                    raw = zlib.decompress(raw)
                except Exception:
                    try:  # tolerate trailing whitespace/garbage
                        raw = zlib.decompressobj().decompress(raw)
                    except Exception:
                        raw = None
            yield int(m.group(1)), head, raw
        else:
            yield int(m.group(1)), body, None


# ------------------------------------------------------------ strings

_ESCAPES = {
    b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b", b"f": b"\f",
    b"(": b"(", b")": b")", b"\\": b"\\",
}


def _unescape_pdf_string(raw: bytes) -> bytes:
    """Literal-string unescape at the BYTE level. Unescape must come
    before any decode: UTF-16 code units / CMap glyph codes can contain
    0x28/0x29/0x5c, which a conforming writer escapes inside the literal
    string."""
    out = bytearray()
    i, n = 0, len(raw)
    while i < n:
        c = raw[i : i + 1]
        if c == b"\\" and i + 1 < n:
            nxt = raw[i + 1 : i + 2]
            if nxt in _ESCAPES:
                out += _ESCAPES[nxt]
                i += 2
                continue
            if nxt in b"01234567":
                j = i + 1
                oct_digits = b""
                while j < n and len(oct_digits) < 3 and raw[j : j + 1] in b"01234567":
                    oct_digits += raw[j : j + 1]
                    j += 1
                out.append(int(oct_digits, 8) & 0xFF)
                i = j
                continue
            if nxt in (b"\n", b"\r"):  # line continuation
                i += 2
                if nxt == b"\r" and raw[i : i + 1] == b"\n":
                    i += 1
                continue
            out += nxt
            i += 2
            continue
        out += c
        i += 1
    return bytes(out)


def _decode_text_bytes(bs: bytes) -> str:
    """UTF-16BE when BOM-prefixed, else latin-1 (lossless byte map —
    PDFDocEncoding differences don't matter for the printable range)."""
    if bs[:2] == b"\xfe\xff":
        try:
            return bs.decode("utf-16-be")[1:]
        except Exception:
            pass
    return bs.decode("latin-1")


def _decode_pdf_string(raw: bytes) -> str:
    """Unescape, then decode — the non-CMap text-string path."""
    return _decode_text_bytes(_unescape_pdf_string(raw))


# ------------------------------------------------------------ ToUnicode CMap

_TOUNICODE_RE = re.compile(rb"/ToUnicode\s+(\d+)\s+\d+\s+R")
_FONT_DICT_RE = re.compile(rb"/Font\s*<<(.*?)>>", re.S)
_CODESPACE_RE = re.compile(rb"begincodespacerange(.*?)endcodespacerange", re.S)
_BFCHAR_RE = re.compile(rb"beginbfchar(.*?)endbfchar", re.S)
_BFRANGE_RE = re.compile(rb"beginbfrange(.*?)endbfrange", re.S)
# one CMap operand per match: hex string, or an array of hex strings
_CMAP_TOK_RE = re.compile(rb"<([0-9A-Fa-f\s]*)>|(\[)|(\])")


def _hex_to_str(hx: bytes) -> str:
    """Destination hex (UTF-16BE code units, no BOM) → str. Real PDFs
    sometimes write a bare byte (<20>) for a BMP value; left-pad to a
    full code unit rather than mangling it into half a unit."""
    hx = re.sub(rb"\s", b"", hx)
    if len(hx) % 2:
        hx = b"0" + hx
    bs = bytes.fromhex(hx.decode("ascii"))
    if len(bs) % 2:
        bs = b"\x00" + bs
    try:
        return bs.decode("utf-16-be", "replace")
    except Exception:
        return ""


class _CMap:
    """Parsed ToUnicode mapping: glyph code → unicode string.

    decode() splits the string bytes into fixed-width codes (width from
    the codespacerange, else the widest bfchar/bfrange source) and maps
    each through singles, then ranges (continuous form: dst advances with
    the code), else falls back to the raw bytes' latin-1 characters so a
    partial CMap degrades instead of dropping text."""

    __slots__ = ("singles", "ranges", "nbytes")

    def __init__(self):
        self.singles: dict = {}
        self.ranges: list = []  # (lo, hi, dst_str_at_lo)
        self.nbytes = 0

    def decode(self, bs: bytes) -> str:
        w = self.nbytes or 1
        out = []
        n = len(bs)
        i = 0
        while i < n:
            chunk = bs[i : i + w]
            code = int.from_bytes(chunk, "big")
            s = self.singles.get(code)
            if s is None:
                for lo, hi, dst in self.ranges:
                    if lo <= code <= hi:
                        if dst:
                            # continuous form: increment the LAST code unit;
                            # a hostile range whose increment overflows
                            # chr() (> 0x10FFFF) degrades to the fallback
                            cp = ord(dst[-1]) + (code - lo)
                            if cp <= 0x10FFFF:
                                s = dst[:-1] + chr(cp)
                        break
            if s is None:
                s = chunk.decode("latin-1")
            out.append(s)
            i += w
        return "".join(out)


def _parse_cmap(stream: bytes) -> Optional[_CMap]:
    """bfchar + bfrange (both <lo> <hi> <dstStart> and
    <lo> <hi> [<d0> <d1> ...] forms) from a ToUnicode CMap stream."""
    cm = _CMap()
    for m in _CODESPACE_RE.finditer(stream):
        for hm in _CMAP_TOK_RE.finditer(m.group(1)):
            if hm.group(1) is not None:
                hx = re.sub(rb"\s", b"", hm.group(1))
                cm.nbytes = max(cm.nbytes, len(hx) // 2)

    def _src_width(hx: bytes) -> None:
        if not cm.nbytes:
            cm.nbytes = max(cm.nbytes, len(re.sub(rb"\s", b"", hx)) // 2)

    for m in _BFCHAR_RE.finditer(stream):
        toks = [t.group(1) for t in _CMAP_TOK_RE.finditer(m.group(1))
                if t.group(1) is not None]
        for j in range(0, len(toks) - 1, 2):
            _src_width(toks[j])
            src = int(re.sub(rb"\s", b"", toks[j]) or b"0", 16)
            cm.singles[src] = _hex_to_str(toks[j + 1])
    for m in _BFRANGE_RE.finditer(stream):
        # scan operands in order; arrays collect until ']'
        items: list = []
        in_array = False
        arr: list = []
        for t in _CMAP_TOK_RE.finditer(m.group(1)):
            if t.group(2):
                in_array, arr = True, []
            elif t.group(3):
                in_array = False
                items.append(arr)
            elif t.group(1) is not None:
                (arr if in_array else items).append(t.group(1))
        i = 0
        while i + 3 <= len(items):
            lo_h, hi_h, dst = items[i], items[i + 1], items[i + 2]
            i += 3
            if isinstance(lo_h, list) or isinstance(hi_h, list):
                continue  # malformed; skip this triple
            _src_width(lo_h)
            lo = int(re.sub(rb"\s", b"", lo_h) or b"0", 16)
            hi = int(re.sub(rb"\s", b"", hi_h) or b"0", 16)
            if isinstance(dst, list):
                for k, d in enumerate(dst):
                    if lo + k <= hi:
                        cm.singles[lo + k] = _hex_to_str(d)
            else:
                cm.ranges.append((lo, hi, _hex_to_str(dst)))
    if not cm.singles and not cm.ranges:
        return None
    if not cm.nbytes:
        cm.nbytes = 1
    return cm


# ------------------------------------------------------------ content stream

# one token per match: literal string (with escaped parens), hex string,
# name, number, array delimiters, operator
_TOK_RE = re.compile(
    rb"\((?:\\.|[^\\()])*\)"  # literal string (no nested unescaped parens)
    rb"|<[0-9A-Fa-f\s]*>"  # hex string
    rb"|/[^\s/<>\[\]()]+"  # name
    rb"|[-+]?\d*\.?\d+"  # number
    rb"|\[|\]"
    rb"|[A-Za-z'\"*]{1,3}"  # operator
)


class _Run:
    __slots__ = ("text", "x", "y", "size")

    def __init__(self, text, x, y, size):
        self.text, self.x, self.y, self.size = text, x, y, size


def _text_runs(
    stream: bytes, media_events: list, font_cmaps: Optional[dict] = None
) -> list[_Run]:
    """Walk one content stream, yielding positioned text runs in stream
    order. Tracks the text cursor through Td/TD/Tm/T*; size and current
    font through Tf/Tm. Strings shown under a font with a ToUnicode CMap
    decode through it (glyph codes → unicode); others use the BOM/latin-1
    text-string path."""
    runs: list[_Run] = []
    stack: list = []
    x = y = 0.0
    size = tf_size = 12.0
    leading = 14.0
    in_text = False
    in_array = False
    cur_cmap: Optional[_CMap] = None

    def show(raw: bytes):
        if raw[:1] == b"(":
            bs = _unescape_pdf_string(raw[1:-1])
        else:  # hex
            hx = re.sub(rb"\s", b"", raw[1:-1])
            if len(hx) % 2:
                hx += b"0"
            bs = bytes.fromhex(hx.decode("ascii"))
        s = cur_cmap.decode(bs) if cur_cmap is not None else _decode_text_bytes(bs)
        if s:
            runs.append(_Run(s, x, y, size))

    for m in _TOK_RE.finditer(stream):
        t = m.group(0)
        c = t[:1]
        if c == b"(" or c == b"<":
            if in_array or in_text:
                stack.append(t)
            continue
        if c == b"[":
            in_array = True
            stack.clear()
            continue
        if c == b"]":
            in_array = False
            continue
        if c == b"/":
            stack.append(t)
            continue
        if c in b"-+.0123456789":
            stack.append(t)
            continue
        # operator
        op = t
        if op == b"BT":
            in_text = True
            x = y = 0.0
            stack.clear()
        elif op == b"ET":
            in_text = False
            stack.clear()
        elif op == b"Tf":
            try:
                tf_size = size = float(stack[-1])
                leading = size * 1.2
            except (IndexError, ValueError):
                pass
            if font_cmaps and len(stack) >= 2 and stack[-2][:1] == b"/":
                cur_cmap = font_cmaps.get(stack[-2][1:].decode("latin-1"))
            stack.clear()
        elif op in (b"Td", b"TD"):
            try:
                dx, dy = float(stack[-2]), float(stack[-1])
                x += dx
                y += dy
                if op == b"TD":
                    leading = -dy if dy else leading
            except (IndexError, ValueError):
                pass
            stack.clear()
        elif op == b"Tm":
            # [a b c d e f]: e,f = origin; |d| scales the Tf font size
            try:
                x, y = float(stack[-2]), float(stack[-1])
                scale = abs(float(stack[-3]))
                if scale:
                    size = tf_size * scale
            except (IndexError, ValueError):
                pass
            stack.clear()
        elif op == b"T*":
            y -= leading
            stack.clear()
        elif op == b"TL":
            try:
                leading = float(stack[-1])
            except (IndexError, ValueError):
                pass
            stack.clear()
        elif op == b"Tj":
            if stack and stack[-1][:1] in (b"(", b"<"):
                show(stack[-1])
            stack.clear()
        elif op in (b"'", b'"'):
            y -= leading
            if stack and stack[-1][:1] in (b"(", b"<"):
                show(stack[-1])
            stack.clear()
        elif op == b"TJ":
            for el in stack:
                if el[:1] in (b"(", b"<"):
                    show(el)
            stack.clear()
        elif op == b"Do":
            if stack and stack[-1][:1] == b"/":
                media_events.append((len(runs), stack[-1][1:].decode("latin-1")))
            stack.clear()
        else:
            stack.clear()
    return runs


# ------------------------------------------------------------ layout → spans


def extract_pdf_spans(data: bytes) -> tuple[list[dict], int]:
    """data → ordered (kind, text, media_ref, offset) spans + error flag.

    Same contract as extract.extract_spans: err=1 only when nothing
    PDF-shaped is found; individual broken objects degrade silently."""
    if not data or b"obj" not in data:
        return [], 1
    xobj_names: dict[str, int] = {}
    font_names: dict[str, int] = {}
    heads_by_num: dict[int, bytes] = {}
    streams_by_num: dict[int, bytes] = {}
    image_objs: set[int] = set()
    content_parts: list[tuple[bytes, list]] = []
    try:
        for num, head, stream in _object_streams(data):
            heads_by_num[num] = head
            for dm in _XOBJ_DICT_RE.finditer(head):
                for nm in _XOBJ_NAME_RE.finditer(dm.group(1)):
                    xobj_names[nm.group(1).decode("latin-1")] = int(nm.group(2))
            for dm in _FONT_DICT_RE.finditer(head):
                for nm in _XOBJ_NAME_RE.finditer(dm.group(1)):
                    font_names[nm.group(1).decode("latin-1")] = int(nm.group(2))
            if _IMAGE_RE.search(head):
                image_objs.add(num)
                continue
            if stream:
                media_events: list = []
                streams_by_num[num] = stream
                content_parts.append((stream, media_events))
    except Exception:
        return [], 1
    if not content_parts:
        return [], 1

    # resolve font resource name → ToUnicode CMap (subset-font decode);
    # a CMap stream misidentified as page content is harmless — it has no
    # text-showing operators, so it yields zero runs
    font_cmaps: dict[str, _CMap] = {}
    for name, fnum in font_names.items():
        tm = _TOUNICODE_RE.search(heads_by_num.get(fnum, b""))
        if tm:
            cm_stream = streams_by_num.get(int(tm.group(1)))
            if cm_stream:
                cm = _parse_cmap(cm_stream)
                if cm:
                    font_cmaps[name] = cm

    spans: list[dict] = []
    all_runs: list[_Run] = []
    events: list[tuple[int, str]] = []
    for stream, media_events in content_parts:
        base = len(all_runs)
        rs = _text_runs(stream, media_events, font_cmaps or None)
        all_runs.extend(rs)
        events.extend((base + idx, name) for idx, name in media_events)

    sizes = sorted(r.size for r in all_runs) or [12.0]
    # lower median: with one heading + one body run, the body size must win
    # as the page's "body" reference or the heading can never stand out
    median_size = sizes[(len(sizes) - 1) // 2]

    # group stream-ordered runs into lines (y moves) and blocks (big gaps
    # or heading/body size class changes)
    def classify(sz: float) -> str:
        return "heading" if sz >= 1.35 * median_size else "paragraph"

    def flush(buf, kind):
        text = " ".join(" ".join(p.split()) for p in buf if p.strip())
        if text:
            spans.append(
                {"kind": kind, "text": text, "media_ref": None,
                 "offset": len(spans)}
            )

    media_at = {}
    for idx, name in events:
        obj = xobj_names.get(name)
        ref = f"pdf:obj{obj}" if obj in image_objs else f"pdf:{name}"
        media_at.setdefault(idx, []).append(ref)

    buf: list[str] = []
    cur_kind = "paragraph"
    prev: Optional[_Run] = None
    for i, r in enumerate(all_runs):
        for ref in media_at.get(i, ()):
            flush(buf, cur_kind)
            buf = []
            spans.append(
                {"kind": "media", "text": "", "media_ref": ref,
                 "offset": len(spans)}
            )
        kind = classify(r.size)
        if prev is not None:
            gap = prev.y - r.y
            new_block = kind != cur_kind or gap > max(prev.size, r.size) * 1.8
            if new_block:
                flush(buf, cur_kind)
                buf = []
        cur_kind = kind
        buf.append(r.text)
        prev = r
    flush(buf, cur_kind)
    for refs in (media_at.get(len(all_runs)) or (),):
        for ref in refs:
            spans.append(
                {"kind": "media", "text": "", "media_ref": ref,
                 "offset": len(spans)}
            )
    return spans, 0


# ------------------------------------------------------------ PDF builder
# (deterministic test/corpus generator — also used by the bench query so
# the oracle can predict spans from the source text)


def build_simple_pdf(
    title: str, paragraphs: list[str], compress: bool = False,
    image: bool = False,
) -> bytes:
    """Minimal well-formed one-page PDF: a title at 24pt + body at 12pt,
    optionally FlateDecode-compressed, optionally with an image XObject."""

    def pdf_str(s: str) -> bytes:
        """Literal-string bytes: latin-1 when representable, else
        BOM-prefixed UTF-16BE (the generator must never raise on corpus
        text above U+00FF — it runs inside the bench pandas UDF). The
        delimiters/backslash/EOL bytes are escaped AFTER encoding: UTF-16
        code units can contain 0x28/0x29/0x5c."""
        try:
            payload = s.encode("latin-1")
        except UnicodeEncodeError:
            payload = b"\xfe\xff" + s.encode("utf-16-be")
        for ch, rep in (
            (b"\\", rb"\\"), (b"(", rb"\("), (b")", rb"\)"),
            (b"\r", rb"\r"), (b"\n", rb"\n"),
        ):
            payload = payload.replace(ch, rep)
        return b"(" + payload + b")"

    content = [b"BT", b"/F1 24 Tf", b"72 720 Td", pdf_str(title) + b" Tj", b"ET"]
    ypos = 680
    for p in paragraphs:
        content += [
            b"BT", b"/F1 12 Tf", f"72 {ypos} Td".encode(),
            pdf_str(p) + b" Tj", b"ET",
        ]
        ypos -= 40
    if image:
        content += [b"q", b"100 0 0 80 72 100 cm", b"/Im1 Do", b"Q"]
    cs = b"\n".join(content)
    filt = b""
    if compress:
        cs = zlib.compress(cs)
        filt = b"/Filter /FlateDecode "
    objs = []
    objs.append(b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n")
    objs.append(b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n")
    res = b"<< /Font << /F1 5 0 R >>"
    if image:
        res += b" /XObject << /Im1 6 0 R >>"
    res += b" >>"
    objs.append(
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources " + res + b" /Contents 4 0 R >>\nendobj\n"
    )
    objs.append(
        b"4 0 obj\n<< " + filt + b"/Length " + str(len(cs)).encode()
        + b" >>\nstream\n" + cs + b"\nendstream\nendobj\n"
    )
    objs.append(
        b"5 0 obj\n<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>\nendobj\n"
    )
    if image:
        img = bytes(range(16)) * 4
        objs.append(
            b"6 0 obj\n<< /Type /XObject /Subtype /Image /Width 8 /Height 8 "
            b"/ColorSpace /DeviceGray /BitsPerComponent 8 /Length "
            + str(len(img)).encode() + b" >>\nstream\n" + img
            + b"\nendstream\nendobj\n"
        )
    out = [b"%PDF-1.4\n"]
    offsets = []
    pos = len(out[0])
    for o in objs:
        offsets.append(pos)
        out.append(o)
        pos += len(o)
    xref_pos = pos
    xref = [f"xref\n0 {len(objs)+1}\n0000000000 65535 f \n".encode()]
    for off in offsets:
        xref.append(f"{off:010d} 00000 n \n".encode())
    out.extend(xref)
    out.append(
        b"trailer\n<< /Size " + str(len(objs) + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(xref_pos).encode()
        + b"\n%%EOF\n"
    )
    return b"".join(out)


def build_subset_font_pdf(
    title: str, paragraphs: list[str], compress: bool = False
) -> bytes:
    """One-page PDF whose text is shown as 2-byte GLYPH CODES through a
    Type0 subset font with a /ToUnicode CMap — the fixture for the
    CMap-decoded extraction path (the most common real-PDF shape:
    Identity-H CID font, codes assigned in first-use order, so the raw
    bytes are meaningless without the CMap).

    The CMap mixes both mapping forms deliberately: runs of ≥2
    consecutive-codepoint characters become continuous bfrange entries
    (dst advances with the code), singletons become bfchar entries."""
    all_text = [title] + list(paragraphs)
    charset = sorted({ch for t in all_text for ch in t})
    code_of = {ch: i + 1 for i, ch in enumerate(charset)}

    def hexstr(s: str) -> bytes:
        return b"<" + "".join(f"{code_of[ch]:04X}" for ch in s).encode() + b">"

    def u16(s: str) -> bytes:
        return b"<" + s.encode("utf-16-be").hex().upper().encode() + b">"

    # group charset (sorted, so consecutive codepoints get consecutive
    # glyph codes) into bfrange runs and bfchar singletons
    runs: list[tuple[int, int]] = []  # [start_idx, end_idx] inclusive
    for i, ch in enumerate(charset):
        if runs and ord(ch) == ord(charset[i - 1]) + 1 and i - 1 == runs[-1][1]:
            runs[-1] = (runs[-1][0], i)
        else:
            runs.append((i, i))
    bfranges = [(a, b) for a, b in runs if b > a]
    bfchars = [a for a, b in runs if b == a]
    cmap_lines = [
        b"/CIDInit /ProcSet findresource begin",
        b"12 dict begin",
        b"begincmap",
        b"1 begincodespacerange",
        b"<0000> <FFFF>",
        b"endcodespacerange",
    ]
    if bfranges:
        cmap_lines.append(str(len(bfranges)).encode() + b" beginbfrange")
        for a, b in bfranges:
            cmap_lines.append(
                b"<%04X> <%04X> " % (a + 1, b + 1) + u16(charset[a])
            )
        cmap_lines.append(b"endbfrange")
    if bfchars:
        cmap_lines.append(str(len(bfchars)).encode() + b" beginbfchar")
        for a in bfchars:
            cmap_lines.append(b"<%04X> " % (a + 1) + u16(charset[a]))
        cmap_lines.append(b"endbfchar")
    cmap_lines += [b"endcmap", b"end", b"end"]
    cmap = b"\n".join(cmap_lines)

    content = [b"BT", b"/F1 24 Tf", b"72 720 Td", hexstr(title) + b" Tj", b"ET"]
    ypos = 680
    for p in paragraphs:
        content += [
            b"BT", b"/F1 12 Tf", f"72 {ypos} Td".encode(),
            hexstr(p) + b" Tj", b"ET",
        ]
        ypos -= 40
    cs = b"\n".join(content)
    filt = b""
    if compress:
        cs = zlib.compress(cs)
        filt = b"/Filter /FlateDecode "
    objs = [
        b"1 0 obj\n<< /Type /Catalog /Pages 2 0 R >>\nendobj\n",
        b"2 0 obj\n<< /Type /Pages /Kids [3 0 R] /Count 1 >>\nendobj\n",
        b"3 0 obj\n<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
        b"/Resources << /Font << /F1 5 0 R >> >> /Contents 4 0 R >>\nendobj\n",
        b"4 0 obj\n<< " + filt + b"/Length " + str(len(cs)).encode()
        + b" >>\nstream\n" + cs + b"\nendstream\nendobj\n",
        b"5 0 obj\n<< /Type /Font /Subtype /Type0 /BaseFont /ABCDEF+Fake "
        b"/Encoding /Identity-H /ToUnicode 6 0 R >>\nendobj\n",
        b"6 0 obj\n<< /Length " + str(len(cmap)).encode()
        + b" >>\nstream\n" + cmap + b"\nendstream\nendobj\n",
    ]
    out = [b"%PDF-1.4\n"]
    pos = len(out[0])
    offsets = []
    for o in objs:
        offsets.append(pos)
        out.append(o)
        pos += len(o)
    xref = [f"xref\n0 {len(objs)+1}\n0000000000 65535 f \n".encode()]
    for off in offsets:
        xref.append(f"{off:010d} 00000 n \n".encode())
    out.extend(xref)
    out.append(
        b"trailer\n<< /Size " + str(len(objs) + 1).encode()
        + b" /Root 1 0 R >>\nstartxref\n" + str(pos).encode() + b"\n%%EOF\n"
    )
    return b"".join(out)


# ------------------------------------------------------------ Spark surface


def pdf_extract_df(docs, content_col: str = "content", id_col: str = "doc_id"):
    """(doc_id, content: binary) → extracted spans, one row per span —
    the same EXTRACTED_SCHEMA/mapInPandas contract as the HTML extractor,
    so lineage/resume/verification compose unchanged."""
    from .udfs import EXTRACTED_SCHEMA, row_mapper, span_rows

    def rows(doc_id, data):
        return span_rows(doc_id, *extract_pdf_spans(bytes(data or b"")))

    return docs.select(id_col, content_col).mapInPandas(
        row_mapper(rows, EXTRACTED_SCHEMA), schema=EXTRACTED_SCHEMA
    )
