"""PDF document source — dependency-free structure walk + text
extraction for the document format every real corpus is full of.

Parses the REAL file structure (PDF 1.4 classic form), not a library
facade:

- header version check, ``startxref`` tail scan, cross-reference TABLE
  parse (multi-section, free/in-use entries), trailer dictionary;
- a recursive-descent tokenizer for the object subset the document
  graph is made of: dictionaries, arrays, names, numbers, strings
  (with escape sequences and octal codes), indirect references,
  booleans/null;
- indirect-object bodies (``n g obj … endobj``) with stream payloads:
  ``/Length`` honored (direct or indirect), ``/Filter /FlateDecode``
  inflated via stdlib zlib, stream framing validated;
- the Catalog → Pages → Kids page-tree walk (nested trees supported)
  and per-page content-stream text extraction from ``Tj`` / ``TJ``
  show operators (string escapes and kerning arrays handled).

Loud gates — the forms that need features deliberately out of scope:
``/Encrypt`` in the trailer (encrypted docs), cross-reference STREAMS
(``/Type /XRef``, the 1.5+ compressed form), object streams
(``/ObjStm``), and filters other than FlateDecode. A router counts
those; it never guesses at their contents.

The writer emits deterministic PDFs (fixed object layout, correct
xref offsets, FlateDecode'd content streams) so synthesized corpora
are byte-stable and the oracle recomputes extraction results from the
characters.

Reference parity: none — engine ADDITION for the LLM-training-data
surface. Query ``c3_pdf_extract`` runs the extraction against a DuckDB
oracle that recomputes every column from the characters.
"""

from __future__ import annotations

import re
import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.payload import map_payload, synth_payload

PAGE_CHARS = 80  # synthesis: characters per page

# ---------------------------------------------------------------------------
# writer
# ---------------------------------------------------------------------------


def _pdf_text_bytes(s: str) -> bytes:
    """A PDF literal-string body for ``s``, following the REAL text-
    string convention (PDF 32000 §7.9.2.2): Latin-1-encodable text is
    written as single bytes; anything else as UTF-16BE with the FE FF
    BOM. Delimiters and line-end bytes are backslash-escaped so the
    string survives any conforming reader."""
    try:
        raw = s.encode("latin-1")
    except UnicodeEncodeError:
        raw = b"\xfe\xff" + s.encode("utf-16-be")
    out = bytearray()
    esc = {0x5C: b"\\\\", 0x28: b"\\(", 0x29: b"\\)", 0x0D: b"\\r", 0x0A: b"\\n"}
    for b in raw:
        out += esc.get(b) or bytes([b])
    return bytes(out)


def _pdf_text_decode(b: bytes) -> str:
    """Inverse of the text-string convention: BOM'd UTF-16BE, else
    Latin-1 (every byte string is valid Latin-1 — no silent failure)."""
    if b[:2] == b"\xfe\xff":
        return b[2:].decode("utf-16-be")
    return b.decode("latin-1")


def synth_pdf(doc_id: int, text: str) -> bytes:
    """One deterministic PDF per document: ``ceil(len/80)`` pages (min
    1), a shared Type1 font object, one FlateDecode'd content stream
    per page showing that page's slice of the text via ``Tj``. Correct
    xref offsets and trailer — stdlib-only, real structure."""
    pages = [text[i : i + PAGE_CHARS] for i in range(0, len(text), PAGE_CHARS)] or [""]
    n_pages = len(pages)
    # object numbering: 1 catalog, 2 pages, 3 font, then per page i:
    # 4+2i page, 5+2i content
    objs: dict[int, bytes] = {}
    kids = " ".join(f"{4 + 2 * i} 0 R" for i in range(n_pages))
    objs[1] = b"<< /Type /Catalog /Pages 2 0 R >>"
    objs[2] = (
        f"<< /Type /Pages /Kids [{kids}] /Count {n_pages} >>".encode("ascii")
    )
    objs[3] = b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica >>"
    for i, ptext in enumerate(pages):
        objs[4 + 2 * i] = (
            f"<< /Type /Page /Parent 2 0 R /MediaBox [0 0 612 792] "
            f"/Resources << /Font << /F1 3 0 R >> >> "
            f"/Contents {5 + 2 * i} 0 R >>"
        ).encode("ascii")
        content = (
            b"BT /F1 12 Tf 72 720 Td ("
            + _pdf_text_bytes(ptext)
            + b") Tj ET"
        )
        data = zlib.compress(content, 6)
        objs[5 + 2 * i] = (
            f"<< /Length {len(data)} /Filter /FlateDecode >>\nstream\n".encode("ascii")
            + data
            + b"\nendstream"
        )
    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets: dict[int, int] = {}
    for num in sorted(objs):
        offsets[num] = len(out)
        out += f"{num} 0 obj\n".encode("ascii") + objs[num] + b"\nendobj\n"
    xref_at = len(out)
    n_objs = max(objs) + 1
    out += f"xref\n0 {n_objs}\n".encode("ascii")
    out += b"0000000000 65535 f \n"
    for num in range(1, n_objs):
        out += f"{offsets[num]:010d} 00000 n \n".encode("ascii")
    out += (
        f"trailer\n<< /Size {n_objs} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode("ascii")
    return bytes(out)


# ---------------------------------------------------------------------------
# object tokenizer (the PDF 1.4 object subset)
# ---------------------------------------------------------------------------

_WS = b"\x00\t\n\x0c\r "
_DELIM = b"()<>[]{}/%"

# hot-loop token patterns, precompiled and matched AT a position
# (Pattern.match(data, pos)) so tokenizing never copies the tail of
# the buffer the way re.match(..., d[p:]) would
_NAME_RE = re.compile(rb"/([^\x00\t\n\x0c\r ()<>\[\]{}/%]*)")
_REF_RE = re.compile(rb"(\d+)\s+(\d+)\s+R\b")
_NUM_RE = re.compile(rb"[+-]?(\d+\.\d*|\.\d+|\d+)")
_OCT_RE = re.compile(rb"[0-7]{1,3}")


class _Lexer:
    def __init__(self, data: bytes, pos: int = 0) -> None:
        self.data = data
        self.pos = pos

    def _skip_ws(self) -> None:
        d = self.data
        while self.pos < len(d):
            c = d[self.pos : self.pos + 1]
            if c in (b"%",):  # comment to end of line
                eol = d.find(b"\n", self.pos)
                self.pos = len(d) if eol < 0 else eol + 1
            elif c in _WS:
                self.pos += 1
            else:
                return

    def parse_object(self):
        """One object of the subset; returns Python values (dict/list/
        bytes for strings/('ref', n) tuples/('name', x)/num/bool/None)."""
        self._skip_ws()
        d, p = self.data, self.pos
        if p >= len(d):
            raise ValueError("unexpected end of PDF object data")
        if d[p : p + 2] == b"<<":
            self.pos += 2
            out = {}
            while True:
                self._skip_ws()
                if self.data[self.pos : self.pos + 2] == b">>":
                    self.pos += 2
                    return out
                key = self.parse_object()
                if not (isinstance(key, tuple) and key[0] == "name"):
                    raise ValueError(f"dictionary key is not a name: {key!r}")
                out[key[1]] = self.parse_object()
        if d[p : p + 1] == b"[":
            self.pos += 1
            out = []
            while True:
                self._skip_ws()
                if self.data[self.pos : self.pos + 1] == b"]":
                    self.pos += 1
                    return out
                out.append(self.parse_object())
        if d[p : p + 1] == b"/":
            m = _NAME_RE.match(d, p)
            self.pos = m.end()
            return ("name", m.group(1).decode("latin-1"))
        if d[p : p + 1] == b"(":
            return self._parse_string()
        if d[p : p + 1] == b"<":  # hex string
            end = d.find(b">", p)
            if end < 0:
                raise ValueError("unterminated hex string")
            hx = re.sub(rb"\s", b"", d[p + 1 : end])
            if len(hx) % 2:
                hx += b"0"
            self.pos = end + 1
            return bytes.fromhex(hx.decode("ascii"))
        m = _REF_RE.match(d, p)
        if m:
            self.pos = m.end()
            return ("ref", int(m.group(1)))
        m = _NUM_RE.match(d, p)
        if m:
            self.pos = m.end()
            tok = m.group(0)
            return float(tok) if b"." in tok else int(tok)
        for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
            if d[p : p + len(lit)] == lit:
                self.pos = p + len(lit)
                return val
        raise ValueError(f"unparseable PDF token at byte {p}: {d[p:p + 20]!r}")

    def _parse_string(self) -> bytes:
        d = self.data
        p = self.pos + 1
        out = bytearray()
        depth = 1
        while p < len(d):
            c = d[p]
            if c == 0x5C:  # backslash
                nxt = d[p + 1 : p + 2]
                esc = {b"n": b"\n", b"r": b"\r", b"t": b"\t", b"b": b"\b",
                       b"f": b"\x0c", b"(": b"(", b")": b")", b"\\": b"\\"}
                if nxt in esc:
                    out += esc[nxt]
                    p += 2
                    continue
                m = _OCT_RE.match(d, p + 1, p + 4)
                if m:
                    out.append(int(m.group(0), 8) & 0xFF)
                    p = m.end()
                    continue
                if nxt in (b"\r", b"\n"):
                    # line continuation: the spec consumes backslash AND
                    # the EOL (\r, \n, or \r\n) — keeping the EOL byte
                    # would add spurious newlines to extracted text
                    p += 2
                    if nxt == b"\r" and d[p : p + 1] == b"\n":
                        p += 1
                    continue
                p += 1  # unknown escape: drop the backslash only
                continue
            if c == 0x28:
                depth += 1
            elif c == 0x29:
                depth -= 1
                if depth == 0:
                    self.pos = p + 1
                    return bytes(out)
            out.append(c)
            p += 1
        raise ValueError("unterminated PDF string")


# ---------------------------------------------------------------------------
# document parser
# ---------------------------------------------------------------------------


def parse_pdf(payload: bytes) -> dict:
    """Walk a classic-form PDF: xref table(s) + trailer, object graph,
    page tree, content streams, ``Tj``/``TJ`` text. Returns
    ``{"version", "n_objects", "n_pages", "page_texts"}``. Gates loudly
    on encryption, xref/object streams, and non-Flate filters."""
    m = re.match(rb"%PDF-(\d+\.\d+)", payload)
    if not m:
        raise ValueError("not a PDF (missing %PDF header)")
    version = m.group(1).decode("ascii")

    sx = payload.rfind(b"startxref")
    if sx < 0:
        raise ValueError("missing startxref")
    m = re.match(rb"startxref\s+(\d+)", payload[sx:])
    if not m:
        raise ValueError("malformed startxref")
    xref_at = int(m.group(1))

    # xref table chain (classic form only)
    offsets: dict[int, int] = {}
    trailer: dict = {}
    seen_xref = set()
    while True:
        if xref_at in seen_xref:
            raise ValueError("circular /Prev xref chain")
        seen_xref.add(xref_at)
        if payload[xref_at : xref_at + 4] != b"xref":
            raise ValueError(
                "cross-reference STREAMS (PDF 1.5+ compressed form) "
                "unsupported — classic xref tables only"
            )
        lex = _Lexer(payload, xref_at + 4)
        while True:
            lex._skip_ws()
            if payload[lex.pos : lex.pos + 7] == b"trailer":
                lex.pos += 7
                t = lex.parse_object()
                if not isinstance(t, dict):
                    raise ValueError("trailer is not a dictionary")
                for k, v in t.items():
                    trailer.setdefault(k, v)
                break
            m = re.match(rb"(\d+)\s+(\d+)\s*", payload[lex.pos :])
            if not m:
                raise ValueError(f"malformed xref section at byte {lex.pos}")
            start, count = int(m.group(1)), int(m.group(2))
            lex.pos += m.end()
            for i in range(count):
                ent = payload[lex.pos : lex.pos + 20]
                em = re.match(rb"(\d{10}) (\d{5}) ([nf])", ent)
                if not em:
                    raise ValueError(f"malformed xref entry at byte {lex.pos}")
                if em.group(3) == b"n":
                    offsets.setdefault(start + i, int(em.group(1)))
                lex.pos += 20
        if "Encrypt" in trailer:
            raise ValueError("encrypted PDF unsupported (no /Encrypt handling)")
        prev = trailer.get("Prev")
        if prev is None or not isinstance(prev, int):
            break
        xref_at = prev
        trailer.pop("Prev")

    root = trailer.get("Root")
    if not (isinstance(root, tuple) and root[0] == "ref"):
        raise ValueError("trailer missing /Root reference")

    def load_object(num: int):
        if num not in offsets:
            raise ValueError(f"object {num} not in the xref table")
        at = offsets[num]
        m = re.match(rb"(\d+)\s+(\d+)\s+obj\b", payload[at:])
        if not m or int(m.group(1)) != num:
            raise ValueError(f"object {num}: header mismatch at byte {at}")
        lex = _Lexer(payload, at + m.end())
        obj = lex.parse_object()
        lex._skip_ws()
        if payload[lex.pos : lex.pos + 6] == b"stream":
            if not isinstance(obj, dict):
                raise ValueError(f"object {num}: stream without a dictionary")
            p = lex.pos + 6
            if payload[p : p + 2] == b"\r\n":
                p += 2
            elif payload[p : p + 1] == b"\n":
                p += 1
            length = obj.get("Length")
            if isinstance(length, tuple) and length[0] == "ref":
                length = load_object(length[1])[0]
            if not isinstance(length, int):
                raise ValueError(f"object {num}: non-integer /Length")
            data = payload[p : p + length]
            if len(data) != length:
                raise ValueError(f"object {num}: stream truncated")
            tail = payload[p + length : p + length + 11 + 2].lstrip(b"\r\n")
            if not tail.startswith(b"endstream"):
                raise ValueError(f"object {num}: missing endstream")
            return obj, data
        return obj, None

    def resolve(v):
        if isinstance(v, tuple) and v[0] == "ref":
            return load_object(v[1])[0]
        return v

    catalog = load_object(root[1])[0]
    if resolve(catalog.get("Type")) != ("name", "Catalog"):
        raise ValueError("/Root does not reference a /Catalog")
    pages_ref = catalog.get("Pages")
    if not (isinstance(pages_ref, tuple) and pages_ref[0] == "ref"):
        raise ValueError("catalog missing /Pages reference")

    page_texts: list[str] = []

    def walk(node_num: int, depth: int = 0):
        if depth > 64:
            raise ValueError("page tree deeper than 64 (cycle?)")
        node, _ = load_object(node_num)
        ntype = node.get("Type")
        if ntype == ("name", "Pages"):
            for kid in node.get("Kids", []):
                if not (isinstance(kid, tuple) and kid[0] == "ref"):
                    raise ValueError("/Kids entry is not a reference")
                walk(kid[1], depth + 1)
            return
        if ntype == ("name", "ObjStm") or ntype == ("name", "XRef"):
            raise ValueError("object/xref streams unsupported (PDF 1.5+)")
        if ntype != ("name", "Page"):
            raise ValueError(f"unexpected page-tree node type {ntype!r}")
        contents = node.get("Contents")
        refs = []
        if isinstance(contents, tuple) and contents[0] == "ref":
            refs = [contents[1]]
        elif isinstance(contents, list):
            refs = [c[1] for c in contents if isinstance(c, tuple) and c[0] == "ref"]
        text_parts: list[bytes] = []
        for rnum in refs:
            obj, data = load_object(rnum)
            if data is None:
                raise ValueError(f"page content {rnum} has no stream")
            filt = obj.get("Filter")
            if filt == ("name", "FlateDecode"):
                try:
                    data = zlib.decompress(data)
                except zlib.error as exc:
                    raise ValueError(
                        f"content stream {rnum}: corrupt Flate data: {exc}"
                    ) from exc
            elif filt is not None:
                raise ValueError(
                    f"content filter {filt!r} unsupported (FlateDecode only)"
                )
            text_parts.append(data)
        page_texts.append(_extract_text(b"\n".join(text_parts)))

    walk(pages_ref[1])
    n_pages = len(page_texts)
    declared = resolve(load_object(pages_ref[1])[0].get("Count"))
    if isinstance(declared, int) and declared != n_pages:
        raise ValueError(
            f"page tree declares /Count {declared}, walked {n_pages} pages"
        )
    return {
        "version": version,
        "n_objects": len(offsets),
        "n_pages": n_pages,
        "page_texts": page_texts,
    }


def _extract_text(content: bytes) -> str:
    """Text from a content stream: every ``(…) Tj`` show plus ``TJ``
    kerning arrays (string elements concatenated, numbers skipped)."""
    out: list[str] = []
    lex = _Lexer(content)
    pending: list[bytes] = []
    while True:
        lex._skip_ws()
        if lex.pos >= len(content):
            break
        c = content[lex.pos : lex.pos + 1]
        if c == b"(" or c == b"[" or c == b"<" or c == b"/":
            obj = lex.parse_object()
            pending.append(obj)
            continue
        m = re.match(
            rb"[^\x00\t\n\x0c\r ()<>\[\]{}/%]+", content[lex.pos :]
        )
        if not m:
            raise ValueError(
                f"unparseable content token at byte {lex.pos}"
            )
        op = m.group(0)
        lex.pos += m.end()
        if re.fullmatch(rb"[+-]?(\d+\.\d*|\.\d+|\d+)", op):
            pending.append(op)  # numeric operand
            continue
        # a real operator: consume its pending operands
        if op == b"Tj":
            if not pending or not isinstance(pending[-1], bytes):
                raise ValueError("Tj with no string operand")
            out.append(_pdf_text_decode(pending[-1]))
        elif op == b"TJ":
            if not pending or not isinstance(pending[-1], list):
                raise ValueError("TJ with no array operand")
            out.append(
                "".join(
                    _pdf_text_decode(e) for e in pending[-1] if isinstance(e, bytes)
                )
            )
        pending = []

    return "".join(out)


# ---------------------------------------------------------------------------
# Spark layer
# ---------------------------------------------------------------------------

PDF_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("n_pages", LongType(), False),
        StructField("n_objects", LongType(), False),
        StructField("pdf_version", StringType(), False),
        StructField("text_out", StringType(), True),
        StructField("first_page_chars", LongType(), False),
    ]
)


def with_pdf_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    return synth_payload(
        df,
        lambda i, t: synth_pdf(int(i), t),
        "application/pdf",
        cols=("doc_id", text_col),
    )


def extract_pdf_documents(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """Full structure walk + text extraction per PDF — one Arrow pass."""

    def rows(doc_id, payload):
        p = parse_pdf(payload)
        yield (
            int(doc_id),
            p["n_pages"],
            p["n_objects"],
            p["version"],
            "".join(p["page_texts"]),
            len(p["page_texts"][0]) if p["page_texts"] else 0,
        )

    return map_payload(df, PDF_DOC_SCHEMA, rows, id_col)
