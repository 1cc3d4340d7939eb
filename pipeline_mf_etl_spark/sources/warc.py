"""WARC (Web ARChive) source — the Common-Crawl ingestion format.

Web-scale training corpora start life as WARC: ISO 28500 record streams
holding captured HTTP traffic, compressed as MULTI-MEMBER gzip (one
record per member, so a reader can split a petabyte crawl at member
boundaries without decompressing it first). This module is the engine's
dependency-free boundary for that format:

- ``split_gzip_members`` — member-level splitter (stdlib zlib only),
  the primitive that makes ``.warc.gz`` parallelizable: each member
  decompresses independently, so a 100 TB crawl fans out at RECORD
  grain, not file grain.
- ``parse_warc`` — the ISO 28500 record walk: version line, named
  headers (with RFC-822 continuation folding), ``Content-Length``-framed
  payload, CRLF-CRLF record separator. Mandatory headers are validated;
  malformed streams fail loudly with offsets, never guess.
- ``parse_http_response`` — the payload of a ``response`` record is a
  raw HTTP/1.x message: status line, headers, body; ``chunked``
  transfer-encoding is de-chunked and ``gzip`` content-encoding
  inflated (both appear constantly in real crawl data).
- ``with_warc_payload`` / ``extract_warc_documents`` — the Spark
  layer: deterministic synthesis (one ``.warc.gz`` per document,
  warcinfo + request + response records, HTTP variants cycled by
  doc_id so every parse path is exercised) and the Arrow-batched
  extraction pass emitting one row per response record. Both are
  map-only: zero shuffles, no driver involvement — at 100 TB the
  extraction scales with executor count exactly like the codec family.

Reference parity: none — the reference ingests delimited OHLCV text
only (ingest/read_txt.py). WARC is an engine ADDITION for the
LLM-training-data pipeline surface (the upstream of the documents
table that every dedup/quality/text query consumes).

Query ``c1_warc_extract`` runs the extraction against a DuckDB oracle
that recomputes every column from the characters; tests/test_warc.py
covers the library layer (member split, record walk, HTTP parse).
"""

from __future__ import annotations

import zlib

from pyspark.sql import DataFrame
from pyspark.sql.types import (
    LongType,
    StringType,
    StructField,
    StructType,
)

from pipeline_mf_etl_spark.payload import map_payload, synth_payload

CRLF = b"\r\n"

# ---------------------------------------------------------------------------
# gzip multi-member split (the .warc.gz parallelism primitive)
# ---------------------------------------------------------------------------


def gzip_member(data: bytes, level: int = 6) -> bytes:
    """One deterministic gzip member (no filename, mtime 0 — zlib's
    wbits=31 header), so synthesized archives are byte-stable across
    runs and engines."""
    c = zlib.compressobj(level, zlib.DEFLATED, 31)
    return c.compress(data) + c.flush()


def split_gzip_members(data: bytes) -> list[bytes]:
    """Decompress a MULTI-MEMBER gzip stream member by member.

    Common Crawl writes one WARC record per gzip member precisely so
    readers can do this; a reader that inflates the whole stream as one
    blob loses the record-grain split points. Returns the decompressed
    payload of each member in order; truncated or corrupt members fail
    loudly with the member index.
    """
    members: list[bytes] = []
    view = memoryview(data)
    pos = 0
    while pos < len(data):
        d = zlib.decompressobj(wbits=31)
        try:
            out = d.decompress(view[pos:])
        except zlib.error as exc:
            raise ValueError(
                f"gzip member {len(members)} at byte {pos} is corrupt: {exc}"
            ) from exc
        if not d.eof:
            raise ValueError(
                f"gzip member {len(members)} at byte {pos} is truncated "
                "(stream ended mid-member)"
            )
        members.append(out)
        consumed = len(data) - pos - len(d.unused_data)
        if consumed <= 0:  # pragma: no cover - zlib guarantees progress
            raise ValueError(f"gzip member {len(members) - 1} consumed no bytes")
        pos += consumed
    if not members:
        raise ValueError("empty gzip stream (no members)")
    return members


# ---------------------------------------------------------------------------
# WARC record grammar (ISO 28500): version line, folded headers, empty
# line, Content-Length payload bytes, CRLF CRLF separator.
# ---------------------------------------------------------------------------

#: ISO 28500 §5: every record carries these four.
_MANDATORY = ("WARC-Type", "WARC-Record-ID", "WARC-Date", "Content-Length")


def encode_warc_record(
    rec_type: str, headers: dict[str, str], payload: bytes
) -> bytes:
    """Serialize one WARC/1.0 record. Caller headers are emitted in
    insertion order after the generated WARC-Type/Content-Length."""
    lines = [b"WARC/1.0"]
    merged = {"WARC-Type": rec_type, **headers, "Content-Length": str(len(payload))}
    for k, v in merged.items():
        if "\r" in v or "\n" in v:
            raise ValueError(f"WARC header {k!r} value embeds a line break")
        lines.append(f"{k}: {v}".encode("utf-8"))
    return CRLF.join(lines) + CRLF + CRLF + payload + CRLF + CRLF


def parse_warc(data: bytes) -> list[dict]:
    """Walk an UNCOMPRESSED WARC stream into records.

    Each record: ``{"type", "headers" (dict, original casing; lookup
    helpers lowercase), "payload" (bytes), "offset"}``. Validates the
    version line, the four mandatory headers, Content-Length framing
    and the CRLF CRLF record separator; header continuation lines
    (leading SP/HT) fold per RFC 822. Fails loudly with byte offsets.
    """
    records: list[dict] = []
    pos = 0
    n = len(data)
    while pos < n:
        # tolerate extra blank separators between records (some writers
        # emit more than the required two CRLFs)
        while data[pos : pos + 2] == CRLF:
            pos += 2
        if pos >= n:
            break
        eol = data.find(CRLF, pos)
        if eol < 0:
            raise ValueError(f"record at byte {pos}: no version line terminator")
        version = data[pos:eol]
        if not version.startswith(b"WARC/"):
            raise ValueError(
                f"record at byte {pos}: bad version line {version[:20]!r}"
            )
        if version not in (b"WARC/1.0", b"WARC/1.1"):
            raise ValueError(
                f"record at byte {pos}: unsupported WARC version {version!r}"
            )
        offset = pos
        pos = eol + 2
        headers: dict[str, str] = {}
        last_key: str | None = None
        while True:
            eol = data.find(CRLF, pos)
            if eol < 0:
                raise ValueError(f"record at byte {offset}: truncated header block")
            line = data[pos:eol]
            pos = eol + 2
            if not line:
                break  # end of headers
            if line[:1] in (b" ", b"\t"):
                if last_key is None:
                    raise ValueError(
                        f"record at byte {offset}: continuation line before "
                        "any header"
                    )
                headers[last_key] += " " + line.strip().decode("utf-8")
                continue
            sep = line.find(b":")
            if sep < 0:
                raise ValueError(
                    f"record at byte {offset}: header line without ':' "
                    f"({line[:40]!r})"
                )
            key = line[:sep].decode("utf-8").strip()
            headers[key] = line[sep + 1 :].decode("utf-8").strip()
            last_key = key
        lower = {k.lower(): v for k, v in headers.items()}
        for need in _MANDATORY:
            if need.lower() not in lower:
                raise ValueError(
                    f"record at byte {offset}: missing mandatory header {need}"
                )
        try:
            length = int(lower["content-length"])
        except ValueError as exc:
            raise ValueError(
                f"record at byte {offset}: non-integer Content-Length "
                f"{lower['content-length']!r}"
            ) from exc
        if length < 0 or pos + length > n:
            raise ValueError(
                f"record at byte {offset}: Content-Length {length} overruns "
                f"the stream ({n - pos} bytes left)"
            )
        payload = data[pos : pos + length]
        pos += length
        if data[pos : pos + 4] != CRLF + CRLF:
            raise ValueError(
                f"record at byte {offset}: missing CRLFCRLF record separator "
                f"after the payload (found {data[pos:pos + 4]!r})"
            )
        pos += 4
        records.append(
            {
                "type": lower["warc-type"],
                "headers": headers,
                "payload": payload,
                "offset": offset,
            }
        )
    if not records:
        raise ValueError("WARC stream holds no records")
    return records


# ---------------------------------------------------------------------------
# HTTP/1.x response message (the payload of a WARC 'response' record)
# ---------------------------------------------------------------------------


def encode_http_response(
    body: bytes,
    content_type: str = "text/html; charset=utf-8",
    status: int = 200,
    reason: str = "OK",
    chunked: bool = False,
    gzip_body: bool = False,
    chunk_size: int = 61,
) -> bytes:
    """Serialize an HTTP/1.1 response. ``chunked`` frames the body in
    ``chunk_size``-byte hex-prefixed chunks (prime-ish default so chunk
    boundaries never align with token boundaries); ``gzip_body``
    applies Content-Encoding: gzip BEFORE chunking, matching the real
    layering (TE is hop-by-hop framing over the already-encoded body).
    """
    if gzip_body:
        body = gzip_member(body)
    head = [f"HTTP/1.1 {status} {reason}".encode("ascii")]
    head.append(b"Content-Type: " + content_type.encode("ascii"))
    if gzip_body:
        head.append(b"Content-Encoding: gzip")
    if chunked:
        head.append(b"Transfer-Encoding: chunked")
        framed = bytearray()
        for i in range(0, len(body), chunk_size):
            chunk = body[i : i + chunk_size]
            framed += f"{len(chunk):x}".encode("ascii") + CRLF + chunk + CRLF
        framed += b"0" + CRLF + CRLF
        body = bytes(framed)
    else:
        head.append(f"Content-Length: {len(body)}".encode("ascii"))
    return CRLF.join(head) + CRLF + CRLF + body


def _dechunk(body: bytes) -> bytes:
    """Reverse chunked transfer-encoding; fails loudly on bad framing."""
    out = bytearray()
    pos = 0
    while True:
        eol = body.find(CRLF, pos)
        if eol < 0:
            raise ValueError(f"chunked body: no size line at byte {pos}")
        size_tok = body[pos:eol].split(b";", 1)[0].strip()  # chunk extensions legal
        try:
            size = int(size_tok, 16)
        except ValueError as exc:
            raise ValueError(
                f"chunked body: bad chunk size {size_tok!r} at byte {pos}"
            ) from exc
        pos = eol + 2
        if size == 0:
            # trailers (rare) would sit here; require the terminal CRLF
            if body[pos : pos + 2] != CRLF:
                raise ValueError("chunked body: missing terminal CRLF")
            return bytes(out)
        chunk = body[pos : pos + size]
        if len(chunk) != size:
            raise ValueError(
                f"chunked body: chunk at byte {pos} truncated "
                f"({len(chunk)}/{size} bytes)"
            )
        out += chunk
        pos += size
        if body[pos : pos + 2] != CRLF:
            raise ValueError(f"chunked body: missing CRLF after chunk at {pos}")
        pos += 2


def parse_http_response(raw: bytes) -> dict:
    """Parse a raw HTTP/1.x response message into ``{"status", "reason",
    "headers" (lowercased keys), "body" (decoded bytes), "content_type"}``.

    De-chunks ``Transfer-Encoding: chunked`` and inflates
    ``Content-Encoding: gzip`` — the two encodings that dominate real
    crawl captures. Unknown encodings fail loudly (silently passing
    compressed bytes to a text pipeline poisons every downstream stat).
    """
    sep = raw.find(CRLF + CRLF)
    if sep < 0:
        raise ValueError("HTTP message: no header/body separator")
    head_lines = raw[:sep].split(CRLF)
    status_line = head_lines[0]
    parts = status_line.split(b" ", 2)
    if len(parts) < 2 or not parts[0].startswith(b"HTTP/"):
        raise ValueError(f"HTTP message: bad status line {status_line[:40]!r}")
    try:
        status = int(parts[1])
    except ValueError as exc:
        raise ValueError(
            f"HTTP message: non-integer status {parts[1]!r}"
        ) from exc
    reason = parts[2].decode("latin-1") if len(parts) > 2 else ""
    headers: dict[str, str] = {}
    for line in head_lines[1:]:
        if not line:
            continue
        hsep = line.find(b":")
        if hsep < 0:
            raise ValueError(f"HTTP message: header without ':' ({line[:40]!r})")
        headers[line[:hsep].decode("latin-1").strip().lower()] = (
            line[hsep + 1 :].decode("latin-1").strip()
        )
    body = raw[sep + 4 :]
    te = headers.get("transfer-encoding", "").lower()
    if te:
        if te != "chunked":
            raise ValueError(f"unsupported Transfer-Encoding {te!r}")
        body = _dechunk(body)
    elif "content-length" in headers:
        want = int(headers["content-length"])
        if len(body) < want:
            raise ValueError(
                f"HTTP body truncated: {len(body)}/{want} bytes"
            )
        body = body[:want]
    ce = headers.get("content-encoding", "").lower()
    if ce in ("", "identity"):
        pass
    elif ce == "gzip":
        d = zlib.decompressobj(wbits=31)
        body = d.decompress(body)
        if not d.eof:
            raise ValueError("gzip Content-Encoding: truncated body")
    else:
        raise ValueError(f"unsupported Content-Encoding {ce!r}")
    return {
        "status": status,
        "reason": reason,
        "headers": headers,
        "body": body,
        "content_type": headers.get("content-type", ""),
    }


# ---------------------------------------------------------------------------
# Synthesis: one deterministic .warc.gz capture per document
# ---------------------------------------------------------------------------


def _escape_html_text(text: str) -> str:
    # html.escape minus quote-escaping: only the three characters that
    # can open/close markup need escaping inside a text node
    return text.replace("&", "&amp;").replace("<", "&lt;").replace(">", "&gt;")


#: The synthetic page as a TOKEN TEMPLATE — the single source three
#: consumers assemble from so they can never drift: ``synth_html_page``
#: (Python), the t15/c1 Spark ``F.concat`` builder, and the DuckDB
#: ``||`` oracle fragment (queries/corpus_ingest.py). Markers: "ID" =
#: str(doc_id), "ID1" = str(doc_id + 1), "TEXT" = entity-escaped text;
#: everything else is a literal.
HTML_PAGE_TEMPLATE: tuple[str, ...] = (
    "<!DOCTYPE html>\n<html>\n<head>\n<title>doc ",
    "ID",
    "</title>\n<script type=\"text/javascript\">var n = 1 < 2 && 3 > 2;"
    "</script>\n<style>p { margin: 0; }</style>\n</head>\n"
    "<body>\n<!-- crawler synthetic capture -->\n<h1>Document &#35;",
    "ID",
    "</h1>\n<p>",
    "TEXT",
    "</p>\n<a href=\"https://corpus.example/doc/",
    "ID1",
    "\">next</a>\n</body>\n</html>\n",
)
_MARKERS = ("ID", "ID1", "TEXT")


def synth_html_page(doc_id: int, text: str) -> str:
    """The HTML page a crawl would have captured for this document:
    head noise (title/script/style), the text in a <p> with markup
    characters entity-escaped, a comment and a link so stripping has
    real work to do. Deterministic in (doc_id, text); assembled from
    HTML_PAGE_TEMPLATE (the Spark/SQL builders share it)."""
    subst = {"ID": str(doc_id), "ID1": str(doc_id + 1), "TEXT": _escape_html_text(text)}
    return "".join(subst.get(tok, tok) for tok in HTML_PAGE_TEMPLATE)


def synth_warc_gz(doc_id: int, text: str) -> bytes:
    """A 3-record .warc.gz capture (warcinfo + request + response), one
    gzip member per record — the exact Common Crawl layout. The HTTP
    response cycles all four framing variants by doc_id (plain,
    chunked, gzip, chunked+gzip) so extraction exercises every path;
    dates derive from doc_id (never the wall clock) so the archive is
    byte-stable."""
    url = f"https://corpus.example/doc/{doc_id}"
    date = f"2026-01-{(doc_id % 28) + 1:02d}T00:00:00Z"
    info = encode_warc_record(
        "warcinfo",
        {
            "WARC-Record-ID": f"<urn:uuid:info-{doc_id}>",
            "WARC-Date": date,
            "Content-Type": "application/warc-fields",
        },
        b"software: pipeline-mf-etl-spark synthetic crawler\r\n",
    )
    request = encode_warc_record(
        "request",
        {
            "WARC-Record-ID": f"<urn:uuid:req-{doc_id}>",
            "WARC-Date": date,
            "WARC-Target-URI": url,
            "Content-Type": "application/http;msgtype=request",
        },
        b"GET /doc HTTP/1.1\r\nHost: corpus.example\r\n\r\n",
    )
    html = synth_html_page(doc_id, text).encode("utf-8")
    http = encode_http_response(
        html,
        chunked=bool(doc_id % 2),
        gzip_body=bool((doc_id // 2) % 2),
    )
    response = encode_warc_record(
        "response",
        {
            "WARC-Record-ID": f"<urn:uuid:resp-{doc_id}>",
            "WARC-Date": date,
            "WARC-Target-URI": url,
            "Content-Type": "application/http;msgtype=response",
        },
        http,
    )
    return gzip_member(info) + gzip_member(request) + gzip_member(response)


# ---------------------------------------------------------------------------
# Spark layer — map-only synthesis + extraction (no shuffles)
# ---------------------------------------------------------------------------

WARC_DOC_SCHEMA = StructType(
    [
        StructField("doc_id", LongType(), False),
        StructField("url", StringType(), True),
        StructField("warc_date", StringType(), True),
        StructField("http_status", LongType(), True),
        StructField("content_type", StringType(), True),
        StructField("n_members", LongType(), False),
        StructField("n_records", LongType(), False),
        StructField("n_request", LongType(), False),
        StructField("n_response", LongType(), False),
        StructField("html", StringType(), True),
        StructField("body_bytes", LongType(), True),
    ]
)


def with_warc_payload(df: DataFrame, text_col: str = "text") -> DataFrame:
    """Attach one synthetic .warc.gz capture per row (Arrow-batched,
    map-only). The synthesis is deterministic in (doc_id, text) so a
    SQL oracle can recompute every downstream stat from the characters."""

    return synth_payload(
        df,
        lambda i, t: synth_warc_gz(int(i), t),
        "application/warc+gzip",
        cols=("doc_id", text_col),
    )


def extract_warc_documents(df: DataFrame, id_col: str = "doc_id") -> DataFrame:
    """The Common-Crawl ingestion pass: split gzip members, walk WARC
    records, parse the HTTP response (de-chunk + inflate), emit one row
    per capture with the routing metadata a curation pipeline filters
    on (status, content type, URL) plus the raw HTML. One Arrow batch
    at a time, zero shuffles — record-grain parallel at any scale.

    Non-200 statuses and non-HTML content types are EMITTED, not
    dropped: the filter decision belongs to the query layer where the
    accounting is visible (dropping here would hide curation counts).
    """

    def rows(doc_id, payload):
        members = split_gzip_members(payload)
        records = [r for m in members for r in parse_warc(m)]
        responses = [r for r in records if r["type"] == "response"]
        if len(responses) != 1:
            raise ValueError(
                f"doc {doc_id}: expected exactly one response record, "
                f"found {len(responses)}"
            )
        resp = responses[0]
        lower = {k.lower(): v for k, v in resp["headers"].items()}
        http = parse_http_response(resp["payload"])
        yield (
            int(doc_id),
            lower.get("warc-target-uri"),
            lower.get("warc-date"),
            http["status"],
            http["content_type"],
            len(members),
            len(records),
            sum(1 for r in records if r["type"] == "request"),
            len(responses),
            http["body"].decode("utf-8"),
            len(http["body"]),
        )

    return map_payload(df, WARC_DOC_SCHEMA, rows, id_col)
