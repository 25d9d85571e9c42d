"""WARC web-archive record parsing — the container format web-scale
training corpora actually arrive in (Common Crawl ships WARC/1.0 per
ISO 28500): record header walk with exact Content-Length stepping,
member-gzip splitting (each record its own gzip member, the CC layout
that makes records independently seekable), HTTP response status/
header parsing, and chunked transfer-encoding decode — everything a
crawl-ingest stage needs BEFORE the HTML extraction in `llm.web` can
run.

Zero-dep (stdlib `zlib`), demux-only, and strictly validating: bad
magic, missing/overrunning Content-Length, missing record separators,
malformed chunk sizes and truncated gzip members raise ValueError —
the corrupt-upload quarantine contract shared with `llm.multimodal`.

Scale shape: map-only Arrow work per archive blob; one WARC file is
one row — on a real cluster the reader parallelizes across files
(Common Crawl publishes ~64k WARC files per snapshot), which is
exactly Spark's input-split model. No shuffle anywhere.

Reference parity: none — north-star LLM-corpus ingest tooling
(SURVEY.md §2.8); format per ISO 28500 / the IIPC WARC 1.1 spec and
RFC 9112 §7.1 (chunked transfer coding).
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.rowmap import map_rows

_CRLF = b"\r\n"


def encode_http_response(
    status: int,
    content_type: str,
    body: bytes,
    chunked: bool = False,
    chunk_size: int = 48,
) -> bytes:
    """Serialize an HTTP/1.1 response block (RFC 9112): status line,
    headers, blank line, then either a plain body with Content-Length
    or the chunked transfer coding (hex size line per chunk, 0-size
    terminator)."""
    reason = {200: "OK", 301: "Moved Permanently", 404: "Not Found",
              500: "Internal Server Error"}.get(status, "Unknown")
    head = [f"HTTP/1.1 {status} {reason}", f"Content-Type: {content_type}"]
    if chunked:
        head.append("Transfer-Encoding: chunked")
        out = ("\r\n".join(head) + "\r\n\r\n").encode("ascii")
        for at in range(0, len(body), chunk_size):
            chunk = body[at : at + chunk_size]
            out += f"{len(chunk):x}".encode("ascii") + _CRLF + chunk + _CRLF
        return out + b"0" + _CRLF + _CRLF
    head.append(f"Content-Length: {len(body)}")
    return ("\r\n".join(head) + "\r\n\r\n").encode("ascii") + body


def encode_warc(records: "list[dict]") -> bytes:
    """Serialize WARC/1.0 records (ISO 28500 §4): version line, named
    headers, Content-Length of the block, blank line, block, and the
    two-CRLF record separator. Each record dict carries
    {type, uri, block} (uri omitted for warcinfo), plus optional
    `content_type` (overrides the type-derived default — WET
    conversion records are text/plain) and `refers_to` (emitted as
    WARC-Refers-To, the conversion→source link)."""
    out = bytearray()
    for i, rec in enumerate(records):
        block = rec["block"]
        head = [
            "WARC/1.0",
            f"WARC-Type: {rec['type']}",
            f"WARC-Record-ID: <urn:uuid:{i:08d}-0000-4000-8000-000000000000>",
            "WARC-Date: 2024-01-01T00:00:00Z",
        ]
        if rec.get("uri"):
            head.append(f"WARC-Target-URI: {rec['uri']}")
        if rec.get("refers_to"):
            head.append(f"WARC-Refers-To: {rec['refers_to']}")
        if rec.get("content_type"):
            head.append(f"Content-Type: {rec['content_type']}")
        elif rec["type"] in ("response", "request"):
            head.append("Content-Type: application/http; "
                        f"msgtype={rec['type']}")
        else:
            head.append("Content-Type: application/warc-fields")
        head.append(f"Content-Length: {len(block)}")
        out += ("\r\n".join(head) + "\r\n\r\n").encode("ascii")
        out += block + _CRLF + _CRLF
    return bytes(out)


def gzip_members(payload: bytes, boundaries: "list[int]") -> bytes:
    """Compress a WARC byte stream as concatenated gzip MEMBERS, one
    per record (the Common Crawl layout): `boundaries` are the record
    end offsets from `encode_warc`'s framing."""
    import gzip as _gzip

    out = bytearray()
    at = 0
    for end in boundaries:
        out += _gzip.compress(payload[at:end], compresslevel=1)
        at = end
    if at != len(payload):
        raise ValueError("warc: boundaries do not cover the payload")
    return bytes(out)


def split_gzip_members(payload: bytes) -> "list[bytes]":
    """Split concatenated gzip members (zlib.decompressobj wbits=31;
    `unused_data` hands back the next member's bytes). Truncated or
    corrupt members raise ValueError."""
    import zlib as _zlib

    out: "list[bytes]" = []
    rest = payload
    while rest:
        d = _zlib.decompressobj(wbits=31)
        try:
            out.append(d.decompress(rest))
        except _zlib.error as exc:
            raise ValueError(f"warc: corrupt gzip member: {exc}")
        if not d.eof:
            raise ValueError("warc: truncated gzip member")
        rest = d.unused_data
    return out


def decode_chunked(body: bytes) -> bytes:
    """RFC 9112 §7.1 chunked transfer decoding: hex chunk-size lines
    (extensions after ';' ignored), exact chunk stepping, the 0-size
    terminator. Raises on malformed sizes, truncation, or a missing
    terminator."""
    out = bytearray()
    at = 0
    while True:
        nl = body.find(_CRLF, at)
        if nl < 0:
            raise ValueError("warc: chunked body missing size line")
        size_tok = body[at:nl].split(b";", 1)[0].strip()
        try:
            n = int(size_tok, 16)
        except ValueError:
            raise ValueError(f"warc: bad chunk size {size_tok!r}")
        at = nl + 2
        if n == 0:
            return bytes(out)
        if at + n + 2 > len(body):
            raise ValueError("warc: chunk extends past end of body")
        out += body[at : at + n]
        if body[at + n : at + n + 2] != _CRLF:
            raise ValueError("warc: chunk not CRLF-terminated")
        at += n + 2


def parse_http_response(block: bytes) -> dict:
    """Parse an HTTP response block: status line, headers
    (case-insensitive names), and the body — dechunked when
    Transfer-Encoding: chunked. Raises on a malformed status line or
    missing header terminator."""
    sep = block.find(b"\r\n\r\n")
    if sep < 0:
        raise ValueError("warc: HTTP block missing header terminator")
    head_lines = block[:sep].decode("latin-1").split("\r\n")
    parts = head_lines[0].split(" ", 2)
    if len(parts) < 2 or not parts[0].startswith("HTTP/"):
        raise ValueError(f"warc: bad HTTP status line {head_lines[0]!r}")
    try:
        status = int(parts[1])
    except ValueError:
        raise ValueError(f"warc: bad HTTP status {parts[1]!r}")
    headers: dict[str, str] = {}
    for ln in head_lines[1:]:
        name, _, value = ln.partition(":")
        headers[name.strip().lower()] = value.strip()
    body = block[sep + 4 :]
    if headers.get("transfer-encoding", "").lower() == "chunked":
        body = decode_chunked(body)
    return {"status": status, "headers": headers, "body": body}


def iter_warc_records(payload: bytes, gzipped: bool = False):
    """Core record walk shared by `parse_warc` (censuses) and the
    crawl-to-text pipeline (bodies): yields (headers, block) per
    record with the same framing validation — version line,
    Content-Length-exact stepping, two-CRLF separators."""
    chunks = split_gzip_members(payload) if gzipped else [payload]
    data = b"".join(chunks)
    at, end = 0, len(data)
    while at < end:
        nl = data.find(_CRLF, at)
        if nl < 0:
            raise ValueError("warc: truncated version line")
        version = data[at:nl]
        if version not in (b"WARC/1.0", b"WARC/1.1"):
            raise ValueError(f"warc: bad version line {version!r}")
        at = nl + 2
        headers: dict[str, str] = {}
        while True:
            nl = data.find(_CRLF, at)
            if nl < 0:
                raise ValueError("warc: truncated record headers")
            if nl == at:  # blank line: end of headers
                at = nl + 2
                break
            line = data[at:nl].decode("latin-1")
            name, _, value = line.partition(":")
            headers[name.strip().lower()] = value.strip()
            at = nl + 2
        if "content-length" not in headers:
            raise ValueError("warc: record missing Content-Length")
        clen = int(headers["content-length"])
        if at + clen + 4 > end:
            raise ValueError("warc: record block extends past end")
        block = data[at : at + clen]
        if data[at + clen : at + clen + 4] != _CRLF + _CRLF:
            raise ValueError("warc: missing record separator")
        at += clen + 4
        yield headers, block


def parse_warc(payload: bytes, gzipped: bool = False) -> dict:
    """REAL WARC record walk: per record validate the WARC/1.0|1.1
    version line, collect named headers, step EXACTLY Content-Length
    block bytes, require the two-CRLF separator; parse response
    records' HTTP blocks (status, content type, dechunked body).
    With gzipped=True the stream is split into per-record gzip
    members first. Raises on bad magic, missing Content-Length,
    overruns, missing separators, or malformed HTTP — quarantine.

    Returns record/response censuses, status and content-type counts,
    summed dechunked body bytes, and the first body byte of every
    response (proof the walk lands on real block boundaries)."""
    n_records = n_responses = n_requests = has_warcinfo = 0
    n_200 = n_html = chunked_responses = 0
    body_bytes = first_byte_sum = 0
    for headers, block in iter_warc_records(payload, gzipped=gzipped):
        rtype = headers.get("warc-type", "")
        n_records += 1
        if rtype == "warcinfo":
            has_warcinfo = 1
        elif rtype == "request":
            n_requests += 1
        elif rtype == "response":
            n_responses += 1
            resp = parse_http_response(block)
            if resp["status"] == 200:
                n_200 += 1
            if resp["headers"].get("content-type", "").startswith("text/html"):
                n_html += 1
            if "transfer-encoding" in resp["headers"]:
                chunked_responses += 1
            body_bytes += len(resp["body"])
            if resp["body"]:
                first_byte_sum += resp["body"][0]
    if n_records == 0:
        raise ValueError("warc: no records")
    return {
        "n_records": n_records,
        "has_warcinfo": has_warcinfo,
        "n_requests": n_requests,
        "n_responses": n_responses,
        "n_200": n_200,
        "n_html": n_html,
        "chunked_responses": chunked_responses,
        "body_bytes": body_bytes,
        "first_byte_sum": first_byte_sum,
    }


WARC_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_records", T.LongType()),
        T.StructField("has_warcinfo", T.LongType()),
        T.StructField("n_requests", T.LongType()),
        T.StructField("n_responses", T.LongType()),
        T.StructField("n_200", T.LongType()),
        T.StructField("n_html", T.LongType()),
        T.StructField("chunked_responses", T.LongType()),
        T.StructField("body_bytes", T.LongType()),
        T.StructField("first_byte_sum", T.LongType()),
        T.StructField("gzipped", T.LongType()),
    ]
)


def warc_archive_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a WARC archive per document — warcinfo, one request,
    2 + doc_id%4 responses with formula bodies, chunked transfer on a
    (doc_id+i)%3 cycle, member-gzip on even doc ids — then walk it
    back with `parse_warc`. Arrow `map_rows`, map-only."""

    def row(did):
        nr = 2 + did % 4
        records = [
            {"type": "warcinfo",
             "block": b"software: fixture-crawler/1.0\r\n"},
            {"type": "request", "uri": f"https://site{did % 10}.example/",
             "block": b"GET / HTTP/1.1\r\nHost: x\r\n\r\n"},
        ]
        for i in range(nr):
            body = bytes(
                (did * 11 + i * 23 + j) % 256
                for j in range(30 + (did * 7 + i * 13) % 100)
            )
            status = 200 if (did + i) % 5 else 404
            ctype = (
                "text/html; charset=utf-8"
                if i % 2 == 0
                else "text/plain"
            )
            records.append(
                {
                    "type": "response",
                    "uri": f"https://site{did % 10}.example/p{i}",
                    "block": encode_http_response(
                        status, ctype, body,
                        chunked=(did + i) % 3 == 0,
                    ),
                }
            )
        raw = encode_warc(records)
        if did % 2 == 0:
            bounds = []
            at = 0
            for rec in records:
                one = encode_warc([rec])
                # encode_warc numbers record ids by index; for
                # boundary math only lengths matter and the id
                # field is fixed-width, so lengths are exact
                at += len(one)
                bounds.append(at)
            payload = gzip_members(raw, bounds)
            d = parse_warc(payload, gzipped=True)
        else:
            d = parse_warc(raw)
        yield (
            did,
            *(d[f.name] for f in WARC_STATS_SCHEMA.fields[1:-1]),
            1 if did % 2 == 0 else 0,
        )

    return map_rows(docs.select("doc_id"), row, WARC_STATS_SCHEMA, spread=True)


@query(
    "web_warc_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 2 + doc_id % 4 AS nr FROM documents
    ), r AS (
      SELECT doc_id, nr, u.i,
             30 + (doc_id * 7 + u.i * 13) % 100 AS blen,
             CASE WHEN (doc_id + u.i) % 5 = 0 THEN 0 ELSE 1 END AS ok,
             CASE WHEN u.i % 2 = 0 THEN 1 ELSE 0 END AS html,
             CASE WHEN (doc_id + u.i) % 3 = 0 THEN 1 ELSE 0 END AS chunked,
             (doc_id * 11 + u.i * 23) % 256 AS fb
      FROM t, LATERAL (SELECT unnest(range(0, nr)) AS i) u
    )
    SELECT doc_id,
           CAST(MAX(nr) + 2 AS BIGINT) AS n_records,
           CAST(1 AS BIGINT) AS has_warcinfo,
           CAST(1 AS BIGINT) AS n_requests,
           CAST(MAX(nr) AS BIGINT) AS n_responses,
           CAST(SUM(ok) AS BIGINT) AS n_200,
           CAST(SUM(html) AS BIGINT) AS n_html,
           CAST(SUM(chunked) AS BIGINT) AS chunked_responses,
           CAST(SUM(blen) AS BIGINT) AS body_bytes,
           CAST(SUM(fb) AS BIGINT) AS first_byte_sum,
           CAST(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END AS BIGINT)
             AS gzipped
    FROM r GROUP BY doc_id
    """,
)
def q_web_warc_stats(spark, sf_dir):
    """REAL WARC demux over the documents table: build a conformant
    archive per document (warcinfo + request + response records,
    chunked transfer coding on a cycle, per-record gzip members on
    even ids — the Common Crawl layout), walk it back with exact
    Content-Length stepping, HTTP parse, and dechunking. The DuckDB
    oracle re-derives every column from the fixture formulas with no
    parser, so a hash match pins the WARC framing, the gzip member
    split, the HTTP header walk, AND the chunked decode (body_bytes
    counts DECHUNKED bytes; first_byte_sum proves block boundaries)."""
    docs = load_table(spark, sf_dir, "documents")
    return warc_archive_stats(docs)
