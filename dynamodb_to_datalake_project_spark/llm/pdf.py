"""PDF text extraction — the highest-volume document format a
training-data pipeline ingests after HTML. Zero-dep (stdlib `zlib` +
`re`), REAL structure end to end:

- encoder: a conformant PDF 1.4 — catalog → page tree → per-page
  FlateDecode content streams with BT/ET text blocks (Tj strings and
  TJ kerned arrays, full string-escape rules), a byte-exact xref
  table and trailer;
- parser: startxref → xref walk (offsets validated against the `N 0
  obj` headers they point at), trailer /Root chase, page-tree
  traversal, stream extraction with /Length + /Filter handling,
  zlib inflate, and a content-stream tokenizer that decodes PDF
  string escapes (\\( \\) \\\\ \\n \\t \\r \\ddd octal) and
  concatenates Tj/TJ show-text operands in order.

Honest subset: linearized/incremental-update files (multiple xref
sections), cross-reference STREAMS (PDF 1.5+), encryption, and
non-Flate filters raise ValueError/NotImplementedError — the
quarantine contract shared with `llm.multimodal`. CID/Type0 composite
fonts decode as raw bytes (no ToUnicode CMap chase) — fine for the
Latin-1/WinAnsi simple fonts this fixture writes, honestly partial
for CJK PDFs.

Scale shape: one PDF = one row, map-only Arrow work; a corpus of
PDFs parallelizes across files exactly like the WARC leg.

Reference parity: none — north-star LLM-corpus ingest tooling
(SURVEY.md §2.8); format per ISO 32000-1 (PDF 1.7) §7.
"""

from __future__ import annotations


from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.rowmap import map_rows


def _pdf_escape(s: str) -> str:
    """PDF literal-string escaping (ISO 32000-1 §7.3.4.2): backslash,
    parens, and non-Latin-1-printable bytes as \\ddd octal."""
    out = []
    for ch in s:
        if ch in "\\()":
            out.append("\\" + ch)
        elif 32 <= ord(ch) < 127 or 160 <= ord(ch) < 256:
            out.append(ch)
        elif ord(ch) < 256:
            out.append(f"\\{ord(ch):03o}")
        else:
            raise ValueError(f"pdf: non-Latin-1 char {ch!r} needs a CMap font")
    return "".join(out)


def encode_pdf(pages: "list[tuple[str, str, str]]") -> bytes:
    """Build a real PDF 1.4: one content stream per page holding a
    Tj show plus a 2-piece kerned TJ array (pages are (tj_text,
    tj_piece1, tj_piece2) triples), FlateDecode-compressed, page tree,
    shared Type1 font, byte-exact xref + trailer."""
    import zlib

    n = len(pages)
    font_num = 3 + 2 * n
    objects: "list[bytes]" = []  # bodies, object number = index + 1
    kids = " ".join(f"{3 + 2 * p} 0 R" for p in range(n))
    objects.append(b"<< /Type /Catalog /Pages 2 0 R >>")
    objects.append(
        f"<< /Type /Pages /Kids [{kids}] /Count {n} >>".encode("latin-1")
    )
    for p, (tj, piece1, piece2) in enumerate(pages):
        objects.append(
            (
                f"<< /Type /Page /Parent 2 0 R /Contents {4 + 2 * p} 0 R "
                "/MediaBox [0 0 612 792] "
                f"/Resources << /Font << /F1 {font_num} 0 R >> >> >>"
            ).encode("latin-1")
        )
        content = (
            "BT /F1 12 Tf 72 720 Td "
            f"({_pdf_escape(tj)}) Tj 0 -14 TD "
            f"[({_pdf_escape(piece1)}) -250 ({_pdf_escape(piece2)})] TJ ET"
        ).encode("latin-1")
        flate = zlib.compress(content, 6)
        objects.append(
            f"<< /Length {len(flate)} /Filter /FlateDecode >>\nstream\n".encode(
                "latin-1"
            )
            + flate
            + b"\nendstream"
        )
    objects.append(
        b"<< /Type /Font /Subtype /Type1 /BaseFont /Helvetica "
        b"/Encoding /WinAnsiEncoding >>"
    )

    out = bytearray(b"%PDF-1.4\n%\xe2\xe3\xcf\xd3\n")
    offsets = [0]  # object 0 is the free-list head
    for i, body in enumerate(objects):
        offsets.append(len(out))
        out += f"{i + 1} 0 obj\n".encode("latin-1") + body + b"\nendobj\n"
    xref_at = len(out)
    out += f"xref\n0 {len(objects) + 1}\n".encode("latin-1")
    out += b"0000000000 65535 f \n"
    for off in offsets[1:]:
        out += f"{off:010d} 00000 n \n".encode("latin-1")
    out += (
        f"trailer\n<< /Size {len(objects) + 1} /Root 1 0 R >>\n"
        f"startxref\n{xref_at}\n%%EOF\n"
    ).encode("latin-1")
    return bytes(out)


def _parse_object(data: bytes, at: int):
    """Minimal PDF object parser: dicts, arrays, names, numbers,
    strings, booleans/null, and `N 0 R` references (returned as
    ('ref', N)). Returns (value, next_offset)."""
    import re

    ws = re.compile(rb"[\s]*")
    at = ws.match(data, at).end()
    if data[at : at + 2] == b"<<":
        at += 2
        d: dict = {}
        while True:
            at = ws.match(data, at).end()
            if data[at : at + 2] == b">>":
                return d, at + 2
            if data[at : at + 1] != b"/":
                raise ValueError(f"pdf: expected /Name in dict at {at}")
            key, at = _parse_object(data, at)
            val, at = _parse_object(data, at)
            d[key] = val
        raise AssertionError
    if data[at : at + 1] == b"[":
        at += 1
        arr: list = []
        while True:
            at = ws.match(data, at).end()
            if data[at : at + 1] == b"]":
                return arr, at + 1
            v, at = _parse_object(data, at)
            arr.append(v)
    if data[at : at + 1] == b"/":
        m = re.match(rb"/([^\s/\[\]<>()]*)", data[at:])
        return "/" + m.group(1).decode("latin-1"), at + m.end()
    if data[at : at + 1] == b"(":
        s, at = _parse_pdf_string(data, at)
        return s, at
    m = re.match(rb"(\d+)\s+(\d+)\s+R\b", data[at:])
    if m:
        return ("ref", int(m.group(1))), at + m.end()
    m = re.match(rb"[+-]?\d+\.\d*|[+-]?\.\d+|[+-]?\d+", data[at:])
    if m:
        tok = m.group(0)
        return (float(tok) if b"." in tok else int(tok)), at + m.end()
    for lit, val in ((b"true", True), (b"false", False), (b"null", None)):
        if data[at : at + len(lit)] == lit:
            return val, at + len(lit)
    raise ValueError(f"pdf: unparseable token at offset {at}")


def _parse_pdf_string(data: bytes, at: int) -> "tuple[str, int]":
    """Literal string (§7.3.4.2): balanced parens, backslash escapes
    (n r t b f, \\( \\) \\\\, 1-3 digit octal), raises on truncation."""
    if data[at : at + 1] != b"(":
        raise ValueError("pdf: not a string")
    at += 1
    depth = 1
    out = []
    esc = {b"n": "\n", b"r": "\r", b"t": "\t", b"b": "\b", b"f": "\f",
           b"(": "(", b")": ")", b"\\": "\\"}
    while at < len(data):
        c = data[at : at + 1]
        if c == b"\\":
            nxt = data[at + 1 : at + 2]
            if nxt in esc:
                out.append(esc[nxt])
                at += 2
                continue
            if nxt.isdigit():
                j = at + 1
                while j < min(at + 4, len(data)) and data[j : j + 1].isdigit():
                    j += 1
                out.append(chr(int(data[at + 1 : j], 8)))
                at = j
                continue
            at += 2  # line continuation / unknown escape: drop backslash
            continue
        if c == b"(":
            depth += 1
            out.append("(")
        elif c == b")":
            depth -= 1
            if depth == 0:
                return "".join(out), at + 1
            out.append(")")
        else:
            out.append(c.decode("latin-1"))
        at += 1
    raise ValueError("pdf: unterminated string")


def _content_text(content: bytes) -> "tuple[str, int]":
    """Tokenize a content stream: concatenate Tj string operands and
    every string inside a TJ array, in order (kern numbers ignored —
    they move the pen, not the text). Returns (text, n_show_ops)."""
    import re

    out: "list[str]" = []
    pending: "list[str]" = []  # string operands since the last operator
    n_ops = 0
    at = 0
    n = len(content)
    opre = re.compile(rb"[A-Za-z'\"*]+")
    while at < n:
        c = content[at : at + 1]
        if c.isspace():
            at += 1
        elif c == b"(":
            s, at = _parse_pdf_string(content, at)
            pending.append(s)
        elif c in b"[]":
            at += 1  # TJ arrays: strings inside stay in `pending`
        elif c == b"<":
            raise NotImplementedError("pdf: hex strings need a CMap font")
        elif opre.match(content, at):
            m = opre.match(content, at)
            op = m.group(0)
            if op in (b"Tj", b"TJ"):
                out.extend(pending)
                n_ops += 1
            elif op == b"'" or op == b'"':
                raise NotImplementedError("pdf: quote show ops unsupported")
            pending = []
            at = m.end()
        else:
            m = re.match(rb"[+-]?[\d.]+|/[^\s/\[\]<>()]*", content[at:])
            if not m:
                raise ValueError(f"pdf: bad content token at {at}")
            at += m.end()
    return "".join(out), n_ops


def parse_pdf(payload: bytes) -> dict:
    """REAL PDF parse: header check, startxref → xref table (every
    in-use offset validated against the object header it points at),
    trailer /Root → /Pages → /Kids traversal, per-page /Contents
    stream extraction (/Length exact, /Filter FlateDecode inflated,
    other filters NotImplementedError), content-stream text assembly.
    Multiple xref sections (incremental updates) and xref streams
    raise — honest-subset quarantine. Returns page/object/show-op
    counts and the extracted text."""
    import re
    import zlib

    if not payload.startswith(b"%PDF-1."):
        raise ValueError("pdf: missing %PDF header")
    sx = payload.rfind(b"startxref")
    if sx < 0:
        raise ValueError("pdf: missing startxref")
    m = re.match(rb"startxref\s+(\d+)", payload[sx:])
    if not m:
        raise ValueError("pdf: malformed startxref")
    xref_at = int(m.group(1))
    if payload[xref_at : xref_at + 4] != b"xref":
        raise NotImplementedError(
            "pdf: cross-reference streams (PDF 1.5+) unsupported"
        )
    m = re.match(rb"xref\s+(\d+)\s+(\d+)\s*", payload[xref_at:])
    if not m:
        raise ValueError("pdf: malformed xref subsection header")
    first, count = int(m.group(1)), int(m.group(2))
    at = xref_at + m.end()
    offsets: dict[int, int] = {}
    for i in range(count):
        row = payload[at : at + 20]
        rm = re.match(rb"(\d{10}) (\d{5}) ([nf])", row)
        if not rm:
            raise ValueError(f"pdf: malformed xref row {row!r}")
        if rm.group(3) == b"n":
            offsets[first + i] = int(rm.group(1))
        at += 20
    tm = re.compile(rb"trailer").search(payload, at)
    if not tm:
        raise ValueError("pdf: missing trailer")
    trailer, _ = _parse_object(payload, tm.end())
    if "/Prev" in trailer:
        raise NotImplementedError(
            "pdf: incremental updates (multiple xref sections) unsupported"
        )

    def load(num: int):
        if num not in offsets:
            raise ValueError(f"pdf: object {num} not in xref")
        off = offsets[num]
        hm = re.match(rb"(\d+)\s+\d+\s+obj\s*", payload[off:])
        if not hm or int(hm.group(1)) != num:
            raise ValueError(f"pdf: xref offset for object {num} is wrong")
        val, end = _parse_object(payload, off + hm.end())
        sm = re.match(rb"\s*stream\r?\n", payload[end:])
        if sm:
            if not isinstance(val, dict) or "/Length" not in val:
                raise ValueError("pdf: stream without /Length")
            start = end + sm.end()
            raw = payload[start : start + int(val["/Length"])]
            if len(raw) != int(val["/Length"]):
                raise ValueError("pdf: stream overruns the file")
            filt = val.get("/Filter")
            if filt == "/FlateDecode":
                try:
                    raw = zlib.decompress(raw)
                except zlib.error as exc:
                    raise ValueError(f"pdf: corrupt Flate stream: {exc}")
            elif filt is not None:
                raise NotImplementedError(f"pdf: filter {filt} unsupported")
            return val, raw
        return val, None

    def deref(v):
        if isinstance(v, tuple) and v[0] == "ref":
            return load(v[1])[0]
        return v

    root = deref(trailer.get("/Root"))
    if not isinstance(root, dict) or root.get("/Type") != "/Catalog":
        raise ValueError("pdf: /Root is not a catalog")
    pages = deref(root.get("/Pages"))
    if not isinstance(pages, dict) or pages.get("/Type") != "/Pages":
        raise ValueError("pdf: catalog /Pages is not a page tree")
    texts: "list[str]" = []
    n_ops = 0
    for kid_ref in pages.get("/Kids", []):
        page = deref(kid_ref)
        if page.get("/Type") != "/Page":
            raise ValueError("pdf: page-tree kid is not a /Page")
        cref = page.get("/Contents")
        _, content = load(cref[1]) if isinstance(cref, tuple) else (None, None)
        if content is None:
            raise ValueError("pdf: page /Contents is not a stream")
        t, ops = _content_text(content)
        texts.append(t)
        n_ops += ops
    if len(texts) != int(pages.get("/Count", -1)):
        raise ValueError("pdf: /Count disagrees with /Kids")
    text = "".join(texts)
    return {
        "n_pages": len(texts),
        "n_objects": len(offsets),
        "n_show_ops": n_ops,
        "extracted_chars": len(text),
        "text": text,
    }


PDF_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("n_pages", T.LongType()),
        T.StructField("n_objects", T.LongType()),
        T.StructField("n_show_ops", T.LongType()),
        T.StructField("extracted_chars", T.LongType()),
        T.StructField("extracted_md5", T.StringType()),
    ]
)


def pdf_extract_stats(docs: DataFrame) -> DataFrame:
    """Per document: the REAL text equal-split across 1 + doc_id%4
    pages (each page a Tj + a 2-piece TJ whose concatenation is the
    page slice), written as a conformant Flate-compressed PDF and
    parsed back — extraction must recover the document text exactly.
    Arrow `map_rows`, map-only."""
    import hashlib

    def row(did, text):
        n = 1 + did % 4
        base, rem = divmod(len(text), n)
        pages = []
        at = 0
        for p in range(n):
            size = base + (1 if p < rem else 0)
            slice_ = text[at : at + size]
            at += size
            h = len(slice_) // 2
            q = h + (len(slice_) - h) // 2
            pages.append((slice_[:h], slice_[h:q], slice_[q:]))
        d = parse_pdf(encode_pdf(pages))
        assert d["text"] == text  # fixture invariant
        yield (
            did,
            d["n_pages"],
            d["n_objects"],
            d["n_show_ops"],
            d["extracted_chars"],
            hashlib.md5(d["text"].encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, PDF_STATS_SCHEMA, spread=True)


@query(
    "doc_pdf_extract",
    oracle="""
    SELECT doc_id,
           CAST(1 + doc_id % 4 AS BIGINT) AS n_pages,
           CAST(2 + 2 * (1 + doc_id % 4) + 1 AS BIGINT) AS n_objects,
           CAST(2 * (1 + doc_id % 4) AS BIGINT) AS n_show_ops,
           CAST(length(text) AS BIGINT) AS extracted_chars,
           md5(text) AS extracted_md5
    FROM documents
    """,
)
def q_doc_pdf_extract(spark, sf_dir):
    """PDF text extraction over the documents table: each text is
    written into a REAL multi-page PDF (xref table, page tree, Flate
    streams, Tj + kerned TJ show ops with string escaping) and parsed
    back through the full chain — startxref, xref offset validation,
    object/dict parsing, stream inflation, content tokenization. The
    oracle pins page/object/show-op counts by formula and the
    recovered text via md5(text), so a hash match proves the encoder
    AND every parser stage byte-for-byte."""
    docs = load_table(spark, sf_dir, "documents")
    return pdf_extract_stats(docs)
