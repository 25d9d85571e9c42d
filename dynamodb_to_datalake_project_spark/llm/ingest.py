"""Schema-less ingest front door: text-encoding detection and CSV
dialect sniffing + a strict RFC 4180 parser.

The reference pipeline knows its bytes are UTF-8 JSON
(vendor/aws_dynamodb_export_to_s3.py:80-100 decodes export lines
directly); a general lake cannot assume that — the first touch of an unknown
export is "what encoding is this?" and, for delimited files, "what
dialect?". Both answers here are DETERMINISTIC rule chains (no
statistical guessing), so the DuckDB oracle replays every verdict:

- `detect_encoding`: BOM table (UTF-8/UTF-16LE/BE/UTF-32), strict
  UTF-8 validation, a no-BOM UTF-16 heuristic (zero-byte parity
  census — ASCII-heavy UTF-16 has nulls on exactly one parity),
  cp1252-vs-latin1 split on the 0x80-0x9F gap;
- `sniff_csv_dialect`: candidate delimiters , ; TAB |, scored by
  quote-aware per-line field-count uniformity (the csv.Sniffer
  idea, made deterministic); header = first row has no numeric
  cell while a later row does;
- `parse_csv_rfc4180`: full quoting rules — embedded delimiters,
  doubled quotes, embedded newlines, CRLF/LF.

All are single-Arrow-stage shapes over raw bytes: linear in payload,
parallel by file/partition, no shuffle."""

from __future__ import annotations
from dynamodb_to_datalake_project_spark.rowmap import map_rows

_BOMS = (
    (b"\xef\xbb\xbf", "utf-8", 3),
    (b"\xff\xfe\x00\x00", "utf-32-le", 4),
    (b"\x00\x00\xfe\xff", "utf-32-be", 4),
    (b"\xff\xfe", "utf-16-le", 2),
    (b"\xfe\xff", "utf-16-be", 2),
)


def detect_encoding(raw: bytes) -> dict:
    """{"encoding", "had_bom", "text"} — the decoded text always
    round-trips (decoding errors fall through the chain; cp1252 and
    latin-1 never fail, so the chain is total)."""
    for bom, enc, skip in _BOMS:
        if raw.startswith(bom):
            return {
                "encoding": enc,
                "had_bom": True,
                "text": raw[skip:].decode(enc),
            }
    # no-BOM UTF-16 comes BEFORE UTF-8: UTF-16 bytes of ASCII text
    # are VALID UTF-8 (NUL is a legal code point), so the presence
    # of NULs on exactly one byte parity is the stronger signal —
    # real UTF-8 text essentially never contains NUL
    if len(raw) >= 8 and len(raw) % 2 == 0 and b"\x00" in raw:
        even = raw[0::2].count(0)
        odd = raw[1::2].count(0)
        half = len(raw) // 2
        if odd >= half * 3 // 4 and even == 0:
            return {"encoding": "utf-16-le", "had_bom": False,
                    "text": raw.decode("utf-16-le")}
        if even >= half * 3 // 4 and odd == 0:
            return {"encoding": "utf-16-be", "had_bom": False,
                    "text": raw.decode("utf-16-be")}
    try:
        return {"encoding": "utf-8", "had_bom": False,
                "text": raw.decode("utf-8", "strict")}
    except UnicodeDecodeError:
        pass
    # 0x80-0x9F are printable in cp1252, control chars in latin-1
    if any(0x80 <= b <= 0x9F for b in raw):
        return {"encoding": "cp1252", "had_bom": False,
                "text": raw.decode("cp1252", "replace")}
    return {"encoding": "latin-1", "had_bom": False,
            "text": raw.decode("latin-1")}


def parse_csv_rfc4180(
    text: str, delim: str = ",", quote: str = '"'
) -> "list[list[str]]":
    """Strict RFC 4180: quoted fields may contain delimiters,
    newlines and doubled quotes; a quote inside an unquoted field is
    literal; CRLF and LF both end records. Raises ValueError on an
    unterminated quoted field."""
    rows: "list[list[str]]" = []
    field: "list[str]" = []
    row: "list[str]" = []
    i, n = 0, len(text)
    in_q = False
    while i < n:
        ch = text[i]
        if in_q:
            if ch == quote:
                if i + 1 < n and text[i + 1] == quote:
                    field.append(quote)
                    i += 2
                    continue
                in_q = False
                i += 1
                continue
            field.append(ch)
            i += 1
            continue
        if ch == quote and not field:
            in_q = True
            i += 1
            continue
        if ch == delim:
            row.append("".join(field))
            field = []
            i += 1
            continue
        if ch == "\n" or ch == "\r":
            if ch == "\r" and i + 1 < n and text[i + 1] == "\n":
                i += 1
            row.append("".join(field))
            rows.append(row)
            field, row = [], []
            i += 1
            continue
        field.append(ch)
        i += 1
    if in_q:
        raise ValueError("csv: unterminated quoted field")
    if field or row:
        row.append("".join(field))
        rows.append(row)
    return rows


_CANDIDATES = (",", ";", "\t", "|")


def _numericish(s: str) -> bool:
    s = s.strip()
    if not s:
        return False
    core = s[1:] if s[0] in "+-" else s
    return core.replace(".", "", 1).isdigit()


def sniff_csv_dialect(text: str) -> dict:
    """Deterministic dialect sniff: for each candidate delimiter,
    parse quote-aware and score by (uniform field count > 1, field
    count, candidate order); header detected when row 0 has no
    numeric-looking cell but some later row does. Returns
    {"delimiter", "delimiter_index", "has_header", "n_cols"}."""
    best = None
    for di, d in enumerate(_CANDIDATES):
        try:
            rows = parse_csv_rfc4180(text, delim=d)
        except ValueError:
            continue
        if not rows:
            continue
        counts = {len(r) for r in rows}
        uniform = len(counts) == 1
        ncols = rows[0].__len__()
        key = (uniform and ncols > 1, ncols if uniform else 0, -di)
        if best is None or key > best[0]:
            best = (key, d, di, rows)
    if best is None:
        raise ValueError("csv: no candidate dialect parses")
    _, d, di, rows = best
    has_header = (
        len(rows) > 1
        and not any(_numericish(c) for c in rows[0])
        and any(_numericish(c) for r in rows[1:] for c in r)
    )
    return {
        "delimiter": d,
        "delimiter_index": di,
        "has_header": has_header,
        "n_cols": len(rows[0]),
    }


# ---------------------------------------------------------------------------
# catalog operators
# ---------------------------------------------------------------------------


def encoding_detect_stats(docs):
    """Per doc: the text encoded per doc_id%5 (utf-8 / utf-8+BOM /
    utf-16le+BOM / utf-16be+BOM / utf-16le WITHOUT BOM — the
    heuristic branch), detected, decoded, and round-trip-pinned."""
    import hashlib

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("encoding", T.StringType()),
            T.StructField("had_bom", T.LongType()),
            T.StructField("n_bytes", T.LongType()),
            T.StructField("text_md5", T.StringType()),
        ]
    )

    def row(did, text):
        branch = did % 5
        if branch == 0:
            raw = text.encode("utf-8")
        elif branch == 1:
            raw = b"\xef\xbb\xbf" + text.encode("utf-8")
        elif branch == 2:
            raw = b"\xff\xfe" + text.encode("utf-16-le")
        elif branch == 3:
            raw = b"\xfe\xff" + text.encode("utf-16-be")
        else:
            raw = text.encode("utf-16-le")
        d = detect_encoding(raw)
        assert d["text"] == text
        yield (
            did,
            d["encoding"],
            int(d["had_bom"]),
            len(raw),
            hashlib.md5(d["text"].encode("utf-8")).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def csv_sniff_stats(docs):
    """Per doc: a CSV built from the words under a rotating dialect
    (delimiter = doc_id%4 of , ; TAB |; one quoted cell per row with
    an embedded delimiter AND a doubled quote; a numeric column so
    the header rule has signal), sniffed and parsed; the recovered
    cell grid is md5-pinned against the formula."""
    import hashlib

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("delimiter_index", T.LongType()),
            T.StructField("has_header", T.LongType()),
            T.StructField("n_rows", T.LongType()),
            T.StructField("n_cols", T.LongType()),
            T.StructField("cells_md5", T.StringType()),
        ]
    )

    def row(did, text):
        words = [w for w in text.split(" ") if w]
        n = len(words)
        d = _CANDIDATES[did % 4]
        rows = max(1, n // 3)
        grid = []
        lines = [d.join(["c0", "c1", "c2", "c3"])]
        for i in range(rows):
            c0 = words[(3 * i) % n]
            c1 = words[(3 * i + 1) % n] + d + 'q"t'
            c2 = words[(3 * i + 2) % n]
            c3 = str(i)
            grid.append([c0, c1, c2, c3])
            q = '"' + c1.replace('"', '""') + '"'
            lines.append(d.join([c0, q, c2, c3]))
        csv_text = "\r\n".join(lines) + "\r\n"
        dd = sniff_csv_dialect(csv_text)
        assert dd["delimiter"] == d and dd["has_header"]
        parsed = parse_csv_rfc4180(csv_text, delim=d)
        assert parsed[1:] == grid
        flat = "\x1f".join(c for r in grid for c in r)
        yield (
            did,
            dd["delimiter_index"],
            int(dd["has_header"]),
            len(parsed) - 1,
            dd["n_cols"],
            hashlib.md5(flat.encode()).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "ingest_encoding_detect",
        oracle="""
        SELECT doc_id,
               CASE doc_id % 5
                 WHEN 0 THEN 'utf-8' WHEN 1 THEN 'utf-8'
                 WHEN 2 THEN 'utf-16-le' WHEN 3 THEN 'utf-16-be'
                 ELSE 'utf-16-le' END AS encoding,
               CASE WHEN doc_id % 5 IN (1, 2, 3)
                    THEN CAST(1 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS had_bom,
               CAST(CASE doc_id % 5
                 WHEN 0 THEN strlen(text)
                 WHEN 1 THEN strlen(text) + 3
                 WHEN 4 THEN 2 * strlen(text)
                 ELSE 2 * strlen(text) + 2 END AS BIGINT) AS n_bytes,
               md5(text) AS text_md5
        FROM documents
        """,
    )
    def q_ingest_encoding_detect(spark, sf_dir):
        """Encoding detection over five planted wire forms incl. the
        no-BOM UTF-16 heuristic branch; every decode round-trip is
        asserted in-op and the oracle replays the verdict table.
        (The fixture corpus is ASCII, so byte-length formulas are
        exact; non-ASCII behavior is unit-tested separately.)"""
        docs = load_table(spark, sf_dir, "documents")
        return encoding_detect_stats(docs)

    @query(
        "ingest_csv_sniff",
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents
        ), s AS (
          SELECT doc_id, w, len(w) AS n,
                 GREATEST(1, len(w) // 3) AS rows_,
                 CASE doc_id % 4 WHEN 0 THEN ',' WHEN 1 THEN ';'
                      WHEN 2 THEN chr(9) ELSE '|' END AS d
          FROM t
        )
        SELECT doc_id,
               CAST(doc_id % 4 AS BIGINT) AS delimiter_index,
               CAST(1 AS BIGINT) AS has_header,
               CAST(rows_ AS BIGINT) AS n_rows,
               CAST(4 AS BIGINT) AS n_cols,
               md5(array_to_string(
                 flatten(list_transform(range(0, rows_), i -> [
                   w[(3 * i) % n + 1],
                   w[(3 * i + 1) % n + 1] || d || 'q"t',
                   w[(3 * i + 2) % n + 1],
                   CAST(i AS VARCHAR)
                 ])), chr(31))) AS cells_md5
        FROM s
        """,
    )
    def q_ingest_csv_sniff(spark, sf_dir):
        """CSV dialect sniff + RFC 4180 parse under four rotating
        delimiters with quoted cells containing embedded delimiters
        and doubled quotes; the parsed grid equality is asserted
        in-op and the oracle rebuilds the whole cell census."""
        docs = load_table(spark, sf_dir, "documents")
        return csv_sniff_stats(docs)


_register()
