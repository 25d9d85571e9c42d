"""Avro Object Container File demux — the other canonical lake/stream
format (Kafka archives, Iceberg manifests, classic Hadoop exports ship
as .avro). Hand-rolled against the public Apache Avro 1.x spec, both
directions, in the zip/tar/warc family style:

- container framing: `Obj\\x01` magic, the avro.schema/avro.codec
  metadata map, the 16-byte sync marker, and per-block
  (count, byte-size, data, sync) framing — every sync marker verified;
- binary record codec: null/boolean/int/long/double/string/bytes
  fields, the ["null", T] optional union, nested records, ARRAYS
  (block-framed, simple or record items — Iceberg column bounds),
  MAPS (string keys, simple values, sorted for deterministic bytes),
  ENUMS (symbol index) and FIXED; zigzag varints throughout;
- codecs: null and deflate (raw zlib);
- ValueError on corruption (bad magic, sync mismatch, truncation,
  count drift, bad enum index / fixed size), NotImplementedError on
  the remaining subset boundary (nested arrays-of-arrays, non-simple
  map values, wider unions, other codecs).
"""

from __future__ import annotations

import json
import struct
import zlib

from dynamodb_to_datalake_project_spark.llm.bitio import (
    read_uvarint,
    unzigzag,
    uvarint,
    zigzag,
)
from dynamodb_to_datalake_project_spark.rowmap import map_rows

_MAGIC = b"Obj\x01"
_SIMPLE = ("null", "boolean", "int", "long", "double", "string", "bytes")


def _zz_encode(v: int) -> bytes:
    return uvarint(zigzag(v))


class _AvroReader:
    def __init__(self, buf: bytes, pos: int = 0):
        self.buf = buf
        self.pos = pos

    def read(self, n: int) -> bytes:
        if self.pos + n > len(self.buf):
            raise ValueError("avro: truncated")
        out = self.buf[self.pos : self.pos + n]
        self.pos += n
        return out

    def zigzag(self) -> int:
        u, self.pos = read_uvarint(self.buf, self.pos, "avro")
        return unzigzag(u)

    def bytes_(self) -> bytes:
        n = self.zigzag()
        if n < 0:
            raise ValueError("avro: negative length")
        return self.read(n)


def _field_types(schema: dict) -> "list[tuple[str, object]]":
    """Validate the schema subset; return [(name, type)] where type is
    a _SIMPLE name, ('optional', simple) for ["null", simple], or
    ('record', subfields) for a nested record (Iceberg manifests nest
    `data_file` and its `partition` struct — the composition target of
    this module, round-8 verdict item 3). Recursion depth follows the
    schema; unions of records and other complex types still raise."""
    if schema.get("type") != "record":
        raise NotImplementedError("avro: only record schemas implemented")
    out: "list[tuple[str, object]]" = []
    for f in schema.get("fields", []):
        t = f["type"]
        if isinstance(t, str) and t in _SIMPLE:
            out.append((f["name"], t))
        elif (
            isinstance(t, list) and len(t) == 2 and t[0] == "null"
            and isinstance(t[1], str) and t[1] in _SIMPLE
        ):
            out.append((f["name"], ("optional", t[1])))
        elif isinstance(t, dict) and t.get("type") == "record":
            out.append((f["name"], ("record", _field_types(t))))
        elif isinstance(t, dict) and t.get("type") == "array":
            items = t.get("items")
            if isinstance(items, str) and items in _SIMPLE:
                out.append((f["name"], ("array", items)))
            elif isinstance(items, dict) and items.get("type") == "record":
                out.append(
                    (f["name"], ("array", ("record", _field_types(items))))
                )
            else:
                raise NotImplementedError(
                    f"avro: array items {items!r} not implemented"
                )
        elif isinstance(t, dict) and t.get("type") == "map":
            values = t.get("values")
            if isinstance(values, str) and values in _SIMPLE:
                out.append((f["name"], ("map", values)))
            else:
                raise NotImplementedError(
                    f"avro: map values {values!r} not implemented"
                )
        elif isinstance(t, dict) and t.get("type") == "enum":
            symbols = t.get("symbols") or []
            if not symbols:
                raise ValueError("avro: enum with no symbols")
            out.append((f["name"], ("enum", list(symbols))))
        elif isinstance(t, dict) and t.get("type") == "fixed":
            size = t.get("size")
            if not isinstance(size, int) or size < 0:
                raise ValueError("avro: fixed with bad size")
            out.append((f["name"], ("fixed", size)))
        else:
            raise NotImplementedError(
                f"avro: field type {t!r} not implemented"
            )
    return out


def _write_value(t: str, v) -> bytes:
    if t == "null":
        if v is not None:
            raise ValueError("avro: non-None for null field")
        return b""
    if t == "boolean":
        return b"\x01" if v else b"\x00"
    if t in ("int", "long"):
        return _zz_encode(int(v))
    if t == "double":
        return struct.pack("<d", float(v))
    if t == "string":
        enc = v.encode("utf-8")
        return _zz_encode(len(enc)) + enc
    if t == "bytes":
        return _zz_encode(len(v)) + bytes(v)
    raise NotImplementedError(f"avro: type {t}")


def _write_field(t, v) -> bytes:
    """One field of any subset type: simple, optional union (branch
    index then value), or nested record (fields concatenated in
    schema order — Avro records have no per-record framing)."""
    if isinstance(t, tuple):
        if t[0] == "optional":
            if v is None:
                return _zz_encode(0)
            return _zz_encode(1) + _write_value(t[1], v)
        if t[0] == "array":
            # one block: count, items, then the 0 terminator
            items = list(v or [])
            out = bytearray()
            if items:
                out += _zz_encode(len(items))
                for el in items:
                    out += _write_field(t[1], el)
            out += _zz_encode(0)
            return bytes(out)
        if t[0] == "map":
            # sorted keys: deterministic bytes for identical dicts
            pairs = sorted((v or {}).items())
            out = bytearray()
            if pairs:
                out += _zz_encode(len(pairs))
                for k, mv in pairs:
                    kb = k.encode("utf-8")
                    out += _zz_encode(len(kb)) + kb
                    out += _write_value(t[1], mv)
            out += _zz_encode(0)
            return bytes(out)
        if t[0] == "enum":
            try:
                return _zz_encode(t[1].index(v))
            except ValueError:
                raise ValueError(f"avro: {v!r} not an enum symbol")
        if t[0] == "fixed":
            if len(v) != t[1]:
                raise ValueError(
                    f"avro: fixed size {t[1]} got {len(v)} bytes"
                )
            return bytes(v)
        if not isinstance(v, dict):
            raise ValueError("avro: nested record value must be a dict")
        return b"".join(_write_field(st, v.get(nm)) for nm, st in t[1])
    return _write_value(t, v)


def _read_value(r: _AvroReader, t: str):
    if t == "null":
        return None
    if t == "boolean":
        b = r.read(1)[0]
        if b not in (0, 1):
            raise ValueError("avro: bad boolean byte")
        return bool(b)
    if t in ("int", "long"):
        return r.zigzag()
    if t == "double":
        (v,) = struct.unpack("<d", r.read(8))
        return v
    if t == "string":
        return r.bytes_().decode("utf-8")
    if t == "bytes":
        return r.bytes_()
    raise NotImplementedError(f"avro: type {t}")


def _read_field(r: _AvroReader, t):
    """Inverse of `_write_field`: simple value, optional union (branch
    0 → None, 1 → value, else ValueError), or nested record → dict."""
    if isinstance(t, tuple):
        if t[0] == "optional":
            branch = r.zigzag()
            if branch == 0:
                return None
            if branch == 1:
                return _read_value(r, t[1])
            raise ValueError("avro: union branch out of range")
        if t[0] == "array":
            out = []
            while True:
                count = r.zigzag()
                if count == 0:
                    return out
                if count < 0:  # spec: abs count + block byte size
                    r.zigzag()
                    count = -count
                for _ in range(count):
                    out.append(_read_field(r, t[1]))
        if t[0] == "map":
            d: dict = {}
            while True:
                count = r.zigzag()
                if count == 0:
                    return d
                if count < 0:
                    r.zigzag()
                    count = -count
                for _ in range(count):
                    k = r.bytes_().decode("utf-8")
                    d[k] = _read_value(r, t[1])
        if t[0] == "enum":
            idx = r.zigzag()
            if not 0 <= idx < len(t[1]):
                raise ValueError(f"avro: enum index {idx} out of range")
            return t[1][idx]
        if t[0] == "fixed":
            return r.read(t[1])
        return {nm: _read_field(r, st) for nm, st in t[1]}
    return _read_value(r, t)


def encode_avro(
    records: "list[dict]",
    schema: dict,
    codec: str = "null",
    records_per_block: int = 1000,
    sync: bytes = b"\x00\x01\x02\x03\x04\x05\x06\x07"
                  b"\x08\x09\x0a\x0b\x0c\x0d\x0e\x0f",
) -> bytes:
    """Serialize records to a conformant container file: metadata map,
    sync marker, blocks of `records_per_block` with real counts and
    byte sizes, deflate-compressed when codec='deflate'."""
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro: codec {codec!r} not implemented")
    fts = _field_types(schema)
    meta = {
        "avro.schema": json.dumps(schema).encode("utf-8"),
        "avro.codec": codec.encode("ascii"),
    }
    out = bytearray(_MAGIC)
    out += _zz_encode(len(meta))
    for k, v in meta.items():
        kb = k.encode("utf-8")
        out += _zz_encode(len(kb)) + kb + _zz_encode(len(v)) + v
    out += _zz_encode(0)
    out += sync
    for at in range(0, len(records), records_per_block):
        chunk = records[at : at + records_per_block]
        body = bytearray()
        for rec in chunk:
            for name, t in fts:
                body += _write_field(t, rec.get(name))
        data = bytes(body)
        if codec == "deflate":
            co = zlib.compressobj(9, zlib.DEFLATED, -15)
            data = co.compress(data) + co.flush()
        out += _zz_encode(len(chunk)) + _zz_encode(len(data)) + data + sync
    return bytes(out)


def parse_avro(payload: bytes) -> dict:
    """Walk a container file back to records: validates the magic,
    decodes the metadata map, checks EVERY block's sync marker and
    byte size, inflates deflate blocks, and decodes each record per
    the embedded schema (flat subset). Returns {"records", "schema",
    "codec", "n_blocks"}."""
    r = _AvroReader(payload)
    if r.read(4) != _MAGIC:
        raise ValueError("avro: bad magic")
    meta: "dict[str, bytes]" = {}
    while True:
        n = r.zigzag()
        if n == 0:
            break
        if n < 0:  # spec: negative count = abs count + byte size follows
            r.zigzag()
            n = -n
        for _ in range(n):
            k = r.bytes_().decode("utf-8")
            meta[k] = r.bytes_()
    if "avro.schema" not in meta:
        raise ValueError("avro: missing avro.schema metadata")
    try:
        schema = json.loads(meta["avro.schema"])
    except json.JSONDecodeError as exc:
        raise ValueError(f"avro: malformed schema JSON: {exc}")
    codec = meta.get("avro.codec", b"null").decode("ascii")
    if codec not in ("null", "deflate"):
        raise NotImplementedError(f"avro: codec {codec!r} not implemented")
    fts = _field_types(schema)
    sync = r.read(16)

    records: "list[dict]" = []
    n_blocks = 0
    while r.pos < len(payload):
        count = r.zigzag()
        size = r.zigzag()
        if count < 0 or size < 0:
            raise ValueError("avro: negative block header")
        data = r.read(size)
        if r.read(16) != sync:
            raise ValueError("avro: sync marker mismatch")
        if codec == "deflate":
            try:
                data = zlib.decompress(data, -15)
            except zlib.error as exc:
                raise ValueError(f"avro: bad deflate block: {exc}")
        br = _AvroReader(data)
        for _ in range(count):
            records.append({name: _read_field(br, t) for name, t in fts})
        if br.pos != len(data):
            raise ValueError("avro: trailing bytes inside a block")
        n_blocks += 1
    return {
        "records": records,
        "schema": schema,
        "codec": codec,
        "n_blocks": n_blocks,
    }


# ---------------------------------------------------------------------------
# Schema RESOLUTION (reader vs writer schema — Avro spec "Schema
# Resolution"): the property that makes Avro the lake's evolution
# format. A reader schema may rename fields via aliases, drop writer
# fields, add fields with defaults, and promote types
# (int→long→double, string↔bytes); anything else is an error, not a
# silent null.
# ---------------------------------------------------------------------------

#: writer type -> reader type promotions the spec allows (subset)
_PROMOTE = {
    ("int", "long"), ("int", "double"), ("long", "double"),
    ("string", "bytes"), ("bytes", "string"),
}


def _one_field_type(t):
    """A single reader field's type in `_field_types` form."""
    return _field_types({"type": "record", "fields": [
        {"name": "_", "type": t}
    ]})[0][1]


def _promote_value(wt: str, rt: str, v):
    if wt == rt:
        return v
    if (wt, rt) not in _PROMOTE:
        raise ValueError(f"avro: cannot promote {wt} to {rt}")
    if rt == "double":
        return float(v)
    if rt == "long":
        return int(v)
    if rt == "bytes":
        return v.encode("utf-8")
    return v.decode("utf-8")


def _conversion(wt, rt):
    """Value converter writer-type -> reader-type, or raise
    ValueError when the spec says the pair is unresolvable."""
    w_opt = isinstance(wt, tuple) and wt[0] == "optional"
    r_opt = isinstance(rt, tuple) and rt[0] == "optional"
    if isinstance(wt, tuple) and wt[0] == "record":
        if not (isinstance(rt, tuple) and rt[0] == "record"):
            raise ValueError("avro: record resolved against non-record")
        raise NotImplementedError(
            "avro: nested-record resolution not implemented"
        )
    if w_opt and r_opt:
        inner = _conversion(wt[1], rt[1])
        return lambda v: None if v is None else inner(v)
    if r_opt:  # required writer value fits the reader's [null, T]
        inner = _conversion(wt, rt[1])
        return lambda v: inner(v)
    if w_opt:  # reader demands a value: None becomes a data error
        inner = _conversion(wt[1], rt)

        def strict(v):
            if v is None:
                raise ValueError(
                    "avro: null written where the reader schema "
                    "requires a value"
                )
            return inner(v)

        return strict
    return lambda v: _promote_value(wt, rt, v)


def _default_value(f: dict, rt):
    if "default" not in f:
        raise ValueError(
            f"avro: reader field {f['name']!r} missing from the writer "
            "schema and has no default"
        )
    d = f["default"]
    if isinstance(rt, tuple) and rt[0] == "optional":
        return d  # JSON default for ["null", T] is null -> None
    if rt == "bytes" and isinstance(d, str):
        return d.encode("latin-1")  # spec: bytes defaults are \u00XX
    if rt == "double" and isinstance(d, (int, float)):
        return float(d)
    return d


def resolution_plan(writer_schema: dict, reader_schema: dict):
    """[(reader field name, 'take'|'default', source name | default,
    converter)] — aliases honored, writer-only fields skipped."""
    wmap = dict(_field_types(writer_schema))
    plan = []
    for f in reader_schema.get("fields", []):
        rt = _one_field_type(f["type"])
        src = next(
            (
                nm
                for nm in [f["name"], *f.get("aliases", [])]
                if nm in wmap
            ),
            None,
        )
        if src is None:
            plan.append((f["name"], "default", _default_value(f, rt), None))
        else:
            plan.append((f["name"], "take", src, _conversion(wmap[src], rt)))
    return plan


def resolve_avro(payload: bytes, reader_schema: dict) -> dict:
    """`parse_avro`, then deliver every record per the READER schema
    (Avro spec Schema Resolution): aliases rename, writer-only
    fields drop, reader-only fields take their defaults, promotions
    convert. Unresolvable pairs and defaultless missing fields raise
    ValueError up front (before any record is touched)."""
    parsed = parse_avro(payload)
    plan = resolution_plan(parsed["schema"], reader_schema)
    out = []
    for rec in parsed["records"]:
        row = {}
        for name, kind, src, conv in plan:
            row[name] = conv(rec[src]) if kind == "take" else src
        out.append(row)
    return {
        "records": out,
        "writer_schema": parsed["schema"],
        "codec": parsed["codec"],
        "n_blocks": parsed["n_blocks"],
    }


def avro_evolution_stats(docs):
    """Per doc: records written under schema v1 (int id, string name,
    optional int score, a `tag` field v2 drops) and read under v2
    (long record_id via alias, optional DOUBLE score via in-union
    promotion, new double weight with default 1.5) — the resolved
    census is a pure function of the word formulas."""
    import hashlib

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("sum_record_id", T.LongType()),
            T.StructField("null_scores", T.LongType()),
            T.StructField("score_sum", T.DoubleType()),
            T.StructField("weight_sum", T.DoubleType()),
            T.StructField("names_md5", T.StringType()),
        ]
    )
    v1 = {
        "type": "record", "name": "r1",
        "fields": [
            {"name": "id", "type": "int"},
            {"name": "name", "type": "string"},
            {"name": "score", "type": ["null", "int"]},
            {"name": "tag", "type": "string"},
        ],
    }
    v2 = {
        "type": "record", "name": "r2",
        "fields": [
            {"name": "record_id", "type": "long", "aliases": ["id"]},
            {"name": "name", "type": "string"},
            {"name": "score", "type": ["null", "double"]},
            {"name": "weight", "type": "double", "default": 1.5},
        ],
    }

    def row(did, text):
        words = [w for w in text.split(" ") if w]
        recs = [
            {
                "id": i,
                "name": w,
                "score": None if i % 5 == 0 else i * 3,
                "tag": "x" + w,
            }
            for i, w in enumerate(words)
        ]
        blob = encode_avro(
            recs, v1, codec="deflate" if did % 2 else "null",
            records_per_block=7,
        )
        got = resolve_avro(blob, v2)["records"]
        assert [g["record_id"] for g in got] == list(
            range(len(words))
        )
        assert all("tag" not in g for g in got)
        assert all(g["weight"] == 1.5 for g in got)
        yield (
            did,
            len(got),
            sum(g["record_id"] for g in got),
            sum(1 for g in got if g["score"] is None),
            float(sum(g["score"] or 0.0 for g in got)),
            float(sum(g["weight"] for g in got)),
            hashlib.md5(
                " ".join(g["name"] for g in got).encode()
            ).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def avro_roundtrip_stats(docs):
    """Per doc: the words become {idx: long, word: string, alt:
    optional string} records (alt null on every 3rd word), written
    with deflate on even ids / null codec on odd, 16 records per
    block — then parsed back and proven equal."""
    import hashlib

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_records", T.LongType()),
            T.StructField("n_blocks", T.LongType()),
            T.StructField("n_null_alt", T.LongType()),
            T.StructField("sum_idx", T.LongType()),
            T.StructField("words_md5", T.StringType()),
        ]
    )
    avro_schema = {
        "type": "record",
        "name": "w",
        "fields": [
            {"name": "idx", "type": "long"},
            {"name": "word", "type": "string"},
            {"name": "alt", "type": ["null", "string"]},
        ],
    }

    def row(did, text):
        words = [w for w in text.split(" ") if w]
        recs = [
            {
                "idx": i,
                "word": w,
                "alt": None if i % 3 == 0 else w.upper(),
            }
            for i, w in enumerate(words)
        ]
        payload = encode_avro(
            recs, avro_schema,
            codec="deflate" if did % 2 == 0 else "null",
            records_per_block=16,
        )
        d = parse_avro(payload)
        assert d["records"] == recs  # container roundtrip
        yield (
            did,
            len(d["records"]),
            d["n_blocks"],
            sum(1 for rec in d["records"] if rec["alt"] is None),
            sum(rec["idx"] for rec in d["records"]),
            hashlib.md5(
                " ".join(rec["word"] for rec in d["records"])
                .encode("utf-8")
            ).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "avro_container_stats",
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents
        )
        SELECT doc_id,
               CAST(len(w) AS BIGINT) AS n_records,
               CAST((len(w) + 15) // 16 AS BIGINT) AS n_blocks,
               CAST((len(w) + 2) // 3 AS BIGINT) AS n_null_alt,
               CAST(len(w) * (len(w) - 1) // 2 AS BIGINT) AS sum_idx,
               md5(array_to_string(w, ' ')) AS words_md5
        FROM t
        """,
    )
    def q_avro_container_stats(spark, sf_dir):
        """Avro container roundtrip over the documents table: words
        become long/string/optional-union records through the REAL
        encode → binary → sync-verified parse chain (deflate blocks on
        even ids), and the oracle recomputes record/block/null
        censuses, index sums and the recovered word stream md5 from
        the word formula — varint zigzag, union branches, block
        framing and inflate all have to survive byte-for-byte."""
        docs = load_table(spark, sf_dir, "documents")
        return avro_roundtrip_stats(docs)

    @query(
        "avro_schema_evolution",
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents
        ), s AS (
          SELECT doc_id, w, len(w) AS n FROM t
        )
        SELECT doc_id,
               CAST(n AS BIGINT) AS n_records,
               CAST(n * (n - 1) // 2 AS BIGINT) AS sum_record_id,
               CAST((n + 4) // 5 AS BIGINT) AS null_scores,
               CAST(3 * (n * (n - 1) // 2 - (
                 SELECT COALESCE(SUM(i), 0)
                 FROM unnest(range(0, n)) AS u(i) WHERE i % 5 = 0
               )) AS DOUBLE) AS score_sum,
               CAST(n AS DOUBLE) * 1.5 AS weight_sum,
               md5(array_to_string(w, ' ')) AS names_md5
        FROM s
        """,
    )
    def q_avro_schema_evolution(spark, sf_dir):
        """Avro schema RESOLUTION end-to-end: v1-written container
        files read under a v2 reader schema — alias rename
        (id→record_id), int→long and in-union int→double promotions,
        a dropped field, a defaulted new field — per the spec's
        Schema Resolution rules, both codecs. The oracle replays the
        resolved census from the word formulas; unresolvable shapes
        are ValueError-tested in the unit suite."""
        docs = load_table(spark, sf_dir, "documents")
        return avro_evolution_stats(docs)


_register()
