"""Zero-dep Arrow IPC stream reader — hand-rolled flatbuffers.

Arrow IPC is the wire format of the whole modern data ecosystem
(Flight, pandas/Spark Arrow exchange, DuckDB, Polars, the Arrow
stages this engine itself runs on). This module reads the STREAM
format from the public spec with no Arrow library in the loop:

- encapsulated messages: 0xFFFFFFFF continuation + u32 metadata
  length + flatbuffer `Message` + 8-padding + body;
- a from-scratch flatbuffers walker (root offset, vtable indirection,
  scalar/string/vector/struct-vector/union field access) — the field
  ids and union ordering come from the public Message.fbs/Schema.fbs;
- Schema (Int/FloatingPoint/Utf8/Bool fields, nullable), RecordBatch
  (FieldNode + Buffer vectors), validity bitmaps, offset+data
  buffers; EOS marker.

Subset contract: int8-64 (signed/unsigned), float32/64, utf8, bool
columns; multiple record batches; nulls via validity bitmaps.
Dictionary batches, compressed bodies (LZ4_FRAME/ZSTD body
compression), nested types and big-endian streams raise
NotImplementedError. Malformed framing raises ValueError.

Reference behavior generalized: the reference moves data between
services as JSON lines (lambda_functions/dynamodb_stream_consumer.py
:74-90 writes drops; Athena reads them back); Arrow IPC is the
binary interchange the same hop uses in an engine-to-engine world.

The tests cross-check against pyarrow's own IPC writer — the
reference implementation of the format."""

from __future__ import annotations

import struct

from dynamodb_to_datalake_project_spark.rowmap import map_rows

_CONT = 0xFFFFFFFF

# Message.fbs header union ordering
_H_SCHEMA, _H_DICT, _H_BATCH = 1, 2, 3
# Schema.fbs Type union ordering (prefix we need)
_T_INT, _T_FLOAT, _T_BINARY, _T_UTF8, _T_BOOL = 2, 3, 4, 5, 6


class _FB:
    """Minimal flatbuffers accessor over one buffer."""

    def __init__(self, buf: bytes):
        self.b = buf

    def u8(self, p):
        return self.b[p]

    def u16(self, p):
        return struct.unpack_from("<H", self.b, p)[0]

    def i32(self, p):
        return struct.unpack_from("<i", self.b, p)[0]

    def u32(self, p):
        return struct.unpack_from("<I", self.b, p)[0]

    def i64(self, p):
        return struct.unpack_from("<q", self.b, p)[0]

    def root(self) -> int:
        return self.u32(0)

    def field(self, table: int, fid: int) -> int:
        """Byte position of field `fid` in `table`, or 0 if absent."""
        vt = table - self.i32(table)
        vt_size = self.u16(vt)
        slot = 4 + 2 * fid
        if slot + 2 > vt_size:
            return 0
        off = self.u16(vt + slot)
        return table + off if off else 0

    def scalar(self, table: int, fid: int, kind: str, default=0):
        p = self.field(table, fid)
        if not p:
            return default
        return {
            "u8": self.u8, "u16": self.u16, "i32": self.i32,
            "u32": self.u32, "i64": self.i64,
        }[kind](p)

    def indirect(self, table: int, fid: int) -> int:
        """Follow an offset field (table/string/vector), 0 if absent."""
        p = self.field(table, fid)
        if not p:
            return 0
        return p + self.u32(p)

    def string(self, table: int, fid: int) -> str:
        p = self.indirect(table, fid)
        if not p:
            return ""
        n = self.u32(p)
        return self.b[p + 4 : p + 4 + n].decode("utf-8")

    def vector(self, table: int, fid: int) -> "tuple[int, int]":
        """(element start, length) of a vector field; (0, 0) if absent."""
        p = self.indirect(table, fid)
        if not p:
            return 0, 0
        return p + 4, self.u32(p)


def _read_schema(fb: _FB) -> "list[dict]":
    """Message -> Schema -> fields: [{name, nullable, kind, bits,
    signed}] with kind in int/float/utf8/bool."""
    msg = fb.root()
    htype = fb.scalar(msg, 1, "u8")
    if htype != _H_SCHEMA:
        raise ValueError(f"arrowipc: first message header {htype} != Schema")
    schema = fb.indirect(msg, 2)
    if fb.scalar(schema, 0, "u16") not in (0,):  # endianness: 0=Little
        raise NotImplementedError("arrowipc: big-endian stream")
    vec, n = fb.vector(schema, 1)
    fields = []
    for i in range(n):
        ft = vec + 4 * i
        ft = ft + fb.u32(ft)
        name = fb.string(ft, 0)
        nullable = bool(fb.scalar(ft, 1, "u8"))
        ttype = fb.scalar(ft, 2, "u8")
        ttab = fb.indirect(ft, 3)
        _, nchild = fb.vector(ft, 5)
        if nchild:
            raise NotImplementedError("arrowipc: nested types")
        if fb.field(ft, 4):
            raise NotImplementedError("arrowipc: dictionary encoding")
        if ttype == _T_INT:
            fields.append({
                "name": name, "nullable": nullable, "kind": "int",
                "bits": fb.scalar(ttab, 0, "i32", 32),
                "signed": bool(fb.scalar(ttab, 1, "u8")),
            })
        elif ttype == _T_FLOAT:
            prec = fb.scalar(ttab, 0, "u16")
            if prec not in (1, 2):
                raise NotImplementedError("arrowipc: half floats")
            fields.append({
                "name": name, "nullable": nullable, "kind": "float",
                "bits": 32 if prec == 1 else 64, "signed": True,
            })
        elif ttype == _T_UTF8:
            fields.append({
                "name": name, "nullable": nullable, "kind": "utf8",
                "bits": 0, "signed": False,
            })
        elif ttype == _T_BOOL:
            fields.append({
                "name": name, "nullable": nullable, "kind": "bool",
                "bits": 1, "signed": False,
            })
        else:
            raise NotImplementedError(f"arrowipc: type union {ttype}")
    return fields


def _bitmap_get(buf: bytes, i: int) -> bool:
    return bool(buf[i >> 3] & (1 << (i & 7)))


_INT_FMT = {(8, True): "b", (8, False): "B", (16, True): "h",
            (16, False): "H", (32, True): "i", (32, False): "I",
            (64, True): "q", (64, False): "Q"}


def read_arrow_stream(data: bytes) -> "dict[str, list]":
    """Parse a complete Arrow IPC stream: schema message, every
    record batch, EOS. Returns {column: values} with None for
    nulls. Framing/flatbuffer violations raise ValueError; features
    outside the subset raise NotImplementedError."""
    pos = 0
    n = len(data)

    def next_message():
        nonlocal pos
        if pos + 8 > n:
            raise ValueError("arrowipc: truncated message framing")
        cont = struct.unpack_from("<I", data, pos)[0]
        if cont != _CONT:
            raise ValueError("arrowipc: missing continuation marker")
        mlen = struct.unpack_from("<I", data, pos + 4)[0]
        pos += 8
        if mlen == 0:
            return None, b""  # EOS
        if pos + mlen > n:
            raise ValueError("arrowipc: truncated message metadata")
        meta = data[pos : pos + mlen]
        pos += mlen
        fb = _FB(meta)
        msg = fb.root()
        body_len = fb.scalar(msg, 3, "i64")
        if pos + body_len > n:
            raise ValueError("arrowipc: truncated message body")
        body = data[pos : pos + body_len]
        pos += body_len
        return fb, body

    fb, _ = next_message()
    if fb is None:
        raise ValueError("arrowipc: empty stream")
    fields = _read_schema(fb)
    out: "dict[str, list]" = {f["name"]: [] for f in fields}

    while True:
        if pos >= n:
            break  # stream without explicit EOS — accept
        fb, body = next_message()
        if fb is None:
            break
        msg = fb.root()
        htype = fb.scalar(msg, 1, "u8")
        if htype == _H_DICT:
            raise NotImplementedError("arrowipc: dictionary batches")
        if htype != _H_BATCH:
            raise ValueError(f"arrowipc: unexpected header {htype}")
        batch = fb.indirect(msg, 2)
        if fb.field(batch, 3):
            raise NotImplementedError("arrowipc: compressed body")
        length = fb.scalar(batch, 0, "i64")
        nodes_at, n_nodes = fb.vector(batch, 1)
        bufs_at, n_bufs = fb.vector(batch, 2)
        if n_nodes != len(fields):
            raise ValueError("arrowipc: node count != field count")
        nodes = [
            (fb.i64(nodes_at + 16 * i), fb.i64(nodes_at + 16 * i + 8))
            for i in range(n_nodes)
        ]
        buffers = [
            (fb.i64(bufs_at + 16 * i), fb.i64(bufs_at + 16 * i + 8))
            for i in range(n_bufs)
        ]
        bi = 0

        def take():
            nonlocal bi
            off, ln = buffers[bi]
            bi += 1
            if off + ln > len(body):
                raise ValueError("arrowipc: buffer overruns body")
            return body[off : off + ln]

        for f, (node_len, null_count) in zip(fields, nodes):
            if node_len != length:
                raise ValueError("arrowipc: node length != batch length")
            validity = take()
            if null_count and not validity:
                raise ValueError("arrowipc: nulls without validity bitmap")
            col = out[f["name"]]
            if f["kind"] == "utf8":
                offs = take()
                vals = take()
                o = struct.unpack_from(f"<{length + 1}i", offs, 0) if length else (0,)
                for i in range(length):
                    if null_count and not _bitmap_get(validity, i):
                        col.append(None)
                    else:
                        col.append(
                            vals[o[i] : o[i + 1]].decode("utf-8")
                        )
            elif f["kind"] == "bool":
                vals = take()
                for i in range(length):
                    if null_count and not _bitmap_get(validity, i):
                        col.append(None)
                    else:
                        col.append(_bitmap_get(vals, i))
            else:
                vals = take()
                fmt = (
                    _INT_FMT[(f["bits"], f["signed"])]
                    if f["kind"] == "int"
                    else ("f" if f["bits"] == 32 else "d")
                )
                width = f["bits"] // 8
                for i in range(length):
                    if null_count and not _bitmap_get(validity, i):
                        col.append(None)
                    else:
                        col.append(
                            struct.unpack_from(f"<{fmt}", vals, i * width)[0]
                        )
    return out


def arrow_stream_stats(docs):
    """Per doc: the words table serialized to a REAL Arrow IPC stream
    by pyarrow (multiple batches on id%3, nullable idx on id%2), read
    back by the zero-dep flatbuffers walker, equality-asserted, and
    the word-formula census emitted."""
    import hashlib

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_values", T.LongType()),
            T.StructField("n_batches", T.LongType()),
            T.StructField("n_nulls", T.LongType()),
            T.StructField("sum_idx", T.LongType()),
            T.StructField("words_md5", T.StringType()),
        ]
    )

    import io

    import pyarrow as pa
    import pyarrow.ipc as ipc

    def row(did, text):
        words = [w for w in text.split(" ") if w]
        nw = len(words)
        idx = [
            None if did % 2 and i % 7 == 0 else i
            for i in range(nw)
        ]
        t = pa.table(
            {
                "idx": pa.array(idx, pa.int64()),
                "word": pa.array(words, pa.string()),
            }
        )
        buf = io.BytesIO()
        chunk = max(1, -(-nw // (did % 3 + 1)))
        with ipc.new_stream(buf, t.schema) as w:
            for b in t.to_batches(max_chunksize=chunk):
                w.write_batch(b)
        payload = buf.getvalue()
        got = read_arrow_stream(payload)
        assert got["idx"] == idx
        assert got["word"] == words
        n_batches = -(-nw // chunk) if nw else 0
        yield (
            did,
            nw,
            n_batches,
            sum(1 for v in idx if v is None),
            sum(v for v in idx if v is not None),
            hashlib.md5(" ".join(words).encode()).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "arrow_ipc_stream_scan",
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents
        ), s AS (
          SELECT doc_id, w, len(w) AS nw,
                 GREATEST(1, CAST(CEIL(len(w) /
                   CAST(doc_id % 3 + 1 AS DOUBLE)) AS BIGINT)) AS chunk
          FROM t
        )
        SELECT doc_id,
               CAST(nw AS BIGINT) AS n_values,
               CASE WHEN nw = 0 THEN CAST(0 AS BIGINT)
                    ELSE CAST(CEIL(nw / CAST(chunk AS DOUBLE)) AS BIGINT)
               END AS n_batches,
               CASE WHEN doc_id % 2 = 1
                    THEN CAST((nw + 6) // 7 AS BIGINT)
                    ELSE CAST(0 AS BIGINT) END AS n_nulls,
               CAST(nw * (nw - 1) // 2
                    - CASE WHEN doc_id % 2 = 1 THEN (
                        SELECT COALESCE(SUM(i), 0)
                        FROM unnest(range(0, nw)) AS u(i)
                        WHERE i % 7 = 0)
                      ELSE 0 END AS BIGINT) AS sum_idx,
               md5(array_to_string(w, ' ')) AS words_md5
        FROM s
        """,
    )
    def q_arrow_ipc_stream_scan(spark, sf_dir):
        """Arrow IPC stream read with no Arrow library: encapsulated
        message framing, a from-scratch flatbuffers walker (vtables,
        unions, struct vectors), validity bitmaps, multi-batch
        streams with planted nulls — cross-checked in-op against the
        values pyarrow (the reference implementation) wrote. The
        oracle replays the census from the planting formulas."""
        docs = load_table(spark, sf_dir, "documents")
        return arrow_stream_stats(docs)


_register()
