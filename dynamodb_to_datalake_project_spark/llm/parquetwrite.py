"""Zero-dep parquet WRITER — the write direction of `llm.parquetmeta`,
from the public parquet-format spec: Thrift compact-protocol encoding
(the writer dual of `parquetmeta._Reader`), PLAIN and dictionary
data pages v1, RLE/bit-packed-hybrid definition levels for nullable
columns, one or more row groups, pages under any of the five reader
codecs — SNAPPY, LZ4_RAW and ZSTD run the engine's own encoders
(`snappy_compress`, `lz4_block_compress`, `llm.zstd.zstd_compress`),
so a file can be produced end-to-end with no parquet AND no
compression library, then opened by pyarrow/DuckDB (both cross-check
in the tests and in-op).

Why a writer: the reference lake is written by a managed engine
(glue_jobs/initial_load.py:163-179); this engine's parquet sinks
normally go through Spark's writer too. The hand writer is the
recovery/embedding path — emitting valid parquet from places where
no JVM exists (a Lambda-like stream consumer, the reference's
lambda_functions/dynamodb_stream_consumer.py niche, writes plain
JSON for exactly this reason) — and the proof that the format
knowledge in the reader is complete enough to round-trip.

Subset contract: BOOLEAN (bit-packed), INT32, INT64, FLOAT,
DOUBLE, BYTE_ARRAY(UTF8) columns; REQUIRED or OPTIONAL (None
values); PLAIN encoding; all five codecs the
zero-dep reader decodes — UNCOMPRESSED, SNAPPY and LZ4_RAW (the
block encoders below, write-duals of the `parquetmeta` decoders),
GZIP (RFC 1952 member per page via stdlib zlib) and ZSTD (the
engine's own RFC 8878 encoder); per-chunk Statistics (min_value/max_value/
null_count) with TypeDefinedOrder column_orders, so engines
zone-map-prune row groups in the hand-written files exactly as in
production ones; optional dictionary encoding (PLAIN dictionary
page + RLE_DICTIONARY hybrid index pages — the parquet-mr default
layout for repetitive columns). Nesting and other types raise
NotImplementedError.
"""

from __future__ import annotations

from dynamodb_to_datalake_project_spark.llm.bitio import uvarint, zigzag
from dynamodb_to_datalake_project_spark.rowmap import map_rows

# thrift compact type nibbles
_T_TRUE, _T_FALSE, _T_BYTE = 1, 2, 3
_T_I16, _T_I32, _T_I64, _T_DOUBLE = 4, 5, 6, 7
_T_BINARY, _T_LIST, _T_STRUCT = 8, 9, 12

_PHYS = {
    "BOOLEAN": 0,
    "INT32": 1,
    "INT64": 2,
    "FLOAT": 4,
    "DOUBLE": 5,
    "BYTE_ARRAY": 6,
}
_CODEC_IDS = {
    "UNCOMPRESSED": 0,
    "SNAPPY": 1,
    "GZIP": 2,
    "ZSTD": 6,
    "LZ4_RAW": 7,
}


def snappy_compress(data: bytes) -> bytes:
    """Pure-Python snappy block ENCODE — the dual of
    `parquetmeta.snappy_decompress`, from the public format
    description (google/snappy format_description.txt): varint
    uncompressed-length preamble, then literal and copy elements.
    Greedy 4-byte-hash match finder (last-occurrence table, the
    reference implementation's strategy); matches are emitted as
    2-byte-offset copies (len 4..64 per element, offset < 65536 —
    always legal), long matches chunked at 64. Every output is
    decodable by snappy_decompress AND by pyarrow's snappy (the
    tests cross-check both)."""
    n = len(data)
    out = bytearray(uvarint(n))

    def emit_literal(lo: int, hi: int) -> None:
        ln = hi - lo
        while ln > 0:
            take = min(ln, 1 << 24)
            if take <= 60:
                out.append((take - 1) << 2)
            else:
                nb = ((take - 1).bit_length() + 7) // 8
                out.append((59 + nb) << 2)
                out.extend((take - 1).to_bytes(nb, "little"))
            out.extend(data[lo : lo + take])
            lo += take
            ln -= take

    table: dict[bytes, int] = {}
    i = 0
    lit_start = 0
    while i + 4 <= n:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > 0xFFFF:
            i += 1
            continue
        # extend the match forward
        mlen = 4
        while i + mlen < n and data[cand + mlen] == data[i + mlen]:
            mlen += 1
        emit_literal(lit_start, i)
        off = i - cand
        rem = mlen
        while rem > 0:
            take = min(rem, 64)
            if rem - take in (1, 2, 3):  # never strand a <4-byte tail
                take = rem - 4 if rem > 4 else rem
            out.append(((take - 1) << 2) | 2)
            out += off.to_bytes(2, "little")
            rem -= take
        i += mlen
        lit_start = i
    emit_literal(lit_start, n)
    return bytes(out)


class _TWriter:
    """Thrift compact-protocol struct writer (the dual of
    `parquetmeta._Reader`): delta-encoded field headers, zigzag
    varints, length-prefixed binaries, size|type list headers."""

    def __init__(self):
        self.b = bytearray()
        self._last = [0]

    def _varint(self, v: int) -> None:
        self.b += uvarint(v)

    def _zigzag(self, v: int) -> None:
        self.b += uvarint(zigzag(v))

    def _field_hdr(self, fid: int, ctype: int) -> None:
        delta = fid - self._last[-1]
        if 1 <= delta <= 15:
            self.b.append((delta << 4) | ctype)
        else:
            self.b.append(ctype)
            self._zigzag(fid)
        self._last[-1] = fid

    def i32(self, fid: int, v: int) -> None:
        self._field_hdr(fid, _T_I32)
        self._zigzag(v)

    def i64(self, fid: int, v: int) -> None:
        self._field_hdr(fid, _T_I64)
        self._zigzag(v)

    def binary(self, fid: int, v: bytes) -> None:
        self._field_hdr(fid, _T_BINARY)
        self._varint(len(v))
        self.b += v

    def string(self, fid: int, v: str) -> None:
        self.binary(fid, v.encode("utf-8"))

    def begin_struct(self, fid: int) -> None:
        self._field_hdr(fid, _T_STRUCT)
        self._last.append(0)

    def end_struct(self) -> None:
        self.b.append(0)  # STOP
        self._last.pop()

    def list_header(self, fid: int, size: int, etype: int) -> None:
        self._field_hdr(fid, _T_LIST)
        if size < 15:
            self.b.append((size << 4) | etype)
        else:
            self.b.append(0xF0 | etype)
            self._varint(size)

    def i32_list(self, fid: int, vals: "list[int]") -> None:
        self.list_header(fid, len(vals), _T_I32)
        for v in vals:
            self._zigzag(v)

    def string_list(self, fid: int, vals: "list[str]") -> None:
        self.list_header(fid, len(vals), _T_BINARY)
        for v in vals:
            raw = v.encode("utf-8")
            self._varint(len(raw))
            self.b += raw

    def finish(self) -> bytes:
        self.b.append(0)  # top-level struct STOP
        return bytes(self.b)


def _plain_encode(vals: list, ptype: str) -> bytes:
    import struct as _s

    out = bytearray()
    if ptype == "INT64":
        for v in vals:
            out += _s.pack("<q", v)
    elif ptype == "INT32":
        for v in vals:
            out += _s.pack("<i", v)
    elif ptype == "DOUBLE":
        for v in vals:
            out += _s.pack("<d", v)
    elif ptype == "FLOAT":
        for v in vals:
            out += _s.pack("<f", v)
    elif ptype == "BOOLEAN":  # PLAIN booleans are bit-packed LSB-first
        acc = 0
        for i, v in enumerate(vals):
            if v:
                acc |= 1 << i
        out += acc.to_bytes((len(vals) + 7) // 8, "little")
    else:
        for v in vals:
            raw = v.encode("utf-8") if isinstance(v, str) else bytes(v)
            out += _s.pack("<I", len(raw)) + raw
    return bytes(out)


def lz4_block_compress(data: bytes) -> bytes:
    """Pure-Python LZ4 block ENCODE — the dual of
    `parquetmeta.lz4_block_decompress`, from the public LZ4 block
    format spec: sequences of <token><literal-ext><literals>
    <2-byte LE offset><match-ext>, minimum match 4, 255-byte length
    extensions. Honors the spec's end rules — no match starts within
    the last 12 bytes, matches end at least 5 bytes before the block
    end, and the final sequence is literals-only. Greedy
    4-byte-hash matcher like `snappy_compress`; every output is
    decodable by the engine's own decoder AND pyarrow's lz4_raw
    (both cross-checked in the tests)."""
    out = bytearray()
    n = len(data)

    def seq(lit_lo: int, lit_hi: int, mlen: int = 0, off: int = 0) -> None:
        lit = lit_hi - lit_lo
        tok_lit = 15 if lit >= 15 else lit
        tok_m = 0 if mlen == 0 else min(mlen - 4, 15)
        out.append((tok_lit << 4) | tok_m)
        if tok_lit == 15:
            rem = lit - 15
            while rem >= 255:
                out.append(255)
                rem -= 255
            out.append(rem)
        out.extend(data[lit_lo:lit_hi])
        if mlen:
            out.extend(off.to_bytes(2, "little"))
            if tok_m == 15:
                rem = mlen - 19
                while rem >= 255:
                    out.append(255)
                    rem -= 255
                out.append(rem)

    table: dict[bytes, int] = {}
    i = 0
    lit_start = 0
    while i + 4 <= n and i < n - 12:
        key = data[i : i + 4]
        cand = table.get(key)
        table[key] = i
        if cand is None or i - cand > 0xFFFF:
            i += 1
            continue
        maxm = (n - 5) - i
        if maxm < 4:
            break
        mlen = 4
        while mlen < maxm and data[cand + mlen] == data[i + mlen]:
            mlen += 1
        seq(lit_start, i, mlen, i - cand)
        i += mlen
        lit_start = i
    seq(lit_start, n)  # final sequence: literals only
    return bytes(out)


def _compress_page(body: bytes, codec: str) -> bytes:
    if codec == "ZSTD":
        from dynamodb_to_datalake_project_spark.llm.zstd import (
            zstd_compress,
        )

        return zstd_compress(body)
    if codec == "SNAPPY":
        return snappy_compress(body)
    if codec == "LZ4_RAW":
        return lz4_block_compress(body)
    if codec == "GZIP":
        # RFC 1952 member per page (wbits=31), the framing
        # parquetmeta.gzip_member_decompress expects.
        import zlib as _z

        co = _z.compressobj(6, _z.DEFLATED, 31)
        return co.compress(body) + co.flush()
    return body


def _rle_hybrid_indices(idx: "list[int]", bw: int) -> bytes:
    """RLE/bit-packed hybrid for dictionary indices at bit width
    `bw` (data-page framing: no length prefix — the page ends when
    num_values have been read). Runs of >= 8 equal values become RLE
    runs (varint run<<1 + ceil(bw/8) value bytes LE); everything
    else accumulates and flushes as bit-packed groups of 8 values
    (varint groups<<1|1, LSB-first packing), with any non-multiple-
    of-8 remainder emitted as length-1 RLE runs — valid anywhere in
    the page, so no padding ambiguity ever arises."""
    body = bytearray()
    vbytes = (bw + 7) // 8

    def flush(buf: "list[int]") -> None:
        groups = len(buf) // 8
        if groups:
            body.extend(uvarint((groups << 1) | 1))
            for g in range(groups):
                acc = 0
                for t, v in enumerate(buf[g * 8 : g * 8 + 8]):
                    acc |= v << (t * bw)
                body.extend(acc.to_bytes(bw, "little"))
        for v in buf[groups * 8 :]:
            body.extend(uvarint(1 << 1))
            body.extend(v.to_bytes(vbytes, "little"))
        buf.clear()

    pending: "list[int]" = []
    i, n = 0, len(idx)
    while i < n:
        j = i
        while j < n and idx[j] == idx[i]:
            j += 1
        run = j - i
        if run >= 8:
            flush(pending)
            body.extend(uvarint(run << 1))
            body.extend(idx[i].to_bytes(vbytes, "little"))
        else:
            pending.extend(idx[i:j])
        i = j
    flush(pending)
    return bytes(body)


def _rle_def_levels(levels: "list[int]") -> bytes:
    """RLE/bit-packed hybrid at bit width 1, v1-page framing (4-byte
    LE byte-length prefix): plain RLE runs, header varint = run<<1,
    one payload byte per run."""
    body = bytearray()
    i = 0
    while i < len(levels):
        j = i
        while j < len(levels) and levels[j] == levels[i]:
            j += 1
        body += uvarint((j - i) << 1)
        body.append(levels[i])
        i = j
    return len(body).to_bytes(4, "little") + bytes(body)


def delta_binary_packed_encode(
    vals: "list[int]", block: int = 128, nmini: int = 4
) -> bytes:
    """DELTA_BINARY_PACKED encode (parquet-format Encodings.md, the
    v2 default for INT32/INT64): header <block size> <miniblocks/
    block> <total count> <first value zigzag>, then per block
    <min delta zigzag> <one width byte per miniblock> <deltas
    bit-packed LSB-first>. Partially-filled miniblocks are padded
    with zero-deltas to full width (the layout every reader,
    including this repo's `parquetmeta._delta_binary_packed` and
    parquet-mr, expects); trailing empty miniblocks carry width 0
    and no bytes."""
    per_mini = block // nmini
    out = bytearray()
    out += uvarint(block)
    out += uvarint(nmini)
    out += uvarint(len(vals))
    out += uvarint(zigzag(vals[0] if vals else 0))
    if len(vals) <= 1:
        return bytes(out)
    deltas = [b - a for a, b in zip(vals, vals[1:])]
    for bs in range(0, len(deltas), block):
        chunk = deltas[bs : bs + block]
        mind = min(chunk)
        out += uvarint(zigzag(mind))
        adj = [d - mind for d in chunk]
        widths = []
        for m in range(nmini):
            mb = adj[m * per_mini : (m + 1) * per_mini]
            widths.append(max((v.bit_length() for v in mb), default=0))
        out += bytes(widths)
        for m, w in enumerate(widths):
            mb = adj[m * per_mini : (m + 1) * per_mini]
            if not mb or w == 0:
                continue
            mb = mb + [0] * (per_mini - len(mb))  # pad to full width
            acc = 0
            for t, v in enumerate(mb):
                acc |= v << (t * w)
            out += acc.to_bytes(per_mini * w // 8, "little")
    return bytes(out)


def delta_length_byte_array_encode(vals: "list[bytes]") -> bytes:
    """DELTA_LENGTH_BYTE_ARRAY: the lengths as DELTA_BINARY_PACKED,
    then the concatenated value bytes."""
    return delta_binary_packed_encode([len(v) for v in vals]) + b"".join(
        vals
    )


def delta_byte_array_encode(vals: "list[bytes]") -> bytes:
    """DELTA_BYTE_ARRAY (front-coded strings — parquet-mr's actual
    v2 default for BYTE_ARRAY): shared-prefix lengths vs the
    previous value as DELTA_BINARY_PACKED, then the suffixes as
    DELTA_LENGTH_BYTE_ARRAY."""
    prefs, sufs = [], []
    prev = b""
    for v in vals:
        p, m = 0, min(len(prev), len(v))
        while p < m and prev[p] == v[p]:
            p += 1
        prefs.append(p)
        sufs.append(v[p:])
        prev = v
    return delta_binary_packed_encode(prefs) + delta_length_byte_array_encode(
        sufs
    )


def byte_stream_split_encode(vals: list, ptype: str) -> bytes:
    """BYTE_STREAM_SPLIT (the v2 float encoding): stream j carries
    byte j of every value, so same-significance bytes sit together
    and compress well."""
    import struct as _s

    fmt, k = ("<f", 4) if ptype == "FLOAT" else ("<d", 8)
    raw = b"".join(_s.pack(fmt, v) for v in vals)
    return b"".join(raw[j::k] for j in range(k))


def write_parquet(
    columns: "dict[str, tuple[str, list]]",
    codec: str = "UNCOMPRESSED",
    row_group_size: int | None = None,
    created_by: str = "spark-graft handwriter",
    dictionary: bool = False,
    page_version: int = 1,
    v2_byte_array: str = "delta_length",
) -> bytes:
    """Serialize `columns` ({name: (type, values)}; type in BOOLEAN /
    INT32 / INT64 / FLOAT / DOUBLE / BYTE_ARRAY; None values allowed -> OPTIONAL column with
    RLE definition levels) into a complete parquet file. `codec` in
    UNCOMPRESSED / SNAPPY / GZIP / ZSTD / LZ4_RAW (SNAPPY, ZSTD and
    LZ4 pages compressed by the engine's own encoders). `dictionary=True`
    writes each non-empty chunk as a PLAIN dictionary page (first-
    occurrence order) plus an RLE_DICTIONARY data page — the
    production parquet-mr default layout. `page_version=2` writes
    DataPageV2 pages (levels uncompressed ahead of the value
    section, no 4-byte level prefix) with the parquet-mr v2 default
    encodings — DELTA_BINARY_PACKED for INT32/INT64,
    DELTA_LENGTH_BYTE_ARRAY for BYTE_ARRAY (front-coded
    DELTA_BYTE_ARRAY with v2_byte_array="delta" — parquet-mr's
    default), BYTE_STREAM_SPLIT for FLOAT/DOUBLE, PLAIN for
    booleans, RLE_DICTIONARY when `dictionary` is set. Returns the
    file bytes."""
    if codec not in _CODEC_IDS:
        raise NotImplementedError(f"parquetwrite: codec {codec}")
    if page_version not in (1, 2):
        raise NotImplementedError(f"parquetwrite: page v{page_version}")
    names = list(columns)
    if not names:
        raise ValueError("parquetwrite: no columns")
    n_rows = len(columns[names[0]][1])
    for name, (ptype, vals) in columns.items():
        if ptype not in _PHYS:
            raise NotImplementedError(f"parquetwrite: type {ptype}")
        if len(vals) != n_rows:
            raise ValueError("parquetwrite: ragged columns")
    rg_size = row_group_size or max(n_rows, 1)
    optional = {
        name: any(v is None for v in vals)
        for name, (_, vals) in columns.items()
    }

    out = bytearray(b"PAR1")
    row_groups = []  # (num_rows, [(name, meta dict)])
    start = 0
    while start < n_rows or (n_rows == 0 and start == 0):
        hi = min(start + rg_size, n_rows)
        chunk_meta = []
        for name in names:
            ptype, vals = columns[name]
            sl = vals[start:hi]
            present = [v for v in sl if v is not None]
            # parquet-mr never dictionary-encodes booleans (PLAIN is
            # already one bit per value)
            use_dict = (
                dictionary and bool(present) and ptype != "BOOLEAN"
            )
            unc_total = comp_total = 0
            dict_offset = None
            if use_dict:
                dvals: list = []
                dindex: dict = {}
                for v in present:
                    if v not in dindex:
                        dindex[v] = len(dvals)
                        dvals.append(v)
                dict_body = _plain_encode(dvals, ptype)
                dict_paged = _compress_page(dict_body, codec)
                dh = _TWriter()
                dh.i32(1, 2)  # DICTIONARY_PAGE
                dh.i32(2, len(dict_body))
                dh.i32(3, len(dict_paged))
                dh.begin_struct(7)  # DictionaryPageHeader
                dh.i32(1, len(dvals))
                dh.i32(2, 0)  # PLAIN
                dh.end_struct()
                dict_hdr = dh.finish()
                dict_offset = len(out)
                out += dict_hdr + dict_paged
                unc_total += len(dict_hdr) + len(dict_body)
                comp_total += len(dict_hdr) + len(dict_paged)
            if page_version == 2:
                # DataPageV2: rep+def levels lead the page
                # UNCOMPRESSED with no length prefix; only the value
                # section runs through the codec.
                lv_bytes = b""
                if optional[name]:
                    lv_bytes = _rle_def_levels(
                        [0 if v is None else 1 for v in sl]
                    )[4:]
                if use_dict:
                    enc = 8
                    bw = max(1, (len(dvals) - 1).bit_length())
                    vbody = bytes([bw]) + _rle_hybrid_indices(
                        [dindex[v] for v in present], bw
                    )
                elif ptype in ("INT32", "INT64") and present:
                    enc = 5
                    vbody = delta_binary_packed_encode(present)
                elif ptype == "BYTE_ARRAY" and present:
                    raw = [
                        v.encode("utf-8") if isinstance(v, str) else bytes(v)
                        for v in present
                    ]
                    if v2_byte_array == "delta":
                        enc = 7
                        vbody = delta_byte_array_encode(raw)
                    else:
                        enc = 6
                        vbody = delta_length_byte_array_encode(raw)
                elif ptype in ("FLOAT", "DOUBLE") and present:
                    enc = 9
                    vbody = byte_stream_split_encode(present, ptype)
                else:
                    enc = 0
                    vbody = _plain_encode(present, ptype)
                vpaged = _compress_page(vbody, codec)
                ph = _TWriter()
                ph.i32(1, 3)  # DATA_PAGE_V2
                ph.i32(2, len(lv_bytes) + len(vbody))
                ph.i32(3, len(lv_bytes) + len(vpaged))
                ph.begin_struct(8)  # DataPageHeaderV2
                ph.i32(1, len(sl))  # num_values incl. nulls
                ph.i32(2, len(sl) - len(present))  # num_nulls
                ph.i32(3, len(sl))  # num_rows (flat schema)
                ph.i32(4, enc)
                ph.i32(5, len(lv_bytes))  # definition_levels_byte_length
                ph.i32(6, 0)  # repetition_levels_byte_length
                ph.end_struct()
                hdr = ph.finish()
                offset = len(out)
                out += hdr + lv_bytes + vpaged
                unc_total += len(hdr) + len(lv_bytes) + len(vbody)
                comp_total += len(hdr) + len(lv_bytes) + len(vpaged)
                encodings = [0, 3, 8] if use_dict else sorted({3, enc})
            else:
                body = b""
                if optional[name]:
                    body += _rle_def_levels(
                        [0 if v is None else 1 for v in sl]
                    )
                if use_dict:
                    bw = max(1, (len(dvals) - 1).bit_length())
                    body += bytes([bw]) + _rle_hybrid_indices(
                        [dindex[v] for v in present], bw
                    )
                else:
                    body += _plain_encode(present, ptype)
                paged = _compress_page(body, codec)
                ph = _TWriter()
                ph.i32(1, 0)  # DATA_PAGE
                ph.i32(2, len(body))
                ph.i32(3, len(paged))
                ph.begin_struct(5)  # DataPageHeader
                ph.i32(1, len(sl))  # num_values incl. nulls
                ph.i32(2, 8 if use_dict else 0)  # RLE_DICTIONARY / PLAIN
                ph.i32(3, 3)  # def levels RLE
                ph.i32(4, 3)  # rep levels RLE
                ph.end_struct()
                hdr = ph.finish()
                offset = len(out)
                out += hdr + paged
                unc_total += len(hdr) + len(body)
                comp_total += len(hdr) + len(paged)
                encodings = [0, 3, 8] if use_dict else [0, 3]
            # Chunk statistics (parquet-format Statistics struct):
            # min_value/max_value use SIGNED order for INT64/DOUBLE and
            # UNSIGNED byte-wise order for BYTE_ARRAY — exactly Python's
            # int/float `<` and bytes `<`. NaN poisons float ordering, so
            # a DOUBLE chunk containing NaN carries no min/max (the
            # spec's prescription); null_count is always emitted.
            stats = None
            if present:
                import struct as _s

                if ptype in ("INT64", "INT32"):
                    fmt = "<q" if ptype == "INT64" else "<i"
                    vmin, vmax = min(present), max(present)
                    stats = (_s.pack(fmt, vmin), _s.pack(fmt, vmax))
                elif ptype in ("DOUBLE", "FLOAT"):
                    fmt = "<d" if ptype == "DOUBLE" else "<f"
                    if not any(v != v for v in present):
                        vmin, vmax = min(present), max(present)
                        stats = (_s.pack(fmt, vmin), _s.pack(fmt, vmax))
                elif ptype == "BOOLEAN":
                    stats = (
                        bytes([min(present)]),
                        bytes([max(present)]),
                    )
                else:
                    enc2 = [
                        v.encode("utf-8") if isinstance(v, str) else bytes(v)
                        for v in present
                    ]
                    stats = (min(enc2), max(enc2))
            chunk_meta.append(
                (
                    name,
                    {
                        "type": _PHYS[ptype],
                        "num_values": len(sl),
                        "unc": unc_total,
                        "comp": comp_total,
                        "offset": offset,
                        "dict_offset": dict_offset,
                        "encodings": encodings,
                        "nulls": len(sl) - len(present),
                        "stats": stats,
                    },
                )
            )
        row_groups.append((hi - start, chunk_meta))
        start = hi
        if n_rows == 0:
            break

    fm = _TWriter()
    fm.i32(1, 1)  # version
    # schema: root + leaves
    fm.list_header(2, 1 + len(names), _T_STRUCT)
    root = _TWriter()
    root.string(4, "schema")
    root.i32(5, len(names))
    fm.b += root.finish()
    for name in names:
        ptype, _ = columns[name]
        el = _TWriter()
        el.i32(1, _PHYS[ptype])
        el.i32(3, 1 if optional[name] else 0)
        el.string(4, name)
        if ptype == "BYTE_ARRAY":
            el.i32(6, 0)  # ConvertedType UTF8
        fm.b += el.finish()
    fm.i64(3, n_rows)
    fm.list_header(4, len(row_groups), _T_STRUCT)
    for rg_rows, chunk_meta in row_groups:
        rg = _TWriter()
        rg.list_header(1, len(chunk_meta), _T_STRUCT)
        total = 0
        for name, m in chunk_meta:
            cc = _TWriter()
            cc.i64(2, m["offset"])  # file_offset
            cc.begin_struct(3)  # ColumnMetaData
            cc.i32(1, m["type"])
            cc.i32_list(2, m["encodings"])  # PLAIN, RLE[, RLE_DICT]
            cc.string_list(3, [name])
            cc.i32(4, _CODEC_IDS[codec])
            cc.i64(5, m["num_values"])
            cc.i64(6, m["unc"])
            cc.i64(7, m["comp"])
            cc.i64(9, m["offset"])  # data_page_offset
            if m["dict_offset"] is not None:
                cc.i64(11, m["dict_offset"])
            cc.begin_struct(12)  # Statistics
            cc.i64(3, m["nulls"])  # null_count
            if m["stats"] is not None:
                lo_b, hi_b = m["stats"]
                cc.binary(5, hi_b)  # max_value
                cc.binary(6, lo_b)  # min_value
            cc.end_struct()
            cc.end_struct()
            rg.b += cc.finish()
            total += m["comp"]
        rg.i64(2, total)
        rg.i64(3, rg_rows)
        fm.b += rg.finish()
    fm.string(6, created_by)
    # column_orders: TYPE_ORDER (TypeDefinedOrder) per leaf — readers
    # (pyarrow included) only trust min_value/max_value when the file
    # declares the defined sort order; without field 7 the statistics
    # above would be parsed but ignored.
    fm.list_header(7, len(names), _T_STRUCT)
    for _ in names:
        co = _TWriter()
        co.begin_struct(1)  # ColumnOrder union: TYPE_ORDER {}
        co.end_struct()
        fm.b += co.finish()
    footer = fm.finish()
    out += footer
    out += len(footer).to_bytes(4, "little")
    out += b"PAR1"
    return bytes(out)


def handwritten_parquet_stats(docs, page_version: int = 1):
    """Per doc: the words table serialized by the zero-dep WRITER
    (codec rotates UNCOMPRESSED / SNAPPY / GZIP / ZSTD / LZ4_RAW on
    doc_id%5 — the SNAPPY, ZSTD and LZ4 pages compressed by the
    engine's own encoders — multi row group on id%3, dictionary
    pages on bit 2 of the id), then read back THREE ways
    in-op — pyarrow (independent parquet implementation), the
    zero-dep reader, and the null mask round-tripped — before the
    word-formula census is emitted. A single malformed byte anywhere
    in the thrift/page/footer chain breaks one of the readers."""
    import hashlib

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_values", T.LongType()),
            T.StructField("sum_idx", T.LongType()),
            T.StructField("word_bytes", T.LongType()),
            T.StructField("words_md5", T.StringType()),
        ]
    )

    import io

    import pyarrow.parquet as pq
    from dynamodb_to_datalake_project_spark.llm.parquetmeta import (
        read_parquet_column_full,
    )

    def row(did, text):
        words = [w for w in text.split(" ") if w]
        use_dict = (did >> 2) % 2 == 1
        payload = write_parquet(
            {
                "idx": ("INT64", list(range(len(words)))),
                "word": ("BYTE_ARRAY", words),
            },
            codec=(
                "UNCOMPRESSED",
                "SNAPPY",
                "GZIP",
                "ZSTD",
                "LZ4_RAW",
            )[did % 5],
            row_group_size=max(1, -(-len(words) // (did % 3 + 1))),
            dictionary=use_dict,
            page_version=page_version,
        )
        pf = pq.ParquetFile(io.BytesIO(payload))
        t = pf.read()
        assert t.column("idx").to_pylist() == list(
            range(len(words))
        )
        assert t.column("word").to_pylist() == words
        if words:  # pyarrow trusts the hand-written stats
            st = pf.metadata.row_group(0).column(0).statistics
            assert st.has_min_max and st.min == 0
            assert st.null_count == 0
        if words and page_version == 2 and not use_dict:
            encs = pf.metadata.row_group(0).column(0).encodings
            assert "DELTA_BINARY_PACKED" in encs, encs
        assert read_parquet_column_full(payload, "idx") == list(
            range(len(words))
        )
        joined = " ".join(words).encode()
        yield (
            did,
            len(words),
            len(words) * (len(words) - 1) // 2,
            sum(len(w.encode()) for w in words),
            hashlib.md5(joined).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table
    from dynamodb_to_datalake_project_spark.llm.parquetmeta import (
        _SCAN_ORACLE,
    )

    @query("parquet_v2_handwrite_roundtrip", oracle=_SCAN_ORACLE)
    def q_parquet_v2_handwrite_roundtrip(spark, sf_dir):
        """Zero-dep parquet WRITE, DataPageV2 edition (round-9
        verdict item 6): levels uncompressed ahead of the value
        section, DELTA_BINARY_PACKED miniblocks for idx,
        DELTA_LENGTH_BYTE_ARRAY for words (RLE_DICTIONARY on the
        dictionary rotation), same codec x row-group x dictionary
        matrix as the v1 entry — pyarrow and the zero-dep reader
        both recover every value in-op, and pyarrow's metadata must
        show the delta encodings actually in use."""
        docs = load_table(spark, sf_dir, "documents")
        return handwritten_parquet_stats(docs, page_version=2)

    @query("parquet_handwrite_roundtrip", oracle=_SCAN_ORACLE)
    def q_parquet_handwrite_roundtrip(spark, sf_dir):
        """Zero-dep parquet WRITE: thrift compact footers, PLAIN v1
        pages, multi row group, per-chunk min/max/null statistics,
        codec rotating UNCOMPRESSED/SNAPPY/GZIP/ZSTD/LZ4_RAW on doc_id%5
        (SNAPPY, ZSTD and LZ4 by the engine's own encoders), dictionary
        pages + RLE_DICTIONARY indices on bit 2 of the id — and
        pyarrow (an independent implementation) plus the zero-dep
        reader both recover every value in-op. The write direction
        completes the parquet story the way avro/tiff/npy already
        are: both directions, no library."""
        docs = load_table(spark, sf_dir, "documents")
        return handwritten_parquet_stats(docs)


_register()
