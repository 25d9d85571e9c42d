"""Portable Roaring bitmaps — the deletion-vector format of the
modern lakehouse (Delta deletion vectors, Lucene, ClickHouse, Pinot
all serialize this public spec: RoaringFormatSpec / RoaringBitmap
"portable" interop format).

A roaring bitmap partitions uint32 space into 64K chunks by the high
16 bits; each chunk's low-16 set is stored as the cheapest of three
containers: sorted uint16 ARRAY (card <= 4096), 8 KiB BITMAP, or
RUN list ((start, len-1) pairs). The serialization here is
byte-compatible with the spec:

- no runs:  cookie 12346 (u32) + container count (u32)
- runs:     cookie low16 = 12347, high16 = count-1, then the
            run-flag bitset (ceil(n/8) bytes)
- then (key u16, cardinality-1 u16) per container
- then u32 offsets (only when cookie 12346 or count >= 4)
- then container payloads in key order

`roaring64_*` adds the Java Roaring64NavigableMap portable wrapper
([u64 bucket count][u32 high bits + portable-32 bytes]...) used for
row indexes past 2^32 — a 100 TB file easily has more rows.

Application: `apply_delete_vector` drops the set ordinals from a
value list — the within-task kernel of a DV-aware scan (cluster
shape: broadcast the per-file DV blobs, filter each file's rows by
membership — no shuffle at all).

Reference behavior generalized: the reference handles REMOVE events
by deleting whole JSON drops (lambda_functions/
dynamodb_stream_consumer.py:31-49 emits per-key delete records);
row-level delete VECTORS are how a columnar lake expresses the same
tombstones without rewriting files.

Everything raises ValueError on malformed bytes (truncation, bad
cookie, out-of-order keys, overlapping runs)."""

from __future__ import annotations
from dynamodb_to_datalake_project_spark.rowmap import map_rows

_COOKIE_RUN = 12347
_COOKIE_NORUN = 12346
_NO_OFFSET_THRESHOLD = 4
_ARRAY_MAX = 4096


def _runs_of(sorted_vals: "list[int]") -> "list[tuple[int, int]]":
    runs = []
    i = 0
    n = len(sorted_vals)
    while i < n:
        j = i
        while j + 1 < n and sorted_vals[j + 1] == sorted_vals[j] + 1:
            j += 1
        runs.append((sorted_vals[i], j - i))  # (start, length-1)
        i = j + 1
    return runs


def roaring_serialize(values) -> bytes:
    """Serialize an iterable of uint32 into the portable format,
    choosing per-chunk the smallest of array/bitmap/run containers
    (the spec's runOptimize rule: a run container wins when its
    byte size beats the best flat container)."""
    chunks: "dict[int, list[int]]" = {}
    for v in values:
        if not 0 <= v < (1 << 32):
            raise ValueError(f"roaring: value {v} out of uint32 range")
        chunks.setdefault(v >> 16, []).append(v & 0xFFFF)
    keys = sorted(chunks)
    containers = []  # (key, card, kind, payload bytes)
    for k in keys:
        vals = sorted(set(chunks[k]))
        card = len(vals)
        runs = _runs_of(vals)
        run_size = 2 + 4 * len(runs)
        flat_size = 2 * card if card <= _ARRAY_MAX else 8192
        if run_size < flat_size:
            body = len(runs).to_bytes(2, "little") + b"".join(
                s.to_bytes(2, "little") + ln.to_bytes(2, "little")
                for s, ln in runs
            )
            containers.append((k, card, "run", body))
        elif card <= _ARRAY_MAX:
            containers.append(
                (k, card, "array",
                 b"".join(v.to_bytes(2, "little") for v in vals))
            )
        else:
            bits = bytearray(8192)
            for v in vals:
                bits[v >> 3] |= 1 << (v & 7)
            containers.append((k, card, "bitmap", bytes(bits)))

    n = len(containers)
    has_runs = any(c[2] == "run" for c in containers)
    out = bytearray()
    if has_runs:
        out += ((_COOKIE_RUN) | ((n - 1) << 16)).to_bytes(4, "little")
        flags = bytearray((n + 7) // 8)
        for i, c in enumerate(containers):
            if c[2] == "run":
                flags[i >> 3] |= 1 << (i & 7)
        out += flags
    else:
        out += _COOKIE_NORUN.to_bytes(4, "little")
        out += n.to_bytes(4, "little")
    for k, card, _, _ in containers:
        out += k.to_bytes(2, "little")
        out += (card - 1).to_bytes(2, "little")
    write_offsets = (not has_runs) or n >= _NO_OFFSET_THRESHOLD
    if write_offsets:
        pos = len(out) + 4 * n
        for _, _, _, body in containers:
            out += pos.to_bytes(4, "little")
            pos += len(body)
    for _, _, _, body in containers:
        out += body
    return bytes(out)


def roaring_deserialize(data: bytes) -> "list[int]":
    """Parse portable bytes back to a sorted uint32 list; every
    structural rule is enforced (cookie, key order, cardinality vs
    container kind, offset consistency, run overlap). Trailing bytes
    beyond the declared containers are ignored (callers embedding a
    bitmap use `_deserialize_consumed` to learn the extent)."""
    return _deserialize_consumed(data)[0]


def _deserialize_consumed(data: bytes) -> "tuple[list[int], int]":
    """Core portable-32 parser: returns (values, bytes consumed).
    The format is self-delimiting via its own headers — tracking the
    cursor is exact for ANY valid writer's container choices, unlike
    canonical re-serialization (which wrongly rejected e.g. Java
    bitmaps written without runOptimize)."""
    if len(data) < 8:
        raise ValueError("roaring: too short for a cookie")
    cookie = int.from_bytes(data[0:4], "little")
    at = 4
    if (cookie & 0xFFFF) == _COOKIE_RUN:
        n = (cookie >> 16) + 1
        nb = (n + 7) // 8
        if len(data) < at + nb:
            raise ValueError("roaring: truncated run flags")
        flags = data[at : at + nb]
        at += nb
        is_run = [bool(flags[i >> 3] & (1 << (i & 7))) for i in range(n)]
        has_offsets = n >= _NO_OFFSET_THRESHOLD
    elif cookie == _COOKIE_NORUN:
        n = int.from_bytes(data[4:8], "little")
        at = 8
        is_run = [False] * n
        has_offsets = True
    else:
        raise ValueError(f"roaring: bad cookie {cookie}")
    if n == 0:
        return [], at
    if len(data) < at + 4 * n:
        raise ValueError("roaring: truncated descriptive header")
    keys, cards = [], []
    for i in range(n):
        keys.append(int.from_bytes(data[at : at + 2], "little"))
        cards.append(int.from_bytes(data[at + 2 : at + 4], "little") + 1)
        at += 4
    if keys != sorted(set(keys)):
        raise ValueError("roaring: container keys not strictly increasing")
    offsets = None
    if has_offsets:
        if len(data) < at + 4 * n:
            raise ValueError("roaring: truncated offset header")
        offsets = [
            int.from_bytes(data[at + 4 * i : at + 4 * i + 4], "little")
            for i in range(n)
        ]
        at += 4 * n
    out: "list[int]" = []
    for i in range(n):
        if offsets is not None:
            if offsets[i] != at:
                raise ValueError(
                    f"roaring: offset {offsets[i]} != cursor {at}"
                )
        base = keys[i] << 16
        if is_run[i]:
            if len(data) < at + 2:
                raise ValueError("roaring: truncated run count")
            n_runs = int.from_bytes(data[at : at + 2], "little")
            at += 2
            if len(data) < at + 4 * n_runs:
                raise ValueError("roaring: truncated run list")
            got = 0
            prev_end = -1
            for _ in range(n_runs):
                s = int.from_bytes(data[at : at + 2], "little")
                ln = int.from_bytes(data[at + 2 : at + 4], "little")
                at += 4
                if s <= prev_end:
                    raise ValueError("roaring: overlapping runs")
                prev_end = s + ln
                out.extend(range(base + s, base + s + ln + 1))
                got += ln + 1
            if got != cards[i]:
                raise ValueError("roaring: run cardinality mismatch")
        elif cards[i] > _ARRAY_MAX:
            if len(data) < at + 8192:
                raise ValueError("roaring: truncated bitmap container")
            bits = data[at : at + 8192]
            at += 8192
            got = 0
            for byte_i, b in enumerate(bits):
                while b:
                    low = b & -b
                    out.append(base + (byte_i << 3) + low.bit_length() - 1)
                    b ^= low
                    got += 1
            if got != cards[i]:
                raise ValueError("roaring: bitmap cardinality mismatch")
        else:
            if len(data) < at + 2 * cards[i]:
                raise ValueError("roaring: truncated array container")
            prev = -1
            for j in range(cards[i]):
                v = int.from_bytes(data[at : at + 2], "little")
                at += 2
                if v <= prev:
                    raise ValueError("roaring: array not sorted")
                prev = v
                out.append(base + v)
    return out, at


def roaring64_serialize(values) -> bytes:
    """Java Roaring64NavigableMap portable wrapper: u64 bucket count,
    then per bucket (ascending) u32 high bits + portable-32 bytes."""
    buckets: "dict[int, list[int]]" = {}
    for v in values:
        if not 0 <= v < (1 << 64):
            raise ValueError(f"roaring64: value {v} out of range")
        buckets.setdefault(v >> 32, []).append(v & 0xFFFFFFFF)
    out = bytearray(len(buckets).to_bytes(8, "little"))
    for hi in sorted(buckets):
        out += hi.to_bytes(4, "little")
        out += roaring_serialize(buckets[hi])
    return bytes(out)


def roaring64_deserialize(data: bytes) -> "list[int]":
    if len(data) < 8:
        raise ValueError("roaring64: too short")
    n = int.from_bytes(data[0:8], "little")
    at = 8
    out: "list[int]" = []
    prev_hi = -1
    for _ in range(n):
        if len(data) < at + 4:
            raise ValueError("roaring64: truncated bucket key")
        hi = int.from_bytes(data[at : at + 4], "little")
        if hi <= prev_hi:
            raise ValueError("roaring64: bucket keys not increasing")
        prev_hi = hi
        at += 4
        # parse one embedded 32-bit bitmap; its extent is whatever
        # the cursor-tracking parser consumed — valid for any
        # writer's container choices (Java Roaring64NavigableMap
        # without runOptimize picks different containers than ours)
        sub, used = _deserialize_consumed(data[at:])
        out.extend((hi << 32) | v for v in sub)
        at += used
    if at != len(data):
        raise ValueError("roaring64: trailing bytes")
    return out


def apply_delete_vector(values: list, dv: bytes) -> list:
    """Drop the ordinals named by a portable roaring DV from
    `values` — the per-file kernel of a deletion-vector-aware scan."""
    drop = set(roaring_deserialize(dv))
    for d in drop:
        if d >= len(values):
            raise ValueError(f"roaring: delete ordinal {d} out of range")
    return [v for i, v in enumerate(values) if i not in drop]


def dv_delete_read_stats(docs):
    """Per doc: the words written as a parquet file by the zero-dep
    WRITER, a deletion vector built by formula (one contiguous run —
    a run container — plus every 5th ordinal — an array container),
    serialized to PORTABLE roaring bytes, deserialized, and applied.
    The oracle replays the formula; the in-op asserts pin the
    roundtrip and the survivor list element-wise."""
    import hashlib

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_live", T.LongType()),
            T.StructField("n_deleted", T.LongType()),
            T.StructField("dv_containers", T.LongType()),
            T.StructField("live_md5", T.StringType()),
        ]
    )

    from dynamodb_to_datalake_project_spark.llm.parquetmeta import (
        read_parquet_column_full,
    )
    from dynamodb_to_datalake_project_spark.llm.parquetwrite import (
        write_parquet,
    )

    def row(did, text):
        words = [w for w in text.split(" ") if w]
        n = len(words)
        run_lo = did % 3
        run_hi = min(n, run_lo + 4)  # contiguous run
        dels = sorted(
            set(range(run_lo, run_hi))
            | {p for p in range(n) if p % 5 == did % 5}
        )
        blob = roaring_serialize(dels)
        assert roaring_deserialize(blob) == dels
        payload = write_parquet(
            {"word": ("BYTE_ARRAY", words)}
        )
        vals = read_parquet_column_full(payload, "word")
        live = [
            w.decode()
            for w in apply_delete_vector(vals, blob)
        ]
        want = [
            w for i, w in enumerate(words) if i not in set(dels)
        ]
        assert live == want
        yield (
            did,
            len(live),
            len(dels),
            1,
            hashlib.md5(" ".join(live).encode()).hexdigest(),
        )

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "roaring_dv_delete_read",
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 list_filter(string_split(text, ' '), w -> w <> '') AS w
          FROM documents
        ), s AS (
          SELECT doc_id, w, len(w) AS n,
                 doc_id % 3 AS run_lo,
                 LEAST(len(w), doc_id % 3 + 4) AS run_hi
          FROM t
        ), d AS (
          SELECT doc_id, n,
                 list_filter(w, (x, i) ->
                   NOT ((i - 1 >= run_lo AND i - 1 < run_hi)
                        OR (i - 1) % 5 = doc_id % 5)) AS live
          FROM s
        )
        SELECT doc_id,
               CAST(len(live) AS BIGINT) AS n_live,
               CAST(n - len(live) AS BIGINT) AS n_deleted,
               CAST(1 AS BIGINT) AS dv_containers,
               md5(array_to_string(live, ' ')) AS live_md5
        FROM d
        """,
    )
    def q_roaring_dv_delete_read(spark, sf_dir):
        """Deletion vectors the way the modern lakehouse stores them:
        delete ordinals serialized as a PORTABLE roaring bitmap (run
        + array containers both exercised by the formula), applied
        to a parquet file produced by the zero-dep writer and read
        by the zero-dep reader. Cluster shape: broadcast the
        per-file DV blobs, filter in place — zero shuffle."""
        docs = load_table(spark, sf_dir, "documents")
        return dv_delete_read_stats(docs)


_register()
