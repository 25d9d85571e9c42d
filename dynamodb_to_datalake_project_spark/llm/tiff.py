"""Baseline TIFF 6.0 codec — scanned-document corpora (books, forms,
archival imagery) overwhelmingly ship as TIFF, which makes it the one
still-image container the curation pipeline met only inside Exif
metadata until round 9. Hand-rolled from the public TIFF 6.0 spec in
the BMP/PNG module style (`llm.multimodal`):

- container: II/MM byte order, magic 42, IFD walk with inline vs
  offset values and bounds checks (the same walk the Exif leg does,
  here over standalone files);
- pixel path: 8-bit RGB chunky strips (RowsPerStrip grouping,
  StripOffsets/StripByteCounts arrays), uncompressed (Compression=1)
  and PackBits (Compression=32773, TIFF 6.0 §9 — the Apple RLE:
  literal runs 0..127 → n+1 bytes, replicate runs 129..255 → 257-n
  copies, 128 a no-op), both directions;
- honest raises: tiles, planar layout, palettes, LZW/CCITT/JPEG-in-
  TIFF raise NotImplementedError; malformed framing (bad magic,
  entries or strips overrunning the payload, PackBits size drift)
  raises ValueError.

Encode reuses `_tiff_ifd` from the Exif leg — one IFD serializer for
the whole engine, so surgery fixes can't drift between copies.
"""

from __future__ import annotations

import struct

from dynamodb_to_datalake_project_spark.llm.multimodal import _tiff_ifd
from dynamodb_to_datalake_project_spark.rowmap import map_rows

#: tag numbers used (TIFF 6.0 §8)
_W, _H, _BITS, _COMP, _PHOTO = 256, 257, 258, 259, 262
_STRIP_OFF, _SPP, _ROWS_PER_STRIP, _STRIP_CNT = 273, 277, 278, 279
_PLANAR, _TILE_W, _TILE_OFF = 284, 322, 324


def packbits_encode(data: bytes) -> bytes:
    """TIFF 6.0 §9 PackBits: greedy replicate runs (>= 2 same bytes,
    up to 128) between literal stretches (up to 128, broken early when
    a 3-byte run starts so the run gets the cheaper encoding)."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        run = 1
        while i + run < n and data[i + run] == data[i] and run < 128:
            run += 1
        if run >= 2:
            out.append(257 - run)
            out.append(data[i])
            i += run
            continue
        j = i + 1
        while j < n and j - i < 128:
            if j + 2 < n and data[j] == data[j + 1] == data[j + 2]:
                break
            j += 1
        out.append(j - i - 1)
        out += data[i:j]
        i = j
    return bytes(out)


def packbits_decode(data: bytes, expected: int) -> bytes:
    """Inverse walk; the caller supplies the expected strip size
    (rows * row bytes — TIFF strips decode to exact sizes), and any
    drift or truncation raises ValueError."""
    out = bytearray()
    i, n = 0, len(data)
    while i < n:
        b = data[i]
        i += 1
        if b < 128:
            cnt = b + 1
            if i + cnt > n:
                raise ValueError("packbits: truncated literal run")
            out += data[i : i + cnt]
            i += cnt
        elif b == 128:
            continue  # spec: no-op, reserved
        else:
            cnt = 257 - b
            if i >= n:
                raise ValueError("packbits: truncated replicate run")
            out += bytes([data[i]]) * cnt
            i += 1
    if len(out) != expected:
        raise ValueError(
            f"packbits: decoded {len(out)} bytes, strip expects {expected}"
        )
    return bytes(out)


def encode_tiff_array(
    px: "object",
    width: int,
    height: int,
    compression: str = "none",
    rows_per_strip: int = 4,
    big_endian: bool = False,
) -> bytes:
    """Encode an (h, w, 3) uint8 RGB array as a real baseline TIFF:
    strip data first (word-aligned per strip), IFD last, either byte
    order. `compression` is 'none' or 'packbits'."""
    import numpy as np

    if compression not in ("none", "packbits"):
        raise ValueError(f"tiff: unknown compression {compression!r}")
    e = ">" if big_endian else "<"
    arr = np.asarray(px, dtype=np.uint8).reshape(height, width, 3)
    rows = arr.reshape(height, width * 3)
    strips = []
    for r0 in range(0, height, rows_per_strip):
        raw = rows[r0 : r0 + rows_per_strip].tobytes()
        strips.append(
            packbits_encode(raw) if compression == "packbits" else raw
        )
    data = bytearray()
    offsets = []
    for s in strips:
        if (8 + len(data)) % 2:  # word-align each strip
            data += b"\x00"
        offsets.append(8 + len(data))
        data += s
    ifd_at = 8 + len(data)
    if ifd_at % 2:
        data += b"\x00"
        ifd_at += 1

    def shorts(vals):
        return struct.pack(e + f"{len(vals)}H", *vals)

    def longs(vals):
        return struct.pack(e + f"{len(vals)}I", *vals)

    entries = [
        (_W, 4, 1, longs([width])),
        (_H, 4, 1, longs([height])),
        (_BITS, 3, 3, shorts([8, 8, 8])),
        (_COMP, 3, 1, shorts([1 if compression == "none" else 32773])),
        (_PHOTO, 3, 1, shorts([2])),  # RGB
        (_STRIP_OFF, 4, len(strips), longs(offsets)),
        (_SPP, 3, 1, shorts([3])),
        (_ROWS_PER_STRIP, 4, 1, longs([rows_per_strip])),
        (_STRIP_CNT, 4, len(strips), longs([len(s) for s in strips])),
    ]
    hdr = (b"MM\x00\x2a" if big_endian else b"II\x2a\x00") + struct.pack(
        e + "I", ifd_at
    )
    return hdr + bytes(data) + _tiff_ifd(entries, ifd_at, e)


def _read_ifd(payload: bytes, at: int, e: str) -> "dict[int, list]":
    """IFD0 → {tag: [values]} for SHORT/LONG/BYTE tags (the pixel-path
    set); other types are skipped per TIFF 6.0 forward-compat. Bounds
    violations raise ValueError."""
    if at + 2 > len(payload):
        raise ValueError("tiff: IFD offset overruns the payload")
    (n,) = struct.unpack_from(e + "H", payload, at)
    if at + 2 + 12 * n + 4 > len(payload):
        raise ValueError("tiff: IFD table overruns the payload")
    out: "dict[int, list]" = {}
    widths = {1: 1, 3: 2, 4: 4}
    fmts = {1: "B", 3: "H", 4: "I"}
    for i in range(n):
        ent = at + 2 + 12 * i
        tag, typ, count = struct.unpack_from(e + "HHI", payload, ent)
        if typ not in widths:
            continue
        size = widths[typ] * count
        if size <= 4:
            off = ent + 8
        else:
            (off,) = struct.unpack_from(e + "I", payload, ent + 8)
        if off + size > len(payload):
            raise ValueError(f"tiff: tag 0x{tag:04x} overruns the payload")
        out[tag] = list(
            struct.unpack_from(e + f"{count}{fmts[typ]}", payload, off)
        )
    return out


def decode_tiff_array(payload: bytes) -> dict:
    """Parse a baseline TIFF back to a row-major (h, w, 3) uint8 RGB
    array plus strip census. Honest subset: 8-bit RGB chunky strips,
    Compression 1 or 32773; tiles/planar/other codecs raise
    NotImplementedError, malformed framing raises ValueError."""
    import numpy as np

    if len(payload) < 8:
        raise ValueError("tiff: truncated header")
    if payload[:2] == b"II":
        e = "<"
    elif payload[:2] == b"MM":
        e = ">"
    else:
        raise ValueError(f"tiff: bad byte-order mark {payload[:2]!r}")
    if struct.unpack_from(e + "H", payload, 2)[0] != 42:
        raise ValueError("tiff: bad magic")
    (ifd_at,) = struct.unpack_from(e + "I", payload, 4)
    tags = _read_ifd(payload, ifd_at, e)

    if _TILE_W in tags or _TILE_OFF in tags:
        raise NotImplementedError("tiff: tiled layout not implemented")
    if tags.get(_PLANAR, [1]) != [1]:
        raise NotImplementedError("tiff: planar layout not implemented")
    comp = tags.get(_COMP, [1])[0]
    if comp not in (1, 32773):
        raise NotImplementedError(
            f"tiff: compression {comp} not implemented "
            "(uncompressed + PackBits only)"
        )
    if tags.get(_BITS, [8, 8, 8]) != [8, 8, 8] or tags.get(_SPP, [3]) != [3]:
        raise NotImplementedError("tiff: only 8-bit 3-sample RGB implemented")
    if tags.get(_PHOTO, [2]) != [2]:
        raise NotImplementedError("tiff: only PhotometricInterpretation=2")
    for req in (_W, _H, _STRIP_OFF, _STRIP_CNT):
        if req not in tags:
            raise ValueError(f"tiff: required tag {req} missing")
    width, height = tags[_W][0], tags[_H][0]
    rps = tags.get(_ROWS_PER_STRIP, [height])[0]
    offs, cnts = tags[_STRIP_OFF], tags[_STRIP_CNT]
    if len(offs) != len(cnts):
        raise ValueError("tiff: StripOffsets/StripByteCounts length drift")
    if len(offs) != -(-height // rps):
        raise ValueError("tiff: strip count disagrees with RowsPerStrip")

    row_bytes = width * 3
    body = bytearray()
    for k, (off, cnt) in enumerate(zip(offs, cnts)):
        if off + cnt > len(payload):
            raise ValueError(f"tiff: strip {k} overruns the payload")
        rows_here = min(rps, height - k * rps)
        raw = payload[off : off + cnt]
        if comp == 32773:
            raw = packbits_decode(raw, rows_here * row_bytes)
        elif len(raw) != rows_here * row_bytes:
            raise ValueError(f"tiff: strip {k} byte count drift")
        body += raw
    px = np.frombuffer(bytes(body), dtype=np.uint8).reshape(
        height, width, 3
    )
    return {
        "width": width,
        "height": height,
        "px": px,
        "n_strips": len(offs),
        "compression": comp,
        "byte_order": "MM" if e == ">" else "II",
    }


def tiff_roundtrip_stats(docs):
    """Per doc: the deterministic pixel field (same formula as the BMP
    leg) becomes a REAL TIFF — PackBits on even ids, uncompressed on
    odd, big-endian on ids % 3 == 0, 4-row strips — decoded back with
    the strict walk and proven equal to the source array in-op; the
    emitted census is recomputed by the SQL oracle."""

    import numpy as _np
    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("width", T.LongType()),
            T.StructField("height", T.LongType()),
            T.StructField("n_pixels", T.LongType()),
            T.StructField("sum_rgb", T.LongType()),
            T.StructField("peak", T.LongType()),
            T.StructField("n_strips", T.LongType()),
            T.StructField("compression", T.LongType()),
        ]
    )

    def row(did, n_chars):
        h = max(0, min(int(n_chars or 0), 126)) // 7 + 1
        w = 7
        idx = _np.arange(w * h * 3, dtype=_np.int64)
        vals = (
            did * 131 + (idx // 3) * 7919 + (idx % 3) * 104729
        ) % 256
        arr = vals.astype(_np.uint8).reshape(h, w, 3)
        payload = encode_tiff_array(
            arr, w, h,
            compression="packbits" if did % 2 == 0 else "none",
            rows_per_strip=4,
            big_endian=did % 3 == 0,
        )
        d = decode_tiff_array(payload)
        assert _np.array_equal(d["px"], arr)  # lossless roundtrip
        yield (
            did,
            d["width"],
            d["height"],
            d["width"] * d["height"],
            int(d["px"].astype(_np.int64).sum()),
            int(d["px"].max()),
            d["n_strips"],
            d["compression"],
        )

    return map_rows(docs.select("doc_id", "n_chars"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "multimodal_tiff_stats",
        oracle="""
        WITH t AS (
          SELECT doc_id,
                 greatest(0, least(coalesce(n_chars, 0), 126)) // 7 + 1 AS h
          FROM documents
        ), px AS (
          SELECT doc_id, h,
                 list_transform(range(0, 7 * h * 3),
                   i -> (doc_id * 131 + (i // 3) * 7919
                         + (i % 3) * 104729) % 256) AS v
          FROM t
        )
        SELECT doc_id,
               CAST(7 AS BIGINT) AS width,
               CAST(h AS BIGINT) AS height,
               CAST(7 * h AS BIGINT) AS n_pixels,
               CAST(list_sum(v) AS BIGINT) AS sum_rgb,
               CAST(list_max(v) AS BIGINT) AS peak,
               CAST((h + 3) // 4 AS BIGINT) AS n_strips,
               CAST(CASE WHEN doc_id % 2 = 0 THEN 32773 ELSE 1 END
                 AS BIGINT) AS compression
        FROM px
        """,
    )
    def q_multimodal_tiff_stats(spark, sf_dir):
        """TIFF encode → decode roundtrip over the documents table
        (round-8 verdict item 7 — scanned-document corpora): PackBits
        strips on even ids, uncompressed on odd, both byte orders,
        multi-strip layout. The oracle recomputes dimensions, exact
        pixel sums, peak, strip count, and the compression census
        from the pixel formula; the in-op assert proves the decoded
        array equals the source bit-for-bit."""
        docs = load_table(spark, sf_dir, "documents")
        return tiff_roundtrip_stats(docs)


_register()
