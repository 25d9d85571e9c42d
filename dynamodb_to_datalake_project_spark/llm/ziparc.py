"""ZIP archive demux — the other shard container a training-data
ingest meets in the wild (dataset releases, scraped uploads, document
dumps ship as .zip at least as often as .tar).

Hand-rolled against the public PKWARE APPNOTE layout: local file
headers, central directory, end-of-central-directory record — with
the validation a 100 TB ingest needs to QUARANTINE corrupt uploads:
the central directory is cross-checked against every local header
(name, method, sizes, CRC), member data is bounds-checked, deflate
members are inflated with raw zlib and the CRC-32 and declared sizes
verified against the actual bytes. Honest-subset boundaries raise
`NotImplementedError` (zip64, encryption, streamed data descriptors,
compression methods other than stored/deflate); corruption raises
`ValueError` — the same contract as `parse_tar`/`parse_warc`.

Spark-side shape: archives are opaque binary cells; the walk runs in
Arrow `map_rows` batches, map-only — shard-count parallelism, no
shuffle, like the WebDataset tar path it complements.
"""

from __future__ import annotations

import struct
import zlib

from dynamodb_to_datalake_project_spark.rowmap import map_rows

_LOCAL_SIG = b"PK\x03\x04"
_CDIR_SIG = b"PK\x01\x02"
_EOCD_SIG = b"PK\x05\x06"

#: methods this demux decodes: 0 = stored, 8 = deflate
_METHODS = (0, 8)


def encode_zip(
    members: "list[tuple[str, bytes]]", deflate: "set[str] | None" = None
) -> bytes:
    """Build a conformant single-disk ZIP: one local header + data per
    member (raw-deflate when the name is in `deflate`, stored
    otherwise), then the central directory and EOCD with exact sizes
    and offsets. CRC-32s are real."""
    deflate = deflate or set()
    out = bytearray()
    central = bytearray()
    n = 0
    for name, data in members:
        nameb = name.encode("utf-8")
        crc = zlib.crc32(data)
        if name in deflate:
            method = 8
            comp = zlib.compressobj(9, zlib.DEFLATED, -15)
            cdata = comp.compress(data) + comp.flush()
        else:
            method = 0
            cdata = data
        off = len(out)
        local = _LOCAL_SIG + struct.pack(
            "<HHHHHIIIHH", 20, 0, method, 0, 0x21,
            crc, len(cdata), len(data), len(nameb), 0,
        )
        out += local + nameb + cdata
        central += _CDIR_SIG + struct.pack(
            "<HHHHHHIIIHHHHHII", 20, 20, 0, method, 0, 0x21,
            crc, len(cdata), len(data), len(nameb), 0, 0, 0, 0, 0, off,
        ) + nameb
        n += 1
    cd_off, cd_size = len(out), len(central)
    out += central
    out += _EOCD_SIG + struct.pack(
        "<HHHHIIH", 0, 0, n, n, cd_size, cd_off, 0
    )
    return bytes(out)


def parse_zip(payload: bytes) -> dict:
    """REAL ZIP walk driven from the END (the only spec-correct way:
    the EOCD's central-directory offset is authoritative; a local-
    header scan can be fooled by embedded archives). Steps:

    1. find the EOCD (scan back ≤ 64 KiB + 22 for the sig, honoring a
       trailing comment), reject multi-disk archives;
    2. walk the central directory: exact entry stepping over
       name/extra/comment, count cross-checked against the EOCD;
    3. for each entry, validate the LOCAL header it points at — name
       and method must match the central copy;
    4. slice the member data by the central sizes, inflate deflate
       members (raw zlib), and verify CRC-32 and the declared
       uncompressed size against the actual bytes.

    Returns {"members": [(name, bytes)], "n_stored", "n_deflated",
    "comment"}. ValueError on corruption, NotImplementedError on
    zip64 / encryption / data descriptors / unknown methods."""
    n = len(payload)
    scan_from = max(0, n - 22 - 65536)
    eocd_at = payload.rfind(_EOCD_SIG, scan_from)
    if eocd_at < 0 or eocd_at + 22 > n:
        raise ValueError("zip: end-of-central-directory record not found")
    (disk, cd_disk, n_here, n_total, cd_size, cd_off, comment_len) = (
        struct.unpack_from("<HHHHIIH", payload, eocd_at + 4)
    )
    if eocd_at + 22 + comment_len != n:
        raise ValueError("zip: EOCD comment length does not reach the end")
    comment = payload[eocd_at + 22 :].decode("utf-8", "replace")
    if disk or cd_disk:
        raise NotImplementedError("zip: multi-disk archives not implemented")
    if n_here == 0xFFFF or cd_off == 0xFFFFFFFF:
        raise NotImplementedError("zip: zip64 not implemented")
    if n_here != n_total:
        raise ValueError("zip: EOCD entry counts disagree")
    if cd_off + cd_size > eocd_at:
        raise ValueError("zip: central directory overruns the EOCD")

    members: "list[tuple[str, bytes]]" = []
    n_stored = n_deflated = 0
    at = cd_off
    cd_end = cd_off + cd_size
    for _ in range(n_total):
        if at + 46 > cd_end or payload[at : at + 4] != _CDIR_SIG:
            raise ValueError("zip: bad central directory entry")
        (_vmade, _vneed, flags, method, _t, _d, crc, comp_size,
         uncomp_size, name_len, extra_len, comment_len2, _dstart,
         _iattr, _eattr, local_off) = struct.unpack_from(
            "<HHHHHHIIIHHHHHII", payload, at + 4
        )
        name = payload[at + 46 : at + 46 + name_len].decode("utf-8")
        at += 46 + name_len + extra_len + comment_len2
        if at > cd_end:
            raise ValueError("zip: central directory entry overruns")
        if flags & 0x1:
            raise NotImplementedError("zip: encrypted members not implemented")
        if flags & 0x8:
            raise NotImplementedError(
                "zip: streamed data descriptors not implemented"
            )
        if method not in _METHODS:
            raise NotImplementedError(f"zip: compression method {method}")
        if comp_size == 0xFFFFFFFF or uncomp_size == 0xFFFFFFFF:
            raise NotImplementedError("zip: zip64 member not implemented")
        # cross-check the local header the central entry points at
        if local_off + 30 > n or payload[local_off : local_off + 4] != _LOCAL_SIG:
            raise ValueError(f"zip: bad local header for {name!r}")
        (_lv, lflags, lmethod, _lt, _ld, _lcrc, _lcomp, _luncomp,
         lname_len, lextra_len) = struct.unpack_from(
            "<HHHHHIIIHH", payload, local_off + 4
        )
        lname = payload[local_off + 30 : local_off + 30 + lname_len]
        if lname.decode("utf-8") != name:
            raise ValueError(
                f"zip: central/local name mismatch ({name!r} vs {lname!r})"
            )
        if lmethod != method:
            raise ValueError(f"zip: central/local method mismatch for {name!r}")
        data_at = local_off + 30 + lname_len + lextra_len
        if data_at + comp_size > n:
            raise ValueError(f"zip: member data overruns payload ({name!r})")
        cdata = payload[data_at : data_at + comp_size]
        if method == 8:
            try:
                data = zlib.decompress(cdata, -15)
            except zlib.error as exc:
                raise ValueError(f"zip: bad deflate stream in {name!r}: {exc}")
            n_deflated += 1
        else:
            data = cdata
            n_stored += 1
        if len(data) != uncomp_size:
            raise ValueError(
                f"zip: {name!r} inflates to {len(data)} bytes, "
                f"central directory declares {uncomp_size}"
            )
        if zlib.crc32(data) != crc:
            raise ValueError(f"zip: CRC-32 mismatch in {name!r}")
        members.append((name, data))
    if at != cd_end:
        raise ValueError("zip: central directory size mismatch")
    return {
        "members": members,
        "n_stored": n_stored,
        "n_deflated": n_deflated,
        "comment": comment,
    }


# ---------------------------------------------------------------------------
# Catalog fixture: a 2-3 member ZIP per document (deflated text +
# stored metadata + optional stored binary pad), round-tripped through
# the REAL encode → bytes → EOCD-driven parse chain.
# ---------------------------------------------------------------------------


def zip_roundtrip_stats(docs):
    """Per-doc ZIP: doc.txt (the REAL text, raw-deflate), meta.tsv
    (id/lang/source, stored), and on doc_id%3 != 0 a pad.bin of
    (doc_id%50 + 10) formula bytes (stored). Encode → parse; every
    member's CRC-32 and declared sizes re-verified inside the parse,
    recovered text/meta pinned by md5. Arrow `map_rows`,
    map-only."""
    import hashlib

    from pyspark.sql import types as T

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_members", T.LongType()),
            T.StructField("n_stored", T.LongType()),
            T.StructField("n_deflated", T.LongType()),
            T.StructField("uncomp_bytes", T.LongType()),
            T.StructField("text_md5", T.StringType()),
            T.StructField("meta_md5", T.StringType()),
        ]
    )

    def row(did, text, lang, source):
        meta = f"{did}\t{lang}\t{source}".encode("utf-8")
        members = [("doc.txt", text.encode("utf-8")),
                   ("meta.tsv", meta)]
        if did % 3 != 0:
            pad = bytes((did * 7 + i) % 251
                        for i in range(did % 50 + 10))
            members.append(("pad.bin", pad))
        payload = encode_zip(members, deflate={"doc.txt"})
        d = parse_zip(payload)
        got = dict(d["members"])
        assert got["doc.txt"] == text.encode("utf-8")  # roundtrip
        yield (
            did,
            len(d["members"]),
            d["n_stored"],
            d["n_deflated"],
            sum(len(v) for _, v in d["members"]),
            hashlib.md5(got["doc.txt"]).hexdigest(),
            hashlib.md5(got["meta.tsv"]).hexdigest(),
        )

    return map_rows(
        docs.select("doc_id", "text", "lang", "source"), row, schema, spread=True
    )


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "multimodal_zip_stats",
        oracle="""
        SELECT doc_id,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 2 ELSE 3 END AS BIGINT)
                 AS n_members,
               CAST(CASE WHEN doc_id % 3 = 0 THEN 1 ELSE 2 END AS BIGINT)
                 AS n_stored,
               CAST(1 AS BIGINT) AS n_deflated,
               CAST(octet_length(encode(text))
                    + octet_length(encode(doc_id || chr(9) || lang
                                          || chr(9) || source))
                    + CASE WHEN doc_id % 3 = 0 THEN 0
                           ELSE doc_id % 50 + 10 END AS BIGINT)
                 AS uncomp_bytes,
               md5(text) AS text_md5,
               md5(doc_id || chr(9) || lang || chr(9) || source) AS meta_md5
        FROM documents
        """,
    )
    def q_multimodal_zip_stats(spark, sf_dir):
        """ZIP shard demux over the documents table: each doc becomes
        a 2-3 member archive (deflated text, stored metadata, formula
        pad), built and re-parsed by the hand-rolled EOCD-driven walk.
        The oracle recomputes member/stored/deflated counts and exact
        uncompressed byte totals from the fixture formulas and pins
        the recovered text and metadata via md5 — a wrong offset, a
        broken inflate, or a CRC slip fails the match (CRC-32 and
        declared-size checks also run inside the parse itself)."""
        docs = load_table(spark, sf_dir, "documents")
        return zip_roundtrip_stats(docs)


_register()
