"""Audio near-duplicate fingerprinting — the audio leg of the dedup
trifecta (text MinHash/SimHash in `llm.dedup`, image dHash in
`llm.imagehash`). A voice/music corpus dedupes on compact acoustic
signatures, not raw PCM.

The fingerprint here is the energy-envelope hash: split the decoded
PCM into 65 equal frames (the same src = dst·len//n boundary math the
image grid uses), take integer frame energies Σs², and emit the
64-bit sign pattern of adjacent-frame energy differences — the
time-domain analogue of dHash's gradient signs, and the simplest
member of the Shazam/Chromaprint family that stays INTEGER-exact end
to end (no FFT, so an independent SQL engine can replay every bit).

Near-dup detection reuses `llm.imagehash.banded_hamming_pairs` — the
8×8-bit banded LSH join with pigeonhole-complete recall to Hamming 7;
the Σ|bucket|² scale argument carries over unchanged.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.llm.imagehash import (
    _pack64,
    banded_hamming_pairs,
)
from dynamodb_to_datalake_project_spark.llm.multimodal import encode_wav
from dynamodb_to_datalake_project_spark.rowmap import map_rows

#: frames per fingerprint — 65 frames → 64 adjacent-difference bits
_N_FRAMES = 65


def audio_energy_fingerprint(samples: np.ndarray) -> "tuple[int, int]":
    """64-bit energy-envelope hash of a 16-bit PCM signal: 65 frames
    by b_f = f·len//65 boundaries, integer energies E_f = Σ s², bits
    = E_{f+1} > E_f packed MSB-first as (hi32, lo32)."""
    v = np.asarray(samples, dtype=np.int64)
    if len(v) < _N_FRAMES:
        raise ValueError(
            f"audio: need ≥ {_N_FRAMES} samples for a fingerprint"
        )
    bounds = [f * len(v) // _N_FRAMES for f in range(_N_FRAMES)]
    e = np.add.reduceat(v * v, bounds)
    return _pack64(e[1:] > e[:-1])


AUDIO_FP_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("fp_hi", T.LongType()),
        T.StructField("fp_lo", T.LongType()),
        T.StructField("fp_bits", T.LongType()),
    ]
)


#: fixture prime — quadratic residues decorrelate per-sample values
#: (see llm.imagehash._P for the same construction in pixels)
_P = 999983
_N_SAMPLES = 640


def _fixture_samples(doc_id: int) -> np.ndarray:
    """Groups of 4 near-dup signals: base waveform from quadratic
    residues of (g·1000003 + j·7919) mod P scaled to ±1000; members
    1-3 add +500 over ONE frame (frame 10·m) — a localized loudness
    bump that flips ≤ 2 envelope bits."""
    g, m = doc_id // 4, doc_id % 4
    j = np.arange(_N_SAMPLES, dtype=np.int64)
    s = (g * 1000003 + j * 7919) % _P
    v = (s * s % _P) % 2001 - 1000
    if m > 0:
        lo = (10 * m) * _N_SAMPLES // _N_FRAMES
        hi = (10 * m + 1) * _N_SAMPLES // _N_FRAMES
        v[lo:hi] += 500
    return v


def fixture_audio_fingerprints(docs: DataFrame) -> DataFrame:
    """Synthesize the fixture signal per doc, push it through the REAL
    encode_wav → stdlib wave decode → fingerprint chain."""
    import io
    import struct
    import wave

    def row(did):
        payload = encode_wav([int(x) for x in _fixture_samples(did)])
        with wave.open(io.BytesIO(payload), "rb") as w:
            frames = w.readframes(w.getnframes())
            n = w.getnframes() * w.getnchannels()
        pcm = np.array(
            struct.unpack(f"<{n}h", frames), dtype=np.int64
        )
        hi, lo = audio_energy_fingerprint(pcm)
        yield (did, hi, lo, bin(hi).count("1") + bin(lo).count("1"))

    return map_rows(docs.select("doc_id"), row, AUDIO_FP_SCHEMA, spread=True)


# per-doc frame energies + envelope bits, replayed from the formula:
# the frame of sample j under b_f = f*640//65 boundaries is
# ((j+1)*65 - 1) // 640 (exact inverse of the floor-div boundaries)
_AUDIO_ORACLE_CTE = """
    d AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents
    ), samp AS (
      SELECT doc_id,
             ((js.j + 1) * 65 - 1) // 640 AS f,
             (((g*1000003 + js.j*7919) % 999983)
              * ((g*1000003 + js.j*7919) % 999983) % 999983) % 2001 - 1000
             + CASE WHEN m > 0
                    AND js.j >= (10*m) * 640 // 65
                    AND js.j < (10*m + 1) * 640 // 65
                    THEN 500 ELSE 0 END AS s
      FROM d, LATERAL (SELECT unnest(range(0, 640)) AS j) js
    ), nrg AS (
      SELECT doc_id, f, SUM(s * s) AS e
      FROM samp GROUP BY doc_id, f
    ), bits AS (
      SELECT a.doc_id, a.f AS i,
             CASE WHEN b.e > a.e THEN 1 ELSE 0 END AS bit
      FROM nrg a JOIN nrg b ON a.doc_id = b.doc_id AND b.f = a.f + 1
    ), fp AS (
      SELECT doc_id,
        SUM(CASE WHEN i < 32
                 THEN CAST(bit AS BIGINT) << (31 - i) ELSE 0 END) AS fp_hi,
        SUM(CASE WHEN i >= 32
                 THEN CAST(bit AS BIGINT) << (63 - i) ELSE 0 END) AS fp_lo,
        SUM(bit) AS fp_bits
      FROM bits GROUP BY doc_id
    )
"""


@query(
    "multimodal_audio_fingerprint",
    oracle="WITH " + _AUDIO_ORACLE_CTE + """
    SELECT doc_id,
           CAST(fp_hi AS BIGINT) AS fp_hi,
           CAST(fp_lo AS BIGINT) AS fp_lo,
           CAST(fp_bits AS BIGINT) AS fp_bits
    FROM fp
    """,
)
def q_multimodal_audio_fingerprint(spark, sf_dir):
    """Acoustic fingerprints over the documents table: each doc
    becomes a 640-sample 16-bit PCM signal (quadratic-residue
    waveform; members of each 4-doc group differ by a +500 loudness
    bump in one frame), pushed through the REAL encode_wav → wave
    decode → frame-energy → envelope-bit chain. The oracle rebuilds
    all 64 bits per signal from the sample formula — any drift in PCM
    packing, frame boundary math, energy sums, or bit order fails the
    hash match."""
    docs = load_table(spark, sf_dir, "documents")
    return fixture_audio_fingerprints(docs)


@query(
    "multimodal_audio_neardup",
    oracle="WITH " + _AUDIO_ORACLE_CTE + """
    , bands AS (
      SELECT doc_id, ks.k,
             CASE WHEN ks.k < 4
                  THEN (fp_hi >> (8 * (3 - ks.k))) & 255
                  ELSE (fp_lo >> (8 * (7 - ks.k))) & 255
             END AS bv
      FROM fp, LATERAL (SELECT unnest(range(0, 8)) AS k) ks
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT cand.doc_a, cand.doc_b,
             CAST(bit_count(xor(ha.fp_hi, hb.fp_hi))
                  + bit_count(xor(ha.fp_lo, hb.fp_lo)) AS BIGINT)
               AS hamming
      FROM cand
      JOIN fp ha ON ha.doc_id = cand.doc_a
      JOIN fp hb ON hb.doc_id = cand.doc_b
    ) WHERE hamming <= 4
    """,
)
def q_multimodal_audio_neardup(spark, sf_dir):
    """Audio near-dup detection end-to-end: real-codec energy
    fingerprints → the SAME 8-band LSH bucket join the image path
    uses (`banded_hamming_pairs`) → bit_count(xor) verify at Hamming
    ≤ 4. The fixture plants 4-signal near-dup groups (750 pairs, none
    cross-group); the oracle replays banding AND verify. Never
    all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return banded_hamming_pairs(
        fixture_audio_fingerprints(docs),
        hi_col="fp_hi", lo_col="fp_lo", max_hamming=4,
    ).orderBy("doc_a", "doc_b")
