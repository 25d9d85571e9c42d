"""Image perceptual hashing + near-duplicate detection — the image
leg of the training-data dedup family (the pixel twin of MinHash/
SimHash over text in `llm.dedup`).

dHash (difference hash) and aHash (average hash) are the standard
cheap perceptual fingerprints: grayscale, downsample to a tiny fixed
grid, threshold — a 64-bit signature whose Hamming distance tracks
visual similarity. Near-dup detection then NEVER goes all-pairs:
signatures band into 8×8-bit keys and candidates come from bucket
equi-joins (pigeonhole: two hashes within Hamming 7 always share at
least one band), verified JVM-side with `bit_count(xor)` — the exact
architecture `llm.dedup.minhash` uses for text, so the same 100 TB
scale argument applies: cost ∝ Σ|bucket|², bounded by band width,
never corpus².

Everything integer-exact: luma is the fixed-point (77R+150G+29B)>>8,
downsampling is the module's established nearest-neighbor
src = dst·src_dim//dst_dim index math, the aHash threshold is the
floor mean — so an independent SQL oracle can replay every bit.
"""

from __future__ import annotations


import numpy as np
from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.llm.multimodal import (
    decode_bmp_array,
    encode_bmp_array,
)
from dynamodb_to_datalake_project_spark.rowmap import map_rows


def gray_u8(px: np.ndarray) -> np.ndarray:
    """Integer luma: (77R + 150G + 29B) >> 8 — the classic fixed-point
    BT.601 approximation (weights sum to 256, so a gray pixel with
    R=G=B=v maps to exactly v; output always fits uint8)."""
    a = px.astype(np.int64)
    return (77 * a[:, :, 0] + 150 * a[:, :, 1] + 29 * a[:, :, 2]) >> 8


def _grid(gray: np.ndarray, gw: int, gh: int) -> np.ndarray:
    """Nearest-neighbor downsample to (gh, gw): src = dst*src//dst —
    the same index math `resize_nearest` uses elsewhere in the
    multimodal family, so one oracle formula covers both."""
    h, w = gray.shape
    ys = [(j * h) // gh for j in range(gh)]
    xs = [(i * w) // gw for i in range(gw)]
    return gray[np.ix_(ys, xs)]


def _pack64(bits: np.ndarray) -> "tuple[int, int]":
    """Pack 64 row-major bits MSB-first; return (hi32, lo32) — two
    non-negative BIGINT halves, so neither engine ever touches the
    int64 sign bit."""
    val = 0
    for b in bits.ravel():
        val = (val << 1) | int(b)
    return val >> 32, val & 0xFFFFFFFF


def image_dhash(px: np.ndarray) -> "tuple[int, int]":
    """64-bit dHash: 9×8 luma grid, bit(j,i) = grid[j][i+1] > grid[j][i]
    (horizontal gradient sign), packed row-major MSB-first."""
    g = _grid(gray_u8(px), 9, 8)
    return _pack64(g[:, 1:] > g[:, :-1])


def image_ahash(px: np.ndarray) -> "tuple[int, int]":
    """64-bit aHash: 8×8 luma grid, bit = cell > floor-mean of the 64
    cells (integer mean keeps both engines bit-identical)."""
    g = _grid(gray_u8(px), 8, 8)
    mu = int(g.sum()) // 64
    return _pack64(g > mu)


IMAGE_HASH_SCHEMA = T.StructType(
    [
        T.StructField("doc_id", T.LongType()),
        T.StructField("dhash_hi", T.LongType()),
        T.StructField("dhash_lo", T.LongType()),
        T.StructField("ahash_hi", T.LongType()),
        T.StructField("ahash_lo", T.LongType()),
        T.StructField("dhash_bits", T.LongType()),
    ]
)


def image_hashes(
    images: DataFrame, id_col: str = "doc_id", payload_col: str = "payload"
) -> DataFrame:
    """Perceptual signatures for a corpus of BMP payloads: REAL
    container decode (`decode_bmp_array`) → integer luma → dHash +
    aHash. Arrow `map_rows`, map-only — scan speed at any corpus
    size; the signature table it emits is 5 longs/image."""

    def row(iid, payload):
        px = decode_bmp_array(payload)["px"]
        dhi, dlo = image_dhash(px)
        ahi, alo = image_ahash(px)
        bits = bin(dhi).count("1") + bin(dlo).count("1")
        yield iid, dhi, dlo, ahi, alo, bits

    return map_rows(images.select(id_col, payload_col), row, IMAGE_HASH_SCHEMA)


def banded_hamming_pairs(
    hashes: DataFrame,
    id_col: str = "doc_id",
    hi_col: str = "dhash_hi",
    lo_col: str = "dhash_lo",
    max_hamming: int = 4,
    band_bits: int = 8,
) -> DataFrame:
    """Banded near-dup join over ANY 64-bit (hi32, lo32) signature
    column pair — shared by the image dHash and the audio energy
    fingerprint: the hash splits into 64/band_bits bands; candidate
    pairs share (band_idx, band_value); verification is
    `bit_count(xor)` on the JVM. By pigeonhole any pair within
    Hamming (n_bands - 1) shares a band, so recall is EXACT for
    max_hamming ≤ n_bands - 1 — no all-pairs product anywhere.

    band_bits is the corpus-size dial: 8-bit bands (256 buckets/band,
    recall to Hamming 7) suit up to ~10⁵ signatures; beyond that the
    random-collision floor N²·bands/2^band_bits dominates, and 16-bit
    bands (65 536 buckets, recall to Hamming 3) cut candidates 256×
    per decade of corpus — the same rows-per-band trade MinHash LSH
    makes in `llm.dedup`.

    Output: (doc_a, doc_b, hamming) with doc_a < doc_b, hamming ≤
    max_hamming."""
    if band_bits not in (8, 16):
        raise ValueError("band_bits must be 8 or 16")
    n_bands = 64 // band_bits
    if not 0 <= max_hamming <= n_bands - 1:
        raise ValueError(
            f"max_hamming must be in [0, {n_bands - 1}] for "
            f"{n_bands}-band recall"
        )
    mask = (1 << band_bits) - 1
    half = n_bands // 2
    bands = F.array(
        *[
            F.expr(
                f"shiftrightunsigned({hi_col}, "
                f"{band_bits * (half - 1 - k)}) & {mask}"
            )
            for k in range(half)
        ],
        *[
            F.expr(
                f"shiftrightunsigned({lo_col}, "
                f"{band_bits * (n_bands - 1 - k)}) & {mask}"
            )
            for k in range(half, n_bands)
        ],
    )
    # materialized ONCE: the self-join consumes `sig` on both sides,
    # and without the checkpoint the whole upstream signature plan —
    # for the catalog queries a REAL per-row codec encode→decode→hash
    # Arrow stage — executes twice (plan audit: two MapInArrow
    # subtrees, no cross-branch reuse). The signature table is 5 longs
    # per (doc, band): bounded, cheap to store.
    sig = hashes.select(
        F.col(id_col).alias("id"),
        F.col(hi_col).alias("sig_hi"),
        F.col(lo_col).alias("sig_lo"),
        F.posexplode(bands).alias("band_idx", "band_val"),
    ).localCheckpoint(eager=True)
    a, b = sig.alias("a"), sig.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.band_idx") == F.col("b.band_idx"))
            & (F.col("a.band_val") == F.col("b.band_val"))
            & (F.col("a.id") < F.col("b.id")),
        )
        .select(
            F.col("a.id").alias("doc_a"),
            F.col("b.id").alias("doc_b"),
            F.expr(
                "bit_count(a.sig_hi ^ b.sig_hi)"
                " + bit_count(a.sig_lo ^ b.sig_lo)"
            ).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )
    return pairs


def image_neardup_pairs(
    hashes: DataFrame, id_col: str = "doc_id", max_hamming: int = 4
) -> DataFrame:
    """dHash near-dup join — `banded_hamming_pairs` over the image
    signature table (see that function for the scale argument)."""
    return banded_hamming_pairs(
        hashes, id_col=id_col, hi_col="dhash_hi", lo_col="dhash_lo",
        max_hamming=max_hamming,
    )


# ---------------------------------------------------------------------------
# Catalog fixtures: formula-generated 18×16 gray BMPs in groups of 4 —
# members 1-3 perturb ONE pixel on the sampling grid, so within-group
# hashes sit a few bits apart (near-dups) while the quadratic luma
# formula makes cross-group hashes effectively random. The Spark side
# must survive encode → BMP bytes → decode bit-for-bit; the oracle
# recomputes every hash bit from the formula alone.
# ---------------------------------------------------------------------------

_IMG_W, _IMG_H = 18, 16


#: luma-mixing prime — quadratic residues mod _P decorrelate the
#: per-cell values (a polynomial formula would leave adjacent-group
#: hashes a few bits apart: gradient SIGNS inherit linear structure)
_P = 999983


def _fixture_image(doc_id: int) -> np.ndarray:
    g, m = doc_id // 4, doc_id % 4
    x = np.arange(_IMG_W, dtype=np.int64)[None, :]
    y = np.arange(_IMG_H, dtype=np.int64)[:, None]
    s = (g * 1000003 + x * 7919 + y * 104729) % _P  # mod BEFORE squaring:
    v = (s * s % _P) % 240  # s < 1e6 keeps s² inside int64 at any corpus
    if m > 0:
        yx, xx = 2 * (m + 1), 2 * (m + 2)
        v[yx, xx] = (v[yx, xx] + 120) % 240
    return np.repeat(v.astype(np.uint8)[:, :, None], 3, axis=2)


def fixture_image_hashes(docs: DataFrame) -> DataFrame:
    """Synthesize the fixture BMP per doc (quadratic luma formula,
    R=G=B), push it through the REAL encode→decode→hash chain."""

    def row(did):
        payload = encode_bmp_array(
            _fixture_image(did), _IMG_W, _IMG_H
        )
        px = decode_bmp_array(payload)["px"]
        dhi, dlo = image_dhash(px)
        ahi, alo = image_ahash(px)
        yield (did, dhi, dlo, ahi, alo, bin(dhi).count("1") + bin(dlo).count("1"))

    return map_rows(docs.select("doc_id"), row, IMAGE_HASH_SCHEMA, spread=True)


# shared oracle scaffolding: per-doc luma at every pixel the two
# sampling grids touch (x 0..17 × even y), then the exact bit packing
_HASH_ORACLE_CTE = """
    d AS (
      SELECT doc_id, doc_id // 4 AS g, doc_id % 4 AS m FROM documents
    ), lum AS (
      SELECT doc_id, x, y,
             ((s * s % 999983) % 240
              + CASE WHEN m > 0 AND x = 2*(m+2) AND y = 2*(m+1)
                     THEN 120 ELSE 0 END) % 240 AS L
      FROM (
        SELECT doc_id, m, xs.x, ys.y,
               (g*1000003 + xs.x*7919 + ys.y*104729) % 999983 AS s
        FROM d,
             LATERAL (SELECT unnest(range(0, 18)) AS x) xs,
             LATERAL (SELECT 2 * unnest(range(0, 8)) AS y) ys
      )
    ), dbits AS (
      SELECT a.doc_id, a.y // 2 AS j, a.x // 2 AS i,
             CASE WHEN b.L > a.L THEN 1 ELSE 0 END AS bit
      FROM lum a JOIN lum b
        ON a.doc_id = b.doc_id AND a.y = b.y AND b.x = a.x + 2
      WHERE a.x % 2 = 0 AND a.x <= 14
    ), dh AS (
      SELECT doc_id,
        SUM(CASE WHEN j*8 + i < 32
                 THEN CAST(bit AS BIGINT) << (31 - (j*8 + i))
                 ELSE 0 END) AS dhash_hi,
        SUM(CASE WHEN j*8 + i >= 32
                 THEN CAST(bit AS BIGINT) << (63 - (j*8 + i))
                 ELSE 0 END) AS dhash_lo,
        SUM(bit) AS dhash_bits
      FROM dbits GROUP BY doc_id
    ), agrid AS (
      SELECT lum.doc_id, ks.j, ks.i, lum.L
      FROM lum JOIN (
        SELECT u.j, v.i, (v.i * 18) // 8 AS x
        FROM LATERAL (SELECT unnest(range(0, 8)) AS j) u,
             LATERAL (SELECT unnest(range(0, 8)) AS i) v
      ) ks ON lum.x = ks.x AND lum.y = 2 * ks.j
    ), amean AS (
      SELECT doc_id, SUM(L) // 64 AS mu FROM agrid GROUP BY doc_id
    ), ah AS (
      SELECT agrid.doc_id,
        SUM(CASE WHEN agrid.L > amean.mu AND agrid.j*8 + agrid.i < 32
                 THEN CAST(1 AS BIGINT) << (31 - (agrid.j*8 + agrid.i))
                 ELSE 0 END) AS ahash_hi,
        SUM(CASE WHEN agrid.L > amean.mu AND agrid.j*8 + agrid.i >= 32
                 THEN CAST(1 AS BIGINT) << (63 - (agrid.j*8 + agrid.i))
                 ELSE 0 END) AS ahash_lo
      FROM agrid JOIN amean ON agrid.doc_id = amean.doc_id
      GROUP BY agrid.doc_id
    )
"""


@query(
    "multimodal_image_dhash",
    oracle="WITH " + _HASH_ORACLE_CTE + """
    SELECT dh.doc_id,
           CAST(dh.dhash_hi AS BIGINT) AS dhash_hi,
           CAST(dh.dhash_lo AS BIGINT) AS dhash_lo,
           CAST(ah.ahash_hi AS BIGINT) AS ahash_hi,
           CAST(ah.ahash_lo AS BIGINT) AS ahash_lo,
           CAST(dh.dhash_bits AS BIGINT) AS dhash_bits
    FROM dh JOIN ah ON dh.doc_id = ah.doc_id
    """,
)
def q_multimodal_image_dhash(spark, sf_dir):
    """Perceptual image signatures over the documents table: each doc
    becomes an 18×16 gray BMP (quadratic luma formula; members of each
    4-doc group differ by ONE grid-sampled pixel), pushed through the
    REAL encode → decode → luma → nearest-neighbor grid → dHash/aHash
    chain. The oracle rebuilds all 128 hash bits per image from the
    formula alone — any drift in BMP row order, padding, BGR packing,
    the luma fixed point, grid index math, bit order, or the aHash
    floor-mean threshold flips bits and fails the hash match."""
    docs = load_table(spark, sf_dir, "documents")
    return fixture_image_hashes(docs)


@query(
    "multimodal_image_neardup",
    oracle="WITH " + _HASH_ORACLE_CTE + """
    , bands AS (
      SELECT doc_id, ks.k,
             CASE WHEN ks.k < 4
                  THEN (dhash_hi >> (8 * (3 - ks.k))) & 255
                  ELSE (dhash_lo >> (8 * (7 - ks.k))) & 255
             END AS bv
      FROM dh, LATERAL (SELECT unnest(range(0, 8)) AS k) ks
    ), cand AS (
      SELECT DISTINCT a.doc_id AS doc_a, b.doc_id AS doc_b
      FROM bands a JOIN bands b
        ON a.k = b.k AND a.bv = b.bv AND a.doc_id < b.doc_id
    )
    SELECT doc_a, doc_b, hamming FROM (
      SELECT cand.doc_a, cand.doc_b,
             CAST(bit_count(xor(ha.dhash_hi, hb.dhash_hi))
                  + bit_count(xor(ha.dhash_lo, hb.dhash_lo)) AS BIGINT)
               AS hamming
      FROM cand
      JOIN dh ha ON ha.doc_id = cand.doc_a
      JOIN dh hb ON hb.doc_id = cand.doc_b
    ) WHERE hamming <= 4
    """,
)
def q_multimodal_image_neardup(spark, sf_dir):
    """Image near-dup detection end-to-end: real-codec dHash
    signatures → 8-band LSH bucket join → bit_count(xor) verify at
    Hamming ≤ 4. The fixture plants 4-image near-dup groups (one
    perturbed grid pixel per member ⇒ ≤ 4 bits apart, inside the
    pigeonhole-complete radius); the oracle replays the banding AND
    the verify, so a missed candidate, a phantom pair, or an
    off-by-one in the Hamming math all fail. Never all-pairs: cost is
    Σ|band bucket|², the text-MinHash scale argument in pixels."""
    docs = load_table(spark, sf_dir, "documents")
    return image_neardup_pairs(fixture_image_hashes(docs)).orderBy(
        "doc_a", "doc_b"
    )
