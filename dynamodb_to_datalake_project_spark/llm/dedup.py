"""Corpus deduplication: exact, blocked n-gram Jaccard, MinHash+LSH,
SimHash.

Scale design notes (all operators shuffle on bounded keys, never
all-pairs):
- exact: one hash aggregation on content hash.
- blocked Jaccard: candidate generation via capped blocking buckets
  (collect_list per block, blocks > max_block dropped as degenerate) —
  the all-pairs O(n²) never materializes, even within a block.
- MinHash+LSH: shingle→signature (one explode + min-agg shuffle) →
  band-bucket equi-join → exact verify on candidates only. Classic
  banding: P(candidate) ≈ 1-(1-j^r)^b.
- SimHash: 32-bit signature via per-bit weighted sums; candidate pairs
  via byte-band pigeonhole (hamming ≤ 3 ⇒ at least one of 4 bytes
  equal), verified with bit_count(xor).
"""

from __future__ import annotations


from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.llm.text import shingles_from_tokens, tokens
from dynamodb_to_datalake_project_spark.rowmap import map_rows


def _shingle_sets(docs: DataFrame, n: int = 3) -> DataFrame:
    """Shingle sets with two deliberate physical properties:

    1. Tokenize BEFORE a repartition exchange, build shingles AFTER it.
       The exchange materializes the token array, so the shingle
       lambda's 3n element_at() calls read an attribute instead of
       re-inlining (and re-executing) the split() — without the
       barrier, projection collapse makes tokenization O(n_shingles)
       per row instead of O(1).
    2. The repartition also spreads a small single-split corpus file
       across all cores before the ~100x explode (at 100 TB the input
       is already many-split; the thin (id, toks) shuffle is noise)."""
    spark = docs.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .repartition(par, "doc_id")
        .select("doc_id", shingles_from_tokens(F.col("toks"), n).alias("w"))
    )


def exact_dedup(df: DataFrame, id_col: str, content_col: str) -> DataFrame:
    """Exact dedup by content hash: one row per distinct content,
    keeping the smallest id (deterministic canonical survivor)."""
    return (
        df.groupBy(F.md5(F.col(content_col)).alias("text_hash"))
        .agg(
            F.min(id_col).alias("keep_id"),
            F.count("*").alias("n_copies"),
        )
    )


def jaccard(a, b) -> F.Column:
    """Exact Jaccard over two (distinct-element) array columns."""
    return F.size(F.array_intersect(a, b)) / F.size(F.array_union(a, b))


def blocked_jaccard_pairs(
    docs: DataFrame,
    block_key,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_block: int = 1000,
) -> DataFrame:
    """Candidate pairs via capped blocking buckets + exact
    shingle-Jaccard verify.

    Candidate generation goes through `_bucket_pairs` on the cheap
    (blk, doc_id) projection — never a self-join, and a block larger
    than `max_block` is dropped instead of expanded: a blocking key
    shared by 1 M docs (boilerplate prefix) is a degenerate key whose
    quadratic expansion carries no dedup signal. Inspect what was
    dropped with `oversized_buckets(docs.select(block_key.alias("blk"),
    "doc_id"), ["blk"], max_block)`. Shingle sets are built once, only
    on the verify path.
    """
    spark = docs.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cand = _bucket_pairs(
        docs.select(block_key.alias("blk"), "doc_id"),
        ["blk"],
        "doc_id",
        max_block,
        dedup=False,  # single blocking key → no cross-bucket dup pairs
    )
    d = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .repartition(par, "doc_id")
        .select("doc_id", shingles_from_tokens(F.col("toks"), shingle_n).alias("w"))
        # 64-bit-hash the shingles before the verify shuffle (round-5
        # scale probe: string shingle arrays were the dominant shuffle
        # bytes of the whole pipeline, ~6x the hashed form; Jaccard on
        # injectively-hashed sets is numerically identical)
        .select("doc_id", F.transform("w", lambda t: F.xxhash64(t)).alias("w"))
    )
    return _jaccard_verify(cand, d, threshold)


def _jaccard_verify(
    cand: DataFrame, docs_with_tokens: DataFrame, threshold: float
) -> DataFrame:
    """Exact-Jaccard verify of candidate (a_id, b_id) pairs with ONE
    corpus scan: unpivot each pair to two (doc_id, pair) membership
    rows, equi-join them against the corpus, then regroup per pair
    collecting both sides' shingle sets. Shuffle volume = shingle
    arrays of candidate docs only.

    The candidate pipeline (signatures + banding + bucketing — the
    expensive stages) runs exactly ONCE: the explode below emits both
    membership rows from a single projection over `cand`, so no branch
    re-references it. The broadcast decision is left to AQE: candidate
    volume scales with corpus size and near-dup rate, and AQE upgrades
    the join to broadcast from the candidate side's RUNTIME size — the
    same gate a driver-side count would apply, without the eager
    materialization barrier that count costs (the round-2 bench
    regression: an eager localCheckpoint + count here stalled the
    pipeline ~1.6x at bench scale)."""
    sides = cand.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("doc_id"), F.col("a_id"), F.col("b_id")),
                F.struct(F.col("b_id").alias("doc_id"), F.col("a_id"), F.col("b_id")),
            )
        ).alias("m")
    ).select("m.doc_id", "m.a_id", "m.b_id")
    joined = docs_with_tokens.join(sides, "doc_id")
    pairs = joined.groupBy("a_id", "b_id").agg(
        F.first(F.when(F.col("doc_id") == F.col("a_id"), F.col("w")), ignorenulls=True).alias("wa"),
        F.first(F.when(F.col("doc_id") == F.col("b_id"), F.col("w")), ignorenulls=True).alias("wb"),
    )
    return (
        pairs.withColumn("j", jaccard(F.col("wa"), F.col("wb")))
        .filter(F.col("j") >= threshold)
        .select("a_id", "b_id", F.col("j").alias("jaccard"))
    )


def prefix_filter_jaccard_pairs(
    sets: DataFrame, p: int = 4, q: int = 5
) -> DataFrame:
    """Exact-threshold set-similarity SELF-join via prefix filtering
    (the SSJoin/PPJoin family — public algorithms: Chaudhuri et al.
    ICDE'06, Xiao et al. WWW'08): LOSSLESS candidate generation with
    no user-supplied blocking key, unlike `blocked_jaccard_pairs`
    (which drops oversized blocks) and MinHash-LSH (probabilistic).
    Under ANY global token order, two sets with Jaccard >= t must
    share a token among each side's first |s| - ceil(t*|s|) + 1
    tokens, so candidates come from an equi-join on PREFIX tokens
    only — ordered rarest-first (the classic heuristic: prefixes
    hold the rare tokens, so join buckets stay small) — never an
    all-pairs product. Three integer filters run before the verify
    shuffle:
      - length: q*sa >= p*sb both ways (Jaccard >= p/q bounds the
        size ratio);
      - prefix: the equi-join itself;
      - position (PPJoin's contribution): a token shared at 0-based
        positions (pa, pb) bounds the overlap by
        ub = min(pa,pb) + 1 + min(sa-pa-1, sb-pb-1); require
        (p+q)*ub >= p*(sa+sb). A pair survives if ANY of its shared
        prefix tokens passes — the bound is valid per token, so
        this stays lossless.
    The verify computes the exact intersection as a COUNT over a
    composite-key join of xxhash64'd tokens (round-5 shuffle-bytes
    lesson; thin long rows, never per-pair arrays) and keeps pairs
    by the INTEGER predicate q*inter >= p*(sa+sb-inter) — no doubles
    anywhere, so the DuckDB oracle replays the result bit-for-bit
    from an all-pairs ground truth (prefix filtering must lose
    nothing for the hashes to match).

    `sets` carries (doc_id, toks: array<string>) — the caller picks
    the set elements (distinct words, shingles, URLs...); shingle
    sets are the right choice for text (word sets over a small
    vocabulary make every pair similar — the minhash entries document
    the same fixture property). Threshold is the rational p/q
    (default 4/5). Returns (a_id, b_id, inter, sa, sb, jaccard_ppm)
    with jaccard_ppm = 1e6 * inter DIV union, integer-exact.

    100 TB shape: one token-frequency agg, one per-doc sort, a
    bucket equi-join whose volume is Σ|prefix-bucket|² over RARE
    tokens (the frequency order exists precisely to keep that sum
    near-linear), and a verify count-join whose volume is the
    candidate docs' hashed tokens only.
    """
    # the DAG below reads `toks` from three consumers (frequency agg,
    # per-doc ordering, verify) and the prefix table from two (both
    # join sides) — persist() both so set construction runs ONCE,
    # not 5x (both frames are corpus-linear thin projections).
    # persist, NOT localCheckpoint: a lazy checkpoint forces STATIC
    # physical planning when its RDD is built, and static size
    # estimates on RDD-backed inputs let the planner broadcast a
    # side that is actually huge (measured: a 9.2 GiB attempted
    # broadcast at the x100 probe) — persist defers planning to
    # action time where AQE sees real sizes. Also deliberately NO
    # empty-set filter here: a `size(toks) > 0` predicate pushes
    # through the caller's repartition exchange and re-evaluates the
    # whole set expression on the (few-task) scan stage — measured
    # 16s vs 0.5s at sf0.1 — and empty sets are harmless anyway
    # (they yield no prefix rows, so they can never reach a pair).
    #
    # Tokens are xxhash64'd HERE, at entry (round 10): the whole
    # algorithm consumes token IDENTITY only, and the verify stage
    # always counted over xxhash64'd tokens anyway — so hashing
    # before the persist/explode swaps ~50-byte shingle strings for
    # 8-byte longs in EVERY downstream frame (persisted sets, the
    # frequency agg, the per-doc sort structs, both prefix join
    # sides). Measured at the x1000 probe (5M docs): the string
    # variant spilled past this container's 250 GB disk; the long
    # variant is ~7x lighter per shuffled row. No new failure mode:
    # the result was already defined over hash identity.
    toks = sets.select(
        "doc_id",
        F.array_distinct(
            F.transform("toks", lambda t: F.xxhash64(t))
        ).alias("toks"),
    ).persist()
    flat = toks.select("doc_id", F.explode("toks").alias("tok"))
    freq = flat.groupBy("tok").agg(F.count("*").alias("cnt"))
    # rarest-first order carried as a sortable (cnt, tok) struct —
    # no global rank window needed, any consistent total order works
    ordered = (
        flat.join(freq, "tok")
        .groupBy("doc_id")
        .agg(F.sort_array(F.collect_list(F.struct("cnt", "tok"))).alias("o"))
        .select(
            "doc_id",
            F.col("o.tok").alias("sorted_toks"),
            F.size("o").alias("s"),
        )
    )
    prefix_len = (
        F.col("s")
        - ((F.lit(p) * F.col("s") + F.lit(q - 1)) / q).cast("long")
        + 1
    ).cast("int")
    pref = (
        ordered.select(
            "doc_id",
            "s",
            F.slice("sorted_toks", 1, prefix_len).alias("prefix"),
        )
        .select("doc_id", "s", F.posexplode("prefix").alias("pos", "tok"))
        .persist()
    )
    a = pref.select(
        F.col("doc_id").alias("a_id"),
        F.col("s").alias("sa"),
        F.col("pos").alias("pa"),
        "tok",
    )
    b = pref.select(
        F.col("doc_id").alias("b_id"),
        F.col("s").alias("sb"),
        F.col("pos").alias("pb"),
        "tok",
    )
    ub = (
        F.least(F.col("pa"), F.col("pb"))
        + 1
        + F.least(
            F.col("sa") - F.col("pa") - 1, F.col("sb") - F.col("pb") - 1
        )
    )
    cand = (
        a.join(b, "tok")
        .filter(F.col("a_id") < F.col("b_id"))
        .filter(
            (F.lit(q) * F.col("sa") >= F.lit(p) * F.col("sb"))
            & (F.lit(q) * F.col("sb") >= F.lit(p) * F.col("sa"))
        )
        .filter(F.lit(p + q) * ub >= F.lit(p) * (F.col("sa") + F.col("sb")))
        .select("a_id", "b_id", "sa", "sb")
        .distinct()
    )
    # COUNT-based intersection: join the candidate pairs against the
    # hashed token table on each side — only shared tokens survive
    # the second (composite-key) join, so COUNT(*) per pair IS the
    # intersection. Thin long rows only; never per-pair arrays (the
    # array-shipping variant serialized the whole verify into one
    # AQE-coalesced task — arrays hide bytes from the coalescer).
    flat_h = flat.select("doc_id", F.col("tok").alias("h"))  # pre-hashed
    fa = flat_h.select(F.col("doc_id").alias("a_id"), "h")
    fb = flat_h.select(F.col("doc_id").alias("b_id"), "h")
    return (
        cand.join(fa, "a_id")
        .join(fb, ["b_id", "h"])
        .groupBy("a_id", "b_id", "sa", "sb")
        .agg(F.count("*").alias("inter"))
        .filter(
            F.lit(q) * F.col("inter")
            >= F.lit(p) * (F.col("sa") + F.col("sb") - F.col("inter"))
        )
        .selectExpr(
            "a_id",
            "b_id",
            "CAST(inter AS BIGINT) AS inter",
            "CAST(sa AS BIGINT) AS sa",
            "CAST(sb AS BIGINT) AS sb",
            "CAST((1000000 * inter) DIV (sa + sb - inter) AS BIGINT)"
            " AS jaccard_ppm",
        )
    )


def oversized_buckets(
    df: DataFrame, bucket_cols: list[str], max_bucket: int = 1000
) -> DataFrame:
    """Diagnostic companion to `_bucket_pairs`/`blocked_jaccard_pairs`:
    the buckets the cap dropped, with their sizes. A 100 TB corpus run
    logs/alerts on this frame rather than silently diverging — an
    oversized bucket means a degenerate blocking key, and the fix is a
    better key (longer prefix, minhash band), not quadratic expansion."""
    return (
        df.groupBy(*bucket_cols)
        .agg(F.count("*").alias("n"))
        .filter(F.col("n") > max_bucket)
    )


def _bucket_pairs(
    df: DataFrame,
    bucket_cols: list[str],
    id_col: str,
    max_bucket: int = 1000,
    dedup: bool = True,
) -> DataFrame:
    """Within-bucket id pairs (a < b), computing the upstream plan once
    (no self-join). Buckets larger than `max_bucket` are dropped: for
    LSH banding they indicate a degenerate band with no discriminative
    signal, and expanding them is O(n²) for nothing.

    `dedup=False` skips the final `.distinct()` (one full shuffle):
    callers that feed `_jaccard_verify` get pair-dedup for free from
    the verify's own `groupBy(a_id, b_id)`, so the extra exchange+sort
    stage buys nothing there."""
    buckets = (
        df.groupBy(*bucket_cols)
        .agg(F.collect_list(id_col).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    # j>i expansion: each unordered pair materializes ONCE (canonical
    # via least/greatest since collect_list order is nondeterministic)
    # instead of building all n² structs and filtering half away —
    # halves allocation in the hottest candidate-generation stage.
    pairs = buckets.select(
        F.explode(
            F.expr(
                "flatten(transform(ids, (a, i) -> transform(slice(ids, i + 2, size(ids)),"
                " b -> struct(least(a, b) AS a, greatest(a, b) AS b))))"
            )
        ).alias("p")
    )
    out = pairs.select(F.col("p.a").alias("a_id"), F.col("p.b").alias("b_id"))
    return out.distinct() if dedup else out


def _minhash_constants(num_hashes: int) -> list[tuple[int, int]]:
    """Deterministic (a_i, b_i) universal-hash constants, derived from
    sha256 so they are stable across runs/processes (no RNG state)."""
    import hashlib

    out = []
    for i in range(num_hashes):
        a = int.from_bytes(hashlib.sha256(f"minhash-a-{i}".encode()).digest()[:4], "big")
        b = int.from_bytes(hashlib.sha256(f"minhash-b-{i}".encode()).digest()[:5], "big")
        out.append(((a % (1 << 20)) | 1, b))
    return out


def minhash_signatures(
    docs: DataFrame, num_hashes: int = 32, id_col: str = "doc_id", tokens_col: str = "w"
) -> DataFrame:
    """Per-doc MinHash signature frame: (id, sig_arr: array<bigint>),
    sig_arr[i] = min over tokens of (a_i * h32(token) + b_i).

    Shuffle-free by design: the alternative (explode + num_hashes
    min-aggregations) costs a 100x row explosion, a shuffle, and a
    wide-agg codegen compile; this is a pure per-row map that scales
    embarrassingly parallel. Each token string is hashed ONCE
    (xxhash64, truncated to 32 bits so `a*h+b` stays < 2^53 — ANSI-safe,
    no overflow). The num_hashes (a, b) constants are shipped as ONE
    constant-folded struct-array literal and the per-seed minima come
    from a nested HOF fold over it — NOT num_hashes unrolled
    array_min(transform(...)) expressions, whose single giant codegen
    unit took the JIT several executions to reach steady state (the
    round-4 code-size rule: model parameters are literal DATA consumed
    by fixed-shape expressions; generated code size must not grow with
    num_hashes)."""
    spark = docs.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    hs = docs.select(
        id_col,
        F.transform(
            F.col(tokens_col) if isinstance(tokens_col, str) else tokens_col,
            lambda t: F.xxhash64(t).bitwiseAND(F.lit(0xFFFFFFFF)),
        ).alias("hs"),
    ).repartition(par, id_col)  # barrier: hash each token once, then fan out
    consts_lit = F.array(
        *[
            F.struct(F.lit(a).alias("a"), F.lit(b).alias("b"))
            for a, b in _minhash_constants(num_hashes)
        ]
    )  # constant-folds to a single array<struct<a,b>> literal
    sig = F.transform(
        consts_lit,
        lambda ab: F.array_min(
            F.transform("hs", lambda h: h * ab["a"] + ab["b"])
        ),
    )
    return hs.select(id_col, sig.alias("sig_arr"))


def minhash_signatures_pandas(
    docs: DataFrame, num_hashes: int = 64, id_col: str = "doc_id", tokens_col: str = "w"
) -> DataFrame:
    """Vectorized MinHash signatures via Arrow + numpy (mapInPandas).

    Semantics match `minhash_signatures` (same (a,b) constants; token
    hash is crc32 instead of xxhash64-truncated — both deterministic).
    This is the hot path: one crc32 per token plus a single (n_tokens x
    num_hashes) broadcasted multiply-add and a segment-min
    (`np.minimum.reduceat`) per Arrow batch — orders of magnitude less
    per-element overhead than interpreted higher-order expressions, and
    still embarrassingly parallel per partition at cluster scale."""
    import numpy as np
    import pandas as pd
    import zlib

    consts = _minhash_constants(num_hashes)
    A = np.array([a for a, _ in consts], dtype=np.uint64)
    B = np.array([b for _, b in consts], dtype=np.uint64)

    def op(batches):
        for pdf in batches:
            # empty token lists break reduceat (zero-length segment
            # borrows the next doc's first row / overflows at the end);
            # treat an empty doc as [''] — same fallback shingle_set uses
            tok_lists = [t if len(t) else [""] for t in pdf[tokens_col]]
            lens = np.array([len(t) for t in tok_lists], dtype=np.int64)
            flat_tok = np.fromiter(
                (s for toks in tok_lists for s in toks),
                dtype=object,
                count=int(lens.sum()),
            )
            # crc32 once per DISTINCT token in the batch: token
            # frequencies are power-law, so uniques are a fraction of
            # occurrences — the scalar hash loop shrinks accordingly
            uniq, inv = np.unique(flat_tok, return_inverse=True)
            uh = np.fromiter(
                (zlib.crc32(s.encode()) for s in uniq),
                dtype=np.uint64,
                count=len(uniq),
            )
            flat = uh[inv]
            starts = np.zeros(len(lens), dtype=np.int64)
            np.cumsum(lens[:-1], out=starts[1:])
            # (n_tokens, K) universal hashes, chunked over K to bound
            # the live matrix (uint64 wrap is well-defined)
            sigs = np.empty((len(lens), num_hashes), dtype=np.uint64)
            for k0 in range(0, num_hashes, 16):
                k1 = min(k0 + 16, num_hashes)
                hv = flat[:, None] * A[None, k0:k1] + B[None, k0:k1]
                sigs[:, k0:k1] = np.minimum.reduceat(hv, starts, axis=0)
            sigs = sigs.astype(np.int64)
            yield pd.DataFrame(
                {id_col: pdf[id_col].to_numpy(), "sig_arr": list(sigs)}
            )

    return docs.mapInPandas(op, schema=f"{id_col} long, sig_arr array<bigint>")


def minhash_lsh_pairs(
    docs_with_tokens: DataFrame,
    num_hashes: int = 32,
    bands: int = 8,
    threshold: float = 0.8,
    use_pandas: bool = False,
    token_hash_sql: str = "xxhash64(t)",
) -> DataFrame:
    """MinHash + LSH banding near-dup pairs, exact-Jaccard verified.

    docs_with_tokens: (doc_id, w: array<string> distinct tokens).

    Signature path default is the pure-Catalyst form: measured at
    sf0.1/local[32], the JVM path runs the full pipeline in ~4.8 s cold
    / ~2.5 s warm vs 22.3 s cold / 2.3 s warm for the Arrow+numpy path —
    Python-worker spin-up (one interpreter + numpy import per core)
    dominates any one-shot run. `use_pandas=True` remains the right
    choice for long-lived jobs where workers are already warm and
    signatures re-run many times (workers are reused across stages).

    Plan shape (JVM path): exchange(doc_id) → ONE projection computing
    token-hash → per-band min-chain signatures (the let-binding
    `transform(array(x), hs -> ...)` form below) → explode →
    exchange(band, sig) for bucketing → pair expansion → verify join.
    Round-3 rework: the earlier form unrolled num_hashes element_at()
    references plus bands×rows-ary xxhash64 calls into a huge
    expression tree whose first-execution (analysis + codegen) cost was
    ~3 s regardless of data size; the compact HOF tree with literal
    (a, b) constant arrays removes that fixed cost and one exchange
    (signature barrier and banding now share a single projection).
    """
    rows = num_hashes // bands
    spark = docs_with_tokens.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    consts = _minhash_constants(num_hashes)
    if use_pandas:
        # mapInPandas output is materialized columns — no projection
        # collapse can re-inline the signature computation into the
        # banding references. Band sigs chain-hash the r per-band mins
        # (same bucket-equality structure as the fused JVM form: two
        # docs collide iff their r mins are equal, modulo hash
        # collisions).
        sig = minhash_signatures_pandas(docs_with_tokens, num_hashes)
        band_expr = (
            f"transform(sequence(0, {bands - 1}), bi -> "
            f"aggregate(slice(sig_arr, bi * {rows} + 1, {rows}), "
            f"CAST(42 AS BIGINT), (acc, x) -> xxhash64(acc, x)))"
        )
        banded = sig.select(
            "doc_id", F.posexplode(F.expr(band_expr)).alias("band", "sig")
        )
    else:
        # Literal constant tables grouped per band: array of bands,
        # each an array of (a, b) structs — the per-element work reads
        # lambda-bound struct fields, no element_at bounds checks.
        bands_lit = (
            "array("
            + ",".join(
                "array("
                + ",".join(
                    f"struct({a}L AS a, {b}L AS b)"
                    for a, b in consts[bi * rows : (bi + 1) * rows]
                )
                + ")"
                for bi in range(bands)
            )
            + ")"
        )
        # One projection from tokens to band signatures. The
        # `transform(array(<hashes>), hs -> ...)` wrapper is a
        # let-binding: token strings are xxhash64'd ONCE per row and
        # bound to `hs`, then every band/row references the bound
        # array — no repeated tokenization, no materialization
        # exchange needed between signatures and banding. (&0xFFFFFFFF
        # keeps a*h+b < 2^53 — ANSI-safe, no overflow.)
        band_expr = (
            f"element_at(transform(array(transform(w, t -> ({token_hash_sql}) & 4294967295)), "
            f"hs -> transform({bands_lit}, bc -> "
            f"aggregate(bc, CAST(42 AS BIGINT), (acc, c) -> xxhash64(acc, "
            f"array_min(transform(hs, h -> h * c.a + c.b)))))), 1)"
        )
        # The exchange spreads the HOF-heavy projection across all
        # cores (a parquet scan may have far fewer input splits than
        # executor slots) and hashes each token exactly once.
        banded = (
            docs_with_tokens.repartition(par, "doc_id")
            .select("doc_id", F.posexplode(F.expr(band_expr)).alias("band", "sig"))
        )
    # Bucket-local pair expansion instead of a self-join: a self-join
    # would recompute the whole signature pipeline for each side; here
    # the signatures are computed once and pairs come from a per-bucket
    # collect_list. Degenerate buckets are capped (a band whose bucket
    # holds >1000 docs carries no dedup signal, only quadratic cost).
    # dedup=False: the verify's groupBy(a_id, b_id) dedupes pairs that
    # collide in multiple bands — no separate distinct() shuffle.
    cand = _bucket_pairs(banded, ["band", "sig"], "doc_id", dedup=False)
    # Exact-Jaccard verify on candidates only (shared with the blocked
    # path): one corpus scan, plain membership join — candidate volume
    # scales with the corpus, so no forced broadcast (AQE upgrades it
    # when the runtime size is actually small).
    #
    # SHUFFLE-BYTES optimization (round-5 scale probe): the verify join
    # shuffles every candidate doc's shingle array; as strings that is
    # ~40-60 B/shingle, as 64-bit token hashes it is 8 B — a ~6x
    # reduction in the dominant shuffle of the whole pipeline. Jaccard
    # is computed on the hashed sets: set cardinalities (and therefore
    # the jaccard value, which the md5-twin oracle checks for equality)
    # are preserved exactly unless two distinct shingles of one pair
    # collide in 64-bit space (~1e-15 per pair; a collision would also
    # surface as an oracle mismatch). Hashes here are UNMASKED —
    # the signature path's &0xFFFFFFFF overflow guard is not needed
    # for set identity and would double the collision exposure.
    hashed = docs_with_tokens.select(
        "doc_id",
        F.expr(f"transform(w, t -> ({token_hash_sql}))").alias("w"),
    )
    return _jaccard_verify(cand, hashed, threshold)


# Cross-engine deterministic 60-bit token hash: both Spark and DuckDB
# parse the first 15 hex chars of md5 as an integer, so any operator
# built on it can carry an exact ANSI-SQL oracle (`xxhash64` has no
# DuckDB counterpart — operators hashed with it are rows-only checkable).
# Verified bit-identical across engines in tests/test_llm.py.
MD5_HASH60_SPARK = "CAST(conv(substring(md5({t}),1,15),16,10) AS BIGINT)"
MD5_HASH60_DUCK = "CAST(concat('0x', substring(md5({t}),1,15)) AS BIGINT)"


def md5_hash60(c) -> F.Column:
    """`MD5_HASH60_SPARK` as a Column transform (for F.transform lambdas)."""
    return F.conv(F.substring(F.md5(c), 1, 15), 16, 10).cast("long")


def simhash_signatures(
    docs_with_tokens: DataFrame, bits: int = 32, token_hash=None
) -> DataFrame:
    """SimHash: bit i of the signature is the sign of sum over tokens
    of (token-hash bit i ? +1 : -1).

    Shuffle-free per-row form (cf. minhash_signature_col): token hashes
    and all bit-sums are array expressions inside one SQL `aggregate`,
    so there is no explode, no wide aggregation, no exchange. The
    alternative (explode + `bits` conditional sums) pays a shuffle plus
    a giant codegen compile.

    `token_hash`: Column→Column token hash (default xxhash64; pass
    `md5_hash60` for the oracle-replayable variant).

    bits > 64 (the 10M+-doc scale config, see `simhash_pairs`):
    signatures don't fit one BIGINT, so the output column is
    `simhash_words` — an array of 64-bit words, word w built from an
    independent per-word token hash xxhash64(t, w). Requires
    bits % 64 == 0; the custom `token_hash` hook applies only to the
    scalar form (the wide form has no oracle twin — it is pinned by a
    brute-force-equality test instead)."""
    spark = docs_with_tokens.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if bits > 64:
        if bits % 64:
            raise ValueError("wide simhash needs bits % 64 == 0")
        if token_hash is not None:
            raise ValueError(
                "wide simhash uses the built-in per-word token hash"
            )
        n_words = bits // 64
        hs_cols = [
            F.transform("w", lambda t, _w=wd: F.xxhash64(t, F.lit(_w))).alias(
                f"hs{wd}"
            )
            for wd in range(n_words)
        ]
        hs = docs_with_tokens.select("doc_id", *hs_cols).repartition(
            par, "doc_id"
        )  # barrier: hash each token string once per word
        word_sql = (
            "aggregate(sequence(0, 63), CAST(0 AS BIGINT), (acc, i) -> acc"
            " + IF(aggregate({col}, 0, (a, h) -> a +"
            " IF(((h >> i) & 1) = 1, 1, -1)) > 0,"
            " shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)),"
            " CAST(0 AS BIGINT)))"
        )
        return hs.select(
            "doc_id",
            F.array(
                *[F.expr(word_sql.format(col=f"hs{wd}")) for wd in range(n_words)]
            ).alias("simhash_words"),
        )
    sig_sql = f"""
    aggregate(
      sequence(0, {bits - 1}), CAST(0 AS BIGINT),
      (acc, i) -> acc + IF(
        aggregate(hs, 0, (a, h) -> a + IF(((h >> i) & 1) = 1, 1, -1)) > 0,
        shiftleft(CAST(1 AS BIGINT), CAST(i AS INT)), CAST(0 AS BIGINT)))
    """
    th = token_hash if token_hash is not None else F.xxhash64
    hs = docs_with_tokens.select(
        "doc_id", F.transform("w", lambda t: th(t)).alias("hs")
    ).repartition(par, "doc_id")  # barrier: hash each token string once
    return hs.select("doc_id", F.expr(sig_sql).alias("simhash"))


def simhash_pairs(
    docs_with_tokens: DataFrame,
    bits: int = 32,
    max_hamming: int = 3,
    token_hash=None,
    max_bucket: int = 1000,
    band_bits: int = 8,
) -> DataFrame:
    """Near-dup pairs by SimHash hamming distance ≤ max_hamming.

    Candidates: pigeonhole on `band_bits`-wide bands (ham ≤ bands-1 ⇒
    some band is identical), so candidate generation is an equi-join,
    never all-pairs. With `max_bucket` large enough to never drop a
    bucket, the pigeonhole argument makes the result EXACTLY the set
    of pairs at hamming ≤ max_hamming — a deterministic guarantee, not
    a probabilistic one — which is what lets `dedup_simhash_md5` carry
    a full equality oracle.

    SCALE KNOB `band_bits` (round-5 probe finding): bucket keys take
    only `(bits // band_bits) * 2^band_bits` values, so at 8-bit bands
    a 1M-doc corpus averages ~4k docs per bucket — every bucket
    overflows `max_bucket` and is dropped, and the operator silently
    finds NOTHING (measured: pairs/row 0.23 at 100k rows → 0.000 at
    1M). Wider bands scale the bucket space exponentially: bits=64 /
    band_bits=16 gives 4 bands (pigeonhole still covers ham ≤ 3) and
    65k buckets per band — ~15 docs/bucket at 1M rows. Requires
    `bits % band_bits == 0` and, for the exactness guarantee,
    `max_hamming <= bits // band_bits - 1`.

    At ~10M docs even 16-bit bands saturate (the round-5 x1000 probe
    measured r1000 = 24: 10M docs / 65k buckets ≈ 150 docs/bucket, so
    in-bucket pair expansion grows ∝ n²/bucket_space). The scale
    config is a WIDE signature: bits=128 / band_bits=32 keeps the
    ham≤3 pigeonhole (4 bands) with 2^32 buckets per band — occupancy
    stays ~1 through 10⁹ docs. Signatures are array<bigint> words
    (see `simhash_signatures`); bands never straddle words
    (64 % band_bits == 0 enforced)."""
    if bits % band_bits:
        raise ValueError("bits must be a multiple of band_bits")
    n_bands = bits // band_bits
    if max_hamming > n_bands - 1:
        raise ValueError(
            f"pigeonhole needs max_hamming <= n_bands-1 ({n_bands - 1}); "
            f"raise bits or lower band_bits"
        )
    spark = docs_with_tokens.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    if bits > 64:
        if 64 % band_bits:
            raise ValueError("wide simhash needs 64 % band_bits == 0")
        return _simhash_pairs_wide(
            docs_with_tokens, bits, max_hamming, max_bucket, band_bits, par
        )
    # barrier: banding references `simhash` once per band — without
    # materialization each reference re-inlines the signature aggregate
    sig = simhash_signatures(docs_with_tokens, bits, token_hash).repartition(
        par, "doc_id"
    )
    mask = (1 << band_bits) - 1
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(F.col("simhash"), bi * band_bits)
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for bi in range(n_bands)
        ]
    )
    banded = sig.select("doc_id", "simhash", F.explode(band_structs).alias("bs")).select(
        "doc_id", "simhash", F.col("bs.band").alias("band"), F.col("bs.bv").alias("bv")
    )
    # Per-bucket pair expansion carrying (doc_id, simhash) structs: one
    # pass computes signatures, buckets, pairs AND the hamming verify —
    # no self-join, no signature re-join.
    buckets = (
        banded.groupBy("band", "bv")
        .agg(F.collect_list(F.struct("doc_id", "simhash")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(ids, a -> transform(ids, b -> struct(a, b)))),"
                " p -> p.a.doc_id < p.b.doc_id)"
            )
        ).alias("p")
    )
    return (
        pairs.select(
            F.col("p.a.doc_id").alias("a_id"),
            F.col("p.b.doc_id").alias("b_id"),
            F.bit_count(F.col("p.a.simhash").bitwiseXOR(F.col("p.b.simhash")))
            .cast("long")
            .alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


def _simhash_pairs_wide(
    docs_with_tokens: DataFrame,
    bits: int,
    max_hamming: int,
    max_bucket: int,
    band_bits: int,
    par: int,
) -> DataFrame:
    """simhash_pairs for multi-word signatures (bits > 64): same
    band-bucket equi-join + bounded in-bucket pair expansion, with the
    band extracted from its word (bands never straddle words) and the
    hamming verify a zip_with popcount fold over the word arrays."""
    sig = simhash_signatures(docs_with_tokens, bits).repartition(par, "doc_id")
    mask = (1 << band_bits) - 1
    bands_per_word = 64 // band_bits
    n_bands = bits // band_bits
    band_structs = F.array(
        *[
            F.struct(
                F.lit(bi).alias("band"),
                F.shiftright(
                    F.element_at("simhash_words", bi // bands_per_word + 1),
                    (bi % bands_per_word) * band_bits,
                )
                .bitwiseAND(F.lit(mask))
                .alias("bv"),
            )
            for bi in range(n_bands)
        ]
    )
    banded = sig.select(
        "doc_id", "simhash_words", F.explode(band_structs).alias("bs")
    ).select(
        "doc_id",
        "simhash_words",
        F.col("bs.band").alias("band"),
        F.col("bs.bv").alias("bv"),
    )
    buckets = (
        banded.groupBy("band", "bv")
        .agg(F.collect_list(F.struct("doc_id", "simhash_words")).alias("ids"))
        .filter((F.size("ids") > 1) & (F.size("ids") <= max_bucket))
    )
    pairs = buckets.select(
        F.explode(
            F.expr(
                "filter(flatten(transform(ids, a -> transform(ids, b -> struct(a, b)))),"
                " p -> p.a.doc_id < p.b.doc_id)"
            )
        ).alias("p")
    )
    return (
        pairs.select(
            F.col("p.a.doc_id").alias("a_id"),
            F.col("p.b.doc_id").alias("b_id"),
            F.expr(
                "aggregate(zip_with(p.a.simhash_words, p.b.simhash_words,"
                " (x, y) -> CAST(bit_count(x ^ y) AS BIGINT)),"
                " CAST(0 AS BIGINT), (a, b) -> a + b)"
            ).alias("hamming"),
        )
        .distinct()
        .filter(F.col("hamming") <= max_hamming)
    )


# ---------------------------------------------------------------------------
# Catalog entries
# ---------------------------------------------------------------------------


@query(
    "dedup_exact",
    oracle="""
    WITH corpus AS (
      SELECT doc_id, text FROM documents
      UNION ALL
      SELECT doc_id + 1000000 AS doc_id, text FROM documents
    )
    SELECT md5(text) AS text_hash,
           min(doc_id) AS keep_id,
           count(*) AS n_copies
    FROM corpus GROUP BY md5(text)
    """,
)
def q_dedup_exact(spark, sf_dir):
    """Exact dedup over a corpus with planted duplicates (the fixture ∪
    an id-shifted copy of itself): every text has ≥2 copies; survivor is
    the min doc_id."""
    docs = load_table(spark, sf_dir, "documents").select("doc_id", "text")
    corpus = docs.unionByName(
        docs.withColumn("doc_id", F.col("doc_id") + F.lit(1000000))
    )
    return exact_dedup(corpus, "doc_id", "text")


@query(
    "dedup_ngram_jaccard",
    oracle="""
    WITH t AS (
      SELECT doc_id, substr(text, 1, 32) AS blk,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), d AS (
      SELECT doc_id, blk,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                  ELSE [array_to_string(toks, ' ')] END AS w
      FROM t
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           len(list_intersect(a.w, b.w)) * 1.0
                 / len(list_distinct(list_concat(a.w, b.w))) AS jaccard
    FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    WHERE len(list_intersect(a.w, b.w)) * 1.0
          / len(list_distinct(list_concat(a.w, b.w))) >= 0.8
    """,
)
def q_dedup_jaccard(spark, sf_dir):
    """Prefix-blocked 3-gram-shingle Jaccard near-dup detection
    (catches the fixture's planted duplicate pairs; shingles keep
    unrelated small-vocab docs apart)."""
    docs = load_table(spark, sf_dir, "documents")
    return blocked_jaccard_pairs(docs, F.substring("text", 1, 32), threshold=0.8)


_PREFIX_JACCARD_SQL = """
WITH w AS (
  SELECT doc_id,
         list_filter(string_split(text, ' '), x -> x <> '') AS ws
  FROM documents
),
corpus AS (
  SELECT doc_id, ws FROM w
  UNION ALL
  SELECT doc_id + 1000000 AS doc_id,
         ws[1 : len(ws) - len(ws) // 8] AS ws
  FROM w
),
d AS (
  SELECT doc_id,
         CASE WHEN len(ws) >= 3
              THEN list_distinct(list_transform(range(1, len(ws) - 1),
                   i -> ws[i] || ' ' || ws[i+1] || ' ' || ws[i+2]))
              ELSE [array_to_string(ws, ' ')] END AS w
  FROM corpus
  WHERE len(ws) > 0
),
p AS (
  SELECT a.doc_id AS a_id, b.doc_id AS b_id,
         len(list_intersect(a.w, b.w)) AS inter,
         len(a.w) AS sa, len(b.w) AS sb
  FROM d a JOIN d b ON a.doc_id < b.doc_id
)
SELECT a_id, b_id, CAST(inter AS BIGINT) AS inter,
       CAST(sa AS BIGINT) AS sa, CAST(sb AS BIGINT) AS sb,
       CAST((1000000 * inter) // (sa + sb - inter) AS BIGINT)
         AS jaccard_ppm
FROM p
WHERE 5 * inter >= 4 * (sa + sb - inter)
"""


@query("dedup_prefix_jaccard", oracle=_PREFIX_JACCARD_SQL)
def q_dedup_prefix_jaccard(spark, sf_dir):
    """LOSSLESS exact-threshold near-dup join (SSJoin/PPJoin prefix
    filtering) at Jaccard >= 4/5 over 3-shingle sets, on the fixture
    ∪ a planted variant of itself (each doc with its last eighth of
    words trimmed — shingle overlap ≈ 7/8, above threshold). The
    Spark side only ever joins on rarest-first PREFIX tokens with
    length/position integer filters; the oracle computes the ground
    truth from the ALL-PAIRS product, so a single pair lost by the
    filter chain — or gained by a hash collision in the verify —
    breaks the hash match. Complements dedup_minhash_md5
    (probabilistic) and dedup_ngram_jaccard (lossy blocking-key
    candidates)."""
    docs = load_table(spark, sf_dir, "documents")
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    ws = F.filter(F.split(F.col("text"), " "), lambda w: w != "")
    base = docs.select("doc_id", ws.alias("ws"))
    planted = base.select(
        (F.col("doc_id") + F.lit(1000000)).alias("doc_id"),
        F.slice(
            "ws",
            1,
            (F.size("ws") - F.floor(F.size("ws") / 8)).cast("int"),
        ).alias("ws"),
    )
    corpus = (
        base.unionByName(planted)
        .filter(F.size("ws") > 0)
        # the _shingle_sets barrier: the exchange materializes the
        # token array so the shingle lambda's 3n element_at calls
        # read an attribute — without it projection collapse inlines
        # (and re-executes) the split+slice per shingle, ~20x slower
        .repartition(par, "doc_id")
    )
    sets = corpus.select(
        "doc_id", shingles_from_tokens(F.col("ws"), 3).alias("toks")
    )
    return prefix_filter_jaccard_pairs(sets, p=4, q=5)


@query("dedup_minhash_lsh", rows_only_twin="dedup_minhash_md5")  # banding not ANSI-SQL
def q_dedup_minhash(spark, sf_dir):
    """Banding tuned for this corpus: the synthetic vocab is tiny, so
    unrelated docs already share ~0.6 of their word sets — b=4, r=16
    keeps P(candidate) ≈ 0.002 at j=0.62 but ≈ 0.9 at j=0.95 (the
    planted dups)."""
    docs = _shingle_sets(load_table(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(docs, num_hashes=64, bands=4, threshold=0.8)


@query("dedup_simhash", rows_only_twin="dedup_simhash_md5")
def q_dedup_simhash(spark, sf_dir):
    docs = _shingle_sets(load_table(spark, sf_dir, "documents"))
    return simhash_pairs(docs, bits=48, max_hamming=3)


# Shared DuckDB CTE mirroring `_shingle_sets` (tokenize → distinct
# 3-gram shingles) — identical to the dedup_ngram_jaccard oracle's
# shingle construction, which is driver-hash-verified.
_SHINGLE_CTE_SQL = """
    t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), d AS (
      SELECT doc_id,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                  ELSE [array_to_string(toks, ' ')] END AS w
      FROM t
    )"""

_SIMHASH_MD5_SQL = f"""
    WITH {_SHINGLE_CTE_SQL}, tok AS (
      SELECT doc_id, unnest(w) AS s FROM d
    ), h AS (
      SELECT doc_id, {MD5_HASH60_DUCK.format(t='s')} AS h FROM tok
    ), bits AS (
      SELECT doc_id, i.range AS i,
             sum(CASE WHEN (h >> CAST(i.range AS INT)) & 1 = 1
                      THEN 1 ELSE -1 END) AS sgn
      FROM h CROSS JOIN range(32) i GROUP BY doc_id, i.range
    ), sig AS (
      SELECT doc_id,
             CAST(sum(CASE WHEN sgn > 0
                           THEN (CAST(1 AS BIGINT) << CAST(i AS INT))
                           ELSE 0 END) AS BIGINT) AS simhash
      FROM bits GROUP BY doc_id
    )
    SELECT a.doc_id AS a_id, b.doc_id AS b_id,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS BIGINT) AS hamming
    FROM sig a JOIN sig b ON a.doc_id < b.doc_id
    WHERE bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("dedup_simhash_md5", oracle=_SIMHASH_MD5_SQL)
def q_dedup_simhash_md5(spark, sf_dir):
    """SimHash near-dup pairs in the oracle-replayable configuration:
    md5-derived token hashes (bit-identical in Spark and DuckDB — see
    `MD5_HASH60_SPARK`/`MD5_HASH60_DUCK`) and an uncapped byte-band
    pigeonhole, so the output is EXACTLY every pair at hamming ≤ 3 and
    DuckDB can replay the whole computation: signature bits, banding
    recall, and hamming verify all get an independent equality check.
    The production path (`dedup_simhash`) keeps xxhash64 (cheaper: one
    JVM hash vs md5 + hex parse) and the degenerate-bucket cap; this
    configuration exists to prove the shared machinery correct."""
    docs = _shingle_sets(load_table(spark, sf_dir, "documents"))
    return simhash_pairs(
        docs, bits=32, max_hamming=3, token_hash=md5_hash60, max_bucket=1 << 30
    )


def _minhash_md5_oracle(num_hashes: int, bands: int, threshold: float) -> str:
    """DuckDB SQL replaying MinHash+LSH end-to-end: per-band minimum
    vectors compared directly (two docs are band-candidates iff all
    `rows` per-band mins are equal — Spark compares a chained xxhash64
    of the same mins, identical up to a ~2^-64 chain collision that the
    exact-Jaccard verify then rejects), then exact shingle Jaccard."""
    rows = num_hashes // bands
    values = ",\n           ".join(
        f"({j}, {a}, {b})" for j, (a, b) in enumerate(_minhash_constants(num_hashes))
    )
    return f"""
    WITH {_SHINGLE_CTE_SQL}, tok AS (
      SELECT doc_id, unnest(w) AS s FROM d
    ), h AS (
      SELECT doc_id, {MD5_HASH60_DUCK.format(t='s')} & 4294967295 AS h FROM tok
    ), consts(j, a, b) AS (
      VALUES {values}
    ), mins AS (
      SELECT doc_id, c.j AS j, min(CAST(c.a AS BIGINT) * h.h + c.b) AS m
      FROM h CROSS JOIN consts c GROUP BY doc_id, c.j
    ), bsig AS (
      SELECT doc_id, CAST(j // {rows} AS INT) AS band, list(m ORDER BY j) AS sig
      FROM mins GROUP BY doc_id, (j // {rows})
    ), cand AS (
      SELECT DISTINCT a.doc_id AS a_id, b.doc_id AS b_id
      FROM bsig a JOIN bsig b
        ON a.band = b.band AND a.sig = b.sig AND a.doc_id < b.doc_id
    )
    SELECT c.a_id, c.b_id,
           len(list_intersect(da.w, db.w)) * 1.0
               / len(list_distinct(list_concat(da.w, db.w))) AS jaccard
    FROM cand c JOIN d da ON da.doc_id = c.a_id JOIN d db ON db.doc_id = c.b_id
    WHERE len(list_intersect(da.w, db.w)) * 1.0
          / len(list_distinct(list_concat(da.w, db.w))) >= {threshold}
    """


@query("dedup_minhash_md5", oracle=_minhash_md5_oracle(64, 4, 0.8))
def q_dedup_minhash_md5(spark, sf_dir):
    """MinHash+LSH near-dup pairs in the oracle-replayable
    configuration: md5-derived token hashes let DuckDB recompute the
    exact per-band minimum vectors, replay the banding candidate set,
    and re-verify the Jaccard filter — upgrading the flagship sketch
    dedup from rows-only/self-attested to full driver equality. Same
    banding parameters as `dedup_minhash_lsh` (b=4, r=16 — tuned for
    this small-vocab corpus); same `minhash_lsh_pairs` machinery, only
    the token-hash expression differs."""
    docs = _shingle_sets(load_table(spark, sf_dir, "documents"))
    return minhash_lsh_pairs(
        docs,
        num_hashes=64,
        bands=4,
        threshold=0.8,
        token_hash_sql=MD5_HASH60_SPARK.format(t="t"),
    )


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v
      FROM embeddings
    ), n AS (
      SELECT vec_id, v, sqrt(list_dot_product(v, v)) AS nrm FROM e
    )
    SELECT a.vec_id AS a_id, b.vec_id AS b_id,
           round(list_dot_product(a.v, b.v) / (a.nrm * b.nrm), 6) AS cosine
    FROM n a JOIN n b ON a.vec_id < b.vec_id
    WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
    """,
)
def q_dedup_embedding_cosine(spark, sf_dir):
    """Embedding-cosine near-duplicate pairs (exact baseline): all
    pairs with cosine >= 0.4 (this corpus has no planted embedding
    dups — max pairwise cosine ~0.51 — so the threshold selects the
    most-similar tail). Scale path for real corpora = LSH/IVF candidate
    generation (`sim_ann_lsh`/`sim_ann_ivf`) feeding the same exact
    verify."""
    from dynamodb_to_datalake_project_spark.llm.similarity import as_double_vec, dot, norm

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select(
        "vec_id",
        as_double_vec("embedding").alias("v"),
    ).withColumn("nrm", norm(F.col("v")))
    a, b = e.alias("a"), e.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    return (
        a.join(b, F.col("a.vec_id") < F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("a_id"),
            F.col("b.vec_id").alias("b_id"),
            cos.alias("c"),
        )
        .filter(F.col("c") >= 0.4)
        .select("a_id", "b_id", F.round("c", 6).alias("cosine"))
    )


def semantic_cell_dedup(e: DataFrame, assigned: DataFrame, threshold: float = 0.4) -> DataFrame:
    """Shared within-cell cosine dedup (the SemDeDup core): `e` is
    (vec_id, v double[]), `assigned` is (vec_id, cell). Pairwise
    cosine runs only inside each cell (equi-join on the cell key —
    the O(Σ|cell|²) cost model); of every pair ≥ threshold the larger
    vec_id drops. Returns per-cell (cell, n_members, n_dropped,
    n_kept). Both the seed-cell baseline (`dedup_semantic_cells`) and
    the trained-cell query (`dedup_semantic_trained`) call THIS —
    one drop policy, one tie direction, one accounting."""
    from dynamodb_to_datalake_project_spark.llm.similarity import dot, norm

    n = e.join(assigned, "vec_id").withColumn("nrm", norm(F.col("v")))
    a, b = n.alias("a"), n.alias("b")
    cos = dot(F.col("a.v"), F.col("b.v")) / (F.col("a.nrm") * F.col("b.nrm"))
    dropped = (
        a.join(
            b,
            (F.col("a.cell") == F.col("b.cell"))
            & (F.col("a.vec_id") < F.col("b.vec_id")),
        )
        .filter(cos >= threshold)
        .select(F.col("b.vec_id").alias("vec_id"))
        .distinct()
        .withColumn("__dropped", F.lit(True))
    )
    return (
        n.join(dropped, "vec_id", "left")
        .groupBy(F.col("cell").cast("long").alias("cell"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            F.count(F.col("__dropped")).cast("long").alias("n_dropped"),
            F.count(F.when(F.col("__dropped").isNull(), F.lit(1)))
            .cast("long")
            .alias("n_kept"),
        )
        .orderBy("cell")
    )


@query(
    "dedup_semantic_cells",
    oracle="""
    WITH e AS (
      SELECT vec_id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), c AS (
      SELECT vec_id AS cid, v AS cv FROM e WHERE vec_id < 8
    ), d AS (
      SELECT e.vec_id, c.cid,
             list_sum(list_transform(range(1, len(e.v) + 1),
                      i -> (e.v[i] - c.cv[i]) * (e.v[i] - c.cv[i]))) AS d2
      FROM e, c
    ), a AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               row_number() OVER (PARTITION BY vec_id ORDER BY d2, cid) AS rn
        FROM d
      ) WHERE rn = 1
    ), n AS (
      SELECT a.vec_id, a.cid, e.v,
             sqrt(list_dot_product(e.v, e.v)) AS nrm
      FROM a JOIN e USING (vec_id)
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM n a JOIN n b ON a.cid = b.cid AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
    )
    SELECT CAST(n.cid AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) FILTER (WHERE dropped.vec_id IS NOT NULL) AS BIGINT)
             AS n_dropped,
           CAST(count(*) FILTER (WHERE dropped.vec_id IS NULL) AS BIGINT)
             AS n_kept
    FROM n LEFT JOIN dropped ON n.vec_id = dropped.vec_id
    GROUP BY n.cid ORDER BY n.cid
    """,
)
def q_dedup_semantic_cells(spark, sf_dir):
    """SemDeDup-shaped semantic dedup (Abbas et al. 2023: cluster the
    embedding space, then deduplicate WITHIN cells only): vectors
    route to their nearest seed centroid (deterministic vec_id < 8
    seeds, same assignment as `embed_centroid_assign`), pairwise
    cosine runs only inside each cell, and of every pair >= 0.4 the
    larger vec_id is dropped. Reported per cell: members, dropped,
    kept.

    This is the composition that makes semantic dedup tractable at
    100 TB: all-pairs cost falls from O(N^2) to sum of O(|cell|^2) —
    with K balanced cells a K-fold reduction, and cells shard the
    comparison across the cluster (the within-cell join shuffles on
    the cell key). `dedup_embedding_cosine` is the exact all-pairs
    baseline; this is its scale path."""
    from dynamodb_to_datalake_project_spark.llm.similarity import (
        as_double_vec,
        assign_centroids,
    )

    emb = load_table(spark, sf_dir, "embeddings")
    e = emb.select("vec_id", as_double_vec("embedding").alias("v"))
    cents = e.filter(F.col("vec_id") < 8).select(
        F.col("vec_id").alias("cid"), F.col("v").alias("cv")
    )
    assigned = assign_centroids(emb, cents).select(
        "vec_id", F.col("centroid_id").alias("cell")
    )
    return semantic_cell_dedup(e, assigned)


def clean_corpus(
    docs: DataFrame,
    min_tokens: int = 10,
    jaccard_threshold: float = 0.8,
    block_prefix: int = 32,
    max_block: int = 1000,
) -> DataFrame:
    """The full corpus-cleaning pipeline in one plan: quality filter →
    exact dedup (keep smallest doc_id per content) → near-dup prune
    (greedy: of each blocked-Jaccard pair, the larger doc_id is
    dropped). Returns the surviving documents.

    Every stage is a bounded-key shuffle or an anti-join — nothing
    all-pairs (blocks are capped at `max_block` via `_bucket_pairs`),
    nothing driver-side, no forced broadcasts (the drop set scales
    with the near-dup rate; AQE broadcasts it only when actually
    small); this composition is the shape a 100 TB pretraining-corpus
    pass takes.
    """
    from dynamodb_to_datalake_project_spark.llm.text import tokens as _tokens

    quality = docs.filter(F.size(_tokens(F.col("text"))) >= min_tokens)
    # Exact dedup as a W1-family window (keep min doc_id per content
    # hash) — identical semantics to exact_dedup + semi-join but ONE
    # shuffle and no join, and Spark's WindowGroupLimit pushes the
    # rn=1 cut into the partial phase.
    exact_survivors = (
        quality.withColumn(
            "__rn",
            F.row_number().over(
                Window.partitionBy(F.md5(F.col("text"))).orderBy("doc_id")
            ),
        )
        .filter(F.col("__rn") == 1)
        .drop("__rn")
    )
    # Near-dup candidates are blocked on (block key, exact-group
    # representative) built with a hash AGGREGATE over the cheap
    # 3-column projection — NOT by re-running the full-row md5 window
    # (round-2 shape recomputed that window three times; now it runs
    # exactly once, as the final anti-join's probe side). The agg is
    # drop-set-equivalent to blocking on the survivors: the block key
    # is a function of text, so an exact-dup group lands entirely in
    # one block and `min(doc_id)` is exactly the group's surviving
    # representative; map-side partial aggregation collapses duplicate
    # texts before the shuffle, which a window sort cannot.
    blk = F.substring("text", 1, block_prefix)
    cand_src = (
        quality.select(F.md5("text").alias("__h"), blk.alias("blk"), "doc_id")
        .groupBy("__h", "blk")
        .agg(F.min("doc_id").alias("doc_id"))
    )
    cand = _bucket_pairs(cand_src, ["blk"], "doc_id", max_block, dedup=False)
    # Verify against the QUALITY frame (cheaper lineage than survivors;
    # candidate ids are survivor ids, so the membership join touches
    # identical rows and Jaccard values are unchanged).
    par = int(docs.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    d = (
        quality.select("doc_id", _tokens(F.col("text")).alias("toks"))
        .repartition(par, "doc_id")
        .select("doc_id", shingles_from_tokens(F.col("toks"), 3).alias("w"))
        # 64-bit-hash shingles before the verify shuffle (round-5 scale
        # probe; Jaccard on injectively-hashed sets is identical)
        .select("doc_id", F.transform("w", lambda t: F.xxhash64(t)).alias("w"))
    )
    near_pairs = _jaccard_verify(cand, d, jaccard_threshold)
    # The drop set is referenced once (the anti-join's build side), so
    # the candidate+verify pipeline runs once with no materialization
    # barrier; its size scales with the near-dup rate — tiny next to
    # the corpus — and AQE converts the anti-join to broadcast from
    # the RUNTIME size, the same gate a driver-side count would apply
    # without the eager-checkpoint stall it costs.
    drop = near_pairs.select(F.col("b_id").alias("doc_id")).distinct()
    return exact_survivors.join(drop, "doc_id", "left_anti")


@query(
    "corpus_clean",
    oracle="""
    WITH toks AS (
      SELECT doc_id, text, lang, source, n_chars,
             list_filter(string_split(text, ' '), x -> x <> '') AS tk
      FROM documents
    ), quality AS (
      SELECT * FROM toks WHERE len(tk) >= 10
    ), exact_keep AS (
      SELECT min(doc_id) AS doc_id FROM quality GROUP BY md5(text)
    ), survivors AS (
      SELECT q.* FROM quality q JOIN exact_keep k ON q.doc_id = k.doc_id
    ), sh AS (
      SELECT doc_id, substr(text, 1, 32) AS blk,
             CASE WHEN len(tk) >= 3
                  THEN list_distinct(list_transform(range(1, len(tk) - 1),
                       i -> tk[i] || ' ' || tk[i+1] || ' ' || tk[i+2]))
                  ELSE [array_to_string(tk, ' ')] END AS w
      FROM survivors
    ), drops AS (
      SELECT DISTINCT b.doc_id
      FROM sh a JOIN sh b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.w, b.w)) * 1.0
            / len(list_distinct(list_concat(a.w, b.w))) >= 0.8
    )
    SELECT s.doc_id, s.lang, s.source, s.n_chars
    FROM survivors s
    WHERE s.doc_id NOT IN (SELECT doc_id FROM drops)
    """,
)
def q_corpus_clean(spark, sf_dir):
    """Capstone LLM-pipeline query: quality gate + exact dedup +
    near-dup prune composed into one job, checked against an
    independent SQL formulation of the same policy."""
    docs = load_table(spark, sf_dir, "documents")
    return clean_corpus(docs).select("doc_id", "lang", "source", "n_chars")


@query(
    "dedup_per_source_best",
    oracle="""
    SELECT source, doc_id AS keep_id, n_chars
    FROM (
      SELECT source, doc_id, n_chars,
             row_number() OVER (PARTITION BY source
                                ORDER BY n_chars DESC, doc_id ASC) AS rn
      FROM documents
    ) WHERE rn = 1
    """,
)
def q_dedup_per_source_best(spark, sf_dir):
    """Keep-best-representative dedup: one document per source, the
    longest (ties to the smallest id) — the 'canonical page per URL'
    policy of web-corpus pipelines, as a single W1-family window."""
    from dynamodb_to_datalake_project_spark import dedup as _dedup

    docs = load_table(spark, sf_dir, "documents")
    return _dedup.latest_wins(
        docs.select("source", "doc_id", "n_chars"),
        ["source"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
    ).select("source", F.col("doc_id").alias("keep_id"), "n_chars")


def novel_against(
    existing: DataFrame,
    incoming: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_block: int = 1000,
) -> DataFrame:
    """Incremental-ingest dedup: the rows of `incoming` that are novel
    against the already-stored corpus — the continuous-crawl pattern
    where every new batch must be deduped against 100 TB of history
    WITHOUT re-deduping the history against itself.

    Two stages, both incremental-sized:
    1. exact: anti-join on md5(text) — the existing side reduces to a
       distinct hash set (one narrow column off the lake scan).
    2. near: prefix-block equi-join (never a cross join) between the
       incoming batch and the existing corpus, existing side CAPPED at
       `max_block` rows per block (ordered by doc_id — deterministic;
       an oversized block is a degenerate key, see `oversized_buckets`),
       exact shingle-Jaccard verify on the joined rows.

    Cost ∝ |incoming| × (blocks it touches), never ∝ |existing|²; the
    history is scanned once for hashes and once for the touched-block
    shingles (Catalyst prunes both scans to the needed columns).
    """
    ex_hash = existing.select(F.md5(F.col("text")).alias("text_hash")).distinct()
    inc1 = incoming.withColumn("text_hash", F.md5(F.col("text"))).join(
        ex_hash, "text_hash", "left_anti"
    )

    spark = existing.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))

    def side(df: DataFrame) -> DataFrame:
        # ONE exchange per side, keyed by blk — the key the cap window
        # and the candidate join below need anyway, so both reuse this
        # partitioning and the shingle arrays never cross the network:
        # raw text shuffles once, tokenize+shingle run post-shuffle
        # across all partitions. The previous shape repartitioned by
        # doc_id first (parallelism for the shingle compute — the
        # fixture parquet is a single scan split) and then paid a
        # SECOND exchange of the heavier shingle arrays for the
        # blk window (guide §2.4).
        # Documented tradeoff (r11 ADVICE): keying COMPUTE by blk means
        # a degenerate prefix block (boilerplate headers sharing one
        # 32-char prefix) serializes that block's shingle work into one
        # task, where the doc_id shape kept compute balanced and only
        # the cheap cap window skewed. The cap window right below
        # bounds how much of such a block is ever COMPARED
        # (max_block), and corpora where degenerate prefixes dominate
        # should be screened with `oversized_buckets` first (module
        # docstring) — that screen, not a salt, is this pipeline's
        # skew valve, because a salted blk would split the very groups
        # the window must see whole.
        return (
            df.select(
                "doc_id",
                F.substring("text", 1, 32).alias("blk"),
                F.col("text"),
            )
            .repartition(par, "blk")
            .select(
                "doc_id",
                "blk",
                shingles_from_tokens(
                    tokens(F.col("text")), shingle_n
                ).alias("w"),
            )
        )

    w_cap = Window.partitionBy("blk").orderBy("doc_id")
    ex_side = (
        side(existing)
        .withColumn("__rn", F.row_number().over(w_cap))
        .filter(F.col("__rn") <= max_block)
        .drop("__rn")
    )
    inc_side = side(inc1)
    dup_ids = (
        inc_side.alias("i")
        .join(ex_side.alias("e"), "blk")
        .filter(jaccard(F.col("i.w"), F.col("e.w")) >= threshold)
        .select(F.col("i.doc_id").alias("doc_id"))
        .distinct()
    )
    return inc1.join(dup_ids, "doc_id", "left_anti").drop("text_hash")


@query(
    "corpus_ingest_novel",
    oracle="""
    WITH ex AS (SELECT * FROM documents WHERE doc_id % 2 = 0),
         inc AS (SELECT * FROM documents WHERE doc_id % 2 = 1),
         inc1 AS (
           SELECT * FROM inc
           WHERE md5(text) NOT IN (SELECT DISTINCT md5(text) FROM ex)
         ),
         shing AS (
           SELECT doc_id, substr(text, 1, 32) AS blk,
                  CASE WHEN len(toks) >= 3
                       THEN list_distinct(list_transform(range(1, len(toks) - 1),
                            i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                       ELSE [array_to_string(toks, ' ')] END AS w
           FROM (SELECT doc_id, text,
                        list_filter(string_split(text, ' '), x -> x <> '') AS toks
                 FROM documents)
         ),
         exs AS (
           SELECT * FROM shing WHERE doc_id % 2 = 0
           QUALIFY row_number() OVER (PARTITION BY blk ORDER BY doc_id) <= 1000
         ),
         incs AS (
           SELECT s.* FROM shing s JOIN inc1 USING (doc_id)
         ),
         dup AS (
           SELECT DISTINCT i.doc_id
           FROM incs i JOIN exs e ON i.blk = e.blk
           WHERE len(list_intersect(i.w, e.w)) * 1.0
                 / len(list_distinct(list_concat(i.w, e.w))) >= 0.8
         )
    SELECT doc_id, lang, source, n_chars
    FROM inc1 WHERE doc_id NOT IN (SELECT doc_id FROM dup)
    """,
)
def q_corpus_ingest_novel(spark, sf_dir):
    """Incremental ingest: treat even doc_ids as the stored lake and
    odd doc_ids as the incoming crawl batch; keep only incoming docs
    that are neither exact (md5) nor near (blocked shingle-Jaccard
    ≥0.8) duplicates of stored history."""
    docs = load_table(spark, sf_dir, "documents")
    existing = docs.filter(F.col("doc_id") % 2 == 0)
    incoming = docs.filter(F.col("doc_id") % 2 == 1)
    return novel_against(existing, incoming).select(
        "doc_id", "lang", "source", "n_chars"
    )


# ---------------------------------------------------------------------------
# Streaming near-dup ingest — the streaming twin of `corpus_ingest_novel`:
# a continuous crawl feed where every micro-batch must be deduped
# against ALL previously-accepted history, exactly once through crashes
# and restarts. Same epoch-fence idea as `rollup.py`, but the store is
# an APPEND-ONLY manifest (one immutable parquet dir per accepted
# batch, atomic pointer swap of {files, last_epoch}) — at 100 TB the
# accepted corpus is the BIG side and must never be rewritten per
# batch; each refresh costs one batch-sized self-dedup plus
# `novel_against`'s incremental-sized joins against the touched blocks.
# ---------------------------------------------------------------------------

_INGEST_POINTER = "_ingest.json"


def _read_ingest_pointer(store_path: str) -> dict:
    import json as _json
    import os as _os

    p = _os.path.join(store_path, _INGEST_POINTER)
    if not _os.path.isfile(p):
        return {"files": [], "last_epoch": -1}
    with open(p) as f:
        return _json.load(f)


def _commit_ingest_pointer(store_path: str, files: "list[str]", last_epoch: int) -> None:
    """Atomic commit: file visibility and the epoch fence move in one
    os.replace, so a replayed micro-batch can never double-append (a
    pre-swap crash leaves an orphaned batch dir the deterministic
    epoch-named overwrite reclaims on replay)."""
    import json as _json
    import os as _os

    tmp = _os.path.join(store_path, f".{_INGEST_POINTER}.tmp")
    with open(tmp, "w") as f:
        _json.dump({"files": files, "last_epoch": last_epoch}, f)
    _os.replace(tmp, _os.path.join(store_path, _INGEST_POINTER))


def read_ingest_store(spark, store_path: str, schema=None) -> DataFrame:
    """Read the accepted-corpus store (committed batches only)."""
    meta = _read_ingest_pointer(store_path)
    if not meta["files"]:
        if schema is None:
            raise FileNotFoundError(f"no committed ingest batches at {store_path}")
        return spark.createDataFrame([], schema)
    return spark.read.parquet(*meta["files"])


def ingest_novel_batch(
    store: DataFrame | None,
    batch: DataFrame,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_block: int = 1000,
) -> DataFrame:
    """One ingest step, shared verbatim by the streaming sink and its
    batch twin (so stream == batch is equality of plumbing, not luck):
    self-dedup the batch (exact keep-min-doc_id + blocked near-dup
    prune via `clean_corpus` with the quality gate disabled), then
    keep what `novel_against` finds novel vs the accepted store."""
    self_deduped = clean_corpus(
        batch,
        min_tokens=0,
        jaccard_threshold=threshold,
        max_block=max_block,
    )
    if store is None:
        return self_deduped
    return novel_against(
        store, self_deduped, threshold=threshold,
        shingle_n=shingle_n, max_block=max_block,
    )


def make_ingest_batch_fn(
    store_path: str,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_block: int = 1000,
):
    """foreachBatch body: epoch fence → self-dedup + novel_against →
    write the accepted rows as an immutable epoch-named batch dir →
    atomic pointer swap. Replayed epochs ≤ last_epoch are skipped."""
    import os as _os

    def process_batch(batch_df: DataFrame, epoch_id: int) -> None:
        meta = _read_ingest_pointer(store_path)
        if epoch_id <= meta["last_epoch"]:
            return
        spark = batch_df.sparkSession
        store = (
            spark.read.parquet(*meta["files"]) if meta["files"] else None
        )
        novel = ingest_novel_batch(
            store, batch_df, threshold=threshold,
            shingle_n=shingle_n, max_block=max_block,
        )
        batch_dir = _os.path.join(store_path, f"batch-e{int(epoch_id)}")
        novel.write.mode("overwrite").parquet(batch_dir)
        files = meta["files"]
        # an all-duplicate batch commits only the fence (an empty
        # parquet dir in the manifest would poison later unions)
        if any(
            f.startswith("part-") and f.endswith(".parquet")
            for f in _os.listdir(batch_dir)
        ):
            files = files + [batch_dir]
        _commit_ingest_pointer(store_path, files, int(epoch_id))

    return process_batch


def start_streaming_ingest(
    spark,
    source_dir: str,
    schema,
    store_path: str,
    checkpoint: str,
    max_files_per_trigger: int = 1,
    threshold: float = 0.8,
    shingle_n: int = 3,
    max_block: int = 1000,
):
    """Continuous-crawl near-dup ingest: stream JSON document drops,
    dedupe each micro-batch against itself and against all accepted
    history, append survivors to the manifest store exactly once
    (restart-safe: offsets live in the checkpoint, the applied fence
    in the store pointer — a replayed batch is skipped)."""
    import os as _os

    _os.makedirs(store_path, exist_ok=True)
    stream = (
        spark.readStream.schema(schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .json(source_dir)
    )
    return (
        stream.writeStream.foreachBatch(
            make_ingest_batch_fn(
                store_path, threshold=threshold,
                shingle_n=shingle_n, max_block=max_block,
            )
        )
        .option("checkpointLocation", checkpoint)
        .start()
    )


@query(
    "fuzzy_name_pairs",
    oracle="""
    WITH names AS (SELECT p_name, count(*) AS n FROM part GROUP BY p_name),
    b AS (
      SELECT substr(p_name, 1, 4) AS blk, p_name, n FROM names
      QUALIFY count(*) OVER (PARTITION BY blk) <= 1000
    ),
    p AS (
      SELECT a.p_name AS name_a, b2.p_name AS name_b,
             a.n AS n_a, b2.n AS n_b
      FROM b a JOIN b b2 ON a.blk = b2.blk AND a.p_name < b2.p_name
    )
    SELECT name_a, name_b,
           CAST(levenshtein(name_a, name_b) AS BIGINT) AS lev,
           CAST(n_a AS BIGINT) AS n_a, CAST(n_b AS BIGINT) AS n_b
    FROM p WHERE levenshtein(name_a, name_b) <= 4
    """,
)
def q_fuzzy_name_pairs(spark, sf_dir):
    """Fuzzy entity resolution: near-identical name pairs by edit
    distance ≤4 (the fixture vocabulary's near-collision band). Scale discipline: collapse to DISTINCT names first
    (the quadratic step runs on entities, not rows), block by 4-char
    prefix through the capped `_bucket_pairs` expansion (oversized
    blocks dropped, never exploded), and only then pay the
    `levenshtein` verify on surviving candidates. The expensive edit
    distance never touches more than |candidates| pairs."""
    part = load_table(spark, sf_dir, "part")
    names = part.groupBy("p_name").agg(F.count("*").alias("n"))
    cand = _bucket_pairs(
        names.select(F.substring("p_name", 1, 4).alias("blk"), "p_name"),
        ["blk"],
        "p_name",
        dedup=False,  # one blocking key → pairs already unique
    )
    a = names.select(F.col("p_name").alias("a_id"), F.col("n").alias("n_a"))
    b = names.select(F.col("p_name").alias("b_id"), F.col("n").alias("n_b"))
    return (
        cand.join(a, "a_id")
        .join(b, "b_id")
        .withColumn("lev", F.levenshtein(F.col("a_id"), F.col("b_id")).cast("bigint"))
        .filter(F.col("lev") <= 4)
        .select(
            F.col("a_id").alias("name_a"),
            F.col("b_id").alias("name_b"),
            "lev",
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
        )
    )


@query(
    "dedup_containment",
    oracle="""
    WITH t AS (
      SELECT doc_id, substr(text, 1, 32) AS blk,
             list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), d AS (
      SELECT doc_id, blk,
             CASE WHEN len(toks) >= 3
                  THEN list_distinct(list_transform(range(1, len(toks) - 1),
                       i -> toks[i] || ' ' || toks[i+1] || ' ' || toks[i+2]))
                  ELSE [array_to_string(toks, ' ')] END AS w
      FROM t
    ), pairs AS (
      SELECT a.doc_id AS a_id, b.doc_id AS b_id, a.w AS wa, b.w AS wb
      FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
    ), directed AS (
      SELECT a_id AS contained_id, b_id AS container_id,
             len(list_intersect(wa, wb)) * 1.0 / len(wa) AS containment
      FROM pairs
      UNION ALL
      SELECT b_id, a_id, len(list_intersect(wa, wb)) * 1.0 / len(wb)
      FROM pairs
    )
    SELECT contained_id, container_id, containment
    FROM directed WHERE containment >= 0.9
    """,
)
def q_dedup_containment(spark, sf_dir):
    """Asymmetric containment dedup: doc A whose shingle set is ≥90%
    inside doc B (the boilerplate-wrapped / quote-expanded copy that
    symmetric Jaccard misses — a big B drags the union up and the
    Jaccard down, but containment stays 1.0). Same capped-block
    candidate discipline as `blocked_jaccard_pairs`; each surviving
    pair is scored in BOTH directions from one verify join."""
    docs = load_table(spark, sf_dir, "documents")
    spark_par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    cand = _bucket_pairs(
        docs.select(F.substring("text", 1, 32).alias("blk"), "doc_id"),
        ["blk"],
        "doc_id",
        dedup=False,  # one blocking key → pairs already unique
    )
    d = (
        docs.select("doc_id", tokens(F.col("text")).alias("toks"))
        .repartition(spark_par, "doc_id")
        .select("doc_id", shingles_from_tokens(F.col("toks"), 3).alias("w"))
        # 64-bit-hash shingles before the verify shuffle (round-5 scale
        # probe finding; containment ratios on injectively-hashed sets
        # are identical — set cardinalities are preserved)
        .select("doc_id", F.transform("w", lambda t: F.xxhash64(t)).alias("w"))
    )
    sides = cand.select(
        F.explode(
            F.array(
                F.struct(F.col("a_id").alias("doc_id"), F.col("a_id"), F.col("b_id")),
                F.struct(F.col("b_id").alias("doc_id"), F.col("a_id"), F.col("b_id")),
            )
        ).alias("m")
    ).select("m.doc_id", "m.a_id", "m.b_id")
    pairs = (
        d.join(sides, "doc_id")
        .groupBy("a_id", "b_id")
        .agg(
            F.first(
                F.when(F.col("doc_id") == F.col("a_id"), F.col("w")), ignorenulls=True
            ).alias("wa"),
            F.first(
                F.when(F.col("doc_id") == F.col("b_id"), F.col("w")), ignorenulls=True
            ).alias("wb"),
        )
    )
    inter = F.size(F.array_intersect(F.col("wa"), F.col("wb")))
    directed = pairs.select(
        F.col("a_id").alias("contained_id"),
        F.col("b_id").alias("container_id"),
        (inter / F.size("wa")).alias("containment"),
    ).unionAll(
        pairs.select(
            F.col("b_id").alias("contained_id"),
            F.col("a_id").alias("container_id"),
            (inter / F.size("wb")).alias("containment"),
        )
    )
    return directed.filter(F.col("containment") >= 0.9)


def segment_dedup(
    docs: DataFrame,
    seg_tokens: int = 20,
    id_col: str = "doc_id",
    text_col: str = "text",
) -> DataFrame:
    """Cross-corpus segment-level exact dedup — the line/paragraph
    dedup of CCNet/RefinedWeb-style pipelines, generalized to fixed
    `seg_tokens`-token segments (this corpus has no line structure).
    Every segment keeps only its FIRST occurrence corpus-wide (ordered
    by (doc_id, seg_idx)); each document reports how much of it
    survived and an md5 fingerprint of the surviving text (NULL when
    nothing survived — a fully-duplicated document).

    Why sub-document granularity matters: boilerplate (headers,
    navigation, license blocks) repeats across millions of pages that
    are NOT document-level duplicates; removing repeated segments
    recovers that capacity without dropping whole documents.

    Scale shape: tokenize behind one exchange (materializes the token
    array so the per-segment slice() reads an attribute, and spreads a
    few-split scan across cores), ONE explode of ~n_tokens/seg_tokens
    rows per doc, one shuffle keyed on the segment text for the
    keep-first window (bounded keys; a segment duplicated across the
    whole corpus makes a hot partition — the window only materializes
    rank 1, and WindowGroupLimit cuts the rest partial-side), one
    regroup by doc. Nothing all-pairs, nothing driver-side.
    """
    spark = docs.sparkSession
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    base = (
        docs.select(id_col, tokens(F.col(text_col)).alias("toks"))
        .repartition(par, id_col)
        .filter(F.size("toks") >= 1)
    )
    segs = base.select(
        id_col,
        F.posexplode(
            F.transform(
                F.sequence(
                    F.lit(0), F.floor((F.size("toks") - 1) / seg_tokens).cast("int")
                ),
                lambda i: F.array_join(
                    F.slice(F.col("toks"), i * seg_tokens + 1, F.lit(seg_tokens)), " "
                ),
            )
        ).alias("seg_idx", "seg"),
    )
    w = Window.partitionBy("seg").orderBy(id_col, "seg_idx")
    flagged = segs.withColumn("rn", F.row_number().over(w))
    kept_struct = F.when(F.col("rn") == 1, F.struct("seg_idx", "seg"))
    return (
        flagged.groupBy(id_col)
        .agg(
            F.count("*").cast("long").alias("n_segs"),
            F.sum(F.when(F.col("rn") == 1, 1).otherwise(0))
            .cast("long")
            .alias("n_kept"),
            F.array_sort(F.collect_list(kept_struct)).alias("__ks"),
        )
        .select(
            id_col,
            "n_segs",
            "n_kept",
            F.when(
                F.col("n_kept") > 0,
                F.md5(
                    F.array_join(
                        F.transform("__ks", lambda s: s["seg"]), " "
                    )
                ),
            ).alias("kept_hash"),
        )
    )


@query(
    "dedup_segments",
    oracle="""
    WITH t AS (
      SELECT doc_id, list_filter(string_split(text, ' '), x -> x <> '') AS toks
      FROM documents
    ), s AS (
      SELECT doc_id, toks, len(toks) AS n FROM t WHERE len(toks) >= 1
    ), segs AS (
      SELECT doc_id, CAST(u.i AS BIGINT) AS seg_idx,
             array_to_string(list_slice(toks, u.i * 20 + 1,
                                        least(u.i * 20 + 20, n)), ' ') AS seg
      FROM s, LATERAL (SELECT unnest(range(0, (n + 19) // 20)) AS i) u
    ), r AS (
      SELECT doc_id, seg_idx, seg,
             row_number() OVER (PARTITION BY seg ORDER BY doc_id, seg_idx) AS rn
      FROM segs
    )
    SELECT doc_id, CAST(count(*) AS BIGINT) AS n_segs,
           CAST(sum(CASE WHEN rn = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
           md5(string_agg(CASE WHEN rn = 1 THEN seg END, ' ' ORDER BY seg_idx))
             AS kept_hash
    FROM r GROUP BY doc_id
    """,
)
def q_dedup_segments(spark, sf_dir):
    """Segment-level (20-token) cross-corpus exact dedup with per-doc
    survival stats and surviving-text fingerprint."""
    docs = load_table(spark, sf_dir, "documents")
    return segment_dedup(docs, seg_tokens=20)


# ---------------------------------------------------------------------------
# Content-defined chunking — the blob-level dedup primitive (the
# restic/borg/LBFS idea): chunk boundaries come from the CONTENT (a
# rolling-hash condition), so an insertion early in a document only
# reshuffles chunks near the edit instead of shifting every
# fixed-size block. Chunk hashes then dedup storage/shingle tables
# across near-identical revisions.
# ---------------------------------------------------------------------------

#: rolling window / base / modulus / boundary mask for cdc_chunks
CDC_WINDOW, CDC_BASE, CDC_MOD, CDC_MASK = 16, 257, 1_000_003, 63


def cdc_chunks(data: bytes) -> "list[bytes]":
    """Split bytes at content-defined boundaries: position i (≥ window)
    ends a chunk when the Rabin window hash
    Σ data[i-w+j]·B^j mod P ≡ 0 (mod mask+1). Deliberately WITHOUT
    min/max-chunk clamps: each position's verdict is then independent
    of previous boundaries, which keeps the operator exactly
    replayable by a SQL oracle (clamped variants add a sequential
    dependence; they are an optimization, not a semantic change).
    The chunks concatenate back to the input exactly."""
    import numpy as np

    n = len(data)
    if n < CDC_WINDOW:
        return [data] if data else []
    b = np.frombuffer(data, dtype=np.uint8).astype(np.int64)
    powers = np.empty(CDC_WINDOW, dtype=np.int64)
    powers[0] = 1
    for j in range(1, CDC_WINDOW):
        powers[j] = powers[j - 1] * CDC_BASE % CDC_MOD
    # windows ending at i (inclusive): positions CDC_WINDOW-1 .. n-1
    strides = np.lib.stride_tricks.sliding_window_view(b, CDC_WINDOW)
    h = (strides * powers[None, :] % CDC_MOD).sum(axis=1) % CDC_MOD
    cut_after = np.nonzero((h & CDC_MASK) == 0)[0] + CDC_WINDOW
    chunks = []
    at = 0
    for c in cut_after:
        if c > at:
            chunks.append(data[at:c])
            at = c
    if at < n:
        chunks.append(data[at:n])
    return chunks


@query(
    "dedup_cdc_chunks",
    oracle="""
    WITH t AS (
      SELECT doc_id, text, length(text) AS L FROM documents
    ), pos AS (
      -- window hash ending at character i (1-based end position
      -- i = 16..L): sum of code(text[i-16+j]) * 257^j mod 1000003
      SELECT doc_id, u.i,
             CAST(list_sum(list_transform(range(0, 16), j ->
               ord(text[u.i - 15 + j])
               * ([1, 257, 66049, 974545, 457315, 529604, 107820, 709659, 381817, 126675, 555379, 731977, 117525, 203835, 385439, 57526])[j + 1] % 1000003
             )) % 1000003 AS BIGINT) AS h
      FROM t, LATERAL (SELECT unnest(range(16, L + 1)) AS i) u
    ), cuts AS (
      SELECT doc_id, i FROM pos WHERE (h & 63) = 0
    ), agg AS (
      SELECT t.doc_id, t.L,
             COUNT(cuts.i) AS n_cuts,
             COALESCE(MIN(cuts.i), 0) AS first_cut,
             COALESCE(MAX(cuts.i), 0) AS last_cut,
             md5(COALESCE(string_agg(cuts.i, ',' ORDER BY cuts.i), ''))
               AS cuts_md5
      FROM t LEFT JOIN cuts ON cuts.doc_id = t.doc_id
      GROUP BY t.doc_id, t.L
    )
    SELECT doc_id,
           CAST(CASE WHEN n_cuts = 0 THEN 1
                     WHEN last_cut = L THEN n_cuts
                     ELSE n_cuts + 1 END AS BIGINT) AS n_chunks,
           CAST(L AS BIGINT) AS total_bytes,
           CAST(first_cut AS BIGINT) AS first_cut,
           cuts_md5
    FROM agg
    """,
)
def q_dedup_cdc_chunks(spark, sf_dir):
    """Content-defined chunking over the documents table: the REAL
    byte-level Rabin window hash (numpy sliding windows) cuts each
    text into content-addressed chunks; the oracle recomputes every
    window hash position-by-position in SQL (257^j powers mod the
    same prime) and pins the exact cut positions via md5 of the
    comma-joined boundary list. Reassembly equality is asserted
    in-op. 2^53-safe: pow(257,15) < 2^53 so the double-powered
    DuckDB term is exact before the cast."""
    import hashlib

    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark.lake import load_table

    schema = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("n_chunks", T.LongType()),
            T.StructField("total_bytes", T.LongType()),
            T.StructField("first_cut", T.LongType()),
            T.StructField("cuts_md5", T.StringType()),
        ]
    )

    def row(did, text):
        raw = text.encode("utf-8")
        chunks = cdc_chunks(raw)
        assert b"".join(chunks) == raw  # reassembly invariant
        cuts = []
        at = 0
        for c in chunks[:-1]:
            at += len(c)
            cuts.append(at)
        yield (
            did,
            len(chunks),
            len(raw),
            cuts[0] if cuts else (
len(raw) if len(chunks) == 1 and _ends_on_cut(raw)
else 0),
            hashlib.md5(
                ",".join(str(c) for c in _all_cuts(raw))
                .encode()
            ).hexdigest(),
        )

    def _all_cuts(raw: bytes) -> "list[int]":
        import numpy as np

        if len(raw) < CDC_WINDOW:
            return []
        b = np.frombuffer(raw, dtype=np.uint8).astype(np.int64)
        powers = np.empty(CDC_WINDOW, dtype=np.int64)
        powers[0] = 1
        for j in range(1, CDC_WINDOW):
            powers[j] = powers[j - 1] * CDC_BASE % CDC_MOD
        strides = np.lib.stride_tricks.sliding_window_view(b, CDC_WINDOW)
        h = (strides * powers[None, :] % CDC_MOD).sum(axis=1) % CDC_MOD
        return list((np.nonzero((h & CDC_MASK) == 0)[0] + CDC_WINDOW))

    def _ends_on_cut(raw: bytes) -> bool:
        cuts = _all_cuts(raw)
        return bool(cuts) and cuts[-1] == len(raw)

    docs = load_table(spark, sf_dir, "documents")
    return map_rows(docs.select("doc_id", "text"), row, schema, spread=True)
