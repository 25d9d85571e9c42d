"""Distributed k-means training (Lloyd's algorithm), Spark-first.

The repo has both bookends of clustering at scale — deterministic
nearest-centroid ASSIGNMENT (`llm/similarity.assign_centroids`, the
IVF cell router) and cluster CONSUMERS (SemDeDup cells, IVF lists,
cluster-balanced sampling) — but the centroids themselves were always
deterministic seed vectors. This module supplies the missing TRAINING
step: a fixed-iteration Lloyd's loop whose per-iteration cost is

- one corpus scan (assignment against a LITERAL centroid array —
  constant-folded into codegen, zero exchanges, the corpus never
  shuffles to be assigned);
- one k*d-bounded partial aggregation (posexplode → per-(cid, pos)
  exact sums; map-side combine reduces the shuffle to k*d rows per
  task, the classic word-count shape);
- one k*d-row driver collect (the "literal codebook" discipline used
  by the PQ/PCA operators: the MODEL is bounded, the corpus is not).

Reference parity: the reference has no clustering operator
(`SURVEY.md §2` relational surface); this belongs to the LLM-pipeline
north-star set — SemDeDup / IVF / cluster-balanced sampling all need
*trained* cells at 100 TB, and k-means over embeddings is how the
published pipelines (SemDeDup, Abbas et al. 2023; DiverseEvol-style
pruning) obtain them.

Determinism contract (full-hash oracle, NO rounding anywhere):
- seeds: the k vectors with the smallest (md5(id), id) — retry-stable
  and engine-replayable, no RNG;
- distances: sequential index-order folds, same fp operation order in
  Spark (`F.aggregate`) and DuckDB (`list_sum` over an index range);
- new centroids: coordinates are cast to DECIMAL(20,9) per row and
  summed EXACTLY, so the sum is independent of accumulation order;
  mean = CAST(sum AS DOUBLE) / count is one correctly-rounded
  conversion plus one double division. Every centroid coordinate is
  therefore bit-identical between Spark and DuckDB at every
  iteration, and iterations cannot drift apart. NOTE the per-row cast
  CAN hit exact decimal ties — coarse dyadic doubles like 2^-10 =
  0.0009765625 end in a bare 5 at the 10th decimal — so the contract
  additionally relies on both engines breaking ties the same way
  (Spark casts HALF_UP, DuckDB rounds half away from zero: identical
  on every tie). An engine that rounds half-to-even would need the
  tie-free guarantee this comment deliberately does NOT claim.

Fixed iteration count, not a convergence test: at 100 TB each
iteration is a full corpus scan, so production runs budget an exact
number of scans; determinism of the job shape also keeps retries and
oracles exact. Clusters that lose every member simply drop out of the
next iteration (mirrored by the oracle, which rebuilds centroids only
for clusters that received rows).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table
from dynamodb_to_datalake_project_spark.llm.similarity import (
    as_double_vec,
    nearest_centroid,
    sq_dist,
)

__all__ = ["kmeans_train", "maximin_seeds", "parallel_seeds"]


def _literal_centroids(cents: list[tuple[int, list[float]]]) -> F.Column:
    """cid-ascending array<struct<cid, cv>> of literal centroid
    vectors — constant-folded by Catalyst, broadcast-free (it ships
    inside the serialized plan, like the PQ codebooks)."""
    return F.array(
        *[
            F.struct(
                F.lit(int(cid)).cast("long").alias("cid"),
                F.array(*[F.lit(float(x)) for x in vec]).alias("cv"),
            )
            for cid, vec in sorted(cents)
        ]
    )


def _nearest_cid(cs: F.Column, v: F.Column) -> F.Column:
    """cid of the nearest centroid in a literal centroid array — the
    shared `similarity.nearest_centroid` fold (one tie policy, one
    CSE-safe shape, everywhere)."""
    return nearest_centroid(cs, v)["cid"]


#: above this many k*d literals the per-iteration assignment switches
#: from the plan-embedded literal-fold form to an Arrow/BLAS batch
#: form: Catalyst constant-folds literals into generated code (a
#: SemDeDup-scale k — cells bounded => k grows with the corpus —
#: would blow codegen past JIT limits), and the element-at-a-time
#: higher-order-function fold is ~100x slower than a matrix multiply
#: at k=800·d=64 (measured: the x100 semantic probe timed out in the
#: fold form). Trade-off: numpy's dot reassociates fp, so the large-k
#: path gives up per-element replayability — fine, because only the
#: small-k oracle configs need bit-exact distances. Large-k
#: assignments can flip on NEAR-TIES within the accumulated fp error
#: of the reassociated matmul (not just sub-ulp exact ties), and may
#: vary across BLAS builds/machines — deterministic per-environment,
#: not bit-replayable across BLAS implementations; the downstream
#: DECIMAL coordinate sums are order-free either way (tested
#: bit-identical on both paths for the fixture corpora, where no
#: near-ties arise). 2048 keeps every oracle config literal (k=8 · d=64 = 512)
#: while routing k·d ≥ ~5k to BLAS — measured in the semantic probe:
#: at k=80 · d=64 the literal fold was ~10x slower per row than the
#: Arrow path at k=800 (codegen over 5k literals JITs poorly).
_LITERAL_LIMIT = 2048


def _assign_with_vec(emb: DataFrame, cents: list[tuple[int, list[float]]]) -> DataFrame:
    """Input rows + a `cid` column: nearest-centroid assignment
    keeping every input column (the Lloyd update needs the vector).
    Small models (k·d <= `_LITERAL_LIMIT`) use the Arrow EXACT-fold
    stage — bit-identical to the literal `nearest_centroid` Catalyst
    fold it computes (dim-order accumulation via `_exact_d2_rows`,
    strict-< first-wins in cents order), but an order of magnitude
    faster per row (the element-at-a-time codegen fold measured
    ~25 s/scan at 200k×64 where the Arrow stage takes ~4 s) — so the
    oracle-facing small-k configs keep bit-parity AND the Lloyd loop
    stops dominating at scale. Beyond the limit: Arrow batches with
    one BLAS matmul per batch — argmin(‖v-c‖²) = argmin(‖c‖² - 2v·c),
    np.argmin ties to the lowest index = lowest cid (same tie policy);
    reassociated fp, deterministic per-environment only. The centroid
    matrix rides the closure (k·d doubles; at the scale where that
    bothers the task launcher, use a broadcast variable)."""
    import numpy as np

    from pyspark.sql import types as T

    d = len(cents[0][1])
    if len(cents) * d <= _LITERAL_LIMIT:
        # exact path: first-wins ties in the SAME order the literal
        # array would have (the cents list order), distances folded
        # dim-by-dim — bit-identical to the Catalyst fold
        cs = [list(map(float, vec)) for _, vec in cents]
        cid_by_pos = np.array([int(c) for c, _ in cents], dtype=np.int64)

        def op_exact(batches):
            for pdf in batches:
                if len(pdf) == 0:
                    continue
                vv = np.array(pdf["v"].tolist(), dtype=np.float64)
                best = _exact_d2_rows(vv, cs[0])
                pos = np.zeros(len(vv), dtype=np.int64)
                for j, c in enumerate(cs[1:], start=1):
                    d2 = _exact_d2_rows(vv, c)
                    upd = d2 < best
                    best = np.where(upd, d2, best)
                    pos = np.where(upd, j, pos)
                yield pdf.assign(cid=cid_by_pos[pos])

        schema = T.StructType(
            list(emb.schema.fields) + [T.StructField("cid", T.LongType())]
        )
        return emb.mapInPandas(op_exact, schema=schema)

    import numpy as np

    order = sorted(cents)
    mat = np.array([v for _, v in order], dtype=np.float64)
    cids = np.array([int(c) for c, _ in order], dtype=np.int64)
    cn = (mat * mat).sum(axis=1)

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vv = np.array(pdf["v"].tolist(), dtype=np.float64)
            idx = (cn - 2.0 * (vv @ mat.T)).argmin(axis=1)
            yield pdf.assign(cid=cids[idx])

    from pyspark.sql import types as T

    schema = T.StructType(
        list(emb.schema.fields) + [T.StructField("cid", T.LongType())]
    )
    return emb.mapInPandas(op, schema=schema)


def _seed_centroids(emb: DataFrame, k: int) -> list[tuple[int, list[float]]]:
    """k seed vectors by smallest (md5(id), id): TakeOrderedAndProject
    (O(k) heap per partition, k-row driver merge — the A-ES sampler's
    plan shape), deterministic under retry and replayable in ANSI SQL."""
    rows = (
        emb.select("id", "v", F.md5(F.col("id").cast("string")).alias("h"))
        .orderBy("h", "id")
        .limit(k)
        .collect()
    )
    return [(cid, [float(x) for x in r["v"]]) for cid, r in enumerate(rows)]


def maximin_seeds(emb: DataFrame, k: int) -> list[tuple[int, list[float]]]:
    """Farthest-first-traversal seeding (Gonzalez 1985 — the k-center
    2-approximation, the scalable stand-in for k-means++ whose
    sequential sampling is impractical over a distributed corpus):
    s0 is the md5-min vector, each following seed the point with the
    MAXIMUM min-distance to the seeds chosen so far. Each round is one
    corpus scan ending in a 1-row TakeOrdered (O(1) heap per
    partition, 1-row driver merge) against a LITERAL seed array — k-1
    bounded-output scans total, no shuffle anywhere. Deterministic:
    distances are index-order folds, ties (only exact-duplicate
    vectors can tie on doubles) break by (md5, id). If the max
    min-distance hits 0.0 (every remaining point duplicates a chosen
    seed, incl. k > distinct vectors) the traversal truncates — note
    the `_maximin_seed_ctes` oracle does NOT replay that truncation,
    so oracle-compared configs assume ≥ k distinct vectors (true of
    the embeddings fixtures) — and ENFORCE it via
    `kmeans_train(require_k=True)`, which raises instead of silently
    diverging from the oracle."""
    w = emb.select("id", "v", F.md5(F.col("id").cast("string")).alias("h"))
    first = w.orderBy("h", "id").limit(1).collect()
    if not first:
        raise ValueError("maximin_seeds: empty embeddings input")
    seeds = [[float(x) for x in first[0]["v"]]]
    for _ in range(1, k):
        lits = F.array(
            *[F.array(*[F.lit(float(x)) for x in s]) for s in seeds]
        )
        mind = F.array_min(F.transform(lits, lambda c: sq_dist(F.col("v"), c)))
        r = (
            w.select("id", "v", "h", mind.alias("m"))
            .orderBy(F.col("m").desc(), "h", "id")
            .limit(1)
            .collect()[0]
        )
        if r["m"] == 0.0:
            # every remaining point exactly duplicates a chosen seed
            # (also covers k > distinct vectors): stop instead of
            # emitting duplicate seeds that Lloyd would silently
            # collapse — mirrors the md5 init's truncation at n rows
            break
        seeds.append([float(x) for x in r["v"]])
    return list(enumerate(seeds))


def _py_d2(a: list[float], b: list[float]) -> float:
    """Driver-side squared L2, SAME sequential left fold as `sq_dist`
    and the oracle's `list_sum` — bit-identical across all three."""
    s = 0.0
    for x, y in zip(a, b):
        s = s + (x - y) * (x - y)
    return s


def _exact_d2_rows(vv, cand: "list[float]"):
    """Bit-exact numpy reproduction of `sq_dist`'s index-order left
    fold, vectorized ACROSS rows: per dimension, acc += diff·diff —
    the identical IEEE-double add sequence per element as the Catalyst
    fold, so the result is bit-identical, not merely close (numpy's
    own `(vv-c)**2 .sum(axis=1)` pairwise-reassociates and is NOT)."""
    import numpy as np

    acc = np.zeros(len(vv), dtype=np.float64)
    for i, ci in enumerate(cand):
        diff = vv[:, i] - ci
        acc += diff * diff
    return acc


def _arrow_min_d2(emb: DataFrame, cands: "list[list[float]]") -> DataFrame:
    """(id, v) -> (id, v, m): min over candidates of the EXACT fold
    distance, computed in Arrow batches. Bit-identical to the literal
    `array_min(transform(lits, sq_dist))` plan (per-candidate folds
    reproduced dim-by-dim, min is an exact reduction), ~E× faster per
    row than the element-at-a-time codegen fold at large E·rows —
    measured 43 s -> ~2 s for one 24-candidate scan over 200k vectors
    (SCALING.md "x100 graph-family probe", VERDICT r6 ask #7)."""
    import numpy as np

    from pyspark.sql import types as T

    cs = [list(map(float, c)) for c in cands]

    def op(batches):
        for pdf in batches:
            if len(pdf) == 0:
                continue
            vv = np.array(pdf["v"].tolist(), dtype=np.float64)
            m = _exact_d2_rows(vv, cs[0])
            for c in cs[1:]:
                m = np.minimum(m, _exact_d2_rows(vv, c))
            yield pdf.assign(m=m)

    schema = T.StructType(
        list(emb.schema.fields) + [T.StructField("m", T.DoubleType())]
    )
    return emb.mapInPandas(op, schema=schema)


def _arrow_nearest_pos(emb: DataFrame, cands: "list[list[float]]") -> DataFrame:
    """(id, v) -> (pos): index of the nearest candidate under the
    shared strict-< first-wins tie policy (`nearest_centroid`), exact
    folds as `_arrow_min_d2`."""
    import numpy as np

    from pyspark.sql import types as T

    cs = [list(map(float, c)) for c in cands]

    def op(batches):
        import pandas as pd

        for pdf in batches:
            if len(pdf) == 0:
                continue
            vv = np.array(pdf["v"].tolist(), dtype=np.float64)
            best = _exact_d2_rows(vv, cs[0])
            pos = np.zeros(len(vv), dtype=np.int64)
            for j, c in enumerate(cs[1:], start=1):
                d2 = _exact_d2_rows(vv, c)
                upd = d2 < best  # strict <: first (lowest pos) wins ties
                best = np.where(upd, d2, best)
                pos = np.where(upd, j, pos)
            yield pd.DataFrame({"pos": pos})

    return emb.mapInPandas(op, schema=T.StructType([T.StructField("pos", T.LongType())]))


def parallel_seeds(
    emb: DataFrame, k: int, l: int | None = None, rounds: int = 3
) -> list[tuple[int, list[float]]]:
    """k-means|| oversampling initialization (Bahmani et al., VLDB 2012
    "Scalable k-means++") under the repo's md5-determinism contract.

    Why it exists: `maximin_seeds` is k-1 SEQUENTIAL corpus scans —
    fine for small k, serial in k. k-means|| gets spread-out seeds in
    a fixed number of rounds INDEPENDENT of k (the paper's O(log n);
    fixed here for a deterministic job shape), which is the init
    SemDeDup-scale k (cells bounded ⇒ k grows with the corpus)
    actually needs.

    Three phases, all engine-replayable (`_parallel_seed_ctes`):

    1. OVERSAMPLE — c0 is the md5-min vector; then `rounds` passes
       each sample every point independently with the paper's
       probability min(1, l·d²(x,C)/φ) where φ = Σ_x d²(x,C) — except
       the coin is not rand(): u = (h+1)/2^60 from md5("t:id") (the
       A-ES trick, `sampling.weighted_sample_aes`), so any executor,
       any stage retry, and the DuckDB oracle draw the IDENTICAL
       candidate set. φ is an exact DECIMAL sum (accumulation-order-
       free), d² the shared index-order fold, and the comparison
       u·φ < l·d² multiplies engine-identical doubles — no division,
       no rounding. Each round costs two corpus scans against a
       LITERAL candidate array (one φ agg, one filter with expected
       output l rows); candidates stay model-sized (E = 1 + rounds·l).
    2. WEIGHT — one corpus scan counts the points nearest to each
       candidate (ties to lowest candidate position, the shared
       `nearest_centroid` policy).
    3. REDUCE — greedy weighted k-center over the candidates,
       driver-side (the candidate set is model-sized, like every
       collected model in this module): first pick argmax weight,
       then repeatedly argmax weight·min-d² to the picks so far, ties
       by id — a deterministic stand-in for the paper's "recluster
       the weighted centers" step with the same spread-out effect.

    Returns [(cid, vec), ...] with cid = pick order (0..k-1); may be
    shorter than k only when the corpus has fewer than k candidates
    (`kmeans_train(require_k=True)` turns that into a clean error).
    """
    if l is None:
        l = k
    if k < 1 or l < 1 or rounds < 1:
        raise ValueError(
            f"parallel_seeds: need k, l, rounds >= 1, got {k=} {l=} {rounds=}"
        )
    first = (
        emb.select("id", "v", F.md5(F.col("id").cast("string")).alias("h"))
        .orderBy("h", "id")
        .limit(1)
        .collect()
    )
    if not first:
        raise ValueError("parallel_seeds: empty embeddings input")
    # (round, id, vec) in (round, id) order — the oracle's candidate
    # position contract (row_number OVER (ORDER BY rnd, id))
    cands: list[tuple[int, int, list[float]]] = [
        (0, int(first[0]["id"]), [float(x) for x in first[0]["v"]])
    ]
    for t in range(1, rounds + 1):
        # min-d² via the Arrow exact-fold stage (`_arrow_min_d2`):
        # bit-identical to the literal array_min(transform(sq_dist))
        # plan it replaces, but E× faster per row — the literal
        # element-at-a-time fold measured 43 s for ONE 24-candidate
        # scan over 200k vectors where the Arrow stage takes ~2 s
        # (VERDICT r6 ask #7: the init must not dominate training).
        # Lazy checkpoint: the phi aggregation (an action)
        # materializes the distance stage ONCE; the coin filter right
        # after then reads the stored (id, v, m) blocks instead of
        # re-running the candidate folds over the corpus — one fold
        # scan per round, not two (the one-consumer-per-action shape,
        # cf. graph.connected_components).
        scored = _arrow_min_d2(
            emb, [vec for _, _, vec in cands]
        ).localCheckpoint(eager=False)
        phi = scored.agg(
            F.sum(F.col("m").cast("decimal(26,18)")).cast("double").alias("phi")
        ).collect()[0]["phi"]
        if phi is None or phi <= 0.0:
            break  # every point already duplicates a candidate
        u = (
            F.conv(
                F.substring(
                    F.md5(F.concat(F.lit(f"{t}:"), F.col("id").cast("string"))),
                    1,
                    15,
                ),
                16,
                10,
            ).cast("double")
            + F.lit(1.0)
        ) / F.lit(float(1 << 60))
        picked = scored.filter(
            u * F.lit(phi) < F.lit(float(l)) * F.col("m")
        ).select("id", "v").collect()
        if len(picked) > 10_000:
            raise ValueError(
                f"parallel_seeds: round {t} sampled {len(picked)} rows "
                f"(expected ~{l}); the weight distribution is degenerate"
            )
        for r in sorted(picked, key=lambda r: r["id"]):
            cands.append((t, int(r["id"]), [float(x) for x in r["v"]]))

    # WEIGHT: nearest-candidate counts (candidate pos as cid) — same
    # Arrow exact-fold stage, same strict-< first-wins tie policy as
    # the literal nearest_centroid fold it replaces
    counts = {
        r["pos"]: r["n"]
        for r in _arrow_nearest_pos(emb, [vec for _, _, vec in cands])
        .groupBy("pos")
        .agg(F.count("*").alias("n"))
        .collect()
    }

    # REDUCE: greedy weighted k-center (deterministic, SQL-replayed)
    rem = [
        (cid_, vec, int(counts.get(pos, 0)))
        for pos, (_, cid_, vec) in enumerate(cands)
    ]
    picked_c = [sorted(rem, key=lambda c: (-c[2], c[0]))[0]]
    rem.remove(picked_c[0])
    while rem and len(picked_c) < k:
        nxt = sorted(
            rem,
            key=lambda c: (
                -(float(c[2]) * min(_py_d2(c[1], p[1]) for p in picked_c)),
                c[0],
            ),
        )[0]
        picked_c.append(nxt)
        rem.remove(nxt)
    return [(i, vec) for i, (_, vec, _) in enumerate(picked_c)]


def kmeans_train(
    embeddings: DataFrame,
    k: int = 8,
    n_iters: int = 3,
    id_col: str = "vec_id",
    vec_col: str = "embedding",
    init: str = "md5",
    require_k: bool = False,
) -> tuple[list[tuple[int, list[float]]], dict[int, int]]:
    """Train k-means centroids with `n_iters` Lloyd iterations.

    `init`: "md5" (k smallest md5(id) vectors — one cheap scan, fine
    when Lloyd gets enough iterations), "maximin" (farthest-first
    traversal — k-1 extra bounded-output scans buying spread-out
    seeds; serial in k), or "parallel" (k-means|| oversampling — a
    FIXED number of rounds independent of k, the init large-k
    SemDeDup-scale training actually needs; see `parallel_seeds`).

    `require_k`: raise instead of proceeding when seeding truncates
    below k (fewer than k distinct vectors). Oracle-compared configs
    MUST set this (ADVICE r5): `_maximin_seed_ctes` does not replay
    truncation, so without it a degenerate fixture would surface as a
    confusing hash mismatch instead of a clear error.

    Returns (centroids, sizes): the post-update centroid list
    [(cid, [coord, ...]), ...] and the member count of each cluster
    under the final assignment. Feed the centroids to
    `similarity.assign_centroids` (as a DataFrame) for full-corpus
    routing, IVF list construction, or SemDeDup cells.
    """
    if k < 1 or n_iters < 1:
        raise ValueError(f"kmeans_train: need k >= 1 and n_iters >= 1, got {k=} {n_iters=}")
    if init not in ("md5", "maximin", "parallel"):
        raise ValueError(f"kmeans_train: unknown init {init!r}")
    # The (id, v) frame is scanned once per init round / Lloyd
    # iteration (each phi agg, coin filter, weighting pass, and
    # assignment is its own job, and cross-job plans share nothing),
    # so materialize the decoded vectors ONCE — every subsequent scan
    # reads stored blocks instead of re-reading parquet and re-running
    # the as_double_vec conversion. Values are unchanged: the
    # checkpoint stores exactly the rows the scans would recompute.
    emb = embeddings.select(
        F.col(id_col).alias("id"), as_double_vec(F.col(vec_col)).alias("v")
    ).localCheckpoint(eager=True)
    if init == "maximin":
        cents = maximin_seeds(emb, k)
    elif init == "parallel":
        cents = parallel_seeds(emb, k)
    else:
        cents = _seed_centroids(emb, k)
    if not cents:
        raise ValueError("kmeans_train: empty embeddings input")
    if require_k and len(cents) < k:
        raise ValueError(
            f"kmeans_train: seeding truncated to {len(cents)} < k={k} "
            "(fewer than k distinct vectors) and require_k is set — the "
            "SQL oracle does not replay truncation"
        )
    sizes: dict[int, int] = {}
    for _ in range(n_iters):
        assigned = _assign_with_vec(emb, cents)
        stats = (
            assigned.select("cid", F.posexplode("v").alias("pos", "val"))
            .groupBy("cid", "pos")
            .agg(
                F.sum(F.col("val").cast("decimal(20,9)")).alias("s"),
                F.count("*").alias("n"),
            )
            .collect()
        )
        by_cid: dict[int, dict[int, float]] = {}
        sizes = {}
        for r in stats:
            # float(Decimal) is the correctly-rounded double of the
            # exact sum == CAST(sum AS DOUBLE); one division follows.
            by_cid.setdefault(r["cid"], {})[r["pos"]] = float(r["s"]) / r["n"]
            sizes[r["cid"]] = r["n"]
        cents = [
            (cid, [coords[p] for p in sorted(coords)])
            for cid, coords in sorted(by_cid.items())
        ]
    return cents, sizes


_PREFIX_CTES = """
    WITH e AS (
      SELECT vec_id AS id, CAST(embedding AS DOUBLE[]) AS v FROM embeddings
    ), dims AS (
      SELECT UNNEST(range(1, (SELECT MAX(len(v)) FROM e) + 1)) AS pos
    )"""


def _d2_sql(a: str, b: str) -> str:
    """Squared-L2 between two DOUBLE[] expressions, index-order fold —
    the same fp operation order as the Spark-side `F.aggregate`."""
    return (
        f"list_sum(list_transform(range(1, len({a}) + 1), "
        f"j -> ({a}[j] - {b}[j]) * ({a}[j] - {b}[j])))"
    )


def _md5_seed_ctes(k: int) -> str:
    """cent0 = the k vectors with the smallest (md5(id), id)."""
    return f""", seeds AS (
      SELECT id, v, rn - 1 AS cid FROM (
        SELECT id, v,
               row_number() OVER (ORDER BY md5(CAST(id AS VARCHAR)), id) AS rn
        FROM e
      ) WHERE rn <= {k}
    ), cent0 AS (SELECT cid, v AS cv FROM seeds)"""


def _maximin_seed_ctes(k: int) -> str:
    """cent0 via farthest-first traversal (Gonzalez 1985): s0 is the
    md5-min vector; each following seed is the point MAXIMIZING its
    min squared-L2 distance to the seeds chosen so far (ties broken by
    (md5, id) — only exact-duplicate vectors can tie on doubles)."""
    sql = """, s0 AS (
      SELECT id, v FROM e ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1
    )"""
    for j in range(1, k):
        froms = ", ".join(f"s{i}" for i in range(j))
        least = ", ".join(_d2_sql("e.v", f"s{i}.v") for i in range(j))
        sql += f""",
    s{j} AS (
      SELECT id, v FROM (
        SELECT e.id, e.v,
               row_number() OVER (ORDER BY LEAST({least}) DESC,
                                  md5(CAST(e.id AS VARCHAR)), e.id) AS rn
        FROM e, {froms}
      ) WHERE rn = 1
    )"""
    union = "\n      UNION ALL ".join(
        f"SELECT {j} AS cid, v AS cv FROM s{j}" for j in range(k)
    )
    return sql + f""",
    cent0 AS (
      {union}
    )"""


def _parallel_seed_ctes(k: int, l: int | None = None, rounds: int = 3) -> str:
    """cent0 via k-means|| (see `parallel_seeds` — this replays all
    three phases: md5-coin oversampling rounds, nearest-candidate
    weighting, greedy weighted-k-center reduction). The sampling
    comparison u·φ < l·d² uses the A-ES hex-fraction uniform
    (md5 → 60-bit int → double), the exact-DECIMAL φ sum, and the
    shared index-order d² fold, so the candidate set — and therefore
    every downstream seed — is bit-identical to the Spark side."""
    if l is None:
        l = k
    sql = """, pc0 AS (
      SELECT 0 AS rnd, id, v FROM e ORDER BY md5(CAST(id AS VARCHAR)), id LIMIT 1
    )"""
    for t in range(1, rounds + 1):
        u = (
            f"((CAST(CAST('0x' || substr(md5('{t}:' || CAST(d.id AS VARCHAR)),"
            f" 1, 15) AS BIGINT) AS DOUBLE) + 1.0) / 1152921504606846976.0)"
        )
        sql += f""",
    d{t} AS MATERIALIZED (
      SELECT e.id, any_value(e.v) AS v, MIN({_d2_sql("e.v", "c.v")}) AS m
      FROM e, pc{t - 1} c GROUP BY e.id
    ), phi{t} AS (
      SELECT CAST(SUM(CAST(m AS DECIMAL(26,18))) AS DOUBLE) AS phi FROM d{t}
    ), smp{t} AS (
      SELECT {t} AS rnd, d.id, d.v FROM d{t} d, phi{t}
      WHERE {u} * phi < CAST({l} AS DOUBLE) * d.m
    ), pc{t} AS MATERIALIZED (
      SELECT * FROM pc{t - 1} UNION ALL SELECT * FROM smp{t}
    )"""
    sql += f""",
    candf AS MATERIALIZED (
      SELECT id, v, row_number() OVER (ORDER BY rnd, id) - 1 AS pos
      FROM pc{rounds}
    ), asg AS (
      SELECT id, pos FROM (
        SELECT e.id, c.pos,
               row_number() OVER (PARTITION BY e.id
                                  ORDER BY {_d2_sql("e.v", "c.v")}, c.pos) AS rn
        FROM e, candf c
      ) WHERE rn = 1
    ), cw AS MATERIALIZED (
      SELECT c.pos, c.id, c.v, COALESCE(w.n, 0) AS w
      FROM candf c LEFT JOIN (
        SELECT pos, COUNT(*) AS n FROM asg GROUP BY pos
      ) w USING (pos)
    ), g0 AS MATERIALIZED (
      SELECT id, v, w FROM cw ORDER BY w DESC, id LIMIT 1
    )"""
    for j in range(1, k):
        gs = ", ".join(f"g{i}" for i in range(j))
        mind = "LEAST(" + ", ".join(
            _d2_sql("cw.v", f"g{i}.v") for i in range(j)
        ) + ")"
        notin = " UNION ALL ".join(f"SELECT id FROM g{i}" for i in range(j))
        sql += f""",
    g{j} AS MATERIALIZED (
      SELECT cw.id, cw.v, cw.w FROM cw, {gs}
      WHERE cw.id NOT IN ({notin})
      ORDER BY CAST(cw.w AS DOUBLE) * {mind} DESC, cw.id LIMIT 1
    )"""
    union = "\n      UNION ALL ".join(
        f"SELECT {j} AS cid, v AS cv FROM g{j}" for j in range(k)
    )
    return sql + f""",
    cent0 AS (
      {union}
    )"""


def _iter_ctes(n_iters: int) -> str:
    """Unrolled Lloyd iterations (relies on `e`, `dims`, `cent0`):
    per iteration one assignment CTE (row_number argmin over the
    point × centroid cross product — feasible at oracle scale, which
    is exactly why the Spark side folds over a literal array instead)
    and one per-(cid, pos) exact-decimal mean CTE."""
    sql = ""
    for i in range(1, n_iters + 1):
        sql += f""",
    a{i} AS (
      SELECT id, v, cid FROM (
        SELECT e.id, e.v, c.cid,
               row_number() OVER (
                 PARTITION BY e.id
                 ORDER BY list_sum(list_transform(range(1, len(e.v) + 1),
                           j -> (e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j]))), c.cid
               ) AS rn
        FROM e, cent{i - 1} c
      ) WHERE rn = 1
    ), st{i} AS (
      -- len(v) >= pos guard (ADVICE r5): a ragged fixture would
      -- otherwise produce NULL coordinate rows that SUM ignores but
      -- COUNT(*) counts, silently diverging from Spark's per-row
      -- posexplode means instead of failing the hash cleanly
      SELECT cid, dims.pos,
             CAST(SUM(CAST(v[dims.pos] AS DECIMAL(20,9))) AS DOUBLE)
               / COUNT(*) AS m,
             COUNT(*) AS n
      FROM a{i}, dims
      WHERE len(v) >= dims.pos
      GROUP BY cid, dims.pos
    ), cent{i} AS (
      SELECT cid, list(m ORDER BY pos) AS cv FROM st{i} GROUP BY cid
    )"""
    return sql


def _kmeans_ctes(k: int, n_iters: int, init: str = "md5") -> str:
    """Full training CTE chain: prefix + seed CTEs (md5, maximin, or
    k-means||) + unrolled Lloyd iterations."""
    seeds = {
        "md5": _md5_seed_ctes,
        "maximin": _maximin_seed_ctes,
        "parallel": _parallel_seed_ctes,
    }[init](k)
    return _PREFIX_CTES + seeds + _iter_ctes(n_iters)


_FINAL_SELECT = """
    SELECT cid, CAST(pos - 1 AS INT) AS pos, m AS centroid_val,
           CAST(n AS BIGINT) AS n_members
    FROM st{T} ORDER BY cid, pos"""


def _kmeans_oracle(k: int = 8, n_iters: int = 3, init: str = "md5") -> str:
    """ANSI replay of the training queries: the full CTE chain,
    emitting one row per trained coordinate."""
    return _kmeans_ctes(k, n_iters, init) + _FINAL_SELECT.format(T=n_iters)


def _semantic_trained_oracle(k: int = 8, n_iters: int = 2) -> str:
    """ANSI replay of `q_dedup_semantic_trained`: the k-means CTE
    chain, then assignment against the TRAINED `cent{n_iters}` and the
    same within-cell cosine dedup as `dedup_semantic_cells`."""
    return _kmeans_ctes(k, n_iters) + f""",
    af AS (
      SELECT id AS vec_id, cid AS cell FROM (
        SELECT e.id, c.cid,
               row_number() OVER (
                 PARTITION BY e.id
                 ORDER BY list_sum(list_transform(range(1, len(e.v) + 1),
                           j -> (e.v[j] - c.cv[j]) * (e.v[j] - c.cv[j]))), c.cid
               ) AS rn
        FROM e, cent{n_iters} c
      ) WHERE rn = 1
    ), nv AS (
      SELECT af.vec_id, af.cell, e.v,
             sqrt(list_dot_product(e.v, e.v)) AS nrm
      FROM af JOIN e ON e.id = af.vec_id
    ), dropped AS (
      SELECT DISTINCT b.vec_id
      FROM nv a JOIN nv b ON a.cell = b.cell AND a.vec_id < b.vec_id
      WHERE list_dot_product(a.v, b.v) / (a.nrm * b.nrm) >= 0.4
    )
    SELECT CAST(nv.cell AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(count(*) FILTER (WHERE dropped.vec_id IS NOT NULL) AS BIGINT)
             AS n_dropped,
           CAST(count(*) FILTER (WHERE dropped.vec_id IS NULL) AS BIGINT)
             AS n_kept
    FROM nv LEFT JOIN dropped ON nv.vec_id = dropped.vec_id
    GROUP BY nv.cell ORDER BY nv.cell"""


@query("cluster_kmeans_train", oracle=_kmeans_oracle())
def q_cluster_kmeans_train(spark, sf_dir):
    """k-means training on the embeddings table: k=8 md5-seeded
    centroids, 3 Lloyd iterations, emitted as one scalar row per
    (cluster, dimension) — (cid, pos, centroid_val, n_members) — so
    every trained coordinate is value-hash-checked against the
    oracle's full iteration replay. Raw doubles, no rounding: the
    exact-decimal coordinate sums make both engines bit-identical."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, sizes = kmeans_train(emb, k=8, n_iters=3)
    rows = [
        (cid, pos, val, sizes[cid])
        for cid, vec in cents
        for pos, val in enumerate(vec)
    ]
    return spark.createDataFrame(
        rows, "cid long, pos int, centroid_val double, n_members long"
    ).orderBy("cid", "pos")


@query("dedup_semantic_trained", oracle=_semantic_trained_oracle())
def q_dedup_semantic_trained(spark, sf_dir):
    """SemDeDup with TRAINED cells — the composition the paper
    actually runs (Abbas et al. 2023 cluster with k-means, not fixed
    seeds): 2 Lloyd iterations train k=8 centroids, the corpus routes
    to its nearest trained cell, and pairwise cosine dedup runs only
    within cells (threshold 0.4, larger vec_id dropped — identical
    policy to `dedup_semantic_cells`, which keeps the seed-cell
    variant as the fixed-routing baseline). Trained cells matter at
    100 TB because Lloyd balancing shrinks the worst cell: the
    within-cell O(|cell|²) term is the whole cost model, and a single
    oversized seed cell forfeits the K-fold reduction. The oracle
    replays training AND dedup end-to-end — trained coordinates are
    bit-identical across engines, so the downstream cell routing and
    cosine comparisons match exactly."""
    from dynamodb_to_datalake_project_spark.llm.dedup import semantic_cell_dedup
    from dynamodb_to_datalake_project_spark.llm.similarity import assign_centroids

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = kmeans_train(emb, k=8, n_iters=2)
    cdf = spark.createDataFrame(
        [(cid, vec) for cid, vec in cents], "cid long, cv array<double>"
    )
    assigned = assign_centroids(emb, cdf).select(
        "vec_id", F.col("centroid_id").alias("cell")
    )
    e = emb.select("vec_id", as_double_vec("embedding").alias("v"))
    return semantic_cell_dedup(e, assigned)


@query("cluster_kmeans_maximin", oracle=_kmeans_oracle(k=4, n_iters=2, init="maximin"))
def q_cluster_kmeans_maximin(spark, sf_dir):
    """k-means with farthest-first (maximin) initialization: k=4 seeds
    chosen by Gonzalez traversal, then 2 Lloyd iterations — same
    output contract as `cluster_kmeans_train` (one scalar row per
    trained coordinate). The oracle replays the traversal (k-1
    unrolled argmax-of-min-distance CTEs) AND the training; every
    seed pick and trained coordinate is bit-identical across engines,
    so raw doubles hash-match."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, sizes = kmeans_train(emb, k=4, n_iters=2, init="maximin", require_k=True)
    rows = [
        (cid, pos, val, sizes[cid])
        for cid, vec in cents
        for pos, val in enumerate(vec)
    ]
    return spark.createDataFrame(
        rows, "cid long, pos int, centroid_val double, n_members long"
    ).orderBy("cid", "pos")


@query(
    "cluster_kmeans_parallel_init",
    oracle=_kmeans_oracle(k=8, n_iters=2, init="parallel"),
)
def q_cluster_kmeans_parallel_init(spark, sf_dir):
    """k-means with k-means|| (Bahmani) oversampling initialization:
    3 md5-coin sampling rounds (l=k=8 expected candidates each) over
    the corpus, nearest-candidate weighting, greedy weighted-k-center
    reduction to 8 seeds, then 2 Lloyd iterations — same output
    contract as `cluster_kmeans_train`. Unlike maximin's k-1 serial
    scans, the round count is INDEPENDENT of k — this is the init
    shape SemDeDup-scale k needs. The oracle replays the coin flips
    (A-ES hex-fraction uniforms), the exact-decimal φ sums, the
    weighting, the greedy reduction, AND the training, so every seed
    pick and trained coordinate hash-matches as raw doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, sizes = kmeans_train(
        emb, k=8, n_iters=2, init="parallel", require_k=True
    )
    rows = [
        (cid, pos, val, sizes[cid])
        for cid, vec in cents
        for pos, val in enumerate(vec)
    ]
    return spark.createDataFrame(
        rows, "cid long, pos int, centroid_val double, n_members long"
    ).orderBy("cid", "pos")


def _silhouette_oracle(k: int = 8, n_iters: int = 2) -> str:
    """ANSI replay of `q_cluster_silhouette`: training CTEs, then the
    per-point simplified silhouette from the trained centroids and an
    exact-decimal per-cluster mean."""
    return _kmeans_ctes(k, n_iters) + f""",
    ds AS (
      SELECT e.id, c.cid,
             sqrt({_d2_sql("e.v", "c.cv")}) AS dist
      FROM e, cent{n_iters} c
    ), sil AS (
      SELECT id, cid, dist AS a,
             min(dist) OVER (PARTITION BY id
                             ORDER BY dist, cid
                             ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
               AS b,
             row_number() OVER (PARTITION BY id ORDER BY dist, cid) AS rn
      FROM ds
    )
    SELECT CAST(cid AS BIGINT) AS cell,
           CAST(count(*) AS BIGINT) AS n_members,
           CAST(SUM(CAST((b - a) / GREATEST(a, b) AS DECIMAL(22,18)))
                AS DOUBLE) / COUNT(*) AS mean_silhouette
    FROM sil WHERE rn = 1
    GROUP BY cid ORDER BY cid"""


@query("cluster_silhouette", oracle=_silhouette_oracle())
def q_cluster_silhouette(spark, sf_dir):
    """Cluster-quality evaluation: simplified silhouette (Hruschka et
    al. — a(i) = distance to OWN centroid, b(i) = distance to the
    nearest OTHER centroid; O(n·k) map-only against the k trained
    literal centroids, where the exact silhouette's O(n²) pairwise
    distances are the textbook scale trap). Trains k=8 / 2 Lloyd
    iterations, then one corpus scan computes every point's
    (b-a)/max(a,b) and an exact-decimal per-cluster mean. The
    assignment (min distance, ties to lowest cid) is recomputed from
    the same trained centroids on both engines, so the whole chain —
    training, routing, silhouette, mean — hash-matches raw doubles."""
    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = kmeans_train(emb, k=8, n_iters=2)
    lits = _literal_centroids(cents)
    e = emb.select("vec_id", as_double_vec(F.col("embedding")).alias("v"))
    # (dist, cid) per centroid, sorted ascending — struct comparison
    # orders by dist first, then cid: index 0 is the assigned cell,
    # index 1 the nearest other centroid (same tie policy as the
    # oracle's ORDER BY dist, cid)
    ranked = F.array_sort(
        F.transform(
            lits,
            lambda c: F.struct(
                F.sqrt(sq_dist(F.col("v"), c["cv"])).alias("dist"),
                c["cid"].alias("cid"),
            ),
        )
    )
    pt = e.select(
        ranked[0]["cid"].alias("cell"),
        ranked[0]["dist"].alias("a"),
        ranked[1]["dist"].alias("b"),
    )
    sil = (F.col("b") - F.col("a")) / F.greatest(F.col("a"), F.col("b"))
    return (
        pt.groupBy(F.col("cell").cast("long").alias("cell"))
        .agg(
            F.count("*").cast("long").alias("n_members"),
            (
                F.sum(sil.cast("decimal(22,18)")).cast("double") / F.count("*")
            ).alias("mean_silhouette"),
        )
        .orderBy("cell")
    )


def _ivf_trained_oracle(k: int = 8, n_iters: int = 2, n_probe: int = 2, topk: int = 5) -> str:
    """ANSI replay of `q_sim_ann_ivf_trained` — training, corpus cell
    assignment, per-query cell probing, and the shortlist rerank all
    in one chain. This is the point of deterministic training: the
    LOSSY fast configuration becomes fully oracle-checkable (the
    MLlib-cell IVF can only oracle its lossless full-probe twin)."""
    d2q = _d2_sql("q.v", "c.cv")
    d2a = _d2_sql("e.v", "c.cv")
    return _kmeans_ctes(k, n_iters) + f""",
    corpus AS (SELECT id, v FROM e WHERE id >= 8),
    qs AS (SELECT id, v FROM e WHERE id < 8),
    ca AS (
      SELECT id, v, cid FROM (
        SELECT e.id, e.v, c.cid,
               row_number() OVER (PARTITION BY e.id ORDER BY {d2a}, c.cid) AS rn
        FROM corpus e, cent{n_iters} c
      ) WHERE rn = 1
    ), pr AS (
      SELECT id AS query_id, v AS qv, cid AS cell FROM (
        SELECT q.id, q.v, c.cid,
               row_number() OVER (PARTITION BY q.id ORDER BY {d2q}, c.cid) AS rn
        FROM qs q, cent{n_iters} c
      ) WHERE rn <= {n_probe}
    ), cand AS (
      SELECT pr.query_id, ca.id AS neighbor_id,
             round(list_dot_product(pr.qv, ca.v)
                   / (sqrt(list_dot_product(pr.qv, pr.qv))
                      * sqrt(list_dot_product(ca.v, ca.v))), 6) AS cosine
      FROM pr JOIN ca ON ca.cid = pr.cell
    )
    SELECT query_id, neighbor_id, CAST(rnk AS BIGINT) AS rnk, cosine
    FROM (
      SELECT *, row_number() OVER (PARTITION BY query_id
                                   ORDER BY cosine DESC, neighbor_id ASC) AS rnk
      FROM cand
    ) WHERE rnk <= {topk} ORDER BY query_id, rnk"""


@query("sim_ann_ivf_trained", oracle=_ivf_trained_oracle())
def q_sim_ann_ivf_trained(spark, sf_dir):
    """IVF ANN over DETERMINISTICALLY trained cells, in a genuinely
    LOSSY configuration (probe 2 of 8 cells) with a FULL value-hash
    oracle — something `sim_ann_ivf` (MLlib cells, engine-specific)
    can only offer for its lossless full-probe twin. Train k=8 / 2
    Lloyd iterations on all embeddings, assign the corpus
    (vec_id >= 8) to cells, probe each query's 2 nearest cells, and
    exact-rerank only those cells' members (cosine rounded 6, top-5,
    neighbor_id tiebreak). The oracle replays training, routing,
    probing, and rerank end-to-end. Scale shape: probing discipline
    identical to `ann_ivf` — search cost ∝ n_probe/n_lists of the
    corpus, shortlist reads full vectors only for probed cells."""
    from dynamodb_to_datalake_project_spark.llm.similarity import cosine

    emb = load_table(spark, sf_dir, "embeddings")
    cents, _ = kmeans_train(emb, k=8, n_iters=2)
    lits = _literal_centroids(cents)
    e = emb.select("vec_id", as_double_vec("embedding").alias("v"))
    corpus = e.filter(F.col("vec_id") >= 8)
    queries = e.filter(F.col("vec_id") < 8)

    assigned = _assign_with_vec(corpus, cents).select(
        "vec_id", "v", F.col("cid").alias("cell")
    )
    scored = F.array_sort(
        F.transform(
            lits,
            lambda c: F.struct(
                sq_dist(F.col("v"), c["cv"]).alias("d2"),
                c["cid"].alias("cid"),
            ),
        )
    )
    probes = queries.select(
        F.col("vec_id").alias("query_id"),
        F.col("v").alias("qv"),
        F.explode(
            F.transform(F.slice(scored, 1, 2), lambda s: s["cid"])
        ).alias("cell"),
    )
    cand = assigned.join(F.broadcast(probes), "cell").select(
        "query_id",
        F.col("vec_id").alias("neighbor_id"),
        F.round(cosine(F.col("qv"), F.col("v")), 6).alias("cosine"),
    )
    from pyspark.sql import Window

    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    return (
        cand.withColumn("rnk", F.row_number().over(w).cast("long"))
        .filter(F.col("rnk") <= 5)
        .select("query_id", "neighbor_id", "rnk", "cosine")
        .orderBy("query_id", "rnk")
    )
