"""Distributed connected components for duplicate-cluster resolution.

Pairwise near-dup detectors (Jaccard / MinHash / SimHash / cosine —
`llm/dedup.py`) emit EDGES; keeping one representative per duplicate
*group* requires the transitive closure of those edges. Spark has no
built-in CC (GraphFrames is an external package), so this implements
the alternating large-star / small-star algorithm of Kiveris et al.,
"Connected Components in MapReduce and Beyond" (SOCC '14):

- converges in O(log² n) rounds on any graph (label propagation is
  O(diameter) — a chain of re-posted documents makes that linear);
- each half-round is ONE bounded aggregation (per-node neighborhood
  min) and ONE join back — no global state, no driver-side graph;
- every round strictly shrinks edge lengths toward component minima,
  so intermediate edge counts never exceed the input edge count ×2.

Driver involvement is one small `agg().collect()` per round for the
convergence check (count + order-insensitive hash-sum of the edge
set — O(1) rows to the driver). Each round materializes via
`localCheckpoint` to truncate lineage; on a real cluster with flaky
executors, swap for reliable `checkpoint()` to survive node loss.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark import local
from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table


def _canon(e: DataFrame) -> DataFrame:
    """Canonical undirected form: (hi, lo), hi > lo, self-loops
    dropped, deduped."""
    hi = F.greatest("src", "dst")
    lo = F.least("src", "dst")
    return (
        e.select(hi.alias("hi"), lo.alias("lo"))
        .filter(F.col("hi") != F.col("lo"))
        .distinct()
    )


def _large_star(e: DataFrame) -> DataFrame:
    """∀u: connect every neighbor v > u to min(Γ(u) ∪ {u})."""
    directed = e.select(F.col("hi").alias("u"), F.col("lo").alias("v")).unionAll(
        e.select(F.col("lo").alias("u"), F.col("hi").alias("v"))
    )
    m = directed.groupBy("u").agg(F.min("v").alias("mn"))
    m = m.select("u", F.least("mn", "u").alias("m"))
    return _canon(
        directed.join(m, "u")
        .filter(F.col("v") > F.col("u"))
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
    )


def _small_star(e: DataFrame) -> DataFrame:
    """∀u: connect u and all smaller neighbors to the minimum of that
    down-neighborhood."""
    directed = e.select(F.col("hi").alias("u"), F.col("lo").alias("v"))
    m = directed.groupBy("u").agg(F.min("v").alias("m"))
    rewired = (
        directed.join(m, "u")
        .select(F.col("v").alias("src"), F.col("m").alias("dst"))
        .unionAll(m.select(F.col("u").alias("src"), F.col("m").alias("dst")))
    )
    return _canon(rewired)


def _signature(e: DataFrame) -> tuple[int, int]:
    # order-insensitive, overflow-free (XOR, not SUM — ANSI sum of
    # random 64-bit hashes overflows); edges are distinct so XOR
    # cancellation can't occur
    row = e.agg(
        F.count("*").alias("n"),
        F.coalesce(F.expr("bit_xor(xxhash64(hi, lo))"), F.lit(0)).alias("h"),
    ).collect()[0]
    return row["n"], row["h"]


def connected_components(
    edges: DataFrame, src: str, dst: str, max_iter: int = 50
) -> DataFrame:
    """(node, component) for every node appearing in `edges`, where
    component = min node id of its connected component."""
    e = _canon(edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")))
    # eager=False: the first action right below — the bounded collect,
    # or else the convergence-check aggregation — MATERIALIZES the
    # checkpoint, and an over-budget edge set reuses its blocks: one
    # Spark job per round instead of two (checkpoint job + signature
    # job), and the input pairs are computed once. The lineage
    # truncation is identical. NOTE this lazy form is right ONLY for
    # the one-consumer-per-round shape here: A/B showed it REGRESSES
    # the multi-branch model tables (llm/lm.py) and the curation
    # funnel, where several branches of one plan consume the
    # checkpoint and eager materialization feeds them known-size,
    # already-built blocks.
    # Block lifetime: each round's checkpoint supersedes the previous
    # one, but the DataFrame API exposes no handle to free the old
    # generation's blocks deterministically — Spark's ContextCleaner
    # reclaims them only after a driver GC notices the dropped RDD
    # refs. Fine here (log² rounds, edge-set-sized blocks, loop exits
    # quickly); a RESIDENT service running many large CC jobs should
    # lower spark.cleaner.periodicGC.interval (default 30min) — the
    # round-5 x1000 probe measured exactly this accumulation
    # exhausting a local disk across consecutive large jobs
    # (SCALING.md, pairing-probe finding 5).
    e = e.localCheckpoint(eager=False)
    # Size-adaptive resolution (r12): when the canonical edge set of
    # integral ids fits the budget — near-dup pair sets are
    # pair-detector output, orders of magnitude smaller than the
    # corpus — one bounded collect and one vectorized min-propagation
    # replace the alternating-star loop's ~8 AQE stage jobs PER ROUND
    # (identical result by definition: component = min node id,
    # algorithm-independent). Past the budget, or for non-integral
    # node ids, the distributed star loop below runs.
    ids = local.collect_ids(e, _CC_LOCAL_EDGES)
    if ids is not None:
        return _connected_components_local(
            e.sparkSession, ids["hi"], ids["lo"], e.schema["hi"].dataType
        )
    sig = _signature(e)
    for _ in range(max_iter):
        e2 = _small_star(_large_star(e)).localCheckpoint(eager=False)
        sig2 = _signature(e2)
        e = e2
        if sig2 == sig:
            break
        sig = sig2
    else:  # pragma: no cover - max_iter is far above the log² bound
        raise RuntimeError(f"connected_components: no convergence in {max_iter} rounds")
    # converged edge set is a union of stars: hi → component minimum
    members = e.select(F.col("hi").alias("node"), F.col("lo").alias("component"))
    centers = e.select(F.col("lo").alias("node"), F.col("lo").alias("component"))
    return members.unionAll(centers).distinct()


#: collect budget for local component resolution (canonical edges)
_CC_LOCAL_EDGES = 2_000_000

#: broadcast-relation budget (rows) of the 64 MB class Spark broadcasts
#: for joins. It bounds two things:
#: - the NODE-SIZED side of the iterative graph operators' per-round
#:   joins (labels / ranks / frontier / survivor sets).
#:   localCheckpoint scans surface as UnknownPartitioning, so without
#:   the hint every round re-plans a SortMergeJoin that re-exchanges
#:   AND re-sorts the full EDGE table; broadcasting the side that is
#:   one row per node (guide §3.1) leaves the edge stream untouched per
#:   round. Catalyst cannot see these sizes (no stats behind an RDD
#:   scan) — the guard uses the measured node/edge count the operator
#:   already holds;
#: - the edge set `triangle_count` collects and broadcasts as packed
#:   adjacency (4M edges ≈ 64 MB).
_BROADCAST_ROWS = 4_000_000


def _bc_if_small(df: DataFrame, n_rows_bound: int) -> DataFrame:
    """Broadcast-hint `df` when its row bound fits the budget."""
    return F.broadcast(df) if n_rows_bound <= _BROADCAST_ROWS else df


def _connected_components_local(spark, hi, lo, id_type) -> DataFrame:
    """(node, component-min) by vectorized min-label propagation with
    pointer jumping over the collected canonical edge set (int64
    arrays), typed like the input node ids (as the star loop's output
    is)."""
    import numpy as np

    nodes = np.unique(np.concatenate([hi, lo]))
    K = len(nodes)
    ui = np.searchsorted(nodes, hi)
    vi = np.searchsorted(nodes, lo)
    # min-label propagation: parent starts as self; each sweep pushes
    # the smaller endpoint label across every edge, then pointer-jumps
    # (parent = parent[parent]) until fixpoint — O(log diameter)
    # vectorized sweeps, exact min-of-component by monotonicity
    # (labels only decrease, bounded below by the component minimum,
    # and a fixpoint where some node exceeds its component minimum
    # would leave a decreasable edge).
    parent = np.arange(K, dtype=np.int64)
    while True:
        before = parent
        m = np.minimum(parent[ui], parent[vi])
        parent = parent.copy()
        np.minimum.at(parent, ui, m)
        np.minimum.at(parent, vi, m)
        while True:
            nxt = parent[parent]
            if np.array_equal(nxt, parent):
                break
            parent = nxt
        if np.array_equal(parent, before):
            break
    return local.ids_frame(
        spark, {"node": nodes, "component": nodes[parent]}, id_type
    )


def dedup_clusters(
    docs: DataFrame, pairs: DataFrame, id_col: str, a: str, b: str
) -> DataFrame:
    """Label every document with its duplicate-cluster id (component
    minimum; singletons label themselves) and the cluster size."""
    cc = connected_components(pairs, a, b)
    labeled = (
        docs.select(F.col(id_col).alias("node"))
        .join(cc, "node", "left")
        .select(
            F.col("node").alias(id_col),
            F.coalesce("component", "node").alias("cluster_id"),
        )
    )
    sizes = labeled.groupBy("cluster_id").agg(F.count("*").alias("cluster_size"))
    return labeled.join(sizes, "cluster_id").select(id_col, "cluster_id", "cluster_size")


# ---------------------------------------------------------------------------
# Catalog entry
# ---------------------------------------------------------------------------


@query(
    "dedup_clusters_cc",
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
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.w, b.w)) * 1.0
            / len(list_distinct(list_concat(a.w, b.w))) >= 0.8
    ), und AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), cl AS (
      WITH RECURSIVE reach(n, m) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.n, und.v FROM reach JOIN und ON und.u = reach.m
      )
      SELECT n, min(m) AS cluster_id FROM reach GROUP BY n
    )
    SELECT n AS doc_id, cluster_id,
           count(*) OVER (PARTITION BY cluster_id) AS cluster_size
    FROM cl
    """,
)
def q_dedup_clusters(spark, sf_dir):
    """Duplicate clusters: blocked-Jaccard pairs (the oracle-checked
    edge detector) resolved to components by alternating star rounds;
    every document labeled (cluster_id, cluster_size), singletons
    included. The oracle recomputes the same closure with a recursive
    CTE — feasible at oracle scale, which is exactly why the Spark
    side uses large-star/small-star instead."""
    from dynamodb_to_datalake_project_spark.llm.dedup import blocked_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = blocked_jaccard_pairs(docs, F.substring("text", 1, 32), threshold=0.8)
    return dedup_clusters(docs, pairs, "doc_id", "a_id", "b_id")


@query(
    "dedup_cluster_best",
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
      SELECT a.doc_id AS a_id, b.doc_id AS b_id
      FROM d a JOIN d b ON a.blk = b.blk AND a.doc_id < b.doc_id
      WHERE len(list_intersect(a.w, b.w)) * 1.0
            / len(list_distinct(list_concat(a.w, b.w))) >= 0.8
    ), und AS (
      SELECT a_id AS u, b_id AS v FROM pairs
      UNION SELECT b_id, a_id FROM pairs
    ), cl AS (
      WITH RECURSIVE reach(n, m) AS (
        SELECT doc_id, doc_id FROM documents
        UNION
        SELECT reach.n, und.v FROM reach JOIN und ON und.u = reach.m
      )
      SELECT n, min(m) AS cluster_id FROM reach GROUP BY n
    ), lab AS (
      SELECT n AS doc_id, cluster_id,
             count(*) OVER (PARTITION BY cluster_id) AS cluster_size
      FROM cl
    )
    SELECT cluster_id, doc_id, cluster_size, n_chars
    FROM (
      SELECT lab.cluster_id, lab.doc_id, lab.cluster_size, d.n_chars,
             row_number() OVER (PARTITION BY lab.cluster_id
                                ORDER BY d.n_chars DESC, lab.doc_id ASC) AS rn
      FROM lab JOIN documents d ON d.doc_id = lab.doc_id
    )
    WHERE rn = 1
    """,
)
def q_dedup_cluster_best(spark, sf_dir):
    """Capstone: near-dup pairs → connected components → ONE kept
    representative per duplicate cluster (longest text wins, doc_id
    breaks ties). This is the full production dedup decision — the
    pairwise detectors and CC labeling are intermediate products; what
    a training pipeline actually materializes is this kept-set. The
    pick is the shared W1 window helper (partial+final
    WindowGroupLimit around one cluster_id exchange); singleton
    clusters pass through untouched."""
    from dynamodb_to_datalake_project_spark import dedup as core_dedup
    from dynamodb_to_datalake_project_spark.llm.dedup import blocked_jaccard_pairs

    docs = load_table(spark, sf_dir, "documents")
    pairs = blocked_jaccard_pairs(docs, F.substring("text", 1, 32), threshold=0.8)
    labeled = dedup_clusters(docs, pairs, "doc_id", "a_id", "b_id")
    return core_dedup.latest_wins(
        labeled.join(docs.select("doc_id", "n_chars"), "doc_id"),
        ["cluster_id"],
        [F.col("n_chars").desc(), F.col("doc_id").asc()],
    ).select("cluster_id", "doc_id", "cluster_size", "n_chars")


# ---------------------------------------------------------------------------
# PageRank (graph-quality ranking)
# ---------------------------------------------------------------------------


def pagerank(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    n_iter: int = 5,
    damping: float = 0.85,
    checkpoint_every: int | None = None,
    weight: str | None = None,
) -> DataFrame:
    """Fixed-iteration PageRank over an edge list: (node, pr).

    `weight`: optional edge-weight column — contributions become
    pr·w/strength(src) instead of pr/deg(src). Weighted edges must be
    PRE-AGGREGATED (one row per (src, dst)) with strictly positive
    weights — both ENFORCED with a ValueError (checked off the same
    shuffle that computes out-strength, so the validation costs no
    extra pass) — and weights should be exactly summable across any
    accumulation order — integers/longs, or integral-valued doubles —
    or the out-strength sum (and therefore the whole result) stops
    being engine-deterministic. The unweighted path dedups edges
    itself.

    Web-curation pipelines rank HOSTS by link centrality and use the
    score as a document-quality prior (the CommonCrawl host-graph
    ranking behind CCNet/RefinedWeb-style filtering); this is that
    operator. Fixed iteration count, not convergence-tested: the score
    is a *feature*, and a deterministic job shape (exactly `n_iter`
    shuffle rounds) is worth more at 100 TB than the last 1e-6 of
    convergence.

    Contract: every node must appear as BOTH a src and a dst of at
    least one edge (pass the symmetric closure for undirected graphs,
    as `q_graph_pagerank` does). Dangling-mass redistribution is out
    of scope — nodes with no out-edges would leak rank mass silently,
    so feed symmetric edges instead.

    Scale path: degrees and the degree-annotated edge list are
    materialized ONCE (eager localCheckpoint — consumed `n_iter`
    times). Each iteration's rank join BROADCASTS the rank table (one
    row per node, size-guarded — checkpoint scans carry no
    partitioning info for Catalyst, so a sort-merge join would
    re-exchange and re-sort the edges every round; r12) and streams
    the edge table. Each iteration is join → per-edge contribution →
    per-node aggregation; contributions are cast to DECIMAL(28,18) and
    summed EXACTLY so the result is independent of accumulation order
    (the catalog's float-determinism policy: per-row double ops are
    bit-identical across engines, unordered double SUMs are not).
    Unlike the CC loop above, iterations are NOT checkpointed: a
    fixed-depth loop over stationary edges has bounded lineage (one
    shuffle pair per iteration, recomputation already fenced by
    persisted shuffle files), and the per-iteration lazy
    localCheckpoint forced each round to materialize as its own job —
    measured within-session at sf0.1: 13.5 s checkpointed vs 5.3 s as
    one pipelined DAG (2.6×). For very deep loops (n_iter ≳ 30, where
    planning cost over the growing DAG starts to bite) pass
    `checkpoint_every` to truncate periodically.
    """
    # The edge table is consumed TWICE by separate JOBS (the deg
    # checkpoint, then the ew checkpoint) — without materialization
    # the full upstream edge plan (for the catalog queries: a
    # lineitem⋈orders join + distinct + union) executes once per job,
    # and cross-job plans share no exchanges. One eager checkpoint
    # runs that plan once; the two downstream jobs read stored blocks.
    if weight is None:
        e = (
            edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
            .distinct()
            .localCheckpoint(eager=True)
        )
        deg = e.groupBy("src").agg(F.count("*").alias("deg"))
        deg = deg.localCheckpoint(eager=True)
    else:
        e = edges.select(
            F.col(src).alias("src"),
            F.col(dst).alias("dst"),
            F.col(weight).alias("w"),
        ).localCheckpoint(eager=True)
        # Fail fast on the two contract violations the docstring used to
        # merely describe (ADVICE r5): non-positive/null weights poison
        # the out-strength divisor, and duplicate (src, dst) rows double
        # -count it. Both checks ride the SAME shuffle as the strength
        # aggregation (extra agg columns, no extra pass over the edges)
        # and are read off the node-sized checkpointed table.
        deg = e.groupBy("src").agg(
            F.sum("w").alias("deg"),
            F.min("w").alias("_min_w"),
            F.count("*").alias("_n"),
            F.count(F.col("dst")).alias("_n_dst"),
            F.count_distinct(F.col("dst")).alias("_nd"),
        )
        deg = deg.localCheckpoint(eager=True)
        bad = (
            deg.filter(
                F.col("_min_w").isNull()
                | (F.col("_min_w") <= 0)
                | (F.col("_n") > F.col("_n_dst"))
                | (F.col("_n_dst") > F.col("_nd"))
            )
            .limit(1)
            .collect()
        )
        if bad:
            r = bad[0]
            if r["_min_w"] is None or r["_min_w"] <= 0:
                raise ValueError(
                    f"pagerank: non-positive or null edge weight at src="
                    f"{r['src']!r} (min w = {r['_min_w']!r}); weights must "
                    "be > 0 or the rank division is undefined"
                )
            # count(dst) skips NULLs while count(*) does not, so a gap
            # between them is a NULL-dst edge — a distinct defect from
            # genuine duplicates, which count_distinct alone would
            # misreport (ADVICE r6).
            if r["_n"] > r["_n_dst"]:
                raise ValueError(
                    f"pagerank: NULL dst on {r['_n'] - r['_n_dst']} weighted "
                    f"edge(s) at src={r['src']!r}; drop or repair null-"
                    "destination edges before ranking"
                )
            raise ValueError(
                f"pagerank: duplicate (src, dst) weighted edges at src="
                f"{r['src']!r} ({r['_n_dst']} rows over {r['_nd']} distinct "
                "dst); pre-aggregate to one row per edge — duplicates "
                "double-count out-strength"
            )
        deg = deg.select("src", "deg")
    ew = (
        e.join(deg, "src")
        .repartition(F.col("src"))
        .localCheckpoint(eager=True)
    )
    n_nodes = deg.count()
    if n_nodes == 0:
        raise ValueError("pagerank: empty edge list (no nodes)")
    base = 0.15 / n_nodes if damping == 0.85 else (1.0 - damping) / n_nodes
    ranks = deg.select(F.col("src").alias("node"), F.lit(1.0 / n_nodes).alias("pr"))
    for it in range(n_iter):
        # ranks descends from deg/ew, so qualify the self-joinish
        # column references through explicit aliases. The rank table
        # is ONE ROW PER NODE — broadcast it (size-guarded) so the
        # edge table is never re-exchanged/re-sorted per round (the
        # checkpointed edge scan is UnknownPartitioning to Catalyst,
        # so the former SortMergeJoin paid both, every round).
        r = _bc_if_small(ranks, n_nodes).alias("r")
        w = ew.alias("w")
        contrib = (
            F.col("r.pr") / F.col("w.deg")
            if weight is None
            else F.col("r.pr") * F.col("w.w") / F.col("w.deg")
        )
        contribs = r.join(w, F.col("r.node") == F.col("w.src")).select(
            F.col("w.dst").alias("node"),
            contrib.cast("decimal(28,18)").alias("c"),
        )
        ranks = (
            contribs.groupBy("node")
            .agg(F.sum("c").alias("s"))
            .select(
                "node",
                (
                    F.lit(base) + F.lit(damping) * F.col("s").cast("double")
                ).alias("pr"),
            )
        )
        if checkpoint_every and (it + 1) % checkpoint_every == 0:
            ranks = ranks.localCheckpoint(eager=False)
    return ranks


def _pagerank_oracle(n_iter: int = 5) -> str:
    """Unrolled-iteration ANSI replay of `q_graph_pagerank`: one CTE
    per iteration (no recursion — DuckDB recursive CTEs can't carry
    the aggregation), DECIMAL(28,18)-exact contribution sums and
    double literals mirroring the Spark arithmetic bit for bit."""
    sql = """
    WITH pairs AS (
      SELECT DISTINCT l.l_suppkey * 2 AS s, o.o_custkey * 2 + 1 AS c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT s AS src, c AS dst FROM pairs UNION ALL SELECT c AS src, s AS dst FROM pairs
    ), deg AS (
      SELECT src, COUNT(*) AS deg FROM edges GROUP BY src
    ), nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg)"""
    for i in range(1, n_iter + 1):
        sql += f""",
    r{i} AS (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
             + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(r.pr / d.deg AS DECIMAL(28,18))) AS DOUBLE) AS pr
      FROM r{i - 1} r JOIN edges e ON e.src = r.node JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )"""
    return sql + f"\n    SELECT node, pr FROM r{n_iter} ORDER BY node"


@query("graph_pagerank", oracle=_pagerank_oracle())
def q_graph_pagerank(spark, sf_dir):
    """PageRank over the supplier↔customer trade graph: distinct
    (l_suppkey, o_custkey) pairs from lineitem⋈orders, node-encoded
    injectively (supplier → 2k, customer → 2k+1), symmetrized so
    every node has out-edges, then 5 damped iterations. Suppliers are
    high-degree hubs, so their ranks separate cleanly from the
    customer mass — a real centrality computation, not
    degree-proportional noise. The oracle replays all 5 iterations as
    unrolled CTEs; exact decimal contribution sums make both engines
    bit-identical, so raw doubles hash-match with no rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    sym = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    return pagerank(sym, n_iter=5).orderBy("node")


def _pagerank_weighted_oracle(n_iter: int = 5) -> str:
    """Unrolled ANSI replay of `q_graph_pagerank_weighted`: same shape
    as `_pagerank_oracle`, with integral edge weights (lineitem counts
    — exactly summable in any order) replacing the uniform 1/deg
    split."""
    sql = """
    WITH pairs AS (
      SELECT l.l_suppkey * 2 AS s, o.o_custkey * 2 + 1 AS c,
             COUNT(*) AS w
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
      GROUP BY 1, 2
    ), edges AS (
      SELECT s AS src, c AS dst, w FROM pairs
      UNION ALL SELECT c AS src, s AS dst, w FROM pairs
    ), deg AS (
      SELECT src, SUM(w) AS deg FROM edges GROUP BY src
    ), nn AS (SELECT COUNT(*) AS n FROM deg),
    r0 AS (SELECT src AS node, CAST(1.0 AS DOUBLE) / (SELECT n FROM nn) AS pr FROM deg)"""
    for i in range(1, n_iter + 1):
        sql += f""",
    r{i} AS (
      SELECT e.dst AS node,
             CAST(0.15 AS DOUBLE) / (SELECT n FROM nn)
             + CAST(0.85 AS DOUBLE) * CAST(SUM(CAST(r.pr * e.w / d.deg AS DECIMAL(28,18))) AS DOUBLE) AS pr
      FROM r{i - 1} r JOIN edges e ON e.src = r.node JOIN deg d ON d.src = e.src
      GROUP BY e.dst
    )"""
    return sql + f"\n    SELECT node, pr FROM r{n_iter} ORDER BY node"


@query("graph_pagerank_weighted", oracle=_pagerank_weighted_oracle())
def q_graph_pagerank_weighted(spark, sf_dir):
    """Weighted PageRank over the trade graph: the same symmetrized
    supplier↔customer node encoding as `graph_pagerank`, but each edge
    carries the lineitem count between the pair, so rank flows in
    proportion to trade VOLUME rather than mere adjacency — the shape
    host-graph quality priors actually use (links weighted by
    frequency). Integral weights keep the out-strength sums exact in
    any accumulation order, so the engine-determinism contract (and
    the raw-double oracle hash) carries over unchanged."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .groupBy(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .agg(F.count("*").alias("w"))
    )
    sym = pairs.select(
        F.col("s").alias("src"), F.col("c").alias("dst"), "w"
    ).unionAll(pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"), "w"))
    return pagerank(sym, n_iter=5, weight="w").orderBy("node")


def label_propagation(
    edges: DataFrame, src: str = "src", dst: str = "dst", n_iter: int = 4
) -> DataFrame:
    """Fixed-iteration SYNCHRONOUS label propagation over an edge
    list: (node, label) — community detection (Raghavan 2007), the
    host/domain-clustering shape web-curation pipelines use to find
    mirror farms and template families that pairwise dedup misses.

    Deterministic by construction (the classic LPA pitfall is random
    tie-breaking): every node starts as its own label; each round
    every node adopts the label with the highest neighbor count,
    ties broken by SMALLEST label. Synchronous update (all nodes step
    on the previous round's labels), fixed `n_iter` — a deterministic
    job shape over convergence testing, same policy as `pagerank`.

    Contract: pass the symmetric closure (every node appears as both
    src and dst), as with `pagerank`. Raises on an empty edge list.

    Scale path: the deduped edge list is materialized ONCE (eager
    checkpoint, consumed every round); each iteration BROADCASTS the
    node-sized label table into the join (size-guarded — the
    checkpoint scan carries no partitioning info for Catalyst, so a
    sort-merge join would re-exchange and re-sort the edges every
    round; r12) and runs
    ONE node-keyed `mode(label, deterministic=true)` aggregation —
    Spark's deterministic mode returns the lowest value among
    equally-frequent ones, which is exactly this operator's tie-break,
    and its ObjectHashAggregate buffers build per-node label→count
    maps MAP-SIDE (buffer bounded by degree), so the single exchange
    per round ships node-sized partials, not the edge-sized
    (node, label) pair stream. (A/B on the sf0.1 bench: the two-agg
    form — (node,label) count then max(struct) argmax — paid two
    edge-scale exchanges per round and ran 10.3 s vs pagerank's 3.9 s
    on the same graph; the mode form collapses that.) No windows, no
    driver state; all arithmetic is integral, so the result is
    bit-identical across engines with no decimal machinery."""
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .repartition(F.col("src"))
        .localCheckpoint(eager=True)
    )
    labels = e.select("src").distinct().select(
        F.col("src").alias("node"), F.col("src").alias("label")
    )
    n_nodes = labels.count()  # also the former emptiness check
    if n_nodes == 0:
        raise ValueError("label_propagation: empty edge list (no nodes)")
    for _ in range(n_iter):
        # the label table is one row per node — broadcast it
        # (size-guarded) so the edge table is never re-exchanged or
        # re-sorted per round (the checkpoint scan carries
        # UnknownPartitioning, so the SortMergeJoin otherwise pays
        # both, every round, despite the one-time src repartition)
        l = _bc_if_small(labels, n_nodes).alias("l")
        w = e.alias("w")
        labels = (
            l.join(w, F.col("l.node") == F.col("w.src"))
            .groupBy(F.col("w.dst").alias("node"))
            .agg(F.mode(F.col("l.label"), True).alias("label"))
        )
    return labels


def _lpa_oracle(n_iter: int = 4) -> str:
    """Unrolled ANSI replay of `q_graph_label_propagation`: one CTE
    per round — neighbor-label counts then ROW_NUMBER argmax with the
    same (count DESC, label ASC) tie-break. Purely integral, so the
    hash match needs no float policy at all."""
    sql = """
    WITH pairs AS (
      SELECT DISTINCT l.l_suppkey * 2 AS s, o.o_custkey * 2 + 1 AS c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), edges AS (
      SELECT s AS src, c AS dst FROM pairs UNION ALL SELECT c AS src, s AS dst FROM pairs
    ),
    l0 AS (SELECT DISTINCT src AS node, src AS label FROM edges)"""
    for i in range(1, n_iter + 1):
        sql += f""",
    l{i} AS (
      SELECT node, label FROM (
        SELECT e.dst AS node, l.label AS label, COUNT(*) AS cnt,
               ROW_NUMBER() OVER (
                 PARTITION BY e.dst ORDER BY COUNT(*) DESC, l.label ASC
               ) AS rn
        FROM l{i - 1} l JOIN edges e ON e.src = l.node
        GROUP BY e.dst, l.label
      ) t WHERE rn = 1
    )"""
    return (
        sql
        + f"""
    SELECT CAST(node AS BIGINT) AS node, CAST(label AS BIGINT) AS label
    FROM l{n_iter} ORDER BY node"""
    )


@query("graph_label_propagation", oracle=_lpa_oracle())
def q_graph_label_propagation(spark, sf_dir):
    """Community detection over the supplier↔customer trade graph
    (same symmetrized encoding as `graph_pagerank`): 4 synchronous
    label-propagation rounds with deterministic min-label
    tie-breaking. The oracle replays every round as unrolled CTEs;
    all-integer arithmetic makes the match exact by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    sym = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    return (
        label_propagation(sym, n_iter=4)
        .select(F.col("node").cast("long"), F.col("label").cast("long"))
        .orderBy("node")
    )


def modularity(edges: DataFrame, labels: DataFrame) -> DataFrame:
    """Newman modularity Q of a community assignment over a SYMMETRIC
    edge list — the standard "are these communities real" score
    (Q > 0.3 is conventionally 'significant structure'; random
    partitions score ~0). One row: community count, within-community
    directed-edge count, 2m, Σ deg_c², and Q.

    Exactness: Q = (within·2m − Σ deg_c²) / (2m)² — numerator and
    denominator are exact integers aggregated in any order, and the
    single final double division is bit-identical across engines
    (the catalog float policy), so the score hash-matches with no
    rounding.

    Scale shape: two label-table joins against the edge list (node-
    keyed, same partitioning as every LPA round), one node-keyed
    degree agg, one label-keyed sum — all bounded by O(edges) +
    O(nodes); the final combine is a 1-row crossJoin of three scalar
    aggregates. Both inputs are consumed by multiple branches (labels
    3x, edges 3x), so both are materialized eagerly once — the
    multi-consumer checkpoint rule (cf. llm/lm.py): without it each
    branch re-executes the full upstream plan (for LPA labels, 4
    rounds of join+mode), tripling the query. Measured at sf0.1:
    6.2 s -> 4.9 s (the remainder is LPA itself at ~2.9 s plus the
    scoring joins)."""
    e = edges.select("src", "dst").localCheckpoint(eager=True)
    labels = labels.localCheckpoint(eager=True)
    # one row per node: broadcast the label table (size-guarded) into
    # all three scoring joins so the edge table streams through the
    # `within` count without the two per-side exchange+sort passes the
    # SortMergeJoin otherwise plans against the stats-less checkpoint
    n_nodes = labels.count()
    la = _bc_if_small(labels, n_nodes).alias("la")
    lb = _bc_if_small(labels, n_nodes).alias("lb")
    within = (
        e.join(la, F.col("src") == F.col("la.node"))
        .join(lb, F.col("dst") == F.col("lb.node"))
        .filter(F.col("la.label") == F.col("lb.label"))
        .agg(F.count("*").cast("long").alias("within_edges"))
    )
    deg = e.groupBy("src").agg(F.count("*").cast("long").alias("d"))
    lbl = _bc_if_small(labels, n_nodes)
    degc = (
        deg.join(lbl, deg["src"] == lbl["node"])
        .groupBy("label")
        .agg(F.sum("d").cast("long").alias("dc"))
    )
    comm = degc.agg(
        F.count("*").cast("long").alias("n_communities"),
        F.sum(F.col("dc") * F.col("dc")).cast("long").alias("sum_deg_sq"),
    )
    two_m = e.agg(F.count("*").cast("long").alias("two_m"))
    return (
        within.crossJoin(two_m)
        .crossJoin(comm)
        .select(
            "n_communities",
            "within_edges",
            "two_m",
            "sum_deg_sq",
            (
                (F.col("within_edges") * F.col("two_m") - F.col("sum_deg_sq"))
                / (F.col("two_m") * F.col("two_m"))
            ).alias("modularity"),
        )
    )


@query(
    "graph_modularity",
    oracle=_lpa_oracle(4).rsplit("SELECT CAST(node", 1)[0]
    + """,
    lab AS (SELECT node, label FROM l4),
    win AS (
      SELECT COUNT(*) AS within_edges
      FROM edges e JOIN lab a ON a.node = e.src JOIN lab b ON b.node = e.dst
      WHERE a.label = b.label
    ),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY src),
    degc AS (
      SELECT a.label, SUM(d.d) AS dc
      FROM deg d JOIN lab a ON a.node = d.src GROUP BY a.label
    ),
    cm AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS n_communities,
             CAST(SUM(dc * dc) AS BIGINT) AS sum_deg_sq
      FROM degc
    ),
    m2 AS (SELECT CAST(COUNT(*) AS BIGINT) AS two_m FROM edges)
    SELECT cm.n_communities,
           CAST(win.within_edges AS BIGINT) AS within_edges,
           m2.two_m,
           cm.sum_deg_sq,
           CAST(win.within_edges * m2.two_m - cm.sum_deg_sq AS DOUBLE)
             / (m2.two_m * m2.two_m) AS modularity
    FROM win, m2, cm
    """,
)
def q_graph_modularity(spark, sf_dir):
    """Quality metric for the LPA communities (the analogue of
    `cluster_silhouette` for k-means): run the same 4-round
    propagation over the trade graph, then score the partition with
    Newman modularity. Integer-exact numerator/denominator and one
    final double division make the score hash-match; the oracle
    replays LPA AND the modularity algebra in one SQL chain."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    sym = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    # ONE materialization of the symmetric edge list shared by the
    # propagation rounds AND the scoring joins: label_propagation and
    # modularity each checkpoint their own edge derivative, and
    # without this the lineitem⋈orders+distinct edge plan — the
    # query's dominant exchange — executed once per consumer job.
    sym = sym.localCheckpoint(eager=True)
    return modularity(sym, label_propagation(sym, n_iter=4))


def kcore(
    edges: DataFrame, k: int, n_rounds: int = 8, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """k-core peel over a SYMMETRIC edge list: iteratively drop nodes
    with degree < k; what survives is the k-core — the dense backbone
    (spam rings, mirror farms, power-seller cliques) that degree
    thresholds on the RAW graph miss because degree counts neighbors
    that are themselves about to be dropped. Returns (node,
    core_degree) for surviving nodes.

    FIXED `n_rounds` of peeling rather than a convergence loop — the
    same deterministic-job-shape policy as `pagerank`/
    `label_propagation` (exactly n_rounds shuffle groups, engine-
    replayable as unrolled CTEs). The peel is monotone (each round
    only removes nodes) and the true k-core is a fixpoint, so extra
    rounds past convergence are no-ops; `test_graph.py` asserts the
    fixture graphs converge within the default budget by comparing
    against an until-fixpoint Python peel. For adversarial chains
    (a path graph peels one node per round) raise `n_rounds`.

    Scale shape per round: one node-keyed degree aggregation (node-
    sized output) and two LEFT SEMI joins filtering the edge list by
    the survivor set — O(edges)+O(nodes) shuffle, no driver state, no
    windows; each round's shrunken edge set is checkpointed and
    materialized by its count. The checkpoint is load-bearing, not an
    optimization: every round references the previous round's edges
    TWICE (degree agg + the survivor semi-joins), so an
    UNCHECKPOINTED 8-round plan contains 2^8 copies of round 0 and
    Catalyst analysis alone takes minutes (measured: that form ran
    12 min on a 3k-edge graph; checkpointed, seconds) — the same
    exponential re-expansion the DuckDB oracle avoids with
    MATERIALIZED CTEs. All arithmetic integral."""
    if k < 1 or n_rounds < 1:
        raise ValueError(f"kcore: need k >= 1 and n_rounds >= 1, got {k=} {n_rounds=}")
    # Per-round materialization is still load-bearing (see above), but
    # each round's count() IS the materialization job of its lazy
    # checkpoint — one job per round instead of an eager-checkpoint
    # job, and the count is the FIXPOINT TEST: the peel only ever
    # removes edges (e_i ⊆ e_{i-1}, every present node has degree ≥ 1
    # on a symmetric list), so an unchanged count means an unchanged
    # edge set and every remaining round is a no-op — stop paying for
    # them. Output is bit-identical to the fixed-round unroll by
    # monotonicity; the oracle still replays all n_rounds.
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    prev_n = e.count()
    for _ in range(n_rounds):
        keep = (
            e.groupBy("src")
            .agg(F.count("*").alias("d"))
            .filter(F.col("d") >= k)
            .select("src")
        )
        # survivor set is one row per node (≤ edge count on a
        # symmetric list): broadcast it (size-guarded) so the two
        # semi-joins stream the edge table instead of exchanging and
        # sorting it twice per round against the stats-less checkpoint
        keep = _bc_if_small(keep, prev_n)
        e = e.join(keep, "src", "left_semi").join(
            keep.withColumnRenamed("src", "dst"), "dst", "left_semi"
        ).localCheckpoint(eager=False)
        n = e.count()
        if n == prev_n:
            break
        prev_n = n
    return (
        e.groupBy(F.col("src").alias("node"))
        .agg(F.count("*").cast("long").alias("core_degree"))
        .orderBy("node")
    )


def _kcore_oracle(k: int, n_rounds: int = 8) -> str:
    # every CTE is MATERIALIZED: each round references the previous
    # round TWICE (degree agg + survivor join), so DuckDB's default
    # CTE inlining would re-expand the chain exponentially — 2^rounds
    # parquet scans (observed as a too-many-open-files blowup)
    sql = """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT l.l_suppkey * 2 AS s, o.o_custkey * 2 + 1 AS c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), e0 AS MATERIALIZED (
      SELECT s AS src, c AS dst FROM pairs UNION ALL SELECT c AS src, s AS dst FROM pairs
    )"""
    for i in range(1, n_rounds + 1):
        sql += f""",
    k{i} AS MATERIALIZED (
      SELECT src FROM e{i - 1} GROUP BY src HAVING COUNT(*) >= {k}
    ),
    e{i} AS MATERIALIZED (
      SELECT e.src, e.dst FROM e{i - 1} e
      JOIN k{i} a ON a.src = e.src JOIN k{i} b ON b.src = e.dst
    )"""
    return (
        sql
        + f"""
    SELECT CAST(src AS BIGINT) AS node,
           CAST(COUNT(*) AS BIGINT) AS core_degree
    FROM e{n_rounds} GROUP BY src ORDER BY node"""
    )


@query("graph_kcore", oracle=_kcore_oracle(8))
def q_graph_kcore(spark, sf_dir):
    """8-core of the supplier↔customer trade graph (same symmetrized
    encoding as `graph_pagerank`): 8 peel rounds drop thin customers
    and then suppliers whose support was those customers — the dense
    trading backbone. The oracle unrolls every round; all-integer, so
    the match is exact by construction."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    sym = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    return kcore(sym, k=8, n_rounds=8)


def bfs_levels(
    edges: DataFrame,
    seeds: DataFrame,
    n_rounds: int = 4,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Multi-source BFS over a SYMMETRIC edge list: (node, level) =
    hop distance to the nearest seed, for every node within
    `n_rounds` hops — trust/quality propagation from a curated seed
    set (the "distance from known-good hosts" prior in web curation),
    or blast-radius queries from flagged nodes.

    Fixed `n_rounds` (deterministic job shape, the pagerank/LPA/kcore
    policy): nodes further than n_rounds hops are absent from the
    output rather than mislabeled — the frontier is monotone, so
    levels already assigned never change and extra rounds only APPEND
    deeper levels (test_graph.py replays an until-exhaustion Python
    BFS and checks the budget truncation explicitly).

    Scale shape per round: the CURRENT FRONTIER (not the visited set)
    joins the edge list, then one min-agg and one anti-join against
    visited — O(frontier-edges) + O(nodes) per round, the textbook
    frontier-BFS cost; visited/frontier tables are checkpointed per
    round (multi-consumer, same rationale as `kcore`). All integer."""
    if n_rounds < 1:
        raise ValueError(f"bfs_levels: need n_rounds >= 1, got {n_rounds}")
    # Lazy checkpoints: lineage is truncated for Catalyst immediately
    # (each table is multi-consumer, same rationale as `kcore`), but
    # the ONLY job per round is the frontier count — which both
    # materializes the round's checkpoint and answers the
    # frontier-exhausted early exit (was: eager-checkpoint job +
    # limit(1) probe job + eager visited-union job per round).
    e = (
        edges.select(F.col(src).alias("src"), F.col(dst).alias("dst"))
        .distinct()
        .localCheckpoint(eager=False)
    )
    visited = (
        seeds.select(F.col(seeds.columns[0]).alias("node"))
        .distinct()
        .withColumn("level", F.lit(0).cast("long"))
        .localCheckpoint(eager=False)
    )
    n_edges = e.count()  # materializes the edge checkpoint; bounds nodes
    frontier = visited
    for lvl in range(1, n_rounds + 1):
        # frontier and visited are node-sized (≤ edge count on a
        # symmetric list): broadcast them (size-guarded) so the edge
        # table and the new-frontier stream are never exchanged/sorted
        # against the stats-less checkpoints
        nxt = (
            _bc_if_small(frontier, n_edges)
            .join(e, frontier["node"] == e["src"])
            .select(F.col("dst").alias("node"))
            .distinct()
            .join(_bc_if_small(visited, n_edges), "node", "left_anti")
            .withColumn("level", F.lit(lvl).cast("long"))
            .localCheckpoint(eager=False)
        )
        if nxt.count() == 0:
            break  # frontier exhausted — deeper rounds are no-ops
        visited = visited.unionByName(nxt).localCheckpoint(eager=False)
        frontier = nxt
    return visited.orderBy("node")


def _bfs_oracle(n_rounds: int = 4) -> str:
    """Unrolled replay of `q_graph_bfs_levels` — MATERIALIZED CTEs for
    the same double-consumption reason as `_kcore_oracle`."""
    sql = """
    WITH pairs AS MATERIALIZED (
      SELECT DISTINCT l.l_suppkey * 2 AS s, o.o_custkey * 2 + 1 AS c
      FROM lineitem l JOIN orders o ON l.l_orderkey = o.o_orderkey
    ), edges AS MATERIALIZED (
      SELECT s AS src, c AS dst FROM pairs UNION ALL SELECT c AS src, s AS dst FROM pairs
    ), v0 AS MATERIALIZED (
      SELECT DISTINCT src AS node, CAST(0 AS BIGINT) AS level
      FROM edges WHERE src IN (2, 4, 6, 8, 10)
    )"""
    for i in range(1, n_rounds + 1):
        sql += f""",
    f{i} AS MATERIALIZED (
      SELECT DISTINCT e.dst AS node, CAST({i} AS BIGINT) AS level
      FROM v{i - 1} v JOIN edges e ON e.src = v.node
      WHERE v.level = {i - 1}
        AND e.dst NOT IN (SELECT node FROM v{i - 1})
    ),
    v{i} AS MATERIALIZED (
      SELECT node, level FROM v{i - 1} UNION ALL SELECT node, level FROM f{i}
    )"""
    return (
        sql
        + f"""
    SELECT CAST(node AS BIGINT) AS node, level FROM v{n_rounds} ORDER BY node"""
    )


@query("graph_bfs_levels", oracle=_bfs_oracle())
def q_graph_bfs_levels(spark, sf_dir):
    """Hop distance from the five smallest supplier nodes over the
    trade graph (4-round budget): their customers land at level 1,
    suppliers sharing those customers at level 2, and so on — the
    seed-set trust-propagation shape. All-integer; the oracle unrolls
    every frontier round."""
    li = load_table(spark, sf_dir, "lineitem")
    orders = load_table(spark, sf_dir, "orders")
    pairs = (
        li.join(orders, li["l_orderkey"] == orders["o_orderkey"])
        .select(
            (F.col("l_suppkey") * 2).alias("s"),
            (F.col("o_custkey") * 2 + 1).alias("c"),
        )
        .distinct()
    )
    sym = pairs.select(F.col("s").alias("src"), F.col("c").alias("dst")).unionAll(
        pairs.select(F.col("c").alias("src"), F.col("s").alias("dst"))
    )
    seeds = sym.filter(F.col("src").isin(2, 4, 6, 8, 10)).select("src").distinct()
    return bfs_levels(sym, seeds, n_rounds=4)


def canonical_undirected(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Canonical undirected edge set (u, v) with u < v: self-loops
    dropped, both orientations collapsed by least/greatest + distinct,
    then localCheckpoint'ed eagerly — it feeds several downstream
    consumers (degree agg, orientation join, wedge closure), and
    recomputing the distinct per consumer would rescan the raw edges."""
    e = edges.select(F.col(src).alias("a"), F.col(dst).alias("b")).filter(
        F.col("a") != F.col("b")
    )
    return (
        e.select(
            F.least("a", "b").alias("u"), F.greatest("a", "b").alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )


def triangle_count(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    und: DataFrame | None = None,
) -> DataFrame:
    """Per-node triangle counts over an undirected graph (either
    orientation of each edge, or both, may be present; self-loops are
    dropped) — the clustering/cohesion primitive behind spam-ring and
    mirror-farm detection (a crawl graph's genuine communities are
    triangle-dense; scraped link farms are stars). Returns
    (node, n_triangles) for every node in at least one triangle.

    Algorithm: degree orientation + wedge closure (the standard
    distributed scheme, cf. Suri & Vassilvitskii, WWW 2011). Each
    undirected edge is oriented from the LOWER-rank endpoint to the
    higher, rank = (degree, node); every triangle then has exactly one
    node with two out-edges, so enumerating wedges from each node's
    out-neighborhood and closing them against the oriented edge list
    counts each triangle EXACTLY once — and out-degrees are bounded by
    O(√m) regardless of raw degree skew, which is what makes the wedge
    join survive a power-law graph at 100 TB (a raw-degree hub would
    otherwise explode C(deg,2) wedges).

    Scale shape: one distinct + one node-keyed degree agg, two
    node-keyed joins to orient, ONE self-equi-join on the wedge apex
    (the bounded-out-degree join), one equi-join to close, one explode
    + count. The canonical edge table is materialized once for its
    three consumers (degree, wedges, closure) — callers that already
    hold it (clustering_coefficient) pass it via `und` so the full
    edge-list distinct never runs twice per query. All-integer
    arithmetic."""
    if und is None:
        und = canonical_undirected(edges, src, dst)

    # Size-adaptive closure (r12, guide §3.1/§8): when the undirected
    # edge set of integral ids fits the broadcast budget, ship the
    # oriented adjacency ONCE to every task and close wedges by
    # vectorized binary search against it — the Σ out-degree(apex)
    # wedge stream then never exists as rows at all (neither shuffled
    # nor materialized), the per-wedge cost drops from a JVM join-row
    # cycle to one numpy searchsorted lane, and the degree aggregation
    # + both orientation joins + the oriented checkpoint disappear
    # (degrees and orientation are a bincount over the broadcast
    # relation). The decision is the bounded collect off the
    # checkpoint — the same size-based call AQE makes for broadcast
    # joins; past the budget the distributed degree-orientation +
    # wedge-join path below runs unchanged. Identical enumeration
    # either way: every triangle found exactly once at its apex edge
    # pair. coalesce(1): `und` is a checkpoint, so one task only reads
    # its blocks, and the collect's limit then needs no exchange to a
    # single partition (~0.35 s at sf0.1's 1.2M edges on 4 vCPU).
    ids = local.collect_ids(und.select("u", "v").coalesce(1), _BROADCAST_ROWS)
    if ids is not None:
        return _triangle_count_broadcast(und, ids["u"], ids["v"])

    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("d"))
    )
    du = deg.select(F.col("node").alias("u"), F.col("d").alias("du"))
    dv = deg.select(F.col("node").alias("v"), F.col("d").alias("dv"))
    j = und.join(du, "u").join(dv, "v")
    lower = (F.col("du") < F.col("dv")) | (
        (F.col("du") == F.col("dv")) & (F.col("u") < F.col("v"))
    )
    oriented = j.select(
        F.when(lower, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lower, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(lower, F.col("dv")).otherwise(F.col("du")).alias("dh"),
    ).localCheckpoint(eager=True)
    a, b = oriented.alias("a"), oriented.alias("b")
    wedges = a.join(
        b,
        (F.col("a.lo") == F.col("b.lo"))
        & (
            (F.col("a.dh") < F.col("b.dh"))
            | ((F.col("a.dh") == F.col("b.dh")) & (F.col("a.hi") < F.col("b.hi")))
        ),
    ).select(
        F.col("a.lo").alias("apex"), F.col("a.hi").alias("x"), F.col("b.hi").alias("y")
    )
    closed = wedges.join(
        oriented.select(F.col("lo").alias("x"), F.col("hi").alias("y")),
        ["x", "y"],
    )
    return (
        closed.select(
            F.explode(F.array(F.col("apex"), F.col("x"), F.col("y"))).alias("node")
        )
        .groupBy("node")
        .agg(F.count("*").alias("n_triangles"))
    )


def _triangle_count_broadcast(und: DataFrame, uu, vv) -> DataFrame:
    """Per-node triangle counts by broadcast adjacency + vectorized
    wedge closure over the collected edge relation `uu`, `vv` (int64
    arrays). Degrees and the (degree, node)-rank orientation are one
    bincount/compare over it (u < v holds canonically, so a degree tie
    orients u→v exactly like the join path's (du = dv AND u < v) arm).
    For each oriented edge (a, b), the triangles whose apex edge pair
    lies at (a, b) are exactly the common out-neighbors N+(a) ∩ N+(b)
    — each triangle {a, b, c} with a→b, a→c, b→c is found ONCE (at
    edge (a, b); the other two edges fail the both-out-edges test),
    which is the same enumeration the wedge join performs. Credits: a
    and b each count the intersection size, every common neighbor c
    counts 1. Integer-exact; `node` is typed as the input ids."""
    import numpy as np
    import pandas as pd

    spark = und.sparkSession
    nodes = np.unique(np.concatenate([uu, vv]))
    K = len(nodes)
    ui = np.searchsorted(nodes, uu).astype(np.int64)
    vi = np.searchsorted(nodes, vv).astype(np.int64)
    degarr = np.bincount(
        np.concatenate([ui, vi]), minlength=K
    ).astype(np.int64)
    # orientation: lower-(degree, node) endpoint first; u < v breaks
    # degree ties (relabeling is monotone, so index order = id order)
    u_first = degarr[ui] <= degarr[vi]
    li = np.where(u_first, ui, vi)
    hj = np.where(u_first, vi, ui)
    order = np.lexsort((hj, li))
    s_i, d_i = li[order], hj[order]
    offs = np.searchsorted(s_i, np.arange(K + 1))
    keys = s_i * K + d_i  # sorted (lexsort) — global binary-search table
    bc = spark.sparkContext.broadcast((nodes, keys, d_i, offs, degarr))

    schema = T.StructType([
        T.StructField("node", und.schema["u"].dataType),
        T.StructField("cnt", T.LongType()),
    ])

    def op(batches):
        nodes_b, keys_b, dvals, offs_b, deg_r = bc.value
        Kb = len(nodes_b)
        deg = offs_b[1:] - offs_b[:-1]
        cnt = np.zeros(Kb, np.int64)
        for pdf_b in batches:
            if not len(pdf_b):
                continue
            u_b = np.searchsorted(nodes_b, pdf_b["u"].to_numpy(np.int64))
            v_b = np.searchsorted(nodes_b, pdf_b["v"].to_numpy(np.int64))
            ufirst = deg_r[u_b] <= deg_r[v_b]
            a = np.where(ufirst, u_b, v_b)
            b = np.where(ufirst, v_b, u_b)
            # expand the smaller adjacency, search for the larger's key
            swap = deg[b] < deg[a]
            qa = np.where(swap, b, a)
            qb = np.where(swap, a, b)
            ln = deg[qa]
            tot = int(ln.sum())
            if not tot:
                continue
            eids = np.repeat(np.arange(len(qa)), ln)
            flat = (
                np.arange(tot)
                - np.repeat(np.cumsum(ln) - ln, ln)
                + np.repeat(offs_b[qa], ln)
            )
            vals = dvals[flat]
            q = qb[eids] * Kb + vals
            idx = np.searchsorted(keys_b, q)
            idx[idx == len(keys_b)] = 0
            hit = keys_b[idx] == q
            k_edge = np.bincount(eids[hit], minlength=len(qa))
            np.add.at(cnt, a, k_edge)
            np.add.at(cnt, b, k_edge)
            cnt += np.bincount(vals[hit], minlength=Kb)
        nz = np.nonzero(cnt)[0]
        if len(nz):
            yield pd.DataFrame(
                {"node": nodes_b[nz], "cnt": cnt[nz]}
            )

    # spread the edge stream across cores: the checkpointed edge set
    # arrives AQE-coalesced to a few ~64 MB partitions, which would
    # starve the kernel's parallelism (3 tasks on a 32-core session);
    # the repartition moves only 16 B/edge
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return (
        und.select("u", "v")
        .repartition(par)
        .mapInPandas(op, schema)
        .groupBy("node")
        # coalesce: as non-nullable as the wedge join's count(*)
        .agg(F.coalesce(F.sum("cnt"), F.lit(0)).cast("long").alias("n_triangles"))
    )


_TRIANGLE_ORACLE = """
    WITH baskets AS (
      SELECT DISTINCT l_orderkey AS o, l_partkey AS p FROM lineitem
    ),
    und AS (
      SELECT DISTINCT b1.p AS u, b2.p AS v
      FROM baskets b1 JOIN baskets b2 ON b1.o = b2.o AND b1.p < b2.p
    ),
    deg AS (
      SELECT node, COUNT(*) AS d FROM (
        SELECT u AS node FROM und UNION ALL SELECT v AS node FROM und
      ) GROUP BY node
    ),
    o AS (
      SELECT CASE WHEN (du.d, und.u) < (dv.d, und.v)
                  THEN und.u ELSE und.v END AS lo,
             CASE WHEN (du.d, und.u) < (dv.d, und.v)
                  THEN und.v ELSE und.u END AS hi,
             CASE WHEN (du.d, und.u) < (dv.d, und.v)
                  THEN dv.d ELSE du.d END AS dh
      FROM und
      JOIN deg du ON du.node = und.u
      JOIN deg dv ON dv.node = und.v
    ),
    w AS (
      SELECT a.lo AS apex, a.hi AS x, b.hi AS y
      FROM o a JOIN o b
        ON a.lo = b.lo AND (a.dh, a.hi) < (b.dh, b.hi)
    ),
    t AS (
      SELECT apex, x, y FROM w JOIN o c ON c.lo = w.x AND c.hi = w.y
    )
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      SELECT apex AS node FROM t
      UNION ALL SELECT x FROM t
      UNION ALL SELECT y FROM t
    ) GROUP BY node ORDER BY node
"""


@query("graph_triangles", oracle=_TRIANGLE_ORACLE)
def q_graph_triangles(spark, sf_dir):
    """Per-part triangle counts over the co-purchase basket graph
    (parts are connected when bought in the same order — the
    market-basket projection, pairs bounded by basket size like
    `session_basket_lift`): parts in triangles are cross-sold cliques.
    Degree orientation bounds wedge out-degrees by O(√m), so the wedge
    self-join survives power-law co-purchase hubs. All-integer; the
    oracle replays the orientation, wedge, and closure joins verbatim."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    b1, b2 = baskets.alias("b1"), baskets.alias("b2")
    pairs = b1.join(
        b2, (F.col("b1.o") == F.col("b2.o")) & (F.col("b1.p") < F.col("b2.p"))
    ).select(F.col("b1.p").alias("src"), F.col("b2.p").alias("dst"))
    return triangle_count(pairs).orderBy("node")


def clustering_coefficient(
    edges: DataFrame, src: str = "src", dst: str = "dst"
) -> DataFrame:
    """Local clustering coefficient per node: triangles(v) / C(deg(v), 2)
    — how close a node's neighborhood is to a clique. The standard
    cohesion score on top of `triangle_count`: genuine communities
    score high, scraped link-farm stars score ~0 even at huge degree.
    Returns (node, degree, n_triangles, coefficient) for every node
    with degree >= 2; coefficient is one double division of exact
    integers (the catalog float policy).

    Scale shape: `triangle_count`'s cost plus one node-keyed degree
    agg and one node-keyed LEFT join (nodes without triangles keep
    coefficient 0) — nothing beyond node-sized tables added. The
    canonical undirected edge set is materialized ONCE and shared with
    `triangle_count` (which otherwise rebuilds it), so the full
    edge-list distinct runs a single time per query."""
    und = canonical_undirected(edges, src, dst)
    deg = (
        und.select(F.col("u").alias("node"))
        .unionAll(und.select(F.col("v").alias("node")))
        .groupBy("node")
        .agg(F.count("*").alias("degree"))
        .filter(F.col("degree") >= 2)
    )
    tri = triangle_count(edges, src, dst, und=und)
    joined = deg.join(tri, "node", "left").select(
        "node",
        "degree",
        F.coalesce(F.col("n_triangles"), F.lit(0)).alias("n_triangles"),
    )
    pairs = (F.col("degree") * (F.col("degree") - 1) / 2).cast("double")
    return joined.select(
        "node",
        "degree",
        "n_triangles",
        (F.col("n_triangles").cast("double") / pairs).alias("coefficient"),
    )


_CLUSTERING_ORACLE = (
    _TRIANGLE_ORACLE.replace(
        """
    SELECT node, CAST(COUNT(*) AS BIGINT) AS n_triangles FROM (
      SELECT apex AS node FROM t
      UNION ALL SELECT x FROM t
      UNION ALL SELECT y FROM t
    ) GROUP BY node ORDER BY node
""",
        """,
    tri AS (
      SELECT node, COUNT(*) AS n_triangles FROM (
        SELECT apex AS node FROM t
        UNION ALL SELECT x FROM t
        UNION ALL SELECT y FROM t
      ) GROUP BY node
    )
    SELECT deg.node,
           CAST(deg.d AS BIGINT) AS degree,
           CAST(COALESCE(tri.n_triangles, 0) AS BIGINT) AS n_triangles,
           CAST(COALESCE(tri.n_triangles, 0) AS DOUBLE)
             / CAST(deg.d * (deg.d - 1) / 2 AS DOUBLE) AS coefficient
    FROM deg LEFT JOIN tri ON tri.node = deg.node
    WHERE deg.d >= 2
    ORDER BY deg.node
""",
    )
)


@query("graph_clustering_coeff", oracle=_CLUSTERING_ORACLE)
def q_graph_clustering_coeff(spark, sf_dir):
    """Local clustering coefficient over the part co-purchase graph
    (same basket edges as `graph_triangles`): parts whose co-purchase
    neighborhoods are cliques vs hub parts bought with everything.
    Exact-integer triangle and degree counts, one double division —
    hash-matches with no rounding."""
    li = load_table(spark, sf_dir, "lineitem")
    baskets = li.select(
        F.col("l_orderkey").alias("o"), F.col("l_partkey").alias("p")
    ).distinct()
    b1, b2 = baskets.alias("b1"), baskets.alias("b2")
    pairs = b1.join(
        b2, (F.col("b1.o") == F.col("b2.o")) & (F.col("b1.p") < F.col("b2.p"))
    ).select(F.col("b1.p").alias("src"), F.col("b2.p").alias("dst"))
    return clustering_coefficient(pairs).orderBy("node")
