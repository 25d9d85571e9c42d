"""Connected components on hand-built graphs: a long chain (multiple
alternating rounds required), disjoint cliques, and singleton handling
through dedup_clusters."""

from __future__ import annotations

from dynamodb_to_datalake_project_spark.graph import connected_components, dedup_clusters


def test_cc_chain_and_cliques(spark):
    # chain 0-1-2-...-9 (component min 0), triangle 100-101-102,
    # isolated edge 200-201
    edges = (
        [(i, i + 1) for i in range(9)]
        + [(100, 101), (101, 102), (100, 102)]
        + [(201, 200)]
    )
    df = spark.createDataFrame(edges, "a long, b long")
    got = {
        r["node"]: r["component"]
        for r in connected_components(df, "a", "b").collect()
    }
    assert got == (
        {i: 0 for i in range(10)}
        | {100: 100, 101: 100, 102: 100}
        | {200: 200, 201: 200}
    )


def test_cc_int32_ids_same_schema_both_paths(spark, monkeypatch):
    """int (int32) node ids: the collected local path (default budget)
    and the distributed star loop (every bounded collect refused, so
    the empty edge list takes the star loop too) return the same
    schema and rows — the result type does not depend on the edge
    count."""
    from dynamodb_to_datalake_project_spark import local

    edges = [(i, i + 1) for i in range(5)] + [(20, 21), (22, 21)]
    for rows in (edges, []):
        df = spark.createDataFrame(rows, "a int, b int")
        collected = connected_components(df, "a", "b")
        with monkeypatch.context() as m:
            m.setattr(local, "collect_bounded", lambda df, max_rows: None)
            star = connected_components(df, "a", "b")
            star_rows = sorted(map(tuple, star.collect()))
        assert collected.schema == star.schema
        assert [f.dataType.simpleString() for f in collected.schema] == ["int", "int"]
        assert sorted(map(tuple, collected.collect())) == star_rows


def test_dedup_clusters_singletons(spark):
    docs = spark.createDataFrame([(i,) for i in range(6)], "doc_id long")
    pairs = spark.createDataFrame([(1, 3), (3, 5)], "a_id long, b_id long")
    rows = dedup_clusters(docs, pairs, "doc_id", "a_id", "b_id").collect()
    by_doc = {r["doc_id"]: (r["cluster_id"], r["cluster_size"]) for r in rows}
    assert by_doc == {
        0: (0, 1), 2: (2, 1), 4: (4, 1),
        1: (1, 3), 3: (1, 3), 5: (1, 3),
    }


# ---------------------------------------------------------------------------
# PageRank
# ---------------------------------------------------------------------------


def _py_pagerank(edges, n_iter=5, damping=0.85):
    """Pure-Python replay of graph.pagerank's exact semantics (same
    fixed iterations, same base/damping arithmetic) — the reference
    implementation the distributed path must reproduce."""
    edges = sorted(set(edges))
    nodes = sorted({s for s, _ in edges})
    deg = {}
    for s, _ in edges:
        deg[s] = deg.get(s, 0) + 1
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    base = 0.15 / n if damping == 0.85 else (1.0 - damping) / n
    for _ in range(n_iter):
        sums = {v: 0.0 for v in nodes}
        for s, d in edges:
            sums[d] += pr[s] / deg[s]
        pr = {v: base + damping * sums[v] for v in nodes}
    return pr


def test_pagerank_matches_python_replay(spark):
    from dynamodb_to_datalake_project_spark.graph import pagerank

    # symmetric barbell: two triangles bridged by one edge
    und = [(0, 1), (1, 2), (0, 2), (2, 3), (3, 4), (4, 5), (3, 5)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=5).collect()}
    want = _py_pagerank(edges, n_iter=5)
    assert set(got) == set(want)
    for v in want:
        assert abs(got[v] - want[v]) < 1e-12, (v, got[v], want[v])
    # rank mass conserved (no dangling nodes on a symmetric graph)
    assert abs(sum(got.values()) - 1.0) < 1e-9
    # the bridge endpoints (degree 3) outrank the pure-triangle nodes
    assert got[2] > got[0] and got[3] > got[5]


def test_pagerank_star_hub_dominates(spark):
    from dynamodb_to_datalake_project_spark.graph import pagerank

    spokes = list(range(1, 9))
    edges = [(0, s) for s in spokes] + [(s, 0) for s in spokes]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=4).collect()}
    assert got[0] > max(got[s] for s in spokes) * 3
    spoke_vals = {got[s] for s in spokes}
    assert len(spoke_vals) == 1  # symmetry: all spokes identical


def test_pagerank_empty_edges_clean_error(spark):
    import pytest as _pt

    from dynamodb_to_datalake_project_spark.graph import pagerank

    empty = spark.createDataFrame([], "src long, dst long")
    with _pt.raises(ValueError, match="empty edge list"):
        pagerank(empty)


def test_pagerank_weighted_matches_python_replay(spark):
    from dynamodb_to_datalake_project_spark.graph import pagerank

    # weighted barbell: the bridge edge carries 10x the triangle weight
    und = [(0, 1, 1), (1, 2, 1), (0, 2, 1), (2, 3, 10), (3, 4, 1), (4, 5, 1), (3, 5, 1)]
    edges = und + [(b, a, w) for a, b, w in und]
    df = spark.createDataFrame(edges, "src long, dst long, w long")
    got = {r["node"]: r["pr"] for r in pagerank(df, n_iter=5, weight="w").collect()}

    # pure-Python replay with the same arithmetic
    nodes = sorted({s for s, _, _ in edges})
    strength = {}
    for s, _, w in edges:
        strength[s] = strength.get(s, 0) + w
    n = len(nodes)
    pr = {v: 1.0 / n for v in nodes}
    for _ in range(5):
        sums = {v: 0.0 for v in nodes}
        for s, d, w in edges:
            sums[d] += pr[s] * w / strength[s]
        pr = {v: 0.15 / n + 0.85 * sums[v] for v in nodes}
    for v in pr:
        assert abs(got[v] - pr[v]) < 1e-12, (v, got[v], pr[v])
    # the heavy bridge pulls mass toward its endpoints
    assert got[2] > got[0] and got[3] > got[4]
    assert abs(sum(got.values()) - 1.0) < 1e-9


def test_pagerank_weighted_rejects_bad_weights(spark):
    import pytest as _pt

    from dynamodb_to_datalake_project_spark.graph import pagerank

    # non-positive weight (ADVICE r5: fail fast instead of a silent
    # division-by-zero/null rank)
    df = spark.createDataFrame(
        [(0, 1, 1), (1, 0, 0)], "src long, dst long, w long"
    )
    with _pt.raises(ValueError, match="non-positive or null edge weight"):
        pagerank(df, n_iter=1, weight="w")

    # null weight
    df = spark.createDataFrame(
        [(0, 1, 1), (1, 0, None)], "src long, dst long, w long"
    )
    with _pt.raises(ValueError, match="non-positive or null edge weight"):
        pagerank(df, n_iter=1, weight="w")

    # duplicate (src, dst) rows double-count out-strength
    df = spark.createDataFrame(
        [(0, 1, 1), (0, 1, 2), (1, 0, 1)], "src long, dst long, w long"
    )
    with _pt.raises(ValueError, match="duplicate \\(src, dst\\)"):
        pagerank(df, n_iter=1, weight="w")

    # NULL dst must be reported as a null-edge defect, not a misleading
    # "duplicate edges" error (ADVICE r6: count_distinct skips NULLs)
    df = spark.createDataFrame(
        [(0, 1, 1), (0, None, 2), (1, 0, 1)], "src long, dst long, w long"
    )
    with _pt.raises(ValueError, match="NULL dst"):
        pagerank(df, n_iter=1, weight="w")


def _py_lpa(edges, n_iter):
    """Sequential synchronous LPA with (count desc, label asc) ties."""
    from collections import Counter, defaultdict

    adj = defaultdict(list)
    for s, d in edges:
        adj[d].append(s)  # in-neighbors: node adopts from its sources
    nodes = sorted({s for s, _ in edges} | {d for _, d in edges})
    lab = {v: v for v in nodes}
    for _ in range(n_iter):
        new = {}
        for v in nodes:
            c = Counter(lab[u] for u in adj[v])
            new[v] = min(c, key=lambda x: (-c[x], x))
        lab = new
    return lab


def test_label_propagation_matches_python_replay(spark):
    from dynamodb_to_datalake_project_spark.graph import label_propagation

    # two cliques bridged by one edge: LPA must keep them as two
    # communities labeled by each clique's smallest node id
    und = (
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
        + [(3, 10)]
    )
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r["node"]: r["label"] for r in label_propagation(df, n_iter=4).collect()}
    want = _py_lpa(edges, n_iter=4)
    assert got == want
    # community structure recovered: each clique uniformly labeled
    assert len({got[v] for v in range(4)}) == 1
    assert len({got[v] for v in range(10, 14)}) == 1
    assert got[0] != got[13]


def test_label_propagation_deterministic_ties_and_errors(spark):
    import pytest as _pt

    from dynamodb_to_datalake_project_spark.graph import label_propagation

    # perfect 4-cycle: every node sees two neighbors with distinct
    # labels every round — the min-label tie-break must pick stably
    und = [(0, 1), (1, 2), (2, 3), (0, 3)]
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    a = sorted(label_propagation(df, n_iter=3).collect())
    b = sorted(label_propagation(df, n_iter=3).collect())
    assert a == b == [(v, l) for (v, l) in sorted(_py_lpa(edges, 3).items())]
    empty = spark.createDataFrame([], "src long, dst long")
    with _pt.raises(ValueError, match="empty edge list"):
        label_propagation(empty)


def test_modularity_separates_structure_from_noise(spark):
    """Two bridged 4-cliques under their LPA labels must score high
    modularity; the same graph under a single global label scores 0
    by definition (within = all edges, sum_deg_sq = (2m)^2)."""
    from pyspark.sql import functions as F

    from dynamodb_to_datalake_project_spark.graph import (
        label_propagation,
        modularity,
    )

    und = (
        [(a, b) for a in range(4) for b in range(4) if a < b]
        + [(a, b) for a in range(10, 14) for b in range(10, 14) if a < b]
        + [(3, 10)]
    )
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    lab = label_propagation(df, n_iter=4)
    row = modularity(df, lab).collect()[0]
    assert row.n_communities == 2 and row.two_m == len(edges)
    assert row.modularity > 0.3  # conventionally 'significant structure'
    # exact definition replay
    assert row.modularity == (
        row.within_edges * row.two_m - row.sum_deg_sq
    ) / (row.two_m * row.two_m)
    # degenerate single community: Q = 0 exactly
    one = df.select(F.col("src").alias("node")).distinct().select(
        "node", F.lit(0).alias("label")
    )
    assert modularity(df, one).collect()[0].modularity == 0.0


def _py_kcore(edges, k):
    from collections import defaultdict

    adj = defaultdict(set)
    for s, d in edges:
        adj[s].add(d)
    changed = True
    while changed:
        changed = False
        for v in list(adj):
            if len(adj[v]) < k:
                for u in adj.pop(v):
                    adj[u].discard(v)
                changed = True
    return {v: len(ns) for v, ns in adj.items() if ns}


def test_kcore_matches_until_fixpoint_python_peel(spark):
    from dynamodb_to_datalake_project_spark.graph import kcore

    # a 5-clique (4-core) with pendant chains that must cascade away
    und = (
        [(a, b) for a in range(5) for b in range(5) if a < b]
        + [(0, 10), (10, 11), (11, 12), (4, 20)]
    )
    edges = und + [(b, a) for a, b in und]
    df = spark.createDataFrame(edges, "src long, dst long")
    got = {r.node: r.core_degree for r in kcore(df, k=4, n_rounds=8).collect()}
    assert got == _py_kcore(edges, 4)
    assert set(got) == set(range(5))  # exactly the clique survives
    # k above the max degree empties the graph
    assert kcore(df, k=10, n_rounds=8).count() == 0
    # the default round budget reaches the true fixpoint on the
    # catalog's fixture graph too
    import duckdb

    con = duckdb.connect()
    pairs = con.execute(
        """SELECT DISTINCT l.l_suppkey * 2, o.o_custkey * 2 + 1
           FROM '/root/testdata/sf0.001/lineitem.parquet' l
           JOIN '/root/testdata/sf0.001/orders.parquet' o
             ON l.l_orderkey = o.o_orderkey"""
    ).fetchall()
    sym = [(a, b) for a, b in pairs] + [(b, a) for a, b in pairs]
    fix = _py_kcore(sym, 8)
    fdf = spark.createDataFrame(sym, "src long, dst long")
    got2 = {r.node: r.core_degree for r in kcore(fdf, k=8, n_rounds=8).collect()}
    assert got2 == fix and 0 < len(got2) < len({s for s, _ in sym})


def test_bfs_levels_matches_python_and_truncates_at_budget(spark):
    from collections import deque

    from dynamodb_to_datalake_project_spark.graph import bfs_levels

    # chain 0-1-2-3-4-5 plus a triangle hanging off node 2
    und = [(0, 1), (1, 2), (2, 3), (3, 4), (4, 5), (2, 10), (10, 11), (11, 2)]
    edges = und + [(b, a) for a, b in und]

    def py_bfs(seeds, max_lvl):
        adj = {}
        for s, d in edges:
            adj.setdefault(s, set()).add(d)
        lvl = {s: 0 for s in seeds}
        q = deque(seeds)
        while q:
            v = q.popleft()
            if lvl[v] >= max_lvl:
                continue
            for u in adj.get(v, ()):
                if u not in lvl:
                    lvl[u] = lvl[v] + 1
                    q.append(u)
        return lvl

    df = spark.createDataFrame(edges, "src long, dst long")
    seeds = spark.createDataFrame([(0,)], "node long")
    got = {r.node: r.level for r in bfs_levels(df, seeds, n_rounds=4).collect()}
    assert got == py_bfs([0], 4)
    assert got[11] == 3 and 5 not in got  # node 5 is 5 hops out: truncated
    got6 = {r.node: r.level for r in bfs_levels(df, seeds, n_rounds=6).collect()}
    assert got6 == py_bfs([0], 6) and got6[5] == 5
    # multi-source: nearest seed wins
    two = spark.createDataFrame([(0,), (5,)], "node long")
    gotm = {r.node: r.level for r in bfs_levels(df, two, n_rounds=3).collect()}
    assert gotm == py_bfs([0, 5], 3) and gotm[4] == 1 and gotm[3] == 2


def test_triangle_count_hand_built_graph(spark):
    """Known triangle structure: K4 on {0,1,2,3} (4 triangles, every
    node in 3), an attached triangle {3,4,5}, a dangling path 5-6-7
    (no triangles), and a duplicate/reversed/self-loop noise layer the
    canonicalization must absorb."""
    from dynamodb_to_datalake_project_spark.graph import triangle_count

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    extra = [(3, 4), (4, 5), (3, 5), (5, 6), (6, 7)]
    noise = [(1, 0), (2, 2), (4, 3)]  # reversed dup, self-loop, dup
    df = spark.createDataFrame(k4 + extra + noise, "src long, dst long")
    got = {r["node"]: r["n_triangles"] for r in triangle_count(df).collect()}
    assert got == {0: 3, 1: 3, 2: 3, 3: 4, 4: 1, 5: 1}
    # global count = sum/3: K4 has 4, plus {3,4,5}
    assert sum(got.values()) // 3 == 5

    # star graph (max skew): zero triangles, and the wedge join must
    # not explode — orientation sends every edge INTO the hub, so the
    # hub has out-degree 0 and no wedges form at it
    star = spark.createDataFrame(
        [(100, i) for i in range(50)], "src long, dst long"
    )
    assert triangle_count(star).count() == 0


def test_triangle_count_non_integer_ids_match_wedge_join(spark, monkeypatch):
    """String and float node ids give the same counts under the
    default broadcast budget as on the wedge-join path (every bounded
    collect refused): the broadcast closure works on int64 arrays, so
    it must step aside rather than fail on strings or truncate 1.5 to
    1."""
    from dynamodb_to_datalake_project_spark import graph, local

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    extra = [(3, 4), (4, 5), (3, 5), (5, 6), (6, 7)]
    graphs = [
        spark.createDataFrame(
            [(f"n{a}", f"n{b}") for a, b in k4 + extra], "src string, dst string"
        ),
        spark.createDataFrame(
            [(a + 0.5, b + 0.5) for a, b in k4 + extra] + [(1.5, 1.0)],
            "src double, dst double",
        ),
    ]
    for df in graphs:
        default = {tuple(r) for r in graph.triangle_count(df).collect()}
        with monkeypatch.context() as m:
            m.setattr(local, "collect_bounded", lambda df, max_rows: None)
            wedge = {tuple(r) for r in graph.triangle_count(df).collect()}
        assert default == wedge and len(wedge) == 6, (default, wedge)


def test_clustering_coefficient_hand_built(spark):
    """K4 nodes have coefficient 1.0 (neighborhood is a clique); a
    path's interior node 0.0; the K4 node bridged to an outside
    triangle drops below 1."""
    from dynamodb_to_datalake_project_spark.graph import clustering_coefficient

    k4 = [(a, b) for a in range(4) for b in range(4) if a < b]
    extra = [(3, 4), (4, 5), (3, 5), (5, 6), (6, 7)]
    df = spark.createDataFrame(k4 + extra, "src long, dst long")
    got = {
        r["node"]: (r["degree"], r["n_triangles"], r["coefficient"])
        for r in clustering_coefficient(df).collect()
    }
    assert got[0] == (3, 3, 1.0) and got[1] == (3, 3, 1.0)
    assert got[3] == (5, 4, 0.4)  # deg 5 -> 10 pairs, 4 triangles
    assert got[5] == (3, 1, 1 / 3)
    assert got[6] == (2, 0, 0.0)  # path interior: no triangle
    assert 7 not in got  # degree 1: coefficient undefined, excluded
