"""Every size-gated operator, run both ways and compared.

The collect-gated operators (connected components, triangle counting,
the clustering coefficient and the BPE trainer) run once at their
default budgets and once with `local.collect_bounded` refusing every
collect, which forces the distributed path. The broadcast-hinted graph
operators run with `graph._BROADCAST_ROWS` at its default and at -1,
where no hint is placed and the joins plan as sort-merge joins. Each
pair must give the same schema and the same rows."""

from __future__ import annotations

import pytest

from dynamodb_to_datalake_project_spark import graph, local
from dynamodb_to_datalake_project_spark.llm import bpe

# K4, a triangle hanging off it, a path tail and a separate edge
EDGES = [(a, b) for a in range(4) for b in range(4) if a < b] + [
    (3, 4), (4, 5), (3, 5), (5, 6), (6, 7), (20, 21),
]

ID_VALUES = {
    "int": lambda v: v,
    "smallint": lambda v: v,
    "bigint": lambda v: v,
    "string": lambda v: f"n{v}",
    "double": lambda v: v + 0.5,
}


def _edges(spark, id_type: str, rows):
    conv = ID_VALUES[id_type]
    return spark.createDataFrame(
        [(conv(a), conv(b)) for a, b in rows], f"src {id_type}, dst {id_type}"
    )


def _result(df):
    return df.schema, sorted(map(tuple, df.collect()))


def _both_ways(monkeypatch, run):
    """`run()`'s (schema, sorted rows) at the default budgets, the same
    with every bounded collect refused, and whether each default-run
    collect came back within budget."""
    real, within = local.collect_bounded, []

    def spy(df, max_rows):
        table = real(df, max_rows)
        within.append(table is not None)
        return table

    monkeypatch.setattr(local, "collect_bounded", spy)
    default = _result(run())
    monkeypatch.setattr(local, "collect_bounded", lambda df, max_rows: None)
    forced = _result(run())
    monkeypatch.undo()
    return default, forced, within


COLLECT_GATED = {
    "connected_components": lambda e: graph.connected_components(e, "src", "dst"),
    "triangle_count": graph.triangle_count,
    "clustering_coefficient": graph.clustering_coefficient,
}

#: rows each collect-gated operator returns on EDGES
N_ROWS = {"connected_components": 10, "triangle_count": 6, "clustering_coefficient": 7}


@pytest.mark.parametrize("id_type", [*ID_VALUES, "empty"])
@pytest.mark.parametrize("op", sorted(COLLECT_GATED))
def test_collect_gated_graph_ops_agree_both_ways(spark, monkeypatch, op, id_type):
    """Integral ids take the driver-local path by default and come back
    typed as the input ids, like the distributed path's; string and
    double ids never reach the collect."""
    if id_type == "empty":
        edges = _edges(spark, "bigint", [])
    else:
        edges = _edges(spark, id_type, EDGES)
    default, forced, within = _both_ways(monkeypatch, lambda: COLLECT_GATED[op](edges))
    assert default == forced
    assert default[0]["node"].dataType == edges.schema["src"].dataType
    assert within == ([] if id_type in ("string", "double") else [True])
    assert len(default[1]) == (0 if id_type == "empty" else N_ROWS[op])


@pytest.mark.parametrize(
    "texts",
    [["low lower lowest", "newer newest wider", "low low wide", ""], []],
    ids=["corpus", "empty"],
)
def test_bpe_trainer_agrees_both_ways(spark, monkeypatch, texts):
    docs = spark.createDataFrame(list(enumerate(texts)), "doc_id long, text string")
    default, forced, within = _both_ways(
        monkeypatch, lambda: bpe.train_bpe_merges(docs, n_merges=6, min_count=2)
    )
    assert default == forced and within == [True]
    assert len(default[1]) == (6 if texts else 0)


SYMMETRIC = EDGES + [(b, a) for a, b in EDGES]

BROADCAST_HINTED = {
    "pagerank": lambda e: graph.pagerank(e, n_iter=3),
    "label_propagation": lambda e: graph.label_propagation(e, n_iter=2),
    "kcore": lambda e: graph.kcore(e, 2, n_rounds=3),
    "bfs_levels": lambda e: graph.bfs_levels(
        e, e.sparkSession.createDataFrame([(0,)], "node bigint"), n_rounds=3
    ),
    "modularity": lambda e: graph.modularity(e, graph.label_propagation(e, n_iter=2)),
}


@pytest.mark.parametrize("op", sorted(BROADCAST_HINTED))
def test_broadcast_hint_ops_agree_with_sort_merge(spark, monkeypatch, op):
    edges = _edges(spark, "bigint", SYMMETRIC)
    hinted = _result(BROADCAST_HINTED[op](edges))
    monkeypatch.setattr(graph, "_BROADCAST_ROWS", -1)
    unhinted = _result(BROADCAST_HINTED[op](edges))
    assert hinted == unhinted and hinted[1]
