"""Z-order layout (`layout.py`): Morton interleave correctness vs a
bit-by-bit Python reference, deterministic file assignment, the
pruning-gain payoff, and the pure-Catalyst plan claim."""

from __future__ import annotations

from pyspark.sql import functions as F

from dynamodb_to_datalake_project_spark.layout import (
    morton2,
    zorder_bucket_stats,
    zorder_prune_gain,
)


def _morton_ref(x: int, y: int) -> int:
    z = 0
    for i in range(16):
        z |= ((x >> i) & 1) << (2 * i)
        z |= ((y >> i) & 1) << (2 * i + 1)
    return z


def test_morton2_matches_reference(spark):
    import random

    rnd = random.Random(9)
    pairs = [(0, 0), (65535, 65535), (1, 0), (0, 1), (43690, 21845)] + [
        (rnd.randrange(65536), rnd.randrange(65536)) for _ in range(50)
    ]
    df = spark.createDataFrame(pairs, "x long, y long").withColumn(
        "z", morton2(F.col("x"), F.col("y"))
    )
    for r in df.collect():
        assert r.z == _morton_ref(r.x, r.y), (r.x, r.y)


def test_zorder_locality(spark):
    """Morton codes of nearby points share file bands: within one
    file, the bounding box area is far below the full domain — the
    property min/max pruning exploits."""
    from dynamodb_to_datalake_project_spark.lake import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    stats = zorder_bucket_stats(orders, n_files=16).collect()
    assert len(stats) == 16
    assert sum(r.n_rows for r in stats) == orders.count()
    total_c = max(r.cust_max for r in stats) - min(
        r.cust_min for r in stats
    ) + 1
    total_k = max(r.ok_max for r in stats) - min(r.ok_min for r in stats) + 1
    areas = [
        (r.cust_max - r.cust_min + 1) * (r.ok_max - r.ok_min + 1)
        for r in stats
    ]
    # 16 tiles of a clustered layout: mean tile covers a small
    # fraction of the domain (a random layout's tiles each cover ~all)
    assert sum(areas) / len(areas) < 0.35 * (total_c * total_k)


def test_zorder_prune_gain_shape(spark):
    """Single-dimension custkey probes must show the payoff: linear
    layout reads every file, z-order reads a bounded band."""
    from dynamodb_to_datalake_project_spark.lake import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    rows = {r.probe: r for r in zorder_prune_gain(orders, 64).collect()}
    assert len(rows) == 10
    for j, r in rows.items():
        assert 1 <= r.files_zorder <= 64 and 1 <= r.files_linear <= 64
    # custkey-only probes (j % 3 == 0): linear is unconstrained on
    # its sort key -> reads (nearly) all files (at sf0.001's ~23-row
    # files a few may miss the decile by luck); z-order must beat it
    # clearly on every such probe
    for j in (0, 3, 6, 9):
        assert rows[j].files_linear >= 48
        assert rows[j].files_zorder < rows[j].files_linear / 2


def test_zorder_plan_is_pure_catalyst(spark):
    """No Python evaluation anywhere in the plan: the interleave is
    shift/mask arithmetic inside whole-stage codegen."""
    from dynamodb_to_datalake_project_spark.lake import load_table

    orders = load_table(spark, "/root/testdata/sf0.001", "orders")
    plan = zorder_bucket_stats(orders)._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert "ArrowEvalPython" not in plan
    assert "MapInPandas" not in plan
    assert "MapInArrow" not in plan
