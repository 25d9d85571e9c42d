"""Upsert/precombine semantics (S8) — the FIXTURES.md merge cases:
insert-only, update-only, mixed batch with in-batch duplicate keys,
late-arriving older update must lose, idempotency (T9 overlap), and
touched-partition-only rewrite for the lake-table merge.
"""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from dynamodb_to_datalake_project_spark import merge
from dynamodb_to_datalake_project_spark.transform import with_partition_columns

COLS = ["id", "update_at", "note"]


def _df(spark, rows):
    return spark.createDataFrame(rows, "id string, update_at string, note string")


def _state(df):
    return {r.id: (r.update_at, r.note) for r in df.collect()}


def test_insert_and_update(spark):
    target = _df(spark, [("a", "2023-01-01T00:00:00", "v1"), ("b", "2023-01-01T00:00:00", "v1")])
    source = _df(spark, [("b", "2023-01-02T00:00:00", "v2"), ("c", "2023-01-01T00:00:00", "new")])
    out = merge.upsert_dataframes(target, source, ["id"], ["update_at"])
    assert _state(out) == {
        "a": ("2023-01-01T00:00:00", "v1"),
        "b": ("2023-01-02T00:00:00", "v2"),
        "c": ("2023-01-01T00:00:00", "new"),
    }


def test_late_arriving_older_update_loses(spark):
    target = _df(spark, [("a", "2023-01-05T00:00:00", "newer")])
    source = _df(spark, [("a", "2023-01-01T00:00:00", "stale")])
    out = merge.upsert_dataframes(target, source, ["id"], ["update_at"])
    assert _state(out) == {"a": ("2023-01-05T00:00:00", "newer")}


def test_in_batch_duplicate_keys_collapse(spark):
    target = _df(spark, [])
    source = _df(
        spark,
        [
            ("a", "2023-01-01T00:00:01", "first"),
            ("a", "2023-01-01T00:00:02", "second"),
            ("a", "2023-01-01T00:00:02", "tie-second"),
        ],
    )
    out = merge.upsert_dataframes(target, source, ["id"], ["update_at"])
    assert out.count() == 1
    assert _state(out)["a"][0] == "2023-01-01T00:00:02"


def test_precombine_tie_prefers_source(spark):
    target = _df(spark, [("a", "2023-01-01T00:00:00", "old")])
    source = _df(spark, [("a", "2023-01-01T00:00:00", "resent")])
    out = merge.upsert_dataframes(target, source, ["id"], ["update_at"])
    assert _state(out) == {"a": ("2023-01-01T00:00:00", "resent")}


def test_idempotent_reapply(spark):
    """T9: re-merging the same batch changes nothing."""
    target = _df(spark, [("a", "2023-01-01T00:00:00", "v1")])
    source = _df(spark, [("a", "2023-01-02T00:00:00", "v2"), ("b", "2023-01-01T00:00:00", "x")])
    once = merge.upsert_dataframes(target, source, ["id"], ["update_at"])
    twice = merge.upsert_dataframes(once, source, ["id"], ["update_at"])
    assert _state(once) == _state(twice)


def _ts_rows(rows):
    return [(i, ts, note, ts[:10]) for (i, ts, note) in rows]


def test_merge_into_parquet_rewrites_only_touched_partitions(spark, tmp_path):
    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    initial = spark.createDataFrame(
        _ts_rows(
            [
                ("a", "2023-01-01T10:00:00", "v1"),
                ("b", "2023-01-02T10:00:00", "v1"),
                ("c", "2023-01-03T10:00:00", "v1"),
            ]
        ),
        cols,
    )
    initial.write.partitionBy("day").parquet(path)
    untouched = os.path.join(path, "day=2023-01-03")
    before = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
        if f.endswith(".parquet")
    }

    batch = spark.createDataFrame(
        _ts_rows(
            [
                ("a", "2023-01-01T12:00:00", "v2"),   # update in day=01
                ("d", "2023-01-02T09:00:00", "new"),  # insert in day=02
            ]
        ),
        cols,
    )
    merge.merge_into_parquet(
        spark, path, batch, keys=["id"], precombine=["update_at"], partition_cols=["day"]
    )

    result = {r.id: (r.update_at, r.note) for r in spark.read.parquet(path).collect()}
    assert result == {
        "a": ("2023-01-01T12:00:00", "v2"),
        "b": ("2023-01-02T10:00:00", "v1"),
        "c": ("2023-01-03T10:00:00", "v1"),
        "d": ("2023-01-02T09:00:00", "new"),
    }
    after = {
        f: os.path.getmtime(os.path.join(untouched, f))
        for f in os.listdir(untouched)
        if f.endswith(".parquet")
    }
    assert before == after, "untouched partition files must not be rewritten"


def test_partition_derivation_roundtrip(spark):
    """P3/P4: zero-padded partition strings derived from both timestamp
    and ISO-string columns agree."""
    df = spark.createDataFrame(
        [("2023-07-30T16:49:47.237081",)], ["create_at"]
    ).withColumn("ts", F.to_timestamp("create_at"))
    from_str = with_partition_columns(df, "create_at", prefix="s_")
    both = with_partition_columns(from_str, "ts", prefix="t_").first()
    assert (both.s_year, both.s_month, both.s_day, both.s_hour, both.s_minute) == (
        "2023", "07", "30", "16", "49"
    )
    assert (both.t_year, both.t_month, both.t_day, both.t_hour, both.t_minute) == (
        "2023", "07", "30", "16", "49"
    )


def test_merge_commit_leaves_no_staging_residue(spark, tmp_path):
    """The atomic-commit protocol must clean up after itself: no
    _staging data and no _commits markers after a successful merge, and
    underscore dirs must be invisible to readers."""
    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T10:00:00", "v1")]), cols
    ).write.partitionBy("day").parquet(path)
    batch = spark.createDataFrame(_ts_rows([("a", "2023-01-01T12:00:00", "v2")]), cols)
    merge.merge_into_parquet(spark, path, batch, ["id"], ["update_at"], ["day"])
    assert os.listdir(os.path.join(path, "_staging")) == []
    assert [f for f in os.listdir(os.path.join(path, "_commits")) if f.endswith(".json")] == []
    assert {r.note for r in spark.read.parquet(path).collect()} == {"v2"}


def test_merge_crash_replay_recovers_committed_swap(spark, tmp_path):
    """Crash INSIDE the swap window (marker written, partitions not yet
    moved): replaying the pending commit must finish the swap — the
    exact window where read-and-overwrite-in-place loses data."""
    import json

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T10:00:00", "old")]), cols
    ).write.partitionBy("day").parquet(path)
    # hand-build the post-crash state: staged rewrite + commit marker
    cid = "deadbeef0123"
    staging = os.path.join(path, "_staging", cid)
    spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T12:00:00", "new")]), cols
    ).write.partitionBy("day").parquet(staging)
    cdir = os.path.join(path, "_commits")
    os.makedirs(cdir, exist_ok=True)
    with open(os.path.join(cdir, f"{cid}.json"), "w") as f:
        json.dump({"partitions": ["day=2023-01-01"], "removed": []}, f)

    replayed = merge.recover_pending_commits(path)
    assert replayed == [cid]
    assert {r.note for r in spark.read.parquet(path).collect()} == {"new"}
    assert not os.path.isdir(staging)


def test_merge_precommit_crash_leaves_table_untouched(spark, tmp_path):
    """Crash BEFORE the marker exists: staged data is garbage-collected
    and the table is bit-for-bit what it was."""
    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T10:00:00", "old")]), cols
    ).write.partitionBy("day").parquet(path)
    staging = os.path.join(path, "_staging", "cafecafe0000")
    spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T12:00:00", "uncommitted")]), cols
    ).write.partitionBy("day").parquet(staging)

    assert merge.recover_pending_commits(path) == []
    assert not os.path.isdir(staging)
    assert {r.note for r in spark.read.parquet(path).collect()} == {"old"}


def test_hard_delete_upsert_semantics(spark):
    """T8 hard mode: newer REMOVE deletes the key, older late REMOVE is
    a no-op, same-batch newer re-insert resurrects."""
    target = _df(
        spark,
        [("a", "2023-01-05T00:00:00", "keep"), ("b", "2023-01-01T00:00:00", "doomed"),
         ("c", "2023-01-01T00:00:00", "reborn-soon")],
    )
    source = spark.createDataFrame(
        [
            ("a", "2023-01-01T00:00:00", None, "REMOVE"),   # older -> no-op
            ("b", "2023-01-02T00:00:00", None, "REMOVE"),   # newer -> delete
            ("c", "2023-01-02T00:00:00", None, "REMOVE"),   # delete...
            ("c", "2023-01-03T00:00:00", "v2", "INSERT"),   # ...then re-insert
        ],
        "id string, update_at string, note string, event_name string",
    )
    out = merge.upsert_dataframes(
        target, source, ["id"], ["update_at"], op_col="event_name"
    )
    assert _state(out) == {
        "a": ("2023-01-05T00:00:00", "keep"),
        "c": ("2023-01-03T00:00:00", "v2"),
    }


def test_hard_delete_removes_emptied_partition(spark, tmp_path):
    """A hard delete that empties a partition must remove it from the
    lake (no staged replacement exists for it)."""
    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    spark.createDataFrame(
        _ts_rows(
            [("a", "2023-01-01T10:00:00", "v1"), ("b", "2023-01-02T10:00:00", "v1")]
        ),
        cols,
    ).write.partitionBy("day").parquet(path)
    batch = spark.createDataFrame(
        [("a", "2023-01-01T12:00:00", None, "2023-01-01", "REMOVE")],
        "id string, update_at string, note string, day string, event_name string",
    )
    merge.merge_into_parquet(
        spark, path, batch, ["id"], ["update_at"], ["day"], op_col="event_name"
    )
    state = {r.id for r in spark.read.parquet(path).collect()}
    assert state == {"b"}
    assert not os.path.isdir(os.path.join(path, "day=2023-01-01"))


def test_merge_preserves_null_partition_rows(spark, tmp_path):
    """Regression: rows in a NULL-valued partition must survive a merge
    touching that partition (eqNullSafe pruning)."""
    path = str(tmp_path / "nulllake")
    spark.createDataFrame(
        [("a", "2023-01-01T00:00:00", "v1", None), ("b", "2023-01-01T00:00:00", "v1", "d1")],
        "id string, update_at string, note string, day string",
    ).write.partitionBy("day").parquet(path)
    batch = spark.createDataFrame(
        [("c", "2023-01-01T01:00:00", "new", None)],
        "id string, update_at string, note string, day string",
    )
    merge.merge_into_parquet(spark, path, batch, ["id"], ["update_at"], ["day"])
    state = {r.id for r in spark.read.parquet(path).collect()}
    assert state == {"a", "b", "c"}  # 'a' (null partition) must survive


def test_unpartitioned_replay_half_applied_swap_loses_nothing(spark, tmp_path):
    """Regression: replaying a ROOT-level (unpartitioned) swap that
    crashed half-way must not delete the staged files already moved
    into place. The delete set comes from the manifest's root_removed
    list, never from a live listing."""
    import glob
    import json
    import shutil

    path = str(tmp_path / "flatlake")
    spark.createDataFrame(
        [("a", "2023-01-01T00:00:00", "old")], "id string, update_at string, note string"
    ).coalesce(1).write.parquet(path)
    old_files = [
        os.path.basename(p)
        for p in glob.glob(os.path.join(path, "*.parquet"))
    ]
    # stage a 2-file rewrite + marker (post-commit crash state)
    cid = "feedface0042"
    staging = os.path.join(path, "_staging", cid)
    spark.createDataFrame(
        [("a", "2023-01-01T01:00:00", "new"), ("b", "2023-01-01T01:00:00", "new")],
        "id string, update_at string, note string",
    ).repartition(2).write.parquet(staging)
    staged = sorted(
        f for f in os.listdir(staging) if f.endswith(".parquet")
    )
    assert len(staged) == 2
    cdir = os.path.join(path, "_commits")
    os.makedirs(cdir, exist_ok=True)
    with open(os.path.join(cdir, f"{cid}.json"), "w") as f:
        json.dump(
            {"partitions": ["."], "removed": [], "root_removed": old_files}, f
        )
    # simulate the crash: first replay attempt moved ONE staged file
    # (and already removed the old ones), then died
    for name in old_files:
        os.remove(os.path.join(path, name))
    shutil.move(os.path.join(staging, staged[0]), os.path.join(path, staged[0]))

    assert merge.recover_pending_commits(path) == [cid]
    got = {(r.id, r.note) for r in spark.read.parquet(path).collect()}
    assert got == {("a", "new"), ("b", "new")}  # nothing lost, nothing stale


def test_full_merge_fallback_still_removes_emptied_partition(spark, tmp_path):
    """Regression: when the touched-partition cap degrades the merge to
    a full-table rewrite, hard deletes must STILL drop partitions they
    emptied (the cap changes pruning, never delete semantics)."""
    path = str(tmp_path / "caplake")
    cols = ["id", "update_at", "note", "day"]
    spark.createDataFrame(
        _ts_rows(
            [("a", "2023-01-01T10:00:00", "v1"), ("b", "2023-01-02T10:00:00", "v1")]
        ),
        cols,
    ).write.partitionBy("day").parquet(path)
    batch = spark.createDataFrame(
        [
            ("a", "2023-01-01T12:00:00", None, "2023-01-01", "REMOVE"),
            ("b", "2023-01-02T12:00:00", "v2", "2023-01-02", "MODIFY"),
        ],
        "id string, update_at string, note string, day string, event_name string",
    )
    merge.merge_into_parquet(
        spark, path, batch, ["id"], ["update_at"], ["day"],
        op_col="event_name", max_touched_partitions=1,  # force full merge
    )
    state = {(r.id, r.note) for r in spark.read.parquet(path).collect()}
    assert state == {("b", "v2")}
    assert not os.path.isdir(os.path.join(path, "day=2023-01-01"))


def test_hard_delete_tie_is_deterministic_delete_loses(spark):
    """Regression: a same-batch REMOVE vs re-insert with IDENTICAL
    precombine must resolve the same way on every (re)run — the delete
    loses, so micro-batch replay can't flip the key's existence."""
    target = _df(spark, [("k", "2023-01-01T00:00:00", "v0")])
    source = spark.createDataFrame(
        [
            ("k", "2023-01-02T00:00:00", None, "REMOVE"),
            ("k", "2023-01-02T00:00:00", "v1", "MODIFY"),
        ],
        "id string, update_at string, note string, event_name string",
    )
    states = {
        frozenset(_state(
            merge.upsert_dataframes(
                target, source, ["id"], ["update_at"], op_col="event_name"
            )
        ).items())
        for _ in range(3)
    }
    assert states == {frozenset({("k", ("2023-01-02T00:00:00", "v1"))})}


def test_scd2_merge_incremental_equals_full(spark):
    """SCD2: applying two CDC batches sequentially must equal building
    from the concatenated stream; unchanged values must not open
    spurious versions; per key exactly one current row and contiguous
    validity intervals."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark.merge import scd2_merge

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("plan", T.StringType()),
            T.StructField("region", T.StringType()),
            T.StructField("valid_from", T.TimestampType()),
            T.StructField("valid_to", T.TimestampType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )
    empty = spark.createDataFrame([], schema)

    def mk(rows):
        return spark.createDataFrame(
            rows, ["id", "plan", "region", "ts"]
        ).withColumn("ts", F.col("ts").cast("timestamp"))

    b1 = mk(
        [
            ("a", "free", "eu", "2024-01-01 00:00:00"),
            ("a", "pro", "eu", "2024-01-05 00:00:00"),
            ("b", "free", "us", "2024-01-02 00:00:00"),
        ]
    )
    b2 = mk(
        [
            ("a", "pro", "eu", "2024-01-08 00:00:00"),   # no change — no version
            ("a", "pro", "ap", "2024-01-09 00:00:00"),   # region change
            ("b", "team", "us", "2024-01-10 00:00:00"),
            ("c", "free", "eu", "2024-01-11 00:00:00"),  # new key
        ]
    )
    keys, ts, tracked = ["id"], "ts", ["plan", "region"]

    step = scd2_merge(scd2_merge(empty, b1, keys, ts, tracked), b2, keys, ts, tracked)
    full = scd2_merge(empty, b1.unionByName(b2), keys, ts, tracked)

    def canon(df):
        return sorted(
            (r["id"], r["plan"], r["region"], str(r["valid_from"]),
             str(r["valid_to"]), r["is_current"])
            for r in df.collect()
        )

    assert canon(step) == canon(full)

    rows = step.collect()
    # a: free→pro→(pro,ap) = 3 versions; b: free→team = 2; c: 1
    per_key = {}
    for r in rows:
        per_key.setdefault(r["id"], []).append(r)
    assert {k: len(v) for k, v in per_key.items()} == {"a": 3, "b": 2, "c": 1}
    for k, vs in per_key.items():
        vs = sorted(vs, key=lambda r: r["valid_from"])
        assert sum(r["is_current"] for r in vs) == 1 and vs[-1]["is_current"]
        for prev, nxt in zip(vs, vs[1:]):
            assert prev["valid_to"] == nxt["valid_from"]  # contiguous


def test_scd2_merge_null_transitions(spark):
    """SCD2 change detection must be null-safe: a tracked attribute
    transitioning value→NULL or NULL→value is a CHANGE and opens a new
    version (a plain == comparison yields NULL and silently DROPS the
    batch row — the round-2 advice finding)."""
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark.merge import scd2_merge

    schema = T.StructType(
        [
            T.StructField("id", T.StringType()),
            T.StructField("plan", T.StringType()),
            T.StructField("valid_from", T.TimestampType()),
            T.StructField("valid_to", T.TimestampType()),
            T.StructField("is_current", T.BooleanType()),
        ]
    )
    empty = spark.createDataFrame([], schema)
    batch = spark.createDataFrame(
        [
            ("a", "free", "2024-01-01 00:00:00"),
            ("a", None, "2024-01-02 00:00:00"),    # value -> NULL: change
            ("a", None, "2024-01-03 00:00:00"),    # NULL -> NULL: no change
            ("a", "pro", "2024-01-04 00:00:00"),   # NULL -> value: change
            ("b", None, "2024-01-01 00:00:00"),    # first version IS null
            ("b", "team", "2024-01-02 00:00:00"),
        ],
        ["id", "plan", "ts"],
    ).withColumn("ts", F.col("ts").cast("timestamp"))

    out = scd2_merge(empty, batch, ["id"], "ts", ["plan"])
    rows = sorted(out.collect(), key=lambda r: (r["id"], r["valid_from"]))
    got = [(r["id"], r["plan"], r["is_current"]) for r in rows]
    assert got == [
        ("a", "free", False),
        ("a", None, False),
        ("a", "pro", True),
        ("b", None, False),
        ("b", "team", True),
    ]
    for prev, nxt in zip(rows, rows[1:]):
        if prev["id"] == nxt["id"]:
            assert prev["valid_to"] == nxt["valid_from"]


def test_delta_merge_unavailable_raises_clearly(spark, tmp_path):
    """Without delta-spark (this container), merge_into_delta must fail
    fast with a message pointing at the parquet fallback — not blow up
    mid-write with a ClassNotFound."""
    import pytest

    from dynamodb_to_datalake_project_spark import merge_delta

    if merge_delta.delta_available():
        pytest.skip("delta-spark present; covered by the equivalence test")
    src = _df(spark, [("a", "2023-01-01T00:00:00", "v1")])
    with pytest.raises(RuntimeError, match="merge_into_parquet"):
        merge_delta.merge_into_delta(
            spark, str(tmp_path / "t"), src, ["id"], ["update_at"], []
        )


MERGE_NULL_BATCHES = [
    [("a", "2023-01-01T00:00:00", "v1", "INSERT"),
     ("b", "2023-01-01T00:00:00", "v1", "INSERT")],
    [("b", "2023-01-02T00:00:00", "v2", "MODIFY"),
     ("b", "2023-01-02T00:00:01", "v3", "MODIFY"),  # in-batch dup
     ("c", "2023-01-01T00:00:00", "new", "INSERT"),
     ("d", None, "d1", None),                        # NULL op insert, NULL pc
     ("e", None, "e1", "INSERT")],                   # NULL pc insert
    [("a", "2022-12-01T00:00:00", "stale", "MODIFY"),  # late loses
     ("c", "2023-01-03T00:00:00", None, "REMOVE"),     # hard delete
     ("b", None, "nullstale", "MODIFY"),   # NULL pc vs non-NULL: loses
     ("d", "2023-01-01T00:00:00", "d2", None),  # non-NULL pc beats NULL
     ("e", None, "e2", None)],             # NULL-vs-NULL tie -> source wins
]
MERGE_NULL_EXPECTED = {
    "a": ("2023-01-01T00:00:00", "v1"),
    "b": ("2023-01-02T00:00:01", "v3"),
    "d": ("2023-01-01T00:00:00", "d2"),
    "e": (None, "e2"),
}


def test_parquet_merge_null_op_and_precombine(spark, tmp_path):
    """Pins the NULL contract on the RUNNABLE parquet path: NULL op is a
    normal upsert, NULL precombine sorts below every non-NULL value
    (desc defaults to nulls-last), and a NULL-vs-NULL precombine tie
    updates toward source — the same sequence the delta-equivalence
    test replays when delta-spark exists."""
    ppath = str(tmp_path / "parquet")
    schema = "id string, update_at string, note string, op string"
    for rows in MERGE_NULL_BATCHES:
        src = spark.createDataFrame(rows, schema)
        merge.merge_into_parquet(
            spark, ppath, src, ["id"], ["update_at"], [], op_col="op"
        )
    got = {
        r.id: (r.update_at, r.note) for r in spark.read.parquet(ppath).collect()
    }
    assert got == MERGE_NULL_EXPECTED


def test_delta_merge_equivalence(spark, tmp_path):
    """When delta-spark IS installed, MERGE INTO must produce exactly
    the state merge_into_parquet produces on the FIXTURES.md batch
    sequence (insert, update, in-batch dup, late-stale, hard delete)
    plus the NULL op / NULL precombine cases from
    test_parquet_merge_null_op_and_precombine. Skipped (not passed) in
    environments without the package."""
    import pytest

    pytest.importorskip("delta")
    from dynamodb_to_datalake_project_spark import merge_delta

    dpath, ppath = str(tmp_path / "delta"), str(tmp_path / "parquet")
    schema = "id string, update_at string, note string, op string"
    for rows in MERGE_NULL_BATCHES:
        src = spark.createDataFrame(rows, schema)
        merge_delta.merge_into_delta(
            spark, dpath, src, ["id"], ["update_at"], [], op_col="op"
        )
        merge.merge_into_parquet(
            spark, ppath, src, ["id"], ["update_at"], [], op_col="op"
        )
    got = {
        r.id: (r.update_at, r.note)
        for r in spark.read.format("delta").load(dpath).collect()
    }
    want = {
        r.id: (r.update_at, r.note) for r in spark.read.parquet(ppath).collect()
    }
    assert got == want == MERGE_NULL_EXPECTED


def test_precombine_comparator_null_safe(spark):
    """The Delta-leg comparator must mirror the window path's
    desc-nulls-last + __src-desc order WITHOUT delta-spark installed:
    NULL below every value, NULL-vs-NULL a tie (falls to next field,
    ultimately toward source), plain values lexicographic."""
    from dynamodb_to_datalake_project_spark.merge_delta import (
        _precombine_newer_or_tie,
    )

    cases = [  # (s_u, s_v, t_u, t_v, expect source>=target)
        (2, 9, 1, 9, True),     # first field decides
        (1, 9, 2, 9, False),
        (1, 2, 1, 1, True),     # first tied, second decides
        (1, 1, 1, 2, False),
        (1, 1, 1, 1, True),     # full tie -> source wins
        (None, 9, 1, 0, False),  # NULL u loses to any value
        (1, 0, None, 9, True),   # any value beats NULL u
        (None, 2, None, 1, True),  # NULL-vs-NULL u ties, v decides
        (None, 1, None, 2, False),
        (None, None, None, None, True),  # all-NULL tie -> source wins
        (1, None, 1, 1, False),  # second-field NULL loses
        (1, 1, 1, None, True),
    ]
    df = spark.createDataFrame(
        [
            ((su, sv), (tu, tv), exp)
            for su, sv, tu, tv, exp in cases
        ],
        "s struct<u:int,v:int>, t struct<u:int,v:int>, expect boolean",
    )
    got = df.withColumn("got", _precombine_newer_or_tie(["u", "v"])).collect()
    for r in got:
        assert r.got == r.expect, (r.s, r.t, r.got, r.expect)


# ---------------------------------------------------------------------------
# Round 10: Delta-protocol log on the merge path + OCC writers
# ---------------------------------------------------------------------------


def test_delta_log_written_and_replayable(spark, tmp_path):
    """Every merge commit appends a Delta log version; a cold replay
    of `_delta_log` must name exactly the live data files with exact
    per-file numRecords — the real-table-format upgrade of S8."""
    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    b0 = spark.createDataFrame(
        _ts_rows(
            [("a", "2023-01-01T10:00:00", "v1"),
             ("b", "2023-01-02T10:00:00", "v1")]
        ),
        cols,
    )
    merge.merge_into_parquet(spark, path, b0, ["id"], ["update_at"], ["day"])
    b1 = spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T12:00:00", "v2")]), cols
    )
    merge.merge_into_parquet(spark, path, b1, ["id"], ["update_at"], ["day"])
    b2 = spark.createDataFrame(
        _ts_rows([("c", "2023-01-03T09:00:00", "new")]), cols
    )
    merge.merge_into_parquet(spark, path, b2, ["id"], ["update_at"], ["day"])

    assert deltatable.list_versions(path) == [0, 1, 2]
    snap = deltatable.table_snapshot(path)
    assert snap["version"] == 2
    assert snap["partition_cols"] == ["day"]
    assert set(snap["schema_cols"]) == set(cols) | {"ts"} or set(
        snap["schema_cols"]
    ) >= {"id", "update_at", "note", "day"}
    live = set(merge._all_data_files(path))
    assert set(snap["active_files"]) == live
    assert snap["total_rows"] == spark.read.parquet(path).count() == 3
    # per-file numRecords exact, partitionValues present on every add
    import json as _json

    for v, content in deltatable.read_commits(path):
        for line in content.splitlines():
            a = _json.loads(line)
            if "add" in a:
                assert a["add"]["partitionValues"].keys() == {"day"}
    # v1 rewrote day=2023-01-01: it must carry both a remove and an add
    v1 = dict(deltatable.read_commits(path))[1]
    kinds = [next(iter(_json.loads(ln))) for ln in v1.splitlines()]
    assert "remove" in kinds and "add" in kinds


def test_delta_log_bootstrap_legacy_table(spark, tmp_path):
    """A table created before the log existed bootstraps on its first
    logged merge: version 0 records protocol + metaData + the FULL
    post-merge active set (untouched live files included)."""
    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    spark.createDataFrame(
        _ts_rows(
            [("a", "2023-01-01T10:00:00", "v1"),
             ("z", "2023-01-09T10:00:00", "keep")]
        ),
        cols,
    ).write.partitionBy("day").parquet(path)

    batch = spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T12:00:00", "v2")]), cols
    )
    merge.merge_into_parquet(spark, path, batch, ["id"], ["update_at"], ["day"])
    snap = deltatable.table_snapshot(path)
    assert snap["version"] == 0 and snap["protocol"] == (1, 2)
    assert set(snap["active_files"]) == set(merge._all_data_files(path))
    assert snap["total_rows"] == 2
    # the untouched day=2023-01-09 partition is in the active set
    assert any("day=2023-01-09" in p for p in snap["active_files"])


def test_delta_log_crash_replay_completes_log_fill(spark, tmp_path):
    """Crash between the commit marker and the log fill: replay must
    finish the swap AND fill the claimed version file, releasing the
    claim — the log can never lag a swapped table."""
    import json as _json

    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    b0 = spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T10:00:00", "old")]), cols
    )
    merge.merge_into_parquet(spark, path, b0, ["id"], ["update_at"], ["day"])

    cid = "deadbeef4567"
    staging = os.path.join(path, "_staging", cid)
    spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T12:00:00", "new")]), cols
    ).write.partitionBy("day").parquet(staging)
    rel = "day=2023-01-01"
    actions = [
        {"commitInfo": {"txnId": cid, "operation": "MERGE", "readVersion": 0}},
    ] + [
        {"remove": deltatable.build_remove(f, ["day"])}
        for f in deltatable.data_files_under(path, rel)
    ] + [
        {"add": deltatable.build_add(staging, f, ["day"])}
        for f in deltatable.data_files_under(staging, rel)
    ]
    assert deltatable.claim_version(path, 1, cid)
    cdir = os.path.join(path, "_commits")
    os.makedirs(cdir, exist_ok=True)
    with open(os.path.join(cdir, f"{cid}.json"), "w") as f:
        _json.dump(
            {"partitions": [rel], "removed": [], "root_removed": [],
             "delta": {"version": 1, "txn": cid, "actions": actions}},
            f,
        )

    replayed = merge.recover_pending_commits(path)
    assert replayed == [cid]
    assert {r.note for r in spark.read.parquet(path).collect()} == {"new"}
    snap = deltatable.table_snapshot(path)
    assert snap["version"] == 1
    assert set(snap["active_files"]) == set(merge._all_data_files(path))
    assert not os.path.exists(
        os.path.join(path, "_delta_log", ".claim-" + f"{1:020d}")
    )


def test_delta_precommit_crash_rolls_back_claim(spark, tmp_path):
    """Crash after claiming a version but before the marker: the hot
    merge path must NOT roll the claim back while it is younger than
    the grace window (it may belong to a LIVE writer between its CAS
    and its marker write — rolling it back would let a third writer
    claim the same version and bypass conflict detection). Once the
    claim ages past the grace window — or via the explicit grace-0
    recovery call — it is rolled back and the tip is free again."""
    import os as _os

    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    b0 = spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T10:00:00", "v1")]), cols
    )
    merge.merge_into_parquet(spark, path, b0, ["id"], ["update_at"], ["day"])
    assert deltatable.claim_version(path, 1, "dead000")

    b1 = spark.createDataFrame(
        _ts_rows([("b", "2023-01-02T10:00:00", "v1")]), cols
    )
    # fresh markerless claim = presumed live: the concurrent merge
    # must refuse to steal it (spins out, then conflict)
    with pytest.raises(merge.ConcurrentWriteConflict):
        merge.merge_into_parquet(
            spark, path, b1, ["id"], ["update_at"], ["day"]
        )
    claim = _os.path.join(path, "_delta_log", ".claim-" + "1".zfill(20))
    assert _os.path.exists(claim), "live-window claim must survive"

    # age the claim past the merge path's grace window: now it is a
    # crashed writer's leftover and the next merge rolls it back
    old = _os.path.getmtime(claim) - 7200
    _os.utime(claim, (old, old))
    merge.merge_into_parquet(spark, path, b1, ["id"], ["update_at"], ["day"])
    assert deltatable.list_versions(path) == [0, 1]
    assert deltatable.table_snapshot(path)["total_rows"] == 2

    # explicit recovery entry point (grace 0) rolls back immediately
    assert deltatable.claim_version(path, 2, "dead111")
    merge.recover_pending_commits(path)
    assert not _os.path.exists(
        _os.path.join(path, "_delta_log", ".claim-" + "2".zfill(20))
    )


def test_merge_occ_conflict_retries_no_lost_rows(spark, tmp_path):
    """Two writers, SAME partition: writer B stages from a stale read
    while writer A commits an update into the same partition. B must
    lose the version CAS conflict check, discard its staging, and
    recompute from the post-A snapshot — A's update survives alongside
    B's insert under this worst-case interleaving."""
    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    b0 = spark.createDataFrame(
        _ts_rows(
            [("a", "2023-01-01T10:00:00", "v1"),
             ("b", "2023-01-02T10:00:00", "v1")]
        ),
        cols,
    )
    merge.merge_into_parquet(spark, path, b0, ["id"], ["update_at"], ["day"])

    batch_a = spark.createDataFrame(
        _ts_rows([("a", "2023-01-01T12:00:00", "vA")]), cols
    )
    batch_b = spark.createDataFrame(
        _ts_rows([("e", "2023-01-01T11:00:00", "vB")]), cols
    )

    fired = []

    def interleave_a():
        if not fired:  # one-shot: only on B's FIRST (stale) attempt
            fired.append(1)
            merge.merge_into_parquet(
                spark, path, batch_a, ["id"], ["update_at"], ["day"]
            )

    merge.merge_into_parquet(
        spark, path, batch_b, ["id"], ["update_at"], ["day"],
        _hook_before_commit=interleave_a,
    )

    result = {r.id: r.note for r in spark.read.parquet(path).collect()}
    assert result == {"a": "vA", "b": "v1", "e": "vB"}, (
        "A's concurrent update must NOT be clobbered by B's stale swap"
    )
    # v0 create, v1 = A, v2 = B's retried commit reading version 1
    assert deltatable.list_versions(path) == [0, 1, 2]
    snap = deltatable.table_snapshot(path)
    assert set(snap["active_files"]) == set(merge._all_data_files(path))
    assert snap["total_rows"] == 3
    import json as _json

    v2 = dict(deltatable.read_commits(path))[2]
    ci = next(
        _json.loads(ln)["commitInfo"]
        for ln in v2.splitlines()
        if "commitInfo" in ln
    )
    assert ci["readVersion"] == 1, "B must have recomputed from A's commit"


def test_merge_occ_disjoint_writers_commit_without_retry(spark, tmp_path):
    """Two writers, DISJOINT partitions: the interleaved writer keeps
    its staged result (no recompute) — the conflict check is partition-
    scoped, not table-global."""
    import json as _json

    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    b0 = spark.createDataFrame(
        _ts_rows(
            [("a", "2023-01-01T10:00:00", "v1"),
             ("b", "2023-01-02T10:00:00", "v1")]
        ),
        cols,
    )
    merge.merge_into_parquet(spark, path, b0, ["id"], ["update_at"], ["day"])

    batch_a = spark.createDataFrame(  # touches day=02 only
        _ts_rows([("b", "2023-01-02T12:00:00", "vA")]), cols
    )
    batch_b = spark.createDataFrame(  # touches day=01 only
        _ts_rows([("a", "2023-01-01T12:00:00", "vB")]), cols
    )
    fired = []

    def interleave_a():
        if not fired:
            fired.append(1)
            merge.merge_into_parquet(
                spark, path, batch_a, ["id"], ["update_at"], ["day"]
            )

    merge.merge_into_parquet(
        spark, path, batch_b, ["id"], ["update_at"], ["day"],
        _hook_before_commit=interleave_a,
    )
    result = {r.id: r.note for r in spark.read.parquet(path).collect()}
    assert result == {"a": "vB", "b": "vA"}
    assert deltatable.list_versions(path) == [0, 1, 2]
    v2 = dict(deltatable.read_commits(path))[2]
    ci = next(
        _json.loads(ln)["commitInfo"]
        for ln in v2.splitlines()
        if "commitInfo" in ln
    )
    assert ci["readVersion"] == 0, (
        "disjoint writer must commit its original (stale-base) result"
    )


def test_delta_checkpoint_cold_read_equals_json_fold(spark, tmp_path, monkeypatch):
    """At the checkpoint interval a parquet checkpoint +
    `_last_checkpoint` appear; the checkpoint-based cold read must
    equal the full JSON fold exactly."""
    from dynamodb_to_datalake_project_spark import deltatable
    from dynamodb_to_datalake_project_spark.llm.deltalog import (
        replay_delta_log,
    )

    monkeypatch.setattr(deltatable, "CHECKPOINT_INTERVAL", 2)
    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    for i, rows in enumerate(
        [
            [("a", "2023-01-01T10:00:00", "v1")],
            [("b", "2023-01-02T10:00:00", "v1")],
            [("a", "2023-01-01T12:00:00", "v2")],
        ]
    ):
        merge.merge_into_parquet(
            spark, path, spark.createDataFrame(_ts_rows(rows), cols),
            ["id"], ["update_at"], ["day"],
        )
    lc = os.path.join(path, "_delta_log", "_last_checkpoint")
    assert os.path.isfile(lc)
    cold = deltatable.table_snapshot(path)  # checkpoint + tail path
    fold = replay_delta_log(deltatable.read_commits(path))
    assert cold["active_files"] == fold["active_files"]
    assert cold["version"] == fold["version"] == 2
    assert cold["total_rows"] == fold["total_rows"] == 2
    assert set(cold["active_files"]) == set(merge._all_data_files(path))


def test_retain_mode_time_travel_and_vacuum(spark, tmp_path):
    """retain_files=True keeps superseded files on disk: the log, not
    the directory, defines the table. Log-driven reads must see
    exactly the per-version state (real time travel), plain directory
    reads would see duplicates (asserted, as the documented hazard),
    and vacuum(0) collapses the table back to current-snapshot-only
    with older versions raising the clear retention error."""
    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]

    def m(rows):
        merge.merge_into_parquet(
            spark, path, spark.createDataFrame(_ts_rows(rows), cols),
            ["id"], ["update_at"], ["day"], retain_files=True,
        )

    m([("a", "2023-01-01T10:00:00", "v1"),
       ("b", "2023-01-02T10:00:00", "v1")])          # v0 (create)
    m([("a", "2023-01-01T12:00:00", "v2")])           # v1: supersedes day=01
    m([("a", "2023-01-01T14:00:00", "v3"),
       ("c", "2023-01-03T09:00:00", "new")])          # v2

    # time travel: each version reads its exact state
    def state(version):
        df = deltatable.read_snapshot_df(spark, path, version)
        return {r.id: r.note for r in df.collect()}

    assert state(0) == {"a": "v1", "b": "v1"}
    assert state(1) == {"a": "v2", "b": "v1"}
    assert state(2) == {"a": "v3", "b": "v1", "c": "new"}
    assert state(None) == state(2)

    # the documented hazard: a plain directory read sees superseded
    # duplicates on a retained table (3 'a' versions)
    plain = spark.read.parquet(path)
    assert plain.filter(plain.id == "a").count() == 3

    # vacuum to the current snapshot only
    deleted = deltatable.vacuum(path, retain_versions=0)
    assert len(deleted) == 2  # the two superseded day=01 files
    assert state(None) == {"a": "v3", "b": "v1", "c": "new"}
    assert {r.id: r.note for r in spark.read.parquet(path).collect()} == state(None)
    import pytest as _pt

    with _pt.raises(FileNotFoundError, match="vacuum horizon"):
        deltatable.read_snapshot_df(spark, path, 0)
    # metadata time travel still works past the horizon
    assert deltatable.snapshot_at(path, 0)["total_rows"] == 2


def test_optimize_compacts_small_files(spark, tmp_path):
    """OPTIMIZE: many per-batch small files in one partition compact
    to one file per partition, rows identical, log consistent
    (dataChange=false adds/removes, OPTIMIZE commitInfo), untouched
    single-file partitions left alone — in both physical modes."""
    import json as _json

    from dynamodb_to_datalake_project_spark import deltatable

    for retain in (False, True):
        path = str(tmp_path / f"lake_{retain}")
        cols = ["id", "update_at", "note", "day"]
        # a 4-task write leaves 4 small files inside day=01 (the
        # many-files-per-partition shape a wide merge produces)
        spark.createDataFrame(
            _ts_rows(
                [(f"k{i}", "2023-01-01T10:00:00", f"v{i}") for i in range(4)]
            ),
            cols,
        ).repartition(4).write.partitionBy("day").parquet(path)
        # bootstrap the log by merging a DIFFERENT partition
        merge.merge_into_parquet(
            spark, path,
            spark.createDataFrame(
                _ts_rows([("z", "2023-01-05T10:00:00", "solo")]), cols
            ),
            ["id"], ["update_at"], ["day"], retain_files=retain,
        )
        snap0 = deltatable.snapshot_at(path)
        day01 = [f for f in snap0["active_files"] if "day=2023-01-01" in f]
        assert len(day01) >= 2, (retain, day01)
        before = {
            r.id: r.note
            for r in deltatable.read_snapshot_df(spark, path).collect()
        }

        n = merge.optimize_table(
            spark, path, ["day"], retain_files=retain
        )
        assert n == 1  # only day=01 was over the file threshold
        snap1 = deltatable.snapshot_at(path)
        day01_after = [
            f for f in snap1["active_files"] if "day=2023-01-01" in f
        ]
        assert len(day01_after) == 1
        solo_after = [
            f for f in snap1["active_files"] if "day=2023-01-05" in f
        ]
        assert solo_after == [
            f for f in snap0["active_files"] if "day=2023-01-05" in f
        ]
        after = {
            r.id: r.note
            for r in deltatable.read_snapshot_df(spark, path).collect()
        }
        assert after == before
        assert snap1["total_rows"] == snap0["total_rows"] == 5
        # physical state matches the mode
        live = set(merge._all_data_files(path))
        if retain:
            assert set(snap1["active_files"]) < live  # history retained
        else:
            assert set(snap1["active_files"]) == live
        # the OPTIMIZE commit is marked dataChange=false throughout
        top = dict(deltatable.read_commits(path))[snap1["version"]]
        kinds = []
        for ln in top.splitlines():
            a = _json.loads(ln)
            (k, body), = a.items()
            kinds.append(k)
            if k in ("add", "remove"):
                assert body["dataChange"] is False
            if k == "commitInfo":
                assert body["operation"] == "OPTIMIZE"
        assert "add" in kinds and "remove" in kinds


def test_merge_occ_three_writer_interleavings_no_lost_updates(spark, tmp_path):
    """OCC stress: three writers with pairwise-overlapping partition
    sets commit under nested interleavings (C runs inside B's commit
    window, B runs inside A's). Whatever the retry cascade looks
    like, the final table must equal the latest-wins merge of all
    batches, the log must replay to exactly the live files, and
    every version's readVersion must point at its true base."""
    import json as _json

    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    base = [
        ("a", "2023-01-01T10:00:00", "v0"),
        ("b", "2023-01-02T10:00:00", "v0"),
        ("c", "2023-01-03T10:00:00", "v0"),
    ]
    merge.merge_into_parquet(
        spark, path, spark.createDataFrame(_ts_rows(base), cols),
        ["id"], ["update_at"], ["day"],
    )

    batch_a = spark.createDataFrame(  # days 01+02
        _ts_rows([("a", "2023-01-01T11:00:00", "vA"),
                  ("b", "2023-01-02T11:00:00", "vA")]), cols
    )
    batch_b = spark.createDataFrame(  # days 02+03 (overlaps A on 02)
        _ts_rows([("b", "2023-01-02T12:00:00", "vB"),
                  ("c", "2023-01-03T12:00:00", "vB")]), cols
    )
    batch_c = spark.createDataFrame(  # days 01+03 (overlaps both)
        _ts_rows([("a", "2023-01-01T13:00:00", "vC"),
                  ("c", "2023-01-03T13:00:00", "vC")]), cols
    )

    fired_b, fired_c = [], []

    def run_c():
        if not fired_c:
            fired_c.append(1)
            merge.merge_into_parquet(
                spark, path, batch_c, ["id"], ["update_at"], ["day"],
            )

    def run_b_with_c_inside():
        if not fired_b:
            fired_b.append(1)
            merge.merge_into_parquet(
                spark, path, batch_b, ["id"], ["update_at"], ["day"],
                _hook_before_commit=run_c,
            )

    # A stages first, then B (itself interleaved by C) commits ahead
    merge.merge_into_parquet(
        spark, path, batch_a, ["id"], ["update_at"], ["day"],
        _hook_before_commit=run_b_with_c_inside,
    )

    # latest-wins truth: every batch's newer ts beat the older ones
    result = {r.id: r.note for r in spark.read.parquet(path).collect()}
    assert result == {"a": "vC", "b": "vB", "c": "vC"}, result

    versions = deltatable.list_versions(path)
    assert versions == [0, 1, 2, 3]
    snap = deltatable.table_snapshot(path)
    assert set(snap["active_files"]) == set(merge._all_data_files(path))
    assert snap["total_rows"] == 3
    # every commit's readVersion is exactly the version before it
    # RETRIED against (strictly increasing, < own version)
    for v, content in deltatable.read_commits(path):
        ci = next(
            _json.loads(ln)["commitInfo"]
            for ln in content.splitlines()
            if "commitInfo" in ln
        )
        assert ci["readVersion"] < v
    # no residue: no claims, markers, or staging left behind
    assert not [
        f for f in os.listdir(os.path.join(path, "_delta_log"))
        if f.startswith(".claim-")
    ]
    assert os.listdir(os.path.join(path, "_staging")) == []


def test_retain_mode_is_a_table_property(spark, tmp_path):
    """The retention mode is recorded in the Delta metaData at table
    creation (ADVICE r10): a later call may inherit it
    (retain_files=None) but never silently flip it — a swap-mode
    commit's rmtree on a retained-history table would physically
    destroy the files earlier commits paid to keep."""
    from dynamodb_to_datalake_project_spark import deltatable

    cols = ["id", "update_at", "note", "day"]

    def m(path, rows, **kw):
        merge.merge_into_parquet(
            spark, path, spark.createDataFrame(_ts_rows(rows), cols),
            ["id"], ["update_at"], ["day"], **kw,
        )

    # retained table: creation records the mode; None inherits it
    rpath = str(tmp_path / "retained")
    m(rpath, [("a", "2023-01-01T10:00:00", "v1")], retain_files=True)
    assert deltatable.table_retain_mode(rpath) is True
    m(rpath, [("a", "2023-01-01T12:00:00", "v2")])  # default None inherits
    # superseded file retained => time travel to v0 still works
    df0 = deltatable.read_snapshot_df(spark, rpath, 0)
    assert {r.note for r in df0.collect()} == {"v1"}
    # an explicit contradictory flag is rejected before any damage
    with pytest.raises(ValueError, match="retainFiles"):
        m(rpath, [("a", "2023-01-01T14:00:00", "v3")], retain_files=False)
    with pytest.raises(ValueError, match="retainFiles"):
        merge.optimize_table(
            spark, rpath, ["day"], retain_files=False, max_files_ok=0
        )
    # and the history is intact after the rejections
    assert deltatable.read_snapshot_df(spark, rpath, 0).count() == 1

    # swap table: the reverse flip is rejected too
    spath = str(tmp_path / "swap")
    m(spath, [("a", "2023-01-01T10:00:00", "v1")], retain_files=False)
    assert deltatable.table_retain_mode(spath) is False
    with pytest.raises(ValueError, match="retainFiles"):
        m(spath, [("b", "2023-01-02T10:00:00", "v1")], retain_files=True)
    m(spath, [("b", "2023-01-02T10:00:00", "v1")])  # None inherits swap


def test_live_marker_and_staging_protected_by_grace(spark, tmp_path):
    """A commit marker written milliseconds ago belongs to a LIVE
    writer mid-apply: the hot-path recovery must leave it (and its
    staging) alone inside the grace window — replaying it would race
    the owner's rmtree/rename and can lose a partition. Once aged, it
    is a crashed writer's leftover and replay heals it (ADVICE r10)."""
    import json as _json

    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    merge.merge_into_parquet(
        spark, path,
        spark.createDataFrame(
            _ts_rows([("a", "2023-01-01T10:00:00", "v1")]), cols
        ),
        ["id"], ["update_at"], ["day"], delta_log=False,
    )

    # hand-build a committed-but-unapplied state (marker + staging)
    cid = "deadbeef0001"
    rel = "day=2023-01-09"
    sdir = os.path.join(path, "_staging", cid, rel)
    os.makedirs(sdir)
    spark.createDataFrame(
        [("z", "2023-01-09T10:00:00", "vz")], ["id", "update_at", "note"]
    ).coalesce(1).write.mode("overwrite").parquet(sdir)
    cdir = os.path.join(path, "_commits")
    os.makedirs(cdir, exist_ok=True)
    with open(os.path.join(cdir, f"{cid}.json"), "w") as f:
        _json.dump(
            {"partitions": [rel], "removed": [], "root_removed": []}, f
        )

    # fresh marker: hot path (grace) must not touch it
    assert (
        merge.recover_pending_commits(path, staging_grace_seconds=3600.0)
        == []
    )
    assert os.path.isfile(os.path.join(cdir, f"{cid}.json"))
    assert os.path.isdir(sdir)

    # aged marker: hot path replays it
    for p in (os.path.join(cdir, f"{cid}.json"),):
        old = os.path.getmtime(p) - 7200
        os.utime(p, (old, old))
    assert merge.recover_pending_commits(
        path, staging_grace_seconds=3600.0
    ) == [cid]
    assert not os.path.exists(os.path.join(cdir, f"{cid}.json"))
    assert os.path.isdir(os.path.join(path, rel))


def test_checkpoint_bounded_to_labeled_version(spark, tmp_path, monkeypatch):
    """A checkpoint labeled v must fold ONLY commits <= v (ADVICE
    r10): nothing stops a concurrent writer filling v+1 while the
    checkpoint is being written, and embedding v+1's adds under label
    v corrupts the cold read's version accounting."""
    import json as _json

    from dynamodb_to_datalake_project_spark import deltatable

    monkeypatch.setattr(deltatable, "CHECKPOINT_INTERVAL", 2)
    path = str(tmp_path / "lake")
    cols = ["id", "update_at", "note", "day"]
    for rows in (
        [("a", "2023-01-01T10:00:00", "v1")],
        [("b", "2023-01-02T10:00:00", "v1")],
        [("c", "2023-01-03T10:00:00", "v1")],
    ):
        merge.merge_into_parquet(
            spark, path, spark.createDataFrame(_ts_rows(rows), cols),
            ["id"], ["update_at"], ["day"],
        )
    # remove the checkpoint v2's own merge wrote so we can re-trigger
    # it manually AFTER a racing v3 commit lands in the log
    ld = os.path.join(path, "_delta_log")
    for f in os.listdir(ld):
        if "checkpoint" in f or f == "_last_checkpoint":
            os.remove(os.path.join(ld, f))
    racing = {
        "add": {
            "path": "day=2099-01-01/part-racing.parquet",
            "partitionValues": {"day": "2099-01-01"},
            "size": 1,
            "modificationTime": 0,
            "dataChange": True,
            "stats": _json.dumps({"numRecords": 1}),
        }
    }
    with open(os.path.join(ld, f"{3:020d}.json"), "w") as f:
        f.write(
            _json.dumps({"commitInfo": {"txnId": "racer", "readVersion": 2}})
            + "\n" + _json.dumps(racing) + "\n"
        )
    # the checkpointing writer believes the tip is 2 (its own claim)
    monkeypatch.setattr(deltatable, "current_version", lambda p: 2)
    assert deltatable.maybe_write_checkpoint(path) == 2
    monkeypatch.undo()

    import pyarrow.parquet as pq

    cp = pq.read_table(
        os.path.join(ld, f"{2:020d}.checkpoint.parquet")
    ).to_pylist()
    paths = {r["add"]["path"] for r in cp if r["add"] is not None}
    assert "day=2099-01-01/part-racing.parquet" not in paths
    assert len(paths) == 3  # exactly v0..v2's three partitions


def test_schema_evolution_add_column_and_widen(spark, tmp_path):
    """evolve_schema=True: a batch may ADD columns (old rows read
    NULL, no partition rewrite) and WIDEN numeric types; the commit
    carries a new metaData action and later merges read the table
    with the log's schema, not a sampled footer's."""
    import json as _json

    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    b0 = spark.createDataFrame(
        [("a", "2023-01-01T10:00:00", 1, "2023-01-01")],
        "id string, update_at string, n int, day string",
    )
    merge.merge_into_parquet(spark, path, b0, ["id"], ["update_at"], ["day"])

    b1 = spark.createDataFrame(
        [("b", "2023-01-02T10:00:00", 2, "2023-01-02", 0.5)],
        "id string, update_at string, n bigint, day string, score double",
    )
    merge.merge_into_parquet(
        spark, path, b1, ["id"], ["update_at"], ["day"], evolve_schema=True
    )
    sj = deltatable._schema_json_of(path)
    fields = {f["name"]: f["type"] for f in _json.loads(sj)["fields"]}
    assert fields["n"] == "long" and fields["score"] == "double"
    out = spark.read.schema(T.StructType.fromJson(_json.loads(sj))).parquet(
        path
    )
    got = {r.id: (r.n, r.score) for r in out.collect()}
    assert got == {"a": (1, None), "b": (2, 0.5)}

    # narrower LATER batch up-casts in flight, no new schema change
    v_before = deltatable.current_version(path)
    b2 = spark.createDataFrame(
        [("c", "2023-01-03T10:00:00", 3, "2023-01-03", None)],
        "id string, update_at string, n int, day string, score double",
    )
    merge.merge_into_parquet(
        spark, path, b2, ["id"], ["update_at"], ["day"], evolve_schema=True
    )
    v2 = deltatable.current_version(path)
    assert v2 == v_before + 1
    metas = [
        ln
        for _v, content in deltatable.read_commits(path)
        for ln in content.splitlines()
        if '"metaData"' in ln
    ]
    assert len(metas) == 2  # create + the one evolution, not three


def test_schema_evolution_rejections(spark, tmp_path):
    """Evolution never drops columns, never touches partition
    columns, never narrows or rewrites incompatible types."""
    path = str(tmp_path / "lake")
    b0 = spark.createDataFrame(
        [("a", "2023-01-01T10:00:00", 1, "2023-01-01")],
        "id string, update_at string, n int, day string",
    )
    merge.merge_into_parquet(spark, path, b0, ["id"], ["update_at"], ["day"])

    dropped = spark.createDataFrame(
        [("b", "2023-01-02T10:00:00", "2023-01-02")],
        "id string, update_at string, day string",
    )
    with pytest.raises(ValueError, match="never drops"):
        merge.merge_into_parquet(
            spark, path, dropped, ["id"], ["update_at"], ["day"],
            evolve_schema=True,
        )
    incompatible = spark.createDataFrame(
        [("b", "2023-01-02T10:00:00", "x", "2023-01-02")],
        "id string, update_at string, n string, day string",
    )
    with pytest.raises(ValueError, match="incompatible"):
        merge.merge_into_parquet(
            spark, path, incompatible, ["id"], ["update_at"], ["day"],
            evolve_schema=True,
        )
    new_part = spark.createDataFrame(
        [("b", "2023-01-02T10:00:00", 2, "2023-01-02", "h1")],
        "id string, update_at string, n int, day string, hour string",
    )
    with pytest.raises(ValueError, match="partition column"):
        merge.merge_into_parquet(
            spark, path, new_part, ["id"], ["update_at"], ["day", "hour"],
            evolve_schema=True,
        )


def test_schema_evolution_time_travel_pre_evolution(spark, tmp_path):
    """On a retained table, time travel to a pre-evolution version
    reads the schema AS OF that version (no later columns), and the
    post-evolution snapshot NULL-backfills old files."""
    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    b0 = spark.createDataFrame(
        [("a", "2023-01-01T10:00:00", "2023-01-01")],
        "id string, update_at string, day string",
    )
    merge.merge_into_parquet(
        spark, path, b0, ["id"], ["update_at"], ["day"], retain_files=True
    )
    b1 = spark.createDataFrame(
        [("b", "2023-01-02T10:00:00", "2023-01-02", 9)],
        "id string, update_at string, day string, rank bigint",
    )
    merge.merge_into_parquet(
        spark, path, b1, ["id"], ["update_at"], ["day"],
        evolve_schema=True,
    )
    v0 = deltatable.read_snapshot_df(spark, path, 0)
    assert "rank" not in v0.columns
    v1 = deltatable.read_snapshot_df(spark, path, 1)
    assert {r.id: r["rank"] for r in v1.collect()} == {"a": None, "b": 9}


def test_partition_values_unescape_writer_path_names():
    """The log's partitionValues carry the real values: Spark's writer
    escapes `:` `%` `=` `/` in directory names as `%XX`."""
    from dynamodb_to_datalake_project_spark import deltatable

    pv = deltatable.partition_values_of(
        "p=a%3Ab/q=50%25/r=__HIVE_DEFAULT_PARTITION__/part-0.parquet",
        ["p", "q", "r"],
    )
    assert pv == {"p": "a:b", "q": "50%", "r": None}


def test_merge_occ_conflict_on_escaped_partition_value(spark, tmp_path):
    """Two writers on partition value "a:b" (directory `p=a%3Ab`): the
    interleaved commit must be seen as touching "a:b", so the stale
    writer retries on top of it instead of swapping its stale copy of
    the partition over the other writer's update."""
    import json as _json

    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    schema = "id string, update_at string, note string, p string"
    b0 = spark.createDataFrame(
        [("a", "2023-01-01T10:00:00", "v1", "a:b"),
         ("b", "2023-01-01T10:00:00", "v1", "a:b")],
        schema,
    )
    merge.merge_into_parquet(spark, path, b0, ["id"], ["update_at"], ["p"])
    batch_a = spark.createDataFrame(
        [("a", "2023-01-01T12:00:00", "vA", "a:b")], schema
    )
    batch_b = spark.createDataFrame(
        [("c", "2023-01-01T11:00:00", "vB", "a:b")], schema
    )
    fired = []

    def interleave_a():
        if not fired:
            fired.append(1)
            merge.merge_into_parquet(
                spark, path, batch_a, ["id"], ["update_at"], ["p"]
            )

    merge.merge_into_parquet(
        spark, path, batch_b, ["id"], ["update_at"], ["p"],
        _hook_before_commit=interleave_a,
    )
    v2 = dict(deltatable.read_commits(path))[2]
    ci = next(
        _json.loads(ln)["commitInfo"]
        for ln in v2.splitlines()
        if "commitInfo" in ln
    )
    assert ci["readVersion"] == 1, (
        "the stale writer must have retried on top of the other commit"
    )
    result = {r.id: r.note for r in spark.read.parquet(path).collect()}
    assert result == {"a": "vA", "b": "v1", "c": "vB"}


def test_hard_delete_drops_emptied_escaped_partition(spark, tmp_path):
    """delete_mode='hard' empties partition "x:y" (directory
    `day=x%3Ay`): the partition is dropped at commit, and the lake
    equals the fold of the two batches."""
    from dynamodb_to_datalake_project_spark import cdc

    table = str(tmp_path / "lake")
    schema = "id string, update_at string, note string, day string, event_name string"
    initial = spark.createDataFrame(
        [
            ("a", "2023-01-01T00:00:00", "v1", "x:y", "INSERT"),
            ("b", "2023-01-01T00:00:00", "v1", "x:y", "INSERT"),
            ("c", "2023-01-01T00:00:00", "v1", "d1", "INSERT"),
        ],
        schema,
    )
    batch = spark.createDataFrame(
        [
            ("a", "2023-01-02T00:00:00", None, "x:y", "REMOVE"),
            ("b", "2023-01-02T00:00:00", None, "x:y", "REMOVE"),
            ("c", "2023-01-02T00:00:00", "v2", "d1", "MODIFY"),
        ],
        schema,
    )
    fn = cdc.make_merge_batch_fn(
        table, ["id"], ["update_at"], ["day"],
        event_type_col="event_name", delete_mode="hard",
    )
    fn(initial, 0)
    assert os.path.isdir(os.path.join(table, "day=x%3Ay"))
    fn(batch, 1)
    assert not os.path.isdir(os.path.join(table, "day=x%3Ay"))
    state = {
        r.id: (r.note, r.day) for r in spark.read.parquet(table).collect()
    }
    assert state == {"c": ("v2", "d1")}


def _listing_jobs(spark, group):
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = []
    for jid in sc.statusTracker().getJobIdsForGroup(group):
        desc = store.job(jid).description()
        if desc.isDefined() and desc.get().startswith("Listing leaf files"):
            out.append(desc.get())
    return out


def test_merge_reads_only_touched_partition_files(spark, tmp_path):
    """Shape: on a 41-partition table, a batch touching ONE partition
    merges without a whole-lake listing job (the target is a file list
    of the touched partition), and every row of the untouched
    partitions survives."""
    path = str(tmp_path / "lake")
    schema = "id string, update_at string, note string, day string"
    days = [f"2023-02-{d:02d}" for d in range(1, 29)] + [
        f"2023-03-{d:02d}" for d in range(1, 14)
    ]
    assert len(days) >= 40
    rows = [
        (f"{day}-{i}", f"{day}T00:00:00", "v1", day)
        for day in days
        for i in range(2)
    ]
    merge.merge_into_parquet(
        spark, path, spark.createDataFrame(rows, schema),
        ["id"], ["update_at"], ["day"],
    )
    sc = spark.sparkContext
    # control: a whole-table read of this lake does launch a listing job
    sc.setJobGroup("whole_read", "whole-table read")
    try:
        assert spark.read.parquet(path).count() == len(rows)
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert _listing_jobs(spark, "whole_read")

    batch = spark.createDataFrame(
        [(f"{days[5]}-0", f"{days[5]}T01:00:00", "v2", days[5]),
         (f"{days[5]}-9", f"{days[5]}T01:00:00", "new", days[5])],
        schema,
    )
    sc.setJobGroup("one_partition_merge", "merge touching one partition")
    try:
        merge.merge_into_parquet(
            spark, path, batch, ["id"], ["update_at"], ["day"]
        )
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    assert sc.statusTracker().getJobIdsForGroup("one_partition_merge")
    assert _listing_jobs(spark, "one_partition_merge") == []

    state = {r.id: r.note for r in spark.read.parquet(path).collect()}
    expect = {r[0]: r[2] for r in rows}
    expect[f"{days[5]}-0"] = "v2"
    expect[f"{days[5]}-9"] = "new"
    assert state == expect


@pytest.mark.parametrize("retain", [False, True])
def test_merge_escaped_and_null_partitions_keep_untouched_rows(
    spark, tmp_path, retain
):
    """Touched partitions whose values are null, "", "a:b" and "50%"
    keep every row the batch does not touch: each partition's files are
    found under the directory Spark's writer named for it (a wrongly
    built name would leave the old rows out of the merge target and the
    swap would drop them). Null and "" share the hive null partition."""
    from dynamodb_to_datalake_project_spark import deltatable

    path = str(tmp_path / "lake")
    schema = "id string, update_at string, note string, p string"
    values = [None, "", "a:b", "50%"]
    rows = [
        (f"k{j}-{i}", "2023-01-01T00:00:00", "v1", v)
        for j, v in enumerate(values)
        for i in range(2)
    ] + [("plain-0", "2023-01-01T00:00:00", "v1", "plain")]
    merge.merge_into_parquet(
        spark, path, spark.createDataFrame(rows, schema),
        ["id"], ["update_at"], ["p"], retain_files=retain,
    )
    expect = {r[0]: r[2] for r in rows}
    for j, v in enumerate(values):
        batch = spark.createDataFrame(
            [(f"k{j}-0", "2023-01-02T00:00:00", f"v2-{j}", v),
             (f"k{j}-new", "2023-01-02T00:00:00", "new", v)],
            schema,
        )
        merge.merge_into_parquet(
            spark, path, batch, ["id"], ["update_at"], ["p"]
        )
        expect[f"k{j}-0"] = f"v2-{j}"
        expect[f"k{j}-new"] = "new"
        if retain:
            table = deltatable.read_snapshot_df(spark, path)
        else:
            table = spark.read.parquet(path)
        state = {r.id: r.note for r in table.collect()}
        assert state == expect, (v, state)
