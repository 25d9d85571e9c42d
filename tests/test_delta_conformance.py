"""Delta-log conformance against the PUBLISHED protocol, without
delta-spark (not installable in this container — the perennial skip):

1. a GOLDEN log hand-authored in the exact shape of the protocol
   spec's action examples (delta.io PROTOCOL.md: protocol / metaData /
   add / remove field sets) must replay to the documented state —
   proving the READER consumes spec bytes it did not write;
2. every action the WRITER emits must carry the spec-required fields
   with spec types — proving an independent reader could consume our
   log;
3. the parquet CHECKPOINT is read back with pyarrow (an independent
   parquet implementation) and must carry the spec's column layout.

Together these substitute for the unavailable independent-reader
run (round-10 verdict item 2): the bytes are checked against the
spec from both directions instead of against another implementation.
"""

from __future__ import annotations

import json
import os

from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark import deltatable, merge

GOLDEN_SCHEMA = json.dumps(
    {
        "type": "struct",
        "fields": [
            {
                "name": "letter",
                "type": "string",
                "nullable": True,
                "metadata": {},
            },
            {
                "name": "value",
                "type": "long",
                "nullable": True,
                "metadata": {},
            },
        ],
    }
)

#: v0: create + one file (the spec's CTAS example shape)
GOLDEN_V0 = [
    {
        "commitInfo": {
            "timestamp": 1564524295023,
            "operation": "CREATE TABLE AS SELECT",
            "operationParameters": {},
            "isBlindAppend": True,
        }
    },
    {"protocol": {"minReaderVersion": 1, "minWriterVersion": 2}},
    {
        "metaData": {
            "id": "af23c9d7-fff1-4a5a-a2c8-55c59bd782aa",
            "format": {"provider": "parquet", "options": {}},
            "schemaString": GOLDEN_SCHEMA,
            "partitionColumns": [],
            "configuration": {"appendOnly": "false"},
            "createdTime": 1564524294376,
        }
    },
    {
        "add": {
            "path": "part-00000-73a381b7.c000.snappy.parquet",
            "partitionValues": {},
            "size": 702,
            "modificationTime": 1564524299000,
            "dataChange": True,
            "stats": json.dumps(
                {
                    "numRecords": 5,
                    "minValues": {"letter": "a", "value": 1},
                    "maxValues": {"letter": "e", "value": 9},
                    "nullCount": {"letter": 0, "value": 0},
                }
            ),
        }
    },
]

#: v1: rewrite (remove + add) — the spec's update example shape
GOLDEN_V1 = [
    {
        "commitInfo": {
            "timestamp": 1564524300123,
            "operation": "WRITE",
            "isBlindAppend": False,
        }
    },
    {
        "remove": {
            "path": "part-00000-73a381b7.c000.snappy.parquet",
            "deletionTimestamp": 1564524300123,
            "dataChange": True,
        }
    },
    {
        "add": {
            "path": "part-00000-8d9a7f3e.c000.snappy.parquet",
            "partitionValues": {},
            "size": 740,
            "modificationTime": 1564524300000,
            "dataChange": True,
            "stats": json.dumps({"numRecords": 7}),
        }
    },
]


def _write_golden(table: str) -> None:
    ld = os.path.join(table, "_delta_log")
    os.makedirs(ld)
    for v, actions in enumerate((GOLDEN_V0, GOLDEN_V1)):
        with open(os.path.join(ld, f"{v:020d}.json"), "w") as f:
            f.write("\n".join(json.dumps(a) for a in actions) + "\n")


def test_golden_spec_log_replays(tmp_path):
    """The reader consumes a log IT DID NOT WRITE, carrying spec
    fields we never emit (isBlindAppend, operationParameters,
    min/max stats, appendOnly config) — unknown fields must be
    ignored, known ones folded exactly."""
    table = str(tmp_path / "golden")
    _write_golden(table)

    snap = deltatable.snapshot_at(table)
    assert snap["version"] == 1
    assert set(snap["active_files"]) == {
        "part-00000-8d9a7f3e.c000.snappy.parquet"
    }
    assert snap["total_rows"] == 7

    # version-0 state via the bounded fold
    snap0 = deltatable.snapshot_at(table, 0)
    assert set(snap0["active_files"]) == {
        "part-00000-73a381b7.c000.snappy.parquet"
    }
    assert snap0["total_rows"] == 5

    # schema travels: the spec metaData's schemaString parses as the
    # documented struct
    sj = deltatable._schema_json_of(table)
    st = T.StructType.fromJson(json.loads(sj))
    assert [f.name for f in st.fields] == ["letter", "value"]
    # and the recorded configuration round-trips
    assert deltatable.table_retain_mode(table) is None  # unknown key


def _all_actions(table: str) -> "list[tuple[int, dict]]":
    out = []
    for v, content in deltatable.read_commits(table):
        for line in content.splitlines():
            if line.strip():
                out.append((v, json.loads(line)))
    return out


def test_writer_actions_carry_spec_fields(spark, tmp_path):
    """Every action merge_into_parquet emits must be consumable by a
    spec-conformant reader: single-key JSON lines, contiguous
    %020d.json versions, spec-required fields with spec types."""
    table = str(tmp_path / "lake")
    cols = "id string, update_at string, note string, day string"
    for rows in (
        [("a", "2023-01-01T10:00:00", "v1", "2023-01-01")],
        [("a", "2023-01-01T12:00:00", "v2", "2023-01-01"),
         ("b", "2023-01-02T09:00:00", "v1", "2023-01-02")],
    ):
        merge.merge_into_parquet(
            spark, table, spark.createDataFrame(rows, cols),
            ["id"], ["update_at"], ["day"],
        )

    ld = os.path.join(table, "_delta_log")
    names = sorted(
        f for f in os.listdir(ld)
        if f.endswith(".json") and not f.startswith((".", "_"))
    )
    assert names == [f"{v:020d}.json" for v in range(len(names))]
    assert len(names) >= 2

    kinds = set()
    for v, a in _all_actions(table):
        assert len(a) == 1, "one action per line"
        (kind, body), = a.items()
        kinds.add(kind)
        assert kind in {"commitInfo", "protocol", "metaData", "add", "remove"}
        if kind == "protocol":
            assert body["minReaderVersion"] == 1
            assert body["minWriterVersion"] == 2
        elif kind == "metaData":
            assert isinstance(body["id"], str) and body["id"]
            assert body["format"]["provider"] == "parquet"
            st = T.StructType.fromJson(json.loads(body["schemaString"]))
            assert {f.name for f in st.fields} >= {"id", "update_at"}
            assert body["partitionColumns"] == ["day"]
            assert all(
                isinstance(k, str) and isinstance(vv, str)
                for k, vv in body["configuration"].items()
            )
        elif kind == "add":
            assert isinstance(body["path"], str) and "\\" not in body["path"]
            assert isinstance(body["partitionValues"], dict)
            assert all(
                vv is None or isinstance(vv, str)
                for vv in body["partitionValues"].values()
            )
            assert isinstance(body["size"], int) and body["size"] > 0
            assert isinstance(body["modificationTime"], int)
            assert isinstance(body["dataChange"], bool)
            stats = json.loads(body["stats"])
            assert isinstance(stats["numRecords"], int)
        elif kind == "remove":
            assert isinstance(body["path"], str)
            assert isinstance(body["dataChange"], bool)
            assert "deletionTimestamp" in body
    assert {"protocol", "metaData", "add", "remove", "commitInfo"} <= kinds

    # live adds point at real files whose size matches
    snap = deltatable.snapshot_at(table)
    for rel, info in snap["active_files"].items():
        full = os.path.join(table, rel)
        assert os.path.isfile(full)
        assert os.path.getsize(full) == info["size"]


def test_checkpoint_layout_readable_by_pyarrow(spark, tmp_path, monkeypatch):
    """The checkpoint parquet must carry the spec's column layout —
    verified through pyarrow, an INDEPENDENT parquet implementation
    (the same role it plays for the parquet writer's conformance)."""
    import pyarrow.parquet as pq

    monkeypatch.setattr(deltatable, "CHECKPOINT_INTERVAL", 2)
    table = str(tmp_path / "lake")
    cols = "id string, update_at string, note string, day string"
    for rows in (
        [("a", "2023-01-01T10:00:00", "v1", "2023-01-01")],
        [("b", "2023-01-02T10:00:00", "v1", "2023-01-02")],
        [("a", "2023-01-01T12:00:00", "v2", "2023-01-01")],
    ):
        merge.merge_into_parquet(
            spark, table, spark.createDataFrame(rows, cols),
            ["id"], ["update_at"], ["day"],
        )
    ld = os.path.join(table, "_delta_log")
    cp = os.path.join(ld, f"{2:020d}.checkpoint.parquet")
    assert os.path.isfile(cp)
    with open(os.path.join(ld, "_last_checkpoint")) as f:
        lc = json.load(f)
    t = pq.read_table(cp)
    assert lc["version"] == 2 and lc["size"] == t.num_rows

    schema = t.schema
    add_t = schema.field("add").type
    add_fields = {add_t.field(i).name for i in range(add_t.num_fields)}
    assert add_fields >= {
        "path", "partitionValues", "size", "modificationTime",
        "dataChange", "stats",
    }
    import pyarrow as pa

    pv_t = add_t.field(add_t.get_field_index("partitionValues")).type
    assert pa.types.is_map(pv_t), "partitionValues must be map<str,str>"
    meta_t = schema.field("metaData").type
    meta_fields = {meta_t.field(i).name for i in range(meta_t.num_fields)}
    assert meta_fields >= {"id", "schemaString", "partitionColumns"}
    rows = t.to_pylist()
    assert sum(1 for r in rows if r["protocol"] is not None) == 1
    assert sum(1 for r in rows if r["metaData"] is not None) == 1
    n_adds = sum(1 for r in rows if r["add"] is not None)
    snap = deltatable.snapshot_at(table)
    assert n_adds == len(snap["active_files"])


def test_snapshot_reads_bounded_by_checkpoint_interval(tmp_path, monkeypatch):
    """A 250-commit log grown through append_commit +
    maybe_write_checkpoint (synthetic add/remove actions, a schema
    change mid-history, a null partition): at every version the
    checkpoint-plus-tail snapshot equals the full JSON fold of the
    commit prefix, and no read opens more than one checkpoint and
    CHECKPOINT_INTERVAL commit files, however long the history."""
    import builtins

    from dynamodb_to_datalake_project_spark.llm.deltalog import (
        replay_delta_log,
    )

    table = str(tmp_path / "t")
    os.makedirs(deltatable.log_dir(table))

    def schema(n):
        return json.dumps({"type": "struct", "fields": [
            {"name": f"c{i}", "type": "long", "nullable": True,
             "metadata": {}} for i in range(n)]})

    real_open = builtins.open
    opened: list[str] = []

    def counting_open(file, *a, **k):
        opened.append(str(file))
        return real_open(file, *a, **k)

    def opens(fn, *args):
        opened.clear()
        with monkeypatch.context() as m:
            m.setattr(builtins, "open", counting_open)
            out = fn(*args)
        n_cp = sum(f.endswith(".checkpoint.parquet") for f in opened)
        n_json = sum(f.endswith(".json") for f in opened)
        assert n_cp <= 1 and n_json <= deltatable.CHECKPOINT_INTERVAL, (
            fn.__name__, args, n_cp, n_json
        )
        return out

    commits: list[tuple[int, str]] = []
    live: dict[int, str] = {}
    for v in range(250):
        actions: list[dict] = [{"commitInfo": {"txnId": f"t{v}"}}]
        if v == 0:
            actions.append({"protocol": dict(deltatable._PROTOCOL)})
        if v in (0, 137):
            actions.append(deltatable.meta_action(
                schema(2 if v == 0 else 3), ["p"],
                {deltatable.RETAIN_CONFIG_KEY: "true" if v else "false"},
            ))
        for k in (v % 5, (v + 2) % 5):
            pv = {"p": None if k == 4 else str(k)}
            if k in live:
                actions.append({"remove": {
                    "path": live[k], "partitionValues": pv,
                    "deletionTimestamp": 0, "dataChange": True}})
            live[k] = f"p={k}/part-{v:03d}.parquet"
            actions.append({"add": {
                "path": live[k], "partitionValues": pv, "size": 100 + v,
                "modificationTime": 0, "dataChange": True,
                "stats": json.dumps({"numRecords": 1 + (v + k) % 7})}})
        deltatable.append_commit(table, v, actions, f"t{v}")
        deltatable.maybe_write_checkpoint(table)
        commits.append((v, "\n".join(json.dumps(a) for a in actions)))
        if v >= 248:  # the tip, and the tip one commit earlier
            assert opens(deltatable.snapshot_at, table)["version"] == v
            assert opens(deltatable.table_retain_mode, table) is True
            assert opens(deltatable._schema_json_of, table) == schema(3)

    cps = sorted(
        f for f in os.listdir(deltatable.log_dir(table))
        if f.endswith(".checkpoint.parquet")
    )
    assert len(cps) == 24  # versions 10, 20, ..., 240
    for v in range(250):
        snap = opens(deltatable.snapshot_at, table, v)
        fold = replay_delta_log(commits[: v + 1])
        assert snap["version"] == fold["version"] == v
        assert snap["active_files"] == fold["active_files"]
        assert snap["total_rows"] == fold["total_rows"]
        for key in ("schemaString", "configuration"):
            assert snap["meta"][key] == fold["meta"][key]
