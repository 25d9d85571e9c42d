"""Delta Lake transaction-log replay — zero-dep table-state audit.

The public Delta protocol stores a table's state as JSON-lines action
files under `_delta_log/` (protocol / metaData / add / remove /
commitInfo actions); the current snapshot is a pure fold over them in
version order: the LAST add/remove per file path wins. This module
replays that fold without Spark or delta-spark — the audit a lake
operator runs against a Delta table nobody can open ("how many active
files/rows, which schema, which writer protocol?"), and the honest
zero-dep companion to `merge_delta.py` (whose Delta MERGE leg needs
the real delta-spark package).

Subset contract: one fold, `replay_delta_log`, reads every Delta log
in the package. It starts from nothing or from a parquet checkpoint's
rows (one action per row) and folds the JSON commits after it;
`deltatable.snapshot_at` feeds it pyarrow-read checkpoints, and
`replay_delta_checkpoint` feeds it rows read by the zero-dep
nested-column reader. Unknown action types are ignored per the
protocol's forward-compat rule; malformed JSON, a line or row that is
not exactly one action, a metaData without a schema and out-of-order
versions raise ValueError; v2-checkpoint actions (`checkpointMetadata`)
raise NotImplementedError.
"""

from __future__ import annotations

import json

from dynamodb_to_datalake_project_spark.rowmap import map_rows


def replay_delta_log(
    commits: "list[tuple[int, str]]",
    checkpoint: "tuple[int, list[dict]] | None" = None,
) -> dict:
    """Fold JSON commit files (version, content) into the table
    snapshot: {"version", "protocol", "meta" (the latest metaData
    body, or None), "schema_cols", "partition_cols", "active_files":
    {path: {"size", "num_records", "partition_values"}}, "n_removed",
    "total_bytes", "total_rows"}.

    The fold starts empty, or from `checkpoint` = (its version N, its
    rows as action dicts). The commits must be contiguous from 0, or
    from N + 1 (the protocol requires it for a cold read). A
    checkpoint's remove rows are expired tombstones and are skipped,
    so n_removed counts the removes of the folded JSON commits."""
    base, rows = checkpoint or (-1, [])
    commits = sorted(commits)
    if [v for v, _ in commits] != list(
        range(base + 1, base + 1 + len(commits))
    ):
        raise ValueError(
            f"delta: commit versions not contiguous from {base + 1}"
        )

    def actions():
        for row in rows:
            yield base, row
        for version, content in commits:
            for line in content.splitlines():
                if not line.strip():
                    continue
                try:
                    action = json.loads(line)
                except json.JSONDecodeError as exc:
                    raise ValueError(
                        f"delta: malformed action in commit {version}: {exc}"
                    )
                yield version, action

    protocol = meta = None
    schema_cols: "list[str]" = []
    partition_cols: "list[str]" = []
    active: "dict[str, dict]" = {}
    n_removed = 0
    for version, action in actions():
        if not isinstance(action, dict) or len(action) != 1:
            raise ValueError(
                f"delta: every line or row of version {version} must "
                f"hold exactly one action"
            )
        (kind, body), = action.items()
        if kind == "protocol":
            protocol = (
                body.get("minReaderVersion"),
                body.get("minWriterVersion"),
            )
        elif kind == "metaData":
            try:
                schema = json.loads(body["schemaString"])
            except (KeyError, json.JSONDecodeError) as exc:
                raise ValueError(f"delta: bad metaData schema: {exc}")
            meta = body
            schema_cols = [f["name"] for f in schema.get("fields", [])]
            partition_cols = body.get("partitionColumns") or []
        elif kind == "add":
            stats = {}
            if body.get("stats"):
                try:
                    stats = json.loads(body["stats"])
                except json.JSONDecodeError as exc:
                    raise ValueError(f"delta: bad add stats: {exc}")
            active[body["path"]] = {
                "size": body.get("size") or 0,
                "num_records": stats.get("numRecords"),
                "partition_values": body.get("partitionValues") or {},
            }
        elif kind == "remove":
            if version > base and active.pop(body["path"], None) is not None:
                n_removed += 1
        elif kind == "checkpointMetadata":
            raise NotImplementedError(
                "delta: v2 checkpoints (checkpointMetadata) not implemented"
            )
        # commitInfo / txn / cdc / domainMetadata and unknown keys:
        # ignored (protocol forward-compat rule)
    return {
        "version": base + len(commits),
        "protocol": protocol,
        "meta": meta,
        "schema_cols": schema_cols,
        "partition_cols": partition_cols,
        "active_files": active,
        "n_removed": n_removed,
        "total_bytes": sum(f["size"] for f in active.values()),
        "total_rows": sum(
            f["num_records"] or 0 for f in active.values()
        ),
    }


def replay_delta_checkpoint(
    checkpoint: bytes, version: int, commits: "list[tuple[int, str]]"
) -> dict:
    """Cold-start the snapshot from a parquet CHECKPOINT (the real
    Delta read path — a reader never replays the whole JSON history),
    then fold the JSON commits after it. The checkpoint is a parquet
    file with one action per row (struct columns add/remove/metaData/
    protocol), read by the zero-dep nested-column reader; its rows
    and the tail go through the one `replay_delta_log` fold.

    Subset: add.path/size/stats, remove.path, protocol.min*Version,
    metaData.schemaString (partitionColumns, partitionValues and
    configuration are LIST/MAP — repeated columns stay an honest
    reader boundary, so partition columns resolve only from
    post-checkpoint metaData actions; `deltatable.snapshot_at` reads
    checkpoints with pyarrow instead)."""
    from dynamodb_to_datalake_project_spark.llm.parquetmeta import (
        read_parquet_column_full,
    )

    def col(name):
        return read_parquet_column_full(checkpoint, name)

    def text(b):
        return None if b is None else b.decode("utf-8")

    add_path, add_size, add_stats = (
        col("add.path"), col("add.size"), col("add.stats")
    )
    rem_path = col("remove.path")
    proto_r = col("protocol.minReaderVersion")
    proto_w = col("protocol.minWriterVersion")
    meta_schema = col("metaData.schemaString")
    rows = []
    for i in range(len(add_path)):
        row = {}
        if add_path[i] is not None:
            row["add"] = {
                "path": text(add_path[i]),
                "size": add_size[i],
                "stats": text(add_stats[i]),
            }
        if rem_path[i] is not None:
            row["remove"] = {"path": text(rem_path[i])}
        if proto_r[i] is not None:
            row["protocol"] = {
                "minReaderVersion": proto_r[i],
                "minWriterVersion": proto_w[i],
            }
        if meta_schema[i] is not None:
            row["metaData"] = {"schemaString": text(meta_schema[i])}
        rows.append(row)
    return replay_delta_log(commits, checkpoint=(version, rows))


def delta_checkpoint_stats(docs):
    """Per doc: a REAL parquet checkpoint (pyarrow struct columns,
    one action per row: protocol + metaData + 4+id%4 adds) at
    version 2, then two JSON commits (an add + a remove, then an
    add) folded on top — the cold-start path every production Delta
    reader takes. The census is a pure function of the formulas."""

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("version", T.LongType()),
            T.StructField("n_active", T.LongType()),
            T.StructField("n_removed", T.LongType()),
            T.StructField("total_bytes", T.LongType()),
            T.StructField("total_rows", T.LongType()),
            T.StructField("proto_reader", T.LongType()),
        ]
    )

    import io

    import pyarrow as pa
    import pyarrow.parquet as pq
    add_t = pa.struct(
        [("path", pa.string()), ("size", pa.int64()),
         ("stats", pa.string())]
    )
    rem_t = pa.struct([("path", pa.string())])
    meta_t = pa.struct([("schemaString", pa.string())])
    proto_t = pa.struct(
        [("minReaderVersion", pa.int64()),
         ("minWriterVersion", pa.int64())]
    )

    def row(did):
        k = 4 + did % 4
        rows_add = [None, None] + [
            {
                "path": f"part-{i:03d}.parquet",
                "size": 1000 * (i + 1) + did % 7,
                "stats": json.dumps(
                    {"numRecords": 50 + (did + i) % 9}
                ),
            }
            for i in range(k)
        ]
        rows_rem = [None] * (k + 2)
        rows_meta = [None, {
            "schemaString": json.dumps({
                "type": "struct",
                "fields": [{"name": "pk"}, {"name": "val"}],
            })
        }] + [None] * k
        rows_proto = [
            {"minReaderVersion": 1, "minWriterVersion": 2}
        ] + [None] * (k + 1)
        t = pa.table({
            "add": pa.array(rows_add, add_t),
            "remove": pa.array(rows_rem, rem_t),
            "metaData": pa.array(rows_meta, meta_t),
            "protocol": pa.array(rows_proto, proto_t),
        })
        buf = io.BytesIO()
        pq.write_table(t, buf)
        commits = [
            (3, json.dumps({"add": {
                "path": "part-new3.parquet", "size": 5000,
                "stats": json.dumps({"numRecords": 70}),
            }}) + "\n" + json.dumps({"remove": {
                "path": "part-001.parquet"}})),
            (4, json.dumps({"add": {
                "path": "part-new4.parquet", "size": 7000,
                "stats": json.dumps({"numRecords": 90}),
            }})),
        ]
        res = replay_delta_checkpoint(buf.getvalue(), 2, commits)
        assert res["schema_cols"] == ["pk", "val"]
        yield (
            did,
            res["version"],
            len(res["active_files"]),
            res["n_removed"],
            res["total_bytes"],
            res["total_rows"],
            res["protocol"][0],
        )

    return map_rows(docs.select("doc_id"), row, schema_t, spread=True)


def delta_log_stats(docs):
    """Per doc: a synthetic 2-commit Delta log — commit 0 writes
    protocol + metaData + (2 + id%4) files of formula sizes/rows;
    commit 1 removes every 3rd file and adds one compaction file
    holding the removed rows — replayed to the snapshot."""

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("snapshot_version", T.LongType()),
            T.StructField("n_active", T.LongType()),
            T.StructField("n_removed", T.LongType()),
            T.StructField("total_rows", T.LongType()),
            T.StructField("total_bytes", T.LongType()),
            T.StructField("n_schema_cols", T.LongType()),
        ]
    )

    def row(did):
        k = 2 + did % 4
        schema_str = json.dumps(
            {
                "type": "struct",
                "fields": [
                    {"name": n, "type": "long", "nullable": True,
                     "metadata": {}}
                    for n in ("id", "payload", "ts")
                ],
            }
        )
        c0_lines = [
            json.dumps({"protocol": {"minReaderVersion": 1,
                                     "minWriterVersion": 2}}),
            json.dumps({"metaData": {
                "id": f"tbl-{did}",
                "schemaString": schema_str,
                "partitionColumns": ["ts"],
                "format": {"provider": "parquet"},
            }}),
        ]
        rows = [100 + 7 * (did + i) % 50 for i in range(k)]
        sizes = [1000 + 13 * (did + i) % 500 for i in range(k)]
        for i in range(k):
            c0_lines.append(json.dumps({"add": {
                "path": f"part-{i:05d}.parquet",
                "size": sizes[i],
                "dataChange": True,
                "stats": json.dumps({"numRecords": rows[i]}),
            }}))
        removed = [i for i in range(k) if i % 3 == 0]
        compact_rows = sum(rows[i] for i in removed)
        c1_lines = [
            json.dumps({"commitInfo": {"operation": "OPTIMIZE"}})
        ]
        for i in removed:
            c1_lines.append(json.dumps({"remove": {
                "path": f"part-{i:05d}.parquet",
                "deletionTimestamp": 1,
                "dataChange": False,
            }}))
        c1_lines.append(json.dumps({"add": {
            "path": "compact-00000.parquet",
            "size": 4096,
            "dataChange": False,
            "stats": json.dumps({"numRecords": compact_rows}),
        }}))
        state = replay_delta_log(
            [(0, "\n".join(c0_lines)), (1, "\n".join(c1_lines))]
        )
        assert state["protocol"] == (1, 2)
        assert state["partition_cols"] == ["ts"]
        yield (
            did,
            state["version"],
            len(state["active_files"]),
            state["n_removed"],
            state["total_rows"],
            state["total_bytes"],
            len(state["schema_cols"]),
        )

    return map_rows(docs.select("doc_id"), row, schema_t, spread=True)


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "delta_checkpoint_replay",
        oracle="""
        WITH d AS (
          SELECT doc_id, 4 + doc_id % 4 AS k, doc_id % 7 AS m
          FROM documents
        ), a AS (
          SELECT doc_id, k, m,
                 (SELECT SUM(1000 * (i + 1) + m)
                  FROM unnest(range(0, k)) u(i)) AS cp_bytes,
                 (SELECT SUM(50 + (doc_id + i) % 9)
                  FROM unnest(range(0, k)) u(i)) AS cp_rows
          FROM d
        )
        SELECT doc_id,
               CAST(4 AS BIGINT) AS version,
               CAST(k + 1 AS BIGINT) AS n_active,
               CAST(1 AS BIGINT) AS n_removed,
               CAST(cp_bytes - (2000 + m) + 12000 AS BIGINT)
                 AS total_bytes,
               CAST(cp_rows - (50 + (doc_id + 1) % 9) + 160 AS BIGINT)
                 AS total_rows,
               CAST(1 AS BIGINT) AS proto_reader
        FROM a
        """,
    )
    def q_delta_checkpoint_replay(spark, sf_dir):
        """Delta cold start from a REAL parquet checkpoint: struct
        columns add/remove/metaData/protocol read by the zero-dep
        nested-column reader (definition levels at depth, dotted
        paths), then JSON commits folded on top — the read path
        `_last_checkpoint` mandates. Oracle replays the arithmetic;
        the exactly-one-action-per-row rule rejects malformed rows."""
        docs = load_table(spark, sf_dir, "documents")
        return delta_checkpoint_stats(docs)

    @query(
        "delta_log_replay",
        oracle="""
        WITH t AS (
          SELECT doc_id, 2 + doc_id % 4 AS k FROM documents
        ), f AS (
          SELECT doc_id, k, u.i,
                 100 + 7 * (doc_id + u.i) % 50 AS rows_,
                 1000 + 13 * (doc_id + u.i) % 500 AS size_,
                 CASE WHEN u.i % 3 = 0 THEN 1 ELSE 0 END AS removed
          FROM t, LATERAL (SELECT unnest(range(0, k)) AS i) u
        )
        SELECT doc_id,
               CAST(1 AS BIGINT) AS snapshot_version,
               CAST(COUNT(*) FILTER (removed = 0) + 1 AS BIGINT)
                 AS n_active,
               CAST(COUNT(*) FILTER (removed = 1) AS BIGINT) AS n_removed,
               CAST(SUM(rows_) AS BIGINT) AS total_rows,
               CAST(SUM(CASE WHEN removed = 0 THEN size_ ELSE 0 END)
                    + 4096 AS BIGINT) AS total_bytes,
               CAST(3 AS BIGINT) AS n_schema_cols
        FROM f GROUP BY doc_id
        """,
    )
    def q_delta_log_replay(spark, sf_dir):
        """Delta log replay over synthetic 2-commit tables: commit 0
        adds 2-5 formula files, commit 1 OPTIMIZEs every 3rd away into
        a compaction file — the snapshot fold (last action per path,
        stats-JSON row counts, protocol/schema capture) must land the
        exact censuses the oracle computes from the same formulas.
        total_rows is conserved across the rewrite by construction —
        the invariant a real OPTIMIZE audit checks."""
        docs = load_table(spark, sf_dir, "documents")
        return delta_log_stats(docs)


_register()
