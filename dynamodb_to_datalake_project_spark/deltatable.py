"""Delta-protocol transaction log WRITER for the lake merge path.

`merge.merge_into_parquet` keeps a partitioned parquet table current
with an atomic stage-mark-swap protocol. This module makes that table
a real Delta Lake table: every merge commit also appends a
`_delta_log/<v>.json` actions file (protocol / metaData / add /
remove / commitInfo per the public Delta protocol spec), writes a
parquet checkpoint + `_last_checkpoint` every `CHECKPOINT_INTERVAL`
commits, and provides the optimistic-concurrency primitive (version
CAS via O_EXCL claim files) that serializes concurrent writers.

Reference behavior generalized: the reference's Hudi upsert
(glue_jobs/initial_load.py:163-186 writes a Hudi COW table;
incremental.py:172-194 merges into it) delegates the table-format
commit to Hudi's timeline. Here the timeline is the Delta log, kept
by composition of two zero-dep pieces this repo already owns:
`llm.parquetmeta` (footer stats for add-action numRecords) and
`llm.deltalog` (the replayer that audits what this module writes).

Physical layout note: the merge path swaps whole partition
directories, physically deleting replaced files at commit time —
"vacuum horizon zero". The log's ACTIVE set always matches the live
files (any Delta reader can read the current snapshot); historical
versions are replayable as metadata but not as data (time travel
needs retained files, which a rewrite-in-place lake trades away).

Concurrency model (the Delta OCC shape): a writer reads the table at
log version V, stages its output, then must CLAIM version V'+1
(O_EXCL create of a hidden `.claim-*` file) before its swap. Claims
serialize the log tip: while a claim for N is held, no other writer
can commit N. After acquiring the claim the writer re-checks every
version committed since V for partition overlap with its own touched
set — overlap means its merge was computed from a stale snapshot, so
it aborts (releases the claim, discards staging) and retries from a
fresh read. Disjoint writers interleave freely. Crash recovery of a
*marked* commit (swap + log fill) stays single-flight, matching the
reference's MaxConcurrentRuns=1 orchestration lock (cdk/glue_job.py).
"""

from __future__ import annotations

import json
import os
import uuid
from urllib.parse import unquote

CHECKPOINT_INTERVAL = 10
_PROTOCOL = {"minReaderVersion": 1, "minWriterVersion": 2}
_HIVE_NULL = "__HIVE_DEFAULT_PARTITION__"


def log_dir(table_path: str) -> str:
    return os.path.join(table_path, "_delta_log")


def _version_path(table_path: str, version: int) -> str:
    return os.path.join(log_dir(table_path), f"{version:020d}.json")


def list_versions(table_path: str) -> list[int]:
    d = log_dir(table_path)
    if not os.path.isdir(d):
        return []
    out = []
    for f in os.listdir(d):
        if f.endswith(".json") and not f.startswith((".", "_")):
            stem = f[: -len(".json")]
            if stem.isdigit():
                out.append(int(stem))
    return sorted(out)


def current_version(table_path: str) -> int:
    vs = list_versions(table_path)
    return vs[-1] if vs else -1


def read_commits(table_path: str) -> list[tuple[int, str]]:
    out = []
    for v in list_versions(table_path):
        with open(_version_path(table_path, v)) as f:
            out.append((v, f.read()))
    return out


def table_snapshot(table_path: str) -> dict:
    """Cold-read the table state the way a production Delta reader
    does: `_last_checkpoint` -> parquet checkpoint + trailing JSON
    commits (llm.deltalog.replay_delta_checkpoint), else a full JSON
    fold (replay_delta_log)."""
    from dynamodb_to_datalake_project_spark.llm.deltalog import (
        replay_delta_checkpoint,
        replay_delta_log,
    )

    d = log_dir(table_path)
    lc = os.path.join(d, "_last_checkpoint")
    if os.path.isfile(lc):
        with open(lc) as f:
            cp_version = json.load(f)["version"]
        cp_file = os.path.join(
            d, f"{cp_version:020d}.checkpoint.parquet"
        )
        with open(cp_file, "rb") as f:
            cp = f.read()
        tail = [
            (v, open(_version_path(table_path, v)).read())
            for v in list_versions(table_path)
            if v > cp_version
        ]
        return replay_delta_checkpoint(cp, cp_version, tail)
    return replay_delta_log(read_commits(table_path))


# ---------------------------------------------------------------------------
# action construction
# ---------------------------------------------------------------------------


def partition_values_of(rel_file: str, partition_cols: list[str]) -> dict:
    """Hive path segments `col=val/...` -> Delta partitionValues: the
    real values, null for the hive sentinel. Spark's writer escapes
    `:` `/` `%` `=` and other ASCII specials in directory names as
    `%XX`; `unquote` undoes exactly that, so OCC overlap checks see a
    commit on `a:b` (directory `a%3Ab`) as touching `a:b`, the value
    the merge's touched set holds."""
    vals: dict[str, "str | None"] = {}
    for seg in rel_file.split("/")[:-1]:
        if "=" in seg:
            c, _, v = seg.partition("=")
            c = unquote(c)
            if c in partition_cols:
                vals[c] = None if v == _HIVE_NULL else unquote(v)
    return {c: vals.get(c) for c in partition_cols}


def _file_num_rows(path: str) -> int:
    """numRecords from the parquet footer alone — tail read, never
    the data pages (a merge batch can stage GB-sized files)."""
    from dynamodb_to_datalake_project_spark.llm.parquetmeta import (
        parse_parquet_footer,
    )

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(max(0, size - 8))
        tail8 = f.read(8)
        flen = int.from_bytes(tail8[:4], "little")
        take = min(size, flen + 8)
        f.seek(size - take)
        blob = b"PAR1" + f.read(take)
    return parse_parquet_footer(blob)["num_rows"]


def build_add(
    root: str, rel_file: str, partition_cols: list[str],
    data_change: bool = True,
) -> dict:
    """One `add` action for a staged/live file, with footer-derived
    numRecords stats (the stats Delta readers use for count(*)
    pushdown and file skipping). `data_change=False` marks pure
    rearrangements (OPTIMIZE/compaction) so streaming readers skip
    them."""
    p = os.path.join(root, rel_file)
    return {
        "path": rel_file,
        "partitionValues": partition_values_of(rel_file, partition_cols),
        "size": os.path.getsize(p),
        "modificationTime": int(os.stat(p).st_mtime * 1000),
        "dataChange": data_change,
        "stats": json.dumps({"numRecords": _file_num_rows(p)}),
    }


def build_remove(
    rel_file: str, partition_cols: list[str], data_change: bool = True
) -> dict:
    return {
        "path": rel_file,
        "deletionTimestamp": 0,
        "dataChange": data_change,
        "partitionValues": partition_values_of(rel_file, partition_cols),
    }


def data_files_under(root: str, rel: str) -> list[str]:
    """Relative paths of parquet data files under root/rel (rel '.'
    = unpartitioned root, non-recursive there; partition dirs walk
    fully)."""
    base = root if rel == "." else os.path.join(root, rel)
    if not os.path.isdir(base):
        return []
    if rel == ".":
        return sorted(
            f
            for f in os.listdir(base)
            if f.endswith(".parquet")
            and os.path.isfile(os.path.join(base, f))
            and not f.startswith(("_", "."))
        )
    out = []
    for r, _dirs, files in os.walk(base):
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(
                    os.path.relpath(os.path.join(r, f), root)
                    .replace(os.sep, "/")
                )
    return sorted(out)


def schema_string(spark_schema) -> str:
    """Delta's metaData.schemaString IS the Spark StructType JSON."""
    return spark_schema.json()


def meta_action(
    schema_json: str,
    partition_cols: list[str],
    configuration: "dict[str, str] | None" = None,
) -> dict:
    return {
        "metaData": {
            "id": uuid.uuid4().hex,
            "format": {"provider": "parquet", "options": {}},
            "schemaString": schema_json,
            "partitionColumns": partition_cols,
            "configuration": dict(configuration or {}),
            "createdTime": 0,
        }
    }


RETAIN_CONFIG_KEY = "spark_graft.retainFiles"


def table_retain_mode(table_path: str) -> "bool | None":
    """The table's recorded retention mode (latest metaData action's
    configuration[`spark_graft.retainFiles`]), or None when the log
    predates the config. Retention is a TABLE property, not a per-call
    flag: a swap-mode (`retain=False`) commit's `_apply_commit` rmtree
    physically deletes partition dirs — on a table whose earlier
    commits retained history, that silently destroys the time travel
    those commits paid to keep, so writers validate their flag against
    this record."""
    for _v, content in reversed(read_commits(table_path)):
        for line in content.splitlines():
            if '"metaData"' in line:
                a = json.loads(line)
                if "metaData" in a:
                    val = (a["metaData"].get("configuration") or {}).get(
                        RETAIN_CONFIG_KEY
                    )
                    return None if val is None else val == "true"
    return None


# ---------------------------------------------------------------------------
# OCC claim + commit append
# ---------------------------------------------------------------------------


def _claim_path(table_path: str, version: int) -> str:
    return os.path.join(log_dir(table_path), f".claim-{version:020d}")


def claim_version(table_path: str, version: int, txn_id: str) -> bool:
    """CAS: atomically reserve log version `version`. True iff this
    writer now owns it. A reserved-but-unfilled version blocks every
    other writer's commit (they spin/abort), which is what serializes
    the log tip."""
    os.makedirs(log_dir(table_path), exist_ok=True)
    if os.path.exists(_version_path(table_path, version)):
        return False
    try:
        fd = os.open(
            _claim_path(table_path, version),
            os.O_CREAT | os.O_EXCL | os.O_WRONLY,
        )
    except FileExistsError:
        return False
    with os.fdopen(fd, "w") as f:
        f.write(txn_id)
    return True


def release_claim(table_path: str, version: int) -> None:
    try:
        os.remove(_claim_path(table_path, version))
    except FileNotFoundError:
        pass


def stale_claims(
    table_path: str,
    pending_txns: set[str],
    grace_seconds: float = 0.0,
) -> list[str]:
    """Claims whose txn has no commit marker: the claimant died
    before its commit point — the table was never touched, the claim
    is rolled back. `grace_seconds` protects LIVE pre-marker writers
    on the concurrent-merge hot path: a claim is held (markerless)
    for the whole window between the version CAS and the marker
    write, so only claims older than the grace window may be rolled
    back there; the explicit single-flight recovery call passes 0."""
    import time

    d = log_dir(table_path)
    out = []
    if not os.path.isdir(d):
        return out
    now = time.time()
    for f in os.listdir(d):
        if f.startswith(".claim-"):
            p = os.path.join(d, f)
            try:
                if now - os.path.getmtime(p) < grace_seconds:
                    continue
                with open(p) as fh:
                    txn = fh.read().strip()
            except OSError:
                continue  # vanished mid-scan: its owner released it
            if txn not in pending_txns:
                try:
                    os.remove(p)
                except FileNotFoundError:
                    continue
                out.append(f)
    return out


def committed_touched(
    table_path: str, after_version: int
) -> "list[dict] | None":
    """partitionValues touched by every commit with version >
    after_version. None = at least one commit touched the WHOLE
    table (an action without partitionValues on a partitioned
    table, or any action on an unpartitioned one)."""
    touched: list[dict] = []
    for v in list_versions(table_path):
        if v <= after_version:
            continue
        with open(_version_path(table_path, v)) as f:
            for line in f:
                if not line.strip():
                    continue
                action = json.loads(line)
                (kind, body), = action.items()
                if kind in ("add", "remove"):
                    pv = body.get("partitionValues")
                    if not pv:
                        return None
                    touched.append(pv)
    return touched


def append_commit(
    table_path: str, version: int, actions: list[dict], txn_id: str
) -> None:
    """Fill the claimed version file atomically (tmp + rename).
    Idempotent under commit replay: an already-filled version with
    this txn is left alone; a different txn is a protocol violation
    (the claim should have prevented it)."""
    vp = _version_path(table_path, version)
    if os.path.exists(vp):
        with open(vp) as f:
            for line in f:
                a = json.loads(line)
                if "commitInfo" in a:
                    if a["commitInfo"].get("txnId") == txn_id:
                        return
                    raise RuntimeError(
                        f"delta: version {version} already committed by "
                        f"txn {a['commitInfo'].get('txnId')}"
                    )
        raise RuntimeError(f"delta: version {version} exists w/o txnId")
    body = "\n".join(json.dumps(a) for a in actions) + "\n"
    tmp = vp + f".{txn_id}.tmp"
    with open(tmp, "w") as f:
        f.write(body)
    os.replace(tmp, vp)


def maybe_write_checkpoint(
    table_path: str, interval: "int | None" = None
) -> "int | None":
    """Checkpoint the snapshot every `interval` commits: a parquet
    file with one action per row (add / remove / metaData / protocol
    struct columns — the layout `llm.deltalog.replay_delta_checkpoint`
    and real Delta readers consume) plus `_last_checkpoint`. Uses
    pyarrow for the nested-struct write; returns the checkpointed
    version or None."""
    if interval is None:
        interval = CHECKPOINT_INTERVAL  # read at call time: test-tunable
    v = current_version(table_path)
    if v <= 0 or v % interval != 0:
        return None
    cp_file = os.path.join(
        log_dir(table_path), f"{v:020d}.checkpoint.parquet"
    )
    if os.path.exists(cp_file):
        return None
    import pyarrow as pa
    import pyarrow.parquet as pq

    from dynamodb_to_datalake_project_spark.llm.deltalog import (
        replay_delta_log,
    )

    # Fold ONLY commits <= v: nothing blocks a concurrent writer from
    # filling v+1 while this runs (our caller's claim covers only v),
    # and a checkpoint labeled v that embeds v+1's actions would make
    # cold reads replay v+1 twice — adds/removes are idempotent but
    # the declared version/counters would lie about the contents.
    commits_le_v = [
        (cv, body) for cv, body in read_commits(table_path) if cv <= v
    ]
    snap = replay_delta_log(commits_le_v)
    pv_t = pa.map_(pa.string(), pa.string())
    add_t = pa.struct(
        [
            ("path", pa.string()),
            ("partitionValues", pv_t),
            ("size", pa.int64()),
            ("modificationTime", pa.int64()),
            ("dataChange", pa.bool_()),
            ("stats", pa.string()),
        ]
    )
    rem_t = pa.struct([("path", pa.string())])
    meta_t = pa.struct(
        [
            ("id", pa.string()),
            ("schemaString", pa.string()),
            ("partitionColumns", pa.list_(pa.string())),
        ]
    )
    proto_t = pa.struct(
        [("minReaderVersion", pa.int64()), ("minWriterVersion", pa.int64())]
    )

    # recover schemaString / partitionValues from the latest commits
    schema_json, meta_id = None, uuid.uuid4().hex
    part_values: dict[str, dict] = {}
    for _v, content in commits_le_v:
        for line in content.splitlines():
            if not line.strip():
                continue
            a = json.loads(line)
            (kind, body), = a.items()
            if kind == "metaData":
                schema_json = body["schemaString"]
                meta_id = body.get("id", meta_id)
            elif kind == "add":
                part_values[body["path"]] = body.get(
                    "partitionValues", {}
                )

    n = len(snap["active_files"]) + 2
    rows_add: list = [None, None]
    for path, info in sorted(snap["active_files"].items()):
        rows_add.append(
            {
                "path": path,
                "partitionValues": list(
                    (part_values.get(path) or {}).items()
                ),
                "size": info["size"],
                "modificationTime": 0,
                "dataChange": False,
                "stats": json.dumps(
                    {"numRecords": info["num_records"]}
                ),
            }
        )
    rows_rem: list = [None] * n
    rows_meta: list = [
        None,
        {
            "id": meta_id,
            "schemaString": schema_json or "{}",
            "partitionColumns": snap["partition_cols"],
        },
    ] + [None] * (n - 2)
    rows_proto: list = [dict(_PROTOCOL)] + [None] * (n - 1)
    t = pa.table(
        {
            "add": pa.array(rows_add, add_t),
            "remove": pa.array(rows_rem, rem_t),
            "metaData": pa.array(rows_meta, meta_t),
            "protocol": pa.array(rows_proto, proto_t),
        }
    )
    tmp = cp_file + ".tmp"
    pq.write_table(t, tmp)
    os.replace(tmp, cp_file)
    lc_tmp = os.path.join(log_dir(table_path), "._last_checkpoint.tmp")
    with open(lc_tmp, "w") as f:
        json.dump({"version": v, "size": n}, f)
    os.replace(lc_tmp, os.path.join(log_dir(table_path), "_last_checkpoint"))
    return v


def overlaps(
    committed: "list[dict] | None",
    ours: "list[dict] | None",
    partition_cols: list[str],
) -> bool:
    """Partition-level conflict predicate: None = whole table."""
    if committed is None:
        return True  # an intervening commit touched the whole table
    if not committed:
        return False  # nothing committed since our base read
    if ours is None:
        return True  # we rewrite the whole table over new commits
    def norm(pv: dict) -> tuple:
        return tuple(
            None if pv.get(c) is None else str(pv[c])
            for c in partition_cols
        )
    mine = {norm(p) for p in ours}
    return any(norm(p) in mine for p in committed)


# ---------------------------------------------------------------------------
# log-driven reads: time travel, retained-file scans, vacuum, compaction
# ---------------------------------------------------------------------------


def snapshot_at(table_path: str, version: "int | None" = None) -> dict:
    """Snapshot as of `version` (None = latest): a pure fold of the
    JSON commit prefix. Time travel is exact on METADATA always; the
    DATA files are readable only while they are physically retained
    (merge `retain_files=True` keeps them; the default swap mode and
    `vacuum` delete them — the Delta VACUUM-horizon rule)."""
    from dynamodb_to_datalake_project_spark.llm.deltalog import (
        replay_delta_log,
    )

    commits = read_commits(table_path)
    if version is not None:
        if version > (commits[-1][0] if commits else -1):
            raise ValueError(
                f"delta: version {version} beyond log tip "
                f"{commits[-1][0] if commits else -1}"
            )
        commits = [(v, c) for v, c in commits if v <= version]
    return replay_delta_log(commits)


def read_snapshot_df(
    spark, table_path: str, version: "int | None" = None
):
    """Log-driven scan: the DataFrame of exactly the ACTIVE files of
    the requested version (the real Delta read path — essential for
    retained-file tables, where a plain directory scan would see
    superseded files as duplicates). Partition columns come back via
    basePath. Raises a clear error when time travel reaches files
    the table no longer retains."""
    import os as _os

    snap = snapshot_at(table_path, version)
    files = sorted(snap["active_files"])
    missing = [f for f in files if not _os.path.isfile(_os.path.join(table_path, f))]
    if missing:
        raise FileNotFoundError(
            f"delta: version {snap['version']} references "
            f"{len(missing)} file(s) no longer retained (e.g. "
            f"{missing[0]}) — time travel past the vacuum horizon; "
            f"write with retain_files=True to keep history readable"
        )
    from pyspark.sql import types as T

    schema_json = _schema_json_of(table_path, snap["version"])
    if not files:
        schema = T.StructType.fromJson(
            __import__("json").loads(
                schema_json or '{"type":"struct","fields":[]}'
            )
        )
        return spark.createDataFrame([], schema)
    reader = spark.read.option("basePath", table_path)
    if schema_json:
        # the LOG's schema as of this version, not a sampled footer's:
        # post-evolution snapshots must NULL-backfill old files'
        # missing columns; pre-evolution time travel must NOT grow
        # the later columns
        reader = reader.schema(T.StructType.fromJson(json.loads(schema_json)))
    return reader.parquet(*[_os.path.join(table_path, f) for f in files])


def _schema_json_of(
    table_path: str, version: "int | None" = None
) -> "str | None":
    """The schemaString of the latest metaData action at or before
    `version` (None = tip) — time travel reads the schema AS OF the
    snapshot, so pre-evolution versions come back without the later
    columns."""
    for _v, content in reversed(read_commits(table_path)):
        if version is not None and _v > version:
            continue
        for line in content.splitlines():
            if '"metaData"' in line:
                a = json.loads(line)
                if "metaData" in a:
                    return a["metaData"]["schemaString"]
    return None


def vacuum(table_path: str, retain_versions: int = 0) -> list[str]:
    """Physically delete data files not referenced by the active set
    of any of the last `retain_versions + 1` versions (0 = keep only
    the current snapshot readable — the aggressive horizon the swap
    mode enforces implicitly). Returns the deleted relative paths.
    Single-flight by contract (run it from the maintenance slot, not
    concurrently with writers — the reference's MaxConcurrentRuns=1)."""
    cur = current_version(table_path)
    if cur < 0:
        return []
    keep: set = set()
    for v in range(max(0, cur - retain_versions), cur + 1):
        keep.update(snapshot_at(table_path, v)["active_files"])
    deleted = []
    for root, dirs, files in os.walk(table_path):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            rel = os.path.relpath(os.path.join(root, f), table_path).replace(
                os.sep, "/"
            )
            if rel not in keep:
                os.remove(os.path.join(root, f))
                deleted.append(rel)
    # prune now-empty partition dirs
    for root, dirs, files in os.walk(table_path, topdown=False):
        if root == table_path:
            continue
        base = os.path.relpath(root, table_path).split(os.sep)[0]
        if base.startswith(("_", ".")):
            continue
        if not os.listdir(root):
            os.rmdir(root)
    return sorted(deleted)
