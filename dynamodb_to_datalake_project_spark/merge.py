"""Keyed upsert with precombine semantics (S8) — the Hudi-merge
equivalent without Hudi.

Reference contract (glue_jobs/incremental.py:172-194): upsert on record
key `id` with precombine field `update_at` — an incoming row replaces
the stored row only if its precombine tuple is greater; late-arriving
older updates must lose; the operation is idempotent (T9 snapshot/stream
overlap reconciliation, README.rst:42-43).

Two implementations:
- `upsert_dataframes`: pure-DataFrame merge for in-memory pipelines and
  `foreachBatch` sinks. union + latest-wins window = one shuffle on the
  key; no driver-side data movement.
- `merge_into_parquet`: lake-table merge that rewrites ONLY the
  partitions touched by the incoming batch (dynamic partition
  overwrite). At 100 TB the target table is huge but a CDC batch
  touches a handful of time partitions — reading and rewriting just
  those keeps merge cost proportional to the batch, not the table.
  The read is always a file list: the live files of the touched
  partition directories (named by Spark's own writer rule), so no
  step reads the whole lake and no partition predicate is built. A
  table without a log yet (bootstrap) is read the same way, with the
  schema inferred from its footers instead of the log's.

  A CDC micro-batch and the partitions it touches are small, and the
  fixed cost of Spark jobs dominates merging them. When the batch
  rows plus the log's `numRecords` of the touched files are at most
  `_LOCAL_MERGE_ROWS`, the merge runs on the driver: one Arrow collect
  of the batch (which also names the touched partitions and carries
  Spark's own xxhash64 tiebreak), a pyarrow read of the touched files,
  the same latest-wins order, and one staged file per partition. The
  commit is the same either way. Anything else — over budget, no log
  yet, a batch that evolves the schema, a type or comparison Arrow
  does not order exactly as Spark does (`_collect_batch`) — takes the
  Spark path, whose window and writer scale past the driver.

Round 10 makes the lake table a REAL Delta-protocol table: every
commit appends `_delta_log/<v>.json` actions (see `deltatable.py`),
concurrent writers serialize through a version CAS with partition-
level conflict detection (the Delta OCC shape; overlapping stale
writers retry from a fresh snapshot, disjoint writers interleave),
and two physical modes exist:

- default (swap): replaced files are deleted at commit — plain
  `spark.read.parquet(table)` always equals the current snapshot;
  history is metadata-only ("vacuum horizon zero");
- `retain_files=True`: superseded files stay on disk, the LOG defines
  the table — read through `deltatable.read_snapshot_df` (any
  version: real time travel), reclaim space with `deltatable.vacuum`.

`optimize_table` is the Delta OPTIMIZE: small-file compaction
committed through the same protocol with dataChange=false actions.
"""

from __future__ import annotations

import json
import os
import shutil
import uuid

import numpy as np
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark import dedup, deltatable, local
from dynamodb_to_datalake_project_spark.catalog import query
from dynamodb_to_datalake_project_spark.lake import load_table


class ConcurrentWriteConflict(RuntimeError):
    """Raised when a merge loses the optimistic-concurrency race
    `max_commit_retries` times in a row (every retry found a commit
    by another writer overlapping its touched partitions)."""


def upsert_dataframes(
    target: DataFrame,
    source: DataFrame,
    keys: list[str],
    precombine: list[str],
    op_col: str | None = None,
    delete_types: tuple[str, ...] = ("REMOVE",),
) -> DataFrame:
    """Latest-wins merge of `source` into `target`.

    Equivalent to
    `MERGE INTO t USING s ON keys WHEN MATCHED AND s.pc > t.pc THEN
    UPDATE WHEN NOT MATCHED THEN INSERT` — expressed as
    union + windowed dedup so in-batch duplicate keys (FIXTURES.md case
    'same key twice in one partition') collapse in the same pass.
    Precombine ties break toward `source` (`__src` ordinal), matching
    upsert-overwrites-on-equal semantics.

    T8 hard-delete extension: with `op_col` set, source rows whose op is
    in `delete_types` compete in the same latest-wins window — a delete
    NEWER than the stored row removes the key (`WHEN MATCHED AND
    op='REMOVE' THEN DELETE`), an older late-arriving delete loses and
    is a no-op, and a same-batch newer re-insert resurrects the key.
    The default (op_col=None) keeps the reference's drop-deletes policy
    upstream of the merge (README.rst:62).
    """
    cols = target.columns
    tagged = _tagged(target, cols, 0, op_col).unionByName(
        _tagged(source, cols, 1, op_col)
    )
    order = [F.col(c).desc() for c in precombine] + [F.col("__src").desc()]
    if op_col is not None:
        # Deterministic tie policy for T8: on a full precombine+src tie
        # (same-batch REMOVE vs re-insert with equal update_at), the
        # delete LOSES — resurrection wins. Without this the window
        # pick is arbitrary and a micro-batch replay (T9) could flip
        # the key's existence between attempts.
        order.append(
            F.when(F.col("__op").isin(*delete_types), 0).otherwise(1).desc()
        )
    # final unique-ish tiebreaker: content hash — identical input rows
    # hash identically on every retry, so the winner is stable even
    # when precombine doesn't discriminate
    order.append(F.xxhash64(*[F.col(c) for c in tagged.columns]).desc())
    merged = dedup.latest_wins(tagged, keys, order).drop("__src")
    if op_col is not None:
        merged = merged.filter(
            (~F.col("__op").isin(*delete_types)) | F.col("__op").isNull()
        ).drop("__op")
    return merged


def _tagged(df: DataFrame, cols: list[str], src: int, op_col: "str | None"):
    """`cols` plus the merge's tag columns: `__src` (0 for target rows,
    1 for source rows) and, with `op_col`, `__op` (the source's op as
    a string, null on target rows). The latest-wins tiebreak hashes
    exactly these columns, so both merge paths project through here."""
    out = [*cols, F.lit(src).alias("__src")]
    if op_col is not None:
        op = F.col(op_col) if src else F.lit(None)
        out.append(op.cast("string").alias("__op"))
    return df.select(*out)


#: (narrow, wide) numeric widenings the merge may apply (Spark
#: simpleString names) — the Delta type-widening set that is always
#: lossless
_WIDENINGS = {
    ("tinyint", "smallint"),
    ("tinyint", "int"),
    ("tinyint", "bigint"),
    ("smallint", "int"),
    ("smallint", "bigint"),
    ("int", "bigint"),
    ("float", "double"),
}


def _align_schemas(
    target: DataFrame,
    source: DataFrame,
    op_col: "str | None",
    partition_cols: list[str],
) -> "tuple[DataFrame, DataFrame, bool]":
    """Merge-time schema evolution (Delta `mergeSchema` semantics,
    round-10 verdict item 4): columns the batch ADDS are appended to
    the target as NULLs (old partitions backfill to NULL on read),
    and numeric types widen losslessly in either direction — a wider
    SOURCE widens the table (a real schema change, committed via a
    new metaData action), a narrower source is up-cast in flight (no
    schema change). Evolution never drops columns (a batch missing a
    table column is an error, not an implicit drop — README.rst:137's
    mutable-field rule generalized) and never touches partition
    columns (old partitions cannot grow a partition dir). Returns
    (target', source', table_schema_changed)."""
    s_fields = {
        f.name: f.dataType
        for f in source.schema.fields
        if f.name != op_col
    }
    t_fields = {f.name: f.dataType for f in target.schema.fields}
    missing = [c for c in t_fields if c not in s_fields]
    if missing:
        raise ValueError(
            f"schema evolution adds columns, never drops: the batch is "
            f"missing table column(s) {missing}"
        )
    changed = False
    for name, t_dt in t_fields.items():
        s_dt = s_fields[name]
        ts, ss = t_dt.simpleString(), s_dt.simpleString()
        if ts == ss:
            continue
        if (ts, ss) in _WIDENINGS:
            if name in partition_cols:
                raise ValueError(
                    f"cannot widen partition column {name!r}"
                )
            target = target.withColumn(name, F.col(name).cast(s_dt))
            changed = True
        elif (ss, ts) in _WIDENINGS:
            source = source.withColumn(name, F.col(name).cast(t_dt))
        else:
            raise ValueError(
                f"incompatible evolution for column {name!r}: table "
                f"{ts}, batch {ss} (only {sorted(_WIDENINGS)} widen)"
            )
    for name, s_dt in s_fields.items():
        if name not in t_fields:
            if name in partition_cols:
                raise ValueError(
                    f"new column {name!r} cannot be a partition column"
                )
            target = target.withColumn(name, F.lit(None).cast(s_dt))
            changed = True
    return target, source, changed


def touched_partitions(source: DataFrame, partition_cols: list[str]) -> list[dict]:
    """Distinct partition tuples present in the incoming batch, each
    value as the string Spark's partitioned writer puts in the
    directory name (cast to string; None for null).

    The collect is bounded by the number of partitions in ONE batch
    (minutes of data), not table size — safe at scale.
    """
    return [
        r.asDict()
        for r in source.select(
            *[F.col(c).cast("string").alias(c) for c in partition_cols]
        )
        .distinct()
        .collect()
    ]


def _partition_rels(
    spark: SparkSession, partition_cols: list[str], parts: list[dict]
) -> list[str]:
    """Table-relative directory of each touched partition in `parts`
    ('.' for an unpartitioned table), in `parts` order, named by
    Spark's own writer rule
    (`ExternalCatalogUtils.getPartitionPathString`: escapes `:` `/`
    `%` `=` and the like, maps null and "" to
    `__HIVE_DEFAULT_PARTITION__`) — so a name always matches the
    directory the staged write creates for that partition."""
    if not partition_cols:
        return ["."] * len(parts)
    path_string = (
        spark._jvm.org.apache.spark.sql.catalyst.catalog.ExternalCatalogUtils
        .getPartitionPathString
    )
    # one JVM call per distinct (column, value): a minute-grained batch
    # repeats its year..hour values across every touched partition
    seg = {
        (c, v): path_string(c, v)
        for c in partition_cols
        for v in {p[c] for p in parts}
    }
    return ["/".join(seg[c, p[c]] for c in partition_cols) for p in parts]


def _rel_dir(rel_file: str) -> str:
    """The table-relative partition directory of a data file ('.' at
    the root of an unpartitioned table)."""
    return rel_file.rpartition("/")[0] or "."


def _touched_files(
    table_path: str, rels: list[str], active_files: dict, retain: bool
) -> "dict[str, int | None]":
    """The live data files of the partitions `rels`, each with its
    log `numRecords` (None when the log has no stats for it). A
    retain-mode table takes its snapshot's `active_files` under them
    (its directories also hold superseded files); a swap-mode table
    has its directories as its snapshot, so only those are listed.
    Nothing lists the whole lake."""
    if retain:
        wanted = set(rels)
        return {
            f: info["num_records"]
            for f, info in sorted(active_files.items())
            if _rel_dir(f) in wanted
        }
    return {
        f: (active_files.get(f) or {}).get("num_records")
        for rel in rels
        for f in deltatable.data_files_under(table_path, rel)
    }


def _column_order(schema, partition_cols: list[str]) -> list[str]:
    """The merge target's column order: a parquet read with a given
    schema puts the partition columns after the data columns, and an
    empty target keeps the same order, so the tiebreak hash sees the
    same column order whether or not a touched partition has files."""
    names = schema.names
    return [n for n in names if n not in partition_cols] + [
        c for c in partition_cols if c in names
    ]


def _read_touched(
    spark: SparkSession,
    table_path: str,
    files: list[str],
    schema,
    partition_cols: list[str],
) -> DataFrame:
    """The Spark merge target: the touched partitions' live `files`
    (`_touched_files`), read with `schema` and basePath for the
    partition columns. The file list does the partition pruning, so
    no predicate is needed."""
    if not files:
        order = _column_order(schema, partition_cols)
        return spark.createDataFrame([], T.StructType([schema[c] for c in order]))
    return (
        spark.read.schema(schema)
        .option("basePath", table_path)
        .parquet(*[os.path.join(table_path, f) for f in files])
    )


#: Source plus target rows at or under which `merge_into_parquet`
#: merges on the driver with pyarrow instead of through Spark jobs
#: (see SCALE.md "Shuffle discipline" for the measured crossover).
_LOCAL_MERGE_ROWS = 250_000

#: Column types the driver-local merge reads, sorts and writes exactly
#: as Spark does
_LOCAL_TYPES = (
    T.StringType, T.BinaryType, T.BooleanType, T.ByteType, T.ShortType,
    T.IntegerType, T.LongType, T.FloatType, T.DoubleType, T.DecimalType,
    T.DateType, T.TimestampType, T.TimestampNTZType,
)


def _collect_batch(
    source: DataFrame,
    schema_json: "str | None",
    keys: list[str],
    precombine: list[str],
    partition_cols: list[str],
    op_col: "str | None",
):
    """The batch as one Arrow table for the driver-local merge: the
    log schema's columns in target order (`_column_order`), the tags
    of `_tagged`, and `__hash`, the Spark path's xxhash64 tiebreak
    over them — one Spark job, bounded by the limit. None sends the
    batch to the Spark path:
    - no log yet (`schema_json` None), or batch columns other than
      the log's (a batch that evolves the schema);
    - a type outside `_LOCAL_TYPES`, or a partition column that is
      not a plain string;
    - a floating-point key or precombine (Spark ranks NaN above every
      number and groups -0.0 with 0.0, Arrow does neither), or a
      string one with a collation;
    - more than `_LOCAL_MERGE_ROWS` rows."""
    if schema_json is None:
        return None
    schema = _schema_of(schema_json)
    types = {f.name: f.dataType for f in schema.fields}
    batch_types = {
        f.name: f.dataType for f in source.schema.fields if f.name != op_col
    }

    def ordered_as_in_spark(t) -> bool:
        if isinstance(t, T.StringType):
            return t == T.StringType()
        return not isinstance(t, (T.FloatType, T.DoubleType))

    if (
        batch_types != types
        or not all(isinstance(t, _LOCAL_TYPES) for t in types.values())
        or any(types[c] != T.StringType() for c in partition_cols)
        or not all(ordered_as_in_spark(types[c]) for c in keys + precombine)
    ):
        return None
    tagged = _tagged(source, _column_order(schema, partition_cols), 1, op_col)
    batch = local.collect_bounded(
        tagged.select("*", F.xxhash64(*tagged.columns).alias("__hash")),
        _LOCAL_MERGE_ROWS,
    )
    if batch is None:
        return None
    # every column nullable, so target rows (null tags) concatenate
    return batch.cast(pa.schema([f.with_nullable(True) for f in batch.schema]))


def _batch_partitions(batch, partition_cols: list[str]):
    """The distinct partition tuples of a collected batch (values as
    written, None for null) and, per row, the index of its tuple."""
    index: dict[tuple, int] = {}
    code = [
        index.setdefault(tuple(r.values()), len(index))
        for r in batch.select(partition_cols).to_pylist()
    ]
    parts = [dict(zip(partition_cols, t)) for t in index]
    return parts, np.array(code, dtype=np.int64)


def _merge_local(
    table_path: str,
    batch,
    row_rel,
    rels: list[str],
    files: list[str],
    keys: list[str],
    precombine: list[str],
    partition_cols: list[str],
    delete_types: tuple[str, ...],
) -> "tuple[str, str, list[str]] | None":
    """Steps 3-5 of `merge_into_parquet` on the driver: read the
    touched `files` with pyarrow, apply `upsert_dataframes`'
    latest-wins order to them and the collected `batch` (`row_rel`:
    each batch row's index into `rels`), and write one file per
    partition into a fresh `_staging/<commit_id>/<rel>`. Returns what
    `_stage` returns, or None when the target rows are not key-unique
    (the Spark path's window is the authority then)."""
    schema = batch.schema
    rel_index = {rel: i for i, rel in enumerate(rels)}
    pieces, target_rel = [], []
    for f in files:
        data = pq.ParquetFile(
            os.path.join(table_path, f), coerce_int96_timestamp_unit="us"
        ).read()
        n = data.num_rows
        pv = deltatable.partition_values_of(f, partition_cols)
        cols = []
        for fld in schema:
            if fld.name in pv:
                cols.append(pa.array([pv[fld.name]] * n, fld.type))
            elif fld.name == "__src":
                cols.append(pa.array(np.zeros(n, dtype=np.int32)))
            elif fld.name in data.column_names:
                cols.append(data.column(fld.name).cast(fld.type))
            else:
                # a file older than a schema evolution: NULL backfill
                cols.append(pa.nulls(n, fld.type))
        pieces.append(pa.table(cols, schema=schema))
        target_rel.append(np.full(n, rel_index[_rel_dir(f)], dtype=np.int64))
    if pieces:
        target = pa.concat_tables(pieces)
        if target.group_by(keys).aggregate([]).num_rows != target.num_rows:
            return None
    rows = pa.concat_tables([batch, *pieces])
    rel_of = np.concatenate([row_rel, *target_rel])
    # upsert_dataframes' order: precombine DESC NULLS LAST, source over
    # target, a delete loses a full tie, then the content hash
    sort_keys = [(c, "descending") for c in precombine]
    sort_keys.append(("__src", "descending"))
    has_op = "__op" in schema.names
    if has_op:
        is_delete = pc.is_in(rows["__op"], value_set=pa.array(delete_types))
        rows = rows.append_column("__live", pc.invert(is_delete))
        sort_keys.append(("__live", "descending"))
    sort_keys.append(("__hash", "descending"))
    order = pc.sort_indices(rows, sort_keys=sort_keys, null_placement="at_end")
    rows = rows.take(order).append_column(
        "__pos", pa.array(np.arange(rows.num_rows))
    )
    rel_of = rel_of[order.to_numpy()]
    # the first row of each key wins; a winning delete removes the key
    firsts = rows.group_by(keys).aggregate([("__pos", "min")])
    keep = np.sort(firsts["__pos_min"].to_numpy())
    if has_op:
        keep = keep[rows["__live"].to_numpy(zero_copy_only=False)[keep]]
    keep = keep[np.argsort(rel_of[keep], kind="stable")]
    counts = np.bincount(rel_of[keep], minlength=len(rels))
    data_cols = [
        c for c in schema.names
        if c not in partition_cols and c not in ("__src", "__op", "__hash")
    ]
    out = rows.select(data_cols).take(keep)

    commit_id = uuid.uuid4().hex[:12]
    staging = os.path.join(table_path, "_staging", commit_id)
    os.makedirs(staging)
    staged, start = [], 0
    for rel, n in zip(rels, counts):
        # an unpartitioned table stages a file even when every row was
        # deleted, as Spark's writer does: it replaces the root files
        if n or not partition_cols:
            d = os.path.join(staging, rel)
            os.makedirs(d, exist_ok=True)
            name = f"part-00000-{uuid.uuid4()}.c000.snappy.parquet"
            pq.write_table(out.slice(start, n), os.path.join(d, name))
            staged.append(rel)
        start += n
    return commit_id, staging, staged


def _schema_of(schema_json: str):
    """The Spark schema of a Delta `schemaString`."""
    return T.StructType.fromJson(json.loads(schema_json))


def _apply_commit(table_path: str, commit_id: str) -> None:
    """Apply (or replay) commit `commit_id`: move each staged partition
    directory into place. Idempotent — a partition already swapped is
    absent from staging and skipped, so a crash at ANY point mid-swap is
    repaired by replaying the same commit."""
    staging = os.path.join(table_path, "_staging", commit_id)
    marker = os.path.join(table_path, "_commits", f"{commit_id}.json")
    with open(marker) as f:
        manifest = json.load(f)
    rels = manifest["partitions"]
    if manifest.get("retain"):
        # retained-file mode: staged files MOVE IN under their fresh
        # unique names; nothing is ever deleted (superseded files stay
        # for time travel — the log, not the directory, defines the
        # table). Idempotent: an already-moved file is gone from
        # staging and skipped.
        for rel in rels:
            src = staging if rel == "." else os.path.join(staging, rel)
            if not os.path.isdir(src):
                continue
            dst = table_path if rel == "." else os.path.join(table_path, rel)
            os.makedirs(dst, exist_ok=True)
            for name in os.listdir(src):
                sp = os.path.join(src, name)
                if (
                    os.path.isfile(sp)
                    and name.endswith(".parquet")
                    and not name.startswith(("_", "."))
                ):
                    os.rename(sp, os.path.join(dst, name))
        delta = manifest.get("delta")
        if delta:
            deltatable.append_commit(
                table_path, delta["version"], delta["actions"], delta["txn"]
            )
            deltatable.maybe_write_checkpoint(table_path)
            deltatable.release_claim(table_path, delta["version"])
        os.remove(marker)
        shutil.rmtree(staging, ignore_errors=True)
        return
    for rel in manifest.get("removed", []):
        # hard-deletes emptied this partition: no staged replacement,
        # the commit removes it outright (idempotent: may be gone)
        gone = os.path.join(table_path, rel)
        if os.path.isdir(gone):
            shutil.rmtree(gone)
    for rel in rels:
        src = os.path.join(staging, rel)
        if not os.path.isdir(src):
            continue  # already applied by a previous (interrupted) replay
        dst = table_path if rel == "." else os.path.join(table_path, rel)
        if rel == ".":
            # Unpartitioned table: swap data files at the root. Only
            # files recorded in the manifest at commit time may be
            # deleted — deriving the delete set from a live listdir
            # here would, on REPLAY of a half-applied swap, destroy
            # staged files already moved into place (new file names are
            # fresh Spark part-…-<uuid> names, disjoint from the old
            # set, so this is idempotent under any crash point).
            for name in manifest.get("root_removed", []):
                p = os.path.join(dst, name)
                if os.path.isfile(p):
                    os.remove(p)
            for name in os.listdir(src):
                if os.path.isfile(os.path.join(src, name)) and not name.startswith(
                    ("_", ".")
                ):
                    os.rename(os.path.join(src, name), os.path.join(dst, name))
        else:
            if os.path.isdir(dst):
                shutil.rmtree(dst)
            os.makedirs(os.path.dirname(dst), exist_ok=True)
            os.rename(src, dst)
    delta = manifest.get("delta")
    if delta:
        # the log fill is part of the commit replay: marker present +
        # claim held => this version slot is ours, append idempotently
        deltatable.append_commit(
            table_path, delta["version"], delta["actions"], delta["txn"]
        )
        deltatable.maybe_write_checkpoint(table_path)
        deltatable.release_claim(table_path, delta["version"])
    os.remove(marker)
    shutil.rmtree(staging, ignore_errors=True)


def recover_pending_commits(
    table_path: str, staging_grace_seconds: float = 0.0
) -> list[str]:
    """Heal a table after a crash: replay every committed-but-unapplied
    merge (marker present), then garbage-collect pre-commit staging
    garbage (staged data with no marker — the merge never committed, the
    table was never touched, the data is safely regenerable from the
    checkpointed batch). Returns the replayed commit ids.

    Called automatically at the start of every `merge_into_parquet`
    with a GRACE PERIOD protecting EVERY piece of a live concurrent
    writer's in-flight state — OCC invites concurrent merges, so on
    the merge hot path this routine may only touch leftovers old
    enough that their writer is provably dead:

    - staging with no marker: the merge never committed; GC'ing a
      LIVE writer's staging would drop its batch while its upcoming
      Delta commit still records the adds;
    - markers: a marker written milliseconds ago is being applied by
      its owner RIGHT NOW — a second `_apply_commit` of the same
      commit races the owner's rmtree/rename and can delete a
      partition's old copy after the owner already swapped the staged
      copy in, losing both;
    - version claims: a claim is held (markerless) for the whole
      window between `_claim_tip` and the marker write, which
      includes parsing every staged parquet footer in
      `_delta_actions`; rolling a live claim back lets a third
      writer claim the same log version and bypass conflict
      detection (double-commit / lost update).

    Only state older than the grace window is replayed/collected on
    the merge path; the explicit recovery entry point (grace 0,
    single-flight by contract) replays and rolls back everything."""
    import time

    now = time.time()

    def _aged(p: str) -> bool:
        try:
            return now - os.path.getmtime(p) >= staging_grace_seconds
        except OSError:
            return False

    cdir = os.path.join(table_path, "_commits")
    replayed = []
    if os.path.isdir(cdir):
        for f in sorted(os.listdir(cdir)):
            if f.endswith(".json") and _aged(os.path.join(cdir, f)):
                _apply_commit(table_path, f[: -len(".json")])
                replayed.append(f[: -len(".json")])
    sdir = os.path.join(table_path, "_staging")
    if os.path.isdir(sdir):
        for d in os.listdir(sdir):
            if not os.path.exists(os.path.join(cdir, d + ".json")):
                p = os.path.join(sdir, d)
                if _aged(p):
                    shutil.rmtree(p, ignore_errors=True)
    # roll back version claims whose writer died before its commit
    # point (no marker => the table was never touched) — same grace:
    # a markerless claim younger than the window may belong to a live
    # writer between its CAS and its marker write.
    deltatable.stale_claims(
        table_path, pending_txns=set(), grace_seconds=staging_grace_seconds
    )
    return replayed


def _resolve_retain_mode(
    table_path: str, retain_files: "bool | None", meta: "dict | None"
) -> bool:
    """Resolve the caller's `retain_files` flag against the TABLE's
    recorded mode (the snapshot's metaData.configuration, `deltatable.
    retain_mode`). None = inherit the table's mode (False for
    new/legacy tables); an explicit flag that CONTRADICTS the record
    is rejected — a swap-mode commit on a retained-history table
    would physically rmtree the historical files earlier commits paid
    to keep (silent time-travel destruction), and a retain commit on
    a swap table would leave superseded files a plain directory scan
    double-counts."""
    recorded = deltatable.retain_mode(meta)
    if retain_files is None:
        return bool(recorded)
    if recorded is not None and bool(retain_files) != recorded:
        raise ValueError(
            f"{table_path}: table records retainFiles={recorded} in its "
            f"Delta metaData but this call passed "
            f"retain_files={retain_files}; retention is a table "
            f"property — pass retain_files=None to inherit it"
        )
    return bool(retain_files)


def _delta_actions(
    table_path: str,
    staging: str,
    rels: list[str],
    removed: list[str],
    root_removed: list[str],
    partition_cols: list[str],
    base_version: int,
    schema_json: str,
    txn_id: str,
    retain: bool = False,
    data_change: bool = True,
    operation: str = "MERGE",
    schema_changed: bool = False,
) -> list[dict]:
    """The Delta actions of one merge commit. Incremental commits
    (base_version >= 0) remove the live files of every touched
    partition and add their staged replacements; a BOOTSTRAP commit
    (a table without a log, base_version < 0: a legacy table's first
    merge, or `_create_table`) instead records the full post-merge
    active set — untouched live files plus the staged ones — under
    protocol + metaData, with no removes (there is no prior log to
    remove against)."""
    actions: list[dict] = [
        {
            "commitInfo": {
                "txnId": txn_id,
                "operation": operation,
                "readVersion": base_version,
            }
        }
    ]
    if base_version < 0:
        actions.append({"protocol": dict(deltatable._PROTOCOL)})
    if base_version < 0 or schema_changed:
        # the first metaData, or schema evolution: this commit's
        # metaData replaces the table's current metadata (the Delta
        # protocol rule) — the retention config rides along so
        # table_retain_mode keeps reading the latest metaData
        actions.append(
            deltatable.meta_action(
                schema_json,
                partition_cols,
                {deltatable.RETAIN_CONFIG_KEY: "true" if retain else "false"},
            )
        )

    staged_files: list[str] = []
    for rel in rels:
        staged_files += deltatable.data_files_under(staging, rel)

    if base_version >= 0 and retain:
        # retained-file mode: the directory holds superseded files
        # too — the LOG's active set, restricted to the touched/removed
        # partitions, is what this commit replaces
        replaced = set(
            _touched_files(
                table_path, rels + removed,
                deltatable.snapshot_at(table_path)["active_files"],
                retain=True,
            )
        )
    else:
        # swap mode (a bootstrap commit always is): the directories
        # are the snapshot
        replaced = set(
            _touched_files(
                table_path, [r for r in rels + removed if r != "."], {},
                retain=False,
            )
        )
        if "." in rels:
            replaced.update(root_removed)
    if base_version >= 0:
        for f in sorted(replaced):
            actions.append(
                {
                    "remove": deltatable.build_remove(
                        f, partition_cols, data_change=data_change
                    )
                }
            )
    else:
        # bootstrap: live files outside the touched/removed set stay
        for f in _all_data_files(table_path):
            if f not in replaced:
                actions.append(
                    {
                        "add": deltatable.build_add(
                            table_path, f, partition_cols
                        )
                    }
                )
    for f in sorted(set(staged_files)):
        actions.append(
            {
                "add": deltatable.build_add(
                    staging, f, partition_cols, data_change=data_change
                )
            }
        )
    return actions


def _all_data_files(root: str) -> list[str]:
    out = []
    for r, dirs, files in os.walk(root):
        dirs[:] = [d for d in dirs if not d.startswith(("_", "."))]
        for f in files:
            if f.endswith(".parquet") and not f.startswith(("_", ".")):
                out.append(
                    os.path.relpath(os.path.join(r, f), root).replace(os.sep, "/")
                )
    return sorted(out)


def _claim_tip(
    table_path: str,
    base_version: int,
    ours: list[dict],
    partition_cols: list[str],
    txn_id: str,
    spins: int = 200,
) -> "int | None":
    """OCC commit point: reserve the next log version via CAS. While
    the returned claim is held the log tip cannot advance, so the
    subsequent action build sees a frozen table. Returns the claimed
    version, or None when an intervening commit overlapped our
    touched partitions (the merge result is stale — caller retries
    from a fresh read) or the tip stayed contested for `spins`
    rounds."""
    import time

    for _spin in range(spins):
        next_v = deltatable.current_version(table_path) + 1
        if next_v <= base_version:
            next_v = base_version + 1
        if deltatable.claim_version(table_path, next_v, txn_id):
            committed = deltatable.committed_touched(table_path, base_version)
            if deltatable.overlaps(committed, ours, partition_cols):
                deltatable.release_claim(table_path, next_v)
                return None
            return next_v
        time.sleep(0.01)
    return None


def _stage(
    df: DataFrame, table_path: str, partition_cols: list[str]
) -> "tuple[str, str, list[str]]":
    """Write `df` to a fresh `_staging/<commit_id>/` (partitioned like
    the table). Returns (commit_id, staging dir, the staging-relative
    directories that received data files)."""
    commit_id = uuid.uuid4().hex[:12]
    staging = os.path.join(table_path, "_staging", commit_id)
    writer = df.write.mode("overwrite")
    if partition_cols:
        writer = writer.partitionBy(*partition_cols)
    writer.parquet(staging)
    rels = sorted(
        {
            os.path.relpath(root, staging)
            for root, _dirs, files in os.walk(staging)
            if any(f.endswith(".parquet") for f in files)
        }
    )
    return commit_id, staging, rels


def _commit(table_path: str, commit_id: str, manifest: dict) -> None:
    """Write the commit marker, then apply it. The marker's atomic
    rename is the commit point: before it the table is untouched,
    after it `_apply_commit` replays idempotently."""
    cdir = os.path.join(table_path, "_commits")
    os.makedirs(cdir, exist_ok=True)
    marker_tmp = os.path.join(cdir, f".{commit_id}.json.tmp")
    with open(marker_tmp, "w") as f:
        json.dump(manifest, f)
    os.replace(marker_tmp, os.path.join(cdir, f"{commit_id}.json"))
    _apply_commit(table_path, commit_id)


def _create_table(
    table_path: str,
    source: DataFrame,
    keys: list[str],
    precombine: list[str],
    partition_cols: list[str],
    op_col: "str | None",
    delete_types: tuple[str, ...],
    retain_files: bool,
) -> None:
    """First batch: nothing to lose, write the deduped batch directly
    as the table (replayable from the checkpointed batch if
    interrupted), then commit log version 0. Table CREATION is not
    concurrency-safe (two creators would race the overwrite itself,
    log or no log) — the reference serializes job starts
    (MaxConcurrentRuns=1)."""
    cols = [c for c in source.columns if c != op_col]
    empty = source.select(*cols).limit(0)
    deduped = upsert_dataframes(
        empty,
        source,
        keys,
        precombine,
        op_col=op_col,
        delete_types=delete_types,
    )
    deduped.write.mode("overwrite").partitionBy(*partition_cols).parquet(
        table_path
    )
    txn = uuid.uuid4().hex[:12]
    if not deltatable.claim_version(table_path, 0, txn):
        raise ConcurrentWriteConflict(
            f"{table_path}: concurrent table creation"
        )
    # a bootstrap commit with nothing staged: every written file is added
    actions = _delta_actions(
        table_path, table_path, [], [], [], partition_cols, -1,
        deltatable.schema_string(deduped.schema), txn,
        retain=retain_files, operation="CREATE TABLE AS SELECT",
    )
    deltatable.append_commit(table_path, 0, actions, txn)
    deltatable.release_claim(table_path, 0)


def merge_into_parquet(
    spark: SparkSession,
    table_path: str,
    source: DataFrame,
    keys: list[str],
    precombine: list[str],
    partition_cols: list[str],
    op_col: str | None = None,
    delete_types: tuple[str, ...] = ("REMOVE",),
    retain_files: "bool | None" = None,
    evolve_schema: bool = False,
    max_commit_retries: int = 3,
    _hook_before_commit=None,
) -> None:
    """Merge a batch into a partitioned parquet lake table, rewriting
    only touched partitions, with an ATOMIC commit protocol.

    1. replay any interrupted prior commit (`recover_pending_commits`);
    2. collect the batch once as Arrow, with its tiebreak hash
       (`_collect_batch`), and derive the touched partitions from it —
       or, for a batch that takes the Spark path, from a distinct
       collect (`touched_partitions`);
    3. take the live files of those partitions only (`_touched_files`):
       the log's snapshot, or the touched directories of a swap-mode
       table. When the collected batch plus the log's `numRecords` of
       those files is at most `_LOCAL_MERGE_ROWS`, read them with
       pyarrow; otherwise read them with Spark (`_read_touched`), with
       basePath for the partition columns and the log's schema — or,
       for the one-time bootstrap of a table without a log, the schema
       inferred from its footers (such a table is in swap mode, so its
       directories are its snapshot);
    4. union + latest-wins dedup (optionally honoring `op_col` hard
       deletes — see `upsert_dataframes`), on the driver in the same
       order (`_merge_local`) or as a Spark window;
    5. write the rewritten partitions to `_staging/<commit_id>/`, one
       file per partition on the driver path, then atomically create
       `_commits/<commit_id>.json` (the commit point), then swap each
       staged partition directory into place.

    An OCC retry reuses the collected batch and re-reads only the
    target, from the new snapshot.

    Crash safety (the Hudi-timeline property, minimally): before the
    marker exists the table is untouched (staged files are garbage-
    collected on the next merge); after the marker exists the swap is
    replayed idempotently — previously-merged rows can never be lost to
    a failure inside the overwrite window, unlike a read-and-overwrite
    of the live path. Assumes a rename-capable filesystem (local/HDFS);
    on S3-like stores use a real table format (Delta/Hudi/Iceberg).
    Underscore-prefixed dirs are invisible to parquet readers, so
    `_staging`/`_commits` never pollute scans.

    NOTE: assumes the partition columns are derived from immutable key
    fields (the reference partitions the lake by create_at — immutable
    per README.rst:137 — exactly so updates can't move a row across
    partitions).
    """
    if os.path.isdir(table_path):
        recover_pending_commits(table_path, staging_grace_seconds=3600.0)
    # one snapshot per attempt: its version is the OCC base, its meta
    # the schema and the retain mode, its active files the target
    snap = deltatable.snapshot_at(table_path)
    retain_files = _resolve_retain_mode(table_path, retain_files, snap["meta"])
    batch_schema = (snap["meta"] or {}).get("schemaString")
    batch = _collect_batch(
        source, batch_schema, keys, precombine, partition_cols, op_col
    )
    if batch is None:
        parts = touched_partitions(source, partition_cols)
    else:
        parts, part_of_row = _batch_partitions(batch, partition_cols)
    if not parts:
        return
    # our touched set in Delta partitionValues form; the writer stores
    # "" as null, so "" names the null partition
    ours = [{c: p[c] or None for c in partition_cols} for p in parts]
    part_rels = _partition_rels(spark, partition_cols, ours)
    touched_rels = sorted(set(part_rels))
    if batch is not None:
        rel_index = {rel: i for i, rel in enumerate(touched_rels)}
        row_rel = np.array(
            [rel_index[r] for r in part_rels], dtype=np.int64
        )[part_of_row]
    from pyspark.errors import AnalysisException

    for attempt in range(max_commit_retries):
        if attempt:
            snap = deltatable.snapshot_at(table_path)
        base_version = snap["version"]
        if base_version >= 0:
            # the log's schema, not one sampled footer's: after schema
            # evolution old partitions lack the new columns, and
            # NULL-backfill needs the full schema
            schema = _schema_of(snap["meta"]["schemaString"])
        else:
            # no log yet: the table is in swap mode (its directories
            # are its snapshot, whatever retain_files says), and its
            # footers give the schema. A missing directory is a first
            # batch without asking Spark, which would log a stack trace.
            schema = None
            try:
                if os.path.isdir(table_path):
                    schema = spark.read.parquet(table_path).schema
            except AnalysisException as e:
                # ONLY a missing/uninitialized table means "first
                # batch". Any other failure (transient IO, permissions,
                # corrupt footer) must propagate — treating it as
                # first-batch would overwrite real partitions with
                # batch-only rows.
                cond = getattr(e, "getCondition", lambda: "")() or str(e)
                if not (
                    "PATH_NOT_FOUND" in cond or "UNABLE_TO_INFER_SCHEMA" in cond
                ):
                    raise
            if schema is None:
                _create_table(
                    table_path, source, keys, precombine, partition_cols,
                    op_col, delete_types, retain_files,
                )
                return
        files = _touched_files(
            table_path, touched_rels, snap["active_files"],
            retain=retain_files and base_version >= 0,
        )
        stage = None
        if (
            batch is not None
            and snap["meta"]["schemaString"] == batch_schema
            and None not in files.values()
            and batch.num_rows + sum(files.values()) <= _LOCAL_MERGE_ROWS
        ):
            stage = _merge_local(
                table_path, batch, row_rel, touched_rels, list(files),
                keys, precombine, partition_cols, delete_types,
            )
        schema_changed = False
        if stage is None:
            target = _read_touched(
                spark, table_path, list(files), schema, partition_cols
            )
            if evolve_schema:
                target, source, schema_changed = _align_schemas(
                    target, source, op_col, partition_cols
                )
            src_cols = list(target.columns) + ([op_col] if op_col else [])
            merged = upsert_dataframes(
                target,
                source.select(*src_cols),
                keys,
                precombine,
                op_col=op_col,
                delete_types=delete_types,
            )
            stage = _stage(merged, table_path, partition_cols)
            schema_json = deltatable.schema_string(merged.schema)
        else:
            schema_json = batch_schema

        # --- atomic commit: stage, claim, mark, swap ---
        commit_id, staging, rels = stage
        removed: list[str] = []
        if op_col and partition_cols:
            # hard deletes can empty a touched partition entirely — it
            # then has no staged replacement and must be dropped at
            # commit time
            staged = set(rels)
            removed = [
                rel
                for rel in touched_rels
                if rel not in staged
                and os.path.isdir(os.path.join(table_path, rel))
            ]
        # unpartitioned tables: record the CURRENT root data files so
        # replay deletes exactly these and never a freshly-swapped
        # staged file
        root_removed: list[str] = []
        if not partition_cols and "." in rels:
            root_removed = sorted(
                name
                for name in os.listdir(table_path)
                if os.path.isfile(os.path.join(table_path, name))
                and not name.startswith(("_", "."))
            )
        if _hook_before_commit is not None:
            _hook_before_commit()
        claimed = _claim_tip(
            table_path, base_version, ours, partition_cols, commit_id
        )
        if claimed is not None and not os.path.isdir(staging):
            # defense in depth: if anything collected our staging
            # while we raced (shouldn't happen inside the grace
            # window), restage rather than commit adds for files
            # that no longer exist
            deltatable.release_claim(table_path, claimed)
            claimed = None
        if claimed is None:
            # OCC loss: someone committed over our touched partitions
            # since our read — the staged merge is stale. Discard and
            # recompute from the new snapshot.
            shutil.rmtree(staging, ignore_errors=True)
            continue
        actions = _delta_actions(
            table_path,
            staging,
            rels,
            removed,
            root_removed,
            partition_cols,
            base_version,
            schema_json,
            commit_id,
            retain=retain_files,
            schema_changed=schema_changed,
        )
        _commit(
            table_path,
            commit_id,
            {
                "partitions": rels,
                "removed": removed,
                "root_removed": root_removed,
                "retain": bool(retain_files),
                "delta": {
                    "version": claimed, "txn": commit_id, "actions": actions
                },
            },
        )
        return
    raise ConcurrentWriteConflict(
        f"{table_path}: lost the commit race {max_commit_retries} times"
    )


@query(
    "s8_upsert_merge",
    oracle="""
    SELECT user_id, event_id, ts, event_type, value
    FROM (
      SELECT user_id, event_id, ts, event_type, value,
             row_number() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def q_upsert_merge(spark, sf_dir):
    """S8 as a checkable batch query: snapshot = latest state per user
    before a cutoff; CDC batch = all later events; merged table must
    equal the independent 'global latest per user' oracle."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_id", "ts", "event_type", "value"
    )
    cutoff = "2024-01-15 00:00:00"
    snapshot = dedup.latest_wins(
        ev.filter(F.col("ts") < cutoff), ["user_id"], ["ts", "event_id"]
    )
    cdc = ev.filter(F.col("ts") >= cutoff)
    return upsert_dataframes(
        snapshot, cdc, keys=["user_id"], precombine=["ts", "event_id"]
    )


def optimize_table(
    spark: SparkSession,
    table_path: str,
    partition_cols: list[str],
    retain_files: "bool | None" = None,
    max_files_ok: int = 1,
    max_commit_retries: int = 3,
) -> int:
    """OPTIMIZE (small-file compaction): rewrite every partition
    whose ACTIVE file count exceeds `max_files_ok` into one file per
    partition, committed through the same claim/marker protocol as a
    merge — the Delta OPTIMIZE shape, with add/remove actions marked
    dataChange=false so incremental readers know no rows changed.
    Runs under OCC: a conflicting writer makes it retry from a fresh
    snapshot. Returns the number of partitions compacted.

    100 TB shape: streaming merges leave one file per micro-batch
    per partition; compaction cost is ∝ the selected partitions'
    bytes (file-level pruning via the log), never the table."""
    if os.path.isdir(table_path):
        recover_pending_commits(table_path, staging_grace_seconds=3600.0)
    snap = deltatable.snapshot_at(table_path)
    retain_files = _resolve_retain_mode(table_path, retain_files, snap["meta"])
    for attempt in range(max_commit_retries):
        if attempt:
            snap = deltatable.snapshot_at(table_path)
        base_version = snap["version"]
        if base_version < 0:
            raise ValueError(
                f"optimize: {table_path} has no delta log to plan from"
            )
        by_part: dict[str, list[str]] = {}
        for f in snap["active_files"]:
            by_part.setdefault(_rel_dir(f), []).append(f)
        todo = {
            rel: fs for rel, fs in by_part.items() if len(fs) > max_files_ok
        }
        if not todo:
            return 0
        files = [
            os.path.join(table_path, f) for fs in todo.values() for f in fs
        ]
        df = spark.read.option("basePath", table_path).parquet(*files)
        if partition_cols:
            df = df.repartition(
                max(1, len(todo)), *[F.col(c) for c in partition_cols]
            )
        else:
            df = df.coalesce(1)

        commit_id, staging, rels = _stage(df, table_path, partition_cols)
        root_removed = sorted(todo.get(".", []))
        ours = (
            [
                deltatable.partition_values_of(rel + "/f", partition_cols)
                for rel in todo
            ]
            if partition_cols
            else [{}]
        )
        claimed = _claim_tip(
            table_path, base_version, ours, partition_cols, commit_id
        )
        if claimed is None:
            shutil.rmtree(staging, ignore_errors=True)
            continue
        actions = _delta_actions(
            table_path,
            staging,
            rels,
            [],
            root_removed,
            partition_cols,
            base_version,
            deltatable.schema_string(df.schema),
            commit_id,
            retain=retain_files,
            data_change=False,
            operation="OPTIMIZE",
        )
        _commit(
            table_path,
            commit_id,
            {
                "partitions": rels,
                "removed": [],
                "root_removed": root_removed,
                "retain": bool(retain_files),
                "delta": {
                    "version": claimed, "txn": commit_id, "actions": actions
                },
            },
        )
        return len(todo)
    raise ConcurrentWriteConflict(
        f"{table_path}: optimize lost the commit race {max_commit_retries} times"
    )


@query(
    "delta_write_replay",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(count(*) AS BIGINT) AS n_rows
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_delta_write_replay(spark, sf_dir):
    """S8 as a real table format: three overlapping CDC batches merge
    into a date-partitioned lake table via `merge_into_parquet`
    (version 0 CREATE, then two MERGE commits that remove+add the
    rewritten partitions), an explicit Delta checkpoint is cut, and
    the returned census is read COLD from the log alone
    (`deltatable.snapshot_at`: that checkpoint + trailing JSON) —
    per-partition numRecords summed from add-action stats.
    Internal invariants cross-check the log against the live files
    and an independent Spark read before anything is returned; the
    DuckDB oracle recomputes the census from the source table.

    Reference parity: glue_jobs/initial_load.py:163-186 (Hudi table
    create) + incremental.py:172-194 (upsert commit timeline)."""
    import tempfile

    from dynamodb_to_datalake_project_spark import deltatable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    root = tempfile.mkdtemp(prefix="delta_write_replay_")
    table = os.path.join(root, "events_lake")
    try:
        batches = [
            ev.filter(F.col("event_date") <= "2024-01-20"),
            ev.filter(F.col("event_date").between("2024-01-15", "2024-01-25")),
            ev.filter(F.col("event_date") >= "2024-01-22"),
        ]
        for b in batches:
            merge_into_parquet(
                spark, table, b,
                keys=["event_id"], precombine=["ts"],
                partition_cols=["event_date"],
            )
        deltatable.maybe_write_checkpoint(table, interval=2)

        snap = deltatable.snapshot_at(table)  # checkpoint cold read
        if snap["version"] != 2:
            raise AssertionError(f"expected log version 2, got {snap}")
        live = set(_all_data_files(table))
        if set(snap["active_files"]) != live:
            raise AssertionError("delta active set != live parquet files")
        actual = spark.read.parquet(table).count()
        if snap["total_rows"] != actual:
            raise AssertionError(
                f"log numRecords {snap['total_rows']} != table {actual}"
            )
        census: dict[str, int] = {}
        for path, info in snap["active_files"].items():
            date = path.split("event_date=")[1].split("/")[0]
            census[date] = census.get(date, 0) + (info["num_records"] or 0)
        rows = sorted(census.items())
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "event_date string, n_rows long")


@query(
    "merge_occ_two_writers",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d')
                              BETWEEN '2024-01-08' AND '2024-01-09'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_from_a,
           CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d')
                              BETWEEN '2024-01-10' AND '2024-01-15'
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_from_b
    FROM events
    WHERE ts < TIMESTAMP '2024-01-21 00:00:00'
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_merge_occ_two_writers(spark, sf_dir):
    """The OCC guarantee as a checkable query: writer B stages a
    merge over days 10-15 from a stale snapshot while writer A
    commits days 08-12 in between; B must lose the version CAS,
    recompute, and commit on top of A. The census reads the FINAL
    table: every key in A-only days carries A's update, every key in
    B's days carries B's (B's precombine is newer), and no row is
    lost under the interleaving — the oracle knows which writer must
    own each day without simulating any of the machinery."""
    import tempfile

    from dynamodb_to_datalake_project_spark import deltatable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    ).filter(F.col("event_date") <= "2024-01-20")
    root = tempfile.mkdtemp(prefix="merge_occ_")
    table = os.path.join(root, "events_lake")
    try:
        merge_into_parquet(
            spark, table, ev,
            keys=["event_id"], precombine=["ts"],
            partition_cols=["event_date"],
        )
        # A: newer versions of days 08-12; B: even newer days 10-15.
        # event_date stays the ORIGINAL day (immutable partition key);
        # only the precombine ts advances.
        batch_a = ev.filter(
            F.col("event_date").between("2024-01-08", "2024-01-12")
        ).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 1 HOUR")
        ).withColumn("event_type", F.concat(F.col("event_type"), F.lit("_A")))
        batch_b = ev.filter(
            F.col("event_date").between("2024-01-10", "2024-01-15")
        ).withColumn(
            "ts", F.col("ts") + F.expr("INTERVAL 2 HOURS")
        ).withColumn("event_type", F.concat(F.col("event_type"), F.lit("_B")))

        fired = []

        def interleave_a():
            if not fired:
                fired.append(1)
                merge_into_parquet(
                    spark, table, batch_a,
                    keys=["event_id"], precombine=["ts"],
                    partition_cols=["event_date"],
                )

        merge_into_parquet(
            spark, table, batch_b,
            keys=["event_id"], precombine=["ts"],
            partition_cols=["event_date"],
            _hook_before_commit=interleave_a,
        )
        if deltatable.list_versions(table) != [0, 1, 2]:
            raise AssertionError("expected exactly 3 log versions")
        b_commit = dict(deltatable.read_commits(table))[2]
        ci = next(
            json.loads(ln)["commitInfo"]
            for ln in b_commit.splitlines()
            if "commitInfo" in ln
        )
        if ci["readVersion"] != 1:
            raise AssertionError(
                "writer B must have retried on top of A's commit"
            )
        final = spark.read.parquet(table)
        out = (
            final.groupBy("event_date")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.sum(
                    F.when(F.col("event_type").endswith("_A"), 1).otherwise(0)
                ).cast("long").alias("n_from_a"),
                F.sum(
                    F.when(F.col("event_type").endswith("_B"), 1).otherwise(0)
                ).cast("long").alias("n_from_b"),
            )
            .orderBy("event_date")
            .collect()
        )
        rows = [tuple(r) for r in out]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_date string, n_rows long, n_from_a long, n_from_b long"
    )


@query(
    "delta_time_travel",
    oracle="""
    WITH d AS (SELECT strftime(ts, '%Y-%m-%d') AS day FROM events)
    SELECT 0 AS version,
           CAST((SELECT count(*) FROM d WHERE day <= '2024-01-10')
                AS BIGINT) AS n_rows
    UNION ALL
    SELECT 1, CAST((SELECT count(*) FROM d WHERE day <= '2024-01-15')
                   AS BIGINT)
    UNION ALL
    SELECT 2, CAST((SELECT count(*) FROM d WHERE day <= '2024-01-15')
                   AS BIGINT)
    ORDER BY version
    """,
)
def q_delta_time_travel(spark, sf_dir):
    """The retained-file Delta story end-to-end as a checkable
    query: two retain-mode merges (v0 create, v1 appends new dates),
    then OPTIMIZE (v2 — compaction, dataChange=false, row counts
    unchanged BY CONSTRUCTION and verified by the oracle), each
    version read back via the log-driven time-travel scan. In-op
    invariants: optimize leaves one file per partition, vacuum(0)
    reclaims the superseded files, and post-vacuum time travel
    raises the documented retention error while metadata time travel
    survives."""
    import tempfile

    from dynamodb_to_datalake_project_spark import deltatable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "ts",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    root = tempfile.mkdtemp(prefix="delta_time_travel_")
    table = os.path.join(root, "events_lake")
    try:
        for b in (
            ev.filter(F.col("event_date") <= "2024-01-10"),
            ev.filter(F.col("event_date").between("2024-01-05", "2024-01-15")),
        ):
            merge_into_parquet(
                spark, table, b,
                keys=["event_id"], precombine=["ts"],
                partition_cols=["event_date"], retain_files=True,
            )
        # max_files_ok=0 => full-rewrite OPTIMIZE of every partition:
        # at small SFs AQE coalesces each merge to one file per
        # partition, so a >1-file threshold would make the commit
        # data-dependent; the genuine multi-file compaction case is
        # pinned in test_merge.py::test_optimize_compacts_small_files
        n_compacted = optimize_table(
            spark, table, ["event_date"], retain_files=True, max_files_ok=0
        )
        if n_compacted < 1:
            raise AssertionError("optimize found nothing to compact")
        rows = []
        for v in (0, 1, 2):
            rows.append(
                (v, deltatable.read_snapshot_df(spark, table, v).count())
            )
        snap = deltatable.snapshot_at(table)
        per_part: dict[str, int] = {}
        for f in snap["active_files"]:
            d = f.split("event_date=")[1].split("/")[0]
            per_part[d] = per_part.get(d, 0) + 1
        if any(n > 1 for n in per_part.values()):
            raise AssertionError(f"optimize left multi-file partitions: {per_part}")
        deleted = deltatable.vacuum(table, retain_versions=0)
        if not deleted:
            raise AssertionError("vacuum reclaimed nothing on a retained table")
        if deltatable.read_snapshot_df(spark, table).count() != rows[-1][1]:
            raise AssertionError("vacuum changed the current snapshot")
        try:
            deltatable.read_snapshot_df(spark, table, 0)
            raise AssertionError("post-vacuum time travel must raise")
        except FileNotFoundError:
            pass
        if deltatable.snapshot_at(table, 0)["total_rows"] != rows[0][1]:
            raise AssertionError("metadata time travel broken")
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(rows, "version int, n_rows long")


@query(
    "merge_schema_evolution",
    oracle="""
    SELECT strftime(ts, '%Y-%m-%d') AS event_date,
           CAST(count(*) AS BIGINT) AS n_rows,
           CAST(sum(CASE WHEN strftime(ts, '%Y-%m-%d') >= '2024-01-15'
                              AND value IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_value,
           CAST(sum(user_id) AS BIGINT) AS sum_uid
    FROM events
    GROUP BY 1
    ORDER BY 1
    """,
)
def q_merge_schema_evolution(spark, sf_dir):
    """Merge-time schema evolution as a checkable query (round-10
    verdict item 4): the table is created WITHOUT `value` and with
    `user_id` narrowed to int; a second batch arrives WITH `value`
    (add-column) and bigint `user_id` (type widening) under
    `evolve_schema=True`. The merged table must carry the evolved
    schema in a new metaData action, rows last written by the
    pre-evolution batch must read `value` as NULL (old partitions
    backfill — no rewrite), and the widened `user_id` must survive
    exactly. The oracle recomputes the per-day census from the source
    table: `value` is non-null exactly where the post-evolution batch
    owns the row (days >= 15 — overlap days tie on precombine and the
    source wins).

    Reference anchor: README.rst:137's mutable-field note is the
    narrow version of this (fields may appear over a table's life);
    the reference's Hudi path relies on the connector's own
    mergeSchema."""
    import json as _json
    import tempfile

    from pyspark.sql import types as T

    from dynamodb_to_datalake_project_spark import deltatable

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        "user_id",
        "ts",
        "event_type",
        "value",
        F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
    )
    root = tempfile.mkdtemp(prefix="merge_schema_evo_")
    table = os.path.join(root, "events_lake")
    try:
        b1 = (
            ev.filter(F.col("event_date") <= "2024-01-20")
            .drop("value")
            .withColumn("user_id", F.col("user_id").cast("int"))
        )
        b2 = ev.filter(F.col("event_date") >= "2024-01-15")
        merge_into_parquet(
            spark, table, b1,
            keys=["event_id"], precombine=["ts"],
            partition_cols=["event_date"],
        )
        merge_into_parquet(
            spark, table, b2,
            keys=["event_id"], precombine=["ts"],
            partition_cols=["event_date"], evolve_schema=True,
        )
        sj = deltatable._schema_json_of(table)
        fields = {
            f["name"]: f["type"] for f in _json.loads(sj)["fields"]
        }
        if "value" not in fields:
            raise AssertionError(f"evolved schema lacks value: {fields}")
        if fields["user_id"] != "long":
            raise AssertionError(
                f"user_id not widened to long: {fields['user_id']}"
            )
        out = (
            spark.read.schema(T.StructType.fromJson(_json.loads(sj)))
            .parquet(table)
        )
        # materialize before the finally deletes the table (the
        # returned frame must not scan a removed directory)
        rows = (
            out.groupBy("event_date")
            .agg(
                F.count(F.lit(1)).alias("n_rows"),
                F.count("value").alias("n_value"),
                F.sum("user_id").alias("sum_uid"),
            )
            .orderBy("event_date")
            .collect()
        )
        rows = [tuple(r) for r in rows]
    finally:
        shutil.rmtree(root, ignore_errors=True)
    return spark.createDataFrame(
        rows, "event_date string, n_rows long, n_value long, sum_uid long"
    )


def scd2_merge(
    history: DataFrame,
    batch: DataFrame,
    keys: list[str],
    ts_col: str,
    tracked: list[str],
) -> DataFrame:
    """SCD Type-2 merge: maintain full change history with validity
    intervals instead of latest-wins overwrite (the reference's Hudi
    COW keeps only the latest image; this is the audit-trail upgrade).

    `history` schema: keys + tracked + (valid_from, valid_to,
    is_current) — pass an empty frame with that schema to bootstrap.
    `batch` schema: keys + tracked + ts_col.

    Semantics (the emulation of `MERGE ... WHEN MATCHED THEN UPDATE
    SET valid_to = s.ts / INSERT new version` without Delta):
    - every batch row with a tracked-value CHANGE (or a new key) opens
      a new version valid from its timestamp;
    - consecutive batch rows with identical tracked values collapse
      (no spurious versions);
    - the previously-current row of a changed key closes at the new
      version's valid_from; closed history rows are immutable.

    Plan: one window pass over (closed history ∪ current ∪ batch)
    partitioned by key and ordered by event time — change detection via
    lag(), interval assembly via lead() — then reunion with the
    untouched closed rows. Cost ∝ |batch| + |touched keys' open rows|
    at the partition level; the closed-history side passes through
    untouched (and in a partitioned lake write would not be rewritten).
    """
    kc = [F.col(k) for k in keys]
    closed = history.filter(~F.col("is_current"))
    current = history.filter(F.col("is_current"))

    b = batch.select(
        *keys, *tracked, F.col(ts_col).cast("timestamp").alias("valid_from")
    )
    cur = current.select(*keys, *tracked, "valid_from")
    all_rows = cur.withColumn("__src", F.lit(0)).unionByName(
        b.withColumn("__src", F.lit(1))
    )

    w = Window.partitionBy(*kc).orderBy("valid_from", "__src")
    change = F.lit(False)
    for c in tracked:
        # eqNullSafe: a tracked attribute transitioning to/from NULL is
        # a CHANGE and must open a version. A plain == yields NULL when
        # exactly one side is NULL, which would poison the OR-chain and
        # silently drop the row at the filter below.
        change = change | ~F.col(c).eqNullSafe(F.lag(F.col(c)).over(w))
    first = F.lag(F.col("valid_from")).over(w).isNull()
    versions = all_rows.withColumn("__keep", first | change).filter(
        F.col("__keep")
    )
    w2 = Window.partitionBy(*kc).orderBy("valid_from", "__src")
    out = versions.select(
        *keys,
        *tracked,
        "valid_from",
        F.lead(F.col("valid_from")).over(w2).alias("valid_to"),
    ).withColumn("is_current", F.col("valid_to").isNull())
    return closed.select(out.columns).unionByName(out)
