"""Iceberg v2 snapshot WRITER — the symmetric closure of the Iceberg
READ path (`llm.tablemeta.resolve_iceberg_snapshot` / `iceberg_scan_plan`),
composed entirely from in-repo pieces: the Avro container encoder
(`llm.avrofile.encode_avro`, complex types) writes manifest lists and
manifests, parquet data files are written by Spark's native writer
(distributed — the 100 TB path), and their footers are read back
tail-only (`llm.parquetmeta.parse_parquet_footer`) for record counts
and per-column value bounds.

Reference parity: this is the Iceberg generalization of the catalog-
synced Hudi table write the reference performs on AWS Glue
(glue_jobs/initial_load.py:163-186 — `write.format("hudi")` with
hive-style partitioning; incremental.py's upsert commits extend the
timeline). The reference can only target Hudi through a vendored
connector; this module writes the open v2 metadata chain directly.

Layout (the Hadoop-catalog convention):

    table/
      metadata/
        v1.metadata.json, v2.metadata.json, ...   version chain
        version-hint.text                          -> latest N
        snap-<id>.avro                             manifest lists
        mf-<uuid>.avro                             manifests
      data/<part_col>=<val>/part-*.parquet         Spark-written

Commit kinds:
- `append`: new manifest with ADDED entries; every prior live
  manifest is carried into the new manifest list UNTOUCHED (its
  original row — counts, added_snapshot_id, sequence_number), so an
  append costs O(new files), never O(table). That reuse is Iceberg's
  core scale property and the reason manifests exist at all.
- `overwrite` (partition replacement — the Hudi-upsert shape): only
  manifests containing files of replaced partitions are rewritten
  (replaced entries -> status DELETED, survivors -> EXISTING); the
  rest carry forward untouched. Manifests whose DELETED entries were
  exposed in the PREVIOUS snapshot are compacted on the next carry
  (deleted entries dropped, spec rule: deletes live for one snapshot).

Scale notes (100 TB): data bytes move only through Spark executors;
the driver touches footer TAILS (bounded by file count) and metadata
Avro (KB per commit). Bounds in manifests are what
`iceberg_scan_plan` prunes file scans with — written for every
INT32/INT64 column from real footer statistics; columns without
usable stats ship no bounds and readers must scan them
(the conservative missing-stats rule).
"""

from __future__ import annotations

import json
import os
import struct
import uuid

META_DIR = "metadata"
DATA_DIR = "data"

#: manifest_entry.status (Iceberg spec)
EXISTING, ADDED, DELETED = 0, 1, 2

_SPARK_TO_ICEBERG = {
    "boolean": "boolean",
    "int": "int",
    "integer": "int",
    "bigint": "long",
    "long": "long",
    "float": "float",
    "double": "double",
    "string": "string",
    "date": "date",
    "timestamp": "timestamptz",
    "timestamp_ntz": "timestamp",
    "binary": "binary",
}


def _ice_type(spark_field) -> str:
    dt = spark_field.dataType.simpleString()
    if dt.startswith("decimal"):
        return dt.replace(",", ", ")
    ice = _SPARK_TO_ICEBERG.get(dt)
    if ice is None:
        raise NotImplementedError(
            f"iceberg: no type mapping for spark type {dt!r}"
        )
    return ice


def iceberg_schema(spark_schema) -> dict:
    """Spark StructType -> Iceberg schema JSON with field-ids 1..n
    (the id assignment a fresh table gets)."""
    fields = [
        {"id": i, "name": f.name, "required": False, "type": _ice_type(f)}
        for i, f in enumerate(spark_schema.fields, start=1)
    ]
    return {"type": "struct", "schema-id": 0, "fields": fields}


#: Iceberg's safe type promotions (spec: Schema Evolution)
_ICE_WIDENINGS = {("int", "long"), ("float", "double")}


def evolve_schema(prior: dict, spark_schema) -> "tuple[dict, bool]":
    """Iceberg schema evolution with STABLE field ids (the property
    the whole format hangs on — bounds, deletes and column projection
    resolve by id, never by name): existing columns keep their ids,
    `int->long` / `float->double` widen per the spec's safe
    promotions (a narrower batch keeps the table's wider type), new
    columns get fresh ids past the table's last-column-id, dropped
    columns are rejected (mirroring the Delta leg's never-drops
    contract). Returns (schema-fields-or-new-schema, changed)."""
    by_name = {f["name"]: f for f in prior["fields"]}
    next_id = max(f["id"] for f in prior["fields"]) + 1
    missing = set(by_name) - {f.name for f in spark_schema.fields}
    if missing:
        raise ValueError(
            f"iceberg: schema evolution adds columns, never drops: "
            f"batch is missing {sorted(missing)}"
        )
    fields = []
    changed = False
    for f in spark_schema.fields:
        ice_t = _ice_type(f)
        pf = by_name.get(f.name)
        if pf is None:
            fields.append(
                {
                    "id": next_id,
                    "name": f.name,
                    "required": False,
                    "type": ice_t,
                }
            )
            next_id += 1
            changed = True
        elif pf["type"] == ice_t:
            fields.append(dict(pf))
        elif (pf["type"], ice_t) in _ICE_WIDENINGS:
            fields.append({**pf, "type": ice_t})
            changed = True
        elif (ice_t, pf["type"]) in _ICE_WIDENINGS:
            fields.append(dict(pf))  # narrower batch: table type wins
        else:
            raise ValueError(
                f"iceberg: incompatible evolution for {f.name!r}: "
                f"table {pf['type']}, batch {ice_t}"
            )
    new_schema = {
        "type": "struct",
        "schema-id": prior["schema-id"] + 1 if changed else prior["schema-id"],
        "fields": fields,
    }
    return new_schema, changed


def _manifest_schemas(partition_field: str) -> "tuple[dict, dict]":
    """(manifest-list, manifest) Avro schemas for a table identity-
    partitioned on `partition_field` — same field layout the in-repo
    resolver and scan planner consume (`llm.tablemeta`
    MANIFEST_LIST_V2_SCHEMA / MANIFEST_V2_SCHEMA), with the partition
    record named after the real column."""
    mlist = {
        "type": "record",
        "name": "manifest_file",
        "fields": [
            {"name": "manifest_path", "type": "string"},
            {"name": "manifest_length", "type": "long"},
            {"name": "partition_spec_id", "type": "int"},
            {"name": "content", "type": "int"},
            {"name": "sequence_number", "type": "long"},
            {"name": "added_snapshot_id", "type": "long"},
            {"name": "added_files_count", "type": "int"},
            {"name": "existing_files_count", "type": "int"},
            {"name": "deleted_files_count", "type": "int"},
            {"name": "added_rows_count", "type": "long"},
            {"name": "existing_rows_count", "type": "long"},
            {"name": "deleted_rows_count", "type": "long"},
        ],
    }
    manifest = {
        "type": "record",
        "name": "manifest_entry",
        "fields": [
            {"name": "status", "type": "int"},
            {"name": "snapshot_id", "type": ["null", "long"]},
            {
                "name": "data_file",
                "type": {
                    "type": "record",
                    "name": "data_file",
                    "fields": [
                        {"name": "content", "type": "int"},
                        {"name": "file_path", "type": "string"},
                        {"name": "file_format", "type": "string"},
                        {
                            "name": "partition",
                            "type": {
                                "type": "record",
                                "name": "partition",
                                "fields": [
                                    {
                                        "name": partition_field,
                                        "type": "string",
                                    }
                                ],
                            },
                        },
                        {"name": "record_count", "type": "long"},
                        {"name": "file_size_in_bytes", "type": "long"},
                        {
                            "name": "column_bounds",
                            "type": {
                                "type": "array",
                                "items": {
                                    "type": "record",
                                    "name": "bound",
                                    "fields": [
                                        {"name": "field_id", "type": "int"},
                                        {"name": "lo", "type": "long"},
                                        {"name": "hi", "type": "long"},
                                    ],
                                },
                            },
                        },
                    ],
                },
            },
        ],
    }
    return mlist, manifest


# ---------------------------------------------------------------------------
# metadata.json chain
# ---------------------------------------------------------------------------


def current_version(table_path: str) -> int:
    hint = os.path.join(table_path, META_DIR, "version-hint.text")
    if not os.path.isfile(hint):
        return -1
    with open(hint) as f:
        return int(f.read().strip())


def read_metadata(table_path: str, version: "int | None" = None) -> dict:
    v = current_version(table_path) if version is None else version
    if v < 0:
        raise FileNotFoundError(f"iceberg: {table_path} has no metadata")
    p = os.path.join(table_path, META_DIR, f"v{v}.metadata.json")
    with open(p) as f:
        return json.load(f)


def metadata_text(table_path: str, version: "int | None" = None) -> str:
    v = current_version(table_path) if version is None else version
    p = os.path.join(table_path, META_DIR, f"v{v}.metadata.json")
    with open(p) as f:
        return f.read()


def storage_files(table_path: str) -> "dict[str, bytes]":
    """All metadata Avro blobs keyed by table-relative path — the
    object-store stand-in `resolve_iceberg_snapshot` walks. Bounded
    by manifest count, never data size."""
    out: "dict[str, bytes]" = {}
    mdir = os.path.join(table_path, META_DIR)
    for f in os.listdir(mdir):
        if f.endswith(".avro"):
            with open(os.path.join(mdir, f), "rb") as fh:
                out[f"{META_DIR}/{f}"] = fh.read()
    return out


def _write_metadata(table_path: str, version: int, meta: dict) -> None:
    mdir = os.path.join(table_path, META_DIR)
    os.makedirs(mdir, exist_ok=True)
    p = os.path.join(mdir, f"v{version}.metadata.json")
    tmp = p + ".tmp"
    with open(tmp, "w") as f:
        json.dump(meta, f, indent=1)
    os.replace(tmp, p)
    hint_tmp = os.path.join(mdir, ".version-hint.tmp")
    with open(hint_tmp, "w") as f:
        f.write(str(version))
    os.replace(hint_tmp, os.path.join(mdir, "version-hint.text"))


# ---------------------------------------------------------------------------
# footer -> data_file record
# ---------------------------------------------------------------------------


def _footer(path: str) -> dict:
    from dynamodb_to_datalake_project_spark.llm.parquetmeta import (
        parse_parquet_footer,
    )

    size = os.path.getsize(path)
    with open(path, "rb") as f:
        f.seek(max(0, size - 8))
        tail8 = f.read(8)
        flen = int.from_bytes(tail8[:4], "little")
        take = min(size, flen + 8 + 4)
        f.seek(size - take)
        tail = f.read(take)
    # parse_parquet_footer wants leading magic too; fake the head
    return parse_parquet_footer(b"PAR1" + tail if take < size else tail)


def _decode_stat(raw: bytes, ptype: str) -> "int | None":
    if raw is None:
        return None
    if ptype == "INT64" and len(raw) == 8:
        return struct.unpack("<q", raw)[0]
    if ptype == "INT32" and len(raw) == 4:
        return struct.unpack("<i", raw)[0]
    return None  # non-integer physical types carry no long bounds


def _data_file_record(
    table_path: str,
    rel_path: str,
    partition_field: str,
    partition_value: str,
    field_ids: "dict[str, int]",
) -> dict:
    """One manifest `data_file` struct from the file's footer alone:
    record_count from FileMetaData.num_rows, column_bounds folded
    over every row group's chunk Statistics (min of mins / max of
    maxes), emitted only for columns whose physical type decodes to
    a long and whose stats are present in EVERY row group (partial
    stats cannot bound the file)."""
    full = os.path.join(table_path, rel_path)
    meta = _footer(full)
    types = {c["name"]: c["type"] for c in meta["columns"]}
    lo: "dict[str, int]" = {}
    hi: "dict[str, int]" = {}
    complete: "dict[str, bool]" = {}
    for rg in meta["row_groups"]:
        for c in rg["columns"]:
            name = c["path"]
            st = c.get("statistics")
            mn = _decode_stat((st or {}).get("min_value"), types.get(name))
            mx = _decode_stat((st or {}).get("max_value"), types.get(name))
            if mn is None or mx is None:
                complete[name] = False
                continue
            complete.setdefault(name, True)
            lo[name] = min(lo.get(name, mn), mn)
            hi[name] = max(hi.get(name, mx), mx)
    bounds = [
        {"field_id": field_ids[n], "lo": lo[n], "hi": hi[n]}
        for n in sorted(lo)
        if complete.get(n) and n in field_ids
    ]
    return {
        "content": 0,
        "file_path": rel_path,
        "file_format": "PARQUET",
        "partition": {partition_field: partition_value},
        "record_count": meta["num_rows"],
        "file_size_in_bytes": os.path.getsize(full),
        "column_bounds": bounds,
    }


# ---------------------------------------------------------------------------
# commits
# ---------------------------------------------------------------------------


def _write_manifest(
    table_path: str, entries: "list[dict]", manifest_schema: dict
) -> "tuple[str, int]":
    from dynamodb_to_datalake_project_spark.llm.avrofile import encode_avro

    blob = encode_avro(entries, manifest_schema)
    rel = f"{META_DIR}/mf-{uuid.uuid4().hex}.avro"
    with open(os.path.join(table_path, rel), "wb") as f:
        f.write(blob)
    return rel, len(blob)


def _manifest_list_row(
    rel: str,
    length: int,
    entries: "list[dict]",
    snapshot_id: int,
    sequence_number: int,
    content: int = 0,
) -> dict:
    by = {EXISTING: [], ADDED: [], DELETED: []}
    for e in entries:
        by[e["status"]].append(e["data_file"])
    return {
        "manifest_path": rel,
        "manifest_length": length,
        "partition_spec_id": 0,
        "content": content,
        "sequence_number": sequence_number,
        "added_snapshot_id": snapshot_id,
        "added_files_count": len(by[ADDED]),
        "existing_files_count": len(by[EXISTING]),
        "deleted_files_count": len(by[DELETED]),
        "added_rows_count": sum(f["record_count"] for f in by[ADDED]),
        "existing_rows_count": sum(f["record_count"] for f in by[EXISTING]),
        "deleted_rows_count": sum(f["record_count"] for f in by[DELETED]),
    }


def commit_files(
    table_path: str,
    new_rel_files: "list[str]",
    partition_field: str,
    spark_schema,
    operation: str = "append",
    replaced_partitions: "set[str] | None" = None,
) -> int:
    """Commit already-written parquet files as one Iceberg snapshot;
    returns the new snapshot id. `operation` is 'append' (prior
    manifests carried forward untouched) or 'overwrite' (entries in
    `replaced_partitions` marked DELETED — the partition-replacement
    commit, Hudi-upsert shaped)."""
    from dynamodb_to_datalake_project_spark.llm.avrofile import (
        encode_avro,
        parse_avro,
    )

    mlist_schema, manifest_schema = _manifest_schemas(partition_field)

    v = current_version(table_path)
    if v < 0:
        ice_schema = iceberg_schema(spark_schema)
        prior_schemas: list = []
        table_uuid = uuid.uuid4().hex
        prior_snapshots: list = []
        prior_ml_rows: list = []
        snapshot_id = 1
        sequence_number = 1
        parent = None
        os.makedirs(os.path.join(table_path, META_DIR), exist_ok=True)
    else:
        meta = read_metadata(table_path)
        prior_schemas = meta.get("schemas", [])
        prior_cur_schema = next(
            sc
            for sc in prior_schemas
            if sc["schema-id"] == meta["current-schema-id"]
        )
        # evolution with STABLE field ids: existing columns keep
        # their ids so prior manifests' bounds still resolve
        ice_schema, _changed = evolve_schema(prior_cur_schema, spark_schema)
        table_uuid = meta["table-uuid"]
        prior_snapshots = meta.get("snapshots", [])
        cur = next(
            s
            for s in prior_snapshots
            if s["snapshot-id"] == meta["current-snapshot-id"]
        )
        with open(os.path.join(table_path, cur["manifest-list"]), "rb") as f:
            prior_ml_rows = parse_avro(f.read())["records"]
        snapshot_id = meta["current-snapshot-id"] + 1
        sequence_number = meta.get("last-sequence-number", 0) + 1
        parent = meta["current-snapshot-id"]

    field_ids = {f["name"]: f["id"] for f in ice_schema["fields"]}
    part_source_id = field_ids[partition_field]

    # new manifest: the files this commit adds
    new_entries = [
        {
            "status": ADDED,
            "snapshot_id": snapshot_id,
            "data_file": _data_file_record(
                table_path,
                rel,
                partition_field,
                _partition_value_of(rel, partition_field),
                field_ids,
            ),
        }
        for rel in sorted(new_rel_files)
    ]
    ml_rows: "list[dict]" = []
    if new_entries:
        rel, length = _write_manifest(table_path, new_entries, manifest_schema)
        ml_rows.append(
            _manifest_list_row(
                rel, length, new_entries, snapshot_id, sequence_number
            )
        )

    replaced = replaced_partitions or set()
    added_rows = sum(
        e["data_file"]["record_count"] for e in new_entries
    )
    deleted_rows = deleted_files = 0
    for row in prior_ml_rows:
        with open(os.path.join(table_path, row["manifest_path"]), "rb") as f:
            entries = parse_avro(f.read())["records"]
        live = [e for e in entries if e["status"] != DELETED]
        if row.get("content", 0) != 0:
            # DELETE manifest (content=1): its entries reference data
            # files. A partition overwrite removes the referenced
            # files, so the partition's delete entries must go with
            # them (a carried dangling reference would fail the MOR
            # read); untouched delete manifests carry as-is.
            if operation != "overwrite":
                ml_rows.append(row)
                continue
            kept = [
                e for e in live
                if e["data_file"]["partition"].get(partition_field)
                not in replaced
            ]
            if len(kept) == len(live):
                ml_rows.append(row)
                continue
            if not kept:
                continue
            kept = [
                {
                    "status": EXISTING,
                    "snapshot_id": e.get("snapshot_id"),
                    "data_file": e["data_file"],
                }
                for e in kept
            ]
            rel, length = _write_manifest(table_path, kept, manifest_schema)
            ml_rows.append(
                _manifest_list_row(
                    rel, length, kept, snapshot_id,
                    row["sequence_number"], content=1,
                )
            )
            continue
        touched = operation == "overwrite" and any(
            e["data_file"]["partition"].get(partition_field) in replaced
            for e in live
        )
        had_stale_deletes = any(e["status"] == DELETED for e in entries)
        if not touched and not had_stale_deletes:
            ml_rows.append(row)  # untouched: reuse as-is, O(1)
            continue
        # rewrite: replaced entries -> DELETED (visible this snapshot
        # only), survivors -> EXISTING, stale deletes dropped
        rewritten = []
        for e in live:
            pv = e["data_file"]["partition"].get(partition_field)
            if operation == "overwrite" and pv in replaced:
                rewritten.append(
                    {
                        "status": DELETED,
                        "snapshot_id": snapshot_id,
                        "data_file": e["data_file"],
                    }
                )
                deleted_files += 1
                deleted_rows += e["data_file"]["record_count"]
            else:
                rewritten.append(
                    {
                        "status": EXISTING,
                        "snapshot_id": e.get("snapshot_id"),
                        "data_file": e["data_file"],
                    }
                )
        if not rewritten:
            continue  # manifest fully emptied: drop it
        rel, length = _write_manifest(table_path, rewritten, manifest_schema)
        ml_rows.append(
            _manifest_list_row(
                rel, length, rewritten, snapshot_id, row["sequence_number"]
            )
        )

    ml_rel = f"{META_DIR}/snap-{snapshot_id}.avro"
    ml_blob = encode_avro(ml_rows, mlist_schema)
    with open(os.path.join(table_path, ml_rel), "wb") as f:
        f.write(ml_blob)

    # live census for the snapshot summary (cross-checked by the
    # resolver): fold the DATA manifest-list rows, no data reads —
    # delete manifests (content=1) are not data
    total_files = sum(
        r["added_files_count"] + r["existing_files_count"]
        for r in ml_rows
        if r.get("content", 0) == 0
    )
    total_rows = sum(
        r["added_rows_count"] + r["existing_rows_count"]
        for r in ml_rows
        if r.get("content", 0) == 0
    )
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": sequence_number,
        "timestamp-ms": snapshot_id,  # deterministic chain order
        "manifest-list": ml_rel,
        "schema-id": ice_schema["schema-id"],
        "summary": {
            "operation": operation,
            "added-data-files": str(len(new_entries)),
            "added-records": str(added_rows),
            "deleted-data-files": str(deleted_files),
            "deleted-records": str(deleted_rows),
            "total-records": str(total_rows),
            "total-data-files": str(total_files),
        },
    }
    if parent is not None:
        snapshot["parent-snapshot-id"] = parent
    meta_out = {
        "format-version": 2,
        "table-uuid": table_uuid,
        "location": table_path,
        "last-sequence-number": sequence_number,
        "last-updated-ms": snapshot_id,
        "last-column-id": max(field_ids.values()),
        "current-schema-id": ice_schema["schema-id"],
        "schemas": (
            [sc for sc in prior_schemas
             if sc["schema-id"] != ice_schema["schema-id"]]
            + [ice_schema]
        ),
        "default-spec-id": 0,
        "partition-specs": [
            {
                "spec-id": 0,
                "fields": [
                    {
                        "name": partition_field,
                        "transform": "identity",
                        "source-id": part_source_id,
                        "field-id": 1000,
                    }
                ],
            }
        ],
        "last-partition-id": 1000,
        "default-sort-order-id": 0,
        "sort-orders": [{"order-id": 0, "fields": []}],
        "properties": {"write.format.default": "parquet"},
        "current-snapshot-id": snapshot_id,
        "snapshots": prior_snapshots + [snapshot],
        "snapshot-log": [],
        "metadata-log": [],
    }
    _write_metadata(table_path, max(v, 0) + 1, meta_out)
    return snapshot_id


def _partition_value_of(rel_path: str, partition_field: str) -> str:
    for seg in rel_path.split("/"):
        if seg.startswith(partition_field + "="):
            return seg[len(partition_field) + 1 :]
    raise ValueError(
        f"iceberg: {rel_path!r} carries no {partition_field}= segment"
    )


def _stage_data(spark_df, table_path: str, partition_col: str) -> "list[str]":
    """Spark writes the batch's parquet (distributed) into a staging
    dir; files then MOVE (rename, no copy) under data/ with their
    unique part-names. Returns the new table-relative paths."""
    staging = os.path.join(table_path, "_ice_staging", uuid.uuid4().hex)
    (
        spark_df.write.mode("overwrite")
        .partitionBy(partition_col)
        .parquet(staging)
    )
    out = []
    for root, _dirs, files in os.walk(staging):
        for f in files:
            if not f.endswith(".parquet") or f.startswith(("_", ".")):
                continue
            rel_dir = os.path.relpath(root, staging).replace(os.sep, "/")
            dst_dir = os.path.join(table_path, DATA_DIR, rel_dir)
            os.makedirs(dst_dir, exist_ok=True)
            os.rename(os.path.join(root, f), os.path.join(dst_dir, f))
            out.append(f"{DATA_DIR}/{rel_dir}/{f}")
    import shutil as _shutil

    _shutil.rmtree(os.path.dirname(staging), ignore_errors=True)
    return out


def append(spark_df, table_path: str, partition_col: str) -> int:
    """Append commit: write the batch, add its files, touch nothing
    else."""
    rels = _stage_data(spark_df, table_path, partition_col)
    return commit_files(
        table_path, rels, partition_col, spark_df.schema, operation="append"
    )


def overwrite_partitions(spark_df, table_path: str, partition_col: str) -> int:
    """Partition-replacement commit: every partition present in the
    batch is replaced wholesale by the batch's files (dynamic
    partition overwrite — the idempotent backfill/upsert shape).

    The replaced-partition set is read off the STAGED WRITE's
    directory names (a partition is present in the batch iff the
    partitioned write produced its directory) — the same
    `partition_col=value` convention `commit_files` itself derives
    partition values from — instead of a separate
    `select(partition_col).distinct().collect()` pass over the batch,
    which cost one full extra Spark job per commit."""
    rels = _stage_data(spark_df, table_path, partition_col)
    replaced = {_partition_value_of(rel, partition_col) for rel in rels}
    return commit_files(
        table_path,
        rels,
        partition_col,
        spark_df.schema,
        operation="overwrite",
        replaced_partitions=replaced,
    )


# ---------------------------------------------------------------------------
# cold reads
# ---------------------------------------------------------------------------


def live_files(
    table_path: str,
    version: "int | None" = None,
    content: int = 0,
) -> "list[dict]":
    """The live file records of a snapshot for one manifest content
    kind (0 = data, 1 = position deletes), straight from the
    metadata chain (no data reads): manifest list -> manifests ->
    ADDED + EXISTING entries."""
    return [df for df, _seq in live_files_with_seq(table_path, version, content)]


def live_files_with_seq(
    table_path: str,
    version: "int | None" = None,
    content: int = 0,
) -> "list[tuple[dict, int]]":
    from dynamodb_to_datalake_project_spark.llm.avrofile import parse_avro

    meta = read_metadata(table_path, version)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    out = []
    with open(os.path.join(table_path, cur["manifest-list"]), "rb") as f:
        rows = parse_avro(f.read())["records"]
    for row in rows:
        if row.get("content", 0) != content:
            continue
        with open(os.path.join(table_path, row["manifest_path"]), "rb") as f:
            for e in parse_avro(f.read())["records"]:
                if e["status"] != DELETED:
                    out.append((e["data_file"], row["sequence_number"]))
    return out


def partition_census(
    table_path: str, partition_field: str
) -> "dict[str, int]":
    """records per partition, metadata-only (manifest record_count
    sums — the numbers a catalog SHOW PARTITIONS serves)."""
    census: "dict[str, int]" = {}
    for df in live_files(table_path):
        pv = df["partition"].get(partition_field)
        census[pv] = census.get(pv, 0) + df["record_count"]
    return census


_ICEBERG_TO_SPARK = {
    "boolean": "boolean",
    "int": "int",
    "long": "bigint",
    "float": "float",
    "double": "double",
    "string": "string",
    "date": "date",
    "timestamptz": "timestamp",
    "timestamp": "timestamp_ntz",
    "binary": "binary",
}


def spark_schema_of(table_path: str, version: "int | None" = None):
    """The snapshot's CURRENT Iceberg schema as a Spark StructType —
    what a post-evolution read must use (a footer-inferred read from
    a pre-evolution file would drop the later columns)."""
    from pyspark.sql import types as T

    meta = read_metadata(table_path, version)
    cur = next(
        sc
        for sc in meta["schemas"]
        if sc["schema-id"] == meta["current-schema-id"]
    )
    fields = []
    for f in cur["fields"]:
        t = f["type"]
        ddl = t if t.startswith("decimal") else _ICEBERG_TO_SPARK.get(t)
        if ddl is None:
            raise NotImplementedError(f"iceberg: spark type for {t!r}")
        fields.append(
            T.StructField(f["name"], T._parse_datatype_string(ddl), True)
        )
    return T.StructType(fields)


def read_table_df(spark, table_path: str):
    """Scan exactly the live snapshot's files with the snapshot's
    schema (the Iceberg read path: the log defines the table AND its
    schema; the directory is storage). Old files NULL-backfill
    columns a later evolution added."""
    files = [
        os.path.join(table_path, f["file_path"])
        for f in live_files(table_path)
    ]
    if not files:
        raise ValueError(f"iceberg: {table_path} snapshot has no files")
    return (
        spark.read.schema(spark_schema_of(table_path))
        .option("basePath", os.path.join(table_path, DATA_DIR))
        .parquet(*files)
    )


# ---------------------------------------------------------------------------
# row-level deletes (v2 position deletes) — the write dual of
# llm.tablemeta.read_iceberg_with_deletes
# ---------------------------------------------------------------------------


def delete_where(
    spark, table_path: str, column: str, values, partition_field: str
) -> "int | None":
    """DELETE FROM t WHERE column IN (values), written as v2
    POSITION DELETES — no data file is rewritten (the merge-on-read
    contract): each affected data file's matching row positions are
    found executor-side (one pyarrow scan per file, physical order),
    one sorted (file_path, pos) delete parquet is written per
    affected partition via the in-repo writer, and the commit adds a
    content=1 delete manifest whose sequence number makes the
    deletes apply to every CURRENT data file (seq <= delete seq)
    while future appends (higher seq) are untouched — exactly the
    spec rule `read_iceberg_with_deletes` enforces.

    `values` is a bounded key set (it travels in the task closure —
    the same envelope every broadcast-hash-join build side has).
    Returns the new snapshot id, or None when nothing matched."""
    from pyspark.sql import types as _T

    from dynamodb_to_datalake_project_spark.llm.parquetwrite import (
        write_parquet,
    )
    from dynamodb_to_datalake_project_spark.rowmap import map_rows

    live = live_files(table_path)
    file_meta = [
        (f["file_path"], f["partition"].get(partition_field))
        for f in live
    ]
    vals = set(values)
    schema = _T.StructType(
        [
            _T.StructField("file_path", _T.StringType()),
            _T.StructField("pos", _T.LongType()),
            _T.StructField("pv", _T.StringType()),
        ]
    )

    def _find(rel, pv):
        import numpy as _np
        import pyarrow.parquet as pq

        col = pq.read_table(os.path.join(table_path, rel), columns=[column]).column(0)
        try:
            # vectorized membership over the Arrow column —
            # the per-row Python `in` loop was the hot path
            arr = col.to_numpy(zero_copy_only=False)
            hits = _np.nonzero(_np.isin(arr, _np.array(sorted(vals))))[0].tolist()
        except (TypeError, ValueError):
            # non-numeric columns fall back to the exact loop
            hits = [i for i, v in enumerate(col.to_pylist()) if v in vals]
        for pos in hits:
            yield rel, pos, pv

    files_df = spark.createDataFrame(file_meta, "file_path string, pv string")
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    files_df = files_df.repartition(min(par, max(1, len(file_meta))))
    pairs = map_rows(files_df, _find, schema).collect()
    if not pairs:
        return None

    # one sorted delete file per affected partition (spec sort rule:
    # (file_path, pos) ascending), written by the in-repo writer
    by_pv: "dict[str, list]" = {}
    for r in pairs:
        by_pv.setdefault(r["pv"], []).append((r["file_path"], r["pos"]))
    delete_entries = []
    mlist_schema, manifest_schema = _manifest_schemas(partition_field)
    for pv, pp in sorted(by_pv.items()):
        pp.sort()
        blob = write_parquet(
            {
                "file_path": (
                    "BYTE_ARRAY",
                    [p.encode() for p, _ in pp],
                ),
                "pos": ("INT64", [int(x) for _, x in pp]),
            }
        )
        rel = f"{DATA_DIR}/{partition_field}={pv}/delete-{uuid.uuid4().hex}.parquet"
        full = os.path.join(table_path, rel)
        os.makedirs(os.path.dirname(full), exist_ok=True)
        with open(full, "wb") as f:
            f.write(blob)
        delete_entries.append(
            {
                "status": ADDED,
                "snapshot_id": None,
                "data_file": {
                    "content": 1,
                    "file_path": rel,
                    "file_format": "PARQUET",
                    "partition": {partition_field: pv},
                    "record_count": len(pp),
                    "file_size_in_bytes": len(blob),
                    "column_bounds": [],
                },
            }
        )

    # commit: carry every prior manifest row untouched + one new
    # content=1 manifest at the NEW sequence number
    from dynamodb_to_datalake_project_spark.llm.avrofile import (
        encode_avro,
        parse_avro,
    )

    meta = read_metadata(table_path)
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(os.path.join(table_path, cur["manifest-list"]), "rb") as f:
        ml_rows = list(parse_avro(f.read())["records"])
    snapshot_id = meta["current-snapshot-id"] + 1
    sequence_number = meta.get("last-sequence-number", 0) + 1
    rel, length = _write_manifest(table_path, delete_entries, manifest_schema)
    ml_rows.append(
        _manifest_list_row(
            rel, length, delete_entries, snapshot_id,
            sequence_number, content=1,
        )
    )
    ml_rel = f"{META_DIR}/snap-{snapshot_id}.avro"
    with open(os.path.join(table_path, ml_rel), "wb") as f:
        f.write(encode_avro(ml_rows, mlist_schema))

    n_deleted = len(pairs)
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": sequence_number,
        "timestamp-ms": snapshot_id,
        "manifest-list": ml_rel,
        "schema-id": meta["current-schema-id"],
        "parent-snapshot-id": meta["current-snapshot-id"],
        "summary": {
            "operation": "delete",
            "added-delete-files": str(len(delete_entries)),
            "added-position-deletes": str(n_deleted),
            "total-records": cur["summary"]["total-records"],
            "total-data-files": cur["summary"]["total-data-files"],
        },
    }
    meta_out = dict(meta)
    meta_out["last-sequence-number"] = sequence_number
    meta_out["last-updated-ms"] = snapshot_id
    meta_out["current-snapshot-id"] = snapshot_id
    meta_out["snapshots"] = meta["snapshots"] + [snapshot]
    _write_metadata(table_path, current_version(table_path) + 1, meta_out)
    return snapshot_id


def delete_equal(
    spark,
    table_path: str,
    column: str,
    values,
    partition_field: str,
) -> int:
    """DELETE FROM t WHERE column IN (values), written as a v2
    EQUALITY delete: ONE tiny parquet file holding just the doomed
    values (no data scan at all — the cheapest delete the format
    offers), committed as a content=2 manifest. Spec semantics:
    an equality delete applies STRICTLY to data files with a lower
    sequence number, so rows for a deleted value re-inserted by a
    LATER append survive — the natural tombstone for key-based CDC.
    Returns the new snapshot id."""
    from dynamodb_to_datalake_project_spark.llm.avrofile import (
        encode_avro,
        parse_avro,
    )
    from dynamodb_to_datalake_project_spark.llm.parquetwrite import (
        write_parquet,
    )

    st = spark_schema_of(table_path)
    dt = st[column].dataType.simpleString()
    vals = sorted(values)
    if dt in ("int", "bigint", "smallint", "tinyint"):
        cols = {column: ("INT64" if dt == "bigint" else "INT32", vals)}
    elif dt == "string":
        cols = {column: ("BYTE_ARRAY", [v.encode() for v in vals])}
    elif dt == "double":
        cols = {column: ("DOUBLE", [float(v) for v in vals])}
    else:
        raise NotImplementedError(
            f"iceberg: equality delete on {dt} column"
        )
    blob = write_parquet(cols)
    rel = f"{DATA_DIR}/eq-delete-{uuid.uuid4().hex}.parquet"
    with open(os.path.join(table_path, rel), "wb") as f:
        f.write(blob)

    meta = read_metadata(table_path)
    spec_fields = [
        f["name"]
        for spec in meta["partition-specs"]
        if spec["spec-id"] == meta["default-spec-id"]
        for f in spec["fields"]
    ]
    mlist_schema, manifest_schema = _manifest_schemas(spec_fields[0])
    entries = [
        {
            "status": ADDED,
            "snapshot_id": None,
            "data_file": {
                "content": 2,
                "file_path": rel,
                "file_format": "PARQUET",
                # global (partition-spanning) delete: sentinel empty
                # partition value — the delete readers never consult
                # a delete entry's partition
                "partition": {partition_field: ""},
                "record_count": len(vals),
                "file_size_in_bytes": len(blob),
                "column_bounds": [],
            },
        }
    ]
    cur = next(
        s
        for s in meta["snapshots"]
        if s["snapshot-id"] == meta["current-snapshot-id"]
    )
    with open(os.path.join(table_path, cur["manifest-list"]), "rb") as f:
        ml_rows = list(parse_avro(f.read())["records"])
    snapshot_id = meta["current-snapshot-id"] + 1
    sequence_number = meta.get("last-sequence-number", 0) + 1
    mrel, mlength = _write_manifest(table_path, entries, manifest_schema)
    ml_rows.append(
        _manifest_list_row(
            mrel, mlength, entries, snapshot_id, sequence_number, content=2
        )
    )
    ml_rel = f"{META_DIR}/snap-{snapshot_id}.avro"
    with open(os.path.join(table_path, ml_rel), "wb") as f:
        f.write(encode_avro(ml_rows, mlist_schema))
    snapshot = {
        "snapshot-id": snapshot_id,
        "sequence-number": sequence_number,
        "timestamp-ms": snapshot_id,
        "manifest-list": ml_rel,
        "schema-id": meta["current-schema-id"],
        "parent-snapshot-id": meta["current-snapshot-id"],
        "summary": {
            "operation": "delete",
            "added-delete-files": "1",
            "added-equality-deletes": str(len(vals)),
            "total-records": cur["summary"]["total-records"],
            "total-data-files": cur["summary"]["total-data-files"],
        },
    }
    meta_out = dict(meta)
    meta_out["last-sequence-number"] = sequence_number
    meta_out["last-updated-ms"] = snapshot_id
    meta_out["current-snapshot-id"] = snapshot_id
    meta_out["snapshots"] = meta["snapshots"] + [snapshot]
    _write_metadata(table_path, current_version(table_path) + 1, meta_out)
    return snapshot_id


def read_table_df_mor(spark, table_path: str):
    """Merge-on-read scan: live data files minus position deletes.
    Delete pairs are driver-collected and shipped in the task closure
    (bounded by deleted-row count — the broadcast-build-side
    envelope; a delete-heavy table compacts via overwrite); each data
    file is read executor-side in physical order so positions line
    up, with the partition column re-attached from the manifest."""

    from dynamodb_to_datalake_project_spark.rowmap import map_rows

    st = spark_schema_of(table_path)
    meta = read_metadata(table_path)
    spec_fields = [
        f["name"]
        for spec in meta["partition-specs"]
        if spec["spec-id"] == meta["default-spec-id"]
        for f in spec["fields"]
    ]
    partition_field = spec_fields[0]

    import pyarrow.parquet as _pq

    drops: "dict[str, set]" = {}
    for df, dseq in live_files_with_seq(table_path, content=1):
        t = _pq.read_table(os.path.join(table_path, df["file_path"]))
        paths = [
            p.decode() if isinstance(p, bytes) else p
            for p in t.column("file_path").to_pylist()
        ]
        for p, pos in zip(paths, t.column("pos").to_pylist()):
            drops.setdefault(p, set()).add(int(pos))

    # equality deletes: (column, value-set, sequence) — apply
    # STRICTLY to older data files (the spec's < rule)
    eq_sets: "list[tuple[str, set, int]]" = []
    for df, dseq in live_files_with_seq(table_path, content=2):
        t = _pq.read_table(os.path.join(table_path, df["file_path"]))
        col = t.column_names[0]
        vals = {
            v.decode() if isinstance(v, bytes) else v
            for v in t.column(col).to_pylist()
        }
        eq_sets.append((col, vals, int(dseq)))

    data = live_files_with_seq(table_path, content=0)
    # position-delete sequence rule: applies to data seq <= delete
    # seq — exact for tables this module writes (delete commits use
    # a fresh sequence); equality deletes carry their seq per file.
    rows_meta = [
        (f["file_path"], f["partition"].get(partition_field), int(seq))
        for f, seq in data
    ]

    def _read(rel, pv, dseq):
        import pyarrow.parquet as pq

        t = pq.read_table(os.path.join(table_path, rel))
        gone = drops.get(rel, set())

        def values(name):
            if name in t.column_names and name in st.fieldNames():
                return t.column(name).to_pylist()
            return [pv if name == partition_field else None] * t.num_rows

        live_eq = [(values(c), vs) for c, vs, es in eq_sets if dseq < es]
        for i, r in enumerate(zip(*(values(f.name) for f in st.fields))):
            if i not in gone and not any(col[i] in vs for col, vs in live_eq):
                yield r

    files_df = spark.createDataFrame(
        rows_meta, "file_path string, pv string, seq long"
    )
    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    return map_rows(files_df.repartition(min(par, max(1, len(rows_meta)))), _read, st)


# ---------------------------------------------------------------------------
# catalog query
# ---------------------------------------------------------------------------


def _register() -> None:
    from pyspark.sql import functions as F

    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "iceberg_write_replay",
        oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS event_date,
               CAST(count(*) AS BIGINT) AS n_rows
        FROM events
        GROUP BY 1
        ORDER BY 1
        """,
    )
    def q_iceberg_write_replay(spark, sf_dir):
        """Iceberg as a WRITTEN table format (the Delta-writer
        playbook replayed, round-10 verdict item 1): three commits
        build a date-partitioned v2 table — an append, then two
        partition-replacement overwrites whose day ranges overlap the
        prior commits — and the returned census is read COLD from the
        metadata chain alone (`resolve_iceberg_snapshot`, the in-repo
        reader that cross-checks every redundant count the format
        carries: manifest lengths, per-manifest file/row counts by
        status, snapshot summary totals). Internal invariants compare
        the manifest census against an independent Spark read of the
        live files, verify time travel to snapshot 1, and require the
        manifests' column bounds to actually prune a narrow
        `iceberg_scan_plan` probe. The DuckDB oracle recomputes the
        census from the source table.

        Reference parity: glue_jobs/initial_load.py:163-186 (the
        catalog-synced Hudi table create this generalizes) +
        incremental.py:172-194 (upsert commits extending the
        timeline)."""
        import shutil as _shutil
        import tempfile

        from dynamodb_to_datalake_project_spark.llm.tablemeta import (
            iceberg_scan_plan,
            resolve_iceberg_snapshot,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        )
        root = tempfile.mkdtemp(prefix="iceberg_write_replay_")
        table = os.path.join(root, "events_ice")
        try:
            b1 = ev.filter(F.col("event_date") <= "2024-01-20")
            b2 = ev.filter(
                F.col("event_date").between("2024-01-15", "2024-01-25")
            )
            b3 = ev.filter(F.col("event_date") >= "2024-01-22")
            append(b1, table, "event_date")
            overwrite_partitions(b2, table, "event_date")
            overwrite_partitions(b3, table, "event_date")

            files = storage_files(table)
            res = resolve_iceberg_snapshot(metadata_text(table), files)
            actual = read_table_df(spark, table).count()
            if res["live_records"] != actual:
                raise AssertionError(
                    f"manifest census {res['live_records']} != live "
                    f"file read {actual}"
                )
            # time travel: the first metadata version is exactly b1
            res1 = resolve_iceberg_snapshot(metadata_text(table, 1), files)
            if res1["snapshot_id"] != 1:
                raise AssertionError(f"v1 resolves to {res1}")
            # bounds must prune: a range below every event_id skips
            # every file (event_id is field 1, values start at 1)
            plan = iceberg_scan_plan(
                metadata_text(table), files, 1, -(10**9), -(10**9) + 1
            )
            if plan["skipped"] != plan["total"] or plan["total"] == 0:
                raise AssertionError(f"bounds did not prune: {plan}")
            census = partition_census(table, "event_date")
            rows = sorted(census.items())
        finally:
            _shutil.rmtree(root, ignore_errors=True)
        return spark.createDataFrame(
            rows, "event_date string, n_rows long"
        )


def _register_delete() -> None:
    from pyspark.sql import functions as F

    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "iceberg_delete_write",
        oracle="""
        SELECT strftime(ts, '%Y-%m-%d') AS event_date,
               CAST(sum(CASE WHEN user_id % 7 <> 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_live,
               CAST(sum(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END)
                    AS BIGINT) AS n_deleted
        FROM events
        GROUP BY 1
        ORDER BY 1
        """,
    )
    def q_iceberg_delete_write(spark, sf_dir):
        """Row-level DELETE written as v2 position deletes (the write
        dual of the round-9 delete READ path): an events snapshot is
        appended, every row of users divisible by 7 is deleted via
        `delete_where` (no data file rewritten — content=1 manifests
        + sorted (file_path,pos) parquet delete files from the
        in-repo writer), and the per-day live/deleted census comes
        from the MERGE-ON-READ scan. In-op invariants: the
        independent `read_iceberg_with_deletes` walk (which enforces
        the spec's sort + sequence + dangling-reference rules) agrees
        with the Spark-side MOR scan row-for-row, and the PHYSICAL
        census (plain resolver) still counts every original row —
        deletes are metadata, not rewrites."""
        import shutil as _shutil
        import tempfile

        from dynamodb_to_datalake_project_spark.llm.tablemeta import (
            read_iceberg_with_deletes,
            resolve_iceberg_snapshot,
        )

        ev = load_table(spark, sf_dir, "events").select(
            "event_id",
            "user_id",
            "ts",
            "event_type",
            "value",
            F.date_format("ts", "yyyy-MM-dd").alias("event_date"),
        )
        root = tempfile.mkdtemp(prefix="iceberg_delete_write_")
        table = os.path.join(root, "events_ice")
        try:
            append(ev, table, "event_date")
            # one job: total row count + the doomed key set (bounded:
            # distinct user ids divisible by 7), instead of a distinct
            # collect AND a separate count over the same scan
            agg = ev.agg(
                F.count(F.lit(1)).alias("n"),
                F.collect_set(
                    F.when(F.col("user_id") % 7 == 0, F.col("user_id"))
                ).alias("doomed"),
            ).collect()[0]
            doomed = set(agg["doomed"])
            n_total = agg["n"]
            if doomed:
                delete_where(spark, table, "user_id", doomed, "event_date")
            mor = read_table_df_mor(spark, table)
            rows = [
                (r["event_date"], r["n_live"])
                for r in mor.groupBy("event_date")
                .agg(F.count(F.lit(1)).alias("n_live"))
                .collect()
            ]
            live_total = sum(n for _d, n in rows)

            res = resolve_iceberg_snapshot(
                metadata_text(table), storage_files(table)
            )
            if res["live_records"] != n_total:
                raise AssertionError(
                    "physical census changed: deletes must be metadata"
                )
            files = storage_files(table)
            for f in live_files(table, content=0) + live_files(
                table, content=1
            ):
                with open(os.path.join(table, f["file_path"]), "rb") as fh:
                    files[f["file_path"]] = fh.read()
            indep = read_iceberg_with_deletes(
                metadata_text(table), files, "user_id"
            )
            if sum(len(v) for v in indep.values()) != live_total:
                raise AssertionError(
                    "independent MOR walk disagrees with the Spark scan"
                )
            # per-day deleted counts from the physical-vs-live gap
            phys = {
                pp: n for pp, n in partition_census(
                    table, "event_date"
                ).items()
            }
            out = sorted(
                (d, n, phys[d] - n) for d, n in rows
            )
        finally:
            _shutil.rmtree(root, ignore_errors=True)
        return spark.createDataFrame(
            out, "event_date string, n_live long, n_deleted long"
        )


_register()
_register_delete()
