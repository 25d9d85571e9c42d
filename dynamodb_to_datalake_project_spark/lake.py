"""Lake-table IO: scans, sinks, catalog registration.

Covers SURVEY.md §2.1 S1-S12 Spark-first:

- S1/S3/S4  JSON scans (gzip transparent, explicit schema, multi-path,
  recursive) — `read_json_lines`.
- S5 + test fixtures — `load_table` over the driver parquet fixtures.
- S7/S8     partitioned lake writes — `write_table` (overwrite) here;
  keyed upsert lives in `merge.py`.
- S9/S10    partitioned / gzip JSON sinks — `write_json_lines`.
- S11       CSV scan/sink — `read_csv` / `write_csv`.
- S12       catalog registration — `register_table`.

Scale notes: all readers take explicit schemas (no inference job over
100 TB), writers always `partitionBy` the lake layout so partition
pruning works for downstream readers, and `repartition` before write
controls the small-file problem (reference: 1-minute CDC drops
compacted by Hudi COW rewrite — SURVEY §4 "small-file problem").
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark.rowmap import map_rows
from dynamodb_to_datalake_project_spark.session import tune


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one fixture table as parquet.

    `events.ts` is written as parquet TIMESTAMP(NANOS), which Spark only
    reads as a long (nanosAsLong); normalize to a µs TimestampType column
    the same way DuckDB does (truncation), so both engines see identical
    values. All other tables pass through untouched — column pruning and
    predicate pushdown reach the parquet scan.
    """
    tune(spark)
    df = spark.read.parquet(os.path.join(sf_dir, f"{name}.parquet"))
    if name == "events" and isinstance(df.schema["ts"].dataType, T.LongType):
        df = df.withColumn("ts", F.expr("timestamp_micros(CAST(ts DIV 1000 AS LONG))"))
    # A session built before tune() may still infer TIMESTAMP_NTZ for
    # tz-less parquet timestamps; normalize to TimestampType (UTC wall
    # clock — identical values under the UTC session tz).
    ntz = [f.name for f in df.schema.fields if isinstance(f.dataType, T.TimestampNTZType)]
    for c in ntz:
        df = df.withColumn(c, F.col(c).cast("timestamp"))
    return df


# ---------------------------------------------------------------------------
# S5: pluggable full-table source seam
# ---------------------------------------------------------------------------

SOURCE_FORMATS: dict[str, object] = {}


def register_source_format(name: str, reader) -> None:
    """Register a source format: `reader(spark, spec) -> DataFrame`.

    This is the connector plug point for S5 — the reference's oracle
    side scans the live DynamoDB table (dynamodb_to_datalake/
    compare.py:17-26); a live-connector deployment registers e.g. a
    spark-dynamodb or DynamoDB-export-triggering reader here without
    touching any pipeline code."""
    SOURCE_FORMATS[name] = reader


def read_source(spark: SparkSession, spec: dict) -> DataFrame:
    """S5 full-table scan behind a format-dispatched seam.

    `spec` is `{"format": <name>, ...format-specific keys}`. Shipped
    formats (all exercisable in-sandbox):
    - `parquet`: `{"path"}` — lake/fixture parquet snapshot.
    - `ddb-export`: `{"path", "schema", "ts_format"?, "recursive"?}` —
      gzip typed-JSON DynamoDB table export, decoded through the
      Catalyst typed-JSON unwrap (`ddbjson.read_export`).
    - `jsonl`: `{"path", "schema"?, "recursive"?}` — plain JSON lines.
    - `dynamodb`: `{"table", "schema", "total_segments"?,
      "projection"?, "segment_limit"?}` — segment-parallel table scan
      with projection/limit pushdown against a DynamoDB-shaped client
      (`ddbmock.MockDynamoTable` in-sandbox; a live deployment swaps
      in an SDK-backed client with the same scan contract).
    A future live connector is one `register_source_format` call; every
    pipeline entry point that takes a source spec then works against
    the live table unchanged.
    """
    fmt = spec["format"]
    try:
        reader = SOURCE_FORMATS[fmt]
    except KeyError:
        raise ValueError(
            f"unknown source format {fmt!r}; registered: {sorted(SOURCE_FORMATS)}"
        ) from None
    return reader(spark, spec)


def _read_source_parquet(spark: SparkSession, spec: dict) -> DataFrame:
    tune(spark)
    return spark.read.parquet(spec["path"])


def _read_source_ddb_export(spark: SparkSession, spec: dict) -> DataFrame:
    from dynamodb_to_datalake_project_spark import ddbjson

    return ddbjson.read_export(
        spark,
        spec["path"],
        spec["schema"],
        ts_format=spec.get("ts_format"),
        recursive=bool(spec.get("recursive", False)),
    )


def _read_source_jsonl(spark: SparkSession, spec: dict) -> DataFrame:
    return read_json_lines(
        spark,
        spec["path"],
        schema=spec.get("schema"),
        recursive=bool(spec.get("recursive", False)),
    )


def _read_source_dynamodb(spark: SparkSession, spec: dict) -> DataFrame:
    from dynamodb_to_datalake_project_spark import ddbmock

    return ddbmock.read_source_dynamodb(spark, spec)


register_source_format("parquet", _read_source_parquet)
register_source_format("ddb-export", _read_source_ddb_export)
register_source_format("jsonl", _read_source_jsonl)
register_source_format("dynamodb", _read_source_dynamodb)


def read_json_lines(
    spark: SparkSession,
    paths: str | list[str],
    schema: T.StructType | str | None = None,
    recursive: bool = False,
) -> DataFrame:
    """JSON-lines scan (S1/S3/S4). gzip (`.json.gz`) is transparent.

    Explicit schema avoids a full inference pass — mandatory at scale;
    `recursive` subsumes the reference's prefix walk
    (glue_jobs/initial_load.py:95-106).
    """
    reader = spark.read
    if schema is not None:
        reader = reader.schema(schema)
    if recursive:
        reader = reader.option("recursiveFileLookup", "true")
    if isinstance(paths, str):
        return reader.json(paths)
    return reader.json(paths)


def write_json_lines(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    gzip: bool = False,
    mode: str = "overwrite",
) -> None:
    """Partitioned JSON-lines sink (S9) / gz JSON sink (S10).

    The reference names each CDC drop `uuid4().hex + '.json'`
    (lambda_functions/dynamodb_stream_consumer.py:74-90); Spark task
    files are already unique, so the naming trick disappears.
    """
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    if gzip:
        w = w.option("compression", "gzip")
    w.json(path)


def write_json_lines_zstd(df: DataFrame, path: str) -> int:
    """S10's modern sibling: a `.json.zst` JSON-lines sink. This
    container's Hadoop has no zstd codec (gzip/lz4/snappy only), so
    the engine brings its own RFC 8878 encoder (`llm.zstd`): each
    partition serializes JVM-side (`df.toJSON()` — identical framing
    to the gzip sink) and writes one part file compressed by
    `zstd_compress`, temp-file + atomic rename so task retries can't
    leave partial parts. Returns the row count written. On a real
    cluster the rename target is the job-commit protocol's problem;
    the per-partition encode is the portable piece."""
    import os as _os
    import uuid as _uuid

    from dynamodb_to_datalake_project_spark.llm.zstd import zstd_compress

    _os.makedirs(path, exist_ok=True)

    def write_part(idx, lines):
        payload = ("\n".join(lines) + "\n").encode("utf-8")
        if payload == b"\n":
            return iter([0])
        blob = zstd_compress(payload)
        tmp = _os.path.join(path, f".tmp-{_uuid.uuid4().hex}")
        with open(tmp, "wb") as f:
            f.write(blob)
        _os.replace(tmp, _os.path.join(path, f"part-{idx:05d}.json.zst"))
        return iter([payload.count(b"\n")])

    counts = df.toJSON().mapPartitionsWithIndex(write_part).collect()
    return int(sum(counts))


def _zstd_lines(blob: bytes):
    """The non-empty JSON lines of one `.json.zst` part."""
    from dynamodb_to_datalake_project_spark.llm.zstd import zstd_decompress

    for ln in zstd_decompress(blob).decode("utf-8").split("\n"):
        if ln:
            yield (ln,)


def read_json_lines_zstd(
    spark: SparkSession, path: str, schema: T.StructType | str
) -> DataFrame:
    """Scan `.json.zst` JSON-lines parts written by
    `write_json_lines_zstd` (or any zstd tool): binaryFile source ->
    one Arrow stage decompressing with the zero-dep RFC 8878 decoder
    -> `from_json` with the explicit schema (mandatory at scale, as
    everywhere in this module). Files parallelize by part; each part
    decodes independently, so the scan scales with partition count
    exactly like the gzip path."""
    from pyspark.sql import functions as F

    raw = (
        spark.read.format("binaryFile")
        .option("pathGlobFilter", "*.json.zst")
        .load(path)
        .select("content")
    )
    lines = map_rows(raw, _zstd_lines, "line string")
    if isinstance(schema, T.StructType):
        schema = schema.simpleString()
    return lines.select(
        F.from_json("line", schema).alias("j")
    ).select("j.*")


def read_json_lines_zstd_stream(
    spark: SparkSession,
    path: str,
    schema: T.StructType | str,
    max_files_per_trigger: int = 20,
):
    """Streaming twin of `read_json_lines_zstd` — S6 with `.json.zst`
    drops as the wire (the reference's stream consumer writes plain
    .json drops, lambda_functions/dynamodb_stream_consumer.py:74-90;
    a zstd-compressing producer is the same pipeline with a codec).
    binaryFile file source (explicit schema, bounded files/trigger =
    T6, glob-filtered) -> one Arrow decode stage -> from_json.
    Offsets/exactly-once ride the file source's checkpoint contract."""
    from pyspark.sql import functions as F

    bin_schema = T.StructType(
        [
            T.StructField("path", T.StringType()),
            T.StructField("modificationTime", T.TimestampType()),
            T.StructField("length", T.LongType()),
            T.StructField("content", T.BinaryType()),
        ]
    )
    raw = (
        spark.readStream.format("binaryFile")
        .schema(bin_schema)
        .option("maxFilesPerTrigger", max_files_per_trigger)
        .option("pathGlobFilter", "*.json.zst")
        .option("recursiveFileLookup", "true")
        .load(path)
        .select("content")
    )
    if isinstance(schema, T.StructType):
        schema = schema.simpleString()
    return (
        map_rows(raw, _zstd_lines, "line string")
        .select(F.from_json("line", schema).alias("j"))
        .select("j.*")
    )


def start_zstd_json_merge(
    spark: SparkSession,
    drop_dir: str,
    value_schema,
    table_path: str,
    keys: list[str],
    precombine: list[str],
    partition_cols: list[str],
    checkpoint_dir: str,
    event_type_col: str | None = None,
    drop_event_types: tuple[str, ...] = ("REMOVE",),
    max_files_per_trigger: int = 20,
    processing_time: str = "0 seconds",
    delete_mode: str = "drop",
):
    """The incremental pipeline with `.json.zst` drops as the wire:
    the same foreachBatch merge body as `cdc.start_cdc_merge` (T7/T8
    policies included), fed by `read_json_lines_zstd_stream`.
    Restart from `checkpoint_dir` is exactly-once: the file source
    replays only unprocessed drops, and the merge is idempotent on
    (keys, precombine) for anything a failure boundary re-delivers
    (T4/T9) — the Kafka-segment leg's contract, third wire format."""
    from dynamodb_to_datalake_project_spark.cdc import make_merge_batch_fn

    stream = read_json_lines_zstd_stream(
        spark, drop_dir, value_schema, max_files_per_trigger
    )
    process_batch = make_merge_batch_fn(
        table_path,
        keys,
        precombine,
        partition_cols,
        event_type_col=event_type_col,
        drop_event_types=drop_event_types,
        delete_mode=delete_mode,
    )
    return (
        stream.writeStream.foreachBatch(process_batch)
        .option("checkpointLocation", checkpoint_dir)
        .trigger(processingTime=processing_time)
        .start()
    )


def manifest_paths(spark: SparkSession, manifest_file: str, base_dir: str | None = None) -> list[str]:
    """S2: manifest-driven file enumeration. DynamoDB exports ship a
    `manifest-files.json` (one `{"dataFileS3Key": …, "itemCount": …,
    "md5Checksum": …}` per line — vendor/aws_dynamodb_export_to_s3.py:
    348-375); return the data-file paths it lists so a scan reads
    exactly the manifest's files (not whatever happens to be in the
    prefix). The manifest itself is tiny — a driver-side read is
    correct at any scale."""
    import os as _os

    rows = spark.read.json(manifest_file).select("dataFileS3Key").collect()
    base = base_dir or _os.path.dirname(manifest_file)
    return [_os.path.join(base, r.dataFileS3Key) for r in rows]


def read_csv(
    spark: SparkSession, path: str, schema: T.StructType | str | None = None
) -> DataFrame:
    reader = spark.read.option("header", "true")
    if schema is not None:
        reader = reader.schema(schema)
    else:
        reader = reader.option("inferSchema", "true")
    return reader.csv(path)


def write_csv(df: DataFrame, path: str, mode: str = "overwrite") -> None:
    df.write.mode(mode).option("header", "true").csv(path)


def write_table(
    df: DataFrame,
    path: str,
    partition_by: list[str] | None = None,
    mode: str = "overwrite",
    target_files_per_partition: int | None = None,
) -> None:
    """Initial-load lake write (S7): partitioned parquet, overwrite.

    Equivalent of the reference's Hudi bulk-insert
    (glue_jobs/initial_load.py:163-186) minus Hudi: plain partitioned
    parquet + (optionally) catalog registration via `register_table`.
    `target_files_per_partition` repartitions by the partition columns to
    bound output file count (small-file control).
    """
    if partition_by and target_files_per_partition:
        df = df.repartition(target_files_per_partition, *partition_by)
    w = df.write.mode(mode)
    if partition_by:
        w = w.partitionBy(*partition_by)
    w.parquet(path)


def compact_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    shuffle_parallelism: int | None = None,
    partition_filter=None,
) -> None:
    """Small-file compaction (the reference's Hudi-COW rewrite concern,
    SURVEY §4): rewrite each (selected) partition into ONE file. CDC
    micro-batches drop many tiny files per minute partition; scan cost
    at 100 TB is dominated by file count, so periodic compaction keeps
    the table scannable.

    Hash-repartitioning on the partition columns puts every row of a
    partition value into exactly one task (tasks may hold several
    values), so each partition value is written as a single file while
    the rewrite itself runs `shuffle_parallelism`-wide. Dynamic
    partition overwrite rewrites only partitions present in the
    (optionally filtered) input.
    """
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    par = shuffle_parallelism or int(spark.conf.get("spark.sql.shuffle.partitions"))
    df = spark.read.parquet(path)
    if partition_filter is not None:
        df = df.filter(partition_filter)
    (
        df.repartition(par, *partition_cols)
        .write.mode("overwrite")
        .partitionBy(*partition_cols)
        .parquet(path)
    )


def write_bucketed_table(
    df: DataFrame,
    name: str,
    bucket_cols: list[str],
    n_buckets: int,
    sort_cols: list[str] | None = None,
) -> None:
    """Bucketed catalog table: co-locates rows by hash(bucket_cols) at
    WRITE time so later equi-joins/aggregations on those columns need no
    shuffle — the scale lever for repeatedly-joined big tables (two
    tables bucketed the same way join with zero Exchange)."""
    w = df.write.mode("overwrite").bucketBy(n_buckets, *bucket_cols)
    if sort_cols:
        w = w.sortBy(*sort_cols)
    w.format("parquet").saveAsTable(name)


def register_table(
    spark: SparkSession, name: str, path: str, database: str = "default"
) -> None:
    """Catalog sync (S12): register a parquet path as a queryable table.

    Replaces the reference's Hudi hive-sync options
    (glue_jobs/initial_load.py:171-177) and Glue-catalog database create
    (glue_catalog.py:87-97) with the Spark catalog.
    """
    from pyspark.errors import AnalysisException

    spark.sql(f"CREATE DATABASE IF NOT EXISTS {database}")
    spark.sql(f"DROP TABLE IF EXISTS {database}.{name}")
    spark.sql(
        f"CREATE TABLE {database}.{name} USING PARQUET LOCATION '{path}'"
    )
    try:
        spark.sql(f"MSCK REPAIR TABLE {database}.{name}")
    except AnalysisException as e:
        # only the unpartitioned-layout case is benign; a real repair
        # failure on a partitioned table must surface (a silently
        # partitionless registration reads as 0 rows downstream)
        cond = getattr(e, "getCondition", lambda: "")() or str(e)
        if "NOT_A_PARTITIONED_TABLE" not in cond:
            raise


# ---------------------------------------------------------------------------
# Rate-limited compaction planning (reference: ≤100 files per run,
# vendor/aws_dynamodb_export_to_s3.py batch bound + SURVEY §4)
# ---------------------------------------------------------------------------


def plan_compaction(
    path: str,
    max_partitions_per_run: int = 100,
    min_files: int = 2,
) -> list[tuple[dict[str, str], int]]:
    """Pick the most-fragmented partitions to compact THIS run.

    Compaction over a 100 TB table cannot rewrite everything every
    cycle; the reference bounds each run's work (≤100 files/run). Same
    discipline here: list the table once (the same directory listing
    Spark's file index performs), rank partitions by file count, and
    return at most `max_partitions_per_run` partitions having at least
    `min_files` files — worst-fragmented first, ties broken by
    partition path for deterministic scheduling. Each entry is
    (partition-values dict, current file count). The listing is
    driver-side metadata (one entry per partition), never data.
    """
    by_part: dict[str, int] = {}
    for dirpath, _dirs, files in os.walk(path):
        n = sum(1 for f in files if f.endswith(".parquet"))
        if n:
            rel = os.path.relpath(dirpath, path)
            by_part[rel] = by_part.get(rel, 0) + n
    ranked = sorted(
        ((rel, n) for rel, n in by_part.items() if n >= min_files),
        key=lambda kv: (-kv[1], kv[0]),
    )[:max_partitions_per_run]
    plan = []
    for rel, n in ranked:
        values = dict(
            seg.split("=", 1) for seg in rel.split(os.sep) if "=" in seg
        )
        plan.append((values, n))
    return plan


def compact_worst_partitions(
    spark: SparkSession,
    path: str,
    partition_cols: list[str],
    max_partitions_per_run: int = 100,
    min_files: int = 2,
    shuffle_parallelism: int | None = None,
) -> int:
    """One rate-limited compaction cycle: plan, then rewrite ONLY the
    planned partitions (dynamic partition overwrite touches nothing
    else). Returns the number of partitions compacted; callers loop on
    a cadence, so a backlog drains across runs instead of one
    unbounded rewrite. Partition values are compared as strings
    (partition type inference is disabled by engine contract)."""
    plan = plan_compaction(path, max_partitions_per_run, min_files)
    if not plan:
        return 0
    pred = None
    for values, _n in plan:
        clause = None
        for c in partition_cols:
            if c in values:
                term = F.col(c) == F.lit(values[c])
                clause = term if clause is None else (clause & term)
        if clause is not None:
            pred = clause if pred is None else (pred | clause)
    compact_partitions(
        spark,
        path,
        partition_cols,
        shuffle_parallelism=shuffle_parallelism,
        partition_filter=pred,
    )
    return len(plan)


# ---------------------------------------------------------------------------
# Z-order clustered writes: multi-dimensional file pruning
# ---------------------------------------------------------------------------


def zorder_column(
    df: DataFrame, cols: list[str], bits: int = 8, rel_err: float = 0.01
) -> "F.Column":
    """Z-order (Morton) key over numeric columns as a pure Catalyst
    expression: quantile-bucket each column into 2^bits ranks (skew-
    proof, unlike min/max linear bucketing), then interleave the rank
    bits. Rows close in the z-curve are close in EVERY clustered
    dimension, so range-partitioning by this key gives parquet files
    whose min/max footer stats are narrow on ALL the columns at once —
    a filter on any clustered column prunes files, not just the first
    sort column. The only non-distributed step is one approxQuantile
    pass (driver receives 2^bits boundary scalars per column)."""
    buckets = []
    for c in cols:
        bounds = df.approxQuantile(
            c, [i / (2**bits) for i in range(1, 2**bits)], rel_err
        )
        # rank = number of boundaries <= value; strictly increasing
        # subset keeps the comparison count at <= 2^bits
        uniq = sorted(set(bounds))
        expr = None
        for b in uniq:
            term = F.when(F.col(c) >= F.lit(b), 1).otherwise(0)
            expr = term if expr is None else (expr + term)
        if expr is None:
            buckets.append(F.lit(0).cast("long"))
            continue
        # A low-cardinality column yields few distinct boundaries, so
        # its raw rank only occupies the LOW bits — which the interleave
        # would bury below every other column's variation (file splits
        # are decided by high z-bits). Rescale the rank to span the full
        # 2^bits range so each column's most-significant variation lands
        # in the top interleaved bits regardless of cardinality.
        m = len(uniq)
        scaled = (expr.cast("long") * F.lit((2**bits) - 1) / F.lit(m)).cast("long")
        buckets.append(scaled)
    z = F.lit(0).cast("long")
    k = len(buckets)
    for bit in range(bits):
        for j, b in enumerate(buckets):
            z = z + F.shiftleft(
                F.shiftright(b, bit).bitwiseAND(F.lit(1)), bit * k + j
            )
    return z


def write_zordered_table(
    df: DataFrame,
    path: str,
    cluster_cols: list[str],
    n_files: int = 16,
    bits: int = 8,
    mode: str = "overwrite",
) -> None:
    """Clustered (z-ordered) parquet write. Linear sort layouts prune
    only the leading sort column; z-order keeps every `cluster_cols`
    member prunable. repartitionByRange on the z-key bounds the file
    count AND makes file z-ranges disjoint; the within-partition sort
    tightens row-group stats inside each file."""
    z = zorder_column(df, cluster_cols, bits=bits)
    (
        df.withColumn("__z", z)
        .repartitionByRange(n_files, "__z")
        .sortWithinPartitions("__z")
        .drop("__z")
        .write.mode(mode)
        .parquet(path)
    )


def overlapping_files(path: str, col: str, lo, hi) -> tuple[int, int]:
    """Diagnostic: (files whose [min,max] footer range intersects
    [lo,hi], total files). Reads parquet footers only — this is the
    same pruning decision a parquet reader makes from row-group stats.
    Driver-side by design: it inspects file METADATA for layout tests
    and ops checks, never data."""
    import pyarrow.parquet as pq

    total = hit = 0
    for dirpath, _dirs, files in os.walk(path):
        for f in files:
            if not f.endswith(".parquet"):
                continue
            total += 1
            md = pq.ParquetFile(os.path.join(dirpath, f)).metadata
            idx = md.schema.to_arrow_schema().get_field_index(col)
            fmin = fmax = None
            for rg in range(md.num_row_groups):
                st = md.row_group(rg).column(idx).statistics
                if st is None or not st.has_min_max:
                    fmin = fmax = None
                    break
                fmin = st.min if fmin is None else min(fmin, st.min)
                fmax = st.max if fmax is None else max(fmax, st.max)
            if fmin is None or (fmax >= lo and fmin <= hi):
                hit += 1  # unknown stats -> must read the file
    return hit, total
