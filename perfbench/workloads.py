"""The two workloads, each a closed loop with one client.

- cdc_ingest: export → `pipeline.initial_load` → staged minute drops
  drained by `pipeline.start_incremental` → `pipeline.validate`, then
  `lake.register_table` and four generator-checked SQL queries over the
  lake (checks only: their latencies are not timed metrics).
- llm_curation: ten oracle-checked LLM-operator catalog queries.

Each workload fills a `Run` with op latencies, throughput, cold-step time,
attempts and failures; `run.py` turns that into the result lines.
"""

from __future__ import annotations

import json
import os
import random
import sys
import time
import traceback
from collections import Counter
from dataclasses import dataclass, field

import gen
from spans import tree_cpu_s

#: CDC shape: the package's reference table (gen.SNAPSHOT_KEYS) and one
#: stream minute per micro-batch (gen.EVENTS_PER_MINUTE events in two drops)
STREAM_MINUTES = 120  # more than a run drains
FILES_PER_TRIGGER = -(-gen.EVENTS_PER_MINUTE // gen.DROP_SIZE)
DROPS_PER_CHUNK = 2 * FILES_PER_TRIGGER
WARM_BATCHES = 4  # stream batches after the overlap, drained before timing starts
MIN_TIMED_BATCHES = 4
GEN_REPEATS = 3
#: Timed work is a fixed count of ops, so every run of a workload times
#: the same ops at the same point of its warm-up, on a slow host as on a
#: fast one: about `--seconds` on a 4-vCPU host at these nominal op times.
#: (A count that follows the clock lets a fast host fit one more, cheaper
#: op, which splits the CPU metric into two clusters.)
BATCH_S = 2.5  # one cdc_ingest micro-batch
PASS_S = 8.0  # one llm_curation pass over the mix

WARM_PASSES = 2  # llm_curation passes after the cold one, before timing starts
MIN_PASSES = 2  # timed llm_curation passes, at least
LLM_SF = 0.01
LLM_CATALOG = (
    "dedup_minhash_md5", "corpus_clean", "text_stats", "token_count_bpe",
    "sim_knn_bruteforce", "dedup_clusters_cc", "decontaminate_ngrams",
    "multimodal_flac_stats", "multimodal_jpeg_stats", "tfrecord_stats",
)


@dataclass
class Run:
    spark: object
    seed: int
    seconds: float
    work: str
    tracer: object = None  # spans.Tracer in the traced run
    attempted: int = 0
    failed: int = 0
    correct: bool = True
    latencies: list = field(default_factory=list)  # timed op latencies, s
    traced_flags: list = field(default_factory=list)  # per latency: tracing on?
    throughput: float = 0.0  # CDC events/s, or warm query runs/s
    cold_s: float = 0.0  # initial_load, or the cold pass over the mix
    cpu_per_op: list = field(default_factory=list)  # process-tree CPU s per op, by chunk/pass
    validate_s: float = 0.0  # cdc_ingest: one pipeline.validate call
    gen_s: list = field(default_factory=list)  # input-generation repeats
    extra: dict = field(default_factory=dict)  # record-only details

    def fail(self, what: str, n: int = 1) -> None:
        self.failed += n
        self.correct = False
        print(f"[perfbench] FAILED {what}", file=sys.stderr)


def _timed_gen(run: Run, fn):
    """Generate inputs GEN_REPEATS times (same seed, same bytes); set-up
    time counts the median repeat once."""
    out = None
    for _ in range(GEN_REPEATS):
        t0 = time.perf_counter()
        out = fn()
        run.gen_s.append(time.perf_counter() - t0)
    return out


# ---------------------------------------------------------------------------
# expected state: an independent fold over exactly the files the program saw
# ---------------------------------------------------------------------------


def fold_state(snapshot: list[dict], drops: list) -> dict:
    """Latest `update_at` wins per (account, create_at); REMOVE ignored
    (the pipeline's default drop policy)."""
    state = {(r["account"], r["create_at"]): r for r in snapshot}
    for _minute, events in drops:
        for e in events:
            if e["event_name"] == "REMOVE":
                continue
            k = (e["account"], e["create_at"])
            cur = state.get(k)
            if cur is None or e["update_at"] > cur["update_at"]:
                state[k] = {c: e[c] for c in gen.TXN_FIELDS}
    return state


def _write_jsonl(rows, path: str) -> None:
    os.makedirs(path, exist_ok=True)
    with open(os.path.join(path, "part-0.json"), "w") as f:
        for r in rows:
            f.write(json.dumps(r) + "\n")


def _progress(q) -> list[dict]:
    """Batches that read input, from the query's progress ring."""
    out = []
    for p in q.recentProgress:
        if p.numInputRows <= 0:
            continue
        d = p.durationMs
        out.append({
            "batch": p.batchId, "rows": p.numInputRows,
            "trigger_ms": d.get("triggerExecution", 0),
            "latest_offset_ms": d.get("latestOffset", 0),
            "get_batch_ms": d.get("getBatch", 0),
            "query_planning_ms": d.get("queryPlanning", 0),
            "add_batch_ms": d.get("addBatch", 0),
            "offset_log_ms": d.get("walCommit", 0) + d.get("commitOffsets", 0),
        })
    return out


def timed_count(seconds: float, nominal_s: float, least: int) -> int:
    """Ops to time for a run of `seconds`, from the op's nominal time."""
    return max(least, round(seconds / nominal_s))


def _trace(run: Run, on: bool) -> None:
    if run.tracer is not None:
        run.tracer.enabled = on


def build_cdc_lake(run: Run, log: gen.CdcLog):
    """initial_load, a warm-up chunk — the drops that overlap the
    snapshot, which include the stream's cold first batch, and
    WARM_BATCHES more — then timed chunks of DROPS_PER_CHUNK until
    `timed_count(run.seconds, BATCH_S, MIN_TIMED_BATCHES)` batches ran.
    In the traced run the load is traced, and timed chunks alternate
    tracing on and off, so the run measures its own overhead on like
    batches. Returns (lake path, drops drained, first timed drop,
    progress rows of the timed batches, timed drain s, load s)."""
    from dynamodb_to_datalake_project_spark import pipeline

    spark = run.spark
    export_dir = os.path.join(run.work, "export")
    lake_path = os.path.join(run.work, "lake")
    cdc_dir = os.path.join(run.work, "cdc")
    os.makedirs(cdc_dir, exist_ok=True)
    log.write_export(export_dir)

    _trace(run, True)
    t0 = time.perf_counter()
    run.attempted += 1
    pipeline.initial_load(spark, export_dir, lake_path)
    load_s = time.perf_counter() - t0

    q = pipeline.start_incremental(
        spark, cdc_dir, lake_path, os.path.join(run.work, "ckpt"),
        max_files_per_trigger=FILES_PER_TRIGGER,
    )
    drained, drain_s, chunk, warm_batches = 0, 0.0, 0, 0
    warm = log.first_stream_drop + WARM_BATCHES * FILES_PER_TRIGGER
    total = warm + timed_count(run.seconds, BATCH_S, MIN_TIMED_BATCHES) * FILES_PER_TRIGGER
    try:
        while drained < total:
            step = min(DROPS_PER_CHUNK if drained else warm, total - drained)
            _trace(run, chunk % 2 == 1)
            t0 = time.perf_counter()
            log.write_drops(cdc_dir, range(drained, drained + step))
            c0 = tree_cpu_s()  # after the drops: writing them is the generator's work
            q.processAllAvailable()
            if drained:
                drain_s += time.perf_counter() - t0
                run.cpu_per_op.append((tree_cpu_s() - c0) / (step // FILES_PER_TRIGGER))
            else:  # warm-up chunk done: the timed drain starts
                warm_batches = len(_progress(q))
            drained += step
            chunk += 1
    finally:
        progress = _progress(q)
        q.stop()
        _trace(run, True)
    return lake_path, drained, warm, progress[warm_batches:], drain_s, load_s


# ---------------------------------------------------------------------------
# cdc_ingest
# ---------------------------------------------------------------------------


def cdc_ingest(run: Run, mark_setup_done) -> None:
    from dynamodb_to_datalake_project_spark import deltatable, lake, pipeline

    log = _timed_gen(run, lambda: gen.CdcLog(run.seed, STREAM_MINUTES))
    run.spark.range(1000).count()  # warm-up: first-job scheduler start
    mark_setup_done()

    lake_path, drained, first_timed, progress, drain_s, load_s = build_cdc_lake(run, log)
    events = sum(len(e) for _, e in log.drops[first_timed:drained])
    run.attempted += len(progress)  # timed batches; warm-up ones are validated only
    run.latencies = [p["trigger_ms"] / 1e3 for p in progress]
    if run.tracer is not None:
        ops = run.extra["batch_ops"]
        run.traced_flags = [ops.get(p["batch"], {}).get("traced", False) for p in progress]
    run.extra["progress"] = progress
    run.extra["drops_drained"] = drained
    run.extra["events"] = events
    run.extra["events_per_batch"] = events / len(progress) if progress else 0.0
    run.extra["generated"] = dict(log.counts, replayed_by_stream=log.replayed)
    run.extra["log_versions"] = len(deltatable.list_versions(lake_path))

    expected = fold_state(log.snapshot, log.drops[:drained])
    truth = os.path.join(run.work, "expected")
    _write_jsonl(expected.values(), truth)
    spec = {"format": "jsonl", "path": truth, "schema": pipeline.TXN_SCHEMA}
    run.attempted += 1
    t0 = time.perf_counter()
    try:
        summary, sample = pipeline.validate(run.spark, spec, lake_path)
        run.validate_s = time.perf_counter() - t0
        if summary.source_only or summary.lake_only or summary.source_rows != len(expected):
            run.fail(f"validate: {summary} {sample[:3]}")
            run.fail("timed batches", len(progress))  # they produced a wrong lake
    except Exception:  # noqa: BLE001 - counted, run continues
        traceback.print_exc()
        run.fail("validate raised")
    run.extra["validate"] = {"source_rows": len(expected)}

    # the read path over the merged lake: register it, then check four
    # SQL queries against the fold (checks only, not timed metrics)
    lake.register_table(run.spark, "transactions", lake_path)
    _trace(run, False)
    for n, op in enumerate(_lake_sql_ops(expected, random.Random(run.seed))):
        _run_op(run, op, "", n, {})

    run.cold_s = load_s
    run.throughput = events / drain_s if drain_s else 0.0


# ---------------------------------------------------------------------------
# query workloads
# ---------------------------------------------------------------------------


@dataclass
class Op:
    name: str
    kind: str  # "sql" | "catalog"
    sql: str = ""
    check: object = None  # sql: rows -> bool


def _lake_sql_ops(expected: dict, rng: random.Random) -> list[Op]:
    rows = list(expected.values())
    ids = sorted(f"account:{a},create_at:{c}" for a, c in expected)
    hours = sorted({r["create_at"][:13] for r in rows})
    hour = rng.choice(hours)
    y, mo, d, h = hour[0:4], hour[5:7], hour[8:10], hour[11:13]
    in_hour = Counter(
        (f"account:{r['account']},create_at:{r['create_at']}", r["note"])
        for r in rows if r["create_at"].startswith(hour)
    )
    n_acct = len({r["account"] for r in rows})
    return [
        Op("sql_count", "sql", "SELECT count(*) AS n FROM transactions",
           lambda res: res[0][0] == len(rows)),
        Op("sql_count_distinct_account", "sql",
           "SELECT count(DISTINCT account) AS n FROM transactions",
           lambda res: res[0][0] == n_acct),
        Op("sql_top10_by_id", "sql",
           "SELECT id FROM transactions ORDER BY id LIMIT 10",
           lambda res: [r[0] for r in res] == ids[:10]),
        Op("sql_partition_projection", "sql",
           "SELECT id, note FROM transactions WHERE create_year = '%s' AND "
           "create_month = '%s' AND create_day = '%s' AND create_hour = '%s'" % (y, mo, d, h),
           lambda res: Counter((r[0], r[1]) for r in res) == in_hour),
    ]


def _run_op(run: Run, op: Op, sf_dir: str, n: int, counts: dict,
            fetched: dict | None = None) -> float | None:
    """One closed-loop op: builder (or spark.sql) then count()/collect().
    With `fetched` (the cold pass), a catalog query's rows are fetched as
    Arrow instead of counted, for the oracle check after the loop.
    Returns the latency, or None when the op raised or was wrong."""
    from dynamodb_to_datalake_project_spark import catalog

    from spans import catalyst_phases, job_shape, udf_profile

    spark = run.spark
    group = f"{op.name}#{n}"
    spark.sparkContext.setJobGroup(group, op.name)
    tr = run.tracer
    traced = tr is not None and tr.enabled
    rec = {"op": group, "name": op.name, "cold": fetched is not None, "traced": traced}
    run.attempted += 1
    ok = False
    if traced:
        tr.set_thread_op(group)
    t0 = time.perf_counter()
    root = tr.begin("op") if traced else None
    try:
        build = tr.begin("catalog.build") if traced else None
        if op.kind == "sql":
            df = spark.sql(op.sql)
        else:
            df = catalog.QUERIES[op.name](spark, sf_dir)
        if traced:
            tr.end(build)
            rec["build_ms"] = (time.perf_counter() - t0) * 1e3
            rec["catalyst"] = catalyst_phases(df)
        if op.kind == "sql":
            ok = bool(op.check(df.collect()))
        elif fetched is not None:
            fetched[op.name] = df.toArrow()
            ok = True  # rows checked against the oracle after the loop
        else:
            counts.setdefault(op.name, []).append(df.count())
            ok = True  # row count checked against the oracle after the loop
    except Exception:  # noqa: BLE001 - an op failure is counted, the loop goes on
        traceback.print_exc()
    finally:
        if traced:
            tr.end(root)
    dt = time.perf_counter() - t0
    if traced:
        tr.set_thread_op(None)
        rec["latency_s"] = dt
        jobs = spark.sparkContext.statusTracker().getJobIdsForGroup(group)
        rec["shape"] = job_shape(spark, jobs, run.extra["cores"])
        rec["persistent_rdds"] = spark.sparkContext._jsc.getPersistentRDDs().size()
        rec["kernels"] = udf_profile(spark)
        tr.ops.append(rec)
    if not ok:
        run.fail(f"{op.name} (op {n})")
        return None
    return dt


def _query_loop(run: Run, ops: list[Op], sf_dir: str) -> tuple[dict, dict]:
    """Cold pass (which also fetches each catalog query's rows), WARM_PASSES
    untimed passes, then `timed_count(run.seconds, PASS_S, MIN_PASSES)`
    timed passes (in the traced run alternately traced and untraced, for
    the overhead). The seed shuffles op order within each pass. Returns
    (warm row counts, cold-pass rows) by query."""
    rng = random.Random(run.seed ^ 0x5EED)
    counts: dict[str, list[int]] = {}
    fetched: dict = {}
    n = 0
    order = ops[:]
    rng.shuffle(order)
    t0 = time.perf_counter()
    for op in order:
        _run_op(run, op, sf_dir, n, counts, fetched)
        n += 1
    run.cold_s = time.perf_counter() - t0

    timed = timed_count(run.seconds, PASS_S, MIN_PASSES)
    done, busy = 0, 0.0
    for p in range(WARM_PASSES + timed):
        rng.shuffle(order)
        warm = p < WARM_PASSES
        if run.tracer is not None:
            _trace(run, not warm and p % 2 == 0)
            _set_profiler(run.spark, run.tracer.enabled)
        c0, t_pass = tree_cpu_s(), time.perf_counter()
        for op in order:
            dt = _run_op(run, op, sf_dir, n, counts)
            n += 1
            if dt is not None and not warm:
                run.latencies.append(dt)
                run.traced_flags.append(run.tracer is not None and run.tracer.enabled)
                done += 1
        if not warm:
            busy += time.perf_counter() - t_pass
            run.cpu_per_op.append((tree_cpu_s() - c0) / len(order))
    if run.tracer is not None:
        _trace(run, False)
        _set_profiler(run.spark, False)
    run.throughput = done / busy
    run.extra["timed_passes"] = timed
    return counts, fetched


def _set_profiler(spark, on: bool) -> None:
    if on:
        spark.conf.set("spark.sql.pyspark.udf.profiler", "perf")
    else:
        spark.conf.unset("spark.sql.pyspark.udf.profiler")


def _oracle_check(run: Run, names, sf_dir: str, counts: dict, fetched: dict) -> None:
    """Once per run, after the timed loop: each catalog query's cold-pass
    rows against its DuckDB oracle in the `tools/check_oracle.py` form
    (same row count, same sorted column names, same multiset of values
    with floats rounded to 6 places), and every warm count() against the
    oracle's row count."""
    import duckdb

    from dynamodb_to_datalake_project_spark import catalog

    t0 = time.perf_counter()
    con = duckdb.connect()
    con.execute("SET TimeZone = 'UTC'")
    for t in ("region nation customer supplier part orders lineitem events "
              "documents embeddings").split():
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'")
    checked = {}
    for name in names:
        if name not in fetched:
            continue  # its cold run failed, and was counted then
        try:
            stbl = fetched[name]
            otbl = con.execute(catalog.ORACLE[name]).arrow()
            same = _same_multiset(con, stbl, otbl)
        except Exception:  # noqa: BLE001 - a failed check is a failed op
            traceback.print_exc()
            run.fail(f"oracle check {name}")
            run.failed += len(counts.get(name, []))
            continue
        bad_counts = sum(1 for c in counts.get(name, []) if c != otbl.num_rows)
        checked[name] = {"rows": otbl.num_rows, "match": same, "bad_counts": bad_counts}
        if not same:
            run.fail(f"oracle mismatch {name}")
        if bad_counts:
            run.fail(f"{name}: {bad_counts} timed count(s) != oracle rows {otbl.num_rows}",
                     bad_counts)
    con.close()
    run.extra["oracle"] = checked
    run.extra["oracle_check_s"] = time.perf_counter() - t0


def _same_multiset(con, stbl, otbl) -> bool:
    """Multiset equality of two Arrow results, computed in DuckDB as
    EXCEPT ALL both ways over the sorted columns."""
    import pyarrow as pa

    cols = sorted(stbl.column_names)
    if cols != sorted(otbl.column_names) or stbl.num_rows != otbl.num_rows:
        return False

    def norm(c):
        types = (stbl.schema.field(c).type, otbl.schema.field(c).type)
        q = '"' + c.replace('"', '""') + '"'
        if any(pa.types.is_floating(t) for t in types):
            return f"round({q}::DOUBLE, 6)"
        if any(pa.types.is_timestamp(t) for t in types):
            return f"{q}::TIMESTAMP"
        return q

    sel = ", ".join(norm(c) for c in cols)
    con.register("spark_rows", stbl)
    con.register("oracle_rows", otbl)
    try:
        (n,) = con.execute(
            f"SELECT count(*) FROM ((SELECT {sel} FROM spark_rows EXCEPT ALL "
            f"SELECT {sel} FROM oracle_rows) UNION ALL (SELECT {sel} FROM oracle_rows "
            f"EXCEPT ALL SELECT {sel} FROM spark_rows))"
        ).fetchone()
    finally:
        con.unregister("spark_rows")
        con.unregister("oracle_rows")
    return n == 0


def llm_curation(run: Run, mark_setup_done) -> None:
    sf_dir = os.path.join(run.work, "sf")
    _timed_gen(run, lambda: gen.write_fixtures(sf_dir, run.seed, LLM_SF))
    mark_setup_done()
    ops = [Op(n, "catalog") for n in LLM_CATALOG]
    counts, fetched = _query_loop(run, ops, sf_dir)
    _oracle_check(run, LLM_CATALOG, sf_dir, counts, fetched)


WORKLOADS = {"cdc_ingest": cdc_ingest, "llm_curation": llm_curation}

