"""Spans, counters and Spark shape for the traced run.

Nothing here changes the package: `Tracer.wrap` replaces a function
attribute in every loaded package module that holds it (so `from x
import f` aliases are caught too) with a wrapper that records a span.
Spans live in memory and are written out once, when the run ends.

The Spark layer is read without the UI: each op runs in its own job
group, and after the op the status tracker gives its jobs and the
status store gives each stage's tasks, bytes and executor time.
"""

from __future__ import annotations

import functools
import json
import os
import sys
import threading
import time
from collections import defaultdict

PACKAGE = "dynamodb_to_datalake_project_spark"


class Tracer:
    def __init__(self):
        self.enabled = False
        self.spans: list[dict] = []  # name, start, end, parent, op, thread
        self.counts: dict[str, float] = defaultdict(float)
        self.ops: list[dict] = []  # per-op record: latency, shape, phases
        self._local = threading.local()
        self._lock = threading.Lock()
        self._restore: list[tuple[object, str, object]] = []

    # -- spans ------------------------------------------------------------
    def begin(self, name: str) -> int | None:
        if not self.enabled:
            return None
        stack = self._stack()
        with self._lock:
            idx = len(self.spans)
            self.spans.append({
                "name": name, "start": time.perf_counter(), "end": None,
                "parent": stack[-1] if stack else None,
                "op": getattr(self._local, "op", None),
                "thread": threading.get_ident(),
            })
        stack.append(idx)
        return idx

    def end(self, idx: int | None) -> None:
        """Close span `idx`, and drop any child an exception left open."""
        if idx is None:
            return
        self.spans[idx]["end"] = time.perf_counter()
        stack = self._stack()
        while idx in stack and stack.pop() != idx:
            pass

    def _stack(self) -> list:
        s = getattr(self._local, "stack", None)
        if s is None:
            s = self._local.stack = []
        return s

    def set_thread_op(self, op: str | None) -> None:
        """Tag this thread's spans with op id `op` (a query run, or a
        micro-batch on the stream's callback thread)."""
        self._local.op = op

    def count(self, name: str, n: float = 1) -> None:
        if self.enabled:
            with self._lock:
                self.counts[name] += n

    # -- wrapping -----------------------------------------------------------
    def wrap(self, owner, attr: str, span: str, before=None, after=None):
        """Replace `owner.attr` (and every package-module alias of the same
        function) with a span-recording wrapper. When tracing is on,
        `before(args, kwargs)` and `after(result, args, kwargs)` run
        inside the span, to add counts."""
        fn = getattr(owner, attr)
        tracer = self

        @functools.wraps(fn)
        def wrapper(*args, **kwargs):
            idx = tracer.begin(span)
            try:
                if idx is not None and before is not None:
                    before(args, kwargs)
                out = fn(*args, **kwargs)
                if idx is not None and after is not None:
                    after(out, args, kwargs)
                return out
            finally:
                tracer.end(idx)

        self.replace(fn, wrapper)

    def replace(self, fn, new) -> None:
        """Point every package-module attribute that is `fn` at `new`."""
        for mod in list(sys.modules.values()):
            if not (getattr(mod, "__name__", "") or "").startswith(PACKAGE):
                continue
            for k, v in list(vars(mod).items()):
                if v is fn:
                    setattr(mod, k, new)
                    self._restore.append((mod, k, fn))

    def unwrap_all(self) -> None:
        for mod, k, fn in reversed(self._restore):
            setattr(mod, k, fn)
        self._restore.clear()

    # -- aggregation --------------------------------------------------------
    def span_totals(self) -> tuple[dict, dict, dict]:
        """(inclusive ms, self ms, calls) per span name; self time is the
        span's duration minus the part its direct children cover."""
        incl: dict[str, float] = defaultdict(float)
        child: dict[int, float] = defaultdict(float)
        calls: dict[str, int] = defaultdict(int)
        for s in self.spans:
            if s["end"] is None:
                continue
            d = s["end"] - s["start"]
            incl[s["name"]] += d * 1e3
            calls[s["name"]] += 1
            if s["parent"] is not None:
                child[s["parent"]] += d * 1e3
        self_ms: dict[str, float] = defaultdict(float)
        for i, s in enumerate(self.spans):
            if s["end"] is not None:
                self_ms[s["name"]] += (s["end"] - s["start"]) * 1e3 - child[i]
        return dict(incl), dict(self_ms), dict(calls)

    def dump(self, path: str, extra: dict) -> None:
        t0 = min((s["start"] for s in self.spans), default=0.0)
        spans = [
            dict(s, start=round((s["start"] - t0) * 1e3, 3),
                 end=None if s["end"] is None else round((s["end"] - t0) * 1e3, 3))
            for s in self.spans
        ]
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            json.dump(dict(extra, ops=self.ops, spans=spans), f)


def _parquet_files(d: str) -> list[str]:
    out = []
    for root, dirs, files in os.walk(d):
        dirs[:] = [x for x in dirs if not x.startswith(("_", "."))]
        out += [os.path.join(root, f) for f in files
                if f.endswith(".parquet") and not f.startswith(("_", "."))]
    return out


def instrument(tr: Tracer, spark, cores: int, batch_ops: dict) -> None:
    """Wrap the layer boundaries the benchmark reports on. `batch_ops`
    collects, per CDC micro-batch, whether tracing was on and its shape."""
    import pyarrow.parquet as pq

    from dynamodb_to_datalake_project_spark import cdc, ddbjson, deltatable, diff, lake, merge

    def files_written(_out, args, kwargs):
        path = kwargs.get("path", args[1] if len(args) > 1 else None)
        files = _parquet_files(path)
        tr.count("lake.files_written", len(files))
        tr.count("lake.partitions_written", len({os.path.dirname(f) for f in files}))

    def commit_counts(args, kwargs):
        table, commit_id = args[0], args[1]
        staging = os.path.join(table, "_staging", commit_id)
        with open(os.path.join(table, "_commits", f"{commit_id}.json")) as f:
            manifest = json.load(f)
        staged = [p for rel in manifest["partitions"] for p in _parquet_files(os.path.join(staging, rel))]
        tr.count("merge.files_staged", len(staged))
        tr.count("merge.rows_staged", sum(pq.read_metadata(p).num_rows for p in staged))
        if not manifest.get("retain"):
            gone = manifest["partitions"] + manifest.get("removed", [])
            tr.count("merge.files_removed", sum(
                len(_parquet_files(os.path.join(table, rel))) for rel in gone if rel != "."
            ))

    tr.wrap(lake, "write_table", "lake.write_table", after=files_written)
    tr.wrap(lake, "register_table", "lake.register_table")
    tr.wrap(lake, "load_table", "lake.load_table")
    tr.wrap(ddbjson, "read_export", "ddbjson.read_export_build")
    tr.wrap(merge, "merge_into_parquet", "merge.merge")
    tr.wrap(merge, "recover_pending_commits", "merge.recover")
    tr.wrap(merge, "touched_partitions", "merge.touched_partitions",
            after=lambda out, a, k: tr.count("merge.touched_partitions", len(out)))
    tr.wrap(merge, "upsert_dataframes", "merge.upsert_build")
    tr.wrap(merge, "_apply_commit", "merge.apply_commit", before=commit_counts)
    tr.wrap(merge, "_claim_tip", "merge.claim_tip",
            after=lambda out, a, k: out is None and tr.count("merge.commit_retries"))
    for fn in ("current_version", "committed_touched", "append_commit", "data_files_under"):
        tr.wrap(deltatable, fn, f"deltatable.{fn}")
    tr.wrap(deltatable, "maybe_write_checkpoint", "deltatable.checkpoint",
            after=lambda out, a, k: out is not None and tr.count("deltatable.checkpoints"))
    tr.wrap(diff, "compare", "diff.compare",
            after=lambda out, a, k: tr.count("diff.rows_compared", out[0].source_rows + out[0].lake_rows))

    make = cdc.make_merge_batch_fn
    seen_jobs: set = set()

    def make_traced(*args, **kwargs):
        body = make(*args, **kwargs)

        def process_batch(batch_df, epoch_id):
            sc = spark.sparkContext
            group = sc.getLocalProperty("spark.jobGroup.id")
            traced = tr.enabled
            tr.set_thread_op(f"batch#{epoch_id}")
            idx = tr.begin("cdc.batch")
            try:
                body(batch_df, epoch_id)
            finally:
                tr.end(idx)
                tr.set_thread_op(None)
                rec = {"op": f"batch#{epoch_id}", "traced": traced, "group": group}
                if traced and group:
                    jobs = set(sc.statusTracker().getJobIdsForGroup(group)) - seen_jobs
                    rec["shape"] = job_shape(spark, jobs, cores)
                    rec["persistent_rdds"] = sc._jsc.getPersistentRDDs().size()
                if group:
                    seen_jobs.update(sc.statusTracker().getJobIdsForGroup(group))
                batch_ops[epoch_id] = rec

        return process_batch

    tr.replace(make, make_traced)


# ---------------------------------------------------------------------------
# Spark shape (status tracker + status store, UI off)
# ---------------------------------------------------------------------------

SHAPE_KEYS = (
    "exec_ms", "jobs", "stages", "tasks", "listing_jobs", "shuffle_read_bytes",
    "shuffle_write_bytes", "input_bytes", "output_bytes", "executor_run_ms",
    "executor_cpu_ms", "slot_idle_ms", "failed_tasks",
)


def _opt_ms(opt) -> float | None:
    return opt.get().getTime() if opt.isDefined() else None


def job_shape(spark, job_ids, cores: int) -> dict:
    """Jobs, stages, tasks, bytes and executor time of the given jobs."""
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    out = dict.fromkeys(SHAPE_KEYS, 0)
    seen_stages = set()
    for jid in sorted(job_ids):
        info = sc.statusTracker().getJobInfo(jid)
        if info is None:
            continue
        out["jobs"] += 1
        try:
            jd = store.job(jid)
            t0, t1 = _opt_ms(jd.submissionTime()), _opt_ms(jd.completionTime())
            if t0 is not None and t1 is not None:
                out["exec_ms"] += t1 - t0
            desc = jd.description()
            if desc.isDefined() and "Listing leaf files" in desc.get():
                out["listing_jobs"] += 1
        except Exception:  # noqa: BLE001 - job evicted from the store
            pass
        for sid in info.stageIds:
            if sid in seen_stages:
                continue
            seen_stages.add(sid)
            try:
                st = store.lastStageAttempt(sid)
            except Exception:  # noqa: BLE001 - skipped stage: never attempted
                continue
            if str(st.status()) == "SKIPPED":
                continue
            out["stages"] += 1
            out["tasks"] += st.numTasks()
            out["failed_tasks"] += st.numFailedTasks()
            out["shuffle_read_bytes"] += st.shuffleReadBytes()
            out["shuffle_write_bytes"] += st.shuffleWriteBytes()
            out["input_bytes"] += st.inputBytes()
            out["output_bytes"] += st.outputBytes()
            run_ms = st.executorRunTime()
            out["executor_run_ms"] += run_ms
            out["executor_cpu_ms"] += st.executorCpuTime() / 1e6
            t0, t1 = _opt_ms(st.submissionTime()), _opt_ms(st.completionTime())
            if t0 is not None and t1 is not None:
                out["slot_idle_ms"] += max(0.0, (t1 - t0) * cores - run_ms)
    return out


def catalyst_phases(df) -> dict:
    """Analysis / optimization / planning ms of `df`'s QueryExecution
    (planning is forced here, so the traced run pays it up front)."""
    qe = df._jdf.queryExecution()
    qe.executedPlan()
    phases = qe.tracker().phases()
    out = {}
    for k in ("analysis", "optimization", "planning"):
        out[k] = phases.apply(k).durationMs() if phases.contains(k) else 0
    return out


def udf_profile(spark) -> dict[str, tuple[float, int]]:
    """Per Python function: (ms, calls) from the UDF perf profiler, then
    clear it. The profiled root of each UDF is the kernel function."""
    coll = spark.profile.profiler_collector
    out: dict[str, tuple[float, int]] = {}
    for stats in coll._perf_profile_results.values():
        roots = [
            (v[3], v[1], k) for k, v in stats.stats.items() if not v[4]
        ]
        if not roots:
            continue
        ct, nc, (fname, _line, func) = max(roots)
        name = f"{os.path.basename(fname)}:{func}"
        ms, calls = out.get(name, (0.0, 0))
        out[name] = (ms + ct * 1e3, calls + nc)
    spark.profile.clear(type="perf")
    return out


# ---------------------------------------------------------------------------
# memory: summed RSS of this process and every descendant (JVM, workers)
# ---------------------------------------------------------------------------


class RssSampler:
    INTERVAL_S = 0.5

    def __init__(self):
        self.peak_mb = 0.0
        self.peak_by_kind: dict[str, float] = {}  # driver / java / other
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._run, daemon=True)
        self._page = os.sysconf("SC_PAGE_SIZE")

    def start(self) -> "RssSampler":
        self._thread.start()
        return self

    def stop(self) -> float:
        self._stop.set()
        self._thread.join(timeout=5)
        return self.peak_mb

    def sample(self) -> float:
        by_kind: dict[str, float] = defaultdict(float)
        for p in descendants(os.getpid(), include_self=True):
            by_kind[self._kind(p)] += self._rss(p) / 2**20
        for k, v in by_kind.items():
            self.peak_by_kind[k] = max(self.peak_by_kind.get(k, 0.0), v)
        mb = sum(by_kind.values())
        self.peak_mb = max(self.peak_mb, mb)
        return mb

    @staticmethod
    def _kind(pid: int) -> str:
        if pid == os.getpid():
            return "driver"
        try:
            with open(f"/proc/{pid}/comm") as f:
                return "java" if f.read().strip() == "java" else "other"
        except OSError:
            return "other"

    def _rss(self, pid: int) -> int:
        try:
            with open(f"/proc/{pid}/statm") as f:
                return int(f.read().split()[1]) * self._page
        except (OSError, IndexError, ValueError):
            return 0

    def _run(self):
        while not self._stop.wait(self.INTERVAL_S):
            self.sample()


def tree_cpu_s() -> float:
    """CPU seconds (user + system, with reaped children's) used so far by
    this process and every descendant: driver, JVM, Python workers."""
    ticks = 0
    for p in descendants(os.getpid(), include_self=True):
        try:
            with open(f"/proc/{p}/stat") as f:
                ticks += sum(int(x) for x in f.read().rsplit(")", 1)[1].split()[11:15])
        except (OSError, IndexError, ValueError):
            continue  # ended meanwhile
    return ticks / os.sysconf("SC_CLK_TCK")


def host_steal_s() -> float:
    """CPU seconds the hypervisor has taken from this VM's CPUs, summed
    over CPUs, since boot (the `steal` column of /proc/stat)."""
    with open("/proc/stat") as f:
        return int(f.readline().split()[8]) / os.sysconf("SC_CLK_TCK")


def descendants(pid: int, include_self: bool = False) -> list[int]:
    children: dict[int, list[int]] = defaultdict(list)
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                ppid = int(f.read().rsplit(")", 1)[1].split()[1])
        except (OSError, IndexError, ValueError):
            continue
        children[ppid].append(int(d))
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        if p != pid or include_self:
            out.append(p)
        todo.extend(children.get(p, ()))
    return out
