"""Benchmark entry point.

    python3 perfbench/run.py --workload cdc_ingest --seed 1 --seconds 20 --trace 0

Runs one seeded workload against the package in this checkout (Spark at
local[<cpus>], one client), checks every op, and prints a summary line
with the workload's named metrics, then, as the LAST stdout line, one
JSON object: {"correct", "attempted", "failed", "metrics"}. With
`--trace 0` the metrics are the end-to-end ones of BENCHMARK.json; with
`--trace 1` they are the per-layer ones, and the full span record is
written under `.perfbench/records/`.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import threading
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
PACKAGE = "dynamodb_to_datalake_project_spark"
TIME_LIMIT_S = 170  # the run must end within 180 s whatever happens


def process_age_s() -> float:
    """Seconds since this process started, from /proc (covers
    interpreter start-up, which no in-process clock sees)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


def tail(xs: list[float]) -> tuple[float, float, int]:
    """(value, percentile, n): the highest percentile with ten samples
    beyond it, i.e. the 11th-largest sample; below 20 samples no such
    percentile reaches the median, and the median is reported."""
    n = len(xs)
    if n < 20:
        return statistics.median(xs), 50.0, n
    return sorted(xs)[n - 11], 100.0 * (n - 10) / n, n


def cpus() -> int:
    return len(os.sched_getaffinity(0))


def setup_env(work: str) -> None:
    os.makedirs(os.path.join(work, "local"), exist_ok=True)
    os.environ["PYTHONPATH"] = os.pathsep.join(
        [ROOT] + [p for p in os.environ.get("PYTHONPATH", "").split(os.pathsep) if p]
    )
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = "2g"
    os.environ.pop("SPARK_GRAFT_UI", None)
    os.environ["PYSPARK_SUBMIT_ARGS"] = " ".join([
        "--conf spark.ui.showConsoleProgress=false",
        f"--conf spark.sql.warehouse.dir={os.path.join(work, 'warehouse')}",
        "--conf spark.sql.streaming.numRecentProgressUpdates=2000",
        f"--driver-java-options -Dderby.system.home={work}",
        "pyspark-shell",
    ])
    sys.path.insert(0, ROOT)


def stop_spark(spark) -> None:
    """Stop the session and the JVM gateway, then wait for every process
    started under this one (the JVM, Python workers) to end — including
    workers the JVM's exit left orphaned."""
    from pyspark import SparkContext

    from spans import descendants

    try:
        spark.stop()
    finally:
        started = descendants(os.getpid())
        gw = SparkContext._gateway
        proc = getattr(gw, "proc", None)
        if gw is not None:
            gw.shutdown()
        if proc is not None:
            if proc.stdin:
                proc.stdin.close()  # the JVM exits when its stdin closes
            try:
                proc.wait(timeout=20)
            except subprocess.TimeoutExpired:
                pass  # killed below
        end_processes(started + descendants(os.getpid()))


def end_processes(pids: list[int]) -> None:
    """SIGTERM, then SIGKILL, each of `pids` still alive; wait until all
    have ended."""
    for sig in (signal.SIGTERM, signal.SIGKILL):
        for p in pids:
            try:
                os.kill(p, sig)
            except ProcessLookupError:
                pass
        deadline = time.time() + 5
        while time.time() < deadline:
            pids = [p for p in pids if _alive(p)]
            if not pids:
                return
            time.sleep(0.05)


def _alive(pid: int) -> bool:
    try:
        done, _ = os.waitpid(pid, os.WNOHANG)
        if done:
            return False
    except ChildProcessError:
        pass  # not our direct child: fall back to /proc
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0] != "Z"
    except OSError:
        return False


def watchdog(limit_s: float) -> None:
    """Kill the process tree and exit non-zero, printing no result, if
    the run overruns."""
    def fire():
        from spans import descendants

        print(f"[perfbench] run exceeded {limit_s:.0f} s, aborting", file=sys.stderr)
        end_processes(descendants(os.getpid()))
        os._exit(3)

    t = threading.Timer(limit_s, fire)
    t.daemon = True
    t.start()


def end_to_end(run, setup_s: float) -> dict:
    """The BENCHMARK.json end-to-end metrics: one set for every workload.
    Wall-clock latency and throughput are printed on the summary line
    only: on a shared host they spread between identical runs by more
    than any bound allows (see README)."""
    return {
        "setup_s": (setup_s, "s"),
        "cpu_s_per_op": (statistics.median(run.cpu_per_op), "s"),
    }


def named_metrics(workload: str, run, setup_s: float, peak_mb: float) -> dict:
    """The workload's metrics under their own names (summary line)."""
    lat = run.latencies
    tv, tp, n = tail(lat)
    out = {"setup_s": (setup_s, "s")}
    if workload == "cdc_ingest":
        out["initial_load_s"] = (run.cold_s, "s")
        out["cdc_events_per_s"] = (run.throughput, "events/s")
        out["cdc_batch_s_p50"] = (statistics.median(lat), "s")
        out[f"cdc_batch_s_tail[p{tp:.0f},n={n}]"] = (tv, "s")
        out["validate_s"] = (run.validate_s, "s")
    else:
        out["query_s_p50"] = (statistics.median(lat), "s")
        out[f"query_s_tail[p{tp:.0f},n={n}]"] = (tv, "s")
        out["queries_per_s"] = (run.throughput, "1/s")
        out["cold_pass_s"] = (run.cold_s, "s")
    out["cpu_s_per_op"] = (statistics.median(run.cpu_per_op), "s")
    out["peak_rss_mb"] = (peak_mb, "MB")
    out["failed_op_ratio"] = (run.failed / max(run.attempted, 1), "ratio")
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    t_start = time.perf_counter() - process_age_s()
    watchdog(TIME_LIMIT_S - process_age_s())

    if not os.path.isfile(os.path.join(ROOT, PACKAGE, "pipeline.py")):
        print(f"[perfbench] package {PACKAGE} not found under {ROOT}", file=sys.stderr)
        return 2
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"[perfbench] unknown workload {args.workload!r}; "
              f"choose from {sorted(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    base = os.path.join(ROOT, ".perfbench")
    work = os.path.join(base, f"work-{args.workload}-{args.seed}-{os.getpid()}")
    setup_env(work)
    import spans
    from dynamodb_to_datalake_project_spark import catalog, get_spark

    rss = spans.RssSampler().start()
    steal0 = spans.host_steal_s()
    if args.workload != "cdc_ingest":
        catalog.load_all()  # registers every catalog query
    t0 = time.perf_counter()
    spark = get_spark(f"perfbench-{args.workload}")
    session_ms = (time.perf_counter() - t0) * 1e3
    run = workloads.Run(spark=spark, seed=args.seed, seconds=args.seconds, work=work)
    run.extra["cores"] = cpus()
    setup_done = []
    try:
        if args.trace:
            run.tracer = spans.Tracer()
            run.extra["batch_ops"] = {}
            spans.instrument(run.tracer, spark, cpus(), run.extra["batch_ops"])
        workloads.WORKLOADS[args.workload](
            run, lambda: setup_done.append(time.perf_counter())
        )
    finally:
        if run.tracer is not None:
            run.tracer.unwrap_all()
        peak_mb = max(rss.stop(), rss.sample())
        stop_spark(spark)
        shutil.rmtree(work, ignore_errors=True)

    run.failed = min(run.failed, run.attempted)  # an op fails at most once
    setup_s = (setup_done[0] - t_start) - sum(run.gen_s) + statistics.median(run.gen_s)
    if not run.latencies:
        print("[perfbench] no op completed", file=sys.stderr)
        return 1
    named = named_metrics(args.workload, run, setup_s, peak_mb)
    print(f"[{args.workload} seed={args.seed} trace={args.trace}] " + ", ".join(
        f"{k}={v:.6g} {u}" for k, (v, u) in named.items()
    ))
    record = {
        "workload": args.workload, "seed": args.seed, "seconds": args.seconds,
        "trace": args.trace, "cpus": cpus(), "attempted": run.attempted,
        "failed": run.failed, "named": named,
        "latencies_s": run.latencies,
        "cpu_per_op_s": run.cpu_per_op,
        "extra": {k: v for k, v in run.extra.items() if k != "batch_ops"},
        "peak_rss_mb_by_process": rss.peak_by_kind,
        "host_steal_s": spans.host_steal_s() - steal0,
    }
    if args.trace:
        import layers

        metrics = layers.per_layer(run, session_ms)
        record["batch_ops"] = run.extra.get("batch_ops")
        run.tracer.dump(
            os.path.join(base, "records", f"{args.workload}-seed{args.seed}-trace.json"),
            dict(record, metrics=metrics),
        )
    else:
        metrics = end_to_end(run, setup_s)
        os.makedirs(os.path.join(base, "records"), exist_ok=True)
        with open(os.path.join(base, "records", f"{args.workload}-seed{args.seed}.json"), "w") as f:
            json.dump(dict(record, metrics=metrics), f, default=str)
    print(json.dumps({
        "correct": run.correct and run.failed == 0,
        "attempted": run.attempted,
        "failed": run.failed,
        "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()},
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
