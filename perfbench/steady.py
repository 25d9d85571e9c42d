"""Steadiness check: run workloads over several seeds, report spreads.

    python3 perfbench/steady.py --workloads cdc_ingest,llm_curation --seeds 1-10 --seconds 20

Runs `run.py` once per (seed, workload), one at a time, seeds outermost
so the workloads interleave, writes each result line to
`.perfbench/steady.jsonl`, then prints for every end-to-end metric its
median, quartiles and quartile spread as a share of the median
(`statistics.quantiles(values, n=4)`), and, as the last line, the same
summary as JSON. The ungated summary-line metrics of each run's record
(`named`) are summarised too, under `named.<metric>`.
"""

from __future__ import annotations

import argparse
import json
import os
import statistics
import subprocess
import sys
import time
from collections import defaultdict

HERE = os.path.dirname(os.path.abspath(__file__))


def seeds(spec: str) -> list[int]:
    out = []
    for part in spec.split(","):
        lo, _, hi = part.partition("-")
        out += list(range(int(lo), int(hi or lo) + 1))
    return out


def summarize(records: list[dict]) -> dict:
    by = defaultdict(lambda: defaultdict(list))
    for r in records:
        for k, v in r["result"]["metrics"].items():
            by[r["workload"]][k].append(v["value"])
        for k, v in r.get("named", {}).items():
            if k not in r["result"]["metrics"]:
                by[r["workload"]]["named." + k.split("[")[0]].append(v)
    out = {}
    for w, metrics in by.items():
        out[w] = {}
        for k, vs in metrics.items():
            med = statistics.median(vs)
            q1, _, q3 = statistics.quantiles(vs, n=4) if len(vs) > 1 else (med, med, med)
            out[w][k] = {"median": med, "q1": q1, "q3": q3,
                         "spread": (q3 - q1) / med if med else 0.0, "n": len(vs)}
    return out


def main() -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workloads", default="cdc_ingest,llm_curation")
    ap.add_argument("--seeds", default="1-10")
    ap.add_argument("--seconds", default="20")
    args = ap.parse_args()

    log = os.path.join(os.path.dirname(HERE), ".perfbench", "steady.jsonl")
    os.makedirs(os.path.dirname(log), exist_ok=True)
    records = []
    with open(log, "w") as f:
        for seed in seeds(args.seeds):
            for w in args.workloads.split(","):
                t0 = time.time()
                p = subprocess.run(
                    [sys.executable, os.path.join(HERE, "run.py"), "--workload", w,
                     "--seed", str(seed), "--seconds", args.seconds, "--trace", "0"],
                    stdout=subprocess.PIPE, stderr=subprocess.DEVNULL, text=True, check=False,
                )
                lines = p.stdout.strip().splitlines()
                rec = {"workload": w, "seed": seed, "wall_s": time.time() - t0,
                       "exit": p.returncode, "start": t0}
                try:
                    rec["result"] = json.loads(lines[-1])
                except (IndexError, json.JSONDecodeError):
                    print(f"{w} seed {seed}: no result (exit {p.returncode})", file=sys.stderr)
                    continue
                record = os.path.join(os.path.dirname(HERE), ".perfbench", "records",
                                      f"{w}-seed{seed}.json")
                with open(record) as rf:
                    rec["named"] = {k: v for k, (v, _u) in json.load(rf)["named"].items()}
                records.append(rec)
                f.write(json.dumps(rec) + "\n")
                f.flush()
                print(f"{w} seed {seed}: {rec['wall_s']:.0f} s, correct={rec['result']['correct']}",
                      file=sys.stderr)
    summary = summarize(records)
    for w, metrics in summary.items():
        walls = [r["wall_s"] for r in records if r["workload"] == w]
        bad = sum(1 for r in records if r["workload"] == w and not r["result"]["correct"])
        print(f"{w}: runs={len(walls)} incorrect={bad} wall mean={statistics.mean(walls):.1f}s "
              f"max={max(walls):.1f}s")
        for k, s in metrics.items():
            print(f"  {k:24s} median={s['median']:.5g} q1={s['q1']:.5g} q3={s['q3']:.5g} "
                  f"spread={s['spread']:.3f}")
    print(json.dumps(summary))
    return 0


if __name__ == "__main__":
    sys.exit(main())
