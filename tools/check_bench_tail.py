"""Self-check for the bench tail-capture contract (round-4 verdict item 1,
round-5 verdict item 1).

The driver records only the last ~2000 characters of bench.py stdout,
wrapped as ``{"n": N, "rc": 0, ..., "tail": "<captured chars>", "parsed":
<last-line JSON or null>}``.  Round 4's only judging defect was that window
landing inside a trailing "first_run" (cold) dict and being misread as
steady-state timings; round 5's residual defect was the grand total
scrolling out of the window once the catalog grew past ~66 queries.

bench.py now emits TWO stdout lines:

  1. the full record — small scalars first, the steady-state "queries"
     dict LAST, so any window cut preserves the newest timings, then
  2. a compact totals line (metric/value/unit/sf/startup_sec/
     first_run_total_sec/n_queries, NO queries dict) — tiny, so it always
     survives the window AND is what the driver's last-line parse sees.

This tool replays the driver's capture against a recorded BENCH_r*.json
(the wrapper format above) or raw bench stdout and verifies the window:

  1. ends in the compact totals line (round-6 shape) or exactly at the
     close of the "queries" dict (round-5 shape),
  2. contains no cold-run dict,
  3. yields parseable steady-state (name, seconds) pairs — reported so a
     human can see how much of the catalog the window preserves.

Usage: python tools/check_bench_tail.py [BENCH_rNN.json | bench_stdout.txt ...]
With no args, checks every BENCH_r*.json in the repo root and flags the
pre-round-5 files as KNOWN-BAD (they predate the ordering fix).

       python tools/check_bench_tail.py --diff OLD.json NEW.json
labels each query two bench_full_r*.json records both timed: "shape
changed" (its jobs/stages/tasks/shuffle bytes differ), "wall-only" (same
shape; only the seconds moved) or "no shape" (a record without shapes).
"""

from __future__ import annotations

import glob
import json
import os
import re
import sys

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
sys.path.insert(0, ROOT)

from perfbench.spans import SHAPE_KEYS  # noqa: E402  (stdlib-only)

TAIL = 2000
# the shape numbers that tell a plan change from a wall-clock change
DIFF_KEYS = ("jobs", "stages", "tasks", "shuffle_read_bytes", "shuffle_write_bytes")

# keys on the record lines that are NOT per-query timings
_SCALAR_KEYS = {"sf", "startup_sec", "value", "first_run_total_sec", "n_queries"}


def _extract_pairs(region: str) -> list[tuple[str, float]]:
    """Recover (query, sec) pairs exactly as a tail-only reader would."""
    marker = region.rfind('"queries": {')
    if marker >= 0:
        region = region[marker:]
    pairs = re.findall(r'"([A-Za-z0-9_]+)": ([0-9]+\.[0-9]+)', region)
    return [(k, float(v)) for k, v in pairs if k not in _SCALAR_KEYS]


def check_tail(tail: str, label: str) -> bool:
    """Validate a capture window (the driver's ``tail`` field, or the
    last TAIL chars of raw bench stdout). Accepts the round-6 shape
    (compact totals line last) and the round-5 shape (queries dict
    closes the window)."""
    tail = tail[-TAIL:]
    ok = True
    if '"first_run"' in tail:
        print(f"{label}: FAIL — cold 'first_run' dict inside the {TAIL}-char tail")
        ok = False

    lines = [ln.strip() for ln in tail.strip().splitlines() if ln.strip()]
    last = lines[-1] if lines else ""
    compact = None
    try:
        obj = json.loads(last)
        if isinstance(obj, dict) and "n_queries" in obj and "queries" not in obj:
            compact = obj
    except json.JSONDecodeError:
        pass

    if compact is not None:
        # round-6 shape: tiny totals dict ends the window, so the grand
        # total always survives the driver's capture
        missing = [k for k in ("value", "startup_sec", "n_queries") if k not in compact]
        if missing:
            print(f"{label}: FAIL — compact totals line missing keys {missing}")
            ok = False
        region = tail[: tail.rfind(last)]
        pairs = _extract_pairs(region)
        if not pairs:
            print(f"{label}: FAIL — no steady-state timings recoverable above the totals line")
            ok = False
        if ok:
            print(
                f"{label}: OK — totals line survives the window "
                f"(total={compact.get('value')}s over {compact.get('n_queries')} "
                f"queries, startup={compact.get('startup_sec')}s); "
                f"{len(pairs)} per-query timings inside the {TAIL}-char window"
            )
        return ok

    # round-5 shape: the full record line ends the window, closing with
    # the steady-state queries dict
    if not tail.rstrip().endswith("}}"):
        print(f"{label}: FAIL — window does not close with the queries dict")
        ok = False
    pairs = _extract_pairs(tail)
    if not pairs:
        print(f"{label}: FAIL — no steady-state timings recoverable from tail")
        ok = False
    if ok:
        print(
            f"{label}: OK — tail ends in steady-state queries (round-5 shape, "
            f"no totals line); {len(pairs)} timings inside the {TAIL}-char window"
        )
    return ok


def check_line(line: str, label: str) -> bool:
    """Validate a complete full-record stdout line (small scalars first,
    steady-state queries dict LAST). Used by tests and on raw stdout."""
    line = line.strip()
    tail = line[-TAIL:]
    ok = True
    if '"first_run"' in tail:
        print(f"{label}: FAIL — cold 'first_run' dict inside the {TAIL}-char tail")
        ok = False
    if not line.endswith("}}") or '"queries"' not in line:
        print(f"{label}: FAIL — line does not close with the queries dict")
        ok = False
    try:
        parsed = json.loads(line)
        if list(parsed)[-1] != "queries":
            # round 4's exact defect shape: a trailing dict (cold runs)
            # AFTER queries pushes steady-state out of the tail window —
            # and if the window opens past that dict's key name, the
            # tail alone cannot tell cold from steady-state
            print(f"{label}: FAIL — 'queries' must be the LAST key on the line")
            ok = False
    except json.JSONDecodeError:
        pass  # driver tail files are partial lines; tail checks cover them
    pairs = _extract_pairs(tail)
    if not pairs:
        print(f"{label}: FAIL — no steady-state timings recoverable from tail")
        ok = False
    if ok:
        try:
            full = json.loads(line)
            n_total = len(full.get("queries", {}))
            recovered = {k for k, _ in pairs}
            n_match = sum(1 for k in full.get("queries", {}) if k in recovered)
            print(
                f"{label}: OK — tail ends in steady-state queries; "
                f"{n_match}/{n_total} timings inside the {TAIL}-char window"
            )
        except json.JSONDecodeError:
            print(f"{label}: OK (tail contract) — full line not valid JSON standalone")
    return ok


def check_full_record(obj: dict, label: str) -> bool:
    """Validate an in-repo bench_full_r*.json (round-10: the complete
    per-query table bench.py persists so regressions are diagnosable
    without the driver's tail window): queries / first_run / runs
    must share one key set, each steady-state number must be the min
    of its runs with the cold number the first, and the totals must
    re-derive from the per-query tables."""
    ok = True
    q, fr, runs = obj.get("queries", {}), obj.get("first_run", {}), obj.get("runs", {})
    if not (set(q) == set(fr) == set(runs)) or not q:
        print(f"{label}: FAIL — queries/first_run/runs key sets differ or empty")
        return False
    for name in q:
        if abs(q[name] - min(runs[name])) > 1e-9:
            print(f"{label}: FAIL — {name}: steady-state != min(runs)")
            ok = False
        if abs(fr[name] - runs[name][0]) > 1e-9:
            print(f"{label}: FAIL — {name}: first_run != runs[0]")
            ok = False
        if not (3 <= len(runs[name]) <= 5):
            print(f"{label}: FAIL — {name}: {len(runs[name])} runs (want 3-5)")
            ok = False
    if abs(obj.get("value", -1) - round(sum(q.values()), 3)) > 0.01:
        print(f"{label}: FAIL — value != sum(queries)")
        ok = False
    if obj.get("n_queries") != len(q):
        print(f"{label}: FAIL — n_queries != len(queries)")
        ok = False
    shape = obj.get("shape")
    if shape is not None:  # records before bench.py kept shapes have none
        if set(shape) != set(q):
            print(f"{label}: FAIL — shape/queries key sets differ")
            ok = False
        for name, s in shape.items():
            bad = [
                k for k in ("build_s", *SHAPE_KEYS)
                if not isinstance(s.get(k), (int, float)) or s[k] < 0
            ]
            if bad:
                print(f"{label}: FAIL — {name}: shape keys missing or negative {bad}")
                ok = False
    if ok:
        print(
            f"{label}: OK — full record, {len(q)} queries, "
            f"total={obj.get('value')}s cold={obj.get('first_run_total_sec')}s"
        )
    return ok


def diff_records(old: dict, new: dict) -> dict[str, str]:
    """Label each query both full records timed: "shape changed" with
    the jobs/stages/tasks/shuffle-byte deltas, "wall-only" with the
    steady-state seconds delta, or "no shape" when either record has
    no shape for it."""
    out = {}
    for name in sorted(set(old["queries"]) & set(new["queries"])):
        wall = new["queries"][name] - old["queries"][name]
        a = old.get("shape", {}).get(name)
        b = new.get("shape", {}).get(name)
        if a is None or b is None:
            out[name] = f"no shape (wall {wall:+.3f}s)"
            continue
        moved = [f"{k} {b[k] - a[k]:+}" for k in DIFF_KEYS if b[k] != a[k]]
        if moved:
            out[name] = "shape changed: " + ", ".join(moved)
        else:
            out[name] = f"wall-only {wall:+.3f}s"
    return out


def check_path(p: str) -> bool:
    """Check one file: a driver BENCH_r*.json wrapper, an in-repo
    bench_full_r*.json full record, or raw bench stdout."""
    with open(p) as fh:
        text = fh.read()
    base = os.path.basename(p)
    obj = None
    try:
        obj = json.loads(text)
    except json.JSONDecodeError:
        pass
    if isinstance(obj, dict) and obj.get("metric") == "headline_queries_full":
        return check_full_record(obj, base)
    if isinstance(obj, dict) and isinstance(obj.get("tail"), str):
        # the driver wrapper: the checks apply to its captured window
        return check_tail(obj["tail"], base)
    # raw bench stdout: the full-record line must satisfy the line
    # contract, and the window a driver WOULD capture must satisfy the
    # tail contract
    good = check_tail(text, f"{base} (window)")
    record_lines = [
        ln for ln in text.splitlines() if ln.strip().startswith("{") and '"queries"' in ln
    ]
    if record_lines:
        good = check_line(record_lines[-1], f"{base} (record line)") and good
    return good


def main(argv: list[str] | None = None) -> int:
    paths = list(sys.argv[1:] if argv is None else argv)
    if paths[:1] == ["--diff"]:
        if len(paths) != 3:
            print("usage: check_bench_tail.py --diff OLD.json NEW.json")
            return 2
        records = []
        for p in paths[1:]:
            with open(p) as fh:
                records.append(json.load(fh))
        for name, label in diff_records(*records).items():
            print(f"{name}: {label}")
        return 0
    if not paths:
        paths = sorted(glob.glob(os.path.join(ROOT, "BENCH_r*.json"))) + sorted(
            glob.glob(os.path.join(ROOT, "bench_full_r*.json"))
        )
    rc = 0
    for p in paths:
        base = os.path.basename(p)
        known_bad = re.match(r"BENCH_r0[1-4]\.json$", base) is not None
        good = check_path(p)
        if not good and known_bad:
            print(f"  ({base} predates the round-5 ordering fix — expected)")
        elif not good:
            rc = 1
    return rc


if __name__ == "__main__":
    sys.exit(main())
