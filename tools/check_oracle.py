"""Mirror of the driver's correctness gate, runnable locally at any SF.

For every catalog query with an oracle: run the Spark builder and the
DuckDB SQL over the same parquet fixtures, then compare row count,
sorted column names, and the order-insensitive multiset of values
(floats within 1e-6). Queries without an oracle get a rows-only run.

Usage: python tools/check_oracle.py [sf_dir] [query ...]
"""

from __future__ import annotations

import math
import os
import sys
from collections import Counter
from datetime import date, datetime

import duckdb

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

TABLES = (
    "region nation customer supplier part orders lineitem events documents embeddings"
).split()


def duck_connect(sf_dir: str):
    con = duckdb.connect()
    for t in TABLES:
        con.execute(
            f"CREATE VIEW {t} AS SELECT * FROM '{sf_dir}/{t}.parquet'"
        )
    return con


def norm_value(v):
    if isinstance(v, float):
        if math.isnan(v):
            return "NaN"
        return round(v, 6)
    if isinstance(v, datetime):
        return v.replace(tzinfo=None).isoformat()
    if isinstance(v, date):
        return v.isoformat()
    if isinstance(v, (list, tuple)):
        return tuple(norm_value(x) for x in v)
    return v


def row_multiset(rows, col_order):
    return Counter(
        tuple(norm_value(r[i]) for i in col_order) for r in rows
    )


def compare_query(spark, con, name, builder, sql, sf_dir, timings=None):
    import time

    t0 = time.time()
    sdf = builder(spark, sf_dir)
    srows = [tuple(r) for r in sdf.collect()]
    cold = time.time() - t0
    if timings is not None:
        # warm re-run of the same plan: first run paid codegen/JIT;
        # cold vs warm here gives a per-round within-session timing
        # table with no extra sweep (VERDICT r4 optional ask #7)
        t0 = time.time()
        builder(spark, sf_dir).collect()
        timings[name] = (round(cold, 3), round(time.time() - t0, 3))
    scols = sdf.columns
    if sql is None:
        return {"name": name, "mode": "rows_only", "rows": len(srows), "ok": True}
    # Driver-canonicalizer contract: oracle-compared output must be
    # scalar columns only — a raw array/map/struct column crashes the
    # driver's pandas sort_values canonicalization (the round-1
    # agg_array_funcs failure). Catch it HERE, before the driver does.
    from pyspark.sql import types as T

    nonscalar = [
        f.name
        for f in sdf.schema.fields
        if isinstance(f.dataType, (T.ArrayType, T.MapType, T.StructType, T.BinaryType))
    ]
    if nonscalar:
        return {
            "name": name,
            "mode": "oracle",
            "rows": len(srows),
            "ok": False,
            "problems": [f"non-scalar oracle output columns {nonscalar}"],
        }
    ores = con.execute(sql)
    ocols = [d[0] for d in ores.description]
    orows = ores.fetchall()
    problems = []
    # Driver-canonicalizer contract #2: the driver pulls the oracle
    # result through pandas, where DuckDB HUGEINT (sum over ints) and
    # DECIMAL land as float64 while Spark sends int64 — the value
    # hashes then differ even when every value is equal (the round-2
    # doc_packing/dataset_split failures). Detect the TYPE-level
    # drift from the oracle's DECLARED column types (`con.sql().types`
    # plans without executing — no second query run). NULL-driven
    # pandas float64 coercion is deliberately NOT flagged: it hits the
    # Spark side of the driver identically, so hashes still match.
    spark_kind = {}
    for f in sdf.schema.fields:
        if isinstance(f.dataType, (T.ByteType, T.ShortType, T.IntegerType, T.LongType)):
            spark_kind[f.name] = "i"
        elif isinstance(f.dataType, (T.FloatType, T.DoubleType)):
            spark_kind[f.name] = "f"
    rel = con.sql(sql)
    duck_types = {c: str(t).upper() for c, t in zip(rel.columns, rel.types)}
    _INT_TYPES = {"TINYINT", "SMALLINT", "INTEGER", "BIGINT", "UTINYINT",
                  "USMALLINT", "UINTEGER", "UBIGINT"}
    for c, sk in spark_kind.items():
        dt = duck_types.get(c, "")
        wide = dt in ("HUGEINT", "UHUGEINT", "DOUBLE", "FLOAT") or dt.startswith(
            "DECIMAL"
        )
        if sk == "i" and wide:
            problems.append(
                f"dtype drift: column {c!r} is integer in Spark but {dt} on "
                f"the oracle side (float64 via the driver's pandas path) — "
                f"CAST(... AS BIGINT) in the oracle SQL"
            )
        elif sk == "f" and dt in _INT_TYPES:
            problems.append(
                f"dtype drift: column {c!r} is float in Spark but {dt} on "
                f"the oracle side — cast to DOUBLE in the oracle SQL"
            )
    if sorted(scols) != sorted(ocols):
        problems.append(f"columns spark={sorted(scols)} oracle={sorted(ocols)}")
    if len(srows) != len(orows):
        problems.append(f"rowcount spark={len(srows)} oracle={len(orows)}")
    if not problems:
        order = sorted(range(len(scols)), key=lambda i: scols[i])
        sset = row_multiset(srows, order)
        oorder = sorted(range(len(ocols)), key=lambda i: ocols[i])
        oset = row_multiset(orows, oorder)
        if sset != oset:
            extra_s = list((sset - oset).items())[:3]
            extra_o = list((oset - sset).items())[:3]
            problems.append(f"values spark_only={extra_s} oracle_only={extra_o}")
    return {
        "name": name,
        "mode": "oracle",
        "rows": len(srows),
        "ok": not problems,
        "problems": problems,
    }


def main(argv=None):
    argv = sys.argv[1:] if argv is None else argv
    args = [a for a in argv if not a.startswith("--")]
    with_timings = "--timings" in argv
    sf_dir = args[0] if args else "/root/testdata/sf0.001"
    only = set(args[1:])

    from dynamodb_to_datalake_project_spark import catalog, get_spark

    catalog.load_all()
    spark = get_spark("oracle-check")
    con = duck_connect(sf_dir)
    failed = []
    timings: "dict[str, tuple] | None" = {} if with_timings else None
    for name, builder in sorted(catalog.QUERIES.items()):
        if only and name not in only:
            continue
        try:
            res = compare_query(
                spark, con, name, builder, catalog.ORACLE.get(name), sf_dir,
                timings=timings,
            )
        except Exception as e:  # noqa: BLE001
            res = {"name": name, "ok": False, "problems": [f"EXCEPTION {e}"]}
        status = "OK " if res["ok"] else "FAIL"
        print(f"[{status}] {name} ({res.get('mode','?')}, rows={res.get('rows','?')})")
        for p in res.get("problems", []):
            print(f"       {p}")
        if not res["ok"]:
            failed.append(name)
    if timings:
        _write_timings(sf_dir, timings)
    print(f"\n{len(failed)} failures" + (f": {failed}" if failed else ""))
    return 1 if failed else 0


def _write_timings(sf_dir: str, timings: "dict[str, tuple]") -> None:
    """Replace the 'oracle-gate cold/warm timings' section of SCALE.md:
    every query's first (cold: codegen+JIT) and second (warm) Spark
    execution from THIS correctness run — a second within-session
    timing source that costs no extra sweep and is immune to the
    host-level cross-run variance documented below."""
    total_cold = sum(c for c, _ in timings.values())
    total_warm = sum(w for _, w in timings.values())
    lines = [
        "",
        "## Oracle-gate cold/warm timings",
        "",
        f"Generated by `tools/check_oracle.py {sf_dir} --timings`: each",
        "catalog query's first (cold) and second (warm) Spark execution",
        "within one correctness run — no extra sweep, back-to-back, so",
        "the cold/warm ratio is immune to host-level cross-run variance.",
        "NOTE: this times builder + `collect()` (full result transfer to",
        "the driver, as the correctness compare requires) — queries with",
        "wide/array outputs carry serialization cost bench.py's",
        "count()-based steady-state numbers deliberately exclude; compare",
        "within this table, not against BENCH files.",
        f"Totals: cold {total_cold:.1f}s, warm {total_warm:.1f}s over",
        f"{len(timings)} queries.",
        "",
        "| query | cold | warm | cold/warm |",
        "|---|---|---|---|",
    ]
    for name in sorted(timings, key=lambda n: -timings[n][1]):
        c, w = timings[name]
        lines.append(f"| {name} | {c:.2f}s | {w:.2f}s | {c / max(w, 1e-9):.1f} |")
    replace_section("SCALE.md", "## Oracle-gate cold/warm timings", lines)
    print(f"wrote cold/warm timing table ({len(timings)} queries) to SCALE.md")


def replace_section(path: str, header: str, lines: "list[str]") -> None:
    """Rewrite the section starting at `header` (through the next
    `## `-level header or EOF) in place, so repeated runs REPLACE
    their table instead of accumulating stale duplicates. Appends the
    section if the header is absent."""
    try:
        with open(path) as f:
            text = f.read()
    except FileNotFoundError:
        text = ""
    start = text.find(header)
    block = "\n".join(lines) + "\n"
    if start < 0:
        out = text + block
    else:
        # back up over ONE preceding newline (our block carries its own
        # leading blank line), keep the section separator intact
        if start > 0 and text[start - 1] == "\n":
            start -= 1
        nxt = text.find("\n## ", start + len(header))
        tail = "" if nxt < 0 else text[nxt:]
        out = text[:start] + block + tail
    with open(path, "w") as f:
        f.write(out)


if __name__ == "__main__":
    sys.exit(main())
