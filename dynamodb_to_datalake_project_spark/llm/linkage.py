"""Probabilistic record linkage — Fellegi-Sunter match-weight
estimation by EM (the splink/dedupe.io algorithm): learn, WITHOUT
labels, per-field probabilities m_k = P(field k agrees | match) and
u_k = P(agrees | non-match) plus the match prior λ, from nothing but
the census of per-pair agreement patterns; classify pairs by
posterior. This is the entity-resolution step a curation pipeline
runs after blocking (the blocking side — LSH/fuzzy-key candidate
generation — already lives in `llm.dedup`).

Spark-first shape: agreement patterns over 3 fields take only 8
values, so the distributed work is ONE pattern-census aggregation
(map + tiny groupBy); EM then runs over 8 COUNTS — a fixed, closed-
form expression DAG, not an iterative shuffle. Three rounds are
unrolled with every floating-point operation in a pinned order, so
the DuckDB oracle replays the arithmetic bit-for-bit (the k-means /
Bradley-Terry precedent).

Reference behavior generalized: the reference reconciles source and
lake by EXACT key equality (compare.py:17-26 scans and diffs on the
primary key); entity resolution is the same reconciliation when keys
are dirty — learned match weights replace exact equality.

`em_rounds` is the single source of truth for that arithmetic: the
Python evaluator and the SQL generator are derived from the same
term order, which is what makes the cross-engine hash equality
possible at all."""

from __future__ import annotations
from dynamodb_to_datalake_project_spark.rowmap import map_rows

#: EM initialization (documented constants; round count fixed at 3)
_INIT = {
    "lam": 0.25,
    "m": (0.9, 0.85, 0.8),
    "u": (0.35, 0.3, 0.1),
}
_ROUNDS = 3


def _bits(p: int) -> "tuple[int, int, int]":
    return (p >> 2) & 1, (p >> 1) & 1, p & 1


def em_fit(counts: "list[int]") -> dict:
    """Run the fixed 3-round EM over the 8 agreement-pattern counts
    (index p = a1*4 + a2*2 + a3). Returns {"lam", "m", "u",
    "posterior": [8 doubles]} — every operation in the same order
    the SQL oracle uses."""
    lam = _INIT["lam"]
    m = list(_INIT["m"])
    u = list(_INIT["u"])
    n = float(sum(counts))
    post = [0.0] * 8
    for _ in range(_ROUNDS):
        post = []
        for p in range(8):
            a = _bits(p)
            pm = lam
            pu = 1.0 - lam
            for k in range(3):
                pm = pm * (m[k] if a[k] else 1.0 - m[k])
                pu = pu * (u[k] if a[k] else 1.0 - u[k])
            post.append(pm / (pm + pu))
        tot_m = 0.0
        for p in range(8):
            tot_m = tot_m + counts[p] * post[p]
        lam = tot_m / n
        for k in range(3):
            num_m = 0.0
            num_u = 0.0
            for p in range(8):
                a = _bits(p)
                if a[k]:
                    num_m = num_m + counts[p] * post[p]
                    num_u = num_u + counts[p] * (1.0 - post[p])
            m[k] = num_m / tot_m
            u[k] = num_u / (n - tot_m)
    return {"lam": lam, "m": m, "u": u, "posterior": post}


def em_round_ctes(prev: str, idx: int) -> str:
    """One EM round as a CTE over the previous one (column names
    lam, m1..m3, u1..u3 in; same names out; posteriors come out as
    q0..q7). Term order mirrors `em_fit` exactly — left-associated
    sums in ascending pattern order. Two DuckDB traps handled here:
    bare numeric literals are DECIMAL (exact arithmetic would
    diverge from the double evaluator — every leaf literal is CAST
    to DOUBLE), and lateral aliases LOSE to real columns of the
    upstream CTE (so per-round working names are suffixed with the
    round index, then renamed in the outer select)."""

    def lit(x: float) -> str:
        return f"CAST({x!r} AS DOUBLE)"

    if idx == 1:
        lam = lit(_INIT["lam"])
        m = [lit(x) for x in _INIT["m"]]
        u = [lit(x) for x in _INIT["u"]]
    else:
        lam, m, u = "lam", ["m1", "m2", "m3"], ["u1", "u2", "u3"]
    qn = [f"q{idx}_{p}" for p in range(8)]
    cols = []
    for p in range(8):
        a = _bits(p)
        pm = lam
        pu = f"(1.0 - {lam})"
        for k in range(3):
            pm = f"({pm} * {m[k] if a[k] else f'(1.0 - {m[k]})'})"
            pu = f"({pu} * {u[k] if a[k] else f'(1.0 - {u[k]})'})"
        cols.append(f"({pm} / ({pm} + {pu})) AS {qn[p]}")
    tot = "0.0"
    for p in range(8):
        tot = f"({tot} + c{p} * {qn[p]})"
    cols.append(f"{tot} AS tot{idx}")
    cols.append(f"(tot{idx} / nn) AS lam{idx}")
    for k in range(3):
        nm = "0.0"
        nu = "0.0"
        for p in range(8):
            if _bits(p)[k]:
                nm = f"({nm} + c{p} * {qn[p]})"
                nu = f"({nu} + c{p} * (1.0 - {qn[p]}))"
        cols.append(f"({nm} / tot{idx}) AS m{k + 1}_{idx}")
        cols.append(f"({nu} / (nn - tot{idx})) AS u{k + 1}_{idx}")
    inner = (
        f"SELECT doc_id, pats, n, nn, "
        + ", ".join(f"c{p}" for p in range(8))
        + ", " + ", ".join(cols)
        + f" FROM {prev}"
    )
    outer = (
        f"SELECT doc_id, pats, n, nn, "
        + ", ".join(f"c{p}" for p in range(8))
        + ", " + ", ".join(f"{qn[p]} AS q{p}" for p in range(8))
        + f", lam{idx} AS lam, m1_{idx} AS m1, m2_{idx} AS m2,"
        + f" m3_{idx} AS m3, u1_{idx} AS u1, u2_{idx} AS u2,"
        + f" u3_{idx} AS u3"
        + f" FROM ({inner})"
    )
    return outer


def linkage_em_stats(docs):
    """Per doc: a planted pair corpus from the words — exact
    duplicates (pattern 7), suffix-corrupted near-duplicates
    (pattern 4: first char + nothing else... first char and not
    length/exact), and shifted non-match pairs whose agreement
    pattern is data-dependent — censused into the 8 pattern counts,
    then the fixed 3-round Fellegi-Sunter EM. Emits the learned
    parameters RAW (selection/divisions identical in both engines)
    plus the predicted-match census at posterior > 0.5."""

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [T.StructField("doc_id", T.LongType())]
        + [
            T.StructField(c, T.DoubleType())
            for c in ("lam", "m1", "m2", "m3", "u1", "u2", "u3")
        ]
        + [
            T.StructField("n_pairs", T.LongType()),
            T.StructField("n_match_pred", T.LongType()),
        ]
    )

    def row(did, text):
        words = [w for w in text.split(" ") if w]
        if not words:
            # n = 0 makes EM's tot_m / n a 0/0: the DuckDB
            # oracle yields NULL parameters there (DOUBLE
            # 0/0 -> NULL), and NULL > 0.5 is never true,
            # so pred = 0. Emit the same sentinel row
            # instead of raising ZeroDivisionError.
            yield did, *([None] * 7), 0, 0
            return
        n = len(words)
        counts = [0] * 8
        pats = []
        for i in range(n):
            a_w = words[i]
            if i % 3 == 0:
                p = 7
            elif i % 3 == 1:
                p = 4  # A vs A+'x': first char only
            else:
                b_w = words[(i + 7) % n]
                a1 = 1 if a_w[:1] == b_w[:1] else 0
                a2 = 1 if len(a_w) == len(b_w) else 0
                a3 = 1 if a_w == b_w else 0
                p = a1 * 4 + a2 * 2 + a3
            counts[p] += 1
            pats.append(p)
        fit = em_fit(counts)
        pred = sum(
            counts[p] for p in range(8)
            if fit["posterior"][p] > 0.5
        )
        m, u = fit["m"], fit["u"]
        yield did, fit["lam"], *m[:3], *u[:3], n, pred

    return map_rows(docs.select("doc_id", "text"), row, schema_t, spread=True)


def _oracle_sql() -> str:
    c_defs = ", ".join(
        f"CAST(len(list_filter(pats, x -> x = {p})) AS DOUBLE) AS c{p}"
        for p in range(8)
    )
    nn = "0.0"
    for p in range(8):
        nn = f"({nn} + c{p})"
    rounds = ""
    prev = "cc"
    for r in range(1, _ROUNDS + 1):
        rounds += f", r{r} AS ({em_round_ctes(prev, r)})"
        prev = f"r{r}"
    pred = " + ".join(
        f"CASE WHEN q{p} > 0.5 THEN CAST(c{p} AS BIGINT)"
        f" ELSE 0 END"
        for p in range(8)
    )
    return f"""
    WITH t AS (
      SELECT doc_id,
             list_filter(string_split(text, ' '), w -> w <> '') AS w
      FROM documents
    ), s AS (
      SELECT doc_id, w, len(w) AS n FROM t
    ), pp AS (
      SELECT doc_id, n,
        list_transform(range(0, n), i -> CASE
          WHEN i % 3 = 0 THEN 7
          WHEN i % 3 = 1 THEN 4
          ELSE
            (CASE WHEN substr(w[i + 1], 1, 1)
                       = substr(w[(i + 7) % n + 1], 1, 1)
                  THEN 4 ELSE 0 END)
          + (CASE WHEN length(w[i + 1]) = length(w[(i + 7) % n + 1])
                  THEN 2 ELSE 0 END)
          + (CASE WHEN w[i + 1] = w[(i + 7) % n + 1]
                  THEN 1 ELSE 0 END)
        END) AS pats
      FROM s
    ), cc AS (
      SELECT doc_id, pats, n, {c_defs}, {nn} AS nn FROM pp
    ){rounds}
    SELECT doc_id, lam, m1, m2, m3, u1, u2, u3,
           CAST(n AS BIGINT) AS n_pairs,
           CAST({pred} AS BIGINT) AS n_match_pred
    FROM r{_ROUNDS}
    """


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query("linkage_em_weights", oracle=_oracle_sql())
    def q_linkage_em_weights(spark, sf_dir):
        """Fellegi-Sunter EM over planted duplicate/near-duplicate/
        non-match pairs: the 8-pattern census is the only
        distributed pass; 3 unrolled EM rounds in a pinned operation
        order let DuckDB replay every double bit-for-bit (the
        Python evaluator and the SQL text come from the same
        generator, `em_sql`). Output: learned λ, m/u per field and
        the posterior>0.5 match census."""
        docs = load_table(spark, sf_dir, "documents")
        return linkage_em_stats(docs)


_register()
