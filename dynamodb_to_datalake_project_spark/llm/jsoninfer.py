"""Distributed JSON schema inference — the missing half of the S1
schema-first contract. `lake.read_json_lines` demands an explicit
schema because inference at 100 TB cannot be a driver-side sampling
pass; THIS operator is how that schema gets produced: one map-only
walk emits (group, path, type) observations, one shuffle merges them
per group through a type lattice, and the result is the per-source
schema census (merged type, presence count, conflict count) a lake
catalog stores.

Reference behavior generalized: the reference hard-codes its table
schema into the Glue job (glue_jobs/initial_load.py:124-154 knows
`pk/sk/...` up front); schema inference is what a user runs FIRST on
an unknown export before writing that job.

Spark-first shape: the JSON walk is one Arrow stage (strings in,
path/type rows out — linear in payload bytes, parallel by partition);
everything after is pure Catalyst (groupBy + array-lattice CASE), so
the merge is a normal partial-aggregated shuffle, no driver state.

Type names align with DuckDB's json taxonomy so the oracle can speak
the same language: BIGINT, DOUBLE, VARCHAR, BOOLEAN, NULL, OBJECT,
ARRAY. Lattice: NULL is the bottom (merges into anything);
{BIGINT, DOUBLE} -> DOUBLE; any other conflict -> VARCHAR (stringify
is the universal fallback)."""

from __future__ import annotations

import json

from pyspark.sql import DataFrame, functions as F

from dynamodb_to_datalake_project_spark.rowmap import map_rows


def json_type_observations(df: DataFrame, group_col: str, json_col: str) -> DataFrame:
    """Map-only walk: one row per (group, json path, observed type)
    per input row. Paths use `$.a.b` for objects and `$.a[*]` for
    array elements (element observations are deduplicated per row —
    presence, not multiplicity). Malformed JSON rows are quarantined
    as path `$` type `MALFORMED` instead of failing the scan."""

    from pyspark.sql import types as T

    schema_t = T.StructType(
        [
            T.StructField("grp", T.StringType()),
            T.StructField("path", T.StringType()),
            T.StructField("jtype", T.StringType()),
        ]
    )

    def classify(v) -> str:
        if v is None:
            return "NULL"
        if isinstance(v, bool):
            return "BOOLEAN"
        if isinstance(v, int):
            return "BIGINT"
        if isinstance(v, float):
            return "DOUBLE"
        if isinstance(v, str):
            return "VARCHAR"
        if isinstance(v, list):
            return "ARRAY"
        return "OBJECT"

    def walk(v, path, out):
        out.add((path, classify(v)))
        if isinstance(v, dict):
            for k, sub in v.items():
                walk(sub, f"{path}.{k}", out)
        elif isinstance(v, list):
            for el in v:
                walk(el, f"{path}[*]", out)

    def row(g, blob):
        obs: set = set()
        try:
            walk(json.loads(blob), "$", obs)
        except (ValueError, RecursionError):
            obs = {("$", "MALFORMED")}
        for p, t in obs:
            yield g, p, t

    return map_rows(df.select(group_col, json_col), row, schema_t)


def infer_json_schema(df: DataFrame, group_col: str, json_col: str) -> DataFrame:
    """Per (group, path): presence count, number of distinct observed
    types, and the lattice-merged type. The merge is pure Catalyst
    over the collected type set:

      non-null set empty          -> NULL
      single type                 -> itself
      exactly {BIGINT, DOUBLE}    -> DOUBLE
      anything else               -> VARCHAR
    """
    obs = json_type_observations(df, group_col, json_col)
    ts = F.array_sort(F.collect_set("jtype"))
    nn = F.filter(ts, lambda x: x != F.lit("NULL"))
    merged = (
        F.when(F.size(nn) == 0, F.lit("NULL"))
        .when(F.size(nn) == 1, F.element_at(nn, 1))
        .when(nn == F.array(F.lit("BIGINT"), F.lit("DOUBLE")), F.lit("DOUBLE"))
        .otherwise(F.lit("VARCHAR"))
    )
    return (
        obs.groupBy("grp", "path")
        .agg(
            F.count(F.lit(1)).alias("n_present"),
            F.size(F.array_sort(F.collect_set("jtype"))).cast("long")
            .alias("n_types"),
            merged.alias("merged_type"),
        )
        .orderBy("grp", "path")
    )


def _fixture_json(docs: DataFrame) -> DataFrame:
    """Deterministic nested-JSON payloads from the documents table —
    every schema-inference behavior planted by formula: type
    conflict ($.score int on even ids, float on odd), optional paths
    ($.flag on id%5==0, $.tags on id%3!=0, $.extra null on id%7==0),
    nesting ($.meta.*), arrays ($.tags[*]). Built in pure Catalyst
    so the op under test is the INFERENCE, not the generator."""
    def jstr(c):
        # JSON string literal with proper escaping, JVM-side:
        # to_json({"x": c}) = `{"x":<literal>}` -> strip 5 + 1 chars
        j = F.to_json(F.struct(c.alias("x")))
        return j.substr(F.lit(6), F.length(j) - 6)

    first_words = F.array_join(
        F.slice(F.split(F.col("text"), " "), 1, 5), " "
    )
    d = F.col("doc_id")
    score = F.when(
        d % 2 == 0, d.cast("string")
    ).otherwise(F.concat(d.cast("string"), F.lit(".5")))
    payload = F.concat(
        F.lit('{"id": '), d.cast("string"),
        F.lit(', "text": '), jstr(first_words),
        F.lit(', "score": '), score,
        F.when(d % 5 == 0, F.lit(', "flag": true')).otherwise(F.lit("")),
        F.when(
            d % 3 != 0,
            F.concat(
                F.lit(', "tags": ['), jstr(F.col("lang")),
                F.lit(", "), jstr(F.col("source")), F.lit("]"),
            ),
        ).otherwise(F.lit("")),
        F.lit(', "meta": '), F.to_json(
            F.struct(F.col("lang"), F.col("n_chars").alias("n"))
        ),
        F.when(d % 7 == 0, F.lit(', "extra": null')).otherwise(F.lit("")),
        F.lit("}"),
    )
    return docs.select(F.col("source").alias("src"), payload.alias("js"))


def _register() -> None:
    from dynamodb_to_datalake_project_spark.catalog import query
    from dynamodb_to_datalake_project_spark.lake import load_table

    @query(
        "json_schema_infer",
        oracle="""
        WITH d AS (
          SELECT source AS grp, doc_id AS d FROM documents
        ), c AS (
          SELECT grp,
                 CAST(count(*) AS BIGINT) AS n,
                 CAST(count(*) FILTER (d % 2 = 0) AS BIGINT) AS n_even,
                 CAST(count(*) FILTER (d % 2 = 1) AS BIGINT) AS n_odd,
                 CAST(count(*) FILTER (d % 5 = 0) AS BIGINT) AS n_flag,
                 CAST(count(*) FILTER (d % 3 <> 0) AS BIGINT) AS n_tags,
                 CAST(count(*) FILTER (d % 7 = 0) AS BIGINT) AS n_extra
          FROM d GROUP BY grp
        )
        SELECT grp, path, n_present, n_types, merged_type FROM (
          SELECT grp, '$' AS path, n AS n_present,
                 CAST(1 AS BIGINT) AS n_types, 'OBJECT' AS merged_type
          FROM c
          UNION ALL
          SELECT grp, '$.id', n, 1, 'BIGINT' FROM c
          UNION ALL
          SELECT grp, '$.text', n, 1, 'VARCHAR' FROM c
          UNION ALL
          SELECT grp, '$.score', n,
                 CASE WHEN n_even > 0 AND n_odd > 0 THEN 2 ELSE 1 END,
                 CASE WHEN n_odd > 0 THEN 'DOUBLE' ELSE 'BIGINT' END
          FROM c
          UNION ALL
          SELECT grp, '$.flag', n_flag, 1, 'BOOLEAN' FROM c
          WHERE n_flag > 0
          UNION ALL
          SELECT grp, '$.tags', n_tags, 1, 'ARRAY' FROM c
          WHERE n_tags > 0
          UNION ALL
          SELECT grp, '$.tags[*]', n_tags, 1, 'VARCHAR' FROM c
          WHERE n_tags > 0
          UNION ALL
          SELECT grp, '$.meta', n, 1, 'OBJECT' FROM c
          UNION ALL
          SELECT grp, '$.meta.lang', n, 1, 'VARCHAR' FROM c
          UNION ALL
          SELECT grp, '$.meta.n', n, 1, 'BIGINT' FROM c
          UNION ALL
          SELECT grp, '$.extra', n_extra, 1, 'NULL' FROM c
          WHERE n_extra > 0
        )
        ORDER BY grp, path
        """,
    )
    def q_json_schema_infer(spark, sf_dir):
        """Schema inference over formula-planted nested JSON: the
        Arrow walk observes every (path, type) per row, the Catalyst
        lattice merges per source — int/float conflicts resolve to
        DOUBLE, optional paths carry presence counts, nulls type as
        NULL. The oracle predicts the entire census from the
        planting formulas, so a single wrong observation anywhere
        flips the hash."""
        docs = load_table(spark, sf_dir, "documents")
        return infer_json_schema(_fixture_json(docs), "src", "js")


_register()
