"""`rowmap.map_rows`: the one Arrow row-kernel mechanism.

Each property is checked by collecting what the helper returns: exact
nullable longs (the pandas hop's float64 round trip is run alongside as
the contrast), 0/1/N rows per input, empty input, every declared output
type, and the one place that spreads the work."""

from __future__ import annotations

import datetime
from decimal import Decimal

from pyspark.sql import types as T

from dynamodb_to_datalake_project_spark.rowmap import map_rows

BIG = 2**53 + 1  # the first long a float64 cannot hold


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


def test_nullable_long_stays_exact(spark):
    # one partition, one Arrow batch: the big value shares it with a null
    df = spark.createDataFrame([(BIG,), (None,)], "v long").coalesce(1)

    def same(v):
        yield (v,)

    got = [r.v for r in map_rows(df, same, "v long").collect()]
    assert got == [BIG, None]

    def pandas_same(batches):
        yield from batches

    lossy = [r.v for r in df.mapInPandas(pandas_same, "v long").collect()]
    assert lossy == [2**53, None]  # what the float64 hop does to the same batch


def test_zero_one_or_many_rows_per_input(spark):
    df = spark.range(9).coalesce(1)

    def fan(i):
        for j in range((0, 1, 3)[i % 3]):
            yield i, j

    got = sorted(tuple(r) for r in map_rows(df, fan, "i long, j long").collect())
    want = [(i, j) for i in range(9) for j in range((0, 1, 3)[i % 3])]
    assert got == want


def test_empty_input_and_empty_partitions(spark):
    def same(i):
        yield (i,)

    empty = map_rows(spark.range(10).filter("id < 0"), same, "id long")
    assert empty.collect() == []
    assert empty.schema == T.StructType([T.StructField("id", T.LongType())])

    sparse = spark.range(3).repartition(8)  # most partitions get no rows
    assert sorted(r.id for r in map_rows(sparse, same, "id long").collect()) == [0, 1, 2]


def test_outputs_come_back_typed_as_declared(spark):
    schema = T.StructType(
        [
            T.StructField("dec", T.DecimalType(38, 9)),
            T.StructField("ts", T.TimestampType()),
            T.StructField("bin", T.BinaryType()),
            T.StructField("arr", T.ArrayType(T.LongType())),
            T.StructField("m", T.MapType(T.StringType(), T.LongType())),
            T.StructField(
                "st",
                T.StructType(
                    [T.StructField("a", T.LongType()), T.StructField("b", T.StringType())]
                ),
            ),
        ]
    )
    dec = Decimal("12345678901234567890123456789.123456789")
    ts = datetime.datetime(2024, 2, 29, 23, 59, 58, 123456)

    def typed(i):
        yield dec, ts, bytes([i, 255]), [BIG, None], {"k": BIG}, (i, f"s{i}")

    out = map_rows(spark.range(2).coalesce(1), typed, schema)
    assert out.schema == schema
    rows = sorted(out.collect(), key=lambda r: r.st.a)
    for i, r in enumerate(rows):
        assert r.dec == dec
        assert r.ts == ts  # the session timezone is UTC
        assert r.bin == bytes([i, 255])
        assert r.arr == [BIG, None]
        assert r.m == {"k": BIG}
        assert (r.st.a, r.st.b) == (i, f"s{i}")


def test_input_values_arrive_as_python_values(spark):
    df = spark.createDataFrame(
        [(b"\x00\x01", [1, None], {"k": 2}, ("x", 3))],
        "b binary, a array<long>, m map<string,long>, s struct<n:string,v:long>",
    )

    def kinds(b, a, m, s):
        yield repr((type(b).__name__, a, sorted(m), s)),

    (got,) = map_rows(df, kinds, "r string").collect()
    assert got.r == repr(("bytes", [1, None], [("k", 2)], {"n": "x", "v": 3}))


def test_spread_is_the_one_repartition(spark):
    def same(i):
        yield (i,)

    par = int(spark.conf.get("spark.sql.shuffle.partitions"))
    spread = map_rows(spark.range(100), same, "id long", spread=True)
    assert spread.rdd.getNumPartitions() == par
    assert "Exchange" in _plan(spread) and "MapInArrow" in _plan(spread)

    local = map_rows(spark.range(100), same, "id long")
    assert "Exchange" not in _plan(local) and "MapInArrow" in _plan(local)
    assert sorted(r.id for r in spread.collect()) == list(range(100))
