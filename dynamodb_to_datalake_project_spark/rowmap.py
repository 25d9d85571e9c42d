"""One Arrow row-kernel mechanism for the per-document Python operators.

`map_rows(df, fn, schema)` runs `fn(*row)` over every row of `df` inside
one `DataFrame.mapInArrow` stage:

- each input `pa.RecordBatch` is turned into Python values column by
  column (`to_pylist`), so a null is `None`, a `long` stays an exact
  int whatever else its batch holds, binary is `bytes`, arrays are
  lists, structs are dicts and maps are lists of `(key, value)` pairs;
- `fn` is a generator that yields zero or more output tuples in schema
  order per input row, which covers 1:1 kernels, 1:N kernels (frame
  sampling, line decoders) and filters alike;
- each input batch gives one output batch, built with
  `pa.RecordBatch.from_arrays` in `to_arrow_schema(schema)`, so every
  output column comes back typed as declared, with no hand-written type
  map.

`spread=True` repartitions the input to `spark.sql.shuffle.partitions`
first: the real per-document codec work on a one- or two-split parquet
input would otherwise run on one or two cores. It is off by default, so
a binary-payload kernel that must not gain an Exchange gets none.

Kernels that compute across a whole batch (vectorised numpy passes,
sketch folds, broadcast joins) keep their own `mapInPandas` form.
"""

from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql import types as T
from pyspark.sql.pandas.types import to_arrow_schema


def map_rows(
    df: DataFrame,
    fn: Callable[..., Iterable[tuple]],
    schema: T.StructType | str,
    *,
    spread: bool = False,
) -> DataFrame:
    """`fn(*row)` over every row of `df`, its output tuples typed as `schema`."""
    if isinstance(schema, str):
        schema = T.StructType.fromDDL(schema)
    arrow_schema = to_arrow_schema(schema)
    width = len(arrow_schema)

    def op(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        for batch in batches:
            args = zip(*(c.to_pylist() for c in batch.columns))
            rows = [r for a in args for r in fn(*a)]
            cols = list(zip(*rows)) if rows else [()] * width
            yield pa.RecordBatch.from_arrays(
                [pa.array(c, type=f.type) for c, f in zip(cols, arrow_schema)],
                schema=arrow_schema,
            )

    if spread:
        spark = df.sparkSession
        df = df.repartition(int(spark.conf.get("spark.sql.shuffle.partitions")))
    return df.mapInArrow(op, schema)
