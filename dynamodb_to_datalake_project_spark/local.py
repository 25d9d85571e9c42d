"""One driver-local size gate for the operators with a second, local path.

Several operators pick between a distributed plan and a plain numpy or
Python pass on the driver by the size of a relation they already hold:
connected components and triangle counting (`graph.py`), the BPE
trainer (`llm/bpe.py`) and the CDC upsert (`merge.py`). Each decision
is made here, the same way:

- `collect_bounded(df, max_rows)` is the relation as one Arrow table
  from one Spark job, `limit(max_rows + 1)`: more than `max_rows` rows
  back means over budget, and the caller runs its distributed path.
  There is no separate count job.
- `collect_ids` adds the integer-id guard. It reads the Spark schema
  before any job, so string, float and decimal ids never reach the
  collect: numpy's order of strings need not be SQL's, and an int64
  array would truncate a float or a decimal.
- `ids_frame` is the cast back. The driver computes on int64 arrays;
  the result comes back typed as the input's id column, as the
  distributed path's does.

Callers reach the collect through this module's attribute
(`local.collect_bounded`), so one `monkeypatch` of it to return None
forces every gated operator onto its distributed path.
"""

from __future__ import annotations

import numpy as np
import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def collect_bounded(df: DataFrame, max_rows: int) -> "pa.Table | None":
    """`df` as one Arrow table from one Spark job, or None when it has
    more than `max_rows` rows."""
    table = df.limit(max_rows + 1).toArrow()
    return table if table.num_rows <= max_rows else None


def collect_ids(df: DataFrame, max_rows: int) -> "dict[str, np.ndarray] | None":
    """Every column of `df` as an int64 numpy array, through
    `collect_bounded`. None when `df` is over budget, or, before any
    Spark job, when a column is not integral. The columns hold no
    nulls (the callers' canonical edge sets filter them out)."""
    if not all(isinstance(f.dataType, T.IntegralType) for f in df.schema.fields):
        return None
    table = collect_bounded(df, max_rows)
    if table is None:
        return None
    return {
        name: table.column(name).to_numpy().astype(np.int64, copy=False)
        for name in table.column_names
    }


def ids_frame(
    spark: SparkSession, columns: "dict[str, np.ndarray]", id_type: T.DataType
) -> DataFrame:
    """Numpy id `columns`, computed on the driver as int64, as a
    DataFrame whose every column is typed as the input ids (`id_type`)."""
    schema = T.StructType([T.StructField(name, id_type) for name in columns])
    return spark.createDataFrame(pa.table(columns), schema)
