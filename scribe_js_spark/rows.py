"""The Python-worker boundary shared by every per-document UDF.

Each operator that turns a column of documents into rows hands
:func:`map_rows` only its per-row logic. This module owns the rest:
Spark ships a partition to a Python worker as Arrow batches (bounded
by the record and byte caps in ``pipeline.session_conf``), each batch
arrives as pandas columns, the per-row function runs once per row, and
the rows it yields go back as one pandas batch per input batch.
"""

from __future__ import annotations

from typing import Callable, Iterable, Sequence, Union

from pyspark.sql import Column, DataFrame
from pyspark.sql.types import (
    BinaryType,
    DataType,
    IntegralType,
    StructType,
)


def map_rows(df: DataFrame, cols: Sequence[Union[str, Column]],
             fn: Callable[..., Iterable[tuple]],
             schema: Union[StructType, str]) -> DataFrame:
    """Call ``fn(*values)`` once per row of ``df.select(*cols)`` and
    return every tuple it yields as a row of ``schema``.

    - ``fn`` may yield any number of tuples (zero drops the row), each
      in ``schema`` field order.
    - Binary values arrive as ``bytes``; nulls arrive as ``None``.
    - Nothing is caught here: an exception raised by ``fn`` fails the
      task, so each caller keeps its own error policy.
    - An input batch whose rows yield nothing still emits an empty
      batch that carries every ``schema`` column.
    """
    if isinstance(schema, str):
        schema = DataType.fromDDL(schema)
    names = schema.names
    # Integer columns go out as nullable Int64: a plain list holding a
    # None becomes float64 in pandas and rounds 64-bit values.
    integral = [isinstance(f.dataType, IntegralType) for f in schema.fields]
    src = df.select(*cols)
    binary = [i for i, f in enumerate(src.schema.fields)
              if isinstance(f.dataType, BinaryType)]

    def run(batches):
        import pandas as pd

        for pdf in batches:
            columns = [pdf.iloc[:, i] for i in range(pdf.shape[1])]
            for i in binary:
                columns[i] = [None if v is None else bytes(v)
                              for v in columns[i]]
            rows = [out for values in zip(*columns) for out in fn(*values)]
            out_cols = list(zip(*rows)) if rows else [()] * len(names)
            yield pd.DataFrame({
                name: (pd.array(list(vals), dtype="Int64") if is_int
                       else list(vals))
                for name, is_int, vals in zip(names, integral, out_cols)})

    return src.mapInPandas(run, schema=schema)
