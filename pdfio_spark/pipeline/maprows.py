"""The one row -> Arrow batch encoder behind every `mapInArrow` UDF.

A UDF states what it computes per input row; `map_rows` owns the batch
format. Its DDL string is the UDF's only output-schema declaration: the
Arrow schema of every batch is derived from it once, on the driver.
"""
from __future__ import annotations

from collections.abc import Callable, Iterable, Iterator

import pyarrow as pa
from pyspark.sql import DataFrame
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType

__all__ = ["map_rows"]


def map_rows(df: DataFrame, cols: list[str], ddl: str,
             rows: Callable[..., Iterable[tuple]]) -> DataFrame:
    """`df.select(*cols)` through one Arrow-batched Python UDF.

    For each input row, `rows(*values)` gets the `cols` values (NULL as
    None) and yields 0..n output tuples in `ddl` column order. Each
    input batch becomes one output batch of the DDL's types, empty or
    not. Error policy is the caller's: `rows` skips a bad row or yields
    an error row itself; an exception it lets escape fails the task."""
    schema = to_arrow_schema(StructType.fromDDL(ddl))

    def udf(batches: Iterator[pa.RecordBatch]) -> Iterator[pa.RecordBatch]:
        return _encode(batches, rows, schema)

    return df.select(*cols).mapInArrow(udf, ddl)


def _encode(batches: Iterator[pa.RecordBatch], rows, schema: pa.Schema,
            ) -> Iterator[pa.RecordBatch]:
    # module-level, so unpickling a UDF on a worker imports this package
    # and with it the archive-cache pin of pipeline/__init__.py
    for batch in batches:
        out = [r for values in zip(*(c.to_pylist() for c in batch.columns))
               for r in rows(*values)]
        # strict: a tuple of the wrong width fails the task, never
        # shifts or drops a column
        columns = list(zip(*out, strict=True)) or [()] * len(schema)
        yield pa.RecordBatch.from_arrays(
            [pa.array(c, f.type)
             for c, f in zip(columns, schema, strict=True)],
            schema=schema)
