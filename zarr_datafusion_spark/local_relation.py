"""Rows that already sit on the driver, handed to Spark with no job.

``spark.createDataFrame(arrow_table, schema)`` makes a ``LocalRelation``.
Collecting one runs no Spark job, and Catalyst folds a Filter or
Project above it into a new ``LocalRelation`` while optimizing
(``ConvertToLocalRelation``), so those run on the driver too.  Two
layers answer through :func:`frame` when their answer is driver-sized:
the statistics rewrites for every scan-free answer, and the Zarr
reader for a pruned window the driver reads itself
(``read_zarr(filters=...)``).  The rows are a snapshot taken when the
frame is built.
"""

from __future__ import annotations

import calendar
from datetime import datetime

import pyarrow as pa
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.pandas.types import to_arrow_type
from pyspark.sql.types import StructType, TimestampType

_UTC_US = pa.timestamp("us", tz="UTC")


def _epoch_us(value) -> int:
    """Microseconds since the epoch of a UTC instant; a naive
    ``datetime`` is read as UTC, never in the driver's OS timezone
    (statistics hold UTC instants)."""
    if isinstance(value, datetime):
        return calendar.timegm(value.utctimetuple()) * 1_000_000 + value.microsecond
    return int(value)


def _column(values, dtype) -> pa.Array:
    if isinstance(values, (pa.Array, pa.ChunkedArray)):
        if pa.types.is_timestamp(values.type) and values.type.tz is None:
            # the Zarr reader emits naive UTC microseconds, which Spark
            # reads as epoch values; label them UTC so createDataFrame
            # does not localize them in the session timezone
            return values.cast(pa.timestamp(values.type.unit, tz="UTC"))
        return values
    if isinstance(dtype, TimestampType):
        return pa.array(
            [None if v is None else _epoch_us(v) for v in values], pa.int64()
        ).cast(_UTC_US)
    return pa.array(values, to_arrow_type(dtype))


def frame(spark: SparkSession, schema: StructType, columns: list) -> DataFrame:
    """A ``LocalRelation`` typed by ``schema`` whose columns are
    ``columns``, each an Arrow array or a list of Python values."""
    table = pa.Table.from_arrays(
        [_column(c, f.dataType) for c, f in zip(columns, schema.fields)],
        names=schema.names,
    )
    return spark.createDataFrame(table, schema)
