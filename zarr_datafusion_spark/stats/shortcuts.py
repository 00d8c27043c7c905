"""COUNT/MIN/MAX-from-statistics query rewrite (no scan).

Spark-native rebuild of the reference's two custom DataFusion optimizer
rules:

* ``src/optimizer/count_optimization.rs:37-241`` — ``SELECT COUNT(*)
  [, COUNT(col) ...] FROM t`` with no WHERE / GROUP BY rewritten to a
  literal projection, guarded on exact row counts and exact null counts.
* ``src/optimizer/minmax_optimization.rs:43-239`` — ``SELECT MIN(col) /
  MAX(col) FROM t`` answered from exact column bounds.

Catalyst has no hook for source-provided exact stats on arbitrary
tables (its ``OptimizeMetadataOnlyQuery`` covers partition metadata
only), so per SURVEY §2 A7/A8 the rewrite lives at the engine-API
layer: ``Engine.sql()`` parses the statement once
(:mod:`~zarr_datafusion_spark.stats.statement`), and this rewrite
answers the narrow agg-only shape from cached
:class:`~zarr_datafusion_spark.engine.TableStats`, falling through to
``spark.sql`` for anything else.  The guard
discipline mirrors the reference: any deviation (a WHERE, a GROUP BY, a
join, a non-agg item, a column without exact stats) bails to the full
plan — correctness never depends on the shortcut.

The answer is a one-row ``LocalRelation``
(:func:`~zarr_datafusion_spark.local_relation.frame`, the analog of
DataFusion's one-row ``EmptyRelation`` at
``count_optimization.rs:311-328``): its physical plan contains no file
scan, which tests assert the same way the reference asserts
``assert_no_zarr_exec`` (``tests/common/mod.rs:118-124``), and
collecting it runs no Spark job.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import LongType, StructField, StructType


def try_stats_shortcut(
    spark: SparkSession, stmt, schema: dict, stats
) -> DataFrame | None:
    """Return a scan-free one-row DataFrame answering ``stmt`` (a parsed
    :class:`~zarr_datafusion_spark.stats.statement.Statement`) from the
    table's exact ``stats``, or ``None`` if it isn't a bare
    COUNT/MIN/MAX list (the caller then runs the full plan)."""
    if (
        stats is None
        or stmt.where is not None
        or stmt.group is not None
        or stmt.order
        or stmt.limit is not None
    ):
        return None

    fields, values = [], []
    for item in stmt.items:
        fn, arg = item.fn, item.arg
        if fn == "count":
            if arg in ("*", "1"):
                value = stats.row_count
            else:
                # COUNT(col) = rows - nulls; requires exact null count
                # (guard parity: count_optimization.rs null_count check).
                if arg not in stats.column_null_count or arg not in schema:
                    return None
                value = stats.row_count - stats.column_null_count[arg]
            # the item's Spark output name and type, so shortcut and
            # fallback schemas are identical for unaliased queries
            fields.append(StructField(item.name, LongType(), nullable=False))
        elif fn in ("min", "max"):
            if arg not in stats.column_min_max or arg not in schema:
                return None
            lo, hi = stats.column_min_max[arg]
            value = lo if fn == "min" else hi
            fields.append(StructField(item.name, schema[arg], nullable=True))
        else:  # a bare column, SUM or AVG
            return None
        values.append([value])

    from zarr_datafusion_spark.local_relation import frame

    return frame(spark, StructType(fields), values)
