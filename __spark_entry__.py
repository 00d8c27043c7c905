"""Registry entry points of the PySpark engine.

``entry(spark)`` — flagship query smoke on sf0.001.
``queries()`` — every implemented operator from SURVEY.md §2 (plus the
beyond-reference pipeline operators), as (spark, sf_dir) -> DataFrame.
``oracle_sql()`` — DuckDB twins for the differential check.

Implementation lives in ``zarr_datafusion_spark``; this module only
aggregates the per-module registries.
"""

from __future__ import annotations

import os
import sys
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    TPC-H-Q1-style pricing summary: scan -> filter -> groupBy ->
    multi-agg -> sort (SURVEY §7 phase 1 minimum slice).
    """
    from zarr_datafusion_spark.operators.relational import agg_groupby

    df = agg_groupby(spark, "/root/testdata/sf0.001")
    return df.orderBy("l_returnflag", "l_linestatus")


def _modules() -> tuple:
    from zarr_datafusion_spark.operators import (
        dedup,
        extras,
        multimodal,
        relational,
        similarity,
        streaming_queries,
        temporal,
        textstats,
        zarr_queries,
    )

    return (
        zarr_queries,
        temporal,
        dedup,
        similarity,
        multimodal,
        textstats,
        streaming_queries,
        relational,
        extras,
    )


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """Every registry entry: oracle-backed entries first, then the
    rows-only ones, each group in module order.  A name registered by
    two modules raises instead of one silently shadowing the other."""
    mods = _modules()
    seen: set[str] = set()
    for mod in mods:
        dup = seen & mod.QUERIES.keys()
        if dup:
            raise ValueError(f"duplicate query names in {mod.__name__}: {dup}")
        seen |= mod.QUERIES.keys()
    return {
        name: fn
        for with_oracle in (True, False)
        for mod in mods
        for name, fn in mod.QUERIES.items()
        if (name in mod.ORACLE) is with_oracle
    }


def oracle_sql() -> dict[str, str]:
    """DuckDB twin SQL for every oracle-backed entry of :func:`queries`."""
    qs = queries()
    return {
        name: sql
        for mod in _modules()
        for name, sql in mod.ORACLE.items()
        if name in qs
    }
