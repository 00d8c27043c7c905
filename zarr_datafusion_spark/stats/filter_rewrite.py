"""SQL-surface chunk-skipping for registered Zarr tables.

``register_zarr`` keeps its named view in the multi-query-safe LAZY
mode (eager window narrowing bakes one query's pruned partitions into
Spark's per-relation plan cache — ADVICE r9).  That safety choice
would strand SQL users without chunk skipping entirely, so the engine
instead rewrites each eligible statement onto a FRESH pruned relation:

    SELECT cols FROM t WHERE var > x AND coord BETWEEN a AND b

becomes ``read_zarr(store, eager_pushdown=True,
data_filter_pushdown=True).filter(pred).select(cols)`` — a new
relation per query, so nothing cacheable survives to poison the next
statement, while the scan skips every chunk row the coordinate windows
and the per-chunk-row data statistics prove empty.  Results are
identical to the view's by the Inexact contract: Spark re-applies the
full predicate; pruning only ever removes provably-empty chunk rows
(NaN-is-largest rules included — they live in the source pruner).

When the pruned window is small, the driver reads it itself.  The
chunk-stats sidecar bounds the window first: the rows of the outer
chunk rows that the outer-coordinate conjuncts cannot rule out.  Below
the reader's split threshold (one partition at any parallelism) the
rewrite hands ``read_zarr`` the filters Spark would push
(``read_zarr(filters=...)``); the driver then plans the window with the
source's own reader and, if it still plans below the threshold, reads
it as a ``LocalRelation``.  Catalyst folds the re-applied filter and
projection into it, so collecting the answer runs no Spark job and no
Python worker.  Such an answer is a snapshot of the store taken at
``Engine.sql`` time, where a distributed relation reads the chunk
files when an action runs.  A bigger window, by the sidecar bound or
by the plan, keeps the distributed pruned scan, and the sidecar bound
keeps the driver from planning a window it would not read.  Either way
each read opens only the arrays the statement references
(``read_zarr(columns=...)``).

Guards: plain column projection, a WHERE of parsed conjuncts
(:mod:`~zarr_datafusion_spark.stats.statement`; every column in the
table schema), no GROUP BY / ORDER BY / LIMIT (those routes belong to
the aggregate and top-k rewrites).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from zarr_datafusion_spark.stats.statement import (
    classify,
    predicate,
    pushed_filters,
)


def try_filter_rewrite(
    spark: SparkSession, stmt, schema: dict, store: str
) -> DataFrame | None:
    """Rewrite an eligible filtered SELECT onto a fresh pruned scan, or
    return ``None`` (the registered lazy view answers)."""
    if (
        stmt.where is None
        or stmt.group is not None
        or stmt.order
        or stmt.limit is not None
    ):
        return None
    cols = stmt.columns(schema)
    if cols is None or any(c not in schema for c, _, _ in stmt.where):
        return None

    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(
        spark,
        store,
        columns=stmt.referenced(schema),
        eager_pushdown=True,
        data_filter_pushdown=True,
        filters=_driver_filters(spark, stmt, schema, store),
    )
    out = df.filter(predicate(stmt.where)).select(*cols)
    out._zds_shortcut_kind = "pruned"
    return out


def _driver_filters(spark, stmt, schema: dict, store: str) -> list | None:
    """The filters for a driver read of ``stmt``'s window, or ``None``
    when the sidecar puts the window at or above the reader's split
    threshold (or cannot bound it): the driver then plans nothing and
    Spark scans distributed."""
    from zarr_datafusion_spark.stats.chunk_stats import compute_zarr_chunk_stats
    from zarr_datafusion_spark.zarr.datasource import ZarrDataSourceReader

    try:
        stats = compute_zarr_chunk_stats(spark, store)
    except Exception:
        return None
    C, shape0 = stats.get("outer_chunk"), stats.get("shape0")
    inner = stats.get("inner_rows")
    if not inner:
        return None
    coord = stats.get("coord0")
    where = [c for c in stmt.where if c[0] == coord]
    rows = 0
    bounds = zip(stats.get("coord0_min", []), stats.get("coord0_max", []))
    for r, (lo, hi) in enumerate(bounds):
        if lo is None or classify(lo, hi, where, schema.get(coord)) != "out":
            rows += (min((r + 1) * C, shape0) - r * C) * inner
    if rows >= ZarrDataSourceReader.MIN_PARTITION_ROWS:
        return None
    return pushed_filters(stmt.where, schema)


def try_pruned_agg_rewrite(
    spark: SparkSession, stmt, schema: dict, store: str
) -> DataFrame | None:
    """Aggregates the statistics assembly could NOT answer (float
    variables, data-variable predicates, unsorted coordinates with a
    window, grouped forms over multi-index chunks) still deserve the
    pruned SCAN: rewrite ``SELECT aggs FROM t WHERE conjuncts [GROUP BY
    col]`` onto a fresh chunk-skipping relation and let Spark compute
    the aggregate itself.  Values are trivially identical to the lazy
    view's (same engine, same full predicate re-applied — only the
    provably-empty chunk reads disappear), so this rewrite has no
    float/NaN/overflow policy to enforce; it runs LAST in the engine's
    rewrite chain, after the scan-free paths had their chance."""
    group = stmt.group
    if stmt.where is None or stmt.order or stmt.limit is not None:
        return None
    if any(c not in schema for c, _, _ in stmt.where):
        return None
    if group is not None and group not in schema:
        return None

    aggs = []
    out_names = []  # statement item order — the output column order
    for item in stmt.items:
        fn, arg = item.fn, item.arg
        if group is not None and (fn, arg, item.alias) == (None, group, None):
            out_names.append(group)
            continue
        if fn is None:
            return None
        if fn == "count" and arg in ("*", "1"):
            agg = F.count(F.lit(1))
        elif arg not in schema:
            return None
        else:
            agg = getattr(F, fn)(arg)
        aggs.append(agg.alias(item.name))
        out_names.append(item.name)
    if not aggs or len(set(out_names)) != len(out_names):
        return None

    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(
        spark,
        store,
        columns=stmt.referenced(schema),
        eager_pushdown=True,
        data_filter_pushdown=True,
    )
    df = df.filter(predicate(stmt.where))
    base = df.groupBy(group).agg(*aggs) if group is not None else df.agg(*aggs)
    out = base.select(*out_names)  # statement item order
    out._zds_shortcut_kind = "pruned"
    return out
