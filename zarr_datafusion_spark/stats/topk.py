"""Top-K pushdown for Zarr tables — the reference's own UNCHECKED
roadmap item (``/root/reference/README.md:298``: "Top-K optimization
(`ORDER BY x LIMIT k` without full sort)").

Spark already avoids the full sort (``TakeOrderedAndProject`` keeps a
k-row heap per partition), but the SCAN still reads the whole store.
When the leading ORDER BY key is the store's sorted outer coordinate,
the chunk-statistics sidecar bounds which outer indices can possibly
reach the top k: walk the per-chunk-row coordinate bounds from the
relevant end accumulating row counts until ≥ k, and scan only from
that threshold on.  ``ORDER BY time DESC LIMIT 10`` over a 10k-slab
archive then reads one tail slab instead of 10k — the time-series
"latest rows" query at its honest cost.

Guards (full plan answers otherwise): the table must be registered
with chunk statistics, the outer coordinate strictly increasing
(duplicates would make the value threshold ambiguous across slabs),
the leading ORDER BY key must BE that coordinate, and the projection
must be plain columns.  Secondary ORDER BY keys are free: they only
break ties inside the pruned superset, which always holds ≥ k rows
(or everything), so Spark's sort+limit over it equals the full plan's.

Granularity is SLAB-level, the parquet row-group analog: the sidecar
bounds coordinates per chunk row, so the threshold lands on the edge
of the last slab that can contribute — the scan may read up to one
chunk of extra rows beyond the row-exact optimum, never more.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def try_topk_pushdown(
    spark: SparkSession, stmt, schema: dict, store: str
) -> DataFrame | None:
    """Answer a coordinate-leading top-k statement with a
    threshold-pruned scan, or return ``None`` (full plan)."""
    if (
        stmt.where is not None
        or stmt.group is not None
        or not stmt.order
        or stmt.limit is None
    ):
        return None
    cols = stmt.columns(schema)
    if cols is None or any(c not in schema for c, _ in stmt.order):
        return None

    from zarr_datafusion_spark.stats import chunk_stats

    try:
        stats = chunk_stats.compute_zarr_chunk_stats(spark, store)
    except Exception:
        return None
    coord = stats.get("coord0")
    n_rows = len(stats.get("coord0_min", []))
    if (
        coord is None
        or n_rows == 0
        or not stats.get("coord0_sorted")
        or not stats.get("inner_rows")
        # the leading ORDER BY key must be the outer coordinate
        or stmt.order[0][0] != coord
    ):
        return None

    # ---- threshold: smallest slab suffix/prefix holding >= k rows ----
    k = stmt.limit
    C, shape0, inner = stats["outer_chunk"], stats["shape0"], stats["inner_rows"]
    desc = stmt.order[0][1]
    acc = 0
    threshold = None
    order_rs = range(n_rows - 1, -1, -1) if desc else range(n_rows)
    for r in order_rs:
        acc += (min((r + 1) * C, shape0) - r * C) * inner
        if acc >= k:
            threshold = stats["coord0_min" if desc else "coord0_max"][r]
            break
    if threshold is None:
        # k >= total rows: nothing prunable, let the full plan run
        return None

    from zarr_datafusion_spark.zarr import read_zarr

    df = read_zarr(
        spark, store, columns=stmt.referenced(schema), eager_pushdown=True
    )
    c = F.col(coord)
    df = df.filter(c >= F.lit(threshold) if desc else c <= F.lit(threshold))
    order_cols = [
        F.col(name).desc() if d else F.col(name).asc() for name, d in stmt.order
    ]
    out = df.select(*cols).orderBy(*order_cols).limit(k)
    out._zds_shortcut_kind = "pruned"  # it reads its threshold slabs
    return out
