"""Exact table statistics + metadata-shortcut query rewrites.

Spark-native rebuild of the reference's statistics machinery:

* ``parquet_stats`` / ``zarr_stats`` — exact row counts, per-column
  min/max and null counts, the analog of the reference's
  ``TableProvider::statistics()`` (``src/datasource/zarr.rs:191-254``).
* ``chunk_stats`` — per-chunk-row min/max/sum sidecar for data
  variables and the outer coordinate.
* ``statement`` — the one SQL subset the rewrites below serve, parsed
  once per ``Engine.sql`` statement, with Spark's literal typing.
* ``shortcuts`` — COUNT(*)/COUNT(col)/MIN/MAX-only queries answered
  from those statistics without any scan, the analog of the two custom
  DataFusion optimizer rules (``src/optimizer/count_optimization.rs``,
  ``src/optimizer/minmax_optimization.rs``).
* ``agg_pushdown``, ``topk`` — chunk-level aggregates and top-k
  answered from the sidecar, reading only boundary or tail slabs.
* ``filter_rewrite`` — every other query statement over a registered
  Zarr table that can narrow a window, run as written over a fresh
  window-narrowing relation per table reference.
"""

from zarr_datafusion_spark.stats.parquet_stats import parquet_table_stats
from zarr_datafusion_spark.stats.shortcuts import try_stats_shortcut

__all__ = ["parquet_table_stats", "try_stats_shortcut"]
