"""zarr_datafusion_spark — a PySpark-native analytics engine.

A from-scratch rebuild, on Apache Spark, of the capabilities of the
``jayendra13/zarr-datafusion`` reference (a Rust crate extending Apache
DataFusion with a Zarr data source; see SURVEY.md):

* a Zarr v2/v3 data source that flattens chunked nD arrays into a dense
  2-D table (coordinates repeated in row-major order), with projection /
  limit / coordinate-equality-filter pushdown — implemented as a Spark
  Python Data Source (``zarr_datafusion_spark.zarr``);
* the full relational SQL surface the reference exercises via DataFusion
  (``zarr_datafusion_spark.operators.relational``), expressed through
  the Spark DataFrame/SQL API so Catalyst plans it;
* metadata statistics shortcuts: COUNT(*)/MIN/MAX answered from table
  statistics without a scan (``zarr_datafusion_spark.stats``);
* beyond-reference large-scale training-data-pipeline operators: dedup,
  similarity search, text analysis, multimodal column plumbing
  (``zarr_datafusion_spark.operators``).

Architecture is Spark-first: declarative DataFrame plans optimized by
Catalyst, Arrow-vectorized Python only where built-ins cannot express
the semantics.
"""

from zarr_datafusion_spark import zipcache
from zarr_datafusion_spark.engine import Engine
from zarr_datafusion_spark.session import TABLES, get_spark, register_tables

# every Spark Python worker call invalidates the import caches, and
# pre-3.13 zipimporters then re-read pyspark.zip and the spark-core jar
# in full; workers import this package, so install the lazy re-read here
zipcache.install()

__all__ = ["Engine", "TABLES", "get_spark", "register_tables"]

__version__ = "0.1.0"
