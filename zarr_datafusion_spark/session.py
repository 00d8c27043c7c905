"""SparkSession factory and driver-testdata table registry.

The reference builds a DataFusion ``SessionState`` with information_schema
enabled, a ZARR table factory, and two custom optimizer rules
(reference ``src/bin/zarr_cli/main.rs:54-65``).  The Spark analog is a
``SparkSession`` configured for Arrow + AQE, plus temp views for the
driver's parquet tables; the Zarr source and the statistics rules live in
:mod:`zarr_datafusion_spark.zarr` and :mod:`zarr_datafusion_spark.stats`.

Scale posture: shuffle partitions default to the local core count but are
just a config knob — on a 1000-executor cluster the same code runs with
``spark.sql.shuffle.partitions`` sized to the cluster, and AQE coalesces /
splits at runtime.  Nothing here materializes data on the driver; the
only driver-side reads in the package are ``Engine.sql``'s driver-sized
answers (statistics answers, and pruned windows below the Zarr
planner's split threshold — see ``read_zarr``'s ``filters``).
"""

from __future__ import annotations

import os
import uuid

from pyspark.sql import DataFrame, SparkSession

#: Tables the driver generates at /root/testdata/sf*/ (TESTDATA.md).
TABLES = (
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
)

DEFAULT_SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def get_spark(app_name: str = "zarr_datafusion_spark") -> SparkSession:
    """Build (or fetch) the configured SparkSession.

    Config notes (each matters at 100 TB, not just locally):

    * AQE on: runtime coalescing, skew-join splitting, dynamic join
      strategy switch — replaces hand-tuned partition counts.
    * Arrow on: vectorized Python<->JVM boundary for the Zarr source,
      pandas UDFs, and collect.
    * UTC session timezone: deterministic timestamp semantics and
      DuckDB-oracle comparability.
    * shuffle partitions ~ cores for local mode; a cluster deployment
      overrides via spark-defaults (AQE re-coalesces anyway).
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", str(os.cpu_count() or 4))
    builder = (
        SparkSession.builder.master(f"local[{cpus}]")
        .appName(app_name)
        .config("spark.sql.shuffle.partitions", cpus)
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        # AQE coalesce posture knobs (r14 optimization round, guide
        # §2.2): parameterized so the cluster production values
        # (parallelismFirst=false + advisory 256m for 100 MB-1 GB
        # post-shuffle partitions) can be set per deployment without
        # code changes; local defaults keep Spark's stock behavior so
        # the driver's bench stays comparable across core counts.
        .config(
            "spark.sql.adaptive.coalescePartitions.parallelismFirst",
            os.environ.get("SPARK_GRAFT_AQE_PARALLELISM_FIRST", "true"),
        )
        .config(
            "spark.sql.adaptive.advisoryPartitionSizeInBytes",
            os.environ.get("SPARK_GRAFT_AQE_ADVISORY", "64m"),
        )
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.python.filterPushdown.enabled", "true")
        .config("spark.sql.parquet.aggregatePushdown", "true")
        # Whole-stage-codegen class cache: the default 100 entries
        # thrashes on a many-query workload (each query compiles 2-5
        # classes; recompiles cost seconds).  Classes are small; keep
        # them all.
        .config("spark.sql.codegen.cache.maxEntries", "5000")
        # ContextCleaner runs broadcast/shuffle/RDD cleanup only when
        # driver GC collects the weak references — and the default
        # periodic System.gc() fires every 30 MINUTES.  A many-query
        # session (56-query bench, 127-entry sweep) accumulates
        # executor-side broadcast blocks and shuffle files the whole
        # time, taxing whatever runs late (the r6 "late-session
        # contamination" class).  One driver GC per minute is
        # negligible cost and keeps cleanup continuous.
        .config(
            "spark.cleaner.periodicGC.interval",
            os.environ.get("SPARK_GRAFT_PERIODIC_GC", "1min"),
        )
        .config("spark.ui.enabled", "false")
        # no \r[Stage N:>...] frames in the stdout of scripts that print
        # one line per result
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "16g"))
    )
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def normalize_event_ts(df: DataFrame) -> DataFrame:
    """Normalize an ``events`` DataFrame's ``ts`` column to a session-TZ
    TIMESTAMP in microseconds, whatever encoding the parquet used.

    The driver's testdata has shipped ``events.ts`` two ways across
    regenerations:

    * parquet TIMESTAMP(NANOS) — Spark's vectorized reader rejects it,
      so with ``spark.sql.legacy.parquet.nanosAsLong=true`` it arrives
      as a raw ns-since-epoch LongType; convert with exact integer math
      (``DIV 1000`` — float division would lose precision at 1e18 ns
      magnitudes).
    * parquet ``timestamp[us]`` — arrives as TIMESTAMP_NTZ; only a
      cast to session-TZ TIMESTAMP is needed (value-preserving under
      the UTC session timezone, and required because ``unix_micros``
      and streaming ``window()`` reject NTZ input).

    Type-adaptive so the next testdata regeneration cannot break every
    events consumer again (round-3 regression).
    """
    from pyspark.sql import functions as F
    from pyspark.sql import types as T

    t = df.schema["ts"].dataType
    if isinstance(t, T.LongType):
        return df.withColumn("ts", F.expr("timestamp_micros(ts DIV 1000)"))
    return df.withColumn("ts", F.col("ts").cast("timestamp"))


# A6 statistics -> Catalyst: dimension-chain joins (Q5's nation/region/
# supplier ladder, Q21's nation filter) plan BroadcastHashJoins from
# STATIC metadata because Spark's file-source relations report
# sizeInBytes straight from the parquet file footprint — the same
# stats-to-planner feed the reference wires through DataFusion
# (``src/datasource/zarr.rs:191-254``), only built in.  Round 6 layered
# an explicit ``df.hint("broadcast")`` on every file-small table on top
# of that; the r7 A/B (BASELINE.md) showed the hint is redundant for
# the plans it was meant to secure (Q5/Q21 keep 5 static
# BroadcastHashJoins with hints off) while actively hurting elsewhere:
# it flips exactly at threshold-boundary file sizes (events.parquet at
# sf0.1 = 10.23 MB estimated vs the 10.49 MB threshold), lands on
# build-ineligible outer-join sides (Q13's ``customer LEFT JOIN
# orders`` -> HintErrorLogger warnings), and slowed the events/
# embeddings consumers (asof_join/range_join/sim_topk).  The blanket
# hint is therefore gone; queries that genuinely need a forced build
# side state it at the join site with ``F.broadcast(...)``.


#: Session settings that change the schema Spark infers from a parquet
#: footer; the kept schema of a file is only reused under equal values.
_SCHEMA_CONFS = (
    "spark.sql.legacy.parquet.nanosAsLong",
    "spark.sql.parquet.binaryAsString",
    "spark.sql.parquet.int96AsTimestamp",
    "spark.sql.parquet.inferTimestampNTZ.enabled",
    "spark.sql.parquet.mergeSchema",
)
#: (path, settings) -> (file version, the schema Spark inferred for it)
_SCHEMAS: dict[tuple, tuple] = {}


def _read_parquet(spark: SparkSession, path: str) -> DataFrame:
    """``spark.read.parquet(path)`` that infers the schema once per file
    version.  Inference is a Spark job (66-91 ms on 4 cpus); a read with
    the kept schema launches none and still builds a fresh relation
    with fresh expression ids, so self-joins stay correct."""
    try:
        st = os.stat(path)
    except OSError:  # not a local file: Spark reads (or refuses) it as given
        return spark.read.parquet(path)
    version = (st.st_ino, st.st_size, st.st_mtime_ns)
    key = (path, tuple(spark.conf.get(c) for c in _SCHEMA_CONFS))
    kept = _SCHEMAS.get(key)
    if kept is not None and kept[0] == version:
        return spark.read.schema(kept[1]).parquet(path)
    df = spark.read.parquet(path)
    _SCHEMAS[key] = (version, df.schema)
    return df


def load_table(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    """Read one driver parquet table (columnar scan, pushdown-capable).

    Every read of an sf-dir table goes through here.  The schema Spark
    infers is kept per file version, keyed by the path, the file's
    (inode, size, ``mtime_ns``) and the session settings that change
    parquet schema inference (``_SCHEMA_CONFS``, among them the
    ``nanosAsLong`` set below for ``events``); a later read of the same
    version passes it to ``spark.read.schema``, so building a query
    over the table launches no schema-inference job.  A file rewritten
    in place, or a changed setting, is inferred again.

    ``events.ts`` is normalized to a microsecond session-TZ TIMESTAMP
    regardless of the file's physical encoding — see
    :func:`normalize_event_ts`.  Broadcast-join planning for small
    tables is left to Spark's native file-size statistics + AQE (see
    the A6 note above) — no per-table hints.
    """
    # Deterministic timestamp semantics regardless of who built the
    # session (the driver hands queries its own SparkSession):
    # date_trunc / CAST(ts AS DATE) / window() are session-timezone
    # dependent, and the DuckDB oracle computes in UTC.  Runtime-settable.
    spark.conf.set("spark.sql.session.timeZone", "UTC")
    path = os.path.join(sf_dir, f"{name}.parquet")
    if name == "events":
        # Harmless for timestamp[us] files; lets TIMESTAMP(NANOS) files
        # load as LongType instead of crashing the vectorized reader.
        spark.conf.set("spark.sql.legacy.parquet.nanosAsLong", "true")
        return normalize_event_ts(_read_parquet(spark, path))
    return _read_parquet(spark, path)


def register_tables(spark: SparkSession, sf_dir: str = DEFAULT_SF_DIR) -> dict[str, DataFrame]:
    """Register every driver table as a temp view; returns name -> DataFrame.

    Each table is read through :func:`load_table`, so only the first
    registration of a file version infers its schema (a Spark job per
    table); later ones reuse the kept schema and launch no job.

    Mirrors the reference REPL's table registration step
    (``src/bin/zarr_cli/main.rs:55-64``) for the parquet testdata.
    """
    dfs: dict[str, DataFrame] = {}
    for name in TABLES:
        path = os.path.join(sf_dir, f"{name}.parquet")
        if not os.path.exists(path):
            continue
        df = load_table(spark, sf_dir, name)
        df.createOrReplaceTempView(name)
        dfs[name] = df
    return dfs


def jobs_launched(spark: SparkSession, fn) -> tuple:
    """Run ``fn()`` under a fresh Spark job group and return ``(its
    result, the ids of the jobs it launched)``.  The listener bus is
    drained first, so a job that ran is never missed; the caller's job
    group is restored afterwards."""
    sc = spark.sparkContext
    keys = ("spark.jobGroup.id", "spark.job.description")
    saved = [sc.getLocalProperty(k) for k in keys]
    group = f"jobs-launched-{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        result = fn()
    finally:
        for k, v in zip(keys, saved):
            sc.setLocalProperty(k, v)
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return result, sorted(sc.statusTracker().getJobIdsForGroup(group))
