"""Engine — the session-state analog of the reference's CLI context.

The reference wires a DataFusion ``SessionState`` with a ZARR table
factory and two statistics optimizer rules (``src/bin/zarr_cli/main.rs:54-65``).
``Engine`` is the Spark-native equivalent: it owns a SparkSession, a
table catalog with cached statistics, Zarr registration, and a ``sql()``
entry point that applies the metadata-shortcut rewrites (reference
``src/optimizer/count_optimization.rs``, ``minmax_optimization.rs``)
before delegating to Catalyst.
"""

from __future__ import annotations

import os
import re
from dataclasses import dataclass, field, replace

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

from zarr_datafusion_spark.session import get_spark, register_tables


@dataclass
class TableStats:
    """Exact per-table statistics, the analog of the reference's
    ``TableProvider::statistics()`` (``src/datasource/zarr.rs:191-254``).

    ``row_count`` is exact; ``column_min_max`` maps column name ->
    (min, max) for columns with exact bounds; ``column_null_count``
    maps column name -> exact null count (0 for Zarr coordinates and
    for parquet columns whose footers report zero nulls).  A column
    absent from a dict has no exact statistic — the shortcut must bail,
    matching the reference's guards (``count_optimization.rs:150-200``).
    """

    row_count: int
    column_min_max: dict[str, tuple] = field(default_factory=dict)
    column_null_count: dict[str, int] = field(default_factory=dict)


@dataclass(frozen=True)
class ZarrTable:
    """A registered Zarr table, as its per-statement relations read it
    (:mod:`~zarr_datafusion_spark.stats.filter_rewrite`): the store, the
    view's schema, each coordinate's exact NaN-free minimum, whether a
    chunk-statistics sidecar was built, and the read options."""

    store: str
    schema: StructType
    bounds: dict
    sidecar: bool
    chunk_cache_mb: int
    prefetch: int


class Engine:
    """PySpark-native analytics engine with a stats-aware SQL front door."""

    def __init__(self, spark: SparkSession | None = None):
        self.spark = spark or get_spark()
        #: table name -> TableStats for registered tables with exact stats
        self._stats: dict[str, TableStats] = {}
        #: table name -> ZarrTable for every registered Zarr table
        self._zarr: dict[str, ZarrTable] = {}
        #: "scan_free" | "pruned" when a rewrite answered the last sql()
        self._last_shortcut_kind: str | None = None

    # ------------------------------------------------------------------
    # Registration
    # ------------------------------------------------------------------

    def register_parquet_dir(self, sf_dir: str) -> list[str]:
        """Register the driver's parquet tables as temp views, caching
        exact footer statistics for the metadata shortcuts."""
        from zarr_datafusion_spark.stats.parquet_stats import parquet_table_stats

        dfs = register_tables(self.spark, sf_dir)
        for name in dfs:
            path = os.path.join(sf_dir, f"{name}.parquet")
            try:
                self._stats[name] = parquet_table_stats(path)
            except Exception:  # stats are an optimization, never a failure
                pass
        return list(dfs)

    def register_zarr(
        self,
        name: str,
        store_path: str,
        data_filter_pushdown: bool = False,
        chunk_cache_mb: int = 0,
        prefetch: int = 0,
    ) -> DataFrame:
        """Register a Zarr store as a queryable table (reference
        ``CREATE EXTERNAL TABLE ... STORED AS ZARR``, ``src/datasource/factory.rs:19-65``).

        The view is lazy (safe) so no query's window is replayed for the
        next, yet ``sql`` prunes: a query statement naming the table
        with a conjunct that narrows a window (a coordinate, or a data
        variable with chunk statistics, compared with a number) runs
        over a fresh window-narrowing relation per reference
        (:mod:`~zarr_datafusion_spark.stats.filter_rewrite`).  Other
        statements, commands, plain ``spark.sql``, and every statement
        while the view is cached (``CACHE TABLE``) read through the
        view: the cache, or every chunk.

        ``data_filter_pushdown=True`` also builds (once per store
        version, distributed, sidecar-cached) per-chunk-row statistics
        of the data variables: ``sql`` then answers data-variable
        MIN/MAX and chunk-aligned aggregates scan-free, serves
        coordinate-leading top-k from the tail slabs, and its relations
        skip chunk rows the statistics rule out.

        ``chunk_cache_mb``/``prefetch`` (the decoded-chunk LRU and
        intra-task concurrent fetch, reference roadmap
        ``README.md:326-327``) apply to every read of the table."""
        from zarr_datafusion_spark.stats.zarr_stats import zarr_table_stats
        from zarr_datafusion_spark.zarr import read_zarr

        # a name registered again describes a new store: nothing the
        # rewrites knew about the old one may answer for it
        self._stats.pop(name, None)
        self._zarr.pop(name, None)
        if store_path.startswith("icechunk://"):
            # pin a branch/tag ref ONCE so the view, the table stats,
            # and the bound relations all answer from the SAME
            # snapshot — otherwise a concurrent commit could make the
            # stats shortcut and a plain SELECT disagree on one table
            # (r11 review finding); re-register to follow new commits
            from zarr_datafusion_spark.zarr.icechunk import pin_snapshot

            store_path = pin_snapshot(store_path)
        df = read_zarr(
            self.spark,
            store_path,
            chunk_cache_mb=chunk_cache_mb,
            prefetch=prefetch,
        )
        df.createOrReplaceTempView(name)
        try:
            self._stats[name] = zarr_table_stats(store_path)
        except Exception:
            return df
        sidecar = False
        if data_filter_pushdown:
            # build the chunk-row stats now, and enable chunk-level
            # SUM/AVG/COUNT pushdown and data-variable MIN/MAX
            # (reference README.md:297, unchecked roadmap item)
            try:
                from zarr_datafusion_spark.stats.chunk_stats import (
                    compute_zarr_chunk_stats,
                )

                compute_zarr_chunk_stats(self.spark, store_path)
                sidecar = True
            except Exception:
                pass
        mins = self._stats[name].column_min_max.items()
        bounds = {c: lo for c, (lo, _) in mins if lo == lo}  # NaN != NaN
        self._zarr[name] = ZarrTable(
            store_path, df.schema, bounds, sidecar, chunk_cache_mb, prefetch
        )
        return df

    def _with_var_bounds(
        self, stmt, stats: TableStats | None, table: ZarrTable | None
    ) -> TableStats | None:
        """``stats`` plus the global bounds of the data variables that
        ``stmt``'s MIN/MAX items name, folded from the chunk-row stats
        at statement time, so the A8 MIN/MAX→constant rewrite answers
        data-variable queries scan-free too (the reference's stats stop
        at coordinates, zarr.rs:191-254) and an in-place update, which
        re-keys the stats sidecar, is seen by the next statement.
        NaN-containing floats are withheld — see
        stats.chunk_stats.data_var_bounds."""
        if stats is None or table is None or not table.sidecar or not any(
            it.fn in ("min", "max") and it.arg not in stats.column_min_max
            for it in stmt.items
        ):
            return stats
        from zarr_datafusion_spark.stats.chunk_stats import (
            compute_zarr_chunk_stats,
            data_var_bounds,
        )

        try:
            bounds = data_var_bounds(
                compute_zarr_chunk_stats(self.spark, table.store)
            )
        except Exception:
            return stats
        return replace(stats, column_min_max={**stats.column_min_max, **bounds})

    def table_stats(self, name: str) -> TableStats | None:
        return self._stats.get(name)

    # ------------------------------------------------------------------
    # Query
    # ------------------------------------------------------------------

    #: the reference's literal DDL form (``factory.rs:19-65``;
    #: ``docs/CLI_REFERENCE.md:39-53``) — accepted verbatim so a user
    #: migrating from the reference can paste their statements
    #: unchanged; rewritten onto :meth:`register_zarr`.
    #: optional trailing OPTIONS clause uses DataFusion's own spelling
    #: (``OPTIONS ('key' 'value', ...)``); recognized keys:
    #: ``'chunk_stats' 'true'`` — build the chunk-statistics sidecar at
    #: registration so aggregate/top-k pushdown serve this table;
    #: ``'chunk_cache_mb' 'N'`` / ``'prefetch' 'N'`` — decoded-chunk
    #: LRU budget and intra-task concurrent fetch width for queries
    #: through the view (roadmap ``README.md:326-327``).
    #: path literals honor the SQL doubled-quote escape ('' -> '),
    #: same as the OPTIONS values (r12 review finding: the option
    #: values learned the escape but the LOCATION/TO literal in the
    #: same grammar rejected it, falling through to Spark's parser)
    #: options blob = anything but ) or ', OR a complete quoted literal
    #: (which MAY contain parens — r13 fuzz finding: a MESSAGE value
    #: with "(...)" used to truncate the [^)]* group and dump the whole
    #: COPY statement on Spark's parser).  The literal branch is
    #: maximal-munch — non-quote run, then ('' + non-quote run)*, then
    #: a close quote NOT followed by another quote — so a '' run can
    #: only parse one way.  The r13 spelling '(?:[^']|'')*' let every
    #: '' match either as an escape or as close-then-open, and a
    #: malformed tail of ~24 doubled-quote pairs with one unbalanced
    #: quote backtracked for seconds, doubling per pair, wedging every
    #: Engine.sql call instead of falling through to Spark's parser
    #: (ADVICE r13).  Linearity + old/new language agreement pinned in
    #: tests/test_property.py (adversarial timing + differential fuzz).
    _OPTS_BLOB = r"((?:[^)']|'[^']*(?:''[^']*)*'(?!'))*)"

    _ZARR_DDL = re.compile(
        r"^\s*CREATE\s+EXTERNAL\s+TABLE\s+(\w+)\s+STORED\s+AS\s+ZARR\s+"
        r"LOCATION\s+'((?:[^']|'')+)'\s*(?:OPTIONS\s*\(" + _OPTS_BLOB
        + r"\))?\s*;?\s*$",
        re.IGNORECASE,
    )

    #: DataFusion's write statement (``COPY (query) TO 'path' STORED AS
    #: format (options)``) pointed at the distributed Zarr sink — the
    #: SQL front door for the write path the reference roadmaps.
    #: Options: COORDS 'c1,c2,...' (required, outermost first),
    #: FORMAT_VERSION '2'|'3', COMPRESSION 'zlib'|'gzip'|'blosc-lz4'.
    _ZARR_COPY = re.compile(
        r"^\s*COPY\s*\((.*)\)\s*TO\s*'((?:[^']|'')+)'\s*STORED\s+AS\s+ZARR"
        r"(?:\s*\(" + _OPTS_BLOB + r"\))?\s*;?\s*$",
        re.IGNORECASE | re.DOTALL,
    )

    def _copy_to_zarr(self, m: re.Match) -> DataFrame:
        """Execute a matched ``COPY ... TO ... STORED AS ZARR``: run the
        inner query, write it through the distributed sink, and return
        DataFusion's 1-row COPY result (count of rows written)."""
        from zarr_datafusion_spark.zarr.sink import write_zarr

        inner, path, opts_text = (
            m.group(1),
            m.group(2).replace("''", "'"),
            m.group(3) or "",
        )

        # Tokenize the options blob SEQUENTIALLY into KEY 'value'
        # pairs: each quoted value is consumed before the next key is
        # read, so free-prose values (MESSAGE) can mention other
        # option keywords without hijacking the parse (r11 review
        # finding: a MESSAGE containing "BRANCH '" used to capture the
        # following text as the branch name and commit elsewhere).
        # Values honor the SQL doubled-quote escape ('' → ') so an
        # escaped apostrophe neither truncates the value nor re-exposes
        # its tail to key matching (ADVICE r11).
        parsed: dict[str, str] = {}
        for om in re.finditer(r"(\w+)\s+'((?:[^']|'')*)'", opts_text):
            parsed.setdefault(om.group(1).upper(), om.group(2).replace("''", "'"))

        def opt(key: str) -> str | None:
            return parsed.get(key)

        coords_opt = opt("COORDS")
        if not coords_opt:
            raise ValueError(
                "COPY ... STORED AS ZARR requires a COORDS option, e.g. "
                "(COORDS 'time,lat,lon') — outermost dimension first"
            )
        coords = [c.strip() for c in coords_opt.split(",") if c.strip()]
        zarr_format = int(opt("FORMAT_VERSION") or 2)
        shard = opt("SHARD_OUTER")
        df = self.spark.sql(inner)
        if path.startswith("icechunk://"):
            # transactional COPY: publish the result as the branch's
            # next snapshot (atomic; readers never see a partial
            # image) — the SQL front door to commit_zarr.  Optional
            # BRANCH/MESSAGE options; COUNT comes from the staged
            # sink's validated grid, same no-double-execution rule.
            from zarr_datafusion_spark.zarr.icechunk import (
                commit_zarr,
                parse_icechunk_url,
            )

            repo, ref = parse_icechunk_url(path)
            if ref is not None:
                raise ValueError(
                    "COPY TO an icechunk repo takes the bare repo URL "
                    "(use the BRANCH 'name' option to target a branch); "
                    f"got ref {ref!r}"
                )
            if shard:
                raise ValueError(
                    "SHARD_OUTER is not supported for icechunk targets"
                )
            res: dict = {}
            commit_zarr(
                df, repo,
                coords=coords,
                branch=opt("BRANCH") or "main",
                message=opt("MESSAGE") or "COPY",
                zarr_format=zarr_format,
                compression=opt("COMPRESSION"),
                _sink_result=res,
            )
        else:
            res = write_zarr(
                df,
                path,
                coords=coords,
                zarr_format=zarr_format,
                compression=opt("COMPRESSION"),
                # ZEP-2 sharded output (v3): S outer slabs per shard
                # file — the object-store layout knob, reachable from
                # SQL
                shard_outer=int(shard) if shard else None,
            )
        # rows written = the sink's validated dense-grid cell count —
        # never re-execute the inner query with a second count()
        # (double execution; non-deterministic queries could disagree
        # with the rows actually written).  ADVICE r8.
        n = res["rows"]
        return self.spark.sql(f"SELECT CAST({n} AS BIGINT) AS count")

    def sql(self, query: str) -> DataFrame:
        """Run SQL: the reference's ``CREATE EXTERNAL TABLE``/``COPY ...
        STORED AS ZARR`` spellings; statistics answers (reference rules
        ``count_optimization.rs:37-241``/``minmax_optimization.rs:43-239``
        plus chunk statistics); any other query statement naming a
        registered Zarr table that can narrow a window over a fresh
        pruned relation per reference
        (:mod:`~zarr_datafusion_spark.stats.filter_rewrite`).  Commands
        go to Spark as written.  Table names match as Spark resolves them.

        An answer computed on the driver (from statistics, or a pruned
        window below the Zarr planner's split threshold) is a snapshot
        taken by this call; any other DataFrame reads the store when an
        action runs."""
        from zarr_datafusion_spark.stats.statement import parse

        self._last_shortcut_kind = None
        # The reference's EXPLAIN VERBOSE (docs/CLI_REFERENCE.md:469-475)
        # is Spark's EXPLAIN EXTENDED — accept the DataFusion spelling
        # verbatim so reference sessions replay unchanged.
        query = re.sub(
            r"^(\s*EXPLAIN\s+)VERBOSE(\s)", r"\1EXTENDED\2", query, flags=re.I
        )
        m = self._ZARR_DDL.match(query)
        if m:
            name, location, opts = (
                m.group(1),
                m.group(2).replace("''", "'"),
                m.group(3) or "",
            )
            chunk_stats = bool(
                re.search(r"'chunk_stats'\s+'true'", opts, re.IGNORECASE)
            )

            def int_opt(key: str) -> int:
                om = re.search(rf"'{key}'\s+'(\d+)'", opts, re.IGNORECASE)
                return int(om.group(1)) if om else 0

            self.register_zarr(
                name,
                location,
                data_filter_pushdown=chunk_stats,
                chunk_cache_mb=int_opt("chunk_cache_mb"),
                prefetch=int_opt("prefetch"),
            )
            # empty result carrying the new table's schema (DataFusion's
            # CREATE EXTERNAL TABLE likewise returns no rows)
            return self.spark.sql(f"SELECT * FROM {name} WHERE 1=0")
        m = self._ZARR_COPY.match(query)
        if m:
            return self._copy_to_zarr(m)
        rewritten = self._information_schema(query)
        if rewritten is not None:
            return rewritten
        names = "|".join(map(re.escape, self._stats.keys() | self._zarr.keys()))
        if not (names and re.search(rf"(?<![\w$])({names})(?![\w$])", query, re.I)):
            return self.spark.sql(query)  # names no registered table
        # table names match as Spark resolves them
        sensitive = self.spark.conf.get("spark.sql.caseSensitive", "false")
        fold = str if sensitive.lower() == "true" else str.lower
        zarr = {fold(n): t for n, t in self._zarr.items()}
        stats = {fold(n): t for n, t in self._stats.items()}
        # looked up per call, so a patched rewrite takes effect
        from zarr_datafusion_spark.stats import (
            agg_pushdown, filter_rewrite, shortcuts, topk,
        )

        stmt, schema, out = parse(query), None, None
        key = stmt and fold(stmt.table)
        if key not in stats and key not in zarr:
            stmt = None  # a subset statement over an unregistered table
        if stmt is not None:
            table = zarr.get(key)
            try:
                found = table.schema if table else self.spark.table(stmt.table).schema
            except Exception:
                return self.spark.sql(query)
            schema = {f.name: f.dataType for f in found.fields}
            out = shortcuts.try_stats_shortcut(
                self.spark, stmt, schema,
                self._with_var_bounds(stmt, stats.get(key), table),
            )
            # chunk statistics: aggregates from the sidecar, top-k from
            # the slabs that can reach the top k (README.md:297-298)
            for rewrite in (
                agg_pushdown.try_chunk_agg_pushdown, topk.try_topk_pushdown
            ):
                if out is None and table is not None and table.sidecar:
                    out = rewrite(self.spark, stmt, schema, table.store)
            if out is None and (stmt.where is None or table is None):
                return self.spark.sql(query)  # nothing to prune
        if out is None:
            # every reference gets its own window-narrowing relation,
            # but a cached view answers from its cache, as in Spark
            if not self.spark._jsparkSession.sharedState().cacheManager().isEmpty():
                zarr = {k: t for k, t in zarr.items() if not self._cached(k)}
            out = filter_rewrite.try_filter_rewrite(
                self.spark, query, zarr, fold, stmt, schema
            )
        if out is None:
            return self.spark.sql(query)
        # honest accounting: boundary slabs, top-k and per-reference
        # relations DO read their pruned slabs
        self._last_shortcut_kind = getattr(out, "_zds_shortcut_kind", "scan_free")
        return out

    def _cached(self, name: str) -> bool:
        try:
            return self.spark.catalog.isCached(name)
        except Exception:  # a registered view the user dropped
            return False

    #: a SQL single-quoted string literal ('' = escaped quote) — the
    #: rewrite below must never touch text inside one (ADVICE r6)
    _SQL_STRING_LIT = re.compile(r"'(?:[^']|'')*'")

    @classmethod
    def _sub_outside_literals(cls, pattern: re.Pattern, repl: str, q: str) -> str:
        """Apply ``pattern.sub(repl, ...)`` only OUTSIDE single-quoted
        string literals, so ``SELECT 'information_schema.columns'``
        keeps its literal value."""
        parts, last = [], 0
        for m in cls._SQL_STRING_LIT.finditer(q):
            parts.append(pattern.sub(repl, q[last : m.start()]))
            parts.append(m.group(0))
            last = m.end()
        parts.append(pattern.sub(repl, q[last:]))
        return "".join(parts)

    def _information_schema(self, query: str) -> DataFrame | None:
        """Serve ``information_schema.columns`` / ``.tables`` / ``.views``
        queries
        (the reference enables DataFusion's information_schema,
        ``main.rs:54-65``; usage ``docs/CLI_REFERENCE.md:445-451``) —
        Spark has no information_schema, so the three relations are
        materialized as fresh catalog snapshots and the query text is
        rewritten onto them.  SQL-standard column names, with
        ``is_nullable`` as 'YES'/'NO' per the standard.  The rewrite is
        word-bounded and skips string literals (ADVICE r6), and column
        listings resolve through the table's FULL namespace so
        same-named tables across schemas don't misresolve."""
        stripped = self._SQL_STRING_LIT.sub("''", query)
        if not re.search(
            r"\binformation_schema\.(columns|tables|views)\b", stripped, re.I
        ):
            return None
        tabs, cols, views = [], [], []
        for t in self.spark.catalog.listTables():
            schema = ".".join(t.namespace) if t.namespace else "session"
            tabs.append((schema, t.name, t.tableType))
            if "VIEW" in (t.tableType or "").upper() or t.isTemporary:
                # DataFusion's third relation (REPL.md:66-69); Spark
                # exposes no definition text for temp views, so
                # view_definition is NULL — the standard allows it
                views.append((schema, t.name, None))
            qualified = (
                ".".join([*t.namespace, t.name]) if t.namespace else t.name
            )
            for i, c in enumerate(self.spark.catalog.listColumns(qualified), 1):
                cols.append(
                    (
                        schema,
                        t.name,
                        c.name,
                        i,
                        c.dataType,
                        "YES" if c.nullable else "NO",
                    )
                )
        self.spark.createDataFrame(
            tabs, "table_schema string, table_name string, table_type string"
        ).createOrReplaceTempView("__information_schema_tables")
        self.spark.createDataFrame(
            cols,
            "table_schema string, table_name string, column_name string, "
            "ordinal_position int, data_type string, is_nullable string",
        ).createOrReplaceTempView("__information_schema_columns")
        self.spark.createDataFrame(
            views,
            "table_schema string, table_name string, view_definition string",
        ).createOrReplaceTempView("__information_schema_views")
        for rel in ("views", "columns", "tables"):
            query = self._sub_outside_literals(
                re.compile(rf"\binformation_schema\.{rel}\b", re.I),
                f"__information_schema_{rel}",
                query,
            )
        return self.spark.sql(query)

    @property
    def last_query_used_shortcut(self) -> bool:
        """True if the most recent ``sql()`` call was not the vanilla
        plan over the registered view: a scan-free statistics answer
        (A7/A8, interior-only aggregates, grouped rollups: the analog
        of the reference's ``assert_no_zarr_exec`` plan shape) or a
        pruned scan (boundary-slab aggregate assembly, coordinate-leading
        top-k, a statement over its own window-narrowing relations);
        :attr:`last_shortcut_kind` says which."""
        return self._last_shortcut_kind is not None

    @property
    def last_shortcut_kind(self) -> str | None:
        """``"scan_free"`` | ``"pruned"`` for the most recent
        shortcut-answered ``sql()`` call, else ``None``.  Drives the
        honest REPL stats line — a pruned top-k DOES read its tail
        slabs and must not claim "no scan"."""
        return self._last_shortcut_kind

    def explain(self, query: str) -> str:
        """Physical-plan text for a SQL query (reference ``EXPLAIN`` /
        ``EXPLAIN ANALYZE``, ``docs/CLI_REFERENCE.md:455-472``).  When
        a scan-free rewrite answers the query, says so explicitly —
        the plan contains no scan, mirroring the reference's
        ``assert_no_zarr_exec`` observable.  A pruned rewrite prints
        its real plan with no banner: it reads store slabs."""
        df = self.sql(query)
        plan = df._jdf.queryExecution().executedPlan().toString()
        if self.last_shortcut_kind == "scan_free":
            return (
                "== Answered from table statistics (no scan; reference "
                "count/minmax optimization) ==\n" + plan
            )
        return plan

    def explain_analyze(self, query: str) -> str:
        """Execute the query and return the FINAL physical plan with
        per-node runtime metrics (rows output, scan/shuffle sizes, sort
        spills) — the reference's ``EXPLAIN ANALYZE``
        (``docs/CLI_REFERENCE.md:463-467``; DataFusion prints
        metrics-annotated plans the same way).  Execution drives the
        plan's own RDD, so only a row count reaches the driver; under
        AQE the reported tree is the re-planned one actually run.  Only
        a scan-free answer skips execution; a pruned rewrite, including
        one whose window the driver read, runs its real plan."""
        df = self.sql(query)
        if self.last_shortcut_kind == "scan_free":
            return (
                "== Answered from table statistics (no scan, no execution; "
                "reference count/minmax optimization) =="
            )
        plan = df._jdf.queryExecution().executedPlan()
        # Execute THIS plan instance (a .count()/noop-write would build
        # a separate QueryExecution whose metrics stay on that copy);
        # the RDD count fully materializes every node executor-side and
        # collects only a long to the driver.
        plan.execute().count()
        # AQE wraps the final plan; descend to what actually executed
        if plan.nodeName() == "AdaptiveSparkPlan":
            plan = plan.executedPlan()

        lines: list[str] = []

        def walk(node, depth: int) -> None:
            parts = []
            it = node.metrics().iterator()
            while it.hasNext():
                kv = it.next()
                m = kv._2()
                parts.append(f"{m.name().get()}: {m.value()}")
            suffix = f"  [{', '.join(parts)}]" if parts else ""
            lines.append("  " * depth + node.nodeName() + suffix)
            # AQE QueryStage wrappers (ShuffleQueryStage /
            # ResultQueryStage / BroadcastQueryStage) hide the executed
            # subtree behind .plan(), not children()
            try:
                sub = node.plan()
            except Exception:
                sub = None
            if sub is not None:
                walk(sub, depth + 1)
                return
            children = node.children()
            for i in range(children.size()):
                walk(children.apply(i), depth + 1)

        walk(plan, 0)
        return "\n".join(lines)
