"""One pruned relation per table reference: the SQL surface's chunk skipping.

Spark 4.1 keeps one planned read per Python-source relation, so a
registered view stays lazy (an eager one would replay a window to the
next query).  For a query statement naming registered Zarr tables,
:func:`try_filter_rewrite` finds each reference with Spark's own parser
(``parseQuery`` offsets of every ``UnresolvedRelation``: joins, CTE
bodies, subqueries), splices in a temp view over a fresh
``read_zarr(eager_pushdown=True)`` relation per reference, runs
``spark.sql`` and drops the views once analysis has fixed the plan.
Each relation narrows its windows to the filters Spark pushes into it
(as the reference prunes every scan, ``filter.rs:70-302``) and Spark
re-applies them all, so results equal the view's.  A subset statement
reads only its columns; a plain filtered SELECT whose window the
sidecar bounds below the split threshold is read on the driver
(``read_zarr(filters=...)``), a job-free snapshot.

Only a statement that can narrow a window binds: some condition has a
top-level conjunct comparing a coordinate (or a data variable with
chunk statistics) with a number Spark pushes as written.  Anything else
(``OR``, string literals, joins with no such conjunct) pays nothing
here and runs on the view.  A reference stays on the view when a CTE
shares its name, or when the text at its offsets is not its name.

Reuse: Spark replays a relation's planned read to a later plan that
pushes no filter, so a relation whose statement has no conjunct Spark
is known to push carries an always-true filter that it does,
``coord >= <exact stored minimum>`` (NaN sorts above every number, so
NaN rows pass).  A relation that appears twice in one plan (the result
joined with itself) narrows only while both scans push the same filters
(``datasource._same_window``).
"""

from __future__ import annotations

import re
import uuid
from decimal import Decimal

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import StructType, TimestampType

from zarr_datafusion_spark.local_relation import _epoch_us
from zarr_datafusion_spark.stats.statement import classify, pushed_filters

_SELECT = re.compile(r"\bselect\b", re.I)


def try_filter_rewrite(
    spark: SparkSession, query: str, tables: dict, fold=str, stmt=None, schema=None
) -> DataFrame | None:
    """``query`` run over a fresh relation per reference to a table in
    ``tables`` (keyed by ``fold``ed name, as Spark resolves names), or
    ``None`` when nothing binds.  ``stmt``/``schema``: the statement's
    subset parse and its table's column types, if it has them."""
    # a subset statement with a WHERE over a table with chunk statistics
    # binds even when nothing narrows: its relation reads only its columns
    table = stmt and tables.get(fold(stmt.table))
    refs = _references(spark, query, tables, fold, bool(table and table.sidecar))
    if not refs:
        return None
    views, text = [], query
    try:
        for start, stop, aliased, table in sorted(refs, reverse=True):
            views.append(f"__zds_ref_{uuid.uuid4().hex}")
            _relation(spark, table, stmt, schema).createOrReplaceTempView(views[-1])
            alias = "" if aliased else f" AS {query[start : stop + 1]}"
            text = f"{text[:start]}{views[-1]}{alias}{text[stop + 1 :]}"
        out = spark.sql(text)
        out._zds_shortcut_kind = "pruned"
        return out
    except Exception:  # the caller runs the user's own text
        return None
    finally:
        for view in views:
            spark.catalog.dropTempView(view)


def _references(spark, query: str, tables: dict, fold, bind=False) -> list:
    """``(start, stop, aliased, table)`` per bindable reference; none for
    a command, unparsable text, or (unless ``bind``) a statement none of
    whose conditions narrows a window (:func:`_narrows`)."""
    try:
        root = spark._jsparkSession.sessionState().sqlParser().parseQuery(query)
    except Exception:  # a command (CREATE VIEW, INSERT, EXPLAIN, ...)
        return []
    # a subquery has a SELECT of its own (a missed one stays on the view)
    nested = len(_SELECT.findall(query)) > 1
    found, conditions, ctes = [], [], set()
    stack = [(root, False)]
    while stack:
        node, aliased = stack.pop()
        kind = node.nodeName()
        if kind == "UnresolvedRelation":
            name = fold(node.tableName())  # quoted when not a plain name
            if name in tables:
                found.append((name, node.origin(), aliased))
            continue
        if kind == "Filter":
            conditions.append(node.condition())
        elif kind == "Join" and node.condition().isDefined():
            conditions.append(node.condition().get())
        elif kind == "UnresolvedWith":
            defs = node.cteRelations()
            for i in range(defs.size()):
                pair = defs.apply(i)
                ctes.add(fold(pair._1()))
                stack.append((pair._2(), False))
        children = node.children()
        for i in range(children.size()):
            stack.append((children.apply(i), kind == "SubqueryAlias"))
        if nested and kind != "SubqueryAlias":
            subqueries = node.subqueries()
            for i in range(subqueries.size()):
                stack.append((subqueries.apply(i), False))
    found = [f for f in found if tables[f[0]].bounds and f[0] not in ctes]
    prunable = {}
    for name, _, _ in found:
        table = tables[name]
        for f in table.schema.fields:
            if f.name in table.bounds or table.sidecar:
                prunable[fold(f.name)] = f.dataType
    if not bind and not any(_narrows(c.sql(), prunable, fold) for c in conditions):
        return []
    out = []
    for name, origin, aliased in found:
        start, stop = origin.startIndex().get(), origin.stopIndex().get()
        if fold(query[start : stop + 1].strip("`")) == name:
            out.append((start, stop, aliased, tables[name]))
    return out


_NUMBER = r"(-?\d+(?:\.\d+)?(?:E[-+]?\d+)?)(L|D|BD)?"
_COLUMN = r"(?:\w+\.)*(\w+)"
_COMPARISON = re.compile(rf"{_COLUMN} (<=|>=|<|>|=) {_NUMBER}")
_REVERSED = re.compile(rf"{_NUMBER} (<=|>=|<|>|=) {_COLUMN}")
_BETWEEN = re.compile(rf"between\({_COLUMN}, {_NUMBER}, {_NUMBER}\)")
_FLIP = {"<": ">", "<=": ">=", ">": "<", ">=": "<=", "=": "="}
_STRING = re.compile(r"'(?:[^'\\]|\\.)*'")
#: a literal's Python type by its suffix in Catalyst's SQL
_LITERALS = {None: int, "L": int, "D": float, "BD": Decimal}


def _narrows(condition: str, prunable: dict, fold) -> bool:
    """Whether a top-level conjunct of ``condition`` (Catalyst's SQL for
    a parsed condition) compares a ``prunable`` column (a coordinate, or
    a data variable with chunk statistics) with a number that Spark
    pushes to the source as written (:func:`pushed_filters`)."""
    conjuncts, parts = [], [_STRING.sub("''", condition)]
    while parts:
        part = parts.pop()
        operands = _operands(part)
        if operands is not None and len(operands) == 2:
            parts += operands
            continue
        part = operands[0] if operands else part
        if m := _COMPARISON.fullmatch(part):
            conjuncts.append((m[1], m[2], m[3], m[4]))
        elif m := _REVERSED.fullmatch(part):
            conjuncts.append((m[4], _FLIP[m[3]], m[1], m[2]))
        elif m := _BETWEEN.fullmatch(part):
            conjuncts += [(m[1], ">=", m[2], m[3]), (m[1], "<=", m[4], m[5])]
    return any(
        pushed_filters([(fold(col), op, _LITERALS[kind](text))], prunable)
        for col, op, text, kind in conjuncts
    )


def _operands(text: str) -> tuple | None:
    """``(left, right)`` when ``text`` is ``(left AND right)``, the term
    inside when it is one other bracketed term (Catalyst brackets every
    binary operator), else ``None``."""
    if text[:1] != "(" or text[-1:] != ")":
        return None
    inner, depth = text[1:-1], 0
    for m in re.finditer(r"\(|\)| AND ", inner):
        if m.group() == " AND ":
            if depth == 0:
                return inner[: m.start()], inner[m.end() :]
        else:
            depth += 1 if m.group() == "(" else -1
            if depth < 0:
                return None  # "(a) OR (b)"
    return (inner,)


def _relation(spark, table, stmt, schema) -> DataFrame:
    """A fresh window-narrowing relation over ``table``'s store."""
    from zarr_datafusion_spark.zarr import read_zarr

    pushed = stmt is not None and pushed_filters(stmt.where, schema)
    cols, filters = table.schema.names, None
    if stmt is not None:
        cols = stmt.referenced(schema)
        plain = stmt.columns(schema) is not None and not (
            stmt.group or stmt.order or stmt.limit is not None
        )  # an aggregate's float sums depend on how the scan splits
        if table.sidecar and plain:
            filters = _driver_filters(spark, stmt, schema, table.store)
    if not pushed:  # read a coordinate for the always-true filter below
        coord = next((c for c in cols if c in table.bounds), next(iter(table.bounds)))
        cols = [c for c in table.schema.names if c in cols or c == coord]
    df = read_zarr(
        spark, table.store, columns=cols, eager_pushdown=True,
        data_filter_pushdown=table.sidecar, filters=filters,
        chunk_cache_mb=table.chunk_cache_mb, prefetch=table.prefetch,
        _schema=StructType([table.schema[c] for c in cols]),
    )
    if pushed:  # every later plan over the result pushes these
        return df
    # else an always-true filter that every later plan pushes
    lo, dtype = table.bounds[coord], table.schema[coord].dataType
    if isinstance(dtype, TimestampType):
        bound = F.timestamp_micros(F.lit(_epoch_us(lo)))
    else:
        bound = F.lit(lo).cast(dtype)
    return df.filter(F.col(coord) >= bound)


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


# kept only because ``perfbench/layers.py`` TARGETS resolves this name
try_pruned_agg_rewrite = try_filter_rewrite
