"""Chunk-level aggregate pushdown for Zarr tables.

The reference's own UNCHECKED roadmap item (``/root/reference/
README.md:297`` — "push SUM/AVG/COUNT to chunk level"): ``SELECT
SUM(v), AVG(v), COUNT(*) ... FROM t [WHERE coord <op> lit ...]`` is
answered from the per-chunk-row statistics sidecar
(:mod:`zarr_datafusion_spark.stats.chunk_stats`) instead of a full
scan:

* chunk rows FULLY INSIDE the coordinate window ("interior") fold
  driver-side from their exact per-row sums/bounds — metadata-sized
  work, no store reads;
* chunk rows the filter cuts mid-chunk ("boundary" — at most two when
  the outer coordinate is sorted) are scanned through the normal
  pruned reader, restricted to exactly those slabs;
* the two halves combine in a one-row JVM plan (literals + a tiny
  boundary aggregate) — no driver-side data collects;
* with no boundary row the driver answers alone: a one-row
  ``LocalRelation`` (:func:`~zarr_datafusion_spark.local_relation.frame`)
  that collects with no Spark job.

Policy (same discipline as the NaN MIN/MAX withhold in
``data_var_bounds``):

* INTEGER variables answer exactly — int sums are associative, so the
  sidecar fold equals any scan order bit-for-bit;
* FLOAT variables never take the SUM/AVG shortcut — float sums are
  order-dependent and neither Spark nor the sidecar defines a shared
  order, so the full plan answers (min/max over floats likewise falls
  through: the NaN-is-largest rules live in the scan pruner, not
  here);
* a per-row sum withheld for potential int64 overflow bails to the
  full plan, which raises Spark's own ANSI overflow error — the
  shortcut must never answer where the scan would error;
* an UNSORTED outer coordinate disables the filtered form entirely: a
  value-range boundary scan could overlap interior rows and double
  count (the unfiltered form stays available — it needs no row
  classification).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, LongType, StructField, StructType

from zarr_datafusion_spark.stats.statement import classify, predicate


def _agg_items(stmt, stats: dict, coord: str, group: str | None):
    """``(fn, arg, name)`` per select item, ``fn == "group"`` for the
    bare GROUP BY column, or ``None`` when an item is outside the
    sidecar's policy (floats, withheld sums, unknown columns)."""
    items = []
    for item in stmt.items:
        fn, arg = item.fn, item.arg
        if group is not None and (fn, arg, item.alias) == (None, group, None):
            items.append(("group", None, group))
            continue
        if fn is None:
            return None
        if fn == "count":
            if arg in ("*", "1"):
                items.append(("count", None, item.name))
                continue
            # zarr columns are dense (null_count 0): COUNT(col) = rows —
            # but only for columns this table actually has
            if arg != coord and arg not in stats["vars"]:
                return None
            items.append(("count", arg, item.name))
            continue
        v = stats["vars"].get(arg)
        if v is None or v.get("kind") not in ("i", "u"):
            return None  # floats/unknown: full plan answers (see policy)
        if fn in ("sum", "avg") and any(s is None for s in v["sum"]):
            return None  # withheld sums (overflow guard)
        items.append((fn, arg, item.name))
    return items


def try_chunk_agg_pushdown(
    spark: SparkSession, stmt, schema: dict, store: str
) -> DataFrame | None:
    """Answer ``stmt`` from chunk-row statistics + boundary-slab scans,
    or return ``None`` (caller falls through to the full plan).

    ``store`` is the zarr store of a table registered with
    ``data_filter_pushdown=True``; its sidecar stats come from
    ``compute_zarr_chunk_stats`` (cached)."""
    if stmt.order or stmt.limit is not None:
        return None

    from zarr_datafusion_spark.stats import chunk_stats

    try:
        stats = chunk_stats.compute_zarr_chunk_stats(spark, store)
    except Exception:
        return None
    n_rows_list = len(stats.get("coord0_min", []))
    if not stats.get("vars") or n_rows_list == 0 or not stats.get("inner_rows"):
        return None

    coord = stats.get("coord0")
    where = stmt.where
    if where is not None and (
        coord is None or any(c != coord for c, _, _ in where)
    ):
        return None
    if stmt.group is not None:
        # GROUP BY rollup path (hypertable-rollup shape): needs
        # chunk-row == outer-index granularity; handles its own guards
        return _grouped_rollup(spark, stmt, stats, schema, coord)
    if where is not None and not stats.get("coord0_sorted"):
        return None  # unsorted outer coord: boundary scan could double-count
    items = _agg_items(stmt, stats, coord, None)
    if items is None:
        return None

    # ---- classify chunk rows ------------------------------------------
    C, shape0, inner = stats["outer_chunk"], stats["shape0"], stats["inner_rows"]
    interior, boundary = [], []
    for r in range(n_rows_list):
        rmin, rmax = stats["coord0_min"][r], stats["coord0_max"][r]
        if rmin is None:
            return None  # non-numeric outer coord
        cls = classify(rmin, rmax, where, schema.get(coord))
        if cls == "in":
            interior.append(r)
        elif cls == "boundary":
            boundary.append(r)
    if len(boundary) > 4:
        # sorted coords yield at most 2; anything more says the stats
        # don't fit the model — full plan
        return None

    def row_cells(r: int) -> int:
        return (min((r + 1) * C, shape0) - r * C) * inner

    i_count = sum(row_cells(r) for r in interior)
    vars_needed = sorted({arg for fn, arg, _ in items if arg and arg != coord})
    # per-row sums exist only where the sidecar kept them (None =
    # overflow-withheld) — a MIN/MAX-only query over such a var must
    # never fold them (ADVICE r10: sum([None, ...]) raised TypeError),
    # and its boundary scan must not compute a SUM the full plan
    # wouldn't (that sum could ANSI-overflow where MIN/MAX succeeds)
    sum_vars = sorted(
        {arg for fn, arg, _ in items if fn in ("sum", "avg") and arg}
    )
    i_sum = {
        v: sum(stats["vars"][v]["sum"][r] for r in interior) for v in sum_vars
    }
    i_min = {
        v: min((stats["vars"][v]["min"][r] for r in interior), default=None)
        for v in vars_needed
    }
    i_max = {
        v: max((stats["vars"][v]["max"][r] for r in interior), default=None)
        for v in vars_needed
    }
    for v in sum_vars:
        if abs(i_sum[v]) >= (1 << 63):
            return None  # the full plan raises ANSI overflow; we must too

    if not boundary:
        acc = {v: [i_sum.get(v), i_min[v], i_max[v]] for v in vars_needed}
        return _fold_frame(spark, items, schema, [(None, i_count, acc)])

    # ---- boundary slab scans (only those slabs) -----------------------
    aggs = [F.count(F.lit(1)).alias("_bn")]
    for v in vars_needed:
        if v in sum_vars:
            aggs.append(F.sum(v).alias(f"_bsum_{v}"))
        aggs += [
            F.min(v).alias(f"_bmin_{v}"),
            F.max(v).alias(f"_bmax_{v}"),
        ]
    from zarr_datafusion_spark.zarr import read_zarr

    scans = []
    for r in boundary:
        rmin, rmax = stats["coord0_min"][r], stats["coord0_max"][r]
        df = read_zarr(
            spark, store, columns=stmt.referenced(schema), eager_pushdown=True
        )
        c = F.col(coord)
        scans.append(
            df.filter(c.between(F.lit(rmin), F.lit(rmax)) & predicate(where))
        )
    b = scans[0]
    for s in scans[1:]:
        b = b.unionByName(s)
    b = b.agg(*aggs)

    # ---- combine: one-row JVM projection ------------------------------
    total = F.lit(i_count).cast("bigint") + F.col("_bn")
    out = []
    for fn, arg, name in items:
        if fn == "count":
            out.append(total.alias(name))
            continue
        if fn in ("sum", "avg"):
            bsum = F.coalesce(F.col(f"_bsum_{arg}"), F.lit(0)).cast("bigint")
            s = (F.lit(i_sum[arg]).cast("bigint") + bsum).cast("bigint")
        if fn == "sum":
            out.append(F.when(total > 0, s).alias(name))
        elif fn == "avg":
            out.append(
                F.when(total > 0, s.cast("double") / total.cast("double")).alias(
                    name
                )
            )
        elif fn == "min":
            cols = [F.col(f"_bmin_{arg}").cast(schema[arg])]
            if i_min[arg] is not None:
                cols.append(F.lit(i_min[arg]).cast(schema[arg]))
            out.append(
                (F.least(*cols) if len(cols) > 1 else cols[0]).alias(name)
            )
        else:  # max
            cols = [F.col(f"_bmax_{arg}").cast(schema[arg])]
            if i_max[arg] is not None:
                cols.append(F.lit(i_max[arg]).cast(schema[arg]))
            out.append(
                (F.greatest(*cols) if len(cols) > 1 else cols[0]).alias(name)
            )
    res = b.select(*out)
    res._zds_shortcut_kind = "pruned"  # boundary slabs are read
    return res


def _fold_frame(spark, items, schema: dict, groups):
    """The sidecar answer as a ``LocalRelation``: one row per ``(key,
    cells, acc)`` group, ``acc`` mapping each variable to its folded
    ``[sum, min, max]``, typed and NULLed as Spark's own aggregates
    (COUNT is a non-null BIGINT; SUM/AVG/MIN/MAX of no cells are NULL;
    SUM is BIGINT and AVG divides it in DOUBLE), or ``None`` when a sum
    leaves int64: the full plan raises ANSI overflow for SUM and sums
    AVG in DOUBLE, so the exact integer fold defers to it."""
    from zarr_datafusion_spark.local_relation import frame

    fields = []
    for fn, arg, name in items:
        if fn == "group":
            fields.append(StructField(name, schema[name], nullable=False))
        elif fn == "count":
            fields.append(StructField(name, LongType(), nullable=False))
        elif fn == "sum":
            fields.append(StructField(name, LongType(), nullable=True))
        elif fn == "avg":
            fields.append(StructField(name, DoubleType(), nullable=True))
        else:
            fields.append(StructField(name, schema[arg], nullable=True))
    columns = [[] for _ in items]
    for key, cells, acc in groups:
        for column, (fn, arg, _) in zip(columns, items):
            if fn == "group":
                value = key
            elif fn == "count":
                value = cells
            elif not cells:
                value = None
            elif fn in ("sum", "avg"):
                s = acc[arg][0]
                if abs(s) >= (1 << 63):
                    return None
                value = s if fn == "sum" else float(s) / cells
            else:
                value = acc[arg][1 if fn == "min" else 2]
            column.append(value)
    return frame(spark, StructType(fields), columns)


#: a grouped rollup larger than this answers from the full plan — the
#: sidecar fold is driver-side (the result IS this size either way,
#: but a distributed fold should own truly huge rollups)
_ROLLUP_MAX_GROUPS = 100_000


def _grouped_rollup(spark, stmt, stats: dict, schema: dict, coord: str | None):
    """``SELECT coord0, AGGs FROM t [WHERE coord0 ...] GROUP BY coord0``
    answered entirely from the sidecar — the hypertable-rollup shape
    (per-time-bucket SUM/AVG over an append-axis store).  Requires
    chunk-row granularity == one outer index (``outer_chunk == 1``), so
    every group's exact per-row sum/min/max/count is already in the
    sidecar and NO store read happens at all; a window cuts nothing
    mid-group (each row's coord bounds collapse to one value, so
    classification is exact in/out — sortedness is NOT required here,
    there is no boundary scan to double-count).  The fold runs
    driver-side over metadata-sized lists; rollups beyond
    ``_ROLLUP_MAX_GROUPS`` groups bail to the distributed plan."""
    group = stmt.group
    if group != coord or stats.get("outer_chunk") != 1:
        return None
    n_rows_list = len(stats.get("coord0_min", []))
    if n_rows_list != stats.get("shape0") or n_rows_list > _ROLLUP_MAX_GROUPS:
        return None

    # ---- items: the bare group column plus the supported aggs --------
    items = _agg_items(stmt, stats, coord, group)  # (kind, arg, out_name)
    if not items:
        return None

    # accumulate per GROUP VALUE (duplicate coordinate values — legal
    # in an unsorted axis — must merge into one group, as SQL does)
    inner = stats["inner_rows"]
    # vars whose per-row stats the fold must carry (count(coord) needs
    # none; sum-None entries only reach here for min/max-only items)
    vars_needed = sorted(
        {arg for fn, arg, _ in items if arg and arg in stats["vars"]}
    )
    acc: dict = {}  # cv -> {"cells": n, var: [sum, min, max]}
    order: list = []
    for r in range(n_rows_list):
        cv = stats["coord0_min"][r]
        if cv is None or cv != stats["coord0_max"][r]:
            return None  # non-numeric or inconsistent row bounds
        if classify(cv, cv, stmt.where, schema.get(coord)) != "in":
            continue
        a = acc.get(cv)
        if a is None:
            a = acc[cv] = {"cells": 0}
            order.append(cv)
        a["cells"] += inner
        for vname in vars_needed:
            v = stats["vars"][vname]
            cur = a.get(vname)
            s = v["sum"][r]
            if cur is None:
                a[vname] = [s, v["min"][r], v["max"][r]]
            else:
                cur[0] = None if (cur[0] is None or s is None) else cur[0] + s
                cur[1] = min(cur[1], v["min"][r])
                cur[2] = max(cur[2], v["max"][r])

    # duplicate-coord merges can push the exact Python sum past int64
    # even when every per-row sum was kept (ADVICE r10 low); the fold
    # then defers to the full plan
    return _fold_frame(
        spark, items, schema, [(cv, acc[cv]["cells"], acc[cv]) for cv in order]
    )
