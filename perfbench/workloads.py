"""The benchmark's workloads: seeded inputs, statement streams and the
independent answers every statement is checked against.

Each workload object is built from ``(seed, scale, work_dir)`` and
offers these calls:

* ``prepare(engine, rep)`` generates the inputs for one set-up
  repetition under ``work_dir`` and registers them (the harness repeats
  set-up and reports the median);
* ``verify(engine)`` runs once after the repetitions, still in set-up:
  a whole-input check, and any answers that are costly to compute;
* ``register(engine)`` registers the current inputs again, so relations
  built while the tracer is installed (or removed) pick it up;
* ``rounds(n)`` returns ``n`` rounds of :class:`Op`, answers included,
  computed before the timed phase starts.  A round holds every
  statement template once, in a seed-shuffled order, so each run
  measures the same mix whatever its length; ``warmup_round()`` is
  the untimed round run at the end of set-up.

``cells`` of an op is the number of flattened grid cells its answer
depends on: the cells in its coordinate window (the whole table when it
has no window).  For ``operators_sf01`` it is the rows of the input
tables the entry reads.
"""

from __future__ import annotations

import os
import shutil
import time
from dataclasses import dataclass, field
from typing import Any, Callable

import numpy as np

#: ``seed_offset`` of the untimed warm-up round (timed rounds count up
#: from 0)
WARMUP_OFFSET = 1 << 20


@dataclass
class Op:
    name: str
    cells: int
    check: Callable[[Any], bool]
    #: SQL through ``Engine.sql``, collected
    sql: str | None = None
    #: non-SQL op: ``call(engine)`` returns the value ``check`` receives
    call: Callable[[Any], Any] | None = None
    #: per-layer timings the op's call records (seconds by layer)
    timings: dict[str, float] = field(default_factory=dict)


def rows_of(result) -> list[tuple]:
    return [tuple(r) for r in result]


def close(a, b, tol: float) -> bool:
    return a is not None and b is not None and abs(float(a) - float(b)) <= tol


def _exact(expected: list[tuple]) -> Callable[[Any], bool]:
    return lambda res: rows_of(res) == expected


def _exact_sorted(expected: list[tuple]) -> Callable[[Any], bool]:
    want = sorted(expected)
    return lambda res: sorted(rows_of(res)) == want


class _Workload:
    def register(self, engine) -> None:
        pass

    def verify(self, engine) -> bool:
        return True

    def warmup_round(self) -> list[Op]:
        return self.rounds(1, seed_offset=WARMUP_OFFSET)[0]

    def cleanup(self) -> None:
        """Remove what the run left outside its work directory."""

    def reader_windows(self):
        """(store, data-var names) a single-thread reader pass covers;
        ``(None, [])`` when the workload reads no Zarr store."""
        return None, []


# ---------------------------------------------------------------------
# interactive_pushdown
# ---------------------------------------------------------------------

class InteractivePushdown(_Workload):
    """REPL-style statements over a zlib time-series store registered
    with chunk statistics: scan-free COUNT and MIN/MAX, a coordinate
    window, a grouped rollup, top-k, a narrow SELECT, a data-variable
    predicate and one unprunable full aggregate as a control.

    Set-up also runs one ingest through the Zarr sink on a second store
    (``COPY ... STORED AS ZARR`` of a seeded grid query, ``append_zarr``
    of new time slabs, ``update_zarr_region`` of some slabs, and a
    read-back checked against numpy), so the sink's cost shows in
    ``setup_s`` and its layer metrics come from the traced run's
    set-up."""

    name = "interactive_pushdown"
    #: (time, lat, lon) of the queried store, one chunk per time slab
    SHAPES = {"full": (32, 64, 128), "tiny": (24, 4, 6)}
    #: (time, lat, lon) of the ingested store, slabs appended, slabs updated
    INGEST = {"full": ((16, 64, 128), 4, 2), "tiny": ((8, 4, 6), 2, 2)}
    #: logical bytes per cell: pressure int64 + temp float32
    cell_bytes = 12

    def __init__(self, seed: int, scale: str, work: str):
        self.seed, self.work = seed, work
        self.shape = self.SHAPES[scale]
        self.ingest_shape = self.INGEST[scale]
        self.cells = int(np.prod(self.shape))
        self.table = None
        self.sidecars: set[str] = set()
        #: logical bytes the sink was asked to write
        self.sink_logical_bytes = 0

    @staticmethod
    def _grid_sql(t_lo: int, t_hi: int, nla: int, nlo: int, t0: int, k) -> str:
        a, b, c, d, e, f, g, h = k
        noise = f"((t.id * {a} + la.id * {b} + lo.id * {c} + {d}) % 200)"
        temp = f"((t.id * {e} + la.id * {f} + lo.id * {g} + {h}) % 2001 - 1000)"
        return (
            f"SELECT t.id * 10 + {t0} AS time, la.id AS lat, lo.id AS lon, "
            f"1000 + 3 * t.id + {noise} AS pressure, "
            f"CAST(CAST({temp} AS DOUBLE) / 100 AS FLOAT) AS temp "
            f"FROM range({t_lo}, {t_hi}) t CROSS JOIN range({nla}) la "
            f"CROSS JOIN range({nlo}) lo"
        )

    @staticmethod
    def _grid_np(t_lo: int, t_hi: int, nla: int, nlo: int, k):
        """pressure (trend plus noise) and temp of ``_grid_sql``."""
        a, b, c, d, e, f, g, h = k
        t = np.arange(t_lo, t_hi, dtype=np.int64)[:, None, None]
        la = np.arange(nla, dtype=np.int64)[None, :, None]
        lo = np.arange(nlo, dtype=np.int64)[None, None, :]
        pressure = 1000 + 3 * t + (t * a + la * b + lo * c + d) % 200
        temp = ((t * e + la * f + lo * g + h) % 2001 - 1000).astype(np.float64) / 100
        return pressure, temp.astype(np.float32)

    @staticmethod
    def _key(rng) -> tuple:
        return tuple(int(x) for x in rng.integers(1, 1 << 20, 8))

    def prepare(self, engine, rep: int) -> None:
        from zarr_datafusion_spark.zarr.writer import write_store

        rng = np.random.default_rng([self.seed, rep])
        nt, nla, nlo = self.shape
        t0 = int(rng.integers(0, 1000))
        pressure, temp = self._grid_np(0, nt, nla, nlo, self._key(rng))
        time_ = t0 + 10 * np.arange(nt, dtype=np.int64)
        store = os.path.join(self.work, f"series_rep{rep}.zarr")
        chunks = (1, nla, nlo)
        write_store(store, {
            "time": (time_, (nt,)),
            "lat": (np.arange(nla, dtype=np.int64), (nla,)),
            "lon": (np.arange(nlo, dtype=np.int64), (nlo,)),
            "pressure": (pressure, chunks),
            "temp": (temp, chunks),
        }, compression="zlib")
        old = self.store if self.table is not None else None
        self.table, self.store = f"series_{rep}", store
        self.register(engine)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)
        self.time, self.pressure, self.temp = time_, pressure, temp

    def ingest(self, engine) -> bool:
        """COPY, append and update a second store through the sink, then
        check a read-back aggregate against numpy."""
        # called through the module, so the tracer's patches apply
        from zarr_datafusion_spark.zarr import sink

        rng = np.random.default_rng([self.seed, WARMUP_OFFSET])
        (nt, nla, nlo), n_app, n_upd = self.ingest_shape
        k = self._key(rng)
        store = os.path.join(self.work, "ingest.zarr")
        n_copy = nt - n_app
        engine.sql(
            f"COPY ({self._grid_sql(0, n_copy, nla, nlo, 0, k)}) TO '{store}' "
            "STORED AS ZARR (COORDS 'time,lat,lon', COMPRESSION 'zlib')"
        )
        sink.append_zarr(engine.spark.sql(self._grid_sql(n_copy, nt, nla, nlo, 0, k)),
                         store)
        lo = int(rng.integers(0, nt - n_upd + 1))
        ku = self._key(rng)
        sink.update_zarr_region(
            engine.spark.sql(self._grid_sql(lo, lo + n_upd, nla, nlo, 0, ku)), store)
        self.sink_logical_bytes = (nt + n_upd) * nla * nlo * self.cell_bytes

        pressure, temp = self._grid_np(0, nt, nla, nlo, k)
        pressure[lo : lo + n_upd], temp[lo : lo + n_upd] = self._grid_np(
            lo, lo + n_upd, nla, nlo, ku)
        engine.register_zarr("ingest", store)
        got = engine.sql(
            "SELECT COUNT(*) AS n, SUM(pressure) AS s, MAX(temp) AS m FROM ingest"
        ).collect()
        engine.spark.catalog.dropTempView("ingest")
        shutil.rmtree(store, ignore_errors=True)
        return rows_of(got) == [(pressure.size, int(pressure.sum()), float(temp.max()))]

    def register(self, engine) -> None:
        from zarr_datafusion_spark.stats.chunk_stats import chunk_stats_sidecar_path

        engine.sql(
            f"CREATE EXTERNAL TABLE {self.table} STORED AS ZARR "
            f"LOCATION '{self.store}' OPTIONS ('chunk_stats' 'true')"
        )
        self.sidecars.add(chunk_stats_sidecar_path(self.store))

    def cleanup(self) -> None:
        """The chunk-statistics sidecars live in the package's cache
        directory, keyed by store path; each run's stores are new."""
        for path in self.sidecars:
            if os.path.exists(path):
                os.remove(path)

    def verify(self, engine) -> bool:
        if not self.ingest(engine):
            return False
        got = engine.sql(
            f"SELECT COUNT(*) AS n, SUM(pressure) AS s, SUM(lat) AS la, "
            f"SUM(lon) AS lo FROM {self.table} WHERE temp > -1e30"
        ).collect()
        nt, nla, nlo = self.shape
        want = (
            self.cells,
            int(self.pressure.sum()),
            nt * nlo * int(np.arange(nla).sum()),
            nt * nla * int(np.arange(nlo).sum()),
        )
        return rows_of(got) == [want]

    def _window(self, rng, length: int) -> tuple[int, int]:
        """Seeded position, fixed length: the work per statement does
        not depend on the seed, only where it lands."""
        lo = int(rng.integers(0, self.shape[0] - length))
        return lo, lo + length  # outer index range [lo, hi]

    def rounds(self, n: int, seed_offset: int = 0) -> list[list[Op]]:
        rng = np.random.default_rng([self.seed, 1000 + seed_offset])
        t, time_, p, temp = self.table, self.time, self.pressure, self.temp
        nt, nla, nlo = self.shape
        inner = nla * nlo
        lat = np.arange(nla)
        lon = np.arange(nlo)
        full_mean = float(temp.astype(np.float64).mean())
        out = []
        for _ in range(n):
            ops = [
                Op("count_all", self.cells, _exact([(self.cells,)]),
                   sql=f"SELECT COUNT(*) AS n FROM {t}"),
                Op("minmax_var", self.cells,
                   _exact([(int(p.min()), int(p.max()))]),
                   sql=f"SELECT MIN(pressure) AS lo, MAX(pressure) AS hi FROM {t}"),
            ]

            lo, hi = self._window(rng, nt // 4)
            w = p[lo : hi + 1]
            ops.append(Op(
                "window_sum", w.size, _exact([(int(w.sum()), int(w.size))]),
                sql=f"SELECT SUM(pressure) AS s, COUNT(*) AS n FROM {t} "
                    f"WHERE time BETWEEN {time_[lo]} AND {time_[hi]}"))

            lo, hi = self._window(rng, nt // 8)
            sums = p[lo : hi + 1].sum(axis=(0, 2))
            ops.append(Op(
                "rollup_lat", (hi - lo + 1) * inner,
                _exact_sorted([(int(a), int(s)) for a, s in zip(lat, sums)]),
                sql=f"SELECT lat, SUM(pressure) AS s FROM {t} "
                    f"WHERE time BETWEEN {time_[lo]} AND {time_[hi]} GROUP BY lat"))

            k = inner + inner // 2
            flat = np.arange(self.cells - 1, self.cells - 1 - k, -1)
            ti, la, lo_ = np.unravel_index(flat, self.shape)
            top = [
                (int(time_[a]), int(b), int(c), int(p[a, b, c]))
                for a, b, c in zip(ti, la, lo_)
            ]
            ops.append(Op(
                "topk_tail", k, _exact(top),
                sql=f"SELECT time, lat, lon, pressure FROM {t} "
                    f"ORDER BY time DESC, lat DESC, lon DESC LIMIT {k}"))

            lo, hi = self._window(rng, 3)
            x = int(rng.integers(0, nla))
            sel = [
                (int(time_[a]), x, int(c), float(temp[a, x, c]))
                for a in range(lo, hi + 1)
                for c in lon
            ]
            ops.append(Op(
                "narrow_select", (hi - lo + 1) * inner, _exact_sorted(sel),
                sql=f"SELECT time, lat, lon, temp FROM {t} "
                    f"WHERE time BETWEEN {time_[lo]} AND {time_[hi]} AND lat = {x}"))

            # keeps roughly the last quarter of the slabs
            v = 1000 + 3 * (nt - nt // 4 + int(rng.integers(0, nt // 32 + 1))) + 200
            m = p > v
            ops.append(Op(
                "pred_count", self.cells,
                _exact([(int(m.sum()), int(p[m].sum()))]),
                sql=f"SELECT COUNT(*) AS n, SUM(pressure) AS s FROM {t} "
                    f"WHERE pressure > {v}"))

            ops.append(Op(
                "control_full", self.cells,
                lambda res, m=full_mean: (
                    rows_of(res)[0][1] == self.cells
                    and close(rows_of(res)[0][0], m, 1e-9)
                ),
                sql=f"SELECT AVG(temp) AS a, COUNT(*) AS n FROM {t} "
                    f"WHERE temp > -1e30"))
            rng.shuffle(ops)
            out.append(ops)
        return out

    def reader_windows(self):
        return self.store, ["pressure", "temp"]


# ---------------------------------------------------------------------
# operators_sf01
# ---------------------------------------------------------------------

class OperatorsSf01(_Workload):
    """The ten ROADMAP item 5 registry entries over seeded star-schema
    tables; each op builds the entry's DataFrame and collects it, and
    the answer must equal the entry's DuckDB twin value-exactly."""

    name = "operators_sf01"
    #: entry -> the tables it reads
    ENTRIES = {
        "agg_groupby": ("lineitem",),
        "tpch_q5_local_supplier": (
            "customer", "orders", "lineitem", "supplier", "nation", "region"),
        "subquery_correlated": ("orders", "lineitem"),
        "dedup_cut_spans": ("documents",),
        "dedup_setsim_prefix_join": ("documents",),
        "dedup_substring_winnowed": ("documents",),
        "dedup_exact_substring": ("documents",),
        "text_encode_ids": ("documents",),
        "search_phrase": ("documents",),
        "dedup_minhash_lsh": ("documents",),
    }
    #: (scale factor, documents) of the timed and the warm-up tables
    SCALES = {"full": (0.1, 240), "tiny": (0.01, 80)}

    def __init__(self, seed: int, scale: str, work: str):
        self.seed, self.work = seed, work
        self.sf, self.n_doc = self.SCALES[scale]
        self.dir = None
        self.registry = _operator_registry(self.ENTRIES)

    def _tables(self, tag: str, seed, sf: float, n_doc: int):
        from tables import make_tables, write_tables

        tabs = make_tables(seed, sf, n_doc)
        path = os.path.join(self.work, tag)
        write_tables(tabs, path)
        return path, {k: t.num_rows for k, t in tabs.items()}

    def prepare(self, engine, rep: int) -> None:
        old = self.dir
        self.dir, self.rows = self._tables(f"sf_rep{rep}", [self.seed, rep],
                                           self.sf, self.n_doc)
        if old is not None:
            shutil.rmtree(old, ignore_errors=True)

    def verify(self, engine) -> bool:
        """DuckDB answers for the timed tables and for the tiny warm-up
        tables; every timed answer must be non-empty, or an entry that
        wrongly returns nothing would pass."""
        self.warm_dir, _ = self._tables("sf_warm", [self.seed, WARMUP_OFFSET],
                                        *self.SCALES["tiny"])
        self.want = _oracle_answers(self.registry, self.dir)
        self.warm_want = _oracle_answers(self.registry, self.warm_dir)
        return all(len(w) > 0 for w in self.want.values())

    def _op(self, name: str, sf_dir: str, want) -> Op:
        fn = self.registry[name][0]
        op = Op(name, sum(self.rows[t] for t in self.ENTRIES[name]),
                lambda res: _frames_equal(_norm(res), want))

        def call(engine):
            t0 = time.perf_counter()
            df = fn(engine.spark, sf_dir)
            t1 = time.perf_counter()
            res = df.toPandas()
            op.timings = {"build": t1 - t0, "action": time.perf_counter() - t1}
            return res

        op.call = call
        return op

    def rounds(self, n: int, seed_offset: int = 0) -> list[list[Op]]:
        rng = np.random.default_rng([self.seed, 1000 + seed_offset])
        out = []
        for _ in range(n):
            ops = [self._op(name, self.dir, self.want[name]) for name in self.ENTRIES]
            rng.shuffle(ops)
            out.append(ops)
        return out

    def warmup_round(self) -> list[Op]:
        """Every entry once on the tiny tables: each query shape is
        compiled and the workers started before the timed phase."""
        return [self._op(name, self.warm_dir, self.warm_want[name])
                for name in self.ENTRIES]


def _operator_registry(names) -> dict[str, tuple[Callable, str]]:
    """entry -> (registry function, DuckDB twin SQL), from the same
    module registries ``__spark_entry__.queries()``/``oracle_sql()``
    aggregate."""
    from zarr_datafusion_spark.operators import dedup, extras, relational

    out = {}
    for mod in (relational, extras, dedup):
        for name in names:
            if name in mod.QUERIES:
                out[name] = (mod.QUERIES[name], mod.ORACLE[name])
    missing = set(names) - set(out)
    if missing:
        raise RuntimeError(f"registry entries not found: {sorted(missing)}")
    return out


def _oracle_answers(registry, sf_dir: str) -> dict:
    import duckdb

    con = duckdb.connect()
    try:
        con.execute(f"SET threads TO {len(os.sched_getaffinity(0))}")
        for f in sorted(os.listdir(sf_dir)):
            table = f.removesuffix(".parquet")
            con.execute(f"CREATE VIEW {table} AS SELECT * FROM "
                        f"read_parquet('{os.path.join(sf_dir, f)}')")
        return {name: _norm(con.sql(sql).df()) for name, (_, sql) in registry.items()}
    finally:
        con.close()


def _norm(df):
    """Columns by name, decimals as floats, dates as timestamps, rows
    sorted: Spark and DuckDB frames of the same answer compare equal."""
    import pandas as pd

    df = df.reindex(sorted(df.columns), axis=1)
    for c in df.columns:
        if pd.api.types.is_datetime64_any_dtype(df[c]):
            df[c] = df[c].dt.floor("us")
        elif df[c].dtype == object and len(df[c].dropna()):
            v = df[c].dropna().iloc[0]
            if type(v).__name__ == "Decimal":
                df[c] = df[c].astype(float)
            elif type(v).__name__ == "date":
                df[c] = pd.to_datetime(df[c])
            elif isinstance(v, (list, np.ndarray)):
                df[c] = df[c].map(_as_tuple)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
    return df.reset_index(drop=True)


def _as_tuple(v):
    """Arrays (lists or numpy arrays, nested) as tuples, which sort and
    compare by value."""
    if isinstance(v, (list, np.ndarray)):
        return tuple(_as_tuple(x) for x in v)
    return v.item() if isinstance(v, np.generic) else v


def _frames_equal(a, b) -> bool:
    """Value-exact equality of two normalised frames; NaN equals NaN."""
    import pandas as pd

    if len(a) != len(b) or list(a.columns) != list(b.columns):
        return False
    for c in a.columns:
        x, y = a[c], b[c]
        if pd.api.types.is_float_dtype(x) or pd.api.types.is_float_dtype(y):
            x, y = x.astype(float).to_numpy(), y.astype(float).to_numpy()
            if not ((x == y) | (np.isnan(x) & np.isnan(y))).all():
                return False
        elif not ((x.isna() == y.isna()).all()
                  and (x[~x.isna()].tolist() == y[~y.isna()].tolist())):
            return False
    return True


WORKLOADS = {w.name: w for w in (InteractivePushdown, OperatorsSf01)}
