"""Property-based tests (hypothesis): the flatten semantics hold for
arbitrary store shapes, dtypes, and values — not just the fixture.

The reference has no property tests (SURVEY §5); this closes that gap:
any well-formed store (distinct dim sizes, Cartesian data vars) must
flatten to exactly the numpy row-major expansion, under both Zarr
formats, through the real Spark scan.
"""

from __future__ import annotations

import itertools
import os

import numpy as np
import pytest
from pyspark.sql import functions as F
from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st

from zarr_datafusion_spark.zarr.writer import write_store

_DTYPES = [np.int64, np.int32, np.float64, np.float32]


@st.composite
def grids(draw):
    ndim = draw(st.integers(2, 3))
    # distinct sizes so dimension-order inference is unambiguous
    sizes = draw(
        st.lists(
            st.integers(1, 6), min_size=ndim, max_size=ndim, unique=True
        )
    )
    dtype = draw(st.sampled_from(_DTYPES))
    seed = draw(st.integers(0, 2**31 - 1))
    chunks = tuple(
        draw(st.integers(1, s)) for s in sizes
    )
    return tuple(sizes), dtype, seed, chunks


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(grid=grids(), zarr_format=st.sampled_from([2, 3]))
def test_flatten_any_grid(spark, tmp_path_factory, grid, zarr_format):
    sizes, dtype, seed, chunks = grid
    rng = np.random.RandomState(seed)
    if np.issubdtype(dtype, np.floating):
        data = rng.randn(*sizes).astype(dtype)
    else:
        data = rng.randint(-1000, 1000, sizes).astype(dtype)

    coord_names = [f"c{i}" for i in range(len(sizes))]
    arrays = {
        name: (np.arange(s, dtype=np.int64), (s,))
        for name, s in zip(coord_names, sizes)
    }
    arrays["v"] = (data, chunks)

    store = str(tmp_path_factory.mktemp("prop") / "g.zarr")
    write_store(store, arrays, zarr_format=zarr_format)

    from zarr_datafusion_spark.zarr import read_zarr

    pdf = (
        read_zarr(spark, store)
        .orderBy(*coord_names)
        .toPandas()
    )
    assert len(pdf) == int(np.prod(sizes))
    flat = data.reshape(-1)
    got = pdf["v"].to_numpy()
    if np.issubdtype(dtype, np.floating):
        np.testing.assert_array_equal(got.astype(dtype), flat)
    else:
        np.testing.assert_array_equal(got, flat)
    # coordinate columns repeat row-major
    for d, name in enumerate(coord_names):
        inner = int(np.prod(sizes[d + 1 :]))
        outer = int(np.prod(sizes[:d]))
        expected = np.tile(np.repeat(np.arange(sizes[d]), inner), outer)
        np.testing.assert_array_equal(pdf[name].to_numpy(), expected)


# ---------------------------------------------------------------------------
# Partition-planner helper invariants (round-2 inner-dim splitting)
# ---------------------------------------------------------------------------

from hypothesis import given, settings
from hypothesis import strategies as st


@given(
    lo=st.integers(0, 1000),
    span=st.integers(1, 2000),
    chunk=st.integers(1, 100),
    want=st.integers(1, 64),
)
@settings(max_examples=200, deadline=None)
def test_aligned_pieces_tile_window(lo, span, chunk, want):
    """_aligned_pieces: pieces exactly tile [lo, hi), are ordered and
    disjoint, stay within bounds, number <= want, and every interior
    boundary falls on the chunk grid."""
    from zarr_datafusion_spark.zarr.datasource import _aligned_pieces

    hi = lo + span
    pieces = _aligned_pieces(lo, hi, chunk, want)
    assert 1 <= len(pieces) <= want
    assert pieces[0][0] == lo and pieces[-1][1] == hi
    for (a, b), (c, d) in zip(pieces, pieces[1:]):
        assert b == c, "pieces must be contiguous"
        assert b % chunk == 0, "interior boundary off the chunk grid"
    assert all(b > a for a, b in pieces)


@given(
    lo=st.integers(0, 1000),
    span=st.integers(1, 2000),
    want=st.integers(1, 64),
)
@settings(max_examples=200, deadline=None)
def test_even_pieces_tile_window(lo, span, want):
    from zarr_datafusion_spark.zarr.datasource import _even_pieces

    hi = lo + span
    pieces = _even_pieces(lo, hi, want)
    assert 1 <= len(pieces) <= want
    assert pieces[0][0] == lo and pieces[-1][1] == hi
    for (a, b), (c, d) in zip(pieces, pieces[1:]):
        assert b == c
    sizes = [b - a for a, b in pieces]
    assert max(sizes) - min(sizes) <= 1, "pieces should be near-equal"


# ---------------------------------------------------------------------------
# Cross-engine gram-builder equivalence (round 6)
# ---------------------------------------------------------------------------

#: visible-ASCII + space alphabet: the engines' lower()/\s+ semantics
#: are contractually identical only on ASCII (unicode case folding and
#: whitespace classes differ between the JVM and RE2 — out of scope for
#: the oracle contract, which the driver data never exercises)
_ASCII_TEXT = st.text(
    alphabet=st.sampled_from(
        list("abcdefghijklmnopqrstuvwxyzABCDEFGHIJKLMNOPQRSTUVWXYZ0123456789 .,!?-")
    ),
    min_size=0,
    max_size=60,
)


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=15,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=st.lists(_ASCII_TEXT, min_size=1, max_size=8))
def test_gram_builder_cross_engine_equivalence(spark, texts, tmp_path_factory):
    """The Spark _GRAMS_EXPR and the DuckDB oracle gram CTE must agree
    on ARBITRARY ascii texts — including <3-token docs (the ADVICE r5
    fallback), empty strings, whitespace runs, and punctuation-glued
    tokens.  This is the shared tokenization contract under the whole
    minhash/jaccard/contamination family, checked beyond the fixture."""
    import duckdb as _d
    import pandas as pd

    from zarr_datafusion_spark.operators.dedup import _GRAMS_EXPR

    pdf = pd.DataFrame(
        {"doc_id": range(len(texts)), "text": texts}
    )
    path = str(tmp_path_factory.mktemp("gramprop") / "documents.parquet")
    pdf.to_parquet(path)

    spark_grams = {
        r.doc_id: sorted(r.g)
        for r in spark.read.parquet(path)
        .selectExpr("doc_id", f"{_GRAMS_EXPR} AS g")
        .collect()
    }
    con = _d.connect()
    duck_grams = {
        int(row[0]): sorted(row[1])
        for row in con.execute(
            rf"""
            SELECT doc_id,
                   list_distinct(
                     CASE WHEN len(w) < 3 THEN [lower(trim(text))]
                          ELSE list_transform(
                            range(1, len(w) - 1),
                            i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2]) END)
            FROM (SELECT doc_id, text,
                         regexp_split_to_array(lower(trim(text)), '\s+') AS w
                  FROM read_parquet('{path}'))
            """
        ).fetchall()
    }
    con.close()
    assert spark_grams == duck_grams


# ---------------------------------------------------------------------------
# Two-pass ranking equivalence under arbitrary skew (round 6)
# ---------------------------------------------------------------------------


@pytest.mark.usefixtures("spark")
@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    rows=st.lists(
        st.tuples(
            st.integers(0, 3),        # part key: few values, arbitrary skew
            st.integers(-50, 50),     # order key: heavy tie potential
        ),
        min_size=1,
        max_size=120,
    ),
    n_parts=st.integers(2, 9),
)
def test_ranked_two_pass_property(spark, rows, n_parts):
    """ranked_two_pass == the plain window for ARBITRARY inputs: any
    key skew (one part key owning everything), any tie density, empty
    partitions after the range exchange, partition counts that don't
    divide the data.  The checkpoint-pinned partition assignment
    (ADVICE r5) must hold whatever the distribution looks like."""
    from pyspark.sql.window import Window as W

    from zarr_datafusion_spark.scale import ranked_two_pass

    df = spark.createDataFrame(
        [(i, p, o) for i, (p, o) in enumerate(rows)],
        "tie long, part long, ord long",
    )
    got = {
        (r.tie, r.rn)
        for r in ranked_two_pass(df, "part", "ord", "tie", n_parts=n_parts)
        .select("tie", "rn")
        .collect()
    }
    w = W.partitionBy("part").orderBy("ord", "tie")
    want = {
        (r.tie, r.rn)
        for r in df.select(
            "tie", F.row_number().over(w).cast("long").alias("rn")
        ).collect()
    }
    assert got == want


# ---------------------------------------------------------------------------
# Partition-planner invariants (round 7)
# ---------------------------------------------------------------------------


@st.composite
def planner_cases(draw):
    ndim = draw(st.integers(2, 3))
    sizes = draw(
        st.lists(st.integers(1, 8), min_size=ndim, max_size=ndim, unique=True)
    )
    chunks = tuple(draw(st.integers(1, s)) for s in sizes)
    target = draw(st.integers(1, 12))
    total = int(np.prod(sizes))
    limit = draw(st.one_of(st.none(), st.integers(1, total + 3)))
    return tuple(sizes), chunks, target, limit


def _boxes(parts):
    return [
        ((p.outer_lo, p.outer_hi), *p.inner_windows)
        for p in parts
        if p.outer_hi > p.outer_lo
    ]


def _vol(box):
    return int(np.prod([hi - lo for lo, hi in box]))


def _overlap(a, b):
    return all(al < bh and bl < ah for (al, ah), (bl, bh) in zip(a, b))


@settings(max_examples=25, deadline=None)
@given(case=planner_cases())
def test_partition_plan_covers_grid_exactly_once(tmp_path_factory, case):
    """Planner correctness is scan correctness: for ANY grid shape,
    chunking, parallelism target, and limit, the planned partitions
    must tile the grid — pairwise-disjoint boxes whose volumes sum to
    the full row count (every cell read exactly once); under a limit,
    per-slab budgets must sum to min(limit, rows) so the trimmed scan
    emits exactly the limited prefix.  This pins the 3-stage splitter
    (outer slabs -> chunk-aligned inner splits -> sub-chunk splits),
    whose bugs would silently drop or duplicate rows."""
    sizes, chunks, target, limit = case

    arrays = {
        f"c{i}": (np.arange(s, dtype=np.int64), (s,))
        for i, s in enumerate(sizes)
    }
    arrays["v"] = (
        np.arange(int(np.prod(sizes)), dtype=np.int64).reshape(sizes),
        chunks,
    )
    store = str(tmp_path_factory.mktemp("plan") / "g.zarr")
    write_store(store, arrays)

    from zarr_datafusion_spark.zarr.datasource import ZarrDataSourceReader
    from zarr_datafusion_spark.zarr.metadata import (
        discover_arrays,
        infer_spark_schema,
    )

    meta = discover_arrays(store)
    opts = {"path": store, "target_partitions": str(target)}
    if limit is not None:
        opts["limit"] = str(limit)
    reader = ZarrDataSourceReader(infer_spark_schema(meta), opts, meta)
    parts = reader.partitions()

    total = int(np.prod(sizes))
    boxes = _boxes(parts)
    # within bounds, well-formed
    for b in boxes:
        assert len(b) == len(sizes)
        for (lo, hi), s in zip(b, sizes):
            assert 0 <= lo < hi <= s
    # pairwise disjoint
    for i in range(len(boxes)):
        for j in range(i + 1, len(boxes)):
            assert not _overlap(boxes[i], boxes[j]), (boxes[i], boxes[j])

    if limit is None:
        assert sum(_vol(b) for b in boxes) == total, "grid not fully tiled"
        assert all(p.row_budget is None for p in parts)
    else:
        budgets = [p.row_budget for p in parts if p.outer_hi > p.outer_lo]
        assert all(b is not None and b > 0 for b in budgets)
        assert sum(budgets) == min(limit, total), "limit budget mismatch"


@settings(max_examples=25, deadline=None)
@given(
    vals=st.lists(st.integers(-50, 50), min_size=1, max_size=20),
    lo=st.one_of(st.none(), st.integers(-60, 60)),
    hi=st.one_of(st.none(), st.integers(-60, 60)),
    lo_strict=st.booleans(),
    hi_strict=st.booleans(),
)
def test_range_window_matches_predicate(
    tmp_path_factory, vals, lo, hi, lo_strict, hi_strict
):
    """The range-pushdown window must agree with the predicate for ANY
    coordinate array and bound combination: on a SORTED coordinate the
    window is exactly the matching index range; on an unsorted one it
    must bail to the full dimension (superset contract — narrowing may
    never drop a matching row)."""
    arr = np.array(vals, dtype=np.int64)
    store = str(tmp_path_factory.mktemp("rw") / "g.zarr")
    write_store(
        store,
        {
            "c0": (arr, (len(arr),)),
            "c1": (np.arange(2, dtype=np.int64), (2,)),
            "v": (
                np.zeros((len(arr), 2), dtype=np.int64),
                (max(1, len(arr) // 2), 2),
            ),
        },
    )
    from zarr_datafusion_spark.zarr.datasource import ZarrDataSourceReader
    from zarr_datafusion_spark.zarr.metadata import (
        discover_arrays,
        infer_spark_schema,
    )

    meta = discover_arrays(store)
    reader = ZarrDataSourceReader(
        infer_spark_schema(meta), {"path": store}, meta
    )
    c0 = next(c for c in meta.coords if c.name == "c0")
    reader.coord_ranges = {"c0": [lo, lo_strict, hi, hi_strict]}
    w_lo, w_hi = reader._range_window(c0, arr)

    def matches(v) -> bool:
        if lo is not None and (v < lo or (lo_strict and v == lo)):
            return False
        if hi is not None and (v > hi or (hi_strict and v == hi)):
            return False
        return True

    match_idx = [i for i, v in enumerate(vals) if matches(v)]
    window_idx = set(range(w_lo, w_hi))
    assert set(match_idx) <= window_idx, "window dropped a matching row"
    sorted_coord = all(a <= b for a, b in zip(vals, vals[1:]))
    if sorted_coord:
        assert set(match_idx) == window_idx, "sorted window not exact"
    else:
        assert (w_lo, w_hi) == (0, len(vals)), "unsorted coord must not narrow"


@st.composite
def corpora(draw):
    """Small corpora with PLANTED shared spans: each doc is a random
    letter string, and some docs splice in a shared 'boilerplate'
    fragment so cross-doc duplication actually occurs."""
    alphabet = "abcd"
    boiler = "".join(
        draw(st.lists(st.sampled_from(alphabet), min_size=12, max_size=20))
    )
    n_docs = draw(st.integers(2, 6))
    docs = []
    for i in range(n_docs):
        base = "".join(
            draw(st.lists(st.sampled_from(alphabet), min_size=0, max_size=25))
        )
        if draw(st.booleans()):
            cut = draw(st.integers(0, len(base)))
            base = base[:cut] + boiler + base[cut:]
        docs.append((i, base))
    return docs


def _brute_substring_report(docs, L):
    """Pure-python twin of exact_substring_report."""
    shingles = {}
    # strip(' ') not strip(): Spark trim() removes only SPACES, while
    # Python str.strip() also removes \t/\n — the twins must agree on
    # non-space whitespace if the corpus alphabet ever widens (ADVICE r7)
    for doc_id, t in docs:
        t = t.lower().strip(" ")
        for p in range(len(t) - L + 1):
            shingles.setdefault(t[p : p + L], set()).add(doc_id)
    out = {}
    for doc_id, t in docs:
        t = t.lower().strip(" ")
        n = len(t) - L + 1
        if n < 1:
            continue
        dup = [p for p in range(n) if len(shingles[t[p : p + L]]) > 1]
        if not dup:
            continue
        runs, best, cur = [], 0, 1
        for a, b in zip(dup, dup[1:]):
            cur = cur + 1 if b == a + 1 else 1
            best = max(best, cur)
        best = max(best, 1)
        out[doc_id] = (n, len(dup), best + L - 1)
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=corpora())
def test_exact_substring_matches_bruteforce(spark, docs):
    """exact_substring_report == a pure-python brute force for ANY
    corpus shape: planted shared fragments at arbitrary offsets, docs
    shorter than the shingle, self-repetition inside one doc (must NOT
    count), empty docs.  The DuckDB differential checks the driver
    corpus; this checks the algebra itself."""
    from zarr_datafusion_spark.operators.extras import exact_substring_report

    L = 8
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.n_shingles, r.n_dup_positions, r.longest_dup_span)
        for r in exact_substring_report(df, length=L).collect()
    }
    want = _brute_substring_report(docs, L)
    assert got == want


def _brute_cut_spans(docs, L):
    """Pure-python twin of cut_duplicate_spans: a position is removed
    iff it is covered by ANY cross-doc duplicated L-shingle; cleaned
    text is the uncovered subsequence verbatim."""
    shingles: dict[str, set] = {}
    norm = {doc_id: t.lower().strip(" ") for doc_id, t in docs}
    for doc_id, t in norm.items():
        for p in range(len(t) - L + 1):
            shingles.setdefault(t[p : p + L], set()).add(doc_id)
    out = {}
    for doc_id, t in norm.items():
        covered = [False] * len(t)
        for p in range(len(t) - L + 1):
            if len(shingles[t[p : p + L]]) > 1:
                for i in range(p, p + L):
                    covered[i] = True
        if any(covered):
            cleaned = "".join(c for c, cov in zip(t, covered) if not cov)
            spans = sum(
                1
                for i, cov in enumerate(covered)
                if cov and (i == 0 or not covered[i - 1])
            )
            out[doc_id] = (cleaned, sum(covered), spans)
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=corpora())
def test_cut_spans_matches_bruteforce(spark, docs):
    """cut_duplicate_spans == the uncovered-position subsequence for
    ANY corpus shape: the cleaned text must keep every non-duplicated
    character verbatim, in order, and remove exactly the union of
    duplicated L-char windows (the interval-merge algebra can't drop,
    double-count, or reorder a segment).  The DuckDB differential
    checks the driver corpus; this checks the algebra itself."""
    from zarr_datafusion_spark.operators.extras import cut_duplicate_spans

    L = 8
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got = {
        r.doc_id: (r.cleaned_text, r.n_removed_chars, r.n_spans)
        for r in cut_duplicate_spans(df, length=L).collect()
    }
    assert got == _brute_cut_spans(docs, L)


@given(
    st.lists(
        st.tuples(st.integers(0, 20), st.integers(0, 10)),
        min_size=1,
        max_size=25,
    )
)
@settings(
    max_examples=12,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
def test_skyline_2d_matches_brute_force(spark, pts):
    """skyline_2d == the O(n^2) dominance definition for ARBITRARY
    integer point sets, including duplicate points (all non-dominated
    duplicates kept) and total-tie columns."""
    from zarr_datafusion_spark.operators.extras import skyline_2d

    rows = [(i, p, s) for i, (p, s) in enumerate(pts)]
    expect = set()
    for i, p, s in rows:
        dominated = any(
            q <= p and t >= s and (q < p or t > s) for _, q, t in rows
        )
        if not dominated:
            expect.add((i, p, s))
    df = spark.createDataFrame(rows, "id long, price int, size int")
    got = {(r.id, r.price, r.size) for r in skyline_2d(df, "price", "size").collect()}
    assert got == expect


def _brute_cdc_bounded(docs, W, D, MN, MX):
    """Pure-python twin of cdc_chunks_bounded (independent of the test
    in test_extras, which uses ONE deterministic corpus; this one runs
    arbitrary shapes): hash boundaries -> min thinning vs the previous
    ORIGINAL boundary -> sentinel -> forced max cuts."""
    import hashlib

    out = {}
    for doc_id, text in docs:
        n = len(text)
        if n < 1:
            continue
        hb = [
            p
            for p in range(W, n + 1)
            if int(
                hashlib.md5(text[p - W : p].encode()).hexdigest()[:8], 16
            ) % D == 0
        ]
        kept, prev = [], 0
        for p in hb:
            if p - prev >= MN:
                kept.append(p)
            prev = p
        b = sorted(set(kept + [n]))
        allb, prev = [], 0
        for p in b:
            k = (p - prev - 1) // MX
            allb += [prev + i * MX for i in range(1, k + 1)] + [p]
            prev = p
        chunks, prev = [], 0
        for i, p in enumerate(allb):
            chunks.append(
                (
                    i,
                    prev + 1,
                    p - prev,
                    hashlib.md5(text[prev:p].encode()).hexdigest(),
                )
            )
            prev = p
        out[doc_id] = chunks
    return out


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(docs=corpora())
def test_cdc_bounded_matches_bruteforce(spark, docs):
    """cdc_chunks_bounded == the pure-python three-rule pipeline for
    ANY corpus shape (docs shorter than the window, empty docs, docs
    with zero hash boundaries, gaps needing multiple forced cuts), and
    the output always tiles each doc exactly (chunk lens sum to doc
    length, every chunk <= max)."""
    from zarr_datafusion_spark.operators.extras import cdc_chunks_bounded

    W, D, MN, MX = 4, 4, 3, 9  # tiny params so every rule fires often
    df = spark.createDataFrame(docs, "doc_id long, text string")
    got: dict = {}
    for r in cdc_chunks_bounded(df, W, D, MN, MX).collect():
        got.setdefault(r.doc_id, []).append(
            (r.chunk_idx, r.chunk_start, r.chunk_len, r.chunk_md5)
        )
    got = {k: sorted(v) for k, v in got.items()}
    want = _brute_cdc_bounded(docs, W, D, MN, MX)
    assert got == want
    by_doc_len = {doc_id: len(t) for doc_id, t in docs if len(t) >= 1}
    for doc_id, chunks in got.items():
        lens = [ln for _, _, ln, _ in chunks]
        assert sum(lens) == by_doc_len[doc_id]
        assert all(ln <= MX for ln in lens)


# ---------------------------------------------------------------------------
# Chunk-level aggregate pushdown: property differential (round 10)
# ---------------------------------------------------------------------------

_AGG_COUNTER = itertools.count()


@st.composite
def _agg_cases(draw):
    nt = draw(st.integers(min_value=3, max_value=10))
    nx = draw(st.integers(min_value=2, max_value=5))
    chunk = draw(st.integers(min_value=1, max_value=4))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    # interval: optional bounds with mixed strictness, spanning the
    # coord domain generously (empty / full / partial windows all hit);
    # half-integer literals exercise float-vs-int comparison semantics
    def bound():
        return st.one_of(
            st.none(),
            st.integers(min_value=-2, max_value=nt + 1),
            st.integers(min_value=-4, max_value=2 * nt + 2).map(
                lambda i: i / 2.0
            ),
        )

    lo = draw(bound())
    hi = draw(bound())
    lo_op = draw(st.sampled_from([">", ">="]))
    hi_op = draw(st.sampled_from(["<", "<="]))
    grouped = draw(st.booleans())
    return (nt, nx, chunk, seed, lo, lo_op, hi, hi_op, grouped)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_agg_cases())
def test_agg_pushdown_matches_view_any_store(
    spark, tmp_path_factory, case
):
    """For ARBITRARY small integer stores (any chunking, any values
    incl. negatives) and ARBITRARY coordinate windows (empty, full,
    strict/inclusive, chunk-aligned or not), the engine's aggregate
    answer must equal the lazy view's full plan — whichever route
    served it (scan-free assembly, boundary-slab combine, grouped
    rollup, pruned-scan rewrite, or the plain view)."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.writer import write_store

    nt, nx, chunk, seed, lo, lo_op, hi, hi_op, grouped = case
    rng = np.random.RandomState(seed)
    data = rng.randint(-1_000_000, 1_000_000, (nt, nx)).astype(np.int64)

    n = next(_AGG_COUNTER)
    path = str(tmp_path_factory.mktemp("aggprop") / f"s{n}.zarr")
    write_store(
        path,
        {
            "t": (np.arange(nt, dtype=np.int64), (nt,)),
            "x": (np.arange(nx, dtype=np.int64), (nx,)),
            "v": (data, (chunk, nx)),
        },
    )
    e = Engine(spark)
    table = f"aggprop_{n}"
    e.register_zarr(table, path, data_filter_pushdown=True)

    conj = []
    if lo is not None:
        conj.append(f"t {lo_op} {lo}")
    if hi is not None:
        conj.append(f"t {hi_op} {hi}")
    where = f" WHERE {' AND '.join(conj)}" if conj else ""
    if grouped:
        sql = (
            f"SELECT t, SUM(v) AS s, COUNT(*) AS n, AVG(v) AS a, "
            f"MIN(v) AS lo_v, MAX(v) AS hi_v FROM {table}{where} GROUP BY t"
        )
    else:
        sql = (
            f"SELECT SUM(v) AS s, COUNT(*) AS n, AVG(v) AS a, "
            f"MIN(v) AS lo_v, MAX(v) AS hi_v FROM {table}{where}"
        )
    fast = e.sql(sql)
    full = spark.sql(sql)
    assert sorted(map(tuple, fast.collect())) == sorted(
        map(tuple, full.collect())
    )
    assert [(f.name, f.dataType) for f in fast.schema.fields] == [
        (f.name, f.dataType) for f in full.schema.fields
    ]


@st.composite
def _topk_cases(draw):
    nt = draw(st.integers(min_value=3, max_value=12))
    nx = draw(st.integers(min_value=2, max_value=4))
    chunk = draw(st.integers(min_value=1, max_value=5))
    seed = draw(st.integers(min_value=0, max_value=2**31 - 1))
    k = draw(st.integers(min_value=1, max_value=nt * nx + 5))
    desc = draw(st.booleans())
    return (nt, nx, chunk, seed, k, desc)


@settings(
    max_examples=10,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(case=_topk_cases())
def test_topk_pushdown_matches_view_any_store(spark, tmp_path_factory, case):
    """Coordinate-leading top-k over arbitrary stores: any chunking,
    any k (including k larger than the table), both directions — the
    threshold-pruned scan must reproduce the view's rows in order
    (ORDER BY is a total order here, so row-for-row)."""
    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr.writer import write_store

    nt, nx, chunk, seed, k, desc = case
    rng = np.random.RandomState(seed)
    data = rng.randint(-1000, 1000, (nt, nx)).astype(np.int64)

    n = next(_AGG_COUNTER)
    path = str(tmp_path_factory.mktemp("topkprop") / f"s{n}.zarr")
    write_store(
        path,
        {
            "t": (np.arange(nt, dtype=np.int64), (nt,)),
            "x": (np.arange(nx, dtype=np.int64), (nx,)),
            "v": (data, (chunk, nx)),
        },
    )
    e = Engine(spark)
    table = f"topkprop_{n}"
    e.register_zarr(table, path, data_filter_pushdown=True)

    d = "DESC" if desc else "ASC"
    sql = (
        f"SELECT t, x, v FROM {table} "
        f"ORDER BY t {d}, x {d} LIMIT {k}"
    )
    fast = e.sql(sql)
    full = spark.sql(sql)
    assert [tuple(r) for r in fast.collect()] == [
        tuple(r) for r in full.collect()
    ]


@settings(
    max_examples=8,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(
    nt=st.integers(min_value=2, max_value=8),
    chunk=st.integers(min_value=1, max_value=3),
    gaps=st.sets(st.integers(min_value=0, max_value=7), max_size=4),
    seed=st.integers(min_value=0, max_value=2**31 - 1),
)
def test_fill_value_nulls_any_gap_set(
    spark, tmp_path_factory, nt, chunk, gaps, seed
):
    """For ANY set of deleted chunk files, fill_value_nulls=True masks
    exactly the deleted chunks' windows as NULL and every other value
    matches the dense read."""
    import os

    from zarr_datafusion_spark.zarr import read_zarr
    from zarr_datafusion_spark.zarr.writer import write_store
    from pyspark.sql import functions as F

    nx = 3
    rng = np.random.RandomState(seed)
    data = rng.randint(-100, 100, (nt, nx)).astype(np.int64)
    n = next(_AGG_COUNTER)
    path = str(tmp_path_factory.mktemp("gapprop") / f"s{n}.zarr")
    write_store(
        path,
        {
            "t": (np.arange(nt, dtype=np.int64), (nt,)),
            "x": (np.arange(nx, dtype=np.int64), (nx,)),
            "v": (data, (chunk, nx)),
        },
    )
    n_chunks = (nt + chunk - 1) // chunk
    gap_rows = {g for g in gaps if g < n_chunks}
    for g in gap_rows:
        os.remove(os.path.join(path, "v", f"{g}.0"))
    expect_null_t = {
        t for g in gap_rows for t in range(g * chunk, min((g + 1) * chunk, nt))
    }

    df = read_zarr(spark, path, fill_value_nulls=True)
    got_null_t = {
        r.t for r in df.filter(F.col("v").isNull()).select("t").distinct().collect()
    }
    assert got_null_t == expect_null_t
    kept = {
        (r.t, r.x): r.v
        for r in df.filter(F.col("v").isNotNull()).collect()
    }
    for t in range(nt):
        if t in expect_null_t:
            continue
        for x in range(nx):
            assert kept[(t, x)] == data[t, x]


# ---------------------------------------------------------------------------
# Engine.sql rewrite-chain fuzz (VERDICT r12 item 4): two rounds
# running found literal-handling bugs in the regex-driven SQL
# interception (the r11 MESSAGE hijack, the r12 COPY '' escape).
# These properties pin every rewrite entry point: keyword-like tokens
# INSIDE string literals must never trigger an interception, and the
# intercepted shapes must extract options correctly whatever hostile
# text rides in their values.
# ---------------------------------------------------------------------------


class _FakeSpark:
    """Records every query delegated to spark.sql; Engine.__init__
    only stores the session, and the non-intercepted path touches
    nothing else, so no JVM is needed to observe pass-through."""

    def __init__(self):
        self.calls: list[str] = []

    def sql(self, q):
        self.calls.append(q)
        return ("sql-result", q)


def _esc(s: str) -> str:
    """Embed arbitrary text as a SQL single-quoted literal."""
    return "'" + s.replace("'", "''") + "'"


#: tokens that LOOK like every interception trigger the engine has
_KEYWORDY = st.sampled_from([
    "COPY (SELECT 1) TO 'x' STORED AS ZARR",
    "CREATE EXTERNAL TABLE t STORED AS ZARR LOCATION 'y'",
    "information_schema.columns",
    "information_schema.tables",
    "information_schema.views",
    "EXPLAIN VERBOSE",
    "STORED AS ZARR",
    "LOCATION 'z'",
    "OPTIONS ('chunk_stats' 'true')",
    "BRANCH 'dev'",
    "MESSAGE 'hi'",
    "COORDS 'time,lat'",
    "SELECT COUNT(*) FROM weather",
    "TO 'p' STORED AS ZARR (COORDS 'a')",
])

_TEXTY = st.text(
    alphabet=st.characters(
        blacklist_categories=("Cs",), blacklist_characters="\x00"
    ),
    max_size=16,
)

_LITERAL = st.lists(
    st.one_of(_KEYWORDY, _TEXTY), min_size=1, max_size=3
).map(" ".join)

_IDENT = st.from_regex(r"[a-z][a-z0-9_]{0,9}", fullmatch=True)


@settings(max_examples=200, deadline=None)
@given(
    lit=_LITERAL,
    lit2=_LITERAL,
    ident=_IDENT,
    shape=st.integers(0, 3),
)
def test_engine_sql_passthrough_is_byte_identical(lit, lit2, ident, shape):
    """Any statement that is not an intercepted shape — whatever
    keyword soup its string literals contain — reaches spark.sql
    BYTE-IDENTICAL, exactly once, with no rewrite applied."""
    from zarr_datafusion_spark.engine import Engine

    stmts = [
        f"SELECT {_esc(lit)} AS c1, {_esc(lit2)} AS c2",
        f"SELECT * FROM {ident} WHERE note = {_esc(lit)}",
        f"INSERT INTO {ident} VALUES ({_esc(lit)}, 1)",
        f"UPDATE {ident} SET msg = {_esc(lit)} WHERE k = {_esc(lit2)}",
    ]
    stmt = stmts[shape]
    fake = _FakeSpark()
    eng = Engine(spark=fake)
    out = eng.sql(stmt)
    assert fake.calls == [stmt], (
        "pass-through altered or duplicated the statement"
    )
    assert out == ("sql-result", stmt)
    assert not eng.last_query_used_shortcut


@settings(max_examples=150, deadline=None)
@given(
    coords=st.lists(_IDENT, min_size=1, max_size=3, unique=True),
    message=_LITERAL,
    fv=st.sampled_from([None, "2", "3"]),
    pathbit=_LITERAL,
)
def test_engine_copy_option_extraction(coords, message, fv, pathbit):
    """COPY ... STORED AS ZARR must extract COORDS/FORMAT_VERSION and
    the target path correctly however hostile the MESSAGE value or the
    path literal (embedded quotes, other option keywords): the r11
    MESSAGE hijack and the r12 '' escape, generalized.  The sink is
    mocked — nothing is written, the path needn't exist."""
    from unittest import mock

    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr import sink as sink_mod

    path = "/tmp/zds_fuzz/" + ("out " + pathbit.replace("\n", " "))[:80]
    opts = [f"COORDS '{','.join(coords)}'", f"MESSAGE {_esc(message)}"]
    if fv:
        opts.append(f"FORMAT_VERSION '{fv}'")
    stmt = (
        f"COPY (SELECT 17 AS v) TO {_esc(path)} "
        f"STORED AS ZARR ({', '.join(opts)})"
    )
    fake = _FakeSpark()
    eng = Engine(spark=fake)
    seen: dict = {}

    def fake_write_zarr(df, p, **kw):
        seen["path"] = p
        seen.update(kw)
        return {"rows": 7}

    with mock.patch.object(sink_mod, "write_zarr", fake_write_zarr):
        eng.sql(stmt)
    assert seen["path"] == path  # '' unescaped exactly once
    assert seen["coords"] == coords
    assert seen["zarr_format"] == int(fv or 2)
    # inner query executed once, COPY result built once
    assert fake.calls[0] == "SELECT 17 AS v"
    assert fake.calls[1].startswith("SELECT CAST(7 AS BIGINT)")


@settings(max_examples=100, deadline=None)
@given(message=_LITERAL, branch=_IDENT)
def test_engine_copy_icechunk_branch_not_hijacked(message, branch):
    """A MESSAGE value mentioning BRANCH '...' must stay message text:
    the sequential option tokenizer consumes each quoted value before
    reading the next key (r11 review finding, fuzzed)."""
    from unittest import mock

    from zarr_datafusion_spark.engine import Engine
    from zarr_datafusion_spark.zarr import icechunk as ic_mod

    stmt = (
        "COPY (SELECT 1 AS v) TO 'icechunk:///tmp/zds_fuzz_repo' "
        f"STORED AS ZARR (COORDS 'v', BRANCH '{branch}', "
        f"MESSAGE {_esc(message)})"
    )
    fake = _FakeSpark()
    eng = Engine(spark=fake)
    seen: dict = {}

    def fake_commit_zarr(df, repo, **kw):
        seen["repo"] = repo
        seen.update(kw)
        kw["_sink_result"]["rows"] = 3
        return "snapid"

    with mock.patch.object(ic_mod, "commit_zarr", fake_commit_zarr):
        eng.sql(stmt)
    assert seen["repo"] == "/tmp/zds_fuzz_repo"
    assert seen["branch"] == branch
    # hostile content round-trips; an EMPTY message takes the
    # documented default
    assert seen["message"] == (message or "COPY")


@settings(max_examples=100, deadline=None)
@given(
    name=_IDENT,
    locbit=_LITERAL,
    chunk_stats=st.booleans(),
    cache_mb=st.integers(0, 999),
    prefetch=st.integers(0, 64),
)
def test_engine_ddl_option_extraction(
    name, locbit, chunk_stats, cache_mb, prefetch
):
    """CREATE EXTERNAL TABLE ... STORED AS ZARR extracts the unescaped
    location and every OPTIONS key for any hostile location text."""
    from unittest import mock

    from zarr_datafusion_spark.engine import Engine

    location = ("/stores/" + locbit.replace("\n", " "))[:80]
    opts = []
    if chunk_stats:
        opts.append("'chunk_stats' 'true'")
    if cache_mb:
        opts.append(f"'chunk_cache_mb' '{cache_mb}'")
    if prefetch:
        opts.append(f"'prefetch' '{prefetch}'")
    stmt = (
        f"CREATE EXTERNAL TABLE {name} STORED AS ZARR "
        f"LOCATION {_esc(location)}"
        + (f" OPTIONS ({', '.join(opts)})" if opts else "")
    )
    fake = _FakeSpark()
    eng = Engine(spark=fake)
    seen: dict = {}

    def fake_register(nm, loc, **kw):
        seen["name"] = nm
        seen["loc"] = loc
        seen.update(kw)

    with mock.patch.object(eng, "register_zarr", fake_register):
        eng.sql(stmt)
    assert seen["name"] == name
    assert seen["loc"] == location
    assert seen["data_filter_pushdown"] == chunk_stats
    assert seen["chunk_cache_mb"] == cache_mb
    assert seen["prefetch"] == prefetch
    assert fake.calls == [f"SELECT * FROM {name} WHERE 1=0"]


# ---------------------------------------------------------------------------
# OPTIONS-blob grammar: linear time + same language as the r13 spelling
# (ADVICE r13: the ambiguous literal branch '(?:[^']|'')*' backtracked
# exponentially on doubled-quote runs with one unbalanced quote — ~2.4 s
# at 24 pairs, doubling per pair, wedging every Engine.sql call).
# ---------------------------------------------------------------------------

#: the r13 ambiguous spelling, kept ONLY as the differential oracle for
#: the language-equivalence fuzz below (safe on short inputs).
_OPTS_BLOB_R13 = r"((?:[^)']|'(?:[^']|'')*')*)"


def test_opts_blob_adversarial_input_is_linear():
    """A malformed OPTIONS tail of 5000 doubled-quote pairs with one
    unbalanced quote must fail the DDL/COPY match in well under a
    second (the r13 pattern needed ~3 s for 24 pairs) and fall through
    to Spark's parser untouched."""
    import time

    from zarr_datafusion_spark.engine import Engine

    tail = "''" * 5000 + "'"
    stmts = [
        f"CREATE EXTERNAL TABLE t STORED AS ZARR LOCATION '/x' OPTIONS ({tail}",
        f"COPY (SELECT 1) TO '/x' STORED AS ZARR ({tail}",
    ]
    fake = _FakeSpark()
    eng = Engine(spark=fake)
    t0 = time.time()
    for s in stmts:
        eng.sql(s)
    assert time.time() - t0 < 1.0, "OPTIONS-blob match is not linear"
    assert fake.calls == stmts  # fell through byte-identical


@settings(max_examples=500, deadline=None)
@given(
    blob=st.text(alphabet=st.sampled_from(list("'() ,kv")), max_size=18)
)
def test_opts_blob_matches_same_language_as_r13_pattern(blob):
    """The maximal-munch literal branch accepts EXACTLY the same
    OPTIONS blobs as the r13 ambiguous spelling (which defined the
    documented grammar), differentially fuzzed over short quote/paren
    soup where the old pattern is still safe to run."""
    import re

    from zarr_datafusion_spark.engine import Engine

    old = re.compile(r"^\(" + _OPTS_BLOB_R13 + r"\)$")
    new = re.compile(r"^\(" + Engine._OPTS_BLOB + r"\)$")
    s = f"({blob})"
    mo, mn = old.match(s), new.match(s)
    assert (mo is None) == (mn is None), (
        f"grammar drift on {blob!r}: r13={'match' if mo else 'no'} "
        f"new={'match' if mn else 'no'}"
    )
    if mo is not None:
        assert mo.group(1) == mn.group(1), f"different blob capture on {blob!r}"


# ---------------------------------------------------------------------------
# Pruning-rewrite conjunct grammar fuzz (VERDICT r13 item 6): any
# generated WHERE — numeric conjuncts, string literals with hostile
# content, other columns, parens, OR — must answer IDENTICALLY with
# the Engine's rewrite chain on vs the plain Spark plan.  The r13
# quoted-literal declines were pinned example-based in
# test_agg_pushdown.py; this is the generalized differential.
# ---------------------------------------------------------------------------

#: lazily-built module singleton: hypothesis re-enters the test body
#: hundreds of times and the chunk-stats registration must happen once
_PRUNE_ENGINE: dict = {}


def _prune_engine(spark):
    if "e" not in _PRUNE_ENGINE:
        from zarr_datafusion_spark.engine import Engine
        from zarr_datafusion_spark.operators.zarr_queries import (
            trending_chunked_store,
        )

        e = Engine(spark)
        e.register_zarr(
            "tcp", trending_chunked_store(), data_filter_pushdown=True
        )
        _PRUNE_ENGINE["e"] = e
    return _PRUNE_ENGINE["e"]


#: string-literal payloads that LOOK like conjunct grammar — the
#: misparse class the rewrites must decline on, not reinterpret
_HOSTILE_TEXT = st.one_of(
    st.sampled_from([
        "3 AND time > 100",
        "time <= 2",
        ") OR time > 0",
        "it's got a quote",
        "BETWEEN 0 AND 99",
        "2",
        "' OR time = 0 OR '",
        "time BETWEEN 1 AND 2 AND lat = 3",
        # the table's own name, which the per-reference splice must
        # never touch inside a literal
        "tcp",
        "FROM tcp a JOIN tcp b",
    ]),
    st.text(alphabet=list("'()<>=- ANDORtime0123"), max_size=14),
)


@st.composite
def _prune_conjuncts(draw):
    parts = []
    for _ in range(draw(st.integers(1, 4))):
        kind = draw(st.integers(0, 7))
        n = draw(st.integers(-2, 14))
        m = draw(st.integers(-2, 14))
        if kind == 0:
            op = draw(st.sampled_from([">=", "<=", "<", ">", "="]))
            parts.append(f"time {op} {n}")
        elif kind == 1:
            parts.append(f"time BETWEEN {min(n, m)} AND {max(n, m)}")
        elif kind == 2:
            parts.append(f"lat >= {n}")
        elif kind == 3:
            parts.append(f"pressure < {1000 + n * 10}")
        elif kind == 4:
            parts.append(
                f"CAST(time AS STRING) = {_esc(draw(_HOSTILE_TEXT))}"
            )
        elif kind == 5:
            s = _esc(draw(_HOSTILE_TEXT))
            parts.append(f"{s} = {s}")
        elif kind == 6:
            parts.append(f"(time >= {min(n, m)} OR time <= {max(n, m)})")
        else:
            # DECIMAL and DOUBLE literals (Spark types them apart)
            op = draw(st.sampled_from([">=", "<=", "<", ">", "="]))
            lit = draw(st.sampled_from([f"{n}.5", f"{n}.0", f"{n}e0"]))
            parts.append(f"time {op} {lit}")
    return " AND ".join(parts)


@settings(
    max_examples=500,
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(where=_prune_conjuncts())
def test_pruning_rewrites_match_full_plan_on_any_where(spark, where):
    """Differential contract of the WHOLE rewrite chain (stats
    shortcut, chunk-agg assembly, filtered-SELECT, pruned-agg): for
    any WHERE this grammar generates, Engine.sql must return the same
    rows and schema as the untouched Spark plan — a rewrite either
    fires correctly or declines; it never reinterprets.  The filtered
    SELECT over this small store is read on the driver
    (``read_zarr(filters=...)``), so its pushed filters meet every
    literal form here too."""
    eng = _prune_engine(spark)
    agg = (
        "SELECT COUNT(*) AS n, SUM(pressure) AS s, MIN(time) AS lo, "
        f"MAX(pressure) AS hi FROM tcp WHERE {where}"
    )
    select = f"SELECT time, lat, lon, pressure FROM tcp WHERE {where}"
    for sql, order in ((agg, list), (select, sorted)):
        fast = eng.sql(sql)
        full = spark.sql(sql)
        assert [f.name for f in fast.schema.fields] == [
            f.name for f in full.schema.fields
        ]
        assert order(map(tuple, fast.collect())) == order(
            map(tuple, full.collect())
        ), f"rewrite drift on {sql!r} (shortcut={eng.last_shortcut_kind!r})"


# ---------------------------------------------------------------------------
# Differential SELECT fuzz (round 14): the registry's fixed-oracle
# model generalized into a property.  ANY query this ANSI-core grammar
# generates — filters over every column class, global and grouped
# aggregates under the repo's exact-decimal SUM policy, projection
# arithmetic, top-k over a unique sort key — must return IDENTICAL
# rows, columns, and value types from Engine.sql (the full rewrite
# chain + Spark) and DuckDB over the same parquet tables.  This is
# the same differential contract the driver checks with 178 fixed
# query/oracle pairs, but over an open grammar: a Spark/DuckDB
# semantics divergence, an Engine.sql rewrite misfire, or a policy
# hole (float SUM ordering, HUGEINT promotion, dtype drift) surfaces
# here without anyone having thought to write that exact query.
# ---------------------------------------------------------------------------

_LI_INT = ["l_orderkey", "l_partkey", "l_suppkey", "l_linenumber"]
_LI_DBL = ["l_quantity", "l_extendedprice", "l_discount", "l_tax"]
_LI_STR = {"l_returnflag": ["A", "N", "R", "Z"], "l_linestatus": ["O", "F", "X"]}
_LI_CMP = ["<", "<=", ">", ">=", "=", "<>"]
#: literal pools straddle each column's real range (min..max plus
#: out-of-range values) so filters hit empty, partial, and full selects
_LI_LIT = {
    "l_orderkey": [0, 1, 750, 1499, 2000],
    "l_partkey": [0, 42, 199, 500],
    "l_suppkey": [0, 5, 9, 30],
    "l_linenumber": [1, 2, 4, 7, 9],
    "l_quantity": ["0.0", "1.0", "17.5", "25.0", "50.0", "99.0"],
    "l_extendedprice": ["900.0", "5000.0", "36000.17", "104998.18"],
    "l_discount": ["0.0", "0.02", "0.05", "0.09", "0.1"],
    "l_tax": ["0.0", "0.03", "0.08"],
}
_LI_TS = [
    "1995-01-02 00:00:00",
    "1996-06-17 00:00:00",
    "1998-11-30 12:00:00",
    "2001-11-04 00:00:00",
]


@st.composite
def _li_predicate(draw, depth=0):
    kind = draw(st.integers(0, 7 if depth == 0 else 5))
    if kind <= 1:
        col = draw(st.sampled_from(_LI_INT + _LI_DBL))
        op = draw(st.sampled_from(_LI_CMP))
        return f"{col} {op} {draw(st.sampled_from(_LI_LIT[col]))}"
    if kind == 2:
        col = draw(st.sampled_from(_LI_INT + _LI_DBL))
        lo = draw(st.sampled_from(_LI_LIT[col]))
        hi = draw(st.sampled_from(_LI_LIT[col]))
        return f"{col} BETWEEN {lo} AND {hi}"
    if kind == 3:
        col = draw(st.sampled_from(list(_LI_STR)))
        vals = draw(
            st.lists(
                st.sampled_from(_LI_STR[col]), min_size=1, max_size=3,
                unique=True,
            )
        )
        if len(vals) == 1:
            op = draw(st.sampled_from(["=", "<>"]))
            return f"{col} {op} '{vals[0]}'"
        neg = draw(st.sampled_from(["", "NOT "]))
        return f"{col} {neg}IN ({', '.join(repr(v) for v in vals)})"
    if kind == 4:
        op = draw(st.sampled_from(_LI_CMP))
        ts = draw(st.sampled_from(_LI_TS))
        return f"l_shipdate {op} TIMESTAMP '{ts}'"
    if kind == 5:
        a = draw(st.sampled_from(_LI_DBL))
        b = draw(st.sampled_from(_LI_INT))
        op = draw(st.sampled_from(["<", ">="]))
        # cross-column compare (double vs int promotes identically)
        return f"{a} * 100 {op} {b}"
    if kind == 6:
        return f"NOT ({draw(_li_predicate(depth=depth + 1))})"
    left = draw(_li_predicate(depth=depth + 1))
    right = draw(_li_predicate(depth=depth + 1))
    return f"({left} OR {right})"


@st.composite
def _li_where(draw):
    n = draw(st.integers(0, 3))
    if n == 0:
        return ""
    parts = [draw(_li_predicate()) for _ in range(n)]
    return " WHERE " + " AND ".join(parts)


@st.composite
def _li_agg_query(draw):
    gcols = draw(
        st.lists(
            st.sampled_from(["l_returnflag", "l_linestatus", "l_linenumber"]),
            min_size=0, max_size=2, unique=True,
        )
    )
    dcol = draw(st.sampled_from(_LI_DBL))
    icol = draw(st.sampled_from(_LI_INT))
    mcol = draw(st.sampled_from(_LI_INT + _LI_DBL + list(_LI_STR) + ["l_shipdate"]))
    items = list(gcols) + [
        "COUNT(*) AS cnt",
        # exact-decimal SUM policy (the suite's float-determinism rule)
        f"CAST(SUM(CAST({dcol} AS DECIMAL(18,2))) AS DOUBLE) AS sum_d",
        # CAST pins BIGINT on both engines (DuckDB SUM(int) is HUGEINT,
        # which the driver hashes as float — the round-2 lesson)
        f"CAST(SUM({icol}) AS BIGINT) AS sum_i",
        f"MIN({mcol}) AS mn",
        f"MAX({mcol}) AS mx",
    ]
    sql = f"SELECT {', '.join(items)} FROM lineitem{draw(_li_where())}"
    if gcols:
        sql += f" GROUP BY {', '.join(gcols)}"
        if draw(st.booleans()):
            sql += f" HAVING COUNT(*) > {draw(st.sampled_from([0, 5, 400, 3000]))}"
    return sql


@st.composite
def _li_distinct_or_setop_query(draw):
    cols = draw(
        st.lists(
            st.sampled_from(
                ["l_returnflag", "l_linestatus", "l_linenumber", "l_suppkey"]
            ),
            min_size=1, max_size=3, unique=True,
        )
    )
    if draw(st.booleans()):
        return (
            f"SELECT DISTINCT {', '.join(cols)} FROM lineitem"
            f"{draw(_li_where())}"
        )
    op = draw(st.sampled_from(["UNION", "UNION ALL", "INTERSECT", "EXCEPT"]))
    left = f"SELECT {', '.join(cols)} FROM lineitem{draw(_li_where())}"
    right = f"SELECT {', '.join(cols)} FROM lineitem{draw(_li_where())}"
    return f"{left} {op} {right}"


@st.composite
def _li_select_query(draw):
    d1, d2 = (draw(st.sampled_from(_LI_DBL)) for _ in range(2))
    i1, i2 = (draw(st.sampled_from(_LI_INT)) for _ in range(2))
    pool = [
        f"{d1} * (1 - {d2}) AS revenue",
        f"{i1} + 10 * {i2} AS ikey",
        f"CAST(FLOOR({d1}) AS BIGINT) AS fl",
        f"CASE WHEN {draw(_li_predicate())} THEN {d1} ELSE -{d2} END AS pick",
        f"{draw(st.sampled_from(list(_LI_STR)))} AS tag",
        f"l_shipdate AS ship",
    ]
    exprs = draw(st.lists(st.sampled_from(pool), min_size=1, max_size=3, unique=True))
    sql = (
        "SELECT l_orderkey, l_linenumber, "
        + ", ".join(exprs)
        + f" FROM lineitem{draw(_li_where())}"
    )
    if draw(st.booleans()):
        # total-order sort key -> the top-k SET is deterministic on
        # both engines even though the row-order compare is set-based.
        # (l_orderkey, l_linenumber) alone is NOT unique in the
        # synthetic data (6000 rows, 4599 distinct pairs — measured);
        # adding l_extendedprice makes the triple unique at both test
        # scales, so ties can never straddle the LIMIT boundary.
        da = draw(st.sampled_from(["", " DESC"]))
        db = draw(st.sampled_from(["", " DESC"]))
        k = draw(st.sampled_from([1, 7, 100, 6001]))
        sql += (
            f" ORDER BY l_orderkey{da}, l_linenumber{db}, "
            f"l_extendedprice{da} LIMIT {k}"
        )
    return sql


@st.composite
def _li_join_query(draw):
    join = draw(st.sampled_from(["JOIN", "LEFT JOIN"]))
    gcol = draw(st.sampled_from(["o_orderstatus", "o_orderpriority"]))
    dcol = draw(st.sampled_from(_LI_DBL))
    conds = []
    if draw(st.booleans()):
        op = draw(st.sampled_from(_LI_CMP))
        conds.append(f"o_totalprice {op} {draw(st.sampled_from(['5000.0', '120000.0', '499705.05']))}")
    if draw(st.booleans()):
        conds.append(f"o_orderstatus = '{draw(st.sampled_from(['P', 'O', 'F']))}'")
    where = f" WHERE {' AND '.join(conds)}" if conds else ""
    # LEFT JOIN keyed orders->lineitem: unmatched orders contribute
    # NULL lineitem values, so COUNT(col) vs COUNT(*) and NULL-skipping
    # SUM/MIN/MAX differentials are exercised on both engines
    return (
        f"SELECT {gcol}, COUNT(*) AS cnt, COUNT(l_orderkey) AS cnt_l, "
        f"CAST(SUM(CAST({dcol} AS DECIMAL(18,2))) AS DOUBLE) AS sum_d, "
        f"MIN(l_shipdate) AS mn, CAST(MAX(l_linenumber) AS INT) AS mx "
        f"FROM orders {join} lineitem ON o_orderkey = l_orderkey"
        f"{where} GROUP BY {gcol}"
    )


@settings(
    # SPARK_GRAFT_FUZZ_EXAMPLES scales the suite default up for soak
    # runs (r14 soaked 300 then 2000 examples clean on an idle box,
    # ~7 min at 2000)
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "50")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(sql=st.one_of(
    _li_agg_query(), _li_select_query(), _li_join_query(),
    _li_distinct_or_setop_query(),
))
def test_differential_select_fuzz(engine, duck, sql):
    from tests.conftest import assert_frames_match

    assert_frames_match(engine.sql(sql), duck.sql(sql))


# ---------------------------------------------------------------------------
# Gopher-flag differential fuzz (round 14): the rule signals lean on
# dialect-shared string semantics (regex split of empty/whitespace
# strings, literal '...' replace, character-based substr over
# multibyte bullets, rtrim before right()) — this pins the Spark ==
# DuckDB contract over an open adversarial input space instead of the
# two fixed corpora (driver tables + crafted docs).
# ---------------------------------------------------------------------------

_GOPHER_ATOMS = st.sampled_from([
    "the", "of", "and", "that", "have", "with", "to", "be",
    "zig", "zag", "supercalifragilistic", "ab", "x",
    "12", "#", "##", "...", "#...", "•", "- ", "* ",
    " ", "  ", "\n", "\n\n", "- item\n", "fox...\n", "'", "''",
])


@st.composite
def _gopher_texts(draw):
    n_docs = draw(st.integers(1, 6))
    return [
        "".join(draw(st.lists(_GOPHER_ATOMS, min_size=1, max_size=60)))
        for _ in range(n_docs)
    ]


@settings(
    max_examples=int(os.environ.get("SPARK_GRAFT_FUZZ_EXAMPLES", "15")),
    deadline=None,
    suppress_health_check=[HealthCheck.function_scoped_fixture],
)
@given(texts=_gopher_texts())
def test_gopher_flags_cross_engine_any_text(spark, tmp_path_factory, texts):
    import glob
    import os

    import duckdb
    import pandas as pd

    from tests.conftest import assert_frames_match
    from zarr_datafusion_spark.operators import textstats

    # documents whose text is pure whitespace stress the [''] token
    # convention; completely empty text stresses length(text)=0 paths
    pdf = pd.DataFrame({
        "doc_id": range(len(texts)),
        "text": texts,
        "lang": "xx",
        "source": "fuzz",
        "n_chars": [len(t) for t in texts],
    })
    base = tmp_path_factory.mktemp("gfuzz")
    spark.createDataFrame(pdf).coalesce(1).write.mode("overwrite").parquet(
        str(base / "stage")
    )
    os.replace(
        glob.glob(str(base / "stage" / "*.parquet"))[0],
        str(base / "documents.parquet"),
    )
    con = duckdb.connect()
    try:
        con.execute(
            "CREATE VIEW documents AS SELECT * FROM "
            f"read_parquet('{base / 'documents.parquet'}')"
        )
        assert_frames_match(
            textstats.QUERIES["text_quality_gopher"](spark, str(base)),
            con.sql(textstats.ORACLE["text_quality_gopher"]),
        )
    finally:
        con.close()
