"""Oracle frame comparison: a Spark result against its DuckDB twin.

The one comparison that the tests (``tests/conftest.py``) and
``scripts/parity_check.py`` share.  Rows and columns compare in any
order; values compare exactly unless the caller asks for a tolerance.

Both frames are normalized first:

* columns sorted by name, rows sorted by every value;
* timestamps floored to microseconds, tz-aware ones made naive;
* ``decimal.Decimal`` values become float;
* Spark ``DATE`` values (``datetime.date`` objects) become datetime64,
  which is how DuckDB returns a ``DATE``.

Not imported by the package itself: only the callers above need it.
"""

from __future__ import annotations

import datetime
import decimal

import numpy as np
import pandas as pd

# DuckDB column types that reach pandas as float64.  HUGEINT is a bare
# SUM(INTEGER); oracles must CAST(SUM(..) AS BIGINT), because a typed
# value hash treats HUGEINT as a float.
_DUCK_FLOAT_TYPES = ("FLOAT", "DOUBLE", "REAL", "HUGEINT")


def _normalize(df: pd.DataFrame) -> tuple[pd.DataFrame, set]:
    """The normalized frame and the names of its ``DATE`` columns."""
    df = df.reindex(sorted(df.columns), axis=1)
    dates = set()
    for c in df.columns:
        col = df[c]
        if pd.api.types.is_datetime64_any_dtype(col):
            col = col.dt.floor("us")
            df[c] = col.dt.tz_localize(None) if col.dt.tz is not None else col
        # sniff the first NON-NULL value: a None in row 0 must not leave
        # a Decimal/None object column to break the sort
        elif col.dtype == object and col.notna().any():
            v = col.dropna().iloc[0]
            if isinstance(v, decimal.Decimal):
                df[c] = col.astype(float)
            elif type(v) is datetime.date:
                df[c] = pd.to_datetime(col)
                dates.add(c)
    if len(df):
        df = df.sort_values(by=list(df.columns), kind="mergesort")
        df = df.reset_index(drop=True)
    return df, dates


def assert_frames_match(spark_df, duck_rel, *, float_exact: bool = True):
    """Assert that the Spark DataFrame ``spark_df`` equals the DuckDB
    relation ``duck_rel``.

    ``float_exact=True`` is the default because the registry is built
    for bit-identical results (exact decimal sums); a case that cannot
    be passes ``float_exact=False`` for a 1e-9 relative tolerance.
    """
    left, left_dates = _normalize(spark_df.toPandas())
    duck_types = {c: str(t) for c, t in zip(duck_rel.columns, duck_rel.types)}
    right, _ = _normalize(duck_rel.df())

    # explicit raises, not ``assert``: ``python -O`` must not turn
    # parity_check.py into a check that passes everything
    if len(left) != len(right):
        raise AssertionError(f"row count {len(left)} != {len(right)}")
    if list(left.columns) != list(right.columns):
        raise AssertionError(f"columns {list(left.columns)} != {list(right.columns)}")
    for c in left.columns:
        lv, rv = left[c], right[c]
        # A typed value hash tells an int from a float (Spark floor() is
        # BIGINT, DuckDB floor() is DOUBLE) and a DATE from a TIMESTAMP.
        # The int/float check holds only when neither side has nulls:
        # pandas turns a nullable int column into float64 on both sides.
        if not lv.isna().any() and not rv.isna().any():
            li, ri = pd.api.types.is_integer_dtype(lv), pd.api.types.is_integer_dtype(rv)
            lf, rf = pd.api.types.is_float_dtype(lv), pd.api.types.is_float_dtype(rv)
            if (li and rf and duck_types[c] in _DUCK_FLOAT_TYPES) or (lf and ri):
                raise AssertionError(
                    f"column {c}: dtype class mismatch {lv.dtype} vs {rv.dtype} "
                    "(a typed value hash tells them apart)"
                )
        if c in left_dates and duck_types[c] != "DATE":
            raise AssertionError(f"column {c}: Spark DATE vs DuckDB {duck_types[c]}")
        if pd.api.types.is_float_dtype(lv) or pd.api.types.is_float_dtype(rv):
            lv = lv.astype(float).to_numpy()
            rv = rv.astype(float).to_numpy()
            both_nan = np.isnan(lv) & np.isnan(rv)
            if float_exact:
                ok = (lv == rv) | both_nan
            else:
                ok = np.isclose(lv, rv, rtol=1e-9, atol=1e-12) | both_nan
            if not ok.all():
                i = np.argmin(ok)
                raise AssertionError(
                    f"column {c}: first mismatch at {i}: {lv[i]} != {rv[i]}"
                )
        else:
            lvn, rvn = lv.isna(), rv.isna()
            if not ((lvn == rvn).all() and (lv[~lvn] == rv[~rvn]).all()):
                raise AssertionError(f"column {c} differs")
