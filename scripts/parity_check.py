"""Spot parity check: run named registry entries against their DuckDB
oracles at one or more SFs, value-exact
(``zarr_datafusion_spark.parity.assert_frames_match``, the tests' own
comparison).

Usage::

    python scripts/parity_check.py q1,q2[,...] [sf0.001 sf0.01]
    python scripts/parity_check.py all sf0.01

``all`` runs every oracle-backed entry.  The session comes from
``session.get_spark``, so ``SPARK_GRAFT_CPUS`` sets the parallelism as
it does for the tests and the sweep.  Exit code 1 on any mismatch.
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import duckdb  # noqa: E402

import __spark_entry__ as E  # noqa: E402
from zarr_datafusion_spark.parity import assert_frames_match  # noqa: E402
from zarr_datafusion_spark.session import TABLES, get_spark  # noqa: E402


def main() -> None:
    qs, os_ = E.queries(), E.oracle_sql()
    if sys.argv[1] == "all":
        names = sorted(os_)
    else:
        names = [q.strip() for q in sys.argv[1].split(",") if q.strip()]
    sfs = sys.argv[2:] or ["sf0.001", "sf0.01"]

    spark = get_spark("parity-check")
    spark.sparkContext.setLogLevel("ERROR")

    bad = []
    for sf in sfs:
        sf_dir = f"/root/testdata/{sf}"
        con = duckdb.connect()
        for t in TABLES:
            p = f"{sf_dir}/{t}.parquet"
            if os.path.exists(p):
                con.execute(
                    f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{p}')"
                )
        for name in names:
            try:
                assert_frames_match(qs[name](spark, sf_dir), con.sql(os_[name]))
                print(f"  {sf} {name}: OK")
            except AssertionError as e:
                print(f"  {sf} {name}: MISMATCH ({e})")
                bad.append((sf, name))
    print("FAILS:", bad or "none")
    sys.exit(1 if bad else 0)


if __name__ == "__main__":
    main()
