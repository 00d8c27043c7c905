"""The one parquet loader, ``session.load_table``: each file version's
schema is inferred once (a Spark job), and every later read builds its
relation from the kept schema without launching one."""

from __future__ import annotations

import ast
import os

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

from tests.conftest import SF_DIR, jobs_launched

NANOS = "spark.sql.legacy.parquet.nanosAsLong"

#: the ten entries of the operators_sf01 benchmark workload
BENCH_ENTRIES = (
    "agg_groupby",
    "tpch_q5_local_supplier",
    "subquery_correlated",
    "dedup_cut_spans",
    "dedup_setsim_prefix_join",
    "dedup_substring_winnowed",
    "dedup_exact_substring",
    "text_encode_ids",
    "search_phrase",
    "dedup_minhash_lsh",
)


def _load(spark, sf_dir, name):
    from zarr_datafusion_spark.session import load_table

    return jobs_launched(spark, lambda: load_table(spark, sf_dir, name))


def test_file_rewritten_in_place_is_inferred_again(spark, tmp_path):
    path = str(tmp_path / "t.parquet")
    pq.write_table(pa.table({"a": [1, 2], "b": ["x", "y"]}), path)
    df, jobs = _load(spark, str(tmp_path), "t")
    assert df.columns == ["a", "b"] and len(jobs) == 1
    df, jobs = _load(spark, str(tmp_path), "t")
    assert sorted(df.collect()) == [(1, "x"), (2, "y")] and jobs == []
    inode = os.stat(path).st_ino
    with open(path, "wb") as fh:  # same inode, new footer
        pq.write_table(pa.table({"c": [7.5, 8.5, 9.5]}), fh)
    assert os.stat(path).st_ino == inode
    df, jobs = _load(spark, str(tmp_path), "t")
    assert df.columns == ["c"] and len(jobs) == 1
    assert sorted(r.c for r in df.collect()) == [7.5, 8.5, 9.5]


def test_schema_setting_is_part_of_the_key(spark, tmp_path):
    pq.write_table(pa.table({"a": [1, 2]}), str(tmp_path / "t.parquet"))
    saved = spark.conf.get(NANOS)
    try:
        spark.conf.set(NANOS, "false")
        assert len(_load(spark, str(tmp_path), "t")[1]) == 1
        assert _load(spark, str(tmp_path), "t")[1] == []
        spark.conf.set(NANOS, "true")
        assert len(_load(spark, str(tmp_path), "t")[1]) == 1
        assert _load(spark, str(tmp_path), "t")[1] == []
    finally:
        spark.conf.set(NANOS, saved)


def _stage_names(spark, jobs) -> list[str]:
    st = spark.sparkContext.statusTracker()
    return [st.getStageInfo(s).name for j in jobs for s in st.getJobInfo(j).stageIds]


@pytest.mark.parametrize("name", BENCH_ENTRIES)
def test_second_build_launches_no_inference_job(spark, name):
    """Building an entry again over unchanged tables infers no schema
    (inference jobs are the ``parquet at ...`` stages).  Only
    ``text_encode_ids`` launches jobs while building: its vocabulary
    ranks eagerly."""
    from zarr_datafusion_spark.session import load_table

    import __spark_entry__

    # loading events sets nanosAsLong for the session, which re-keys the
    # tables read before it; a session that has loaded it is settled
    load_table(spark, SF_DIR, "events")
    fn = __spark_entry__.queries()[name]
    fn(spark, SF_DIR)
    _, jobs = jobs_launched(spark, lambda: fn(spark, SF_DIR))
    assert not [s for s in _stage_names(spark, jobs) if s.startswith("parquet at")]
    if name != "text_encode_ids":
        assert jobs == []


def _table_path(node, bound: set) -> bool:
    """Is ``node`` a path to a table of the ``sf_dir`` directory?"""
    if isinstance(node, ast.Name):
        return node.id in bound
    if isinstance(node, ast.Call) and ast.unparse(node.func) == "os.path.join":
        return bool(node.args) and ast.unparse(node.args[0]) == "sf_dir"
    if isinstance(node, (ast.JoinedStr, ast.BinOp)):
        return any(isinstance(n, ast.Name) and n.id == "sf_dir" for n in ast.walk(node))
    return False


def test_operators_read_sf_tables_only_through_load_table():
    """No operator module reads an ``sf_dir`` table with
    ``spark.read.parquet``: that read infers the schema again on every
    build, where ``load_table`` keeps it."""
    import zarr_datafusion_spark.operators as ops

    root = os.path.dirname(ops.__file__)
    found = []
    for fname in sorted(os.listdir(root)):
        if not fname.endswith(".py"):
            continue
        tree = ast.parse(open(os.path.join(root, fname)).read())
        for fn in ast.walk(tree):
            if not isinstance(fn, ast.FunctionDef):
                continue
            bound = {
                t.id
                for a in ast.walk(fn)
                if isinstance(a, ast.Assign) and _table_path(a.value, set())
                for t in a.targets
                if isinstance(t, ast.Name)
            }
            for call in ast.walk(fn):
                if (
                    isinstance(call, ast.Call)
                    and ast.unparse(call.func).endswith("read.parquet")
                    and any(_table_path(a, bound) for a in call.args)
                ):
                    found.append(f"{fname}:{call.lineno}")
    assert not found, f"read an sf_dir table with load_table: {sorted(set(found))}"
