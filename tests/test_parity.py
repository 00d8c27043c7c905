"""The oracle frame comparison (``zarr_datafusion_spark.parity``): a real
Spark frame against a real DuckDB relation, for each normalization rule
and each check that must fail."""

from __future__ import annotations

import duckdb
import pytest

from zarr_datafusion_spark.parity import assert_frames_match


@pytest.fixture(scope="module")
def con():
    c = duckdb.connect()
    c.execute("SET TimeZone = 'UTC'")
    yield c
    c.close()


@pytest.mark.parametrize(
    "spark_sql, duck_sql",
    [
        # Spark DATE arrives as datetime.date objects, DuckDB's as datetime64
        (
            "SELECT DATE'2020-01-02' AS d, 1 AS k UNION ALL SELECT NULL, 2",
            "SELECT DATE '2020-01-02' AS d, 1 AS k UNION ALL SELECT NULL, 2",
        ),
        (
            "SELECT TIMESTAMP'2020-01-02 03:04:05.123456' AS ts, "
            "CAST(1.25 AS DECIMAL(10, 2)) AS x",
            "SELECT TIMESTAMPTZ '2020-01-02 03:04:05.123456+00' AS ts, "
            "1.25::DOUBLE AS x",
        ),
        (
            "SELECT CAST('NaN' AS DOUBLE) AS x, 1.5D AS y",
            "SELECT 'NaN'::DOUBLE AS x, 1.5::DOUBLE AS y",
        ),
        # rows and columns compare in any order
        (
            "SELECT * FROM VALUES (2, 'b'), (1, 'a') AS t(k, s)",
            "SELECT s, k FROM (VALUES (1, 'a'), (2, 'b')) t(k, s)",
        ),
        ("SELECT 1.5D AS x WHERE false", "SELECT 1.5::DOUBLE AS x WHERE false"),
    ],
    ids=["date", "tz_timestamp_and_decimal", "nan", "order", "empty"],
)
def test_equal_frames_match(spark, con, spark_sql, duck_sql):
    assert_frames_match(spark.sql(spark_sql), con.sql(duck_sql))


def test_float_tolerance_is_opt_in(spark, con):
    left = spark.sql("SELECT 1.0D AS x")
    right = con.sql("SELECT 1.0::DOUBLE * (1 + 1e-12) AS x")
    assert_frames_match(left, right, float_exact=False)
    with pytest.raises(AssertionError, match="column x: first mismatch"):
        assert_frames_match(left, right)


@pytest.mark.parametrize(
    "spark_sql, duck_sql, message",
    [
        ("SELECT 1L AS k", "SELECT 2::BIGINT AS k", "column k differs"),
        ("SELECT 1L AS k, 'a' AS s", "SELECT 1::BIGINT AS k, 'b' AS s", "column s differs"),
        ("SELECT 1.5D AS x", "SELECT 1.25::DOUBLE AS x", "column x: first mismatch"),
        (
            "SELECT * FROM VALUES (1), (2) AS t(k)",
            "SELECT 1::BIGINT AS k",
            "row count 2 != 1",
        ),
        ("SELECT 1L AS k", "SELECT 1::BIGINT AS j", "columns"),
        ("SELECT 1L AS k", "SELECT 1.0::DOUBLE AS k", "dtype class mismatch"),
        ("SELECT 1L AS k", "SELECT SUM(1::INTEGER) AS k", "dtype class mismatch"),
        ("SELECT 1.0D AS k", "SELECT 1::BIGINT AS k", "dtype class mismatch"),
        (
            "SELECT DATE'2020-01-02' AS d",
            "SELECT TIMESTAMP '2020-01-02' AS d",
            "Spark DATE vs DuckDB TIMESTAMP",
        ),
    ],
    ids=[
        "changed_int",
        "changed_string",
        "changed_float",
        "row_count",
        "column_names",
        "int_vs_double",
        "int_vs_hugeint",
        "double_vs_int",
        "date_vs_timestamp",
    ],
)
def test_differences_raise(spark, con, spark_sql, duck_sql, message):
    with pytest.raises(AssertionError, match=message):
        assert_frames_match(spark.sql(spark_sql), con.sql(duck_sql))
