"""The Arrow-batched series_decompose kernels must reproduce the retired
pure-SQL emission bit-for-bit.

`kql_to_sql` emits the kernel UDF call with or without a session; the
higher-order-function SQL the kernels were ported from lives in
tests/series_sql_ref.py as the reference. Every case below runs the
SAME KQL through the product (`kql`) and through the reference SQL on
the SAME session and compares results exactly (NaN-aware, NULL-exact,
bitwise on doubles via struct packing).
"""

from __future__ import annotations

import math
import struct

import pytest

from api_to_parquet_spark.queries.kql import kql, kql_to_sql
from api_to_parquet_spark.queries.series_decomp import SD_UDF_NAME, SDA_UDF_NAME
from series_sql_ref import ref_sql

# (name, y literal elements as SQL text, period arg text)
CASES = [
    ("bench shape 14x7", "1.0,5.0,2.0,6.0,1.0,0.0,3.0,2.0,6.0,1.0,7.0,2.0,0.0,4.0", "7"),
    ("spike constant iqr0", "5.0,5.0,5.0,5.0,5.0,50.0,5.0,5.0", "2"),
    ("len shorter than period", "3.0,1.0", "7"),
    ("single element", "42.0", "3"),
    ("period one", "9.0,8.0,7.5,1.0", "1"),
    ("with nulls", "1.0,null,3.0,4.0,5.0,6.0", "2"),
    ("all null elems", "null,null,null", "2"),
    ("with nan", "1.0,2.0,double('NaN'),4.0,5.0,6.0", "2"),
    ("autodetect seasonal", "10.0,2.0,5.0,1.0,10.0,2.0,5.0,1.0,10.0,2.0,5.0,1.0,10.0,2.0,5.0,1.0,10.0,2.0,5.0,1.0", "-1"),
    ("autodetect no season", "1.0,9.0,2.0,7.0,3.5,8.2,0.5,6.6", "-1"),
    ("autodetect zero series", "0.0,0.0,0.0,0.0,0.0,0.0", "-1"),
    ("negatives and zeros", "-3.0,0.0,-0.0,2.5,-3.0,0.0,-0.0,2.5,-3.0,0.0", "4"),
]

# Plain decompose has no quantile step, so an empty series is a value on
# both paths (the linefit's NULL / 0 is NULL); series_decompose_anomalies
# raises on it instead (test_empty_series_raises_on_both_paths).
DECOMPOSE_CASES = CASES + [("empty series", "", "3")]


def _canon(v):
    """Exact, hashable form: doubles bitwise, recursing into lists."""
    if isinstance(v, float):
        return struct.pack("<d", v)
    if isinstance(v, list):
        return tuple(_canon(x) for x in v)
    return v


def _anomalies_body(period: str) -> str:
    return (
        "sda_probe_t | extend (an, sc, bl) ="
        f" series_decompose_anomalies(y, {period})"
    )


def _decompose_body(period: str) -> str:
    return (
        "sda_probe_t | extend (bl, se, tr, re) ="
        f" series_decompose(y, {period})"
    )


def _run_both(spark, body: str):
    """Run one KQL text through the product (kql, the kernel UDF) and
    the reference SQL, return both row lists."""
    arrow = kql(spark, body).collect()
    sql = spark.sql(ref_sql(body)).collect()
    return arrow, sql


def _assert_rows_equal(arrow, sql):
    assert len(arrow) == len(sql)
    for ra, rs in zip(arrow, sql):
        assert list(ra.asDict().keys()) == list(rs.asDict().keys())
        for col in ra.asDict():
            assert _canon(ra[col]) == _canon(rs[col]), (
                f"column {col}: {ra[col]!r} != {rs[col]!r}"
            )


@pytest.mark.parametrize("name,elems,period", CASES, ids=[c[0] for c in CASES])
def test_decompose_anomalies_kernel_matches_sql(spark, name, elems, period):
    spark.sql(
        f"SELECT array({elems}) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    arrow, sql = _run_both(spark, _anomalies_body(period))
    _assert_rows_equal(arrow, sql)


@pytest.mark.parametrize(
    "name,elems,period", DECOMPOSE_CASES, ids=[c[0] for c in DECOMPOSE_CASES]
)
def test_decompose_kernel_matches_sql(spark, name, elems, period):
    spark.sql(
        f"SELECT array({elems}) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    arrow, sql = _run_both(spark, _decompose_body(period))
    _assert_rows_equal(arrow, sql)


def test_decompose_anomalies_custom_k_matches_sql(spark):
    spark.sql(
        "SELECT array(1.0,5.0,2.0,6.0,1.0,0.0,3.0,2.0,6.0,1.0) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    arrow, sql = _run_both(spark, _anomalies_body("2, 3.0"))
    _assert_rows_equal(arrow, sql)


def test_null_array_input_matches_sql(spark):
    spark.sql(
        "SELECT CAST(NULL AS ARRAY<DOUBLE>) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    arrow, sql = _run_both(spark, _anomalies_body("3"))
    _assert_rows_equal(arrow, sql)


def test_empty_series_raises_on_both_paths(spark):
    """The reference SQL's discrete quantile indexes element 0 on an
    empty series (INVALID_INDEX_OF_ZERO under ANSI); the kernel raises
    the equivalent error instead of silently diverging."""
    spark.sql("SELECT array() AS y").createOrReplaceTempView(
        "sda_probe_t"
    )
    body = _anomalies_body("3")
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|INDEX_OF_ZERO"):
        kql(spark, body).collect()
    with pytest.raises(Exception, match="DIVIDE_BY_ZERO|INDEX_OF_ZERO"):
        spark.sql(ref_sql(body)).collect()


_BODIES = sorted(
    {_anomalies_body(p) for _, _, p in CASES}
    | {_decompose_body(p) for _, _, p in DECOMPOSE_CASES}
    | {_anomalies_body("2, 3.0")}
)


@pytest.mark.parametrize(
    "body", _BODIES, ids=[b.split("= ", 1)[1] for b in _BODIES]
)
def test_same_sql_with_and_without_session(spark, body):
    """One product path: the sessionless translation is the session
    translation, and both call the kernel UDF."""
    sql = kql_to_sql(body, None)
    assert sql == kql_to_sql(body, spark)
    udf = SDA_UDF_NAME if "anomalies" in body else SD_UDF_NAME
    assert f"{udf}(" in sql
    assert "aggregate(" not in sql


def test_arrow_path_plan_shape(spark):
    """The session path must evaluate the chain in ONE ArrowEvalPython
    node — Arrow-batched, never pickled rows, no duplicated UDF eval."""
    spark.sql(
        "SELECT array(1.0,2.0,3.0,4.0,5.0,6.0) AS y"
    ).createOrReplaceTempView("sda_probe_t")
    df = kql(
        spark,
        "sda_probe_t | extend (an, sc, bl) ="
        " series_decompose_anomalies(y, 3)",
    )
    plan = df._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan
    assert plan.count("ArrowEvalPython") == 1


def test_series_udf_runs_when_workers_cannot_import_the_package(tmp_path):
    """The kernel UDFs ship by value. A driver that found the package
    only through sys.path, with no PYTHONPATH for Spark's Python
    workers and its working directory outside the repository, still
    runs series_decompose_anomalies (the workers would otherwise fail
    with ModuleNotFoundError: No module named 'api_to_parquet_spark')."""
    import os
    import subprocess
    import sys

    repo = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    script = f"""
import sys
sys.path.insert(0, {repo!r})
from api_to_parquet_spark import get_spark
from api_to_parquet_spark.queries.kql import kql
spark = get_spark("worker_path", master="local[1]", shuffle_partitions=1)
spark.createDataFrame(
    [(i * 3600, float(v)) for i, v in enumerate([1, 5, 2, 6, 1, 0, 3, 2, 6, 1, 7, 2])],
    ["t", "v"],
).selectExpr("timestamp_seconds(t) AS ts", "v").createOrReplaceTempView("wp")
rows = kql(
    spark,
    "wp | make-series v = avg(v) on ts from datetime(1970-01-01)"
    " to datetime(1970-01-01 12:00) step 1h"
    " | extend (a, s, b) = series_decompose_anomalies(v)",
).collect()
print("ROWS", len(rows))
spark.stop()
"""
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    run = subprocess.run(
        [sys.executable, "-c", script], cwd=tmp_path, env=env,
        capture_output=True, text=True, timeout=600,
    )
    assert run.returncode == 0, run.stderr[-3000:]
    assert "ROWS 1" in run.stdout
