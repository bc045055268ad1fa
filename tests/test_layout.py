"""Z-order key (operators/layout.py): exact interleave math vs a Python
reference, bounds clamping, and the shuffle-free key projection."""

from __future__ import annotations

import pytest
from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.layout import (
    column_bounds,
    with_zorder_key,
    zorder_key,
    zorder_sql_expr,
)

SF = "/root/testdata/sf0.001"


def _py_z(vals: list[int], bits: int) -> int:
    z = 0
    for j, v in enumerate(vals):
        for i in range(bits):
            z |= ((v >> i) & 1) << (i * len(vals) + j)
    return z


@pytest.mark.parametrize("bits,k", [(4, 2), (8, 2), (16, 2), (8, 3)])
def test_interleave_matches_python_reference(spark, bits, k):
    # identity scaling (bounds == the grid) isolates the interleave
    import random

    rng = random.Random(42)
    rows = [tuple(rng.randrange(1 << bits) for _ in range(k)) for _ in range(200)]
    cols = [f"c{j}" for j in range(k)]
    df = spark.createDataFrame(rows, ", ".join(f"{c} BIGINT" for c in cols))
    bounds = {c: (0, (1 << bits) - 1) for c in cols}
    got = {
        tuple(r[c] for c in cols): r["z"]
        for r in df.withColumn("z", zorder_key(cols, bounds, bits)).collect()
    }
    for vals in rows:
        assert got[vals] == _py_z(list(vals), bits)


def test_scaling_clamps_out_of_bounds_values(spark):
    df = spark.createDataFrame([(-5, 0), (99, 3), (500, 7)], "x BIGINT, y BIGINT")
    bounds = {"x": (0, 7), "y": (0, 7)}
    keyed = df.withColumn("z", zorder_key(["x", "y"], bounds, 3))
    out = {r["x"]: r["z"] for r in keyed.collect()}
    assert out[-5] == _py_z([0, 0], 3)     # clamped to lo
    assert out[500] == _py_z([7, 7], 3)    # clamped to hi
    assert out[99] == _py_z([7, 3], 3)


def test_rejects_bigint_overflow_and_all_null(spark):
    with pytest.raises(ValueError, match="overflows"):
        zorder_sql_expr(["a", "b", "c", "d"], bits=16)
    df = spark.createDataFrame([(None, 1)], "x BIGINT, y BIGINT")
    with pytest.raises(ValueError, match="all-null"):
        column_bounds(df, ["x", "y"])


def test_key_is_pure_projection_and_layout_shuffles_once(spark):
    li = spark.read.parquet(f"{SF}/lineitem.parquet")
    keyed = with_zorder_key(li, ["l_partkey", "l_suppkey"])
    kplan = keyed._jdf.queryExecution().executedPlan().toString()
    assert "Exchange" not in kplan  # zero shuffles: codegen projection

