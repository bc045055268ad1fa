"""The ``table`` materialization's ``cluster_by`` layout (the dbt
``cluster_by`` config), run through a one-model registry: a clustered
write round-trips, and a layout asked of a view or cache is an error."""

from __future__ import annotations

import pytest

from sec_financial_data_pipeline_using_snowflake_dbt_spark.plans.registry import (
    Registry,
)

from .conftest import SF_SMOKE


def _one_model(mode: str) -> Registry:
    reg = Registry()
    reg.model("orders_clustered", ["orders"], mode, cluster_by=["o_custkey"])(
        lambda t: t["orders"]
    )
    return reg


def test_clustered_parquet_roundtrip(spark, tmp_path_factory):
    wh = str(tmp_path_factory.mktemp("wh"))
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    out = _one_model("table").run(spark, {"orders": o}, warehouse_dir=wh)["orders_clustered"]
    assert out.schema == spark.read.parquet(f"{wh}/orders_clustered").schema
    assert out.count() == o.count()


@pytest.mark.parametrize("mode", ["view", "cache"])
def test_layout_needs_table_materialization(spark, mode):
    """cluster_by lays out written files: a view or cache writes none,
    so asking for a layout there is an error."""
    o = spark.read.parquet(f"{SF_SMOKE}/orders.parquet")
    with pytest.raises(ValueError, match="needs table"):
        _one_model(mode).run(spark, {"orders": o})
