from __future__ import annotations

import os
import sys

import pytest

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from sec_financial_data_pipeline_using_snowflake_dbt_spark.session import get_spark

SF_SMOKE = "/root/testdata/sf0.001"
SF_ORACLE = "/root/testdata/sf0.01"


def under_thresholds(module, name, values, fn):
    """``[fn() for each value]`` with ``module.name`` — a size-dispatch
    threshold — set to that value: how a test reaches each arm of a
    dispatch without a caller-facing override."""
    with pytest.MonkeyPatch.context() as m:
        out = []
        for v in values:
            m.setattr(module, name, v)
            out.append(fn())
    return out


@pytest.fixture(scope="session")
def spark():
    s = get_spark("secspark-tests", cpus=int(os.environ.get("SPARK_GRAFT_CPUS", "8")))
    yield s
