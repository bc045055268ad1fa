"""Fuzzy matching (operators/fuzzy.py): deletion-variant generation vs a
Python reference, SymSpell candidate COMPLETENESS vs brute force at k=1
and k=2, the bucket-cap escape hatch, and the no-Python-UDF plan pin."""

from __future__ import annotations

import itertools
import random

import pytest
from pyspark.sql import functions as F

from sec_financial_data_pipeline_using_snowflake_dbt_spark.operators.fuzzy import (
    deletion_variants,
    fuzzy_neighbor_counts,
    fuzzy_pairs,
)


def _py_variants(s: str, k: int) -> set[str]:
    out = {s}
    frontier = {s}
    for _ in range(k):
        frontier = {v[:i] + v[i + 1 :] for v in frontier for i in range(len(v))}
        out |= frontier
    return out


def _py_lev(a: str, b: str) -> int:
    prev = list(range(len(b) + 1))
    for i, ca in enumerate(a, 1):
        cur = [i]
        for j, cb in enumerate(b, 1):
            cur.append(min(prev[j] + 1, cur[-1] + 1, prev[j - 1] + (ca != cb)))
        prev = cur
    return prev[-1]


@pytest.mark.parametrize("k", [1, 2])
def test_variants_match_python_reference(spark, k):
    rng = random.Random(7)
    words = ["".join(rng.choice("abc") for _ in range(rng.randrange(0, 7))) for _ in range(40)]
    df = spark.createDataFrame([(w,) for w in words], "s STRING")
    got = df.select("s", deletion_variants(F.col("s"), k).alias("v")).collect()
    for r in got:
        assert sorted(set(r["v"])) == sorted(_py_variants(r["s"], k)), r["s"]
        assert len(r["v"]) == len(set(r["v"]))  # array_distinct applied


@pytest.mark.parametrize("k,seed", [(1, 0), (1, 1), (2, 2), (2, 3)])
def test_blocking_is_complete_vs_brute_force(spark, k, seed):
    """Every pair within levenshtein distance k must surface — the
    pigeonhole blocking is an optimization, never an approximation."""
    rng = random.Random(seed)
    words = list({
        "".join(rng.choice("ab") for _ in range(rng.randrange(1, 8)))
        for _ in range(60)
    })
    truth = {
        (i, j)
        for (i, a), (j, b) in itertools.combinations(enumerate(words), 2)
        if _py_lev(a, b) <= k
    }
    df = spark.createDataFrame(list(enumerate(words)), "id BIGINT, s STRING")
    got = {
        (r["id_a"], r["id_b"])
        for r in fuzzy_pairs(df, "id", "s", max_dist=k).collect()
    }
    assert got == truth
    # and the reported distances are exact
    dists = {
        (r["id_a"], r["id_b"]): r["dist"]
        for r in fuzzy_pairs(df, "id", "s", max_dist=k).collect()
    }
    for (i, j), d in dists.items():
        assert d == _py_lev(words[i], words[j])


def test_neighbor_counts_aggregate_both_directions(spark):
    df = spark.createDataFrame(
        [(1, "abc"), (2, "abd"), (3, "abcd"), (4, "zzzz")], "id BIGINT, s STRING"
    )
    out = {r["name"]: (r["n_neighbors"], r["nearest"])
           for r in fuzzy_neighbor_counts(df, "id", "s").collect()}
    # abc ~ abd (sub), abc ~ abcd (insert c), abd ~ abcd (insert c)
    assert out == {
        "abc": (2, "abcd"),
        "abd": (2, "abc"),
        "abcd": (2, "abc"),
    }


def test_verification_stays_jvm_side(spark):
    df = spark.createDataFrame([(1, "abc"), (2, "abd")], "id BIGINT, s STRING")
    plan = fuzzy_pairs(df, "id", "s")._jdf.queryExecution().executedPlan().toString()
    assert "BatchEvalPython" not in plan and "ArrowEvalPython" not in plan
    assert "levenshtein" in plan
