"""Materialization sinks + catalog helpers (SURVEY §2.1 S10/S11).

Maps the reference's dbt materialization/`cluster_by` configs
(reference: Airflow/masterfindata/dbt_project.yml:28-45,
models/Staging/stg_num.sql:2-6, models/Facts/fct_balanceSheet.sql:1-6)
onto Spark's storage primitives:

- ``view``                → temp view (lazy lineage)
- ``cache``               → ``session.persist_fresh`` + temp view (a
                            re-run replaces the entry an earlier run
                            cached, so re-landed sources never meet
                            stale rows)
- ``table``               → Parquet write; ``cluster_by`` becomes
                            repartition+sortWithinPartitions (co-located,
                            sorted runs inside each file — the micro-
                            partition-clustering analogue)
"""

from __future__ import annotations

from pyspark.sql import DataFrame

from ..session import persist_fresh


def materialize(
    df: DataFrame,
    name: str,
    mode: str = "view",
    warehouse_dir: str | None = None,
    cluster_by: list[str] | None = None,
) -> DataFrame:
    """Materialize ``df`` as ``name`` per the requested strategy and
    return a re-readable DataFrame registered as a temp view.

    ``cluster_by`` lays out written files, so it needs ``table``: a
    ``view`` or ``cache`` writes nothing to lay out.
    """
    if mode not in ("view", "cache", "table"):
        raise ValueError(f"unknown materialization {mode!r}")
    if mode != "table":
        if cluster_by:
            raise ValueError(
                f"{name}: cluster_by needs table materialization, not {mode!r}"
            )
        out = persist_fresh(df) if mode == "cache" else df
        out.createOrReplaceTempView(name)
        return out
    if not warehouse_dir:
        raise ValueError(f"{name}: table materialization needs warehouse_dir")
    if cluster_by:
        df = df.repartition(*cluster_by).sortWithinPartitions(*cluster_by)
    df.write.mode("overwrite").parquet(f"{warehouse_dir}/{name}")
    out = df.sparkSession.read.parquet(f"{warehouse_dir}/{name}")
    out.createOrReplaceTempView(name)
    return out
