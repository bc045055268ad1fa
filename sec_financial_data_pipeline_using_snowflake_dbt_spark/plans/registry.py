"""Model registry + topological pipeline runner — the in-process
replacement for the reference's Airflow-driven dbt DAG (reference:
Airflow/dags/rdbms_transformation.py:202-211 `dbt_debug >> dbt_deps >>
staging >> dimensions >> [3 facts] >> test >> docs`).

A model is a named function ``dict[name, DataFrame] -> DataFrame`` with
declared dependencies and a materialization (reference:
Airflow/masterfindata/dbt_project.yml:28-45), which ``Registry.run``
carries out, registering each model as a temp view of its name:

- ``view``  — lazy lineage (≙ dbt view): downstream models compose the
              plan; Catalyst optimizes across model boundaries.
- ``cache`` — persisted (≙ the reference's "staging as table for
              performance", dbt_project.yml:33): hot intermediates
              shared by several downstreams. A re-run replaces the
              entry an earlier run cached, so re-landed sources never
              meet stale staging rows.
- ``table`` — written to ``<warehouse_dir>/<name>`` as Parquet, with the
              ``cluster_by`` analogue ``repartition(keys)
              .sortWithinPartitions(keys)`` (X7: Snowflake cluster_by on
              the facts) so later scans get co-located keys. The
              read-back carries the schema just written, so it runs no
              footer-inference job. ``cluster_by`` lays out written
              files, so it needs ``table``.

Model-level parallelism (dbt --threads 8 / parallel Airflow tasks, X11)
is deliberately absent: models share one lineage graph, so Spark's own
scheduler + the shared-cache structure subsume it.
"""

from __future__ import annotations

from dataclasses import dataclass, field
from graphlib import TopologicalSorter
from typing import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from ..session import persist_fresh


@dataclass
class Model:
    name: str
    deps: list[str]
    fn: Callable[[dict[str, DataFrame]], DataFrame]
    materialization: str = "view"  # view | cache | table
    cluster_by: list[str] = field(default_factory=list)


@dataclass
class Registry:
    models: dict[str, Model] = field(default_factory=dict)

    def model(
        self,
        name: str,
        deps: list[str],
        materialization: str = "view",
        cluster_by: list[str] | None = None,
    ):
        def deco(fn):
            self.models[name] = Model(
                name, deps, fn, materialization, cluster_by or []
            )
            return fn

        return deco

    def order(self) -> list[str]:
        ts = TopologicalSorter(
            {name: set(m.deps) & set(self.models) for name, m in self.models.items()}
        )
        return list(ts.static_order())

    def lineage(self) -> dict:
        """Docs/lineage artifact (≙ the reference's terminal `dbt docs
        generate` task, Airflow/dags/rdbms_transformation.py:202-211):
        every model with its declared deps, materialization, and
        clustering, plus sources (deps that aren't models) and the
        topological execution order."""
        model_names = set(self.models)
        sources = sorted(
            {d for m in self.models.values() for d in m.deps} - model_names
        )
        return {
            "sources": sources,
            "models": {
                name: {
                    "deps": list(m.deps),
                    "materialization": m.materialization,
                    "cluster_by": list(m.cluster_by),
                }
                for name, m in sorted(self.models.items())
            },
            "order": self.order(),
        }

    def to_dot(self) -> str:
        """The same graph as Graphviz DOT (sources as boxes, models as
        ellipses labeled with their materialization)."""
        lin = self.lineage()
        lines = ["digraph lineage {", "  rankdir=LR;"]
        for s in lin["sources"]:
            lines.append(f'  "{s}" [shape=box];')
        for name, node in lin["models"].items():
            lines.append(f'  "{name}" [label="{name}\\n({node["materialization"]})"];')
            for d in node["deps"]:
                lines.append(f'  "{d}" -> "{name}";')
        lines.append("}")
        return "\n".join(lines)

    def emit_docs(self, out_dir: str) -> dict[str, str]:
        """Write ``lineage.json`` + ``lineage.dot`` to ``out_dir``;
        returns the paths. Driver-side artifact emission, deliberately
        tiny — the graph is metadata, not data."""
        import json
        import os

        os.makedirs(out_dir, exist_ok=True)
        paths = {
            "json": os.path.join(out_dir, "lineage.json"),
            "dot": os.path.join(out_dir, "lineage.dot"),
        }
        with open(paths["json"], "w") as fh:
            json.dump(self.lineage(), fh, indent=2)
        with open(paths["dot"], "w") as fh:
            fh.write(self.to_dot())
        return paths

    def run(
        self,
        spark: SparkSession,
        sources: dict[str, DataFrame],
        warehouse_dir: str | None = None,
        select: list[str] | None = None,
    ) -> dict[str, DataFrame]:
        """Execute the DAG (≙ `dbt run`): build each model and view, cache
        or write it as it declares, registered as a temp view of its name.
        ``select`` limits to the named models + their ancestors (≙ dbt
        --models selectors); a selected name that is neither a model nor a
        source raises ``KeyError``."""
        wanted: set[str] | None = None
        if select:
            unknown = [n for n in select if n not in self.models and n not in sources]
            if unknown:
                raise KeyError(f"select: unknown models {unknown}")
            wanted = set()
            stack = list(select)
            while stack:
                n = stack.pop()
                if n in wanted or n not in self.models:
                    continue
                wanted.add(n)
                stack.extend(self.models[n].deps)

        built: dict[str, DataFrame] = dict(sources)
        for name in self.order():
            if wanted is not None and name not in wanted:
                continue
            m = self.models[name]
            missing = [d for d in m.deps if d not in built]
            if missing:
                raise KeyError(f"model {name}: missing inputs {missing}")
            mode = m.materialization
            if mode not in ("view", "cache", "table"):
                raise ValueError(f"{name}: unknown materialization {mode!r}")
            if m.cluster_by and mode != "table":
                raise ValueError(f"{name}: cluster_by needs table materialization, not {mode!r}")
            if mode == "table" and not warehouse_dir:
                raise ValueError(f"{name}: table materialization needs warehouse_dir")
            df = m.fn(built)
            if mode == "cache":
                df = persist_fresh(df)
            elif mode == "table":
                if m.cluster_by:
                    df = df.repartition(*m.cluster_by).sortWithinPartitions(*m.cluster_by)
                df.write.mode("overwrite").parquet(f"{warehouse_dir}/{name}")
                df = spark.read.schema(df.schema).parquet(f"{warehouse_dir}/{name}")
            df.createOrReplaceTempView(name)
            built[name] = df
        return built


def sec_registry() -> Registry:
    """The full SEC pipeline as a registry — staging → dimensions →
    facts (+ JSON documents), mirroring the reference's model DAG with
    the materialization strategy of dbt_project.yml:28-45."""
    from ..operators import dimensions as D
    from ..operators import facts as FCT
    from ..operators import json_doc as JD
    from ..operators import staging as S

    r = Registry()

    r.model("stg_sub", ["sub"], "cache")(lambda t: S.stg_sub(t["sub"]))
    r.model("stg_tag", ["tag"])(lambda t: S.stg_tag(t["tag"]))
    r.model("stg_num", ["num"], "cache")(lambda t: S.stg_num(t["num"]))
    r.model("stg_pre", ["pre"])(lambda t: S.stg_pre(t["pre"]))

    r.model("dim_address", ["stg_sub"])(lambda t: D.dim_address(t["stg_sub"]))
    r.model("dim_company", ["dim_address", "stg_sub"], "cache")(
        lambda t: D.dim_company(t["dim_address"], t["stg_sub"])
    )
    r.model("dim_filings", ["stg_pre", "stg_tag", "stg_num", "stg_sub"], "cache")(
        lambda t: D.dim_filings(t["stg_pre"], t["stg_tag"], t["stg_num"], t["stg_sub"])
    )
    r.model("dim_date", [])(
        lambda t: D.dim_date(SparkSession.active())
    )

    r.model("fact_spine", ["stg_num", "stg_pre", "stg_sub"], "cache")(
        lambda t: FCT.fact_spine(t["stg_num"], t["stg_pre"], t["stg_sub"])
    )
    # one plan builds all three statements; each reference fact table is
    # its statement's slice, written with the reference's cluster_by
    r.model(
        "fct_statements",
        ["fact_spine", "dim_company", "dim_filings", "dim_date"],
        "cache",
    )(
        lambda t: FCT.build_fact(
            t["fact_spine"], t["dim_company"], t["dim_filings"], t["dim_date"]
        )
    )
    for stmt, name in (("BS", "fct_balance_sheet"), ("IS", "fct_income_statement"), ("CF", "fct_cashflows")):
        r.model(name, ["fct_statements"], "table", cluster_by=["company_name"])(
            lambda t, s=stmt: t["fct_statements"].filter(F.col("statement_type") == s)
        )

    r.model("stg_financial_data", ["sub", "num", "tag", "pre"])(
        lambda t: JD.stg_financial_data(t["sub"], t["num"], t["tag"], t["pre"])
    )
    r.model("financial_statements_json", ["stg_financial_data"], "table")(
        lambda t: JD.financial_statements_json(t["stg_financial_data"])
    )
    return r
