"""End-to-end pipeline CLI — the whole reference stack in one process
(≙ Airflow DAG trigger → COPY INTO → dbt run → dbt test,
reference: Airflow/dags/Sec_data_pipeline.py + rdbms_transformation.py):

    python -m sec_financial_data_pipeline_using_snowflake_dbt_spark \
        <landing_dir> <warehouse_dir> [--skip-checks]

Loads the quarter's TSVs (COPY semantics), runs the data-quality suite
(dbt test parity), builds the star schema + JSON documents through the
model registry, and writes fact tables to the warehouse. As a failing
``dbt test`` fails the reference's Airflow run (rdbms_transformation.py:
147-152), the exit status is 1 when any check fails; the warehouse is
still written, as the reference's models run before its tests.
"""

from __future__ import annotations

import argparse
import sys

from .checks import run_checks, sec_quarter_suite
from .plans.registry import sec_registry
from .session import get_spark, jvm_cost
from .sources.tsv import read_sec_quarter


def main() -> int:
    ap = argparse.ArgumentParser(prog="secspark")
    ap.add_argument("landing_dir", help="directory with {sub,tag,num,pre}.txt")
    ap.add_argument("warehouse_dir", help="output directory for fact tables")
    ap.add_argument("--skip-checks", action="store_true")
    args = ap.parse_args()

    spark = get_spark("secspark-pipeline")
    raw = read_sec_quarter(spark, args.landing_dir)
    print(f"[secspark] loaded quarter {args.landing_dir}: " +
          ", ".join(f"{k}={v.count()}" for k, v in raw.items()))

    failed = []
    if not args.skip_checks:
        results = run_checks(
            sec_quarter_suite(raw["sub"], raw["tag"], raw["num"], raw["pre"])
        )
        failed = [r for r in results if not r.passed]
        print(f"[secspark] checks: {len(results) - len(failed)}/{len(results)} passed")
        for r in failed:
            print(f"[secspark]   FAIL {r.name}: {r.violations} violations")

    registry = sec_registry()
    built = registry.run(spark, dict(raw), warehouse_dir=args.warehouse_dir)
    for name, m in registry.models.items():
        if m.materialization == "table":
            print(f"[secspark] {name}: {built[name].count()} rows")
    print(f"[secspark] jvm: {jvm_cost(spark)}")
    spark.stop()
    return 1 if failed else 0


if __name__ == "__main__":
    sys.exit(main())
