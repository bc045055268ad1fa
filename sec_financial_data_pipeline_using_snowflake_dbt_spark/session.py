"""SparkSession construction.

One place to encode the engine-wide execution posture:

- AQE on (runtime re-planning, skew-join splitting, partition coalescing)
  — replaces the reference's manual warehouse resizing
  (reference: Airflow/dags/Sec_data_pipeline.py:423,449).
- ANSI off — Snowflake's TRY_TO_DATE / lenient-cast semantics map to
  Spark's null-on-error behavior with ANSI disabled
  (reference: Airflow/masterfindata/models/Facts/fct_balanceSheet.sql:54).
- UTC session timezone — deterministic timestamp semantics for the
  correctness oracle.
- shuffle partitions sized to cores locally; on a real cluster AQE
  coalescing makes the initial number mostly irrelevant.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession

# Spark-side default parallelism. On a 1000-executor cluster you would set
# spark.sql.shuffle.partitions ~ 2-3x total cores (or rely on AQE
# auto-coalesce from a high initial value); locally, ~cores.
_DEFAULT_CPUS = int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def _spark_defaults_has_master() -> bool:
    """True iff spark-defaults.conf on disk sets spark.master. Needed
    for the bare ``python app.py`` case: before any JVM exists,
    pyspark's ``SparkConf(loadDefaults=True)`` degrades to an empty
    Python dict (loadDefaults only reads JVM system properties), so the
    file must be consulted directly — the same lookup order
    spark-submit uses (SPARK_CONF_DIR, then SPARK_HOME/conf)."""
    for conf_dir in (
        os.environ.get("SPARK_CONF_DIR"),
        os.path.join(os.environ.get("SPARK_HOME", ""), "conf"),
    ):
        if not conf_dir:
            continue
        path = os.path.join(conf_dir, "spark-defaults.conf")
        try:
            with open(path, encoding="utf-8") as fh:
                for line in fh:
                    line = line.strip()
                    if line.startswith("spark.master") and (
                        len(line) == len("spark.master")
                        or line[len("spark.master")] in " \t="
                    ):
                        return True
        except OSError:
            continue
    return False


def _launcher_master_configured() -> bool:
    """True iff a launcher (spark-submit / YARN / K8s / pyspark shell)
    already decided spark.master for this process.

    Signals, any of which wins:
    - PYSPARK_GATEWAY_PORT: the JVM was started by spark-submit and this
      Python process attached to its gateway — master is already fixed.
    - ``--master`` in PYSPARK_SUBMIT_ARGS: Python will launch the JVM
      with an explicit master (pyspark shell / bare ``python app.py``).
    - spark.master in the JVM's default SparkConf (only meaningful once
      a JVM exists — system properties set by the launcher).
    - spark.master in spark-defaults.conf on disk (the pre-JVM
      ``python app.py`` path, where the JVM SparkConf is unreadable).
    """
    if os.environ.get("PYSPARK_GATEWAY_PORT"):
        return True
    if "--master" in os.environ.get("PYSPARK_SUBMIT_ARGS", ""):
        return True
    try:
        from pyspark import SparkConf

        if SparkConf(loadDefaults=True).contains("spark.master"):
            return True
    except Exception:  # pragma: no cover — conf bridge unavailable
        pass
    return _spark_defaults_has_master()


def get_spark(
    app_name: str = "secspark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    The configuration is scale-aware: everything here is equally valid on
    ``local[32]`` and on a 1000-executor YARN/K8s cluster — only
    ``master`` and the memory sizing change.
    """
    cpus = cpus or _DEFAULT_CPUS
    shuffle_partitions = shuffle_partitions or cpus
    builder = SparkSession.builder
    # master resolution: explicit env override > launcher-provided
    # (spark-submit --master / YARN / K8s) > local[cpus] fallback. The
    # builder must NOT set local[] when a launcher already configured a
    # master. PYSPARK_SUBMIT_ARGS only exists when Python launches the
    # JVM itself; under `spark-submit app.py` the driver attaches to an
    # existing gateway (PYSPARK_GATEWAY_PORT set) and spark.master is in
    # the loaded SparkConf — check both (ADVICE r2).
    master_env = os.environ.get("SPARK_GRAFT_MASTER")
    if master_env:
        builder = builder.master(master_env)
    elif _launcher_master_configured():
        pass  # respect the cluster manager the launcher configured
    else:
        builder = builder.master(f"local[{cpus}]")
    builder = (
        builder.appName(app_name)
        # --- parallelism / adaptivity ---
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # --- semantics ---
        .config("spark.sql.ansi.enabled", "false")
        # pre-4.1 runtimes: read parquet TIMESTAMP(NANOS) as long (readers
        # convert via workload.common.normalize_event_ts). Spark >= 4.1
        # ignores this conf and reads nanos natively as timestamp_ntz —
        # the dtype guard in normalize_event_ts handles both.
        .config("spark.sql.legacy.parquet.nanosAsLong", "true")
        .config("spark.sql.session.timeZone", "UTC")
        # --- python<->jvm transfer ---
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # --- local-mode ergonomics ---
        .config("spark.ui.enabled", "false")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "24g"))
        # parquet scans: split files so local cores all engage even on
        # one file; at 100 TB the same knob bounds per-task input size.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
    )
    for k, v in (extra_conf or {}).items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    return spark


def persist_fresh(df: DataFrame) -> DataFrame:
    """``df.persist()`` that replaces any cached entry with an equal plan.

    Spark's cache manager matches plans, and a file scan's plan names its
    root path, not the files under it. A plain ``persist()`` of a re-read
    of re-landed files therefore keeps serving the rows cached from the
    old files. Unpersisting first drops that entry; with none cached it
    is a no-op.
    """
    df.unpersist()
    return df.persist()
