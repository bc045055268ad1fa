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
- a class-data archive for the driver JVM (dynamic CDS, JEP 350) when
  ``get_spark`` launches that JVM itself: the first start records the
  classes it loads into ``${XDG_CACHE_HOME:-~/.cache}/secspark/`` at
  JVM exit, and later starts map them instead of loading them from the
  jars. A start that finds the archive saves about 2 s; the start that
  writes it pays about 2 s more and waits about 8 s at exit, so the gain
  needs repeated runs on one machine. The archive is keyed on the JDK
  and the Spark jar set, one per key; a JVM already running, or a
  configuration directory on the classpath that is not empty, turns it
  off (CDS refuses non-empty classpath directories).
"""

from __future__ import annotations

import atexit
import contextlib
import fcntl
import hashlib
import os
import shutil
import subprocess
from pathlib import Path

from pyspark import SparkContext
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


# the JVM logs CDS warnings to stdout while it writes an archive at exit,
# after a caller's last line; they carry no information the state lacks
_CDS_QUIET = "-Xlog:cds*=off"
# "used", "created" or "off: <reason>" for the driver JVM of this process
# (one gateway JVM per process, so one state); set when get_spark
# launches that JVM
_archive_state = "off: JVM not launched by get_spark"


def _archive_dir() -> Path:
    cache = os.environ.get("XDG_CACHE_HOME") or os.path.join(os.path.expanduser("~"), ".cache")
    return Path(cache) / "secspark"


def _is_empty(directory: str | Path, allowed: str | None = None) -> bool:
    """True iff ``directory`` is missing or holds only names ending in ``allowed``."""
    try:
        names = os.listdir(directory)
    except OSError:
        return True
    return all(allowed and n.endswith(allowed) for n in names)


@contextlib.contextmanager
def _locked(directory: Path):
    """Hold an exclusive lock on ``directory`` (flock on its own fd), so
    starts and exits of concurrent processes see one archive per key."""
    fd = os.open(directory, os.O_RDONLY)
    try:
        fcntl.flock(fd, fcntl.LOCK_EX)
        yield
    finally:
        os.close(fd)


def _whole(archive: Path) -> bool:
    """True iff ``archive``'s name still records its size."""
    return archive.stem.rsplit("-", 1)[-1] == str(archive.stat().st_size)


def _java() -> tuple[str, str]:
    """The real path of the ``java`` spark-submit runs, and its JDK's release file."""
    java_home = os.environ.get("JAVA_HOME")
    java = os.path.join(java_home, "bin", "java") if java_home else shutil.which("java")
    java = os.path.realpath(java or "java")
    try:
        release = Path(java).parent.parent.joinpath("release").read_text(encoding="utf-8")
    except OSError:
        release = ""
    return java, release


def _plan_archive(spark_home: str, cache: Path) -> tuple[str, Path | None]:
    """The archive state for a driver JVM about to launch, and the
    archive it maps (``used``) or writes at exit (``created``).

    Archives live in ``cache`` as ``jvm-<key>-<size>.jsa``; the JVM
    writes to ``jvm-<key>-<pid>.tmp`` and ``_finish_archive`` renames.
    Removes what earlier runs left: archives of another JDK or jar set,
    temp files of processes that died, an archive whose size changed
    since it was moved into place (a JVM dies with SIGBUS on a truncated
    one), and any archive of this key after the first whole one.
    """
    conf = os.environ.get("SPARK_CONF_DIR") or os.path.join(spark_home, "conf")
    if not _is_empty(conf, ".template"):
        return f"off: {conf} is not empty", None
    for var in ("HADOOP_CONF_DIR", "YARN_CONF_DIR"):
        if not _is_empty(os.environ.get(var, "")):
            return f"off: {var} is not empty", None
    java, release = _java()
    major = next((line.split('"')[1].split(".")[0] for line in release.splitlines()
                  if line.startswith('JAVA_VERSION="')), "")
    if not major.isdigit() or int(major) < 17:
        return "off: no JDK 17 or later", None
    try:
        jars = sorted((e.name, e.stat().st_size, e.stat().st_mtime_ns)
                      for e in os.scandir(os.path.join(spark_home, "jars")))
        key = hashlib.sha256(repr((java, release, jars)).encode()).hexdigest()[:16]
        if (cache / f"jvm-{key}.failed").exists():
            return f"off: archive creation failed; delete {cache} to retry", None
        (cache / "conf").mkdir(parents=True, exist_ok=True)
        if not os.access(cache, os.W_OK):
            return f"off: {cache} is not writable", None
        if not _is_empty(cache / "conf"):
            return f"off: {cache / 'conf'} is not empty", None
        archive = None
        with _locked(cache):
            for p in sorted(cache.glob("jvm-*")):
                _, k, *n = p.stem.split("-")
                if archive is None and k == key and p.suffix == ".jsa" and _whole(p):
                    archive = p
                elif not (k == key and p.suffix == ".tmp" and n and n[0].isdigit() and _alive(int(n[0]))):
                    p.unlink()
    except OSError as e:
        return f"off: {e}", None
    if archive is not None:
        return "used", archive
    return "created", cache / f"jvm-{key}-{os.getpid()}.tmp"


def _alive(pid: int) -> bool:
    try:
        os.kill(pid, 0)
    except ProcessLookupError:
        return False
    except PermissionError:
        pass
    return True


def _finish_archive(proc, pending: Path) -> None:
    """Move the archive the gateway JVM writes at exit into place, whole.

    Runs at interpreter exit: the JVM writes the archive only once its
    stdin closes, so this closes it, waits for the JVM, and checks that
    a JVM maps the file before renaming it to the name that records its
    size. When a concurrent process already moved a whole archive of
    this key into place, this one is dropped: one archive per key. A
    JVM that ran to the end without writing a mappable archive leaves a
    ``.failed`` marker, so later starts do not pay for a retry.
    """
    if SparkContext._active_spark_context is not None:
        # as the JVM's shutdown hook would, but first: a context still
        # running logs a traceback when the JVM exits under it
        SparkContext._active_spark_context.stop()
    try:
        if proc.stdin is not None:
            proc.stdin.close()  # the gateway JVM exits on EOF
        rc = proc.wait(timeout=120)
    except (OSError, subprocess.TimeoutExpired):
        return  # a later start removes the temp file
    stem = pending.stem.rsplit("-", 1)[0]
    try:
        with _locked(pending.parent):
            if any(_whole(p) for p in pending.parent.glob(f"{stem}-*.jsa")):
                pending.unlink(missing_ok=True)
                return
            ok = rc == 0 and pending.is_file() and subprocess.run(
                [_java()[0], f"-XX:SharedArchiveFile={pending}", _CDS_QUIET,
                 "-XX:ErrorFile=/dev/null", "-XX:-CreateCoredumpOnCrash", "-version"],
                stdout=subprocess.DEVNULL, stderr=subprocess.DEVNULL, timeout=60,
            ).returncode == 0
            if ok:
                os.replace(pending, pending.with_name(f"{stem}-{pending.stat().st_size}.jsa"))
                return
            pending.unlink(missing_ok=True)
            if rc == 0:
                pending.with_name(f"{stem}.failed").touch()
    except (OSError, subprocess.TimeoutExpired):
        pending.unlink(missing_ok=True)


def jvm_cost(spark: SparkSession) -> str:
    """One line on what starting and warming the driver JVM cost so far:
    archive state, classes loaded, JIT compile seconds, and Spark's
    whole-stage codegen compiles with their mean compile time. The
    codegen histogram keeps a decaying sample, so it gives a count and
    a mean but no exact total. Reads JMX beans and a Spark metric over
    py4j; runs no Spark job."""
    jvm = spark.sparkContext._jvm
    beans = jvm.java.lang.management.ManagementFactory
    codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME()
    return (f"archive {_archive_state}, "
            f"{beans.getClassLoadingMXBean().getTotalLoadedClassCount()} classes loaded, "
            f"JIT {beans.getCompilationMXBean().getTotalCompilationTime() / 1000:.1f}s, "
            f"codegen {codegen.getCount()} compiles, mean {codegen.getSnapshot().getMean():.0f} ms")


def get_spark(
    app_name: str = "secspark",
    cpus: int | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) the engine SparkSession.

    The configuration is scale-aware: everything here is equally valid on
    ``local[32]`` and on a 1000-executor YARN/K8s cluster — only
    ``master`` and the memory sizing change. When this call launches the
    driver JVM, the class-data archive flags are appended to the
    caller's ``spark.driver.extraJavaOptions`` (see the module docstring).
    """
    global _archive_state
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
    archive = None
    if SparkContext._gateway is None and not os.environ.get("PYSPARK_GATEWAY_PORT"):
        from pyspark.find_spark_home import _find_spark_home

        _archive_state, archive = _plan_archive(_find_spark_home(), _archive_dir())
    conf_dir = os.environ.get("SPARK_CONF_DIR")
    if archive is not None:
        caller_opts = (extra_conf or {}).get("spark.driver.extraJavaOptions", "")
        flag = "-XX:SharedArchiveFile" if _archive_state == "used" else "-XX:ArchiveClassesAtExit"
        builder = builder.config("spark.driver.extraJavaOptions",
                                 f"{caller_opts} {flag}={archive} {_CDS_QUIET}".strip())
        # spark-submit puts the conf dir on the classpath, where CDS needs
        # an empty directory; it holds only templates, so one reads the same
        os.environ["SPARK_CONF_DIR"] = str(archive.parent / "conf")
    try:
        spark = builder.getOrCreate()
    finally:
        if archive is not None:
            del os.environ["SPARK_CONF_DIR"]
            if conf_dir is not None:
                os.environ["SPARK_CONF_DIR"] = conf_dir
    if archive is not None and _archive_state == "created":
        atexit.register(_finish_archive, spark.sparkContext._gateway.proc, archive)
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
