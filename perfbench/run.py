"""The repo benchmark: the SEC quarter pipeline and its serve path.

    python3 perfbench/run.py --workload quarter_pipeline --seed 1 --seconds 10 --trace 0

Run from the root of a checkout. Builds nothing: it imports the package
from the checkout, starts one Spark session on ``local[4]``, lands a
seeded synthetic quarter under ``.perfbench_work/``, warms up, then runs
the workload's closed loop for ``--seconds`` and checks every answer.
The last stdout line is one JSON object: ``correct``, ``attempted``,
``failed`` and ``metrics`` -- the end-to-end metrics with ``--trace 0``,
the per-layer metrics (from spans around each layer call) with
``--trace 1``. See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import subprocess
import sys
import time
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
PKG = "sec_financial_data_pipeline_using_snowflake_dbt_spark"
WORKLOAD_NAMES = ("quarter_pipeline", "serve_interactive", "reload_and_serve")

# the steady-box settings: fixed, and printed with every result
CORES = 4
DRIVER_MEM = "1g"

# other harness processes that would share the cores (bench.py's rule)
CONTENDERS = ("oracle_sweep", "pytest", "bench.py", "make_sfN", "perfbench/run.py")


def log(msg: str) -> None:
    print(f"[perfbench] {msg}", file=sys.stderr, flush=True)


def contending_processes() -> list[str]:
    """Python processes of another harness alive now, our ancestors excluded."""
    ancestors, pid = set(), os.getpid()
    while pid > 1 and pid not in ancestors:
        ancestors.add(pid)
        try:
            with open(f"/proc/{pid}/stat") as fh:
                pid = int(fh.read().rsplit(")", 1)[1].split()[1])
        except (OSError, ValueError, IndexError):
            break
    hits = []
    for pid_s in os.listdir("/proc"):
        if not pid_s.isdigit() or int(pid_s) in ancestors:
            continue
        try:
            with open(f"/proc/{pid_s}/cmdline", "rb") as fh:
                argv = [a for a in fh.read().split(b"\x00") if a]
        except OSError:
            continue
        cmd = b" ".join(argv).decode(errors="replace")
        if argv and b"python" in argv[0] and any(m in cmd for m in CONTENDERS):
            hits.append(f"pid={pid_s}: {cmd[:160]}")
    return hits


def vm_hwm_mb(pid: int | str) -> float:
    with open(f"/proc/{pid}/status") as fh:
        for line in fh:
            if line.startswith("VmHWM:"):
                return int(line.split()[1]) / 1024.0
    return 0.0


def quantile(values: list[float], q: float) -> float:
    """Linear-interpolated quantile (statistics.quantiles' 'inclusive')."""
    if len(values) == 1:
        return values[0]
    return statistics.quantiles(values, n=100, method="inclusive")[round(q * 100) - 1]


def configure_environment(work: Path) -> None:
    for sub in ("local", "tmp"):
        (work / sub).mkdir(parents=True, exist_ok=True)
    os.environ.update(
        SPARK_LOCAL_DIRS=str(work / "local"),
        TMPDIR=str(work / "tmp"),
        SPARK_GRAFT_DRIVER_MEM=DRIVER_MEM,
        SPARK_GRAFT_CPUS=str(CORES),
    )
    for var in ("SPARK_GRAFT_MASTER", "PYSPARK_SUBMIT_ARGS"):
        os.environ.pop(var, None)
    import tempfile

    tempfile.tempdir = None  # re-read TMPDIR


def start_session(work: Path):
    from sec_financial_data_pipeline_using_snowflake_dbt_spark.session import get_spark

    # a fixed-size heap: the driver does not resize it mid-run
    java_opts = f"-Djava.io.tmpdir={work / 'tmp'} -XX:-UsePerfData -Xms{DRIVER_MEM}"
    return get_spark("perfbench", cpus=CORES, shuffle_partitions=CORES, extra_conf={
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions": java_opts,
        "spark.sql.warehouse.dir": str(work / "spark-warehouse"),
    })


def stop_session(spark) -> None:
    """Stop Spark and wait for the gateway JVM to exit."""
    gateway = spark.sparkContext._gateway
    proc = getattr(gateway, "proc", None)
    spark.stop()
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits on EOF
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait()


def per_layer(tracer, wl, ops: list[float], gc_s: float, session_s: float) -> dict:
    """The per-layer metrics from the spans of the measured operations."""
    spans = [s for s in tracer.spans if s.run_id >= 0]
    children: dict[int, list] = {}
    for s in tracer.spans:
        children.setdefault(s.parent, []).append(s)

    def total(sp, key):
        return sp.counters.get(key, 0) + sum(total(c, key) for c in children.get(sp.id, []))

    def med(values, default=0.0):
        return statistics.median(values) if values else default

    def by(name):
        return [s for s in spans if s.name == name]

    def secs(name):
        return med([s.seconds for s in by(name)])

    def count(name, key):
        return med([total(s, key) for s in by(name)], 0)

    m: dict[str, tuple[float, str]] = {}
    load = by("sources.tsv")
    m["sources.tsv.load_s"] = (secs("sources.tsv"), "s")
    m["sources.tsv.jobs"] = (count("sources.tsv", "jobs"), "count")
    m["sources.tsv.input_bytes"] = (count("sources.tsv", "input_bytes"), "bytes")
    m["sources.tsv.rows_loaded"] = (med([s.counters.get("rows_loaded", 0) for s in load], 0),
                                    "count")
    m["sources.tsv.rows_rejected"] = (
        med([s.counters.get("rows_rejected", 0) for s in load], 0), "count")
    m["checks.run_s"] = (secs("checks"), "s")
    m["checks.jobs"] = (count("checks", "jobs"), "count")
    m["checks.input_bytes"] = (count("checks", "input_bytes"), "bytes")
    m["checks.shuffle_bytes"] = (count("checks", "shuffle_bytes"), "bytes")
    m["checks.violations"] = (getattr(wl, "last_violations", 0), "count")
    import gen

    for name in gen.SUITE_CHECKS:
        m[f"checks.{name}.s"] = (secs(f"checks.{name}"), "s")
    m["plans.registry.run_s"] = (secs("plans.registry"), "s")
    for key in ("jobs", "shuffle_bytes", "spill_bytes", "bytes_written"):
        m[f"plans.registry.{key}"] = (count("plans.registry", key),
                                      "count" if key == "jobs" else "bytes")
    m["plans.registry.counts_s"] = (secs("plans.registry.counts"), "s")
    for t in ("fct_balance_sheet", "fct_income_statement", "fct_cashflows",
              "financial_statements_json"):
        m[f"plans.registry.{t}.s"] = (secs(f"plans.registry.{t}"), "s")
    m["sources.raw_layer.ingest_s"] = (
        med([s.seconds for s in tracer.spans if s.name == "sources.raw_layer"]), "s")

    requests = [s for s in spans if s.name.startswith("plans.serve.")]
    fetches = by("plans.serve.fetch")
    client = getattr(wl, "client", None)
    hits = sum(1 for s in fetches if s.counters.get("hit"))
    m["plans.serve.key_for_ms"] = (1000 * med(client.key_for_s if client else []), "ms")
    m["plans.serve.fetch_hit_ms"] = (
        1000 * med([s.seconds for s in fetches if s.counters.get("hit")]), "ms")
    m["plans.serve.fetch_miss_ms"] = (
        1000 * med([s.seconds for s in fetches if not s.counters.get("hit")]), "ms")
    for kind in ("filtered_read", "guarded_sql", "widget_probe"):
        m[f"plans.serve.{kind}_ms"] = (1000 * secs(f"plans.serve.{kind}"), "ms")
    m["plans.serve.jobs_per_request"] = (
        statistics.fmean([total(s, "jobs") for s in requests]) if requests else 0, "count")
    m["plans.serve.cache_hits"] = (hits, "count")
    m["plans.serve.cache_misses"] = (len(fetches) - hits, "count")
    m["plans.serve.cache_hit_ratio"] = (hits / len(fetches) if fetches else 0, "ratio")
    m["plans.serve.cache_entries"] = (len(wl.cache._store) if client else 0, "count")
    m["plans.serve.cached_bytes"] = (client.cached_bytes() if client else 0, "bytes")
    m["plans.serve.distinct_requests"] = (len(client.seen) if client else 0, "count")
    m["plans.serve.gate_rejections"] = (client.gate_rejections if client else 0, "count")

    op_spans = [s for s in spans if s.name == "op"] or requests
    m["session.start_s"] = (session_s, "s")
    m["spark.tasks"] = (statistics.fmean([total(s, "tasks") for s in op_spans]) if op_spans
                        else 0, "count")
    m["spark.gc_s"] = (gc_s / max(len(ops), 1), "s")
    m["trace.op_p50_ms"] = (1000 * quantile(ops, 0.5), "ms")
    return {k: {"value": v, "unit": u} for k, (v, u) in m.items()}


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=WORKLOAD_NAMES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    if not (ROOT / PKG / "__init__.py").is_file():
        log(f"no {PKG} package in {ROOT}: run from the root of a checkout")
        return 2
    busy = contending_processes()
    if busy:
        log("refusing to measure while other harness processes run: " + "; ".join(busy))
        return 3

    work = ROOT / ".perfbench_work" / f"{args.workload}-{os.getpid()}"
    traces = ROOT / ".perfbench_work" / "traces"
    configure_environment(work)
    sys.path.insert(0, str(ROOT))
    from spans import Tracer

    from workloads import WORKLOADS

    spark = None
    try:
        t = time.perf_counter()
        spark = start_session(work)
        session_s = time.perf_counter() - t
        py_session_mb = vm_hwm_mb("self")
        tracer = Tracer(spark, enabled=bool(args.trace))
        wl = WORKLOADS[args.workload](spark, tracer, work, args.seed, log)
        phases = wl.setup()
        setup_s = session_s + phases["land_s"] + phases["warmup_s"]
        log(f"setup: session {session_s:.2f}s + land {phases['land_s']:.2f}s + warm-up "
            f"{phases['warmup_s']:.2f}s (oracle {wl.oracle_s:.2f}s, not counted)")

        gc0 = tracer.gc_seconds()
        ops, failed = [], 0
        deadline = time.perf_counter() + args.seconds
        while not ops or not wl.finished(len(ops), time.perf_counter() >= deadline):
            seconds, ok = wl.step(len(ops))
            ops.append(seconds)
            failed += not ok
        gc_s = tracer.gc_seconds() - gc0

        rss = {"jvm": vm_hwm_mb(spark.sparkContext._gateway.proc.pid),
               "python": vm_hwm_mb("self"), "python_at_session_start": py_session_mb}
        info = {
            "workload": args.workload, "seed": args.seed, "ops": len(ops),
            "op_ms": [round(1000 * x, 3) for x in ops] if len(ops) <= 20 else
                     [round(1000 * min(ops), 3), "...", round(1000 * max(ops), 3)],
            "peak_rss_mb": {k: round(v, 1) for k, v in rss.items()},
            "input": {"raw_lines": wl.quarters[0].truth.raw_lines,
                      "variants": wl.variants},
            "settings": {"master": spark.sparkContext.master, "shuffle_partitions":
                         spark.conf.get("spark.sql.shuffle.partitions"),
                         "driver_memory": DRIVER_MEM,
                         "SPARK_LOCAL_DIRS": os.path.relpath(os.environ["SPARK_LOCAL_DIRS"], ROOT)},
        }
        if args.trace:
            metrics = per_layer(tracer, wl, ops, gc_s, session_s)
            traces.mkdir(parents=True, exist_ok=True)
            tracer.dump(traces / f"{args.workload}-seed{args.seed}.json")
            info["self_seconds"] = {k: round(v, 4) for k, v in tracer.self_seconds().items()}
        else:
            metrics = {
                "setup_s": {"value": setup_s, "unit": "s"},
                "op_p50_ms": {"value": 1000 * quantile(ops, 0.5), "unit": "ms"},
                "op_p90_ms": {"value": 1000 * quantile(ops, 0.9), "unit": "ms"},
                "ops_per_s": {"value": len(ops) / sum(ops), "unit": "1/s"},
                "peak_rss_mb": {"value": rss["jvm"] + rss["python"], "unit": "MB"},
            }
        print(json.dumps({"info": info}))
        print(json.dumps({"correct": failed == 0, "attempted": len(ops), "failed": failed,
                          "metrics": metrics}))
        return 0
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)


if __name__ == "__main__":
    sys.exit(main())
