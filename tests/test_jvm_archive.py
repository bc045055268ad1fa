"""The driver JVM's class-data archive: created by the first start,
moved into place whole, mapped by later starts, and never handed to a
JVM when it is truncated or when a configuration directory on the
classpath is not empty. Each start runs in a subprocess with its own
``XDG_CACHE_HOME``, as the archive is written when the JVM exits."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
CHILD = """
import json, sys
from sec_financial_data_pipeline_using_snowflake_dbt_spark.session import get_spark, jvm_cost
spark = get_spark("archive-test", cpus=1, extra_conf=json.loads(sys.argv[1]))
assert spark.range(3).count() == 3
spark.sql(sys.argv[2]).collect()
conf = spark.sparkContext.getConf()
print(json.dumps({"jvm": jvm_cost(spark),
                  "java_opts": conf.get("spark.driver.extraJavaOptions", ""),
                  "probe": conf.get("spark.secspark.probe", None)}))
"""


def _spawn(cache, cwd, extra_conf=None, sql="SELECT 1", **env) -> subprocess.Popen:
    """A start that runs ``sql`` after a count; the classes it loads set
    the size of the archive it writes."""
    return subprocess.Popen(
        [sys.executable, "-c", CHILD, json.dumps(extra_conf or {}), sql],
        cwd=cwd, stdout=subprocess.PIPE, stderr=subprocess.PIPE, text=True,
        env=dict(os.environ, XDG_CACHE_HOME=str(cache), PYTHONPATH=REPO,
                 SPARK_GRAFT_CPUS="1", SPARK_GRAFT_DRIVER_MEM="1g", **env),
    )


def _result(proc: subprocess.Popen) -> dict:
    out, err = proc.communicate(timeout=300)
    assert proc.returncode == 0, out + err[-3000:]
    return json.loads(out.splitlines()[-1])


def _start(cache, cwd, extra_conf=None, **env) -> dict:
    return _result(_spawn(cache, cwd, extra_conf, **env))


def _files(cache) -> list:
    return sorted(p for p in (cache / "secspark").glob("*") if p.name != "conf")


@pytest.fixture(scope="module")
def archive(tmp_path_factory):
    """The archive the first start writes and moves into place."""
    cache = tmp_path_factory.mktemp("cache")
    first = _start(cache, cache)
    assert first["jvm"].startswith("archive created,"), first
    assert "-XX:ArchiveClassesAtExit=" in first["java_opts"]
    [path] = _files(cache)  # no temp file left behind
    assert path.suffix == ".jsa" and path.stem.endswith(f"-{path.stat().st_size}")
    return path


def test_later_start_maps_the_archive(archive, tmp_path):
    log = tmp_path / "class-load.log"
    own = f"-Xlog:class+load=info:file={log}"
    run = _start(archive.parent.parent, tmp_path, {"spark.driver.extraJavaOptions": own})
    assert run["jvm"].startswith("archive used,"), run
    # the engine's flags follow the caller's instead of replacing them
    assert run["java_opts"].index(own) < run["java_opts"].index(f"-XX:SharedArchiveFile={archive}")
    assert log.read_text().count("source: shared objects file (top)") >= 5000


def test_truncated_archive_is_not_passed(archive, tmp_path):
    cache = tmp_path / "cache"
    bad = cache / "secspark" / archive.name
    bad.parent.mkdir(parents=True)
    with open(archive, "rb") as src:
        bad.write_bytes(src.read(archive.stat().st_size // 2))
    run = _start(cache, tmp_path)
    assert run["jvm"].startswith("archive created,"), run
    assert "SharedArchiveFile" not in run["java_opts"]
    [path] = _files(cache)  # the truncated file is gone, a whole one took its place
    assert path.stem.endswith(f"-{path.stat().st_size}") and path.stat().st_size > 0


def test_non_template_conf_turns_the_archive_off(tmp_path):
    conf = tmp_path / "conf"
    conf.mkdir()
    (conf / "spark-defaults.conf").write_text("spark.secspark.probe yes\n")
    run = _start(tmp_path / "cache", tmp_path, SPARK_CONF_DIR=str(conf))
    assert run["jvm"].startswith(f"archive off: {conf} is not empty,"), run
    assert "SharedArchiveFile" not in run["java_opts"]
    assert "ArchiveClassesAtExit" not in run["java_opts"]
    assert run["probe"] == "yes"  # the user's configuration is still read
    assert not (tmp_path / "cache" / "secspark").exists()


def test_overlapping_creating_starts_leave_one_archive(tmp_path):
    """Two processes that both start with no archive both create one,
    of different sizes as they load different classes; the second to
    exit drops its own, so the key keeps one file."""
    cache = tmp_path / "cache"
    procs = [_spawn(cache, tmp_path, sql=sql) for sql in (
        "SELECT 1", "SELECT to_json(map('a', 1)), regexp_extract('ab', 'a', 0)")]
    runs = [_result(p) for p in procs]
    assert all(r["jvm"].startswith("archive created,") for r in runs), runs
    [path] = _files(cache)
    assert path.suffix == ".jsa" and path.stem.endswith(f"-{path.stat().st_size}")
