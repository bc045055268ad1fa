"""The pipeline CLI fails loudly on failed checks, as a failing dbt
test fails the reference's Airflow run. It runs in a subprocess because
``main`` stops its Spark session."""

from __future__ import annotations

import os
import subprocess
import sys

import pytest

from .sec_fixtures import generate_sec_quarter

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def dirty_dir(tmp_path_factory):
    d = str(tmp_path_factory.mktemp("cli_dirty"))
    generate_sec_quarter(d, dirty=True)
    return d


def _cli(landing: str, warehouse: str, *flags: str, **env: str) -> subprocess.CompletedProcess:
    env = dict(os.environ, SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g", **env)
    return subprocess.run(
        [sys.executable, "-m", "sec_financial_data_pipeline_using_snowflake_dbt_spark",
         landing, warehouse, *flags],
        cwd=REPO, env=env, capture_output=True, text=True, timeout=600,
    )


def test_failed_checks_exit_nonzero(dirty_dir, tmp_path):
    proc = _cli(dirty_dir, str(tmp_path / "wh"))
    assert proc.returncode != 0, proc.stdout + proc.stderr[-2000:]
    assert "FAIL sub.adsh.unique" in proc.stdout
    # the warehouse is still written, as the reference runs its models
    # before its tests
    assert "fct_balance_sheet:" in proc.stdout


def test_skip_checks_exits_zero(dirty_dir, tmp_path):
    proc = _cli(dirty_dir, str(tmp_path / "wh"), "--skip-checks")
    assert proc.returncode == 0, proc.stdout + proc.stderr[-2000:]
    assert "checks:" not in proc.stdout
    # the JVM's cold cost, read without a Spark job
    jvm = [line for line in proc.stdout.splitlines() if line.startswith("[secspark] jvm: archive ")]
    assert len(jvm) == 1 and all(w in jvm[0] for w in ("classes loaded", "JIT", "codegen"))


def test_stdout_holds_only_cli_lines(dirty_dir, tmp_path):
    """The JVM logs to stdout while it writes the class-data archive at
    exit; none of it may reach the CLI's stdout, on the run that creates
    the archive or on the run that maps it."""
    for state in ("created", "used"):
        proc = _cli(dirty_dir, str(tmp_path / state), "--skip-checks",
                    XDG_CACHE_HOME=str(tmp_path / "cache"))
        assert proc.returncode == 0, proc.stdout + proc.stderr[-2000:]
        lines = proc.stdout.splitlines()
        assert lines and all(line.startswith("[secspark] ") for line in lines), proc.stdout
        assert f"[secspark] jvm: archive {state}," in proc.stdout
