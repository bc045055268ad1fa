"""bench.py emits exactly one valid JSON line (the driver's BENCH
contract) — run at sf0.001 so the smoke is fast."""

from __future__ import annotations

import json
import os
import subprocess
import sys

import pytest

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
BENCH_ARTIFACT = os.path.join(REPO, "artifacts", "bench_latest.json")


@pytest.fixture
def keep_bench_artifact():
    """bench.py rewrites the tracked artifacts/bench_latest.json: put its
    bytes back after the test, or remove it if it did not exist."""
    try:
        with open(BENCH_ARTIFACT, "rb") as fh:
            saved = fh.read()
    except FileNotFoundError:
        saved = None
    try:
        yield
    finally:
        if saved is not None:
            with open(BENCH_ARTIFACT, "wb") as fh:
                fh.write(saved)
        elif os.path.exists(BENCH_ARTIFACT):
            os.remove(BENCH_ARTIFACT)


def test_bench_emits_json_line(keep_bench_artifact):
    env = dict(os.environ)
    env["SPARK_GRAFT_SF_DIR"] = "/root/testdata/sf0.001"
    env["SPARK_GRAFT_CPUS"] = "8"
    env["SPARK_GRAFT_BENCH_REPS"] = "1"  # smoke: shape, not timing
    proc = subprocess.run(
        [sys.executable, "bench.py"],
        cwd=REPO,
        env=env,
        capture_output=True,
        text=True,
        timeout=420,
    )
    assert proc.returncode == 0, proc.stderr[-2000:]
    # driver handoff contract (VERDICT r11 #1): the LAST stdout line is
    # the one-line JSON — nothing may follow it — and stderr names the
    # on-disk artifact that carries the same payload, so a truncated
    # stdout capture can always be recovered from the file.
    line = proc.stdout.strip().splitlines()[-1]
    out = json.loads(line)
    assert out["metric"] == "suite_seconds"
    assert out["unit"] == "sec"
    assert out["sf"] == 0.001
    assert out["value"] > 0
    assert len(out["queries"]) >= 16
    assert "BENCH ARTIFACT: " in proc.stderr
    art_path = [
        ln.split("BENCH ARTIFACT: ", 1)[1]
        for ln in proc.stderr.splitlines()
        if "BENCH ARTIFACT: " in ln
    ][-1].strip()
    with open(art_path) as fh:
        on_disk = json.load(fh)
    assert on_disk["queries"] == out["queries"]
    # per-query layers (artifact only): the best rep's build/force split
    # of the recorded time and the Spark jobs its span counted
    assert "layers" not in out
    assert set(on_disk["layers"]) == set(out["queries"])
    for name, row in on_disk["layers"].items():
        assert row["jobs"] >= 1, name
        assert abs(row["build_s"] + row["force_s"] - out["queries"][name]) <= 0.0015, name
    # budgets only apply at their own scale (sf0.1); at sf0.001 the
    # field must be present and empty
    assert out["over_budget"] == {}


def test_contention_check_sees_perfbench():
    """bench.py and perfbench share one contention rule: a running
    perfbench/run.py is a contender for bench.py too."""
    import bench

    proc = subprocess.Popen(
        [sys.executable, "-c", "import time; time.sleep(120)", "perfbench/run.py"]
    )
    try:
        assert any(h.startswith(f"pid={proc.pid}: ") for h in bench.contending_processes())
    finally:
        proc.kill()
        proc.wait(timeout=30)


def test_budget_violation_requires_confirming_remeasure():
    """VERDICT r5 #3: a recorded over-budget timing must be confirmed by
    a fresh re-measure before flagging. Noise (re-measure lands under
    budget) -> no flag; a genuine regression (re-measure also over,
    e.g. an injected sleep) -> still flags, with both values recorded."""
    import bench

    budgets = {"q_noisy": 1.0, "q_regressed": 1.0, "q_fine": 1.0}
    timings = {"q_noisy": 1.7, "q_regressed": 1.7, "q_fine": 0.4}
    remeasured: list[str] = []

    def remeasure(name):
        remeasured.append(name)
        return 0.5 if name == "q_noisy" else 1.6  # sleep-like regression

    over, noise = bench.check_budgets(timings, budgets, remeasure)
    assert set(over) == {"q_regressed"}
    assert over["q_regressed"] == {"sec": 1.7, "retest": 1.6, "budget": 1.0}
    # the confirmed-clean spike is returned so the artifact can record
    # both values (VERDICT r6 #4: BENCH_r06 carried only the noisy
    # 12.4 s for q_dsir_select, making cross-round diffs lie)
    assert noise == {"q_noisy": {"recorded": 1.7, "remeasured": 0.5, "budget": 1.0}}
    # only violations pay the re-measure; in-budget queries never do
    assert sorted(remeasured) == ["q_noisy", "q_regressed"]


def test_budgets_file_covers_headline():
    """bench_budgets.json (VERDICT r4 #2: checked-in per-query budgets)
    must cover every headline query with a positive budget at or above
    its recorded baseline."""
    import bench

    with open(os.path.join(REPO, "bench_budgets.json")) as fh:
        data = json.load(fh)
    budgets, baseline = data["budget"], data["baseline"]
    assert set(bench.HEADLINE) <= set(budgets)
    for name in bench.HEADLINE:
        assert budgets[name] > baseline[name] > 0, name
    assert data["sf"] == 0.1
    assert bench.load_budgets() == budgets
