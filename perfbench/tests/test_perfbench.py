"""Smoke tests for the benchmark itself (not the engine).

    python -m pytest perfbench/tests -q

Each workload runs end to end at tiny size through the real command,
in both modes, with every output check. One test corrupts a stored
tier row and expects the check to catch it, and one runs the command
where the engine is missing and expects a failure without a result.
"""

from __future__ import annotations

import json
import os
import shutil
import subprocess
import sys
from pathlib import Path

import pyarrow as pa
import pyarrow.parquet as pq
import pytest

BENCH = Path(__file__).resolve().parents[1]
ROOT = BENCH.parent
sys.path.insert(0, str(BENCH))

import run  # noqa: E402


def _run(args: list[str], cwd: Path = ROOT) -> subprocess.CompletedProcess:
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    return subprocess.run(
        [sys.executable, "perfbench/run.py", *args],
        cwd=cwd,
        env=env,
        capture_output=True,
        text=True,
        timeout=400,
    )


def test_benchmark_json_names_every_metric():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert [(m["name"], m["unit"]) for m in spec["end_to_end"]] == list(run.END_TO_END)
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == (
        run.per_layer_names()
    )
    assert {w["name"] for w in spec["workloads"]} == set(run.WORKLOADS)


@pytest.mark.slow
@pytest.mark.parametrize("trace", ["0", "1"])
@pytest.mark.parametrize("workload", ["tier_build", "operator_suite"])
def test_workload_smoke(workload, trace):
    p = _run(
        ["--workload", workload, "--seed", "7", "--seconds", "1", "--trace", trace,
         "--scale", "tiny"]
    )
    assert p.returncode == 0, p.stderr[-3000:]
    out = json.loads(p.stdout.strip().splitlines()[-1])
    assert set(out) == {"correct", "attempted", "failed", "metrics"}
    assert out["correct"] is True and out["failed"] == 0 and out["attempted"] >= 1
    want = (
        dict(run.END_TO_END)
        if trace == "0"
        else {n: u for n, u, _ in run.per_layer_names()}
    )
    assert {k: v["unit"] for k, v in out["metrics"].items()} == want
    if trace == "0":
        assert all(v["value"] > 0 for v in out["metrics"].values())
    else:
        m = {k: v["value"] for k, v in out["metrics"].items()}
        assert 0.98 < m["trace.phase_cover"] <= 1.0
        phases = [k[: -len(".wall_s")] for k in m if k.endswith(".wall_s") and m[k] > 0]
        assert phases
        for ph in phases:
            if f"{ph}.driver_s" in m:
                assert 0 <= m[f"{ph}.driver_s"] <= m[f"{ph}.wall_s"]


@pytest.mark.slow
def test_corrupted_tier_row_fails_the_check(tmp_path, monkeypatch):
    import tempfile

    from spans import Tracer
    from workloads import TierBuild

    # _prepare_env sets process-wide state: undo it after the test
    saved_env = dict(os.environ)
    monkeypatch.setattr(tempfile, "tempdir", tempfile.tempdir)
    run._prepare_env(tmp_path)
    spark = run.start_spark("local[2]", tmp_path)
    try:
        wl = TierBuild(spark, tmp_path, 7, "tiny")
        wl.prepare(0)
        wl.reset()
        wl.unit(0, Tracer(spark, "t"), False)
        assert wl.check() == []

        victim = sorted((tmp_path / "store" / "tiers" / "1h").rglob("*.parquet"))[0]
        tbl = pq.read_table(victim)
        i = tbl.schema.get_field_index("n_turns")
        bumped = tbl["n_turns"].to_pylist()
        bumped[0] += 1
        pq.write_table(tbl.set_column(i, "n_turns", pa.array(bumped, pa.int64())), victim)
        errors = wl.check()
    finally:
        run.stop_spark(spark)
        os.environ.clear()
        os.environ.update(saved_env)
    assert any(e.startswith("tier 1h") for e in errors), errors


def test_fails_without_the_engine(tmp_path):
    shutil.copy(ROOT / "BENCHMARK.json", tmp_path)
    shutil.copytree(BENCH, tmp_path / "perfbench", ignore=shutil.ignore_patterns(".work"))
    p = _run(["--workload", "tier_build", "--seed", "1", "--seconds", "1", "--trace", "0"],
             cwd=tmp_path)
    assert p.returncode != 0
    assert '"correct"' not in p.stdout
