"""The benchmark's own smoke test: every workload end to end at tiny
sizes, with verification on, plus the generator's determinism.

    python3 -m pytest perfbench/smoke_test.py -q
"""

from __future__ import annotations

import argparse
import os
import shutil

import pytest

import report
import run
import secgen

TINY = {
    "BACKFILL_QUARTERS": (("2024Q1", 1_500), ("2024Q2", 800)),
    "SERVING_QUARTERS": (("2024Q3", 800), ("2024Q4", 1_200)),
}


def test_generator_is_deterministic():
    spec = secgen.QuarterSpec("2024Q3", 2_000)
    assert secgen.zip_digest(5, spec) == secgen.zip_digest(5, spec)
    assert secgen.zip_digest(5, spec) != secgen.zip_digest(6, spec)


def test_generator_injects_dirty_data():
    members = secgen.quarter_tables(5, secgen.QuarterSpec("2024Q3", 20_000))
    num = members["num.txt"].decode().splitlines()[1:]
    junk = sum(1 for line in num if line.split("\t")[8] in secgen._JUNK_VALUES)
    orphans = sum(1 for line in num if line.startswith("9999999999") or "\tTagOrphan\t" in line)
    assert 0.01 < junk / len(num) < 0.03
    assert 0.005 < orphans / len(num) < 0.015
    ciks = {line.split("\t")[1] for line in members["sub.txt"].decode().splitlines()[1:]}
    listed = {line.split("\t")[1] for line in members["ticker.txt"].decode().splitlines()}
    assert listed < ciks


@pytest.fixture
def tiny(monkeypatch, tmp_path):
    for name, value in TINY.items():
        monkeypatch.setattr(run, name, value)
    run_dir = os.path.join(run.ROOT, ".perfbench_run", f"smoke-{os.getpid()}")
    os.makedirs(run_dir)
    yield run_dir
    shutil.rmtree(run_dir, ignore_errors=True)
    try:
        os.rmdir(os.path.dirname(run_dir))
    except OSError:
        pass  # another run is using it


@pytest.mark.parametrize("workload", sorted(run.WORKLOADS))
@pytest.mark.parametrize("trace", [0, 1])
def test_workload_runs_and_verifies(tiny, workload, trace):
    args = argparse.Namespace(workload=workload, seed=3, seconds=2.0, trace=trace)
    out = run.WORKLOADS[workload](args, tiny)
    spans = out.pop("spans", None)
    assert (spans is not None) == bool(trace)
    assert out["correct"], out
    assert out["attempted"] >= 1 and out["failed"] == 0
    want = report.PER_LAYER_UNITS if trace else report.E2E_UNITS
    assert set(out["metrics"]) == set(want)
    if not trace:
        assert all(m["value"] > 0 for m in out["metrics"].values()), out["metrics"]
    else:
        m = {k: v["value"] for k, v in out["metrics"].items()}
        layers = sum(m[f"{layer}.self_s"] for layer in report.LAYERS)
        assert layers == pytest.approx(m["trace.wall_s"], rel=1e-6)
        assert 0 < m["trace.overhead_pct"] < 1
