"""SparkSession factory defaults that need no running session."""

from __future__ import annotations

import os

from dynaledger_spark.session import local_cpus


def test_local_cpus_defaults_to_affinity(monkeypatch):
    monkeypatch.delenv("SPARK_GRAFT_CPUS", raising=False)
    assert local_cpus() == len(os.sched_getaffinity(0))
    monkeypatch.setenv("SPARK_GRAFT_CPUS", "3")
    assert local_cpus() == 3
