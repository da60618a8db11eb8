"""The SEC system stands apart from the query registry.

The SEC modules (ingest, backfill stores, checks, engine and HTTP
service) must import without pulling in `dynaledger_spark.plans` or any
operator that only the registry uses. That is what lets a registry
family be deleted without touching an SEC path.
"""

from __future__ import annotations

import json
import subprocess
import sys
from pathlib import Path

_PROBE = """
import importlib, json, pkgutil, sys
import dynaledger_spark.sources as sources
mods = [
    "api", "http_service", "operators.backfill", "operators.documents",
    "operators.facts", "functions.validation", "catalog",
] + ["sources." + m.name for m in pkgutil.iter_modules(sources.__path__)]
for m in mods:
    importlib.import_module("dynaledger_spark." + m)
print(json.dumps(sorted(k for k in sys.modules if k.startswith("dynaledger_spark"))))
"""

_REGISTRY_ONLY = {
    "dynaledger_spark.operators.dedup",
    "dynaledger_spark.operators.graph",
    "dynaledger_spark.operators.temporal",
    "dynaledger_spark.operators.scale",
    "dynaledger_spark.functions.text",
}


def test_sec_modules_import_no_registry_code():
    out = subprocess.run(
        [sys.executable, "-c", _PROBE],
        capture_output=True, text=True, check=True, timeout=120,
        cwd=Path(__file__).resolve().parents[1],
    )
    loaded = set(json.loads(out.stdout.strip().splitlines()[-1]))
    assert "dynaledger_spark.api" in loaded  # the probe imported something
    assert not {m for m in loaded if m.startswith("dynaledger_spark.plans")}
    assert not loaded & _REGISTRY_ONLY
