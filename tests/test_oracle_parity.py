"""Every oracle-checkable query in the registry must match DuckDB exactly
at sf0.001 — the same comparison the driver runs at sf0.01."""

from __future__ import annotations

import pytest

from dynaledger_spark.plans.registry import QUERY_REGISTRY, load_all
from tests.oracle_compare import compare, duck_connection

REGISTRY = load_all()
ORACLE_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is not None)
ROWS_ONLY_QUERIES = sorted(n for n, s in REGISTRY.items() if s.oracle is None)


@pytest.fixture(scope="module")
def duck(sf_dir):
    con = duck_connection(sf_dir)
    yield con
    con.close()


@pytest.mark.parametrize("name", ORACLE_QUERIES)
def test_oracle_parity(spark, sf_dir, duck, name):
    spec = REGISTRY[name]
    compare(spec.build(spark, sf_dir), duck, spec.oracle)


@pytest.mark.parametrize("name", ROWS_ONLY_QUERIES)
def test_rows_only_runs(spark, sf_dir, name):
    spec = REGISTRY[name]
    df = spec.build(spark, sf_dir)
    assert df.count() >= 0
    assert len(df.schema.fields) > 0




# Expected-empty validation checks: their passing state IS 0 rows; the
# violation path is exercised on dirtied fixtures
# (tests/test_sec_pipeline.py:215,291) and the false-positive injection
# mutation (tests/test_harness_sensitivity.py::_inject_violation_row).
EXPECTED_EMPTY = {"unique_key_check", "anti_join_fk"}


def test_no_vacuous_oracle_greens(duck):
    """VERDICT r9 item 1: a 0-row parity pass is vacuous — it cannot
    distinguish a broken operator from a working one.  Run every oracle
    in DuckDB (fast, no Spark) and assert a non-empty result at this SF,
    except the documented expected-empty validation checks.  Any future
    testdata regeneration that silently empties a query fails HERE
    instead of staying driver-green forever (round 9 found one such
    query; round 10's sweep found four more)."""
    vacuous = []
    for name in ORACLE_QUERIES:
        if name in EXPECTED_EMPTY:
            continue
        n = duck.execute(
            f"SELECT COUNT(*) FROM ({REGISTRY[name].oracle})"
        ).fetchone()[0]
        if n == 0:
            vacuous.append(name)
    assert not vacuous, (
        f"0-row oracle outputs (vacuous greens) at this SF: {vacuous} — "
        "tune predicates/candidates until the output is non-trivial, or "
        "add to EXPECTED_EMPTY with a dirty-fixture violation test"
    )


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    assert df.count() > 0
    assert set(e.oracle_sql()) <= set(e.queries())
    # every registered query is served, in a deterministic order
    assert set(e.queries()) == set(QUERY_REGISTRY) == set(load_all())
    assert list(load_all()) == list(load_all())
