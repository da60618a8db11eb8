"""Declarative data-quality checks — the dbt test suite as Spark predicates.

Reference: models/staging/schema.yml (generic not_null / unique /
accepted_values / dbt_expectations regex-range-length tests) plus the
singular SQL tests under tests/{num,pre,tag}_validation/. Execution policy
mirrors `dbt test` with global `severity: warn` (dbt_project.yml:44-45):
checks REPORT violations, they never fail the pipeline — real SEC data is
known-dirty (backend/ValidationsNote.md).

Each Check produces a violations DataFrame (rows that break the rule —
dbt's store-failures shape), which `store_failures` persists. `run_checks`
counts the whole suite in one Spark action: a table's per-row checks share
one conditional-count aggregate over that table, and each unique or
foreign-key check adds one one-row count.
"""

from __future__ import annotations

from dataclasses import dataclass
from functools import reduce
from typing import Callable

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F


@dataclass
class Check:
    name: str
    table: str
    # tables dict -> violations DataFrame
    build: Callable[[dict[str, DataFrame]], DataFrame]
    severity: str = "warn"
    # per-row predicate (row checks only): a row violates the rule where
    # it is true; `run_checks` counts these without building violations
    bad: Column | None = None


def row_check(name: str, table: str, bad: Column, severity: str = "warn") -> Check:
    """Per-row predicate check: violations are rows where `bad` is true."""
    return Check(name, table, lambda tables: tables[table].filter(bad), severity, bad)


def not_null(table: str, col: str) -> Check:
    return row_check(f"{table}.{col}_not_null", table, F.col(col).isNull())


def accepted_values(table: str, col: str, values: list, allow_null: bool = True) -> Check:
    bad = ~F.col(col).isin(values)
    if allow_null:
        bad = bad & F.col(col).isNotNull()
    return row_check(f"{table}.{col}_accepted_values", table, bad)


def in_range(table: str, col: str, lo, hi, allow_null: bool = True) -> Check:
    bad = ~F.col(col).between(lo, hi)
    if allow_null:
        bad = bad & F.col(col).isNotNull()
    return row_check(f"{table}.{col}_between_{lo}_{hi}", table, bad)


def matches_regex(table: str, col: str, pattern: str, allow_null: bool = True) -> Check:
    bad = ~F.col(col).cast("string").rlike(pattern)
    if allow_null:
        bad = bad & F.col(col).isNotNull()
    return row_check(f"{table}.{col}_regex", table, bad)


def length_between(table: str, col: str, lo: int, hi: int) -> Check:
    bad = ~F.length(F.col(col)).between(lo, hi) & F.col(col).isNotNull()
    return row_check(f"{table}.{col}_len_{lo}_{hi}", table, bad)


def unique_key(table: str, cols: list[str]) -> Check:
    """dbt `unique` / singular duplicate tests (test_unique_identifier.sql):
    violations are the duplicated key rows."""

    def build(tables: dict[str, DataFrame]) -> DataFrame:
        return (
            tables[table]
            .groupBy(*cols)
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .filter(F.col("n_rows") > 1)
        )

    return Check(f"{table}.{'_'.join(cols)}_unique", table, build)


def foreign_key(table: str, keys: list[str], ref_table: str, ref_keys: list[str]) -> Check:
    """FK integrity as a left-anti join
    (tests/num_validation/test_foreign_key_integrity.sql:1-5)."""

    def build(tables: dict[str, DataFrame]) -> DataFrame:
        child, parent = tables[table], tables[ref_table]
        cond = [child[k] == parent[r] for k, r in zip(keys, ref_keys)]
        return child.join(parent, cond, "left_anti")

    return Check(f"{table}.fk_{'_'.join(keys)}_to_{ref_table}", table, build)


# ---------------------------------------------------------------------------
# The SEC suite (schema.yml + singular tests, SURVEY §5)
# ---------------------------------------------------------------------------
FP_DOMAIN = ["FY", "Q1", "Q2", "Q3", "Q4", "H1", "H2", "M8", "M9", "T1", "T2", "T3", "CY"]
STMT_DOMAIN = ["BS", "IS", "CF", "EQ", "CI", "UN", "CP", "SI"]
DATATYPE_DOMAIN = [
    "monetary", "shares", "perShare", "percent", "integer", "decimal",
    "area", "pure", "mass", "monetaryPerVolume",
]


def sec_checks() -> list[Check]:
    """All reference data-quality tests over {sec_sub, sec_tag, sec_num, sec_pre}."""
    c: list[Check] = [
        # sub (schema.yml:95-245)
        not_null("sec_sub", "adsh"),
        unique_key("sec_sub", ["adsh"]),
        not_null("sec_sub", "cik"),
        not_null("sec_sub", "name"),
        not_null("sec_sub", "form"),
        not_null("sec_sub", "period"),
        not_null("sec_sub", "filed"),
        in_range("sec_sub", "sic", 100, 9999),
        in_range("sec_sub", "fy", 1900, 2100),
        in_range("sec_sub", "nciks", 1, 2**62),
        matches_regex("sec_sub", "countryba", r"^[A-Z]{2}$"),
        matches_regex("sec_sub", "countryinc", r"^[A-Z]{2,3}$"),
        matches_regex("sec_sub", "fye", r"^((0?[1-9]|1[0-2])[0-3][0-9])$"),
        matches_regex("sec_sub", "period", r"^[0-9]{8}$"),
        matches_regex("sec_sub", "filed", r"^[0-9]{8}$"),
        matches_regex("sec_sub", "aciks", r"^[0-9 ]*$"),
        accepted_values("sec_sub", "fp", FP_DOMAIN),
        accepted_values("sec_sub", "wksi", [0, 1]),
        accepted_values("sec_sub", "prevrpt", [0, 1]),
        accepted_values("sec_sub", "detail", [0, 1]),
        # tag (schema.yml:10-82; tests/tag_validation/*)
        not_null("sec_tag", "tag"),
        not_null("sec_tag", "version"),
        not_null("sec_tag", "tlabel"),
        accepted_values("sec_tag", "custom", [0, 1]),
        accepted_values("sec_tag", "abstract", [0, 1]),
        accepted_values("sec_tag", "datatype", DATATYPE_DOMAIN),
        accepted_values("sec_tag", "iord", ["I", "D"]),
        accepted_values("sec_tag", "crdr", ["C", "D"]),
        # num (tests/num_validation/*)
        not_null("sec_num", "adsh"),
        not_null("sec_num", "uom"),
        matches_regex("sec_num", "ddate", r"^[0-9]{8}$"),
        foreign_key("sec_num", ["adsh"], "sec_sub", ["adsh"]),
        foreign_key("sec_num", ["tag", "version"], "sec_tag", ["tag", "version"]),
        # pre (schema.yml:250-292; tests/pre_validation/*)
        not_null("sec_pre", "adsh"),
        not_null("sec_pre", "report"),
        not_null("sec_pre", "line"),
        not_null("sec_pre", "tag"),
        not_null("sec_pre", "version"),
        unique_key("sec_pre", ["adsh", "report", "line"]),
        accepted_values("sec_pre", "stmt", STMT_DOMAIN),
        accepted_values("sec_pre", "inpth", [0, 1]),
        accepted_values("sec_pre", "rfile", ["H", "X"]),
        length_between("sec_pre", "plabel", 1, 512),
    ]
    return c


def run_checks(tables: dict[str, DataFrame], checks: list[Check]) -> DataFrame:
    """Evaluate checks → one summary DataFrame (rule, table, n_violations,
    severity), one row per check in `checks` order. Warn-severity: callers
    report, never raise.

    The suite runs as a single Spark action. The row checks of one table
    become ``count_if(bad)`` columns of one aggregate over that table (one
    scan, however many rules); each other check (unique key, foreign key)
    counts its violations frame to one row. The parts are unioned and
    collected once, and the summary is built from the collected counts.
    ``count_if`` counts 0 over an empty table, where ``SUM(CASE …)`` gives
    NULL.
    """
    spark = next(iter(tables.values())).sparkSession
    # (indexes into `checks`, frame, one count column per index)
    parts: list[tuple[list[int], DataFrame, list[Column]]] = []
    row_checks: dict[str, list[int]] = {}
    for i, check in enumerate(checks):
        if check.bad is None:
            parts.append(([i], check.build(tables), [F.count(F.lit(1))]))
        else:
            row_checks.setdefault(check.table, []).append(i)
    for table, idx in row_checks.items():
        parts.append((idx, tables[table], [F.count_if(checks[i].bad) for i in idx]))

    n_violations: dict[int, int] = {}
    if parts:
        counted = [
            frame.agg(F.lit(p).alias("part"), F.array(*counts).alias("n"))
            for p, (_, frame, counts) in enumerate(parts)
        ]
        for row in reduce(DataFrame.union, counted).collect():
            n_violations.update(zip(parts[row.part][0], row.n))
    rows = [
        (c.name, c.table, n_violations[i], c.severity) for i, c in enumerate(checks)
    ]
    return spark.createDataFrame(
        rows, "rule string, table string, n_violations long, severity string"
    )


def store_failures(
    tables: dict[str, DataFrame],
    checks: list[Check],
    out_dir: str,
) -> DataFrame:
    """``dbt test --store-failures`` (run_dbt_pipeline.sh:46-47): persist
    each check's violations as an audit table and return the summary.

    dbt materializes every test's failing rows into an audit schema table
    named after the test; here each check writes
    ``{out_dir}/{rule_with_dots_as__}/`` as parquet (empty table when the
    check passes — dbt materializes those too, so re-runs overwrite stale
    failures). The returned summary mirrors :func:`run_checks` plus a
    ``failures_path`` column pointing at each audit table.

    Scale note: one write job per check, each a single scan + filter (or
    agg for unique/FK), plus a count of what it wrote. Use it for an audit
    pass; `run_checks` gives the same counts in one action.
    """
    import os

    spark = next(iter(tables.values())).sparkSession
    rows = []
    for check in checks:
        path = os.path.join(out_dir, check.name.replace(".", "__"))
        violations = check.build(tables)
        violations.write.mode("overwrite").parquet(path)
        n = spark.read.parquet(path).count()
        rows.append((check.name, check.table, n, check.severity, path))
    return spark.createDataFrame(
        rows,
        "rule string, table string, n_violations long, severity string, "
        "failures_path string",
    )
