"""Session-cache discipline for library embedding (VERDICT r9 item 3).

Registered builders persist() intermediates their own plan reads more
than once (a blocking table feeding three joins, an oriented edge list
read by both wedge sides, ...).  The returned DataFrame is lazy, so the
builder can never unpersist inside its own body — the cache would be
gone before the first action.  tools/driver_sim.py sweeps with
spark.catalog.clearCache() between queries, but an application that
embeds this package and calls builders directly would accumulate
cached blocks for the life of its SparkSession.

The discipline:

* builders route every persist through :func:`tracked_persist`
  (postfix via ``.transform(tracked_persist)``), which records the
  persisted intermediate into the OUTERMOST in-flight registry build —
  a builder composing another builder's raw function contributes its
  persists to the composite result's release set;
* :func:`registry.register` wraps each build so the returned DataFrame
  carries a ``weakref.finalize`` releasing those intermediates when the
  result is garbage-collected.  unpersist() is a perf hint, never a
  correctness event, so releasing "too early" (a derived frame still
  alive after the builder's result was dropped) can only cost a
  recompute.

tests/test_plans.py::test_unpersist_discipline builds + counts 20
persisting queries without clearCache and asserts the session holds no
persistent RDDs once the results are dropped.
"""

from __future__ import annotations

import weakref

from pyspark.sql import DataFrame

# Collection bucket for the outermost in-flight registry build.  Builds
# are synchronous and the harnesses run queries sequentially; a nested
# build (builder calling another builder) must NOT start its own bucket
# — the outermost result owns the release of everything beneath it.
_STACK: list[list[DataFrame]] = []


def tracked_persist(df: DataFrame, level=None) -> DataFrame:
    """persist() that registers the frame for release with the enclosing
    registry build's result.  Outside a registry build (direct operator
    use) it is exactly persist() — the caller owns the lifecycle."""
    out = df.persist(level) if level is not None else df.persist()
    if _STACK:
        _STACK[0].append(out)
    return out


def begin_build() -> bool:
    """Open a collection bucket; True iff this build is the outermost."""
    if _STACK:
        return False
    _STACK.append([])
    return True


def end_build(outermost: bool) -> list[DataFrame]:
    """Close the bucket opened by the matching begin_build."""
    if not outermost:
        return []
    return _STACK.pop()


def _release(persisted: list[DataFrame]) -> None:
    for p in persisted:
        try:
            p.unpersist()
        except Exception:
            # session already stopped / JVM gone — nothing to release
            pass


def attach_release(df: DataFrame, persisted: list[DataFrame]) -> DataFrame:
    """Unpersist `persisted` when `df` is garbage-collected.

    A builder that RETURNS a persisted frame directly is excluded from
    its own release set (the finalizer args would otherwise hold a
    strong reference to df itself and never fire); that one cache stays
    caller-owned, like any direct operator persist."""
    persisted = [p for p in persisted if p is not df]
    if persisted:
        fin = weakref.finalize(df, _release, persisted)
        # Don't run at interpreter shutdown: the JVM gateway may already
        # be down, and the OS is about to reclaim everything anyway.
        fin.atexit = False
    return df
