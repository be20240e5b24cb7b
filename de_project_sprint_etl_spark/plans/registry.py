"""Query registry: the single source of truth for the driver contract.

Each registered query is a pair:
- a PySpark implementation ``(spark, sf_dir) -> DataFrame`` built from the
  engine's operators, and
- (usually) an equivalent ANSI-SQL oracle string that DuckDB runs on the
  same parquet tables (views pre-registered by the verification driver).

Column names and types are aligned between the two on purpose — the
driver's comparison sorts columns by name and hashes values, so every
computed column is aliased identically on both sides.
"""

from __future__ import annotations

import os
from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession

from de_project_sprint_etl_spark.functions.caching import (
    _SESSION_VALUES,
    session_scoped_value,
)

QueryFn = Callable[[SparkSession, str], DataFrame]

QUERIES: dict[str, QueryFn] = {}
#: Unwrapped implementations (no prepared-plan cache). bench.py times
#: these: a reused plan object re-executing lets Spark serve its
#: exchanges from the previous run's shuffle files ("skipped stages"),
#: which would time incremental work, not the engine.
RAW_QUERIES: dict[str, QueryFn] = {}
ORACLES: dict[str, str] = {}

# Prepared-plan cache (every warehouse's prepared-statement cache, done
# at the engine layer since Spark has none): a DataFrame is an immutable
# logical plan, so re-invoking a query for the same (session, sf_dir)
# can return the SAME plan object. Building a cohort/dedup plan costs
# 0.2–0.6 s of driver-side py4j/analysis work per call — pure overhead
# on the second and every later invocation. It is the "plans" namespace
# of caching.session_scoped_value, keyed (query name, sf_dir, fixture
# fingerprint): a restarted session gets fresh plans, an insert evicts
# every other session's plans (VERDICT r5), and a query keeps one plan,
# its previous fixture generation's being purged. This name is bound to
# the namespace's own dict so callers can clear it.
_PLAN_CACHE = _SESSION_VALUES.setdefault("plans", {})


def data_fingerprint(path: str) -> tuple:
    """Stat fingerprint of one data path, leaf-file-aware (ADVICE r6):
    when ``path`` is a directory (a parquet dataset of part files),
    recurse ONE level and fold in each child's (name, mtime, size) —
    rewriting part files IN PLACE with identical names and sizes leaves
    the parent dir's stat unchanged, but the part files' own mtimes
    always move. Used by the plan cache and every stat-keyed corpus
    memo so a regenerated fixture can never serve a stale
    data-dependent decision (IVF stride, dedup tier, SemDeDup k)."""
    try:
        st = os.stat(path)
        base = (st.st_mtime_ns, st.st_size)
        if not os.path.isdir(path):
            return base
        with os.scandir(path) as it:
            return base + tuple(
                sorted((e.name, e.stat().st_mtime_ns, e.stat().st_size) for e in it)
            )
    except OSError:
        return (0,)


def _dir_fingerprint(sf_dir: str) -> int:
    """Cheap corpus-generation fingerprint (one scandir of the fixture
    dir, recursing one level into dataset directories — see
    ``data_fingerprint``). Part of the plan-cache key because some
    plans bake DATA-dependent choices in at build time — the adaptive
    IVF stride, SemDeDup's k, the adaptive dedup tier — and a cached
    plan built against regenerated fixtures would silently carry the
    old corpus's decision even though the stat-keyed value caches
    correctly invalidated."""
    try:
        with os.scandir(sf_dir) as it:
            return hash(
                tuple(sorted((e.name, data_fingerprint(e.path)) for e in it))
            )
    except OSError:
        return 0


def _prepared(name: str, fn: QueryFn) -> QueryFn:
    def wrapper(spark: SparkSession, sf_dir: str) -> DataFrame:
        subkey = (name, sf_dir, _dir_fingerprint(sf_dir))
        return session_scoped_value("plans", spark, subkey, lambda: fn(spark, sf_dir))

    wrapper.__name__ = getattr(fn, "__name__", name)
    wrapper.__doc__ = fn.__doc__
    return wrapper


def register(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query implementation (and its DuckDB oracle, when the
    semantics are SQL-expressible — ops that aren't get a rows-only check
    per the driver contract). The registered form is wrapped in the
    prepared-plan cache above."""

    def deco(fn: QueryFn) -> QueryFn:
        QUERIES[name] = _prepared(name, fn)
        RAW_QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return deco
