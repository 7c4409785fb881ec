"""Query registry backing ``__spark_entry__.py``.

Every implemented operator from SURVEY.md §2 registers a named query
(a ``(spark, sf_dir) -> DataFrame`` callable) and, when the semantics
are SQL-expressible, a DuckDB oracle SQL string computing the same
result on the same parquet tables.  The driver hash-compares the two
at sf=0.01 (row count + schema + order-insensitive value hash).

Determinism rules for oracle-checked queries (SURVEY.md §7 risks):
- never CURRENT_DATE()/rand() — fixed ``asof`` literals, seeded rand;
- floating-point *aggregates* (AVG/SUM over doubles) are rounded to a
  fixed scale on BOTH sides: accumulation order differs between engines
  so raw last-bit equality is not guaranteed.  Pure scalar expressions
  (a*b, 1-d) are bit-deterministic in IEEE754 and stay unrounded;
- aggregate/computed columns carry identical aliases on both sides
  (the driver sorts columns by name before hashing);
- integer-typed results are pinned to BIGINT on both sides (Spark
  datediff yields int32, DuckDB date_diff yields int64 — casts make the
  schemas agree).
"""

from __future__ import annotations

import functools
import os
import zipfile
from collections.abc import Callable
from dataclasses import dataclass

from pyspark.sql import DataFrame, SparkSession

QueryFn = Callable[[SparkSession, str], DataFrame]


def ensure_worker_imports(spark: SparkSession) -> None:
    """Make this package importable on Spark Python workers.

    Workers only see the driver's cwd (via ``python -m`` path
    insertion), not the driver's ``sys.path`` — so any pandas-UDF query
    fails with ModuleNotFoundError when the driving process runs outside
    the repo root.  Shipping the package via ``addPyFile`` (a zip that
    workers put on their own ``sys.path``) removes the cwd dependency;
    on a real cluster this is also exactly how the package would reach
    executors without a wheel deploy.
    """
    from clv_data_pipeline_spark.sources.io import scratch_dir

    sc = spark.sparkContext
    if getattr(sc, "_clv_pkg_shipped", False):
        return
    pkg_dir = os.path.dirname(os.path.abspath(__file__))
    root = os.path.dirname(pkg_dir)
    zpath = os.path.join(
        scratch_dir("worker_imports_"), "clv_data_pipeline_spark.zip"
    )
    with zipfile.ZipFile(zpath, "w") as zf:
        for dirpath, _dirs, files in os.walk(pkg_dir):
            for f in sorted(files):
                if f.endswith(".py"):
                    full = os.path.join(dirpath, f)
                    zf.write(full, os.path.relpath(full, root))
    sc.addPyFile(zpath)
    sc._clv_pkg_shipped = True

#: fixed "today" replacing the reference's CURRENT_DATE()
#: (reference dags/clv_data_dag.py:84) — after every event ts at all SFs.
ASOF = "2024-03-01"


@dataclass
class RegisteredQuery:
    name: str
    fn: QueryFn
    oracle: str | None = None


_REGISTRY: dict[str, RegisteredQuery] = {}


def query(name: str, oracle: str | None = None) -> Callable[[QueryFn], QueryFn]:
    """Register a query; ``oracle=None`` marks it rows-only (non-SQL ops)."""

    def deco(fn: QueryFn) -> QueryFn:
        _REGISTRY[name] = RegisteredQuery(name, fn, oracle)
        return fn

    return deco


def _shipping(fn: QueryFn) -> QueryFn:
    @functools.wraps(fn)
    def inner(spark: SparkSession, sf_dir: str) -> DataFrame:
        ensure_worker_imports(spark)
        return fn(spark, sf_dir)

    return inner


def all_queries() -> dict[str, QueryFn]:
    """Every registered query, in registration order."""
    _load()
    return {n: _shipping(q.fn) for n, q in _REGISTRY.items()}


def all_oracles() -> dict[str, str]:
    """Every oracle SQL string, in registration order."""
    _load()
    return {n: q.oracle for n, q in _REGISTRY.items() if q.oracle is not None}


_LOADED = False


def _load() -> None:
    """Import every query module exactly once (registration side effect)."""
    global _LOADED
    if _LOADED:
        return
    from clv_data_pipeline_spark.queries import (  # noqa: F401
        tpch,
        textops,
        similarity,
        extra,
        core,
        clvq,
        temporal,
        analytics,
        mlprep,
        affinity,
        tpch_derived,
    )

    _LOADED = True
