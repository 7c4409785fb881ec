"""Driver contract for the spark-graft builder (PySpark target).

The driver's verify runs ``entry(spark)`` as a smoke check, runs
each ``queries()[name]`` at sf=0.01 and compares it against the
matching ``oracle_sql()[name]`` via DuckDB (row-count + schema +
order-insensitive value-hash -> CORRECTNESS_r{N}.json).

Implementation lives in ``clv_data_pipeline_spark``; queries register
themselves in ``clv_data_pipeline_spark.registry``.

The driver checks only the first ~50 names of ``queries()`` per round,
so the dict order is the sampling schedule, stalest first.  It is
derived from the committed ``CORRECTNESS_r*.json`` files next to this
file: a name's tier is the latest round whose row for it passed (0 if
none did), and names sort by tier, then oracle-backed before rows-only,
then registration order.  A new ``CORRECTNESS_rN.json`` folds in by
itself.  Add a name to ``_CHANGED_SINCE_SAMPLE`` when its output or
executed plan changes after its last passing row; it then re-samples
ahead of every passed tier, behind the never-sampled names.  Drop it
once a later round passes it again.
"""

from __future__ import annotations

import functools
import glob
import json
import os
import re
import sys
from collections.abc import Callable, Collection, Mapping, Sequence

from pyspark.sql import DataFrame, SparkSession

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

from clv_data_pipeline_spark import registry  # noqa: E402

SMOKE_SF_DIR = "/root/testdata/sf0.001"

#: Names whose output or executed plan changed after their last passing
#: driver row, in re-sample priority order (the budget cuts from the back).
_CHANGED_SINCE_SAMPLE: tuple[str, ...] = ()


def _passed(row: Mapping) -> bool:
    if row.get("err") is None:
        return bool(
            row.get("rows_match") and row.get("schema_match") and row.get("hash_match")
        )
    return row["err"] == "no_oracle" and (row.get("spark_rows") or 0) > 0


def verification_order(
    rounds: Mapping[int, Mapping[str, Mapping]],
    names: Sequence[str],
    oracle_backed: Collection[str],
    changed: Sequence[str],
) -> list[str]:
    """``names`` (registration order) sorted stalest-first by the driver
    rows in ``rounds`` ({round: {name: row}}); ``changed`` is the
    re-sample list, as ``_CHANGED_SINCE_SAMPLE``."""
    tier: dict[str, float] = dict.fromkeys(names, 0)
    for n in sorted(rounds):
        for name, row in rounds[n].items():
            if name in tier and _passed(row):
                tier[name] = n
    changed_rank = {n: i for i, n in enumerate(changed)}
    for n in changed_rank:
        if tier.get(n):
            tier[n] = 0.5
    pos = {n: i for i, n in enumerate(names)}
    return sorted(
        names,
        key=lambda n: (
            tier[n],
            changed_rank.get(n, 0),
            n not in oracle_backed,
            pos[n],
        ),
    )


@functools.cache
def _committed_rounds() -> dict[int, dict[str, dict]]:
    here = os.path.dirname(os.path.abspath(__file__))
    rounds = {}
    for path in glob.glob(os.path.join(here, "CORRECTNESS_r*.json")):
        m = re.fullmatch(r"CORRECTNESS_r(\d+)\.json", os.path.basename(path))
        if m:
            with open(path) as f:
                rounds[int(m.group(1))] = json.load(f)
    return rounds


def _order() -> list[str]:
    return verification_order(
        _committed_rounds(),
        list(registry.all_queries()),
        registry.all_oracles(),
        _CHANGED_SINCE_SAMPLE,
    )


def entry(spark: SparkSession) -> DataFrame:
    """Flagship query on /root/testdata/sf0.001; driver checks rows>0.

    RFM-T feature aggregate over ``events`` — the reference's analytical
    heart (reference dags/clv_data_dag.py:80-93) as one Spark hash agg.
    """
    return registry.all_queries()["q_rfm"](spark, SMOKE_SF_DIR)


def queries() -> dict[str, Callable[[SparkSession, str], DataFrame]]:
    """One entry per implemented operator from SURVEY.md §2."""
    qs = registry.all_queries()
    return {n: qs[n] for n in _order()}


def oracle_sql() -> dict[str, str]:
    """DuckDB-equivalent SQL for every SQL-expressible query; rows-only
    ops (model scoring, LSH dedup, streaming) are intentionally absent.
    """
    oracles = registry.all_oracles()
    return {n: oracles[n] for n in _order() if n in oracles}
