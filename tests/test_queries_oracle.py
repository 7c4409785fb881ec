"""Every oracle-checked query vs DuckDB at sf0.001 (fast) — the local
replica of the driver's correctness gate.  `RUN_SF001_ONLY=0` also runs
sf0.01 (what the driver actually uses); select a subset with ``-k``,
e.g. ``RUN_SF001_ONLY=0 pytest tests/test_queries_oracle.py -k sf001``."""

from __future__ import annotations

import os

import pytest

from clv_data_pipeline_spark import registry
from tests.conftest import SF_ORACLE, SF_SMOKE
from tests.oracle import check_query


def _oracle_names() -> list[str]:
    return sorted(registry.all_oracles())


@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle_sf0001(spark, name):
    check_query(spark, name, SF_SMOKE)


@pytest.mark.skipif(
    os.environ.get("RUN_SF001_ONLY") != "0",
    reason="sf0.01 oracle pass runs with RUN_SF001_ONLY=0",
)
@pytest.mark.parametrize("name", _oracle_names())
def test_query_matches_oracle_sf001(spark, name):
    check_query(spark, name, SF_ORACLE)


def test_entry_smoke(spark):
    import __spark_entry__ as e

    df = e.entry(spark)
    rows = df.collect()
    assert len(rows) > 0
    assert "customer_id" in df.columns

    qs = e.queries()
    os_ = e.oracle_sql()
    assert set(os_) <= set(qs)


def test_survey_section8_counts_match_registry():
    """SURVEY.md §8's headline counts must track the registry exactly —
    the drift the round-2 verdict flagged, now pinned."""
    import os
    import re

    from clv_data_pipeline_spark import registry

    survey = open(
        os.path.join(os.path.dirname(__file__), "..", "SURVEY.md")
    ).read()
    m = re.search(
        r"(\d+) registered queries in `__spark_entry__\.py`.*?"
        r"(\d+) DuckDB-oracle-checked, (\d+) rows-only",
        survey,
        re.S,
    )
    assert m, "SURVEY.md §8 count sentence not found"
    n_q, n_oracle, n_rows_only = map(int, m.groups())
    qs, oracles = registry.all_queries(), registry.all_oracles()
    assert n_q == len(qs), (n_q, len(qs))
    assert n_oracle == len(oracles), (n_oracle, len(oracles))
    assert n_rows_only == len(qs) - len(oracles)


# ---- the driver's verification order (__spark_entry__) ----

_PASS = {
    "err": None, "rows_match": True, "schema_match": True,
    "hash_match": True, "spark_rows": 5, "oracle_rows": 5,
}
_ROWS_ONLY_PASS = {
    "err": "no_oracle", "rows_match": None, "schema_match": None,
    "hash_match": None, "spark_rows": 5, "oracle_rows": None,
}


def _order(rounds, names, oracle_backed=None, changed=()):
    import __spark_entry__ as e

    if oracle_backed is None:
        oracle_backed = names
    return e.verification_order(rounds, names, oracle_backed, changed)


def test_order_latest_passing_round_wins():
    rounds = {1: {"a": _PASS, "b": _PASS}, 2: {"a": _PASS}}
    assert _order(rounds, ["a", "b"]) == ["b", "a"]


def test_order_failing_latest_row_falls_back_to_previous_pass():
    failed = dict(_PASS, hash_match=False)
    rounds = {1: {"a": _PASS}, 2: {"b": _PASS}, 3: {"a": failed}}
    # a keeps tier 1 (its r3 row failed), so it stays ahead of b (tier 2)
    assert _order(rounds, ["b", "a"]) == ["a", "b"]


def test_order_non_passing_rows_do_not_count():
    rounds = {
        1: {"ok": _PASS},
        2: {
            "errored": dict(_PASS, err="Traceback ...", rows_match=None,
                            schema_match=None, hash_match=None),
            "hash_miss": dict(_PASS, hash_match=False),
            "empty_rows_only": dict(_ROWS_ONLY_PASS, spark_rows=0),
            "rows_only": _ROWS_ONLY_PASS,
        },
    }
    names = ["ok", "rows_only", "errored", "hash_miss", "empty_rows_only"]
    # the three non-passing names stay tier 0, ahead of tier 1 and 2
    assert _order(rounds, names) == [
        "errored", "hash_miss", "empty_rows_only", "ok", "rows_only",
    ]


def test_order_changed_since_sample_between_never_sampled_and_tier_1():
    rounds = {1: {"t1": _PASS, "c2": _PASS}, 2: {"c1": _PASS}}
    names = ["t1", "c1", "c2", "never"]
    assert _order(rounds, names, changed=("c1", "c2")) == [
        "never", "c1", "c2", "t1",
    ]


def test_order_oracle_backed_before_rows_only_then_registration():
    rounds = {1: {n: _PASS for n in "abcd"}}
    names = ["a", "b", "c", "d"]
    assert _order(rounds, names, oracle_backed={"b", "d"}) == [
        "b", "d", "a", "c",
    ]
    assert _order({}, names, oracle_backed={"c"}) == ["c", "a", "b", "d"]


def test_driver_order_lists_every_registered_name_once():
    import __spark_entry__ as e

    names = list(e.queries())
    assert sorted(names) == sorted(registry.all_queries())
    assert len(names) == len(set(names))
    oracle_names = list(e.oracle_sql())
    assert sorted(oracle_names) == sorted(registry.all_oracles())
    assert oracle_names == [n for n in names if n in set(oracle_names)]


def test_committed_correctness_names_are_still_registered():
    """A renamed query would silently drop to tier 0; the ROADMAP also
    forbids removing a registered name."""
    import __spark_entry__ as e

    rounds = e._committed_rounds()
    assert rounds, "no CORRECTNESS_r*.json found next to __spark_entry__.py"
    registered = set(registry.all_queries())
    gone = {
        (n, name) for n, rows in rounds.items() for name in rows
        if name not in registered
    }
    assert not gone, sorted(gone)
