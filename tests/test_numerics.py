"""Numpy-only numerics: lgamma, hyp2f1, Nelder-Mead."""

from __future__ import annotations

import math

import numpy as np

from clv_data_pipeline_spark.functions.optimize import nelder_mead
from clv_data_pipeline_spark.functions.special import hyp2f1, lgamma


def test_lgamma_matches_math():
    xs = np.array([0.1, 0.5, 1.0, 1.5, 2.0, 3.7, 10.0, 100.5, 1e4])
    ours = lgamma(xs)
    ref = np.array([math.lgamma(v) for v in xs])
    assert np.allclose(ours, ref, rtol=1e-11, atol=1e-11)


def test_hyp2f1_log_identity():
    # 2F1(1, 1; 2; z) = -ln(1-z)/z
    z = np.array([0.01, 0.1, 0.5, 0.9, 0.95])
    ours = hyp2f1(1.0, 1.0, 2.0, z)
    ref = -np.log(1 - z) / z
    assert np.allclose(ours, ref, rtol=1e-10)


def test_hyp2f1_binomial_identity():
    # 2F1(a, b; b; z) = (1-z)^(-a) for any b
    z = np.array([0.0, 0.2, 0.7])
    ours = hyp2f1(2.5, 3.0, 3.0, z)
    ref = (1 - z) ** (-2.5)
    assert np.allclose(ours, ref, rtol=1e-10)


def test_hyp2f1_value_does_not_depend_on_the_batch():
    # scoring evaluates 2F1 over whichever triples share a call (one
    # row per distinct triple), so each element must stop on its own:
    # a fast-converging neighbour may not cut a slow one short, nor a
    # slow one add terms to a converged one
    a = np.array([0.25, 3.5, 40.25, 1.0])
    b = np.array([2.5, 5.5, 42.5, 1.0])
    c = np.array([2.25, 8.0, 81.75, 2.0])
    z = np.array([0.01, 0.5, 0.95, 0.9])
    batch = hyp2f1(a, b, c, z)
    one_by_one = [hyp2f1(a[i], b[i], c[i], z[i]) for i in range(len(z))]
    assert batch.tolist() == [float(v) for v in one_by_one]
    assert hyp2f1(a[::-1], b[::-1], c[::-1], z[::-1]).tolist() == batch.tolist()[::-1]


def test_nelder_mead_quadratic():
    target = np.array([1.5, -2.0, 0.25])
    f = lambda p: float(np.sum((p - target) ** 2))  # noqa: E731
    x, fx = nelder_mead(f, np.zeros(3))
    assert np.allclose(x, target, atol=1e-4)
    assert fx < 1e-8


def test_nelder_mead_counts_non_finite_values_as_worst():
    """A region where the objective is NaN or -inf (a likelihood's
    boundary) is never taken as the minimum, and the search still
    converges well before max_iter."""
    calls = [0]

    def f(p):
        calls[0] += 1
        if p[0] <= 0:
            return float("-inf") if p[0] > -0.5 else float("nan")
        return float((p[0] - 0.05) ** 2 + (p[1] - 1.0) ** 2)

    x, fx = nelder_mead(f, np.array([1.0, 0.5]), max_iter=20000)
    assert np.isfinite(fx) and fx < 1e-8
    assert np.allclose(x, [0.05, 1.0], atol=1e-4)
    assert calls[0] < 20000


def test_nelder_mead_rosenbrock_2d():
    f = lambda p: float((1 - p[0]) ** 2 + 100 * (p[1] - p[0] ** 2) ** 2)  # noqa: E731
    x, fx = nelder_mead(f, np.array([-1.2, 1.0]), max_iter=5000)
    assert np.allclose(x, [1.0, 1.0], atol=1e-3)


def test_float_aggregates_partition_independent(spark):
    """The round-3 float-aggregate queries (BM25, token entropy,
    winsorized mean) must produce bit-identical results under different
    shuffle partitioning — the decimal-accumulation + round-before-rank
    discipline, probed by flipping spark.sql.shuffle.partitions."""
    from clv_data_pipeline_spark import registry
    from tests.conftest import SF_SMOKE

    qs = registry.all_queries()
    prev = spark.conf.get("spark.sql.shuffle.partitions")
    try:
        for name in ("q_bm25", "q_token_entropy", "q_winsorize"):
            results = []
            for n_part in ("3", "17"):
                spark.conf.set("spark.sql.shuffle.partitions", n_part)
                rows = sorted(map(str, qs[name](spark, SF_SMOKE).collect()))
                results.append(rows)
            assert results[0] == results[1], f"{name} partition-dependent"
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", prev)


def test_ewma_closed_form_equals_sequential_fold(spark):
    """q_ewma's one-pass closed form must equal the textbook sequential
    recursion s_n = a*v_n + (1-a)*s_(n-1) folded per user in plain
    Python."""
    from collections import defaultdict

    from clv_data_pipeline_spark import registry
    from clv_data_pipeline_spark.sources.io import load_table
    from tests.conftest import SF_SMOKE

    got = {
        r["user_id"]: (r["n_events"], r["ewma_value"])
        for r in registry.all_queries()["q_ewma"](spark, SF_SMOKE).collect()
    }
    ev = defaultdict(list)
    for r in (
        load_table(spark, SF_SMOKE, "events")
        .select("user_id", "ts", "event_id", "value")
        .collect()
    ):
        ev[r["user_id"]].append((r["ts"], r["event_id"], float(r["value"])))
    for uid, rows in ev.items():
        rows.sort()
        s = rows[0][2]
        for _, _, v in rows[1:]:
            s = 0.3 * v + 0.7 * s
        n, ewma = got[uid]
        assert n == len(rows)
        assert abs(ewma - s) < 1e-5, (uid, ewma, s)


def test_mannwhitney_u_equals_bruteforce_pair_count(spark):
    """The count-based U must equal the definitional U = #(a<b) +
    0.5 #(a==b) over all cross pairs, and z must match the
    tie-corrected normal approximation computed independently."""
    import itertools
    import math

    from pyspark.sql import functions as F
    from pyspark.sql.window import Window as W

    a = [1, 2, 2, 3, 5, 5, 5, 8]      # grp 0
    b = [2, 3, 3, 4, 5, 9]            # grp 1
    rows = [(v, 0) for v in a] + [(v, 1) for v in b]
    df = spark.createDataFrame(rows, "v long, grp long")
    c = df.groupBy("v").agg(
        F.count(F.when(F.col("grp") == 0, 1)).cast("long").alias("n0"),
        F.count(F.when(F.col("grp") == 1, 1)).cast("long").alias("n1"),
    )
    wb = W.orderBy("v").rowsBetween(W.unboundedPreceding, -1)
    e = c.select(
        "n0", "n1",
        F.coalesce(F.sum("n1").over(wb), F.lit(0)).alias("c1_below"),
    )
    u2x = e.agg(
        F.sum(F.col("n0") * (2 * F.col("c1_below") + F.col("n1")))
    ).collect()[0][0]
    u = u2x / 2.0

    brute = sum(
        1.0 if bv < av else (0.5 if bv == av else 0.0)
        for av, bv in itertools.product(a, b)
    )
    assert u == brute, (u, brute)

    # independent tie-corrected z
    na, nb = len(a), len(b)
    n = na + nb
    from collections import Counter

    ties = Counter(a + b)
    tie3 = sum(t**3 - t for t in ties.values())
    var = na * nb / 12.0 * ((n + 1) - tie3 / (n * (n - 1)))
    z_ref = (u - na * nb / 2.0) / math.sqrt(var)
    # the same arithmetic the query performs
    z_query = (u2x / 2.0 - na * nb / 2.0) / math.sqrt(
        na * nb / 12.0 * ((n + 1) - tie3 / (n * (n - 1.0)))
    )
    assert abs(z_query - z_ref) < 1e-12
