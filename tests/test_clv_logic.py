"""Port of the reference's 7-test suite (reference tests/test_clv_logic.py,
fixtures per FIXTURES.md) to Spark DataFrames, plus model-math checks the
reference lacks (SURVEY.md §5 gaps)."""

from __future__ import annotations

import numpy as np
import pytest

from clv_data_pipeline_spark.operators.clv import (
    BetaGeoParams,
    GammaGammaParams,
    expected_avg_value_col,
    expected_purchases_np,
    fit_bgnbd,
    fit_gamma_gamma,
    run_clv_logic,
    score_customers,
)
from clv_data_pipeline_spark.operators.quality import apply_data_quality_fixes
from clv_data_pipeline_spark.operators.validate import run_validation_checks

MODEL_COLS = [
    "customer_id",
    "recency",
    "t",
    "frequency",
    "monetary",
    "first_purchase",
    "last_purchase",
]


def _happy_features(spark):
    # fixture values from reference tests/test_clv_logic.py:21-29
    rows = [
        (1, 100, 150, 2, 50.0, "2025-01-01", "2025-03-01"),
        (2, 110, 160, 3, 60.0, "2025-01-02", "2025-03-02"),
        (3, 120, 170, 4, 70.0, "2025-01-03", "2025-03-03"),
    ]
    df = spark.createDataFrame(rows, MODEL_COLS)
    from pyspark.sql import functions as F

    return df.withColumn("first_purchase", F.to_timestamp("first_purchase")) \
             .withColumn("last_purchase", F.to_timestamp("last_purchase"))


def test_clv_happy_path(spark):
    out = run_clv_logic(_happy_features(spark))
    pdf = out.toPandas()
    assert len(pdf) > 0
    assert "clv" in pdf.columns
    assert (pdf["clv"] >= 0).all()


def test_missing_column_error(spark):
    df = _happy_features(spark).drop("monetary")
    with pytest.raises(ValueError, match="Bad Schema"):
        run_clv_logic(df)


def test_negative_clv_clipping_authentic(spark):
    # fixture per reference tests/test_clv_logic.py:66-69
    df = spark.createDataFrame(
        [(1, -100.0), (2, 2_000_000.0)], ["customer_id", "clv"]
    )
    out = apply_data_quality_fixes(df).toPandas().set_index("customer_id")
    assert out.loc[1, "clv"] == 0.0
    assert out.loc[1, "negatif_clv_flag"] == 1
    assert out.loc[2, "outliners_flag"] == 1
    assert out.loc[2, "clv"] == 2_000_000.0


def test_empty_df_as_input(spark):
    import pyspark.sql.types as T

    df = spark.createDataFrame([], T.StructType([]))
    with pytest.raises(ValueError, match="Dataframe is empty"):
        run_clv_logic(df)


def test_empty_guard_precedence(spark):
    """The empty guard's error wins over the fit's, also when the empty
    frame has the model schema; a non-empty frame without returning
    customers reaches the fit's cold-start error."""
    happy = _happy_features(spark)
    with pytest.raises(ValueError, match="Dataframe is empty"):
        run_clv_logic(happy.limit(0))
    with pytest.raises(ValueError, match="^No customers to fit BG/NBD on"):
        run_clv_logic(happy.withColumn("frequency", happy["frequency"] * 0))


def test_validation_fails_on_data_loss():
    with pytest.raises(ValueError, match="DATA LOSS"):
        run_validation_checks(100, 80, 0, MODEL_COLS)


def test_validation_fails_on_negative_values():
    cols = [
        "customer_id", "recency", "T", "frequency",
        "monetary_value", "first_purchase", "last_purchase",
    ]
    with pytest.raises(ValueError, match="SANITY ERROR"):
        run_validation_checks(100, 100, 5, cols)


def test_validation_fails_missing_columns():
    cols = ["customer_id", "recency", "T", "monetary_value",
            "first_purchase", "last_purchase"]
    with pytest.raises(ValueError, match="SCHEMA ERROR"):
        run_validation_checks(100, 100, 0, cols)


# --- beyond the reference: numeric correctness of the model math ---------


def test_gamma_gamma_closed_form(spark):
    # hand-computed: p=6, q=4, v=15, x=4, m=35
    # weight = 24/27; population mean = 90/3 = 30
    # E = (1 - 24/27)*30 + (24/27)*35 = 10/3 + 280/9 = 310/9
    gg = GammaGammaParams(p=6.0, q=4.0, v=15.0)
    df = spark.createDataFrame([(4.0, 35.0)], ["frequency", "monetary"])
    got = df.select(expected_avg_value_col(gg).alias("e")).first()["e"]
    assert abs(got - 310.0 / 9.0) < 1e-12


def test_bgnbd_expected_purchases_properties():
    params = BetaGeoParams(r=0.24, alpha=4.41, a=0.79, b=2.43)
    x = np.array([0.0, 1.0, 5.0, 20.0])
    t_x = np.array([0.0, 10.0, 30.0, 38.0])
    T = np.array([40.0, 40.0, 40.0, 40.0])
    e30 = expected_purchases_np(params, 30.0, x, t_x, T)
    e365 = expected_purchases_np(params, 365.0, x, t_x, T)
    assert (e30 >= 0).all()
    assert (e365 >= e30).all()  # longer horizon, more expected purchases
    # recent heavy buyer should out-predict a one-timer
    assert e30[3] > e30[1]


def test_fit_recovers_simulated_bgnbd(spark):
    """Fit on data simulated from known BG/NBD params; fitted params must
    reproduce the data's expected behavior (penalized fit biases the raw
    params, so compare model outputs, not raw params)."""
    rng = np.random.default_rng(7)
    r, alpha, a, b = 0.8, 6.0, 0.6, 2.5
    rows = []
    for i in range(800):
        lam = rng.gamma(r, 1 / alpha)
        p_drop = rng.beta(a, b)
        T = 90.0
        t, x, t_x = 0.0, 0, 0.0
        while True:
            gap = rng.exponential(1 / lam) if lam > 0 else np.inf
            t += gap
            if t > T:
                break
            x += 1
            t_x = t
            if rng.random() < p_drop:
                break
        rows.append((i, float(round(t_x)), T, x, 50.0))
    df = spark.createDataFrame(
        rows, ["customer_id", "recency", "t", "frequency", "monetary"]
    )
    returning = df.filter("frequency > 0 and monetary > 0")
    fitted = fit_bgnbd(returning)
    assert 0 < fitted.r < 10 and 0 < fitted.alpha < 100
    assert 0 < fitted.a < 10 and 0 < fitted.b < 50

    gg_in = spark.createDataFrame(
        [(i, float(x), 40.0 + 3.0 * (i % 7)) for i, x in enumerate(range(1, 60))],
        ["customer_id", "frequency", "monetary"],
    )
    gg = fit_gamma_gamma(gg_in)
    assert gg.p > 0 and gg.q > 0 and gg.v > 0


def test_score_customers_end_to_end(spark):
    bg = BetaGeoParams(r=0.24, alpha=4.41, a=0.79, b=2.43)
    gg = GammaGammaParams(p=6.0, q=4.0, v=15.0)
    df = spark.createDataFrame(
        [(1, 10.0, 40.0, 3.0, 55.0), (2, 0.0, 40.0, 0.0, 0.0)],
        ["customer_id", "recency", "t", "frequency", "monetary"],
    )
    out = score_customers(df, bg, gg).toPandas().set_index("customer_id")
    assert out.loc[1, "predicted_purchases"] > 0
    assert out.loc[1, "clv"] >= 0
    # the driver-side table runs the numpy core itself: exact agreement
    e = expected_purchases_np(
        bg, 30.0, np.array([3.0]), np.array([10.0]), np.array([40.0])
    )[0]
    assert out.loc[1, "predicted_purchases"] == e


def test_score_customers_standalone_repeated_triples(spark):
    """A standalone caller (no fit statistics passed) collects the
    distinct triples itself; customers sharing a triple, including one
    with a NULL recency, each get their triple's prediction, and every
    row survives the join."""
    bg = BetaGeoParams(r=0.24, alpha=4.41, a=0.79, b=2.43)
    gg = GammaGammaParams(p=6.0, q=4.0, v=15.0)
    rows = [
        (1, 10, 40, 3, 55.0),
        (2, 10, 40, 3, 70.0),
        (3, 5, 40, 1, 20.0),
        (4, 10, 40, 3, 55.0),
        (5, None, 40, 3, 30.0),
        (6, None, 40, 3, 31.0),
    ]
    df = spark.createDataFrame(
        rows,
        "customer_id long, recency long, t long, frequency long, "
        "monetary double",
    )
    out = score_customers(df, bg, gg)
    assert out.columns == [
        *df.columns, "predicted_purchases", "predicted_avg_value", "clv",
        "negatif_clv_flag", "outliners_flag",
    ]
    pdf = out.toPandas().set_index("customer_id").sort_index()
    assert list(pdf.index) == [1, 2, 3, 4, 5, 6]
    for t_x, x, ids in [(10.0, 3.0, [1, 2, 4]), (5.0, 1.0, [3])]:
        want = expected_purchases_np(
            bg, 30.0, np.array([x]), np.array([t_x]), np.array([40.0])
        )[0]
        assert (pdf.loc[ids, "predicted_purchases"] == want).all()
    # a NULL key matches only the NULL triple's row, whose numpy
    # prediction is NaN and arrives as NULL, like the pandas UDF's
    assert pdf.loc[[5, 6], "predicted_purchases"].isna().all()
    assert (pdf.loc[[5, 6], "clv"] == 0.0).all()
    want_clv = (
        expected_purchases_np(
            bg, 365.0, np.array([3.0]), np.array([10.0]), np.array([40.0])
        )[0]
        * pdf.loc[2, "predicted_avg_value"]
        * 0.99
    )
    assert pdf.loc[2, "clv"] == want_clv


def test_pareto_nbd_parameter_recovery(spark):
    """Fit the Pareto/NBD MLE on data SIMULATED from the model with
    known parameters (CDNOW-scale values): the fitted likelihood must
    beat the true-parameter likelihood on the sample (MLE property),
    and the identifiable rate means (purchase r/alpha, dropout s/beta)
    must recover within tolerance — the strongest self-contained check
    an own-derivation likelihood can get without an external library."""
    import numpy as np

    from clv_data_pipeline_spark.operators.clv import (
        ParetoNBDParams,
        _pnbd_nll,
        fit_pareto_nbd,
        pnbd_prob_alive_np,
    )

    rng = np.random.RandomState(42)
    r, alpha, s, beta = 0.55, 10.6, 0.61, 11.7
    n = 4000
    lam = rng.gamma(r, 1.0 / alpha, size=n)
    mu = rng.gamma(s, 1.0 / beta, size=n)
    tau = rng.exponential(1.0 / mu)
    T = rng.uniform(25.0, 40.0, size=n)
    active = np.minimum(tau, T)
    x = rng.poisson(lam * active)
    # t_x = time of last purchase: max of x uniforms on [0, active]
    u_max = rng.beta(np.maximum(x, 1), 1.0)  # max of k uniforms ~ Beta(k,1)
    t_x = np.where(x > 0, u_max * active, 0.0)

    rows = [
        (float(x[i]), float(t_x[i]), float(T[i])) for i in range(n)
    ]
    feats = spark.createDataFrame(
        rows, "frequency double, recency double, t double"
    )
    p = fit_pareto_nbd(feats, penalizer=0.0)

    # MLE beats the true parameters on the sample
    w = np.ones_like(x, dtype=np.float64)
    nll_fit = _pnbd_nll(
        np.log([p.r, p.alpha, p.s, p.beta]), x.astype(float), t_x, T, w, 0.0
    )
    nll_true = _pnbd_nll(
        np.log([r, alpha, s, beta]), x.astype(float), t_x, T, w, 0.0
    )
    assert nll_fit <= nll_true + 1e-6, (nll_fit, nll_true)

    # identifiable rate means recover
    assert abs((p.r / p.alpha) - (r / alpha)) / (r / alpha) < 0.15, p
    assert abs((p.s / p.beta) - (s / beta)) / (s / beta) < 0.35, p

    # P(alive) sanity: a long-silent heavy buyer is deader than a
    # just-active one; bounds hold
    pa = pnbd_prob_alive_np(
        p, np.array([8.0, 8.0]), np.array([10.0, 29.0]), np.array([30.0, 30.0])
    )
    assert 0.0 <= pa[0] < pa[1] <= 1.0, pa


def test_pareto_nbd_expected_purchases_monotone(spark):
    """Conditional expected purchases grow with horizon and with past
    frequency; the s->1 limit branch agrees with s near 1."""
    import numpy as np

    from clv_data_pipeline_spark.operators.clv import (
        ParetoNBDParams,
        pnbd_expected_purchases_np,
    )

    p = ParetoNBDParams(0.55, 10.6, 0.61, 11.7)
    x = np.array([0.0, 2.0, 8.0])
    t_x = np.array([0.0, 20.0, 28.0])
    T = np.array([30.0, 30.0, 30.0])
    e13 = pnbd_expected_purchases_np(p, 13.0, x, t_x, T)
    e26 = pnbd_expected_purchases_np(p, 26.0, x, t_x, T)
    assert np.all(e13 >= 0) and np.all(e26 > e13)
    assert e13[2] > e13[1] > e13[0]
    p1a = ParetoNBDParams(0.55, 10.6, 1.0 - 5e-7, 11.7)
    p1b = ParetoNBDParams(0.55, 10.6, 1.001, 11.7)
    a = pnbd_expected_purchases_np(p1a, 13.0, x, t_x, T)
    b = pnbd_expected_purchases_np(p1b, 13.0, x, t_x, T)
    assert np.allclose(a, b, rtol=2e-2), (a, b)


def _fit_features(spark, n=600):
    """Returning customers with many distinct (frequency, recency, t)
    triples and (frequency, cents) pairs, so the collects hold enough
    rows for their order to vary."""
    from pyspark.sql import functions as F

    return spark.range(n).select(
        F.col("id").alias("customer_id"),
        (F.col("id") % 17 + 1).alias("frequency"),
        (F.col("id") % 23 + 3).alias("recency"),
        (F.col("id") % 5 + 30).alias("t"),
        F.round(F.col("id") % 41 * 1.37 + 5.0, 2).alias("monetary"),
    )


def test_fused_fit_statistics_match_standalone_fits(spark):
    """run_clv_logic collects both fits' statistics in one grouping-sets
    aggregate; the fitted parameters, and so the scores, must be
    bit-identical to the standalone fits' own collects."""
    from clv_data_pipeline_spark.operators.clv import fit_statistics

    feats = _fit_features(spark)
    bg_stats, gg_stats = fit_statistics(feats)
    assert fit_bgnbd(bg_stats) == fit_bgnbd(feats)
    assert fit_gamma_gamma(gg_stats) == fit_gamma_gamma(feats)

    # non-returning customers (frequency 0 or monetary 0) do not enter
    # the statistics, however the input is filtered
    extra = feats.limit(2).selectExpr(
        "customer_id", "0 AS frequency", "recency", "t", "monetary"
    ).union(feats.limit(2).selectExpr(
        "customer_id", "frequency", "recency", "t", "0.0 AS monetary"
    ))
    for got, want in zip(
        fit_statistics(feats.union(extra)), (bg_stats, gg_stats)
    ):
        assert got.sort_values(list(got.columns), ignore_index=True).equals(
            want.sort_values(list(want.columns), ignore_index=True)
        )

    model_in = feats.selectExpr(
        "customer_id", "recency", "t", "frequency", "monetary",
        "current_timestamp() AS first_purchase",
        "current_timestamp() AS last_purchase",
    )
    cols = ["customer_id", "predicted_purchases", "predicted_avg_value", "clv"]
    fused = run_clv_logic(model_in).select(*cols).toPandas()
    alone = score_customers(
        feats, fit_bgnbd(feats), fit_gamma_gamma(feats)
    ).select(*cols).toPandas()
    key = "customer_id"
    assert fused.sort_values(key, ignore_index=True).equals(
        alone.sort_values(key, ignore_index=True)
    )


def test_fits_independent_of_collect_order(spark):
    """The same features give bit-identical parameters at 1 and at 4
    shuffle partitions, although the statistics arrive in another
    order (partition coalescing off, so the 4 partitions stay 4)."""
    from clv_data_pipeline_spark.operators.clv import fit_pareto_nbd

    feats = _fit_features(spark).repartition(3).cache()
    conf = spark.conf
    saved = {
        k: conf.get(k)
        for k in (
            "spark.sql.shuffle.partitions",
            "spark.sql.adaptive.coalescePartitions.enabled",
        )
    }
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "false")
    runs = []
    try:
        for n in (1, 4):
            conf.set("spark.sql.shuffle.partitions", str(n))
            order = [
                tuple(r)
                for r in feats.groupBy("frequency", "recency", "t")
                .count()
                .collect()
            ]
            runs.append((
                order,
                fit_bgnbd(feats),
                fit_gamma_gamma(feats),
                fit_pareto_nbd(feats),
            ))
    finally:
        for k, v in saved.items():
            conf.set(k, v)
        feats.unpersist()
    (order1, *params1), (order4, *params4) = runs
    assert sorted(order1) == sorted(order4) and order1 != order4
    assert params1 == params4
