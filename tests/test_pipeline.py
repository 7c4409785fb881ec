"""Generator + end-to-end pipeline (SURVEY.md §3.1, §7 step 7-8)."""

from __future__ import annotations

import os

import pytest
from pyspark.sql import functions as F

from clv_data_pipeline_spark.plans.pipeline import run_pipeline
from clv_data_pipeline_spark.simulate import simulate_daily_batch


def test_generator_shape_and_distributions(spark):
    df = simulate_daily_batch(
        spark, max_existing_id=400, start_time="2026-01-01 00:00:00", seed=7
    ).cache()
    n = df.count()
    # ~210 customers x ~7.5 purchases (BASELINE.md): wide sanity band
    assert 400 < n < 4000
    stats = df.agg(
        F.count_distinct("CustomerID").alias("cust"),
        F.min("Quantity").alias("qmin"),
        F.max("Quantity").alias("qmax"),
        F.min("UnitPrice").alias("pmin"),
        F.max("UnitPrice").alias("pmax"),
        F.min("order_timestamp").alias("tmin"),
        F.max("order_timestamp").alias("tmax"),
    ).first()
    assert stats["cust"] <= 210
    assert 1 <= stats["qmin"] and stats["qmax"] <= 4
    assert 5.0 <= stats["pmin"] and stats["pmax"] <= 100.0
    assert str(stats["tmin"]).startswith("2026-01-01")
    # TotalPurchase = Quantity * UnitPrice exactly
    bad = df.filter(
        F.col("TotalPurchase") != F.col("Quantity") * F.col("UnitPrice")
    ).count()
    assert bad == 0
    df.unpersist()


def test_generator_deterministic_under_seed(spark):
    a = simulate_daily_batch(spark, 100, "2026-01-01 00:00:00", seed=3)
    b = simulate_daily_batch(spark, 100, "2026-01-01 00:00:00", seed=3)
    assert sorted(map(str, a.collect())) == sorted(map(str, b.collect()))


def test_generator_empty_pool_all_new(spark):
    # empty master table -> max=0 -> all-new-customers branch
    # (reference dags/simulate_data.py:113-118,39)
    df = simulate_daily_batch(spark, 0, "2026-01-01 00:00:00", seed=3)
    ids = [r["CustomerID"] for r in df.select("CustomerID").distinct().collect()]
    assert sorted(ids) == list(range(1, 11))


def test_full_pipeline_end_to_end(spark, tmp_path):
    """Three daily runs accumulate history; day 1-2 may fail scoring
    (cold start: no returning customers yet), day 3 must succeed."""
    for day, seed in [("2026-01-01", 1), ("2026-01-02", 2)]:
        try:
            run_pipeline(spark, str(tmp_path), run_date=day, seed=seed)
        except ValueError as exc:
            assert "No" in str(exc) or "returning" in str(exc)
    res = run_pipeline(spark, str(tmp_path), run_date="2026-01-03", seed=3)
    assert res.staging_rows > 1200
    assert res.feature_rows > 0
    # predictions only cover returning customers (frequency>0 filter)
    assert 0 < res.prediction_rows <= res.feature_rows
    preds = spark.read.parquet(res.predictions_path)
    assert preds.columns == [
        "customer_id",
        "predicted_purchases",
        "predicted_avg_value",
        "clv",
        "negatif_clv_flag",
        "outliners_flag",
    ]
    assert preds.filter(F.col("clv") < 0).count() == 0


def test_pipeline_idempotent_day_rerun(spark, tmp_path):
    """Re-running the same day replaces its staging partition instead of
    duplicating it (dynamic partition overwrite)."""
    r1 = run_pipeline(spark, str(tmp_path), run_date="2026-01-01", seed=1)
    r2 = run_pipeline(spark, str(tmp_path), run_date="2026-01-01", seed=1)
    assert r2.staging_rows == r1.staging_rows  # no double-load
    r3 = run_pipeline(spark, str(tmp_path), run_date="2026-01-02", seed=2)
    assert r3.staging_rows > r1.staging_rows   # new day appends


def test_pipeline_registry_grows_ids(spark, tmp_path):
    """max_existing_id=None reads the master_users registry; each run
    allocates 10 new dense IDs above the previous max (reference
    simulate_data.py:20,113-118)."""
    from pyspark.sql import functions as F

    run_pipeline(spark, str(tmp_path), run_date="2026-01-01", seed=1,
                 max_existing_id=None)
    reg = spark.read.parquet(str(tmp_path / "master_users"))
    assert reg.agg(F.max("CustomerID")).first()[0] == 10
    run_pipeline(spark, str(tmp_path), run_date="2026-01-02", seed=2,
                 max_existing_id=None)
    reg = spark.read.parquet(str(tmp_path / "master_users"))
    assert reg.agg(F.max("CustomerID")).first()[0] == 20
    assert reg.count() == 20


def test_pipeline_gate_aborts_on_data_loss(spark, tmp_path):
    """Firewall must raise before scoring when features lose >5% of
    customers (reference validate_features.py:9-13 semantics)."""
    from clv_data_pipeline_spark.operators.validate import validate_features

    tx = simulate_daily_batch(spark, 100, "2026-01-01 00:00:00", seed=5)
    from clv_data_pipeline_spark.operators.features import rfm_features

    feats = rfm_features(tx, asof="2026-01-02").filter(
        F.col("customer_id") % 2 == 0
    )  # drop ~half
    with pytest.raises(ValueError, match="DATA LOSS"):
        validate_features(tx, feats)


def test_observed_firewall_metrics_ride_the_write(spark, tmp_path):
    """observe() metrics must match the standalone probes while costing
    zero extra scans — they accumulate during the write action itself."""
    from clv_data_pipeline_spark.operators.features import rfm_features
    from clv_data_pipeline_spark.operators.validate import (
        invalid_feature_count,
        observed_features,
    )
    from clv_data_pipeline_spark.simulate import simulate_daily_batch

    tx = simulate_daily_batch(spark, 40, "2026-02-01 00:00:00", seed=11)
    feats = rfm_features(tx, asof="2026-02-03")
    observed, obs = observed_features(feats)
    observed.write.mode("overwrite").parquet(str(tmp_path / "feats"))

    metrics = obs.get
    assert metrics["feature_count"] == feats.count()
    assert metrics["invalid_count"] == invalid_feature_count(feats)


def test_observed_firewall_metrics_parity_on_dirty_data(spark, tmp_path):
    """Dirty-fixture parity (nonzero counts actually exercised): the
    observe()-based metrics must equal the standalone probes when
    negatives ARE present, and feed run_validation_checks identically —
    same SANITY ERROR either way."""
    import pytest as _pytest

    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.operators.validate import (
        invalid_feature_count,
        observed_features,
        run_validation_checks,
    )

    # 20 customers; 3 with a negative feature apiece (rows 0, 7, 14)
    feats = spark.range(20).select(
        F.col("id").alias("customer_id"),
        F.when(F.col("id") % 7 == 0, -1.0).otherwise(2.0).alias("frequency"),
        F.lit(10.0).alias("recency"),
        F.lit(30.0).alias("T"),
        F.lit(25.0).alias("monetary_value"),
    )
    observed, obs = observed_features(feats)
    observed.write.mode("overwrite").parquet(str(tmp_path / "dirty"))

    metrics = obs.get
    standalone = invalid_feature_count(feats)
    assert standalone == 3
    assert metrics["invalid_count"] == standalone
    assert metrics["feature_count"] == feats.count() == 20

    from clv_data_pipeline_spark.schemas import FIREWALL_REQUIRED_COLUMNS

    with _pytest.raises(ValueError, match="SANITY ERROR: Found 3 rows"):
        run_validation_checks(
            20, int(metrics["feature_count"]), int(metrics["invalid_count"]),
            list(FIREWALL_REQUIRED_COLUMNS),
        )


def test_pipeline_ships_package_to_workers(spark, tmp_path, monkeypatch):
    """run_pipeline ships the package to the Python workers itself, so
    the scoring pandas UDF imports it whatever the caller's cwd."""
    sc = spark.sparkContext
    monkeypatch.setattr(sc, "_clv_pkg_shipped", False, raising=False)
    res = run_pipeline(spark, str(tmp_path), run_date="2026-01-01", seed=1)
    assert res.prediction_rows > 0
    assert sc._clv_pkg_shipped is True


def test_pipeline_unreadable_registry_raises(spark, tmp_path):
    """Only a missing registry means "no IDs yet"; an unreadable one
    must raise instead of restarting IDs at 1."""
    registry = tmp_path / "master_users"
    registry.mkdir()
    (registry / "part-00000.parquet").write_bytes(b"not a parquet file")
    with pytest.raises(Exception, match="(?i)parquet"):
        run_pipeline(spark, str(tmp_path), run_date="2026-01-01", seed=1,
                     max_existing_id=None)


#: Spark jobs of one warm day, measured on the benchmark's session
#: (local[4], 4 shuffle partitions) and on the test session
DAY_JOB_BUDGET = 15


def test_pipeline_job_budget_and_observed_counts(spark, tmp_path):
    """A warm day runs at most DAY_JOB_BUDGET Spark jobs, and the counts
    the cycle takes from its aggregates and observations (no read-back)
    equal read-back counts of the tables it wrote."""
    sc = spark.sparkContext
    tracker = sc.statusTracker()
    base = str(tmp_path)
    jobs = []
    try:
        for i, day in enumerate(["2026-01-01", "2026-01-02", "2026-01-03"]):
            group = f"pipeline-budget-day{i}"
            sc.setJobGroup(group, group)
            try:
                res = run_pipeline(spark, base, run_date=day, seed=i + 1,
                                   max_existing_id=None)
            except ValueError as exc:  # day 1: no returning customers
                assert i == 0 and str(exc).startswith("No customers")
            sc._jsc.sc().listenerBus().waitUntilEmpty()
            jobs.append(len(tracker.getJobIdsForGroup(group)))
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
        sc.setLocalProperty("spark.job.description", None)
    assert 0 < jobs[2] <= DAY_JOB_BUDGET, jobs

    staging = spark.read.parquet(os.path.join(base, "transactions_staging"))
    features = spark.read.parquet(res.features_path)
    predictions = spark.read.parquet(res.predictions_path)
    assert res.staging_rows == staging.count()
    assert res.feature_rows == features.count()
    assert res.prediction_rows == predictions.count()
    assert 0 < res.prediction_rows <= res.feature_rows
