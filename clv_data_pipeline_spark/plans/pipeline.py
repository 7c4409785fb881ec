"""The 5-task reference DAG as one Spark driver program (SURVEY.md §3.1).

Reference chain (dags/clv_data_dag.py:115):
    generate_and_upload >> load_gcs_to_bq_staging >>
    transform_to_customer_features >> validate_features_step >>
    predict_clv_scores

Airflow task boundaries (separate processes + GCS/BQ round trips)
dissolve into DataFrame lineage.  A day runs these actions and no
others, each because the driver needs its answer or it is an output:

- the registry's MAX(CustomerID) (only when ``max_existing_id`` is
  None): the generator allocates new IDs above it;
- the staging and registry writes: the day's batch and its new IDs;
- one staging aggregate: the staging row count and the raw
  distinct-customer count.  The latter is the firewall's data-loss
  probe, so it comes from staging, independently of the feature build
  it checks;
- the feature write: its ``observe()`` metrics give the firewall the
  feature row count and the negative-value count;
- ``run_clv_logic``'s one fit collect, the sufficient statistics of
  both models for the driver-side MLE (its empty guard runs a job only
  when the fit finds nothing to fit);
- the predictions write: its ``observe()`` count is the output row
  count.

Every table is read with a known schema (the written frame's, for the
features), so no read runs a schema-inference job.  With adaptive
execution each shuffle adds a job; a warm day runs 15 Spark jobs
(budget pinned in tests/test_pipeline.py).

Scale notes: staging is partitioned by ``load_date`` so the (full
refresh) feature build reads only what it needs if later made
incremental; features and predictions are tiny (1 row/customer) and
written overwrite like the reference's CTAS / WRITE_TRUNCATE.
"""

from __future__ import annotations

import datetime as dt
import os
from dataclasses import dataclass

from pyspark.errors import AnalysisException
from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from clv_data_pipeline_spark.operators.clv import run_clv_logic
from clv_data_pipeline_spark.operators.features import (
    normalize_for_model,
    rfm_features,
)
from clv_data_pipeline_spark.operators.validate import (
    observed_features,
    run_validation_checks,
)
from clv_data_pipeline_spark.registry import ensure_worker_imports
from clv_data_pipeline_spark.schemas import REGISTRY_SCHEMA, STAGING_SCHEMA
from clv_data_pipeline_spark.simulate import simulate_daily_batch


@dataclass
class PipelineResult:
    staging_rows: int
    feature_rows: int
    prediction_rows: int
    features_path: str
    predictions_path: str


def _registry_max_id(spark: SparkSession, path: str, before_date: str) -> int:
    """S8+A5: MAX(CustomerID) over registry allocations from runs BEFORE
    ``before_date``; 0 when the registry does not exist yet (reference
    simulate_data.py:30-42, 62-73: empty table -> max 0 -> all-new
    branch).  Excluding the current day makes a day's rerun read the
    same max, allocate the same IDs, and therefore regenerate the same
    batch — idempotency the reference's unconditional streaming insert
    lacks.  Any other read failure raises: treating an unreadable
    registry as empty would re-issue existing IDs."""
    try:
        df = spark.read.schema(REGISTRY_SCHEMA).parquet(path)
    except AnalysisException as e:
        if e.getCondition() != "PATH_NOT_FOUND":
            raise
        return 0
    # the first row of a descending sort is one job (a top-1 per
    # partition); a global MAX would add a shuffle and a second job
    row = (
        df.filter(F.col("load_date") < F.lit(before_date).cast("date"))
        .select("CustomerID")
        .orderBy(F.desc("CustomerID"))
        .first()
    )
    return int(row["CustomerID"]) if row else 0


def run_pipeline(
    spark: SparkSession,
    base_dir: str,
    run_date: dt.date | str = "2026-01-01",
    seed: int = 42,
    max_existing_id: int | None = 400,
    idempotent_reruns: bool = True,
) -> PipelineResult:
    """Execute the full reference pipeline under ``base_dir``.

    Task 0: read MAX(CustomerID) from the master_users registry (or use
            the explicit ``max_existing_id``), generate, append the new
            customer IDs back to the registry (reference
            simulate_data.py:74-95 streaming insert).
    Task 1+2: generate one 24 h batch, land it in the staging partition
            for ``run_date``.  ``idempotent_reruns`` uses dynamic
            partition overwrite so re-running a day replaces its
            partition instead of duplicating it — the reference's
            WRITE_APPEND double-loads on retry; at scale, idempotent
            daily jobs are the operational requirement.
    Task 3: full-refresh RFM-T features (CREATE OR REPLACE semantics).
    Task 4: firewall — raises ValueError on gate failure, aborting
            before scoring, exactly like the failed Airflow task.
    Task 5: fit + score + truncate-write predictions.
    """
    staging = os.path.join(base_dir, "transactions_staging")
    features_path = os.path.join(base_dir, "customer_features")
    predictions_path = os.path.join(base_dir, "predicted_clv")
    registry_path = os.path.join(base_dir, "master_users")
    run_date = str(run_date)
    # the scoring pandas UDF imports this package on the Python workers
    ensure_worker_imports(spark)

    # Task 0 — ID registry (reference simulate_data.py:23-95)
    if max_existing_id is None:
        max_existing_id = _registry_max_id(spark, registry_path, run_date)

    # Task 1+2 — generate & load (reference clv_data_dag.py:49-75).
    # The generation window is the 24 h BEFORE the run date
    # (START_TIME = END_TIME - 1 day, reference simulate_data.py:18-19),
    # so T = datediff(run_date, first_purchase) >= 0 at the firewall.
    window_start = (
        dt.date.fromisoformat(run_date) - dt.timedelta(days=1)
    ).isoformat()
    batch = simulate_daily_batch(
        spark, max_existing_id, f"{window_start} 00:00:00", seed=seed
    ).withColumn("load_date", F.lit(run_date).cast("date"))
    if idempotent_reruns:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
        batch.write.mode("overwrite").partitionBy("load_date").parquet(staging)
    else:
        batch.write.mode("append").partitionBy("load_date").parquet(staging)

    # registry write for the newly-allocated IDs (S7), dated so a rerun
    # overwrites its own allocation instead of stacking a new one
    new_ids = (
        spark.range(
            max_existing_id + 1,
            max_existing_id + 1 + 10,  # NEW_USERS_DAILY
            1,
            1,
        )
        .select(F.col("id").alias("CustomerID"))
        .withColumn("load_date", F.lit(run_date).cast("date"))
    )
    if idempotent_reruns:
        new_ids.write.mode("overwrite").partitionBy("load_date").parquet(
            registry_path
        )
    else:
        new_ids.write.mode("append").partitionBy("load_date").parquet(
            registry_path
        )

    # the firewall's raw distinct-customer count is its data-loss probe,
    # so it comes from staging, not from the feature build it checks
    tx = spark.read.schema(STAGING_SCHEMA).parquet(staging)
    raw = tx.agg(
        F.count(F.lit(1)).alias("rows"),
        F.count_distinct("CustomerID").alias("customers"),
    ).first()

    # Task 3 — full-refresh feature build (reference clv_data_dag.py:77-96).
    # The firewall's feature-side probes (row count == distinct customers,
    # since the build groups by customer; negative-value count) ride the
    # write via observe() — no second pass over the feature table.
    features = rfm_features(tx, asof=run_date)
    observed, obs = observed_features(features)
    observed.write.mode("overwrite").parquet(features_path)
    metrics = obs.get
    features = spark.read.schema(observed.schema).parquet(features_path)

    # Task 4 — the firewall (reference clv_data_dag.py:99-103); raises on
    # DATA LOSS / SCHEMA ERROR / SANITY ERROR.
    run_validation_checks(
        int(raw["customers"]),
        int(metrics["feature_count"]),
        int(metrics["invalid_count"]),
        features.columns,
    )

    # Task 5 — scoring (reference clv_data_dag.py:106-110); the output
    # row count rides the write like the firewall's metrics.
    preds = run_clv_logic(normalize_for_model(features))
    out = preds.select(
        "customer_id",
        "predicted_purchases",
        "predicted_avg_value",
        "clv",
        "negatif_clv_flag",
        "outliners_flag",
    )
    written = Observation("predictions")
    out.observe(written, F.count(F.lit(1)).alias("rows")).write.mode(
        "overwrite"
    ).parquet(predictions_path)

    return PipelineResult(
        staging_rows=int(raw["rows"]),
        feature_rows=int(metrics["feature_count"]),
        prediction_rows=int(written.get["rows"]),
        features_path=features_path,
        predictions_path=predictions_path,
    )
