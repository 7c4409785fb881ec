"""Reference-parity queries (SURVEY.md §2.1-2.3, §2.6-2.7) with oracles.

Maps the reference pipeline's relational surface onto the driver
testdata: ``events`` (user_id, ts, value) stands in for
``transactions_staging`` (CustomerID, order_timestamp, TotalPurchase);
``customer``/``orders``/``lineitem`` exercise the same scalar and
aggregate operators on wider tables.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from clv_data_pipeline_spark.operators.features import (
    normalize_for_model,
    rfm_features,
    rfm_features_window,
)
from clv_data_pipeline_spark.operators.quality import apply_data_quality_fixes
from clv_data_pipeline_spark.registry import ASOF, query
from clv_data_pipeline_spark.sources.io import load_table, scratch_dir


def _events_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    ev = load_table(spark, sf_dir, "events")
    return rfm_features(
        ev,
        customer_col="user_id",
        ts_col="ts",
        amount_col="value",
        asof=ASOF,
        exact_monetary=True,
    )


def _rounded_rfm(df: DataFrame) -> DataFrame:
    # AVG over doubles is accumulation-order dependent -> round(2) on
    # both sides (registry.py determinism rules).
    return df.select(
        "customer_id",
        "recency",
        "T",
        "frequency",
        F.round("monetary_value", 2).alias("monetary_value"),
        "first_purchase",
        "last_purchase",
    )


_RFM_ORACLE_BODY = f"""
SELECT
    user_id AS customer_id,
    date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS recency,
    date_diff('day', CAST(MIN(ts) AS DATE), DATE '{ASOF}') AS "T",
    COUNT(DISTINCT CAST(ts AS DATE)) - 1 AS frequency,
    ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE) / COUNT(value), 2)
        AS monetary_value,
    MIN(ts) AS first_purchase,
    MAX(ts) AS last_purchase
FROM events
GROUP BY user_id
"""


@query("q_rfm", oracle=_RFM_ORACLE_BODY)
def q_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A1 flagship: RFM-T hash aggregate (reference dags/clv_data_dag.py:80-93)."""
    return _rounded_rfm(_events_rfm(spark, sf_dir))


@query("q_rfm_window", oracle=_RFM_ORACLE_BODY)
def q_rfm_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: identical semantics via Window.partitionBy instead of groupBy."""
    ev = load_table(spark, sf_dir, "events")
    f = rfm_features_window(
        ev,
        customer_col="user_id",
        ts_col="ts",
        amount_col="value",
        asof=ASOF,
        exact_monetary=True,
    )
    return _rounded_rfm(f)


@query("q_scan_full", oracle="SELECT * FROM customer")
def q_scan_full(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S4: full table scan (reference dags/clv_models.py:14)."""
    return load_table(spark, sf_dir, "customer")


@query(
    "q_project",
    oracle="SELECT o_orderkey, o_custkey, o_totalprice FROM orders",
)
def q_project(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P1: column projection (reference dags/clv_models.py:93).

    Catalyst prunes the scan to the three columns (check ReadSchema).
    """
    return load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )


@query(
    "q_total_purchase",
    oracle="""
    SELECT l_orderkey, l_linenumber, l_quantity, l_extendedprice, l_discount,
           l_extendedprice * (1 - l_discount) AS total_purchase
    FROM lineitem
    """,
)
def q_total_purchase(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P4: derived arithmetic column (reference dags/simulate_data.py:204
    ``TotalPurchase = Quantity * UnitPrice``).  Pure scalar IEEE math —
    bit-deterministic, no rounding needed.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        "l_quantity",
        "l_extendedprice",
        "l_discount",
        (F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))).alias(
            "total_purchase"
        ),
    )


@query(
    "q_filter_returning",
    oracle=f"""
    WITH rfm AS ({_RFM_ORACLE_BODY})
    SELECT customer_id, recency, "T" AS t, frequency,
           monetary_value AS monetary, first_purchase, last_purchase
    FROM rfm WHERE frequency > 0 AND monetary_value > 0
    """,
)
def q_filter_returning(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P2: conjunctive filter dropping one-time buyers
    (reference dags/clv_models.py:53) after the lowercase+rename
    normalization (dags/clv_models.py:15-17).
    """
    f = normalize_for_model(_rounded_rfm(_events_rfm(spark, sf_dir)))
    return f.filter((F.col("frequency") > 0) & (F.col("monetary") > 0))


@query(
    "q_sanity_count",
    oracle=f"""
    WITH rfm AS ({_RFM_ORACLE_BODY})
    SELECT COUNT(*) AS invalid_count FROM rfm
    WHERE "T" < 0 OR frequency < 0 OR recency < 0 OR monetary_value < 0
    """,
)
def q_sanity_count(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P3/A7: disjunctive-predicate COUNT(*) — the firewall sanity check
    (reference dags/validate_features.py:47-56).
    """
    f = _rounded_rfm(_events_rfm(spark, sf_dir))
    bad = (
        (F.col("T") < 0)
        | (F.col("frequency") < 0)
        | (F.col("recency") < 0)
        | (F.col("monetary_value") < 0)
    )
    return f.filter(bad).agg(F.count("*").alias("invalid_count"))


@query(
    "q_ratio_counts",
    oracle="""
    SELECT raw_count, feature_count,
           CASE WHEN raw_count > 0
                THEN CAST(feature_count AS DOUBLE) / raw_count
                ELSE 0.0 END AS ratio
    FROM (SELECT (SELECT COUNT(DISTINCT user_id) FROM events) AS raw_count,
                 (SELECT COUNT(DISTINCT customer_id)
                  FROM (SELECT user_id AS customer_id FROM events GROUP BY user_id)
                 ) AS feature_count)
    """,
)
def q_ratio_counts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A6: two global COUNT(DISTINCT) scalar subqueries + guarded ratio —
    the firewall data-loss check (reference dags/validate_features.py:38-45
    and the ratio guard at :9).  Spark shape: two 1-row aggregates cross
    joined (both sides are scalars; the "join" is trivially broadcast).
    """
    ev = load_table(spark, sf_dir, "events")
    feats = _events_rfm(spark, sf_dir)
    raw = ev.agg(F.count_distinct("user_id").alias("raw_count"))
    feat = feats.agg(F.count_distinct("customer_id").alias("feature_count"))
    both = raw.crossJoin(feat)
    return both.select(
        "raw_count",
        "feature_count",
        F.when(
            F.col("raw_count") > 0,
            F.col("feature_count").cast("double") / F.col("raw_count"),
        )
        .otherwise(F.lit(0.0))
        .alias("ratio"),
    )


@query(
    "q_max_id",
    oracle="SELECT COALESCE(MAX(user_id), 0) AS max_id FROM events",
)
def q_max_id(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A5: global scalar MAX with empty->0 coalesce
    (reference dags/simulate_data.py:30-42).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(F.coalesce(F.max("user_id"), F.lit(0).cast("long")).alias("max_id"))


@query(
    "q_flags",
    oracle="""
    SELECT c_custkey, c_acctbal,
           CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END AS negatif_clv_flag,
           CASE WHEN c_acctbal > 9000 THEN 1 ELSE 0 END AS outliners_flag,
           GREATEST(c_acctbal, 0.0) AS clv_clipped
    FROM customer
    """,
)
def q_flags(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P5/P6: conditional 0/1 flags + clip-at-zero — the quality fixes
    (reference dags/clv_models.py:24-32, np.where + clip), applied to
    ``c_acctbal`` as the stand-in score column.  Column spellings
    preserved from the reference.
    """
    c = load_table(spark, sf_dir, "customer")
    return apply_data_quality_fixes(
        c.select("c_custkey", "c_acctbal"),
        value_col="c_acctbal",
        outlier_threshold=9000.0,
        clipped_col="clv_clipped",
    )


@query(
    "q_clip",
    oracle="SELECT c_custkey, GREATEST(c_acctbal, 0.0) AS clv FROM customer",
)
def q_clip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P6: floor at zero (reference dags/clv_models.py:25 ``clip(lower=0)``)."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey", F.greatest(F.col("c_acctbal"), F.lit(0.0)).alias("clv")
    )


@query(
    "q_cast",
    oracle="""
    SELECT l_orderkey, l_linenumber,
           CAST(l_linenumber AS BIGINT) AS ln_big,
           CAST(l_linenumber AS DOUBLE) AS ln_dbl,
           CAST(FLOOR(l_quantity) AS BIGINT) AS qty_floor,
           strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS ship_date
    FROM lineitem
    """,
)
def q_cast(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P7/P10: casts (reference dags/clv_models.py:56-59 astype(float64);
    DATE(ts) at dags/clv_data_dag.py:83-85).  double->int goes through an
    explicit FLOOR: Spark truncates raw casts while DuckDB rounds them,
    so the portable form names the rounding mode.
    """
    li = load_table(spark, sf_dir, "lineitem")
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_linenumber").cast("long").alias("ln_big"),
        F.col("l_linenumber").cast("double").alias("ln_dbl"),
        F.floor("l_quantity").cast("long").alias("qty_floor"),
        # DATE-typed outputs convert differently to pandas in Spark
        # (datetime.date) vs DuckDB (datetime64) — string-format the
        # date on both sides so the driver's value hash agrees.
        F.date_format("l_shipdate", "yyyy-MM-dd").alias("ship_date"),
    )


@query(
    "q_avg_value",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(value), 2) AS avg_value
    FROM events
    """,
)
def q_avg_value(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9: global AVG (reference dags/clv_models.py:82), computed as an
    exact decimal sum / count so the result is partitioning-independent
    (registry.py determinism rules).
    """
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count("value")
        ).alias("_avg")
    ).select(F.round("_avg", 2).alias("avg_value"))


@query(
    "q_flag_sums",
    oracle="""
    SELECT CAST(SUM(CASE WHEN c_acctbal < 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS negative_count,
           CAST(SUM(CASE WHEN c_acctbal > 9000 THEN 1 ELSE 0 END) AS BIGINT)
               AS outlier_count
    FROM customer
    """,
)
def q_flag_sums(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A8: SUM of 0/1 flags for the quality-fix log lines
    (reference dags/clv_models.py:27,33).
    """
    c = load_table(spark, sf_dir, "customer")
    neg = F.when(F.col("c_acctbal") < 0, 1).otherwise(0)
    out = F.when(F.col("c_acctbal") > 9000, 1).otherwise(0)
    return c.agg(
        F.sum(neg).cast("long").alias("negative_count"),
        F.sum(out).cast("long").alias("outlier_count"),
    )


@query(
    "q_scan_parquet",
    oracle="SELECT event_id, ts, user_id, event_type, value, props FROM events",
)
def q_scan_parquet(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 (SURVEY.md §2.1 'q_scan_parquet'): raw staging-table scan of
    the events fact table (nanos-timestamp handling included)."""
    return load_table(spark, sf_dir, "events")


@query(
    "q_avg_clv",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(value), 2) AS avg_clv
    FROM events
    """,
)
def q_avg_clv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A9 under its SURVEY §2.3 name: the success-log global mean
    (reference dags/clv_models.py:82)."""
    ev = load_table(spark, sf_dir, "events")
    return ev.agg(
        (
            F.sum(F.col("value").cast("decimal(18,4)")).cast("double")
            / F.count("value")
        ).alias("_avg")
    ).select(F.round("_avg", 2).alias("avg_clv"))


@query(
    "q_clv_formula",
    oracle=f"""
    WITH rfm AS ({_RFM_ORACLE_BODY})
    SELECT customer_id,
           frequency * CAST(0.1 AS DOUBLE) AS predicted_purchases,
           monetary_value AS predicted_avg_value,
           (frequency * CAST(0.1 AS DOUBLE)) * monetary_value
               * CAST(0.99 AS DOUBLE) AS clv
    FROM rfm WHERE frequency > 0 AND monetary_value > 0
    """,
)
def q_clv_formula(spark: SparkSession, sf_dir: str) -> DataFrame:
    """P9/M5 (SURVEY §2.2 'q_clv_formula'): the CLV assembly expression
    clv = E[purchases] * E[avg value] * 0.99 (reference
    dags/clv_models.py:76-77) as pure column arithmetic, with a fixed
    stand-in purchase-rate so the formula itself is oracle-checkable
    (the real BG/NBD E[purchases] is exercised in q_predicted_purchases).
    """
    f = _rounded_rfm(_events_rfm(spark, sf_dir)).filter(
        (F.col("frequency") > 0) & (F.col("monetary_value") > 0)
    )
    purchases = F.col("frequency") * F.lit(0.1)
    return f.select(
        "customer_id",
        purchases.alias("predicted_purchases"),
        F.col("monetary_value").alias("predicted_avg_value"),
        (purchases * F.col("monetary_value") * F.lit(0.99)).alias("clv"),
    )


@query("q_rfm_salted", oracle=_RFM_ORACLE_BODY)
def q_rfm_salted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Skew-resistant formulation of the flagship: salted two-stage
    partial aggregation (operators/skew.py) folded to features — exact
    same result as q_rfm by the decomposability of every RFM aggregate.
    """
    from clv_data_pipeline_spark.operators.incremental import rfm_from_partials
    from clv_data_pipeline_spark.operators.skew import salted_rfm_partials

    ev = load_table(spark, sf_dir, "events")
    partials = salted_rfm_partials(
        ev, customer_col="user_id", ts_col="ts", amount_col="value"
    )
    return _rounded_rfm(rfm_from_partials(partials, asof=ASOF))


@query("q_rfm_incremental", oracle=_RFM_ORACLE_BODY)
def q_rfm_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental-maintenance formulation of the flagship: split events
    at mid-month into "history" and "delta", build (customer, date)
    partials from each independently, merge, fold to features — must
    equal the full recompute (operators/incremental.py invariant).
    """
    from clv_data_pipeline_spark.operators.incremental import (
        daily_partials,
        merge_partials,
        rfm_from_partials,
    )

    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp")
    history = ev.filter(F.col("ts") < split)
    delta = ev.filter(F.col("ts") >= split)
    partials = merge_partials(
        daily_partials(history, "user_id", "ts", "value").unionByName(
            daily_partials(delta, "user_id", "ts", "value")
        )
    )
    feats = rfm_from_partials(partials, asof=ASOF)
    return _rounded_rfm(feats)


@query(
    "q_csv_roundtrip",
    oracle="""
    SELECT c_custkey, c_name, c_nationkey, c_acctbal, c_mktsegment
    FROM customer
    """,
)
def q_csv_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S1/S3: header-CSV sink + explicit-schema CSV scan (reference
    dags/simulate_data.py:232-233 / dags/clv_data_dag.py:58-75) —
    write the customer table to scratch CSV, read it back with the
    declared schema, never inferSchema.  Oracle-checked against the
    source table: text transit must round-trip every value exactly
    (Double.toString -> parse is the identity on doubles)."""
    from pyspark.sql import types as T

    c = load_table(spark, sf_dir, "customer")
    path = scratch_dir("csv_roundtrip_") + "/customer_csv"
    c.write.mode("overwrite").option("header", True).csv(path)
    schema = T.StructType(
        [
            T.StructField("c_custkey", T.LongType()),
            T.StructField("c_name", T.StringType()),
            T.StructField("c_nationkey", T.IntegerType()),
            T.StructField("c_acctbal", T.DoubleType()),
            T.StructField("c_mktsegment", T.StringType()),
        ]
    )
    return (
        spark.read.schema(schema).option("header", True).csv(path)
    )


@query(
    "q_jsonl_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_jsonl_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON-lines sink + explicit-schema JSON scan — the third source
    format beside parquet and CSV.  Like the CSV path, the read declares
    its schema (inference over JSON is a full extra pass at scale) and
    round-trips types exactly — pinned by the oracle against the source
    table."""
    from pyspark.sql import types as T

    n = load_table(spark, sf_dir, "nation")
    path = scratch_dir("jsonl_roundtrip_") + "/nation_jsonl"
    n.write.mode("overwrite").json(path)
    schema = T.StructType(
        [
            T.StructField("n_nationkey", T.IntegerType()),
            T.StructField("n_name", T.StringType()),
            T.StructField("n_regionkey", T.IntegerType()),
        ]
    )
    return spark.read.schema(schema).json(path)


@query(
    "q_small_files",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS total_value,
           TRUE AS compacted
    FROM events GROUP BY user_id
    """,
)
def q_small_files(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Small-file compaction, the operational op every 100 TB pipeline
    runs nightly: write the event log as 64 tiny files (the shape daily
    micro-appends leave behind), compact to 4 via the staged-rename
    rewrite (sources/io.py compact_parquet), then aggregate the
    COMPACTED copy.  The oracle aggregates the original table, so a
    hash match proves the rewrite is content-preserving; the
    ``compacted`` flag carries the file-count assertion (64 -> <=4)
    through the driver check instead of only through pytest."""
    from clv_data_pipeline_spark.sources.io import compact_parquet

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "ts", "value"
    )
    path = scratch_dir("small_files_") + "/events_small"
    ev.repartition(64).write.parquet(path)
    before, after = compact_parquet(spark, path, target_files=4)
    return (
        spark.read.parquet(path)
        .groupBy("user_id")
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
            ).alias("total_value"),
        )
        .withColumn("compacted", F.lit(before >= 64 and after <= 4))
    )


@query(
    "q_sample",
    oracle="""
    SELECT c_custkey FROM (
        SELECT c_custkey,
               ROW_NUMBER() OVER (
                   ORDER BY md5(CAST(c_custkey AS VARCHAR)), c_custkey
               ) AS rn
        FROM customer) s
    WHERE rn <= 50
    """,
)
def q_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sampling-without-replacement from an ID pool via seeded random
    sort (reference dags/simulate_data.py:128-132 np.random.choice) —
    the generator's returning-customer draw as a relational op.

    Graduated from rows-only in round 9 (VERDICT r8 item 6): the
    "seed" is the md5 hash order of the key — uniform over
    permutations like a seeded shuffle, but engine-portable, so the
    chosen 50 hash-verify against DuckDB (the q_weighted_sample
    inverse-CDF discipline applied to the unweighted case).  Scale
    shape: a top-50 by hash is one TakeOrderedAndProject — partial
    top-k per partition, no full sort."""
    c = load_table(spark, sf_dir, "customer")
    return (
        c.select("c_custkey")
        .orderBy(F.md5(F.col("c_custkey").cast("string")), "c_custkey")
        .limit(50)
    )


@query(
    "q_join_features_preds",
    oracle=f"""
    WITH rfm AS ({_RFM_ORACLE_BODY}),
    preds AS (
        SELECT user_id AS customer_id,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT)
                   AS purchase_events
        FROM events GROUP BY user_id
    )
    SELECT r.customer_id, r.recency, r."T", r.frequency, r.monetary_value,
           p.purchase_events
    FROM rfm r LEFT JOIN preds p ON r.customer_id = p.customer_id
    """,
)
def q_join_features_preds(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.4: features ⟕ predictions equi-join on customer_id — the natural
    Spark formulation of "write scores for a subset back against the full
    feature table".  Both sides are 1-row-per-customer aggregates of the
    same fact table, so they share a hash partitioning on the join key;
    AQE picks shuffled-hash/broadcast as sizes dictate.
    """
    ev = load_table(spark, sf_dir, "events")
    feats = _rounded_rfm(_events_rfm(spark, sf_dir))
    preds = ev.groupBy(F.col("user_id").alias("customer_id")).agg(
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("purchase_events")
    )
    return feats.join(preds, "customer_id", "left").select(
        "customer_id",
        "recency",
        "T",
        "frequency",
        "monetary_value",
        "purchase_events",
    )


@query(
    "q_orc_roundtrip",
    oracle="SELECT n_nationkey, n_name, n_regionkey FROM nation",
)
def q_orc_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ORC sink + scan — the fourth source format beside parquet, CSV,
    and JSONL, free from the JVM (columnar, predicate-pushdown capable
    like parquet).  Types round-trip exactly, no inference — pinned by
    the oracle against the source table."""
    n = load_table(spark, sf_dir, "nation")
    path = scratch_dir("orc_roundtrip_") + "/nation_orc"
    n.write.mode("overwrite").orc(path)
    return spark.read.orc(path)


@query(
    "q_upsert",
    oracle="""
    WITH src AS (
        SELECT c_custkey, c_name, c_nationkey, c_acctbal,
               'UPSERTED' AS c_mktsegment
        FROM customer WHERE c_nationkey = 3
        UNION ALL
        SELECT c_custkey + 10000000, c_name, c_nationkey, c_acctbal,
               'INSERTED' AS c_mktsegment
        FROM customer WHERE c_nationkey = 4)
    SELECT COALESCE(s.c_custkey, t.c_custkey) AS c_custkey,
           COALESCE(s.c_name, t.c_name) AS c_name,
           COALESCE(s.c_nationkey, t.c_nationkey) AS c_nationkey,
           COALESCE(s.c_acctbal, t.c_acctbal) AS c_acctbal,
           COALESCE(s.c_mktsegment, t.c_mktsegment) AS c_mktsegment
    FROM customer t FULL JOIN src s ON t.c_custkey = s.c_custkey
    """,
)
def q_upsert(spark: SparkSession, sf_dir: str) -> DataFrame:
    """MERGE semantics (update-matched + insert-new) via
    operators.merge.merge_upsert: the incremental alternative to the
    reference's WRITE_TRUNCATE full rewrite (clv_models.py:95-97).  The
    source is a deterministic slice of customer — nation 3 re-tagged
    (update arm), nation 4 re-keyed past the ID range (insert arm) — so
    the oracle is the equivalent FULL JOIN + per-column COALESCE."""
    from clv_data_pipeline_spark.operators.merge import merge_upsert

    c = load_table(spark, sf_dir, "customer")
    updates = c.filter(F.col("c_nationkey") == 3).withColumn(
        "c_mktsegment", F.lit("UPSERTED")
    )
    inserts = (
        c.filter(F.col("c_nationkey") == 4)
        .withColumn("c_custkey", F.col("c_custkey") + F.lit(10000000))
        .withColumn("c_mktsegment", F.lit("INSERTED"))
    )
    return merge_upsert(c, updates.unionByName(inserts), keys=["c_custkey"])


@query(
    "q_schema_evolution",
    oracle="""
    SELECT n_nationkey, n_name, n_regionkey,
           CAST(NULL AS VARCHAR) AS n_name_upper
    FROM nation
    UNION ALL
    SELECT n_nationkey, n_name, n_regionkey, upper(n_name) FROM nation
    """,
)
def q_schema_evolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Schema evolution on the parquet source: two batches of the same
    table written with DIFFERENT schemas (the second adds a column, as
    a pipeline upgrade would) read back as ONE table via mergeSchema —
    old-batch rows surface NULL for the new column, no rewrite of
    historical files.  The capability that lets a 100 TB append-only
    lake add columns without a backfill.

    mergeSchema is read-time (it unions footers at planning); steady
    state pins the merged schema explicitly so planning cost does not
    grow with file count — documented here, exercised with the option
    on."""
    n = load_table(spark, sf_dir, "nation")
    path = scratch_dir("schema_evo_") + "/nation_evo"
    n.write.mode("overwrite").parquet(path + "/batch=1")
    n.withColumn("n_name_upper", F.upper("n_name")).write.mode(
        "overwrite"
    ).parquet(path + "/batch=2")
    return (
        spark.read.option("mergeSchema", True)
        .parquet(path + "/batch=1", path + "/batch=2")
        .select("n_nationkey", "n_name", "n_regionkey", "n_name_upper")
    )


@query(
    "q_shard_manifest",
    oracle="""
    WITH s AS (
        SELECT text, n_chars,
               CAST((ascii(substr(md5(CAST(doc_id AS VARCHAR)), 1, 1)) * 31
                     + ascii(substr(md5(CAST(doc_id AS VARCHAR)), 2, 1)))
                    % 8 AS BIGINT) AS shard
        FROM documents)
    SELECT shard,
           CAST(COUNT(*) AS BIGINT) AS n_docs,
           CAST(SUM(n_chars) AS BIGINT) AS total_chars,
           CAST(COUNT(DISTINCT md5(text)) AS BIGINT) AS n_distinct
    FROM s GROUP BY shard
    """,
)
def q_shard_manifest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset sharding + manifest — the WebDataset/tfrecord-style
    LAST MILE of a training-data pipeline: documents hash-assign to 8
    shards (engine-portable md5-derived bucket), the shards are
    physically WRITTEN as a partitioned dataset, and the manifest a
    training job consumes (per-shard doc counts, byte totals, distinct
    content fingerprints) is computed from the READBACK of what was
    written — so the driver's hash match against the oracle (which
    aggregates the source directly) proves the write path dropped and
    duplicated nothing.  Hash sharding keeps shard sizes balanced and
    assignment stable under re-runs; partitioned write means each
    shard lands as its own directory for independent consumption."""
    d = load_table(spark, sf_dir, "documents").select(
        "doc_id", "text", "n_chars"
    )
    h = F.md5(F.col("doc_id").cast("string"))
    shard = F.pmod(
        F.ascii(F.substring(h, 1, 1)) * 31 + F.ascii(F.substring(h, 2, 1)),
        F.lit(8),
    ).cast("long")
    path = scratch_dir("shards_") + "/documents_sharded"
    d.withColumn("shard", shard).write.partitionBy("shard").parquet(path)
    back = spark.read.parquet(path)
    return back.groupBy(F.col("shard").cast("long").alias("shard")).agg(
        F.count("*").cast("long").alias("n_docs"),
        F.sum("n_chars").cast("long").alias("total_chars"),
        F.countDistinct(F.md5("text")).cast("long").alias("n_distinct"),
    )
