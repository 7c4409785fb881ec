"""Explicit StructTypes for every table the engine touches.

The reference declares schemas by hand and disables autodetect
(reference dags/clv_data_dag.py:19-25, autodetect=False at :73;
dags/simulate_data.py:56-58) and re-verifies them at runtime
(dags/clv_models.py:47-49, dags/validate_features.py:16-19).  We keep
that discipline: CSV/JSON reads always pass an explicit schema —
inferSchema would mean an extra full scan at 100 TB and nondeterministic
types.
"""

from __future__ import annotations

from pyspark.sql import types as T

# --- reference pipeline tables (SURVEY.md §1.1) -------------------------

#: raw fact table, reference dags/clv_data_dag.py:19-25
TRANSACTIONS_SCHEMA = T.StructType(
    [
        T.StructField("CustomerID", T.LongType(), nullable=False),
        T.StructField("Quantity", T.LongType(), nullable=False),
        T.StructField("UnitPrice", T.DoubleType(), nullable=False),
        T.StructField("order_timestamp", T.TimestampType(), nullable=False),
        T.StructField("TotalPurchase", T.DoubleType(), nullable=False),
    ]
)

#: RFM-T feature table, reference dags/clv_data_dag.py:80-93
CUSTOMER_FEATURES_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.LongType(), nullable=False),
        T.StructField("recency", T.IntegerType(), nullable=True),
        T.StructField("T", T.IntegerType(), nullable=True),
        T.StructField("frequency", T.LongType(), nullable=True),
        T.StructField("monetary_value", T.DoubleType(), nullable=True),
        T.StructField("first_purchase", T.TimestampType(), nullable=True),
        T.StructField("last_purchase", T.TimestampType(), nullable=True),
    ]
)

#: exact ordered column list asserted before modeling,
#: reference dags/clv_models.py:47-49 (after lowercase+rename :15-17)
MODEL_INPUT_COLUMNS = [
    "customer_id",
    "recency",
    "t",
    "frequency",
    "monetary",
    "first_purchase",
    "last_purchase",
]

#: required columns in the validation firewall,
#: reference dags/validate_features.py:16
FIREWALL_REQUIRED_COLUMNS = {
    "customer_id",
    "recency",
    "T",
    "frequency",
    "monetary_value",
    "first_purchase",
    "last_purchase",
}

#: model output table, reference dags/clv_models.py:93-97
PREDICTED_CLV_SCHEMA = T.StructType(
    [
        T.StructField("customer_id", T.LongType(), nullable=False),
        T.StructField("predicted_purchases", T.DoubleType(), nullable=True),
        T.StructField("predicted_avg_value", T.DoubleType(), nullable=True),
        T.StructField("clv", T.DoubleType(), nullable=True),
        # reference spellings preserved (dags/clv_models.py:24,32)
        T.StructField("negatif_clv_flag", T.IntegerType(), nullable=True),
        T.StructField("outliners_flag", T.IntegerType(), nullable=True),
    ]
)

#: customer-ID registry, reference dags/simulate_data.py:56-58
MASTER_USERS_SCHEMA = T.StructType(
    [T.StructField("CustomerID", T.LongType(), nullable=False)]
)

#: the pipeline's staging and registry tables as written: the columns
#: above plus the ``load_date`` partition column
_LOAD_DATE = T.StructField("load_date", T.DateType())
STAGING_SCHEMA = T.StructType([*TRANSACTIONS_SCHEMA.fields, _LOAD_DATE])
REGISTRY_SCHEMA = T.StructType([*MASTER_USERS_SCHEMA.fields, _LOAD_DATE])

# --- driver testdata tables (TESTDATA.md) --------------------------------

TESTDATA_TABLES = [
    "region",
    "nation",
    "customer",
    "supplier",
    "part",
    "orders",
    "lineitem",
    "events",
    "documents",
    "embeddings",
]

EVENTS_SCHEMA = T.StructType(
    [
        T.StructField("event_id", T.LongType()),
        T.StructField("ts", T.TimestampType()),
        T.StructField("user_id", T.LongType()),
        T.StructField("event_type", T.StringType()),
        T.StructField("value", T.DoubleType()),
        T.StructField("props", T.StringType()),
    ]
)
