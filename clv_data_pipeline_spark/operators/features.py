"""RFM-T feature engineering — the analytical flagship (SURVEY.md §2.3 A1).

Reproduces the reference's single most important statement, the CTAS at
reference dags/clv_data_dag.py:80-93:

    SELECT CustomerID AS customer_id,
           DATE_DIFF(DATE(MAX(ts)), DATE(MIN(ts)), DAY) AS recency,
           DATE_DIFF(CURRENT_DATE(), DATE(MIN(ts)), DAY) AS T,
           COUNT(DISTINCT DATE(ts)) - 1 AS frequency,
           AVG(TotalPurchase) AS monetary_value,
           MIN(ts) AS first_purchase, MAX(ts) AS last_purchase
    FROM transactions_staging GROUP BY CustomerID

Semantic fine points faithfully preserved (SURVEY.md §2.3):
- aggregates run over *timestamps*, cast to DATE only for the diffs;
- ``frequency`` counts distinct calendar *days* minus one (repeat
  purchase opportunities, the lifetimes convention), not transactions;
- ``monetary_value`` averages over transaction *rows*, not days —
  the reference's (non-textbook) choice;
- ``T`` depends on CURRENT_DATE() in the reference — parameterized here
  as ``asof`` for deterministic testing, defaulting to current_date().

Execution shape: one aggregate, one shuffle.  Catalyst plans it as
partial (map-side) + final aggregation keyed on the customer column;
the distinct-day count is ``size(collect_set(DATE(ts)))``, a per-group
set that merges like any other partial aggregate.  COUNT(DISTINCT
DATE(ts)) beside the other aggregates would plan an Expand and a second
shuffle.  No joins, no windows, no UDFs — at 100 TB this is a single
shuffle of ~n_customers partial rows per map task (each carrying its
customers' active days), far smaller than the input scan.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

_EPOCH = dt.date(1970, 1, 1)


def rfm_features(
    transactions: DataFrame,
    customer_col: str = "CustomerID",
    ts_col: str = "order_timestamp",
    amount_col: str = "TotalPurchase",
    asof: dt.date | str | Column | None = None,
    exact_monetary: bool = False,
) -> DataFrame:
    """Build the 1-row-per-customer RFM-T feature table.

    ``asof`` replaces the reference's CURRENT_DATE() (reference
    dags/clv_data_dag.py:84) so tests and oracles are reproducible;
    ``None`` keeps the reference behavior exactly.

    ``exact_monetary=True`` computes AVG as an exact DECIMAL(18,4) sum
    divided by the count.  Double AVG is accumulation-order dependent:
    a value near a rounding boundary can flip its rounded digit between
    partitionings (observed at sf0.01), so oracle-checked queries need
    the associative formulation.  Decimal partial sums are exact, keep
    map-side combine, and cost a few percent over double sums.
    """
    ts = F.col(ts_col)
    first_day = F.to_date(F.min(ts))
    if asof is None:
        T = F.datediff(F.current_date(), first_day)
    elif isinstance(asof, Column):
        T = F.datediff(asof, first_day)
    else:
        # days since the epoch as a decimal literal: a date literal
        # would be written into the generated code, one class per as-of
        days = (dt.date.fromisoformat(str(asof)[:10]) - _EPOCH).days
        T = F.lit(Decimal(days)).cast("decimal(10,0)") - F.unix_date(first_day)

    if exact_monetary:
        monetary = (
            F.sum(F.col(amount_col).cast("decimal(18,4)")).cast("double")
            / F.count(amount_col)
        ).alias("monetary_value")
    else:
        monetary = F.avg(amount_col).alias("monetary_value")

    # datediff casts to long: BQ DATE_DIFF returns INT64 (faithful) and it
    # pins schema parity with DuckDB oracles (date_diff -> BIGINT).
    return transactions.groupBy(
        F.col(customer_col).alias("customer_id")
    ).agg(
        F.datediff(F.to_date(F.max(ts)), first_day).cast("long").alias("recency"),
        T.cast("long").alias("T"),
        (F.size(F.collect_set(F.to_date(ts))) - F.lit(1))
        .cast("long")
        .alias("frequency"),
        monetary,
        F.min(ts).alias("first_purchase"),
        F.max(ts).alias("last_purchase"),
    )


def rfm_features_window(
    transactions: DataFrame,
    customer_col: str = "CustomerID",
    ts_col: str = "order_timestamp",
    amount_col: str = "TotalPurchase",
    asof: dt.date | str | None = None,
    exact_monetary: bool = False,
) -> DataFrame:
    """Window-function formulation of the same features (SURVEY.md §2.5).

    Semantically identical to :func:`rfm_features`; exists to exercise
    Spark's window operator path (one shuffle on the partition key, then
    a sort within partitions instead of a hash agg).  The groupBy form
    is preferred at scale — it benefits from partial aggregation while
    a window must materialize every input row per partition.
    """
    from pyspark.sql.window import Window

    w = Window.partitionBy(customer_col)
    ts = F.col(ts_col)
    asof_col = (
        F.current_date() if asof is None else F.lit(str(asof)).cast("date")
    )
    if exact_monetary:
        monetary = (
            F.sum(F.col(amount_col).cast("decimal(18,4)")).over(w).cast("double")
            / F.count(amount_col).over(w)
        ).alias("monetary_value")
    else:
        monetary = F.avg(amount_col).over(w).alias("monetary_value")
    enriched = transactions.select(
        F.col(customer_col).alias("customer_id"),
        F.min(ts).over(w).alias("first_purchase"),
        F.max(ts).over(w).alias("last_purchase"),
        F.size(F.collect_set(F.to_date(ts)).over(w)).alias("_n_days"),
        monetary,
    )
    return (
        enriched.dropDuplicates(["customer_id"])
        .select(
            "customer_id",
            F.datediff(F.to_date("last_purchase"), F.to_date("first_purchase"))
            .cast("long")
            .alias("recency"),
            F.datediff(asof_col, F.to_date("first_purchase"))
            .cast("long")
            .alias("T"),
            (F.col("_n_days") - F.lit(1)).cast("long").alias("frequency"),
            "monetary_value",
            "first_purchase",
            "last_purchase",
        )
    )


def normalize_for_model(features: DataFrame) -> DataFrame:
    """Column-name normalization before modeling — lowercase all names
    and rename monetary_value -> monetary (reference dags/clv_models.py:15-17).
    Metadata-plane only; no data movement.
    """
    df = features.toDF(*[c.lower() for c in features.columns])
    if "monetary_value" in df.columns:
        df = df.withColumnRenamed("monetary_value", "monetary")
    return df


def pav_isotonic(values, weights):
    """Pool-Adjacent-Violators: weighted isotonic (non-decreasing)
    regression in one left-to-right stack pass — the calibration
    fitter behind q_isotonic_calibration.  Returns the fitted value
    per input position.  O(n); inputs here are bin frames (<= ~100
    rows), a bounded driver step like the CLV MLE collect."""
    blocks: list[list[float]] = []  # [sum_wv, sum_w, count]
    for v, w in zip(values, weights):
        blocks.append([v * w, w, 1])
        while len(blocks) >= 2 and (
            blocks[-2][0] * blocks[-1][1]
            > blocks[-1][0] * blocks[-2][1]  # mean[-2] > mean[-1]
        ):
            b = blocks.pop()
            blocks[-1][0] += b[0]
            blocks[-1][1] += b[1]
            blocks[-1][2] += b[2]
        # w > 0 throughout, so cross-multiplied means avoid division
    out: list[float] = []
    for swv, sw, cnt in blocks:
        out.extend([swv / sw] * cnt)
    return out
