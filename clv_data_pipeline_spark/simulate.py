"""Set-oriented transaction generator (SURVEY.md §2.9; reference
dags/simulate_data.py:97-206).

The reference generates per-customer pandas frames in a Python loop and
concatenates them (simulate_data.py:228) — O(customers) driver work.
The Spark rewrite is one declarative plan, fully distributed and
deterministic under a seed (the reference is unseeded — SURVEY.md §7
lists that as a quirk *not* to copy):

- ID allocation ``np.arange(max+1, ...)``        -> ``spark.range`` + a base
- returning-customer sampling w/o replacement    -> ``orderBy(u).limit(n)``
- 1-15 purchases per customer fan-out            -> ``sequence(1, n)``
- uniform prices / quantities                    -> affine transforms of ``u``
- cumulative 20-100 s session gaps               -> ``F.aggregate`` over the
  sequence, then ``posexplode``

Every random draw ``u`` is counter-based (Salmon et al., "Parallel
Random Numbers: As Easy as 1, 2, 3", SC'11): the top 53 bits of
``xxhash64(seed, stream, CustomerID[, purchase_idx])``.  A row's values
are a function of its customer and purchase index alone, so the batch
is the same at any partition count, with or without adaptive
coalescing — ``rand(seed)`` is reproducible for a fixed partitioning
only.

Plan stability: the day's values (seed, ID base, window start) reach
the plan as string and decimal literals, combined with a column before
any cast.  Spark's whole-stage code generation passes such literals by
reference but writes primitive and date literals into the Java source,
which is the generated-class cache key; so a new day reuses every class
an earlier day compiled.

Scale: the per-customer purchase fan-out and running sum are
higher-order functions inside one row, so the plan has no shuffle but
the sample's top-n (a per-partition top-n, then one single-partition
merge).  At extreme pool sizes, pre-filter the pool with
``u < ~3n/pool`` to keep the top-n tiny.
"""

from __future__ import annotations

import datetime as dt
from decimal import Decimal
from zoneinfo import ZoneInfo

from pyspark.sql import Column, DataFrame, SparkSession
from pyspark.sql import functions as F

#: reference dags/simulate_data.py:20-21
NEW_USERS_DAILY = 10
RETURNING_USERS_DAILY = 200


def _uniform(seed: Column, stream: int, *counters: Column) -> Column:
    """Counter-based uniform in [0, 1): the top 53 bits of
    ``xxhash64(seed, stream, *counters)`` over 2^53.  ``stream`` keeps
    the draws of different quantities independent."""
    bits = F.shiftrightunsigned(F.xxhash64(seed, F.lit(stream), *counters), 11)
    return bits.cast("double") / F.lit(float(1 << 53))


def new_customer_ids(
    spark: SparkSession, max_existing_id: int, new_users: int = NEW_USERS_DAILY
) -> DataFrame:
    """``CustomerID`` max+1 .. max+new_users, dense above the current max
    (reference simulate_data.py:113-118).  The base is a decimal
    literal added to ``spark.range(0, new_users)``, so it stays out of
    the generated code."""
    base = F.lit(Decimal(max_existing_id + 1)).cast("decimal(20,0)")
    return spark.range(0, new_users, 1, 1).select(
        (F.col("id") + base).cast("long").alias("CustomerID")
    )


def _epoch_seconds(spark: SparkSession, start_time: dt.datetime | str) -> Decimal:
    """``start_time`` (a wall-clock time in the session time zone, like
    a string cast to timestamp) as seconds since the epoch."""
    local = dt.datetime.fromisoformat(str(start_time))
    if local.tzinfo is None:
        # the conf holds a region ID or a (+|-)HH:mm offset
        tz = spark.conf.get("spark.sql.session.timeZone")
        zone = (
            dt.datetime.strptime(tz, "%z").tzinfo
            if tz.startswith(("+", "-"))
            else ZoneInfo(tz)
        )
        local = local.replace(tzinfo=zone)
    since = local - dt.datetime(1970, 1, 1, tzinfo=dt.timezone.utc)
    return Decimal(since.days * 86400 + since.seconds) + Decimal(
        since.microseconds
    ).scaleb(-6)


def simulate_daily_batch(
    spark: SparkSession,
    max_existing_id: int,
    start_time: dt.datetime | str,
    seed: int = 42,
    new_users: int = NEW_USERS_DAILY,
    returning_users: int = RETURNING_USERS_DAILY,
    pool: DataFrame | None = None,
) -> DataFrame:
    """One 24-hour batch of synthetic transactions.

    Mirrors the reference's distributions exactly (FIXTURES.md F1):
    quantity U{1..4} (simulate_data.py:167), unit price U(5,100) rounded
    to 2dp (:166), 1-14 purchases per customer (:163), session start
    uniform in the window, purchases separated by cumulative 20-100 s
    gaps (:175-191).  ``TotalPurchase = Quantity * UnitPrice`` (:204).

    ``pool`` is the returning-customer pool, a frame with a
    ``CustomerID`` column (the registry's earlier allocations); None
    samples the dense pool 1..max_existing_id (:120-132), and an empty
    registry (max 0) takes the all-new branch (:113-118, :39).

    Determinism: the same (seed, pool, start) gives the same rows at any
    partitioning (counter-based draws, see the module docstring).
    """
    key = F.lit(str(seed))
    cid = F.col("CustomerID")
    customers = new_customer_ids(spark, max_existing_id, new_users)
    if pool is None and max_existing_id > 0:
        pool = spark.range(1, max_existing_id + 1, 1, 8).select(
            F.col("id").alias("CustomerID")
        )
    if pool is not None and returning_users > 0:
        # exact sample without replacement: the n smallest draws, ties
        # broken by ID; equals min(n, max) customers on a dense pool
        returning = (
            pool.select("CustomerID", _uniform(key, 0, cid).alias("_u"))
            .orderBy("_u", "CustomerID")
            .limit(returning_users)
            .select("CustomerID")
        )
        customers = customers.unionByName(returning)

    # per customer: U{1..14} purchases (:163), a session start uniform in
    # the 24 h window, then cumulative 20-100 s gaps (cumsum, :180) —
    # the running sum folds over sequence(1, n) inside the row
    n_purchases = (_uniform(key, 1, cid) * 14).cast("int") + F.lit(1)
    session_start = _uniform(key, 2, cid) * 86400.0  # seconds into the day
    offsets = F.aggregate(
        F.sequence(F.lit(1), n_purchases),
        F.array().cast("array<double>"),
        lambda acc, i: F.concat(
            acc,
            F.array(
                F.coalesce(F.get(acc, F.size(acc) - 1), session_start)
                + _uniform(key, 3, cid, i) * 80.0
                + 20.0
            ),
        ),
    )
    exploded = customers.select(
        "CustomerID", F.posexplode(offsets).alias("_pos", "_offset")
    )

    # --- prices and quantities (:166-167), total (:204); the offset is
    # rounded to microseconds, a timestamp's precision
    idx = F.col("_pos") + F.lit(1)
    start = F.lit(_epoch_seconds(spark, start_time)).cast("decimal(18,6)")
    priced = exploded.select(
        "CustomerID",
        ((_uniform(key, 4, cid, idx) * 4).cast("long") + F.lit(1)).alias(
            "Quantity"
        ),
        F.round(_uniform(key, 5, cid, idx) * 95.0 + 5.0, 2).alias("UnitPrice"),
        F.timestamp_seconds(
            start + F.col("_offset").cast("decimal(18,6)")
        ).alias("order_timestamp"),
    )
    return priced.withColumn(
        "TotalPurchase", F.col("Quantity") * F.col("UnitPrice")
    )
