"""Temporal warehouse primitives over the event log: SCD Type 2
interval construction, time-windowed deduplication, and sweep-line
concurrency analysis.

Scale shapes: all three are one shuffle on the natural partition key
(user for SCD2/dedup; the global sweep orders within event_type
partitions) followed by window functions — no interval self-joins, no
per-key cross products.  The sweep-line trick turns "count overlapping
intervals" (naively O(n^2) pairs) into +1/-1 deltas with a running
sum: O(n log n) per partition and linear shuffle volume.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clv_data_pipeline_spark.queries.tpch import (
    _SESSION_FLAGS_SQL,
    _SESSIONIZE_ORACLE,
)
from clv_data_pipeline_spark.registry import query
from clv_data_pipeline_spark.sources.io import load_table


#: the batch SCD2 interval table: per-user runs of one event_type
#: collapsed into [valid_from, valid_to) — the oracle of the batch,
#: MERGE and streaming builds alike.
_SCD2_ORACLE = """
    WITH ordered AS (
        SELECT user_id, event_type, ts, event_id,
               LAG(event_type) OVER w AS prev_type
        FROM events
        WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)),
    changes AS (
        SELECT user_id, event_type, ts AS valid_from, event_id
        FROM ordered
        WHERE prev_type IS NULL OR prev_type <> event_type)
    SELECT user_id, event_type, valid_from,
           LEAD(valid_from) OVER w2 AS valid_to,
           CAST(LEAD(valid_from) OVER w2 IS NULL AS BIGINT) AS is_current
    FROM changes
    WINDOW w2 AS (PARTITION BY user_id ORDER BY valid_from, event_id)
    """


@query(
    "q_scd2",
    oracle=_SCD2_ORACLE,
)
def q_scd2(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Slowly-changing-dimension Type 2 from an event stream: collapse
    per-user runs of the same event_type into validity intervals
    [valid_from, valid_to), open-ended for the current state.  One
    shuffle on user_id; both window passes reuse the same partitioning.
    Ties break on event_id so the intervals are engine-deterministic."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    changes = (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(
            F.col("prev_type").isNull()
            | (F.col("prev_type") != F.col("event_type"))
        )
        .select(
            "user_id", "event_type", F.col("ts").alias("valid_from"), "event_id"
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("valid_from", "event_id")
    return changes.select(
        "user_id",
        "event_type",
        "valid_from",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().cast("long").alias("is_current"),
    )


@query(
    "q_window_dedup",
    oracle="""
    WITH bucketed AS (
        SELECT event_id, user_id, event_type, ts,
               epoch_us(ts) // 300000000 AS bucket
        FROM events),
    ranked AS (
        SELECT *, ROW_NUMBER() OVER (
                   PARTITION BY user_id, event_type, bucket
                   ORDER BY ts, event_id) AS rn
        FROM bucketed)
    SELECT event_id, user_id, event_type, ts
    FROM ranked WHERE rn = 1
    """,
)
def q_window_dedup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-windowed deduplication: keep the first event per (user,
    type) within each 5-minute bucket — the batch twin of streaming
    `dropDuplicatesWithinWatermark`.  One shuffle on the composite
    key; ties break on event_id.  Bucketing compares integer
    microseconds (never float seconds — frame-boundary rule)."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "user_id", "event_type", "ts"
    )
    bucketed = ev.withColumn(
        "bucket", F.expr("unix_micros(ts) DIV 300000000")
    )
    w = Window.partitionBy("user_id", "event_type", "bucket").orderBy(
        "ts", "event_id"
    )
    return (
        bucketed.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("event_id", "user_id", "event_type", "ts")
    )


@query(
    "q_concurrency",
    oracle="""
    WITH deltas AS (
        SELECT event_type, epoch_us(ts) AS t, 1 AS delta FROM events
        UNION ALL
        SELECT event_type, epoch_us(ts) + 300000000, -1 FROM events),
    summed AS (
        SELECT event_type,
               SUM(delta) OVER (
                   PARTITION BY event_type ORDER BY t, delta
                   ROWS UNBOUNDED PRECEDING) AS live
        FROM deltas)
    SELECT event_type, CAST(MAX(live) AS BIGINT) AS max_concurrent
    FROM summed GROUP BY event_type
    """,
)
def q_concurrency(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Peak concurrency of 5-minute activity intervals per event type,
    by sweep line: every interval contributes a +1 at start and a -1
    at end; the running sum's maximum is the answer.  Linear in events
    (the naive overlap self-join is quadratic).  At equal timestamps
    the -1 sorts first (delta ascending), so back-to-back intervals
    never double-count — pinned identically in both engines."""
    ev = load_table(spark, sf_dir, "events").select(
        "event_type", F.unix_micros("ts").alias("t")
    )
    deltas = ev.select("event_type", "t", F.lit(1).alias("delta")).unionByName(
        ev.select(
            "event_type",
            (F.col("t") + F.lit(300_000_000)).alias("t"),
            F.lit(-1).alias("delta"),
        )
    )
    w = (
        Window.partitionBy("event_type")
        .orderBy("t", "delta")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        deltas.withColumn("live", F.sum("delta").over(w))
        .groupBy("event_type")
        .agg(F.max("live").cast("long").alias("max_concurrent"))
    )


@query(
    "q_sliding_windows",
    oracle="""
    WITH offsets AS (
        SELECT unnest(generate_series(0, 1)) AS k),
    assigned AS (
        SELECT strftime(date_trunc('day', e.ts) - INTERVAL (o.k) DAY,
                        '%Y-%m-%d') AS window_start,
               e.value
        FROM events e CROSS JOIN offsets o)
    SELECT window_start,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS total_value
    FROM assigned GROUP BY window_start
    """,
)
def q_sliding_windows(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hopping-window aggregation (2-day windows, 1-day hop): every
    event contributes to exactly 2 windows via ``F.window`` with a
    slide — the engine expands window membership map-side, then one
    hash aggregate on window start.  The oracle mirrors the expansion
    with an explicit 2-offset cross join."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "2 days", "1 day").alias("w"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("window_start"),
            "n_events",
            "total_value",
        )
    )


def _interleave_bits_sql(a: str, b: str, bits: int = 8) -> str:
    """SQL for bit-interleaving two small ints into a z-value —
    identical text works in DuckDB and Spark SQL."""
    terms = []
    for i in range(bits):
        terms.append(f"((({a} >> {i}) & 1) << {2 * i})")
        terms.append(f"((({b} >> {i}) & 1) << {2 * i + 1})")
    return " + ".join(terms)


_ZEXPR = _interleave_bits_sql(
    "(o_custkey % 256)", "(epoch_days % 256)"
)


@query(
    "q_zorder",
    oracle=f"""
    WITH base AS (
        SELECT o_orderkey, o_custkey,
               date_diff('day', DATE '1992-01-01',
                         CAST(o_orderdate AS DATE)) AS epoch_days
        FROM orders)
    SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
           CAST({_ZEXPR} AS BIGINT) AS zval
    FROM base
    """,
)
def q_zorder(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) index over (customer, order-day) — the
    multi-dimensional clustering key lakehouse table formats sort files
    by, so range predicates on EITHER dimension prune.  Pure bit
    interleaving, map-only; at write time the table would be
    repartitionByRange(zval) so each parquet file covers a compact
    z-range.  The identical bit-arithmetic SQL runs on both engines."""
    orders = load_table(spark, sf_dir, "orders")
    base = orders.select(
        "o_orderkey",
        "o_custkey",
        F.datediff(
            F.col("o_orderdate").cast("date"), F.lit("1992-01-01").cast("date")
        ).cast("long").alias("epoch_days"),
    )
    return base.select(
        F.col("o_orderkey").cast("long"),
        F.expr(_ZEXPR).cast("long").alias("zval"),
    )


@query(
    "q_interpolate",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               SUM(CAST(value AS DECIMAL(18,4))) AS v
        FROM events WHERE event_type = 'purchase' GROUP BY 1, 2),
    span AS (
        SELECT user_id, MIN(day) AS d0, MAX(day) AS d1
        FROM daily GROUP BY user_id),
    cal AS (
        SELECT user_id,
               CAST(unnest(generate_series(d0, d1, INTERVAL 1 DAY)) AS DATE)
                   AS day
        FROM span),
    filled AS (
        SELECT c.user_id, c.day, d.v
        FROM cal c LEFT JOIN daily d
          ON c.user_id = d.user_id AND c.day = d.day),
    anno AS (
        SELECT user_id, day, v,
               LAST_VALUE(v IGNORE NULLS) OVER wp AS pv,
               LAST_VALUE(CASE WHEN v IS NOT NULL THEN day END
                          IGNORE NULLS) OVER wp AS pd,
               FIRST_VALUE(v IGNORE NULLS) OVER wn AS nv,
               FIRST_VALUE(CASE WHEN v IS NOT NULL THEN day END
                           IGNORE NULLS) OVER wn AS nd
        FROM filled
        WINDOW wp AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW),
               wn AS (PARTITION BY user_id ORDER BY day
                      ROWS BETWEEN CURRENT ROW AND UNBOUNDED FOLLOWING))
    SELECT user_id, strftime(day, '%Y-%m-%d') AS day,
           FLOOR((CASE WHEN v IS NOT NULL THEN CAST(v AS DOUBLE)
                  ELSE CAST(pv AS DOUBLE)
                       + (CAST(nv AS DOUBLE) - CAST(pv AS DOUBLE))
                         * (date_diff('day', pd, day)
                            / date_diff('day', pd, nd)) END)
                 * 10000 + 0.5) / 10000 AS value_filled,
           CAST(v IS NOT NULL AS BIGINT) AS is_observed
    FROM anno
    """,
)
def q_interpolate(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-series gap fill with linear interpolation: densify each
    user's purchase history to a daily calendar over their own
    [first, last] span, then fill missing days on the line between
    the bracketing observations — the standard feature-store /
    forecasting preprocessing step.

    Spark-first: the calendar comes from ``sequence()`` exploded off
    the per-user span (map-side expansion of an already-aggregated
    frame — never a calendar cross join), and the bracketing
    neighbors come from two IGNORE-NULLS window passes (running
    ``last`` forward, ``first`` backward) that both reuse the single
    user_id shuffle.  Daily sums accumulate in decimal so both
    engines agree exactly; the interpolation itself is one identical
    IEEE754 expression per row, rounded to 4dp via floor(x*1e4+0.5)/1e4
    — arithmetic rounding written identically on both engines, because
    the engines' native ROUND(double) disagree on representation ties
    (Spark rounds the shortest decimal repr half-up; DuckDB rounds the
    binary value).  Endpoints are always
    observed (the span is the data's own min/max), so no
    extrapolation branch exists."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        "user_id", F.col("ts").cast("date").alias("day")
    ).agg(F.sum(F.col("value").cast("decimal(18,4)")).alias("v"))
    span = daily.groupBy("user_id").agg(
        F.min("day").alias("d0"), F.max("day").alias("d1")
    )
    cal = span.select(
        "user_id",
        F.explode(F.expr("sequence(d0, d1, interval 1 day)")).alias("day"),
    )
    filled = cal.join(daily, ["user_id", "day"], "left")
    wp = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wn = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.currentRow, Window.unboundedFollowing)
    )
    obs_day = F.when(F.col("v").isNotNull(), F.col("day"))
    anno = filled.select(
        "user_id",
        "day",
        "v",
        F.last("v", ignorenulls=True).over(wp).alias("pv"),
        F.last(obs_day, ignorenulls=True).over(wp).alias("pd"),
        F.first("v", ignorenulls=True).over(wn).alias("nv"),
        F.first(obs_day, ignorenulls=True).over(wn).alias("nd"),
    )
    interp = F.col("pv").cast("double") + (
        F.col("nv").cast("double") - F.col("pv").cast("double")
    ) * (
        F.datediff("day", "pd") / F.datediff("nd", "pd")
    )
    return anno.select(
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        (
            F.floor(
                F.when(F.col("v").isNotNull(), F.col("v").cast("double"))
                .otherwise(interp)
                * 10000
                + 0.5
            )
            / 10000
        ).alias("value_filled"),
        F.col("v").isNotNull().cast("long").alias("is_observed"),
    )


def scd2_intervals(
    events: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """SCD Type 2 interval construction (the q_scd2 core), reusable on
    any change-event frame.  Keeps the tiebreak column so downstream
    merges stay order-deterministic."""
    w = Window.partitionBy(key).orderBy(ts, tiebreak)
    changes = (
        events.withColumn("_prev", F.lag(attr).over(w))
        .filter(F.col("_prev").isNull() | (F.col("_prev") != F.col(attr)))
        .select(
            key,
            attr,
            F.col(ts).alias("valid_from"),
            F.col(tiebreak).alias("_tb"),
        )
    )
    w2 = Window.partitionBy(key).orderBy("valid_from", "_tb")
    return changes.select(
        key,
        attr,
        "valid_from",
        "_tb",
        F.lead("valid_from").over(w2).alias("valid_to"),
        F.lead("valid_from").over(w2).isNull().cast("long").alias("is_current"),
    )


def scd2_merge(
    target: DataFrame,
    delta: DataFrame,
    key: str = "user_id",
    attr: str = "event_type",
    ts: str = "ts",
    tiebreak: str = "event_id",
) -> DataFrame:
    """Incremental SCD2 maintenance: fold a change-event delta into an
    existing interval table touching ONLY the affected keys — O(delta)
    work, not O(history).

    Untouched keys pass through without recompute (anti-join).  For
    affected keys, the target's change points (valid_from rows ARE the
    change log, one per attribute run) union with the delta's events
    and the interval construction reruns on that per-key change log —
    consecutive same-attribute runs re-collapse, the formerly-open
    interval closes at the first differing delta event.  Equivalence
    with a full batch recompute over (history + delta) is exact, and
    the registered query's oracle checks precisely that."""
    affected = delta.select(key).distinct()
    keep = target.join(affected, key, "left_anti")
    old_changes = target.join(affected, key, "left_semi").select(
        key, attr, F.col("valid_from").alias(ts), F.col("_tb").alias(tiebreak)
    )
    new_events = delta.select(key, attr, ts, tiebreak)
    rebuilt = scd2_intervals(
        old_changes.unionByName(new_events), key, attr, ts, tiebreak
    )
    return keep.unionByName(rebuilt)


@query(
    "q_scd2_merge",
    oracle=_SCD2_ORACLE,
)
def q_scd2_merge(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental SCD2: build the interval table from the first 20
    days of events, then MERGE the remaining days' changes in
    (only affected users recompute).  The oracle is the FULL batch
    recompute over all events — the driver hash-verifies that
    incremental maintenance is exactly equivalent to rebuild."""
    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cutoff = F.lit("2024-01-21")
    # NOT persisted although the merge consumes target twice: both
    # branches share target's identical internal user_id exchange,
    # which AQE stage-reuse dedupes — measured A/B at sf0.1: 0.74 s
    # no-persist vs 0.93-1.44 s persist (see docs/SCALE.md, persist
    # barriers).  In production target is read from the stored
    # interval table anyway.
    target = scd2_intervals(ev.filter(F.col("ts") < cutoff))
    delta = ev.filter(F.col("ts") >= cutoff)
    merged = scd2_merge(target, delta)
    return merged.select(
        "user_id", "event_type", "valid_from", "valid_to", "is_current"
    )


@query(
    "q_scd2_stream",
    oracle=_SCD2_ORACLE,
)
def q_scd2_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SCD2 maintenance run by the REAL Structured Streaming engine —
    q_scd2_merge's streaming twin: the event log arrives as three
    chronological micro-batches (replay_arrivals, simulating daily
    arrivals) and each trigger folds its batch into
    the stored interval table via streaming/ingest.py
    scd2_maintenance_sink (O(batch) per trigger, only affected keys
    recompute).  The oracle is the FULL batch recompute over all
    events, so the driver hash-verifies that three sequential
    incremental merges are exactly equivalent to rebuild — the
    dimension-table maintenance loop every warehouse runs, on the
    streaming engine with checkpointed exactly-once file progress."""
    from clv_data_pipeline_spark.streaming.ingest import (
        replay_arrivals,
        scd2_maintenance_sink,
        scratch_tables,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "user_id", "event_type", "ts", "event_id"
    )
    cuts = ("2024-01-11", "2024-01-21")
    slices = (
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    )
    with scratch_tables(spark, "scd2_stream") as (target_table,):
        replay_arrivals(slices, scd2_maintenance_sink(target_table))
        return (
            spark.table(target_table)
            .select("user_id", "event_type", "valid_from", "valid_to",
                    "is_current")
            .localCheckpoint(eager=True)
        )


@query(
    "q_attribution",
    oracle="""
    WITH attributed AS (
        SELECT event_type, value,
               COALESCE(LAST_VALUE(CASE WHEN event_type <> 'purchase'
                                        THEN event_type END IGNORE NULLS)
                        OVER (PARTITION BY user_id ORDER BY ts, event_id
                              ROWS BETWEEN UNBOUNDED PRECEDING
                                       AND 1 PRECEDING),
                        'direct') AS channel
        FROM events)
    SELECT channel,
           CAST(COUNT(*) AS BIGINT) AS n_conversions,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS revenue
    FROM attributed WHERE event_type = 'purchase'
    GROUP BY channel
    """,
)
def q_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution: each purchase credits the
    most recent prior non-purchase event in the same user's timeline
    ('direct' when none).

    One shuffle on user_id, then a running last-non-null window — the
    same single-pass sweep shape as q_sessionize; no self-join of the
    event log against itself.  Revenue sums as DECIMAL before the one
    double division (registry.py determinism rules)."""
    e = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_touch = F.last(
        F.when(F.col("event_type") != "purchase", F.col("event_type")),
        ignorenulls=True,
    ).over(w)
    return (
        e.withColumn("channel", F.coalesce(last_touch, F.lit("direct")))
        .filter(F.col("event_type") == "purchase")
        .groupBy("channel")
        .agg(
            F.count("*").cast("long").alias("n_conversions"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
            ).alias("revenue"),
        )
    )


@query(
    "q_sessionize_incremental",
    oracle=_SESSIONIZE_ORACLE,
)
def q_sessionize_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) session-table maintenance: split the event log at
    mid-month into "history" and "delta", build the session-stats table
    from history once, then fold the delta in WITHOUT re-sessionizing
    history (operators/sessions.py merge_session_delta) — only each
    delta user's tail session is touched.  The oracle is the full
    recompute over all events (q_sessionize's SQL), so the driver
    hash-verifies the maintenance algebra end to end.  Real daily
    pipelines never re-sessionize the whole log; this is the session
    analogue of q_rfm_incremental / q_dedup_incremental / q_scd2_merge.
    """
    from clv_data_pipeline_spark.operators.sessions import (
        merge_session_delta,
        session_stats,
    )

    ev = load_table(spark, sf_dir, "events")
    split = F.lit("2024-01-15 00:00:00").cast("timestamp")
    base = session_stats(ev.filter(F.col("ts") < split), gap_seconds=1800)
    delta = ev.filter(F.col("ts") >= split)
    return merge_session_delta(base, delta, gap_seconds=1800)


@query(
    "q_snapshot_diff",
    oracle="""
    WITH old AS (
        SELECT o_orderkey,
               CASE WHEN o_orderkey % 7 = 0 THEN 'P'
                    ELSE o_orderstatus END AS o_orderstatus,
               o_totalprice
        FROM orders WHERE o_orderkey % 10 <> 0),
    new AS (SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders)
    SELECT COALESCE(o.o_orderkey, n.o_orderkey) AS o_orderkey,
           CASE WHEN o.o_orderkey IS NULL THEN 'insert'
                WHEN n.o_orderkey IS NULL THEN 'delete'
                ELSE 'update' END AS change_type,
           o.o_orderstatus AS old_status,
           n.o_orderstatus AS new_status
    FROM old o FULL JOIN new n ON o.o_orderkey = n.o_orderkey
    WHERE o.o_orderkey IS NULL OR n.o_orderkey IS NULL
       OR o.o_orderstatus <> n.o_orderstatus
       OR o.o_totalprice <> n.o_totalprice
    """,
)
def q_snapshot_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC change extraction between two table versions: full-outer
    join on the key classifies every row as insert / delete / update
    and drops the unchanged majority — the diff a lakehouse emits as a
    change feed when the upstream cannot.  The "old" snapshot is a
    deterministic derivation of orders (10% of keys absent -> inserts,
    every 7th status rewritten -> updates) so the oracle reproduces it
    exactly.

    Scale shape: one shuffle per side on the key (or ZERO with both
    snapshots bucket-persisted on it — q_bucketed_join's contract);
    the unchanged filter runs inside the join's output before anything
    else materializes, so the change feed, not the table, is what
    flows downstream.  At 100 TB add a per-row content hash column at
    write time and compare hashes instead of N columns."""
    _, feed = _orders_change_feed(spark, sf_dir)
    return feed.select(
        "o_orderkey",
        "change_type",
        "old_status",
        F.col("o_orderstatus").alias("new_status"),
    )


def _orders_change_feed(
    spark: SparkSession, sf_dir: str
) -> tuple[DataFrame, DataFrame]:
    """The derived "old" orders snapshot and its change feed against
    the current table: one row per inserted, deleted or updated key
    with ``change_type``, the old ``old_status`` and the new image
    (``o_orderstatus``, ``o_totalprice``; NULL for a delete)."""
    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    old = o.filter(F.col("o_orderkey") % 10 != 0).select(
        "o_orderkey",
        F.when(F.col("o_orderkey") % 7 == 0, F.lit("P"))
        .otherwise(F.col("o_orderstatus"))
        .alias("o_orderstatus"),
        "o_totalprice",
    )
    j = old.alias("o").join(
        o.alias("n"),
        F.col("o.o_orderkey") == F.col("n.o_orderkey"),
        "full",
    )
    changed = (
        F.col("o.o_orderkey").isNull()
        | F.col("n.o_orderkey").isNull()
        | (F.col("o.o_orderstatus") != F.col("n.o_orderstatus"))
        | (F.col("o.o_totalprice") != F.col("n.o_totalprice"))
    )
    return old, j.filter(changed).select(
        F.coalesce(F.col("o.o_orderkey"), F.col("n.o_orderkey")).alias(
            "o_orderkey"
        ),
        F.when(F.col("o.o_orderkey").isNull(), "insert")
        .when(F.col("n.o_orderkey").isNull(), "delete")
        .otherwise("update")
        .alias("change_type"),
        F.col("o.o_orderstatus").alias("old_status"),
        F.col("n.o_orderstatus").alias("o_orderstatus"),
        F.col("n.o_totalprice").alias("o_totalprice"),
    )


@query(
    "q_apply_changes",
    oracle="SELECT o_orderkey, o_orderstatus, o_totalprice FROM orders",
)
def q_apply_changes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CDC apply — the inverse of q_snapshot_diff: given the OLD
    snapshot and the change feed (insert/update/delete rows carrying
    new values), reconstruct the NEW table: anti-join out deleted and
    updated keys, union in the feed's insert/update images.  The
    oracle is the current table itself, so the driver hash-verifies
    diff -> apply as an exact round trip — the apply_changes /
    MERGE-from-feed primitive every lakehouse CDC pipeline runs.

    Scale shape: one anti-join on the key (zero-exchange if the target
    is bucket-persisted, q_bucketed_join's contract) + a union with
    the feed, which is delta-sized; nothing rescans or rewrites
    unchanged data except the anti-join probe."""
    old, feed = _orders_change_feed(spark, sf_dir)
    touched = feed.select("o_orderkey")
    survivors = old.join(touched, "o_orderkey", "left_anti")
    images = feed.filter(F.col("change_type") != "delete").select(
        "o_orderkey", "o_orderstatus", "o_totalprice"
    )
    return survivors.unionByName(images)


@query(
    "q_seasonality",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY day),
    t AS (
        SELECT day, n,
               date_diff('day', DATE '2024-01-01', day) % 7 AS dow,
               CAST(SUM(n) OVER w7 AS DOUBLE) / COUNT(n) OVER w7 AS trend
        FROM daily
        WINDOW w7 AS (ORDER BY day ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    d AS (
        SELECT day, n, dow, trend,
               CAST(ROUND(n - trend, 9) AS DECIMAL(28,9)) AS det
        FROM t),
    s AS (
        SELECT day, n, trend,
               CAST(SUM(det) OVER (PARTITION BY dow) AS DOUBLE)
                   / COUNT(det) OVER (PARTITION BY dow) AS seasonal
        FROM d)
    SELECT CAST(day AS VARCHAR) AS day, n,
           ROUND(trend, 6) AS trend,
           ROUND(seasonal, 6) AS seasonal,
           ROUND(n - trend - seasonal, 6) AS residual
    FROM s
    """,
)
def q_seasonality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Classical additive decomposition of the daily event volume:
    trend (centered 7-day moving average), day-of-week seasonal
    component (mean detrended value per weekday), residual — the
    monitoring shape behind 'is this drop a weekend or an incident'.

    Determinism: the weekday index is pure date arithmetic
    (days-since-epoch mod 7 — engine dayofweek() conventions differ),
    and the seasonal means accumulate ROUNDED detrended values as
    DECIMAL before one double division.  Scale shape: one shuffle to
    the daily grain; every window runs on the calendar-bounded daily
    frame."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    dow = F.datediff(F.col("day"), F.lit("2024-01-01").cast("date")) % 7
    w7 = W.orderBy("day").rowsBetween(-3, 3)
    t = daily.select(
        "day",
        "n",
        dow.alias("dow"),
        (F.sum("n").over(w7).cast("double") / F.count("n").over(w7)).alias(
            "trend"
        ),
    )
    det = F.round(F.col("n") - F.col("trend"), 9).cast("decimal(28,9)")
    d = t.withColumn("det", det)
    wd = W.partitionBy("dow")
    s = d.select(
        "day",
        "n",
        "trend",
        (
            F.sum("det").over(wd).cast("double") / F.count("det").over(wd)
        ).alias("seasonal"),
    )
    return s.select(
        F.col("day").cast("string").alias("day"),
        "n",
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        F.round(
            F.col("n") - F.col("trend") - F.col("seasonal"), 6
        ).alias("residual"),
    )


@query(
    "q_cusum",
    oracle="""
    WITH raw AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n0
        FROM events GROUP BY day),
    daily AS (
        SELECT day,
               CAST(n0 + CASE WHEN day >= DATE '2024-01-21'
                              THEN CAST(FLOOR(n0 * 0.25) AS BIGINT)
                              ELSE 0 END AS BIGINT) AS n
        FROM raw),
    stats AS (
        SELECT day, n,
               CAST(SUM(n) OVER () AS DOUBLE) / COUNT(*) OVER () AS mu,
               SQRT(GREATEST(
                   CAST(SUM(CAST(n AS DECIMAL(28,6)) * n) OVER () AS DOUBLE)
                       / COUNT(*) OVER ()
                   - POWER(CAST(SUM(n) OVER () AS DOUBLE)
                           / COUNT(*) OVER (), 2), 0.0)) AS sigma
        FROM daily),
    dev AS (
        SELECT day, n, mu, sigma,
               SUM(n - mu - 0.5 * sigma) OVER wo AS up_prefix,
               SUM(mu - n - 0.5 * sigma) OVER wo AS dn_prefix
        FROM stats
        WINDOW wo AS (ORDER BY day ROWS UNBOUNDED PRECEDING)),
    c AS (
        SELECT day, n, sigma,
               up_prefix - LEAST(MIN(up_prefix) OVER wo, 0.0) AS s_up,
               dn_prefix - LEAST(MIN(dn_prefix) OVER wo, 0.0) AS s_dn
        FROM dev
        WINDOW wo AS (ORDER BY day ROWS UNBOUNDED PRECEDING))
    SELECT CAST(day AS VARCHAR) AS day, n,
           ROUND(s_up, 6) AS cusum_up,
           ROUND(s_dn, 6) AS cusum_down,
           s_up > 4.0 * sigma OR s_dn > 4.0 * sigma AS alarm
    FROM c
    """,
)
def q_cusum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Two-sided CUSUM changepoint detection on the daily event volume
    (slack k = 0.5 sigma, threshold h = 4 sigma — the standard tabular
    CUSUM): flags sustained level shifts that single-day z-scores
    (q_anomaly_days) miss; a deterministic +25% volume shift is
    planted from 2024-01-21 so the alarm column is non-vacuous.  The reset recursion
    S_t = max(0, S_{t-1} + dev_t) is NOT directly window-expressible;
    it runs as the identity S_t = prefix_t - min(0, running_min of
    prefix) — two ordered windows, no recursion.

    Determinism: mu/sigma come from decimal sufficient statistics;
    ordered running sums accumulate in the same sequence on both
    engines.  Scale shape: one shuffle to the daily grain; all windows
    run on the calendar-bounded frame."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    raw = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n0")
    )
    # planted level shift: +25% daily volume from 2024-01-21 on — the
    # raw testdata volume is stable, so the 4-sigma alarm was
    # constant-False (round-8 degeneracy audit); the shift gives the
    # detector a true changepoint to find.
    daily = raw.select(
        "day",
        (
            F.col("n0")
            + F.when(
                F.col("day") >= F.lit("2024-01-21").cast("date"),
                F.floor(F.col("n0") * 0.25),
            ).otherwise(F.lit(0))
        )
        .cast("long")
        .alias("n"),
    )
    wall = W.partitionBy(F.lit(1))
    mu = F.sum("n").over(wall).cast("double") / F.count("*").over(wall)
    ex2 = (
        F.sum(F.col("n").cast("decimal(28,6)") * F.col("n"))
        .over(wall)
        .cast("double")
        / F.count("*").over(wall)
    )
    sigma = F.sqrt(F.greatest(ex2 - F.pow(mu, 2), F.lit(0.0)))
    stats = daily.select(
        "day", "n", mu.alias("mu"), sigma.alias("sigma")
    )
    wo = W.orderBy("day").rowsBetween(W.unboundedPreceding, W.currentRow)
    dev = stats.select(
        "day",
        "n",
        "sigma",
        F.sum(
            F.col("n") - F.col("mu") - 0.5 * F.col("sigma")
        ).over(wo).alias("up_prefix"),
        F.sum(
            F.col("mu") - F.col("n") - 0.5 * F.col("sigma")
        ).over(wo).alias("dn_prefix"),
    )
    s_up = F.col("up_prefix") - F.least(
        F.min("up_prefix").over(wo), F.lit(0.0)
    )
    s_dn = F.col("dn_prefix") - F.least(
        F.min("dn_prefix").over(wo), F.lit(0.0)
    )
    return dev.select(
        F.col("day").cast("string").alias("day"),
        "n",
        F.round(s_up, 6).alias("cusum_up"),
        F.round(s_dn, 6).alias("cusum_down"),
        (
            (s_up > 4.0 * F.col("sigma")) | (s_dn > 4.0 * F.col("sigma"))
        ).alias("alarm"),
    )


@query(
    "q_session_funnel",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id, event_type,
               epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events),
    flagged AS (
        SELECT user_id, ts, event_type,
               CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000
                    THEN 1 ELSE 0 END AS is_new,
               event_id
        FROM ordered),
    sess AS (
        SELECT user_id, ts, event_type,
               SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                   ROWS UNBOUNDED PRECEDING) AS session_id
        FROM flagged),
    per AS (
        SELECT user_id, session_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS first_view,
               MAX(CASE WHEN event_type = 'purchase' THEN ts END)
                   AS last_purchase
        FROM sess GROUP BY user_id, session_id)
    SELECT CAST(COUNT(*) AS BIGINT) AS n_sessions,
           CAST(COUNT(first_view) AS BIGINT) AS sessions_with_view,
           CAST(COUNT(CASE WHEN last_purchase >= first_view THEN 1 END)
                AS BIGINT) AS converted,
           ROUND(CAST(COUNT(CASE WHEN last_purchase >= first_view THEN 1 END)
                 AS DOUBLE) / COUNT(first_view), 6) AS conversion_rate
    FROM per
    """,
)
def q_session_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """In-session funnel: the fraction of sessions where a view leads
    to a purchase WITHIN THE SAME SESSION (purchase at-or-after the
    first view) — q_funnel measures lifetime ordering; this measures
    intent-to-conversion inside one visit, the number a checkout change
    actually moves.

    Composes operators/sessions.py sessionize with a per-session
    conditional min/max — one user shuffle (window) + one
    (user, session) aggregate that reuses its partitioning; the final
    scalar is a 4-column 1-row reduce."""
    from clv_data_pipeline_spark.operators.sessions import sessionize

    ev = load_table(spark, sf_dir, "events")
    s = sessionize(ev, gap_seconds=1800)
    per = s.groupBy("user_id", "session_id").agg(
        F.min(
            F.when(F.col("event_type") == "view", F.col("ts"))
        ).alias("first_view"),
        F.max(
            F.when(F.col("event_type") == "purchase", F.col("ts"))
        ).alias("last_purchase"),
    )
    converted = F.count(
        F.when(F.col("last_purchase") >= F.col("first_view"), 1)
    )
    return per.agg(
        F.count("*").cast("long").alias("n_sessions"),
        F.count("first_view").cast("long").alias("sessions_with_view"),
        converted.cast("long").alias("converted"),
        F.round(
            converted.cast("double") / F.count("first_view"), 6
        ).alias("conversion_rate"),
    )


@query(
    "q_forecast_backtest",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY day),
    f AS (
        SELECT day, n,
               LAG(n, 7) OVER (ORDER BY day) AS forecast
        FROM daily)
    SELECT CAST(day AS VARCHAR) AS day, n,
           CAST(forecast AS BIGINT) AS forecast,
           ROUND(ABS(CAST(n - forecast AS DOUBLE)) / n, 6) AS ape
    FROM f WHERE forecast IS NOT NULL
    """,
)
def q_forecast_backtest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Seasonal-naive forecast backtest: predict each day's volume as
    the same weekday last week (lag 7 on the daily grain) and report
    the absolute percentage error per day — the baseline every real
    forecaster must beat, and the simplest honest backtest (no
    training window leaks: lag only looks backward).

    Scale shape: one shuffle to the daily grain; the lag window runs
    on the calendar-bounded frame.  The same lag-k shape backtests any
    stored forecast column."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    f = daily.withColumn(
        "forecast", F.lag("n", 7).over(W.orderBy("day"))
    )
    return f.filter(F.col("forecast").isNotNull()).select(
        F.col("day").cast("string").alias("day"),
        "n",
        F.col("forecast").cast("long").alias("forecast"),
        F.round(
            F.abs((F.col("n") - F.col("forecast")).cast("double"))
            / F.col("n"),
            6,
        ).alias("ape"),
    )


@query(
    "q_crosscorr",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               CAST(COUNT(*) FILTER (WHERE event_type = 'view') AS BIGINT)
                   AS views,
               CAST(COUNT(*) FILTER (WHERE event_type = 'purchase')
                    AS BIGINT) AS purchases
        FROM events GROUP BY day),
    lags AS (SELECT unnest(range(-7, 8)) AS lag),
    pairs AS (
        SELECT l.lag, a.views AS x, b.purchases AS y
        FROM lags l
        JOIN daily a ON TRUE
        JOIN daily b ON b.day = a.day + CAST(l.lag AS INT)),
    s AS (
        SELECT lag, CAST(COUNT(*) AS DOUBLE) AS n,
               CAST(SUM(x) AS DOUBLE) AS sx, CAST(SUM(y) AS DOUBLE) AS sy,
               CAST(SUM(CAST(x AS DECIMAL(18,0)) * x) AS DOUBLE) AS sxx,
               CAST(SUM(CAST(y AS DECIMAL(18,0)) * y) AS DOUBLE) AS syy,
               CAST(SUM(CAST(x AS DECIMAL(18,0)) * y) AS DOUBLE) AS sxy
        FROM pairs GROUP BY lag)
    SELECT CAST(lag AS BIGINT) AS lag, CAST(n AS BIGINT) AS n_days,
           ROUND((sxy - sx * sy / n)
                 / SQRT((sxx - sx * sx / n) * (syy - sy * sy / n)), 6)
               AS corr
    FROM s WHERE n >= 10
    """,
)
def q_crosscorr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Lead-lag cross-correlation of the daily views and purchases
    series (lags -7..+7): which signal leads conversions and by how
    many days — the marketing-mix diagnostic behind attribution
    windows.  The r at each lag comes from decimal sufficient
    statistics (q_corr's pattern) over the day-aligned pairs.

    Scale shape: one shuffle to the daily grain; the 15-lag expand is
    a map-side explode of the calendar-bounded daily frame and the
    alignment is an equi-join on day — series length x 15 rows total,
    independent of event volume."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count(F.when(F.col("event_type") == "view", 1))
        .cast("long")
        .alias("views"),
        F.count(F.when(F.col("event_type") == "purchase", 1))
        .cast("long")
        .alias("purchases"),
    )
    a = daily.select("day", "views").withColumn(
        "lag", F.explode(F.sequence(F.lit(-7), F.lit(7)))
    )
    b = daily.select(
        F.col("day").alias("_bday"), F.col("purchases").alias("y")
    )
    pairs = a.join(
        b, F.col("_bday") == F.date_add(F.col("day"), F.col("lag"))
    ).select("lag", F.col("views").alias("x"), "y")
    d18 = "decimal(18,0)"
    s = pairs.groupBy("lag").agg(
        F.count("*").cast("double").alias("n"),
        F.sum("x").cast("double").alias("sx"),
        F.sum("y").cast("double").alias("sy"),
        F.sum(F.col("x").cast(d18) * F.col("x")).cast("double").alias("sxx"),
        F.sum(F.col("y").cast(d18) * F.col("y")).cast("double").alias("syy"),
        F.sum(F.col("x").cast(d18) * F.col("y")).cast("double").alias("sxy"),
    )
    corr = (F.col("sxy") - F.col("sx") * F.col("sy") / F.col("n")) / F.sqrt(
        (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("n"))
        * (F.col("syy") - F.col("sy") * F.col("sy") / F.col("n"))
    )
    return (
        s.filter(F.col("n") >= 10)
        .select(
            F.col("lag").cast("long").alias("lag"),
            F.col("n").cast("long").alias("n_days"),
            F.round(corr, 6).alias("corr"),
        )
    )


@query(
    "q_robust_trend",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day, CAST(COUNT(*) AS BIGINT) AS n
        FROM events GROUP BY day),
    idx AS (
        SELECT day, n,
               CAST(date_diff('day', DATE '2024-01-01', day) AS BIGINT) AS i
        FROM daily),
    pairs AS (
        SELECT a.i AS ia, b.i AS ib, a.n AS na, b.n AS nb
        FROM idx a JOIN idx b ON b.i > a.i),
    mk AS (
        SELECT CAST(SUM(CASE WHEN nb > na THEN 1
                             WHEN nb < na THEN -1 ELSE 0 END) AS BIGINT)
                   AS s_stat,
               CAST(COUNT(*) AS BIGINT) AS n_pairs,
               ROUND(CAST(quantile_cont(
                   CAST(nb - na AS DOUBLE) / (ib - ia), 0.5) AS DOUBLE), 6)
                   AS theil_sen_slope
        FROM pairs),
    nn AS (SELECT CAST(COUNT(*) AS DOUBLE) AS n FROM daily)
    SELECT s_stat, n_pairs, theil_sen_slope,
           ROUND((CASE WHEN s_stat > 0 THEN s_stat - 1
                       WHEN s_stat < 0 THEN s_stat + 1
                       ELSE 0 END)
                 / SQRT(nn.n * (nn.n - 1) * (2 * nn.n + 5) / 18.0), 6)
               AS z_score
    FROM mk CROSS JOIN nn
    """,
)
def q_robust_trend(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust monotone-trend analysis of the daily volume: the
    Mann-Kendall S statistic with its continuity-corrected z-score
    (is there a trend at all, outlier-proof) and the Theil-Sen slope
    (median of pairwise slopes — HOW steep, 29% breakdown point) —
    the nonparametric pair to q_trend's OLS.

    Scale shape: pairwise enumeration runs on the DAILY frame
    (calendar^2 pairs, ~400 here — never raw events); both statistics
    are integer/exact until one final division.  For multi-year series
    the same pair join runs per window-chunk with merged S counts."""
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.count("*").cast("long").alias("n")
    )
    idx = daily.select(
        F.datediff(F.col("day"), F.lit("2024-01-01").cast("date"))
        .cast("long")
        .alias("i"),
        "n",
    )
    a = idx.select(F.col("i").alias("ia"), F.col("n").alias("na"))
    b = idx.select(F.col("i").alias("ib"), F.col("n").alias("nb"))
    pairs = a.join(b, F.col("ib") > F.col("ia"))
    mk = pairs.agg(
        F.sum(
            F.when(F.col("nb") > F.col("na"), 1)
            .when(F.col("nb") < F.col("na"), -1)
            .otherwise(0)
        )
        .cast("long")
        .alias("s_stat"),
        F.count("*").cast("long").alias("n_pairs"),
        F.round(
            F.percentile(
                (F.col("nb") - F.col("na")).cast("double")
                / (F.col("ib") - F.col("ia")),
                0.5,
            ),
            6,
        ).alias("theil_sen_slope"),
    )
    nn = daily.agg(F.count("*").cast("double").alias("n"))
    corrected = (
        F.when(F.col("s_stat") > 0, F.col("s_stat") - 1)
        .when(F.col("s_stat") < 0, F.col("s_stat") + 1)
        .otherwise(0)
    )
    return mk.crossJoin(F.broadcast(nn)).select(
        "s_stat",
        "n_pairs",
        "theil_sen_slope",
        F.round(
            corrected
            / F.sqrt(
                F.col("n")
                * (F.col("n") - 1)
                * (2 * F.col("n") + 5)
                / 18.0
            ),
            6,
        ).alias("z_score"),
    )


@query(
    "q_quantiles_incremental",
    oracle="""
    WITH stats AS (
        SELECT MIN(l_extendedprice) AS lo, MAX(l_extendedprice) AS hi,
               COUNT(*) AS n
        FROM lineitem),
    pts AS (
        SELECT LEAST(CAST(FLOOR((l_extendedprice - lo)
                                / ((hi - lo) / 2048.0)) AS BIGINT),
                     2047) AS bin
        FROM lineitem, stats),
    hist AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt
        FROM pts GROUP BY bin),
    cum AS (
        SELECT bin, cnt,
               SUM(cnt) OVER (ORDER BY bin
                   ROWS UNBOUNDED PRECEDING) AS c
        FROM hist),
    qs(q) AS (VALUES (0.5), (0.9), (0.99)),
    est AS (
        SELECT q, MIN(bin) AS qbin
        FROM qs JOIN cum ON c >= q * (SELECT n FROM stats)
        GROUP BY q),
    ex AS (
        SELECT 0.5 AS q,
               quantile_cont(l_extendedprice, 0.5) AS exact FROM lineitem
        UNION ALL SELECT 0.9, quantile_cont(l_extendedprice, 0.9)
        FROM lineitem
        UNION ALL SELECT 0.99, quantile_cont(l_extendedprice, 0.99)
        FROM lineitem)
    SELECT CAST(e.q AS DOUBLE) AS q,
           ROUND(s.lo + (est.qbin + 1) * ((s.hi - s.lo) / 2048.0), 6)
               AS est,
           ROUND(CAST(e.exact AS DOUBLE), 6) AS exact,
           ROUND(ABS((s.lo + (est.qbin + 1) * ((s.hi - s.lo) / 2048.0))
                     - e.exact), 6) AS abs_err,
           ROUND((s.hi - s.lo) / 2048.0, 6) AS bin_width
    FROM est JOIN ex e ON est.q = e.q CROSS JOIN stats s
    """,
)
def q_quantiles_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable-summary quantiles — the daily-rollup percentile
    primitive (the deterministic stand-in for t-digest/KLL, which
    Spark does not expose as mergeable values): per-day fixed-bin
    histograms are stored state (keyed artifact, same lifecycle as the
    dedup indexes and q_hll_merge's sketches), a new day adds one
    delta-sized pass, and merging is plain SUM over bin counts — no
    re-rank, no rescans.  Each estimate self-audits against the exact
    percentile: the error is bounded by one bin width ((max-min)/2048)
    by construction, and the output reports est, exact, abs_err, and
    the bound so the reader sees the audit, not a claim.

    Determinism: bins derive from IEEE-exact double arithmetic on
    identical parquet values; cumulative counts are integers; the
    interpolation-free right-edge estimate makes the whole summary
    engine-portable."""
    from clv_data_pipeline_spark.sources.io import (
        materialize_temp,
        source_key,
    )

    li = load_table(spark, sf_dir, "lineitem")
    stats = li.agg(
        F.min("l_extendedprice").alias("lo"),
        F.max("l_extendedprice").alias("hi"),
        F.count("*").alias("n"),
    )
    with_stats = li.select("l_extendedprice", "l_shipdate").crossJoin(
        F.broadcast(stats)
    )
    width = (F.col("hi") - F.col("lo")) / F.lit(2048.0)
    day = F.date_format("l_shipdate", "yyyy-MM-dd")
    # per-day histograms ARE the stored daily state; the merge below
    # never touches raw rows again
    daily = materialize_temp(
        with_stats.groupBy(
            day.alias("day"),
            F.least(
                F.floor((F.col("l_extendedprice") - F.col("lo")) / width)
                .cast("long"),
                F.lit(2047),
            ).alias("bin"),
        ).agg(F.count("*").alias("cnt")),
        "qhist_daily_",
        key=source_key(sf_dir, "lineitem") + ":qhist2048",
    )
    hist = daily.groupBy("bin").agg(F.sum("cnt").alias("cnt"))
    wcum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = hist.withColumn("c", F.sum("cnt").over(wcum))
    qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
    est = (
        cum.crossJoin(F.broadcast(stats.select("n")))
        .join(F.broadcast(qs), F.col("c") >= F.col("q") * F.col("n"))
        .groupBy("q")
        .agg(F.min("bin").alias("qbin"))
    )
    exact = li.agg(
        *[
            F.percentile("l_extendedprice", p).alias(f"e{int(p * 100)}")
            for p in (0.5, 0.9, 0.99)
        ]
    ).select(
        F.explode(
            F.array(
                F.struct(F.lit(0.5).alias("q"), F.col("e50").alias("exact")),
                F.struct(F.lit(0.9).alias("q"), F.col("e90").alias("exact")),
                F.struct(
                    F.lit(0.99).alias("q"), F.col("e99").alias("exact")
                ),
            )
        ).alias("s")
    ).select("s.q", "s.exact")
    w2 = (F.col("hi") - F.col("lo")) / F.lit(2048.0)
    return (
        est.join(F.broadcast(exact), "q")
        .crossJoin(F.broadcast(stats))
        .select(
            F.col("q").cast("double").alias("q"),
            F.round(F.col("lo") + (F.col("qbin") + 1) * w2, 6).alias("est"),
            F.round(F.col("exact"), 6).alias("exact"),
            F.round(
                F.abs(
                    (F.col("lo") + (F.col("qbin") + 1) * w2)
                    - F.col("exact")
                ),
                6,
            ).alias("abs_err"),
            F.round(w2, 6).alias("bin_width"),
        )
    )


#: Non-conversion channels of the events table (q_pivot's value list).
_TOUCH_CHANNELS = ["click", "error", "signup", "view"]

_ATTR_WINDOW_US = 7 * 24 * 3600 * 1_000_000  # 7-day lookback


@query(
    "q_attribution_linear",
    oracle=f"""
    WITH t AS (
        SELECT user_id, epoch_us(ts) AS us, event_type, value
        FROM events),
    w AS (
        SELECT user_id, us, event_type, value,
               {", ".join(
                   f"COUNT(CASE WHEN event_type = '{c}' THEN 1 END) OVER "
                   f"(PARTITION BY user_id ORDER BY us "
                   f"RANGE BETWEEN {_ATTR_WINDOW_US} PRECEDING "
                   f"AND 1 PRECEDING) AS c_{c}"
                   for c in _TOUCH_CHANNELS)}
        FROM t),
    p AS (
        SELECT value,
               {" + ".join(f"c_{c}" for c in _TOUCH_CHANNELS)} AS k,
               {", ".join(f"c_{c}" for c in _TOUCH_CHANNELS)}
        FROM w WHERE event_type = 'purchase'),
    x AS (
        {" UNION ALL ".join(
            f"SELECT '{c}' AS channel, c_{c} AS cnt, "
            f"CASE WHEN k > 0 AND c_{c} > 0 "
            f"THEN ROUND(value * c_{c} / k, 6) ELSE 0 END AS credit "
            f"FROM p"
            for c in _TOUCH_CHANNELS)}
        UNION ALL
        SELECT 'direct', CASE WHEN k = 0 THEN 1 ELSE 0 END,
               CASE WHEN k = 0 THEN ROUND(value, 6) ELSE 0 END
        FROM p)
    SELECT channel,
           CAST(SUM(CASE WHEN cnt > 0 THEN 1 ELSE 0 END) AS BIGINT)
               AS n_conversions,
           ROUND(CAST(SUM(CAST(credit AS DECIMAL(18,6))) AS DOUBLE), 2)
               AS revenue
    FROM x GROUP BY channel HAVING SUM(cnt) > 0
    """,
)
def q_attribution_linear(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Linear multi-touch attribution: each purchase splits its value
    EQUALLY across every touch (non-purchase event) in the user's
    7-day lookback; no touches = 'direct' — the position-independent
    credit model next to q_attribution's last-touch.

    The classic implementation self-joins conversions to touches;
    here per-channel touch counts are RANGE-frame window counts over
    ONE user shuffle (the frame is [-7d, -1us] by event time), so
    channel credit = value x cnt_channel / k needs only the counts —
    pairs never materialize, join count is zero.  Per-conversion
    credits round to 6 then sum as DECIMAL (registry determinism
    rules); the oracle replays the same integer-microsecond range
    frames on DuckDB."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        F.unix_micros(F.col("ts")).alias("us"),
        "event_type",
        "value",
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("us")
        .rangeBetween(-_ATTR_WINDOW_US, -1)
    )
    cnts = {
        c: F.count(F.when(F.col("event_type") == c, 1)).over(w)
        for c in _TOUCH_CHANNELS
    }
    p = (
        e.select(
            "event_type",
            "value",
            *[cnts[c].alias(f"c_{c}") for c in _TOUCH_CHANNELS],
        )
        .filter(F.col("event_type") == "purchase")
        .withColumn(
            "k", sum(F.col(f"c_{c}") for c in _TOUCH_CHANNELS)
        )
    )
    credit = lambda c: F.when(
        (F.col("k") > 0) & (F.col(f"c_{c}") > 0),
        F.round(F.col("value") * F.col(f"c_{c}") / F.col("k"), 6),
    ).otherwise(F.lit(0.0))
    branches = [
        F.struct(
            F.lit(c).alias("channel"),
            F.col(f"c_{c}").cast("long").alias("cnt"),
            credit(c).alias("credit"),
        )
        for c in _TOUCH_CHANNELS
    ] + [
        F.struct(
            F.lit("direct").alias("channel"),
            F.when(F.col("k") == 0, 1).otherwise(0).cast("long").alias("cnt"),
            F.when(F.col("k") == 0, F.round(F.col("value"), 6))
            .otherwise(F.lit(0.0))
            .alias("credit"),
        )
    ]
    x = p.select(F.explode(F.array(*branches)).alias("s")).select(
        "s.channel", "s.cnt", "s.credit"
    )
    return (
        x.groupBy("channel")
        .agg(
            F.sum((F.col("cnt") > 0).cast("long"))
            .cast("long")
            .alias("n_conversions"),
            F.round(
                F.sum(F.col("credit").cast("decimal(18,6)")).cast("double"),
                2,
            ).alias("revenue"),
            F.sum("cnt").alias("_tot"),
        )
        .filter(F.col("_tot") > 0)
        .drop("_tot")
    )


@query(
    "q_churn_labels",
    oracle="""
    SELECT user_id,
           CAST(COUNT(CASE WHEN event_type = 'purchase'
                            AND ts <= TIMESTAMP '2024-01-16 00:00:00'
                           THEN 1 END) AS BIGINT) AS n_purchases,
           CAST(SUM(CASE WHEN event_type = 'purchase'
                          AND ts <= TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(ROUND(value * 100, 0) AS BIGINT)
                         ELSE 0 END) AS BIGINT) AS total_cents,
           CAST(date_diff('day',
                MAX(CASE WHEN event_type = 'purchase'
                          AND ts <= TIMESTAMP '2024-01-16 00:00:00'
                         THEN CAST(ts AS DATE) END),
                DATE '2024-01-16') AS BIGINT) AS days_since_last,
           CAST(COUNT(CASE WHEN ts <= TIMESTAMP '2024-01-16 00:00:00'
                           THEN 1 END) AS BIGINT) AS n_events,
           CAST(CASE WHEN COUNT(CASE WHEN event_type = 'purchase'
                     AND ts >  TIMESTAMP '2024-01-16 00:00:00'
                     AND ts <= TIMESTAMP '2024-01-19 00:00:00'
                    THEN 1 END) = 0 THEN 1 ELSE 0 END AS BIGINT)
               AS churned
    FROM events
    GROUP BY user_id
    HAVING COUNT(CASE WHEN event_type = 'purchase'
                       AND ts <= TIMESTAMP '2024-01-16 00:00:00'
                      THEN 1 END) > 0
    """,
)
def q_churn_labels(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe churn training-set construction — the
    label-generation step every supervised pipeline runs and the
    classic place temporal leakage sneaks in: features may only see
    events up to the cutoff (2024-01-16), the label only the window
    AFTER it (no purchase in the next 3 days = churned — at the
    testdata's purchase rate a 14-day horizon labels nobody churned
    and the label column is vacuous; the degeneracy audit pins ~25%
    positives instead).  Both sides
    are CASE-gated aggregates over ONE user shuffle of ONE scan — the
    cutoff is enforced per-expression, so no join, no second pass,
    and no way for a future event to contaminate a feature column.
    Integer cents keep monetary features engine-exact; users with no
    pre-cutoff purchase drop (nothing to featurize)."""
    ev = load_table(spark, sf_dir, "events")
    cut = F.lit("2024-01-16 00:00:00").cast("timestamp")
    horizon = F.lit("2024-01-19 00:00:00").cast("timestamp")
    is_purchase = F.col("event_type") == "purchase"
    pre = F.col("ts") <= cut
    fut = is_purchase & (F.col("ts") > cut) & (F.col("ts") <= horizon)
    n_purchases = F.count(F.when(is_purchase & pre, 1))
    return (
        ev.groupBy("user_id")
        .agg(
            n_purchases.cast("long").alias("n_purchases"),
            F.sum(
                F.when(
                    is_purchase & pre,
                    F.round(F.col("value") * 100, 0).cast("long"),
                ).otherwise(0)
            )
            .cast("long")
            .alias("total_cents"),
            F.datediff(
                F.lit("2024-01-16").cast("date"),
                F.max(F.when(is_purchase & pre, F.to_date("ts"))),
            )
            .cast("long")
            .alias("days_since_last"),
            F.count(F.when(pre, 1)).cast("long").alias("n_events"),
            F.when(F.count(F.when(fut, 1)) == 0, 1)
            .otherwise(0)
            .cast("long")
            .alias("churned"),
        )
        .filter(F.col("n_purchases") > 0)
    )


@query(
    "q_conversion_lag",
    oracle="""
    WITH lagged AS (
        SELECT event_type,
               epoch_us(ts) - LAST_VALUE(CASE WHEN event_type = 'view'
                                              THEN epoch_us(ts) END
                                         IGNORE NULLS)
                   OVER (PARTITION BY user_id ORDER BY ts, event_id
                         ROWS BETWEEN UNBOUNDED PRECEDING
                                  AND 1 PRECEDING) AS lag_us
        FROM events),
    conv AS (
        SELECT CASE WHEN lag_us IS NULL THEN -1
                    ELSE LEAST(CAST(FLOOR(lag_us / 1800000000.0) AS BIGINT)
                               * 30, 1440) END AS bucket_minutes
        FROM lagged WHERE event_type = 'purchase')
    SELECT bucket_minutes,
           CAST(COUNT(*) AS BIGINT) AS n_conversions
    FROM conv GROUP BY bucket_minutes
    """,
)
def q_conversion_lag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """View-to-purchase latency distribution: each purchase pairs with
    the user's most recent prior view (running IGNORE-NULLS window —
    the as-of shape, no self-join) and the lag folds into 30-minute
    histogram buckets capped at 24h (-1 = no prior view) — the
    conversion-latency curve that sizes attribution windows and
    session gaps (q_attribution_linear's 7-day lookback is the knob
    this chart justifies).  One user shuffle, then a bucket-sized
    aggregate; integer-microsecond lag arithmetic is engine-exact."""
    e = load_table(spark, sf_dir, "events").select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.unix_micros(F.col("ts")).alias("us"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    last_view = F.last(
        F.when(F.col("event_type") == "view", F.col("us")),
        ignorenulls=True,
    ).over(w)
    # materialize lag_us BEFORE filtering: deriving the bucket from the
    # window expression after the purchase filter would re-plan the
    # window over purchases only
    lagc = F.col("lag_us")
    bucket = F.when(lagc.isNull(), F.lit(-1)).otherwise(
        F.least(
            F.floor(lagc / 1_800_000_000.0).cast("long") * 30,
            F.lit(1440),
        )
    )
    return (
        e.withColumn("lag_us", F.col("us") - last_view)
        .filter(F.col("event_type") == "purchase")
        .select(bucket.cast("long").alias("bucket_minutes"))
        .groupBy("bucket_minutes")
        .agg(F.count("*").cast("long").alias("n_conversions"))
    )


@query(
    "q_point_in_time",
    oracle="""
    WITH daily AS (
        SELECT user_id, CAST(ts AS DATE) AS day,
               CAST(COUNT(*) AS BIGINT) AS day_np,
               CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) AS BIGINT)
                   AS day_cents
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, CAST(ts AS DATE)),
    snap AS (
        SELECT user_id, day,
               CAST(SUM(day_np) OVER w AS BIGINT) AS feat_n_purchases,
               CAST(SUM(day_cents) OVER w AS BIGINT) AS feat_cents
        FROM daily
        WINDOW w AS (PARTITION BY user_id ORDER BY day
                     ROWS UNBOUNDED PRECEDING)),
    labels AS (
        SELECT event_id, user_id, CAST(ts AS DATE) AS day
        FROM events WHERE event_type = 'purchase')
    SELECT l.event_id, l.user_id,
           strftime(l.day, '%Y-%m-%d') AS day,
           s.feat_n_purchases, s.feat_cents
    FROM labels l ASOF LEFT JOIN snap s
      ON l.user_id = s.user_id AND l.day > s.day
    """,
)
def q_point_in_time(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Feature-store point-in-time join: each label row (a purchase)
    picks up the latest daily feature snapshot STRICTLY BEFORE its
    day — the correctness core of a feature store, where `>=` instead
    of `>` silently trains on the event being predicted.  The oracle
    states the semantics as DuckDB's native ASOF JOIN with a strict
    bound; the Spark plan is the union-window as-of (one user_id
    shuffle, no inequality join): snapshots and labels union with a
    side tag ordered so a label at day d sees only snapshots at day
    <= d-1, and every feature column rides the same window as its own
    last(ignorenulls).  Features here are cumulative purchase
    count/cents — the multi-column snapshot shape; NULL features mark
    first-ever purchases (nothing to know yet), which is the honest
    cold-start answer."""
    ev = load_table(spark, sf_dir, "events").filter(
        F.col("event_type") == "purchase"
    )
    daily = ev.groupBy(
        "user_id", F.to_date("ts").alias("day")
    ).agg(
        F.count("*").alias("day_np"),
        F.sum(F.round(F.col("value") * 100, 0).cast("long")).alias(
            "day_cents"
        ),
    )
    wc = (
        Window.partitionBy("user_id")
        .orderBy("day")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    snap = daily.select(
        "user_id",
        "day",
        F.sum("day_np").over(wc).cast("long").alias("np"),
        F.sum("day_cents").over(wc).cast("long").alias("cents"),
        F.lit(None).cast("long").alias("event_id"),
        F.lit(0).alias("side"),
    )
    labels = ev.select(
        "user_id",
        F.to_date("ts").alias("day"),
        F.lit(None).cast("long").alias("np"),
        F.lit(None).cast("long").alias("cents"),
        "event_id",
        F.lit(1).alias("side"),
    )
    # order by (day, 1-side) puts same-day LABELS before the snapshot,
    # so the -1 frame cannot reach a label's own-day snapshot — this
    # ordering IS the strict `>` bound (with plain (day, side) the
    # same-day snapshot would leak into the frame)
    u = snap.unionByName(labels)
    wl = (
        Window.partitionBy("user_id")
        .orderBy("day", (F.lit(1) - F.col("side")))
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    out = u.select(
        "event_id",
        "user_id",
        "day",
        "side",
        F.last("np", ignorenulls=True).over(wl).alias("feat_n_purchases"),
        F.last("cents", ignorenulls=True).over(wl).alias("feat_cents"),
    )
    return out.filter(F.col("side") == 1).select(
        "event_id",
        "user_id",
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        "feat_n_purchases",
        "feat_cents",
    )


@query(
    "q_holt_winters",
    oracle="""
    WITH RECURSIVE daily AS (
        SELECT event_type, strftime(date_trunc('day', ts), '%Y-%m-%d')
                   AS d,
               CAST(COUNT(*) AS DOUBLE) AS y
        FROM events GROUP BY 1, 2),
    idx AS (
        SELECT *, ROW_NUMBER() OVER (PARTITION BY event_type
                      ORDER BY d) AS rn
        FROM daily),
    mx AS (SELECT event_type, CAST(MAX(rn) AS BIGINT) AS n
           FROM idx GROUP BY event_type),
    hw(event_type, rn, l, b, sae) AS (
        SELECT event_type, CAST(1 AS BIGINT), y, CAST(0 AS DOUBLE),
               CAST(0 AS DECIMAL(28,9))
        FROM idx WHERE rn = 1
        UNION ALL
        SELECT i.event_type, i.rn,
               ROUND(CAST(0.3 AS DOUBLE) * i.y
                     + CAST(0.7 AS DOUBLE) * (h.l + h.b), 9),
               ROUND(CAST(0.1 AS DOUBLE)
                       * (ROUND(CAST(0.3 AS DOUBLE) * i.y
                                + CAST(0.7 AS DOUBLE) * (h.l + h.b), 9)
                          - h.l)
                     + CAST(0.9 AS DOUBLE) * h.b, 9),
               CAST(h.sae + CAST(ROUND(ABS(i.y - (h.l + h.b)), 9)
                                 AS DECIMAL(28,9)) AS DECIMAL(28,9))
        FROM hw h JOIN idx i
          ON i.event_type = h.event_type AND i.rn = h.rn + 1)
    SELECT h.event_type, m.n AS n_days,
           ROUND(h.l, 6) AS level, ROUND(h.b, 6) AS trend,
           ROUND(h.l + 7 * h.b, 6) AS forecast_7,
           ROUND(CAST(h.sae AS DOUBLE) / (m.n - 1), 6) AS mae
    FROM hw h JOIN mx m USING (event_type)
    WHERE h.rn = m.n
    """,
)
def q_holt_winters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Holt double-exponential smoothing (level + trend) of each event
    type's daily volume, with the one-step-ahead MAE of the fitted run
    and a 7-day-out forecast — the workhorse capacity/anomaly
    forecaster one notch above q_forecast_backtest's seasonal-naive
    baseline.

    Scale shape: the recursion is inherently sequential IN TIME but
    embarrassingly parallel ACROSS series — the standard forecasting
    layout at scale (M series x bounded calendar): one shuffle to the
    (series, day) grain, then applyInPandas runs each series'
    recurrence in one Arrow batch.  Per-step level/trend round to 9
    decimals and the error total accumulates in integer nanounits, so
    the trajectory is engine-exact; the oracle replays it with a
    recursive CTE stepping all series in lockstep."""
    import pandas as pd

    from clv_data_pipeline_spark.registry import ensure_worker_imports

    ensure_worker_imports(spark)
    ev = load_table(spark, sf_dir, "events")
    daily = ev.groupBy(
        "event_type",
        F.date_format(F.date_trunc("day", "ts"), "yyyy-MM-dd").alias("d"),
    ).agg(F.count("*").cast("double").alias("y"))

    def _fit(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values("d")
        ys = pdf["y"].to_list()
        lvl, b = ys[0], 0.0
        sae_nano = 0
        for y in ys[1:]:
            err = round(abs(y - (lvl + b)), 9)
            sae_nano += int(round(err * 1e9))
            l_new = round(0.3 * y + 0.7 * (lvl + b), 9)
            b = round(0.1 * (l_new - lvl) + 0.9 * b, 9)
            lvl = l_new
        n = len(ys)
        return pd.DataFrame(
            {
                "event_type": [pdf["event_type"].iloc[0]],
                "n_days": [n],
                "level": [round(lvl, 6)],
                "trend": [round(b, 6)],
                "forecast_7": [round(lvl + 7 * b, 6)],
                "mae": [round((sae_nano / 1e9) / (n - 1), 6)],
            }
        )

    return daily.groupBy("event_type").applyInPandas(
        _fit,
        "event_type string, n_days long, level double, trend double, "
        "forecast_7 double, mae double",
    )


_MARKOV_CHANNELS = ("click", "error", "signup", "view")
_MARKOV_ITERS = 12


def _markov_attribution_oracle() -> str:
    """Unrolled absorption iterations for the full chain + one
    removed-channel variant per channel (q_pagerank discipline: the
    oracle replays the exact fixed trajectory, with per-term
    round-12 DECIMAL sums and round-9 state values)."""
    def p_chain(tag: str, removed: str | None) -> str:
        ctes = [f"""
    p_{tag}_0 AS MATERIALIZED (
        SELECT state,
               CASE WHEN state = 'conv' THEN CAST(1 AS DOUBLE)
                    ELSE CAST(0 AS DOUBLE) END AS p
        FROM st)"""]
        rm = (
            f"WHEN s.state = '{removed}' THEN CAST(0 AS DOUBLE)"
            if removed
            else ""
        )
        for k in range(1, _MARKOV_ITERS + 1):
            ctes.append(f"""
    p_{tag}_{k} AS MATERIALIZED (
        SELECT s.state,
               CASE WHEN s.state = 'conv' THEN CAST(1 AS DOUBLE)
                    WHEN s.state = 'null' THEN CAST(0 AS DOUBLE)
                    {rm}
                    ELSE ROUND(COALESCE(CAST(agg.v AS DOUBLE), 0), 9)
               END AS p
        FROM st s LEFT JOIN (
            SELECT t.src,
                   SUM(CAST(ROUND(t.p * pk.p, 12) AS DECIMAL(28,12)))
                       AS v
            FROM tr t JOIN p_{tag}_{k - 1} pk ON t.dst = pk.state
            GROUP BY t.src) agg ON s.state = agg.src)""")
        return ",".join(ctes)

    chains = [p_chain("full", None)] + [
        p_chain(c, c) for c in _MARKOV_CHANNELS
    ]
    effects = "\n    UNION ALL\n".join(
        f"""    SELECT '{c}' AS channel,
           ROUND(1 - (SELECT p FROM p_{c}_{_MARKOV_ITERS}
                      WHERE state = 'start')
                     / (SELECT p FROM p_full_{_MARKOV_ITERS}
                        WHERE state = 'start'), 6) AS removal_effect"""
        for c in _MARKOV_CHANNELS
    )
    return f"""
    WITH ord AS (
        SELECT user_id, event_type,
               ROW_NUMBER() OVER (PARTITION BY user_id
                   ORDER BY ts, event_id) AS rn
        FROM events),
    fp AS (SELECT user_id, MIN(rn) AS prn FROM ord
           WHERE event_type = 'purchase' GROUP BY user_id),
    path AS (
        SELECT o.user_id, o.rn,
               CASE WHEN o.event_type = 'purchase' THEN 'conv'
                    ELSE o.event_type END AS state
        FROM ord o LEFT JOIN fp USING (user_id)
        WHERE fp.prn IS NULL OR o.rn <= fp.prn),
    hops AS (
        SELECT user_id, rn, state,
               LAG(state) OVER (PARTITION BY user_id ORDER BY rn)
                   AS prev,
               MAX(rn) OVER (PARTITION BY user_id) AS mx
        FROM path),
    edges AS (
        SELECT COALESCE(prev, 'start') AS src, state AS dst FROM hops
        UNION ALL
        SELECT state, 'null' FROM hops WHERE rn = mx AND state <> 'conv'),
    tc AS MATERIALIZED (SELECT src, dst, CAST(COUNT(*) AS DOUBLE) AS n
           FROM edges GROUP BY src, dst),
    tot AS (SELECT src, SUM(n) AS o FROM tc GROUP BY src),
    tr AS MATERIALIZED (SELECT tc.src, tc.dst, ROUND(tc.n / tot.o, 9) AS p
           FROM tc JOIN tot USING (src)),
    st AS MATERIALIZED (
        SELECT src AS state FROM tc
        UNION SELECT dst FROM tc
        UNION SELECT 'conv' UNION SELECT 'null'),
    {','.join(chains)},
    eff AS (
{effects}
    ),
    tot_eff AS (SELECT SUM(CAST(ROUND(GREATEST(removal_effect, 0), 6)
                                 AS DECIMAL(18,6))) AS te FROM eff)
    SELECT e.channel, e.removal_effect,
           ROUND(CAST(GREATEST(e.removal_effect, 0) AS DOUBLE)
                 / CAST(t.te AS DOUBLE), 6) AS attribution
    FROM eff e CROSS JOIN tot_eff t
    """


@query("q_markov_attribution", oracle=_markov_attribution_oracle())
def q_markov_attribution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Markov removal-effect attribution — the data-driven credit
    model above q_attribution (last-touch) and q_attribution_linear
    (equal split): build the first-order journey chain (start ->
    touches -> conv at the first purchase / null at journey end),
    then credit each channel by how much the conversion probability
    drops when that channel's state is absorbed to null (Anderl et
    al.'s removal effect), normalized to attribution shares.

    Scale shape: the corpus-sized work is ONE user-partitioned window
    sweep + a (src, dst) count aggregation; the chain itself is
    bounded by the channel vocabulary (~7 states), so the absorption
    solve — 12 fixed damped-free iterations per variant, values
    rounded to 9, term sums in exact 1e-12 units — runs driver-side
    on the collected transition table, exactly the BG/NBD fit-barrier
    pattern.  The oracle unrolls every variant's trajectory, so the
    driver hash-verifies the Markov solve end to end."""
    e = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    ordd = e.select(
        "user_id", "event_type", F.row_number().over(w).alias("rn")
    )
    fp = (
        ordd.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("rn").alias("prn"))
    )
    path = (
        ordd.join(fp, "user_id", "left")
        .filter(F.col("prn").isNull() | (F.col("rn") <= F.col("prn")))
        .select(
            "user_id",
            "rn",
            F.when(F.col("event_type") == "purchase", "conv")
            .otherwise(F.col("event_type"))
            .alias("state"),
        )
    )
    w2 = Window.partitionBy("user_id").orderBy("rn")
    wmx = Window.partitionBy("user_id")
    hops = path.select(
        "rn",
        "state",
        F.lag("state").over(w2).alias("prev"),
        F.max("rn").over(wmx).alias("mx"),
    )
    edges = hops.select(
        F.coalesce("prev", F.lit("start")).alias("src"),
        F.col("state").alias("dst"),
    ).unionByName(
        hops.filter(
            (F.col("rn") == F.col("mx")) & (F.col("state") != "conv")
        ).select(
            F.col("state").alias("src"), F.lit("null").alias("dst")
        )
    )
    tc = edges.groupBy("src", "dst").agg(
        F.count("*").cast("double").alias("n")
    )
    tot = tc.groupBy("src").agg(F.sum("n").alias("o"))
    tr_rows = (
        tc.join(tot, "src")
        .select("src", "dst", F.round(F.col("n") / F.col("o"), 9).alias("p"))
        .collect()
    )  # bounded: <= (channels + 3)^2 rows — the fit-barrier collect
    trans: dict[str, list[tuple[str, float]]] = {}
    states = {"conv", "null"}
    for r in tr_rows:
        trans.setdefault(r["src"], []).append((r["dst"], r["p"]))
        states.add(r["src"])
        states.add(r["dst"])

    def absorb(removed: str | None) -> float:
        p = {s: (1.0 if s == "conv" else 0.0) for s in states}
        for _ in range(_MARKOV_ITERS):
            nxt = {}
            for s in states:
                if s == "conv":
                    nxt[s] = 1.0
                elif s == "null" or s == removed:
                    nxt[s] = 0.0
                else:
                    units = sum(
                        int(round(round(pr * p[d], 12) * 1e12))
                        for d, pr in sorted(trans.get(s, []))
                    )
                    nxt[s] = round(units / 1e12, 9)
            p = nxt
        return p.get("start", 0.0)

    p_full = absorb(None)
    effects = [
        (c, round(1 - absorb(c) / p_full, 6)) for c in _MARKOV_CHANNELS
    ]
    te_units = sum(int(round(max(x, 0) * 1e6)) for _, x in effects)
    rows = [
        (
            c,
            x,
            round((int(round(max(x, 0) * 1e6)) / 1e6) / (te_units / 1e6), 6),
        )
        for c, x in effects
    ]
    return spark.createDataFrame(
        rows, "channel string, removal_effect double, attribution double"
    )


@query(
    "q_interval_join",
    oracle=f"""
    WITH {_SESSION_FLAGS_SQL},
    sessions AS (
        SELECT user_id,
               CAST(session_id AS BIGINT) AS session_id,
               MIN(epoch_us(ts)) AS s_s, MAX(epoch_us(ts)) AS s_e
        FROM (
            SELECT user_id, ts,
                   SUM(is_new) OVER (PARTITION BY user_id
                       ORDER BY ts, event_id
                       ROWS UNBOUNDED PRECEDING) AS session_id
            FROM flagged)
        GROUP BY user_id, session_id),
    pw AS (
        SELECT event_id AS purchase_id, user_id,
               epoch_us(ts) AS p_s, epoch_us(ts) + 3600000000 AS p_e
        FROM events WHERE event_type = 'purchase')
    SELECT s.user_id, s.session_id, p.purchase_id,
           CAST(LEAST(s.s_e, p.p_e) - GREATEST(s.s_s, p.p_s)
                AS BIGINT) AS overlap_us
    FROM sessions s JOIN pw p
      ON s.user_id = p.user_id
     AND s.s_s <= p.p_e AND p.p_s <= s.s_e
    """,
)
def q_interval_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Interval-OVERLAP join (both sides are intervals) — the shape
    q_range_join's point-in-interval bucketing does not cover: user
    sessions [start, end] x 1-hour post-purchase windows, emitting
    the overlap duration per (session, purchase) pair — the
    "which sessions did this promotion window touch" primitive.

    Scale shape: a raw two-sided range predicate beside the user key
    still ships every same-user pair; here BOTH interval sides
    explode to the 1-hour buckets they cover (sessions are gap-30min
    bounded so their bucket fan-out is small), the join becomes a
    hash join on (user_id, bucket) + residual overlap filter, and a
    distinct on the id pair removes multi-bucket double-counts —
    shuffle volume tracks matches, not same-user pairs.  Bucket
    arithmetic stays in integer microseconds (div) so boundaries land
    identically on both engines."""
    from clv_data_pipeline_spark.operators.sessions import session_stats

    hour = 3_600_000_000
    ev = load_table(spark, sf_dir, "events")
    sess = session_stats(ev, gap_seconds=1800).select(
        "user_id",
        F.col("session_id").cast("long").alias("session_id"),
        F.unix_micros("session_start").alias("s_s"),
        F.unix_micros("session_end").alias("s_e"),
    )
    pw = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        F.col("user_id").alias("p_user"),
        F.unix_micros("ts").alias("p_s"),
        (F.unix_micros("ts") + hour).alias("p_e"),
    )
    sb = sess.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"s_s div {hour}"), F.expr(f"s_e div {hour}")
            )
        ),
    )
    pb = pw.withColumn(
        "bucket",
        F.explode(
            F.sequence(
                F.expr(f"p_s div {hour}"), F.expr(f"p_e div {hour}")
            )
        ),
    )
    joined = sb.join(
        pb,
        (sb["user_id"] == pb["p_user"]) & (sb["bucket"] == pb["bucket"]),
    ).filter(
        (F.col("s_s") <= F.col("p_e")) & (F.col("p_s") <= F.col("s_e"))
    )
    return (
        joined.select(
            "user_id",
            "session_id",
            "purchase_id",
            (
                F.least("s_e", "p_e") - F.greatest("s_s", "p_s")
            ).cast("long").alias("overlap_us"),
        )
        .distinct()
    )


@query(
    "q_range_window",
    oracle="""
    WITH daily AS (
        SELECT event_type,
               CAST(date_diff('day', DATE '2024-01-01',
                    CAST(ts AS DATE)) AS BIGINT) AS day,
               CAST(SUM(CAST(ROUND(value, 6) AS DECIMAL(18,6)))
                    AS DECIMAL(18,6)) AS rev
        FROM events
        WHERE CAST(ts AS DATE) <> DATE '2024-01-10'
        GROUP BY 1, 2)
    SELECT event_type, day,
           CAST(rev AS DOUBLE) AS rev,
           CAST(SUM(rev) OVER (PARTITION BY event_type ORDER BY day
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rev_7d_range,
           CAST(SUM(rev) OVER (PARTITION BY event_type ORDER BY day
                ROWS BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS DOUBLE) AS rev_7row,
           CAST(COUNT(*) OVER (PARTITION BY event_type ORDER BY day
                RANGE BETWEEN 6 PRECEDING AND CURRENT ROW)
                AS BIGINT) AS days_present
    FROM daily
    """,
)
def q_range_window(spark: SparkSession, sf_dir: str) -> DataFrame:
    """RANGE-frame windows vs ROWS frames — the SQL-surface
    distinction that silently corrupts trailing metrics when the
    calendar has holes: a trailing "7-day revenue" must be RANGE
    BETWEEN 6 PRECEDING (value-based, skips missing days correctly),
    not ROWS BETWEEN 6 PRECEDING (physical rows — reaches back PAST
    the gap).  One day is excluded from the log to plant a real gap,
    and both frames are emitted side by side so the divergence after
    the gap is part of the hash-verified result, with days_present
    counting the actual RANGE population.

    Daily totals accumulate as DECIMAL (window sums exact and
    order-free); the frame is days x types.  Spark's rangeBetween on
    the integer day key compiles to the same specified-window
    RangeFrame Catalyst emits for SQL RANGE — no per-row expansion."""
    ev = load_table(spark, sf_dir, "events")
    daily = (
        ev.filter(
            F.to_date("ts") != F.lit("2024-01-10").cast("date")
        )
        .groupBy(
            "event_type",
            F.datediff(
                F.to_date("ts"), F.lit("2024-01-01").cast("date")
            )
            .cast("long")
            .alias("day"),
        )
        .agg(
            F.sum(
                F.round(F.col("value"), 6).cast("decimal(18,6)")
            )
            .cast("decimal(18,6)")
            .alias("rev")
        )
    )
    wrange = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rangeBetween(-6, 0)
    )
    wrows = (
        Window.partitionBy("event_type")
        .orderBy("day")
        .rowsBetween(-6, 0)
    )
    return daily.select(
        "event_type",
        "day",
        F.col("rev").cast("double").alias("rev"),
        F.sum("rev").over(wrange).cast("double").alias("rev_7d_range"),
        F.sum("rev").over(wrows).cast("double").alias("rev_7row"),
        F.count("*").over(wrange).cast("long").alias("days_present"),
    )


@query(
    "q_stl_decompose",
    oracle="""
    WITH daily AS (
        SELECT CAST(ts AS DATE) AS day,
               SUM(CAST(CASE WHEN CAST(ts AS DATE) = DATE '2024-01-25'
                             THEN value * 2 ELSE value END
                        AS DECIMAL(18,4))) AS x
        FROM events GROUP BY day),
    tr AS (
        SELECT day, x,
               ROUND(CAST(SUM(x) OVER w AS DOUBLE)
                     / COUNT(*) OVER w, 9) AS trend,
               CAST(strftime(day, '%w') AS BIGINT) AS dow
        FROM daily
        WINDOW w AS (ORDER BY day
                     ROWS BETWEEN 3 PRECEDING AND 3 FOLLOWING)),
    dt AS (
        SELECT *, ROUND(CAST(x AS DOUBLE) - trend, 9) AS d FROM tr),
    seas AS (
        SELECT dow,
               ROUND(CAST(SUM(CAST(d AS DECIMAL(28,9))) AS DOUBLE)
                     / COUNT(*), 9) AS seasonal
        FROM dt GROUP BY dow),
    dec AS (
        SELECT dt.day, dt.x, dt.trend, seas.seasonal,
               ROUND(CAST(dt.x AS DOUBLE) - dt.trend - seas.seasonal, 6)
                   AS resid
        FROM dt JOIN seas USING (dow)),
    mad AS (
        SELECT quantile_cont(ABS(resid), 0.5) AS mad FROM dec)
    SELECT strftime(dec.day, '%Y-%m-%d') AS day,
           ROUND(CAST(dec.x AS DOUBLE), 6) AS revenue,
           ROUND(dec.trend, 6) AS trend,
           ROUND(dec.seasonal, 6) AS seasonal,
           dec.resid,
           CAST(ABS(dec.resid) > 3 * mad.mad AS BOOLEAN) AS is_anomaly
    FROM dec CROSS JOIN mad
    """,
)
def q_stl_decompose(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Additive seasonal-trend decomposition of the daily revenue
    series (the classical-decomposition core of STL): trend = centered
    7-day moving average, seasonal = day-of-week mean of the
    detrended series, residual = what neither explains — plus a
    robust anomaly flag (|residual| > 3 x median-absolute-residual),
    the standard revenue-monitoring readout a metrics platform runs
    nightly; a deterministic 2x spike is planted on 2024-01-25 so the
    flag has a true anomaly to find.

    Scale shape: ONE shuffle folds the event log to the
    calendar-bounded daily frame; every window/aggregate after that
    (7-day moving sum, 7-row day-of-week means, the 1-row MAD
    broadcast) runs on series-length rows regardless of event volume.
    Determinism: daily revenue is an exact DECIMAL sum; the trend is
    one division rounded to 9; detrended values re-enter DECIMAL
    before the seasonal means — so every emitted component is an
    identical IEEE expression on both engines."""
    ev = load_table(spark, sf_dir, "events")
    # planted anomaly: double every value on 2024-01-25 (x2 is
    # float-exact) — the synthetic revenue series is smooth enough
    # that |resid| > 3*MAD never fired and is_anomaly was
    # constant-False (round-8 degeneracy audit).
    spike = F.when(
        F.to_date("ts") == F.lit("2024-01-25").cast("date"),
        F.col("value") * 2,
    ).otherwise(F.col("value"))
    daily = ev.groupBy(F.to_date("ts").alias("day")).agg(
        F.sum(spike.cast("decimal(18,4)")).alias("x")
    )
    w7 = Window.orderBy("day").rowsBetween(-3, 3)
    tr = daily.select(
        "day",
        "x",
        F.round(
            F.sum("x").over(w7).cast("double") / F.count("*").over(w7), 9
        ).alias("trend"),
        (F.dayofweek("day") - 1).cast("long").alias("dow"),
    )
    dt = tr.withColumn(
        "d", F.round(F.col("x").cast("double") - F.col("trend"), 9)
    )
    seas = dt.groupBy("dow").agg(
        F.round(
            F.sum(F.col("d").cast("decimal(28,9)")).cast("double")
            / F.count("*"),
            9,
        ).alias("seasonal")
    )
    dec = dt.join(F.broadcast(seas), "dow").select(
        "day",
        "x",
        "trend",
        "seasonal",
        F.round(
            F.col("x").cast("double") - F.col("trend") - F.col("seasonal"),
            6,
        ).alias("resid"),
    )
    mad = dec.agg(
        F.expr("percentile(abs(resid), 0.5)").alias("mad")
    )
    return dec.crossJoin(F.broadcast(mad)).select(
        F.date_format("day", "yyyy-MM-dd").alias("day"),
        F.round(F.col("x").cast("double"), 6).alias("revenue"),
        F.round("trend", 6).alias("trend"),
        F.round("seasonal", 6).alias("seasonal"),
        "resid",
        (F.abs(F.col("resid")) > 3 * F.col("mad")).alias("is_anomaly"),
    )
