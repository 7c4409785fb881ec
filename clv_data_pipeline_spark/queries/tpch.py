"""TPC-H-shape analytics: the join/agg/sort/window surface at scale
(SURVEY.md §2.4-2.6 + §7 step 9 extensions).

The reference itself contains zero joins, sorts, or windows — BigQuery
supplied them implicitly.  These queries make that capability surface
explicit on the driver's star schema, shaped like the classic TPC-H
workload so plan quality is directly judgeable:

- Q1-shape: wide partial-aggregatable scan agg (no join);
- Q3-shape: selective dim filter -> fact join -> top-k;
- Q5-shape: star join chain with two broadcastable dims;
- windows, top-k, union, distinct, gap-and-island sessionization.

All money sums accumulate as DECIMAL (exact, associative) and round at
the end — see registry.py determinism rules.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from clv_data_pipeline_spark.operators.sessions import session_stats
from clv_data_pipeline_spark.registry import query
from clv_data_pipeline_spark.sources.io import load_table


def _dec_sum(col: F.Column, scale: str = "decimal(25,6)") -> F.Column:
    """Exact associative money sum: per-row cast to decimal, sum, back
    to double.  Partial aggregation still applies (decimal sums merge)."""
    return F.sum(col.cast(scale)).cast("double")


_REVENUE = "CAST(l_extendedprice * (1 - l_discount) AS DECIMAL(25,6))"


@query(
    "q_tpch_q1",
    oracle=f"""
    SELECT l_returnflag, l_linestatus,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS sum_base_price,
           ROUND(CAST(SUM({_REVENUE}) AS DOUBLE), 2) AS sum_disc_price,
           ROUND(CAST(SUM(CAST((l_extendedprice * (1 - l_discount)) * (1 + l_tax)
                          AS DECIMAL(25,6))) AS DOUBLE), 2) AS sum_charge,
           ROUND(CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(*), 4) AS avg_price,
           ROUND(CAST(SUM(CAST(l_discount AS DECIMAL(18,6))) AS DOUBLE)
                 / COUNT(*), 6) AS avg_disc,
           COUNT(*) AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q_tpch_q1(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q1 pricing summary: the canonical partial-agg scan query.  One
    shuffle of (2-key x handful of groups) partial rows; the filter
    pushes to the parquet scan.
    """
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") <= F.lit("1998-09-02 00:00:00").cast("timestamp")
    )
    disc_price = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    charge = disc_price * (F.lit(1) + F.col("l_tax"))
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        _dec_sum(F.col("l_quantity"), "decimal(18,4)").alias("sum_qty"),
        F.round(
            _dec_sum(F.col("l_extendedprice"), "decimal(18,4)"), 2
        ).alias("sum_base_price"),
        F.round(_dec_sum(disc_price), 2).alias("sum_disc_price"),
        F.round(_dec_sum(charge), 2).alias("sum_charge"),
        F.round(
            _dec_sum(F.col("l_quantity"), "decimal(18,4)") / F.count("*"), 4
        ).alias("avg_qty"),
        F.round(
            _dec_sum(F.col("l_extendedprice"), "decimal(18,4)") / F.count("*"),
            4,
        ).alias("avg_price"),
        F.round(
            _dec_sum(F.col("l_discount"), "decimal(18,6)") / F.count("*"), 6
        ).alias("avg_disc"),
        F.count("*").alias("count_order"),
    )


@query(
    "q_tpch_q3",
    oracle=f"""
    SELECT l_orderkey,
           ROUND(CAST(SUM({_REVENUE}) AS DOUBLE), 2) AS revenue,
           strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS o_orderdate,
           o_orderpriority
    FROM customer JOIN orders ON c_custkey = o_custkey
                  JOIN lineitem ON l_orderkey = o_orderkey
    WHERE c_mktsegment = 'BUILDING'
      AND o_orderdate < TIMESTAMP '1997-03-15 00:00:00'
      AND l_shipdate  > TIMESTAMP '1997-03-15 00:00:00'
    GROUP BY l_orderkey, o_orderdate, o_orderpriority
    ORDER BY revenue DESC, l_orderkey
    LIMIT 10
    """,
)
def q_tpch_q3(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q3 shipping priority: selective dim filter -> fact joins -> top-k.

    customer(BUILDING) is small after the filter — Catalyst broadcasts
    it into the orders scan; the orders⋈lineitem join shuffles on the
    order key.  Top-k executes as TakeOrderedAndProject (no full sort).
    """
    c = load_table(spark, sf_dir, "customer").filter(
        F.col("c_mktsegment") == "BUILDING"
    )
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderdate") < F.lit("1997-03-15 00:00:00").cast("timestamp")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_shipdate") > F.lit("1997-03-15 00:00:00").cast("timestamp")
    )
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
    )
    return (
        joined.groupBy("l_orderkey", "o_orderdate", "o_orderpriority")
        .agg(F.round(_dec_sum(revenue), 2).alias("revenue"))
        .select(
            "l_orderkey",
            "revenue",
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            "o_orderpriority",
        )
        .orderBy(F.desc("revenue"), "l_orderkey")
        .limit(10)
    )


@query(
    "q_tpch_q5",
    oracle=f"""
    SELECT n_name,
           ROUND(CAST(SUM({_REVENUE}) AS DOUBLE), 2) AS revenue
    FROM customer
      JOIN orders   ON c_custkey = o_custkey
      JOIN lineitem ON l_orderkey = o_orderkey
      JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
      JOIN nation   ON c_nationkey = n_nationkey
      JOIN region   ON n_regionkey = r_regionkey
    WHERE r_name = 'ASIA'
      AND o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY n_name
    """,
)
def q_tpch_q5(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q5 star-join chain: region/nation/supplier are tiny dims —
    broadcast all three (explicit hints); only customer⋈orders⋈lineitem
    shuffle, each on its natural key.
    """
    r = F.broadcast(
        load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    )
    n = F.broadcast(load_table(spark, sf_dir, "nation"))
    s = F.broadcast(load_table(spark, sf_dir, "supplier"))
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    revenue = F.col("l_extendedprice") * (F.lit(1) - F.col("l_discount"))
    joined = (
        c.join(o, c.c_custkey == o.o_custkey)
        .join(li, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(
            s,
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(n, F.col("c_nationkey") == F.col("n_nationkey"))
        .join(r, F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy("n_name").agg(
        F.round(_dec_sum(revenue), 2).alias("revenue")
    )


@query(
    "q_topk",
    oracle="""
    SELECT o_orderkey, o_custkey, o_totalprice
    FROM orders ORDER BY o_totalprice DESC, o_orderkey LIMIT 10
    """,
)
def q_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: global top-k — TakeOrderedAndProject, not a full sort."""
    return (
        load_table(spark, sf_dir, "orders")
        .select("o_orderkey", "o_custkey", "o_totalprice")
        .orderBy(F.desc("o_totalprice"), "o_orderkey")
        .limit(10)
    )


@query(
    "q_window_rank",
    oracle="""
    SELECT * FROM (
        SELECT o_custkey, o_orderkey, o_totalprice,
               CAST(ROW_NUMBER() OVER (
                   PARTITION BY o_custkey
                   ORDER BY o_totalprice DESC, o_orderkey) AS BIGINT) AS rn
        FROM orders)
    WHERE rn <= 3
    """,
)
def q_window_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.5: per-group top-n via row_number — one shuffle on the
    partition key; the rank filter prunes during the window scan.
    """
    w = Window.partitionBy("o_custkey").orderBy(
        F.desc("o_totalprice"), "o_orderkey"
    )
    return (
        load_table(spark, sf_dir, "orders")
        .select(
            "o_custkey",
            "o_orderkey",
            "o_totalprice",
            F.row_number().over(w).cast("long").alias("rn"),
        )
        .filter(F.col("rn") <= 3)
    )


@query(
    "q_union",
    oracle="""
    SELECT event_id, event_type, value FROM events WHERE event_type = 'purchase'
    UNION ALL
    SELECT event_id, event_type, value FROM events WHERE value > 150.0
    """,
)
def q_union(spark: SparkSession, sf_dir: str) -> DataFrame:
    """U1/U2: union-all of homogeneous frames (reference
    dags/simulate_data.py:228 pd.concat / :149 np.concatenate).
    Union is metadata-only in Spark — no shuffle.
    """
    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type", "value"
    )
    return ev.filter(F.col("event_type") == "purchase").unionByName(
        ev.filter(F.col("value") > 150.0)
    )


@query(
    "q_distinct",
    oracle="SELECT DISTINCT event_type, user_id FROM events",
)
def q_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """A10-adjacent: distinct over two columns — hash agg, partial+final."""
    return load_table(spark, sf_dir, "events").select(
        "event_type", "user_id"
    ).distinct()


#: 30-minute-gap session starts: ``flagged`` (user_id, ts, event_id,
#: is_new) marks each event whose gap to the user's previous one
#: exceeds 1800 s (or that has none).
_SESSION_FLAGS_SQL = """ordered AS (
        SELECT user_id, ts, event_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN gap_us IS NULL OR gap_us > 1800 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered)"""

#: DuckDB twin of operators/sessions.session_stats: per-session event
#: count and first/last timestamp.
_SESSIONIZE_ORACLE = f"""
    WITH {_SESSION_FLAGS_SQL},
    sessions AS (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS session_id
        FROM flagged)
    SELECT user_id, session_id, COUNT(*) AS n_events,
           MIN(ts) AS session_start, MAX(ts) AS session_end
    FROM sessions GROUP BY user_id, session_id
    """


@query(
    "q_sessionize",
    oracle=_SESSIONIZE_ORACLE,
)
def q_sessionize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8 extension: gap-and-island sessionization (30 min gap) — the
    generator's burst structure (reference dags/simulate_data.py:180)
    made queryable.  See operators/sessions.py for the plan shape.
    """
    ev = load_table(spark, sf_dir, "events")
    return session_stats(ev, gap_seconds=1800)


@query(
    "q_moving_avg",
    oracle="""
    WITH scaled AS (
        SELECT event_id, user_id, epoch_us(ts) AS ts_us,
               CAST(CAST(value AS DECIMAL(18,4)) * 10000 AS BIGINT) AS v4
        FROM events),
    win AS (
        SELECT event_id, user_id,
               CAST(SUM(v4) OVER w AS BIGINT) AS s,
               COUNT(v4) OVER w AS n,
               CAST(COUNT(*) OVER w AS BIGINT) AS n_events_7d
        FROM scaled
        WINDOW w AS (PARTITION BY user_id ORDER BY ts_us
                     RANGE BETWEEN 604800000000 PRECEDING AND CURRENT ROW))
    SELECT event_id, user_id,
           FLOOR((s + 50 * n) / CAST(100 * n AS DOUBLE)) / 100.0
               AS avg_value_7d,
           n_events_7d
    FROM win
    """,
)
def q_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-RANGE window frame: per-user 7-day trailing average —
    event-time analytics beyond row frames.  The frame bound is integer
    epoch MICROseconds on both engines (fractional-second doubles vs
    truncated seconds would put boundary events in different frames).
    Small windows land the mean on exact .xx5 midpoints, where Spark
    (shortest-repr half-up) and DuckDB (true-binary round) disagree —
    so the 2-dp half-up rounding is done in scaled-integer arithmetic,
    identical IEEE ops on both engines."""
    ev = load_table(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_micros(F.col("ts")))
        .rangeBetween(-604_800_000_000, 0)
    )
    v4 = (F.col("value").cast("decimal(18,4)") * 10000).cast("long")
    s = F.sum(v4).over(w)
    n = F.count(v4).over(w)
    return ev.select(
        "event_id",
        "user_id",
        (F.floor((s + 50 * n) / (100 * n)) / 100.0).alias("avg_value_7d"),
        F.count("*").over(w).cast("long").alias("n_events_7d"),
    )


@query(
    "q_ewma",
    oracle="""
    WITH ordered AS (
        SELECT user_id, CAST(value AS DOUBLE) AS v,
               ROW_NUMBER() OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS rn,
               COUNT(*) OVER (PARTITION BY user_id) AS n
        FROM events),
    terms AS (
        SELECT user_id, n,
               CASE WHEN rn = 1
                    THEN v * POWER(0.7, n - 1)
                    ELSE v * 0.3 * POWER(0.7, n - rn) END AS t
        FROM ordered)
    SELECT user_id, CAST(n AS BIGINT) AS n_events,
           ROUND(CAST(SUM(CAST(ROUND(t, 9) AS DECIMAL(28,9))) AS DOUBLE), 6)
               AS ewma_value
    FROM terms GROUP BY user_id, n
    """,
)
def q_ewma(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user exponentially weighted moving average of event value
    (alpha=0.3) — the recency-weighted signal feature stores keep next
    to plain trailing means (q_moving_avg).  The recursion s_n =
    a*v_n + (1-a)*s_(n-1) unrolls to a closed-form weighted sum, so it
    computes as ONE window pass + one aggregation instead of a
    sequential fold: weight_i = a*(1-a)^(n-i), with the first
    observation carrying (1-a)^(n-1).  Determinism: each term rounds
    to 9 places and accumulates as exact DECIMAL (POWER is one libm
    call on identical doubles in both engines, same precedent as
    q_bm25's ln)."""
    ev = load_table(spark, sf_dir, "events")
    wo = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    alpha = 0.3
    ordered = ev.select(
        "user_id",
        F.col("value").cast("double").alias("v"),
        F.row_number().over(wo).alias("rn"),
        F.count("*").over(wn).alias("n"),
    )
    term = F.when(
        F.col("rn") == 1,
        F.col("v") * F.pow(F.lit(1 - alpha), F.col("n") - 1),
    ).otherwise(
        F.col("v")
        * F.lit(alpha)
        * F.pow(F.lit(1 - alpha), F.col("n") - F.col("rn"))
    )
    return (
        ordered.select(
            "user_id", "n", F.round(term, 9).cast("decimal(28,9)").alias("t")
        )
        .groupBy("user_id", "n")
        .agg(F.round(F.sum("t").cast("double"), 6).alias("ewma_value"))
        .select(
            "user_id",
            F.col("n").cast("long").alias("n_events"),
            "ewma_value",
        )
    )


@query(
    "q_event_gaps",
    oracle="""
    WITH gaps AS (
        SELECT user_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events)
    SELECT user_id,
           CAST(COUNT(gap_us) AS BIGINT) AS n_gaps,
           CAST(MIN(gap_us) AS BIGINT) AS min_gap_us,
           CAST(MAX(gap_us) AS BIGINT) AS max_gap_us,
           CAST(SUM(gap_us) AS BIGINT) AS total_gap_us
    FROM gaps GROUP BY user_id
    """,
)
def q_event_gaps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """lag-based inter-event gap statistics per user — integer
    microsecond arithmetic end to end, so no rounding is needed."""
    ev = load_table(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    us = F.unix_micros(F.col("ts"))
    gaps = ev.select(
        "user_id", (us - F.lag(us).over(w)).alias("gap_us")
    )
    return gaps.groupBy("user_id").agg(
        F.count("gap_us").alias("n_gaps"),
        F.min("gap_us").alias("min_gap_us"),
        F.max("gap_us").alias("max_gap_us"),
        F.sum("gap_us").alias("total_gap_us"),
    )


@query(
    "q_asof_join",
    oracle="""
    WITH r AS (
        SELECT user_id, epoch_us(ts) AS ts_us,
               arg_max(value, event_id) AS pv
        FROM events WHERE event_type = 'purchase'
        GROUP BY user_id, epoch_us(ts)),
    l AS (SELECT event_id, user_id, epoch_us(ts) AS ts_us FROM events)
    SELECT l.event_id, l.user_id, r.pv AS last_purchase_value
    FROM l ASOF LEFT JOIN r
      ON l.user_id = r.user_id AND l.ts_us >= r.ts_us
    """,
)
def q_asof_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """As-of join — an operator Spark lacks natively: each event picks
    up the most recent purchase value at-or-before its timestamp, per
    user (DuckDB expresses it as ASOF LEFT JOIN).

    Scale-first formulation: a naive ``l.ts >= r.ts`` inequality join
    would degenerate into a per-key cross product (Spark plans it as
    broadcast-nested-loop).  Instead both sides are UNIONed with a side
    tag and a single window pass takes ``last(value, ignorenulls)``
    over (ts, side) order — one shuffle on user_id, linear in rows,
    survives any scale.  Right rows sort before left rows at equal ts,
    matching ASOF's ``>=`` bound; purchases are deduped per (user, µs)
    by max event_id so ties are deterministic on both engines.
    """
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    right = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id", us.alias("ts_us"))
        .agg(F.max_by("value", "event_id").alias("pv"))
        .select(
            F.lit(None).cast("long").alias("event_id"),
            "user_id",
            "ts_us",
            "pv",
            F.lit(0).alias("side"),
        )
    )
    left = ev.select(
        "event_id",
        "user_id",
        us.alias("ts_us"),
        F.lit(None).cast("double").alias("pv"),
        F.lit(1).alias("side"),
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts_us", "side")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    return (
        left.unionByName(right)
        .withColumn("last_purchase_value", F.last("pv", ignorenulls=True).over(w))
        .filter(F.col("side") == 1)
        .select("event_id", "user_id", "last_purchase_value")
    )


@query(
    "q_range_join",
    oracle="""
    WITH p AS (
        SELECT event_id AS purchase_id, user_id,
               epoch_us(ts) AS s_us, epoch_us(ts) + 3600000000 AS e_us
        FROM events WHERE event_type = 'purchase'),
    e AS (
        SELECT event_id, user_id, epoch_us(ts) AS t_us
        FROM events WHERE event_type = 'error')
    SELECT p.purchase_id,
           CAST(COUNT(e.event_id) AS BIGINT) AS n_errors_1h
    FROM p LEFT JOIN e
      ON e.user_id = p.user_id AND e.t_us >= p.s_us AND e.t_us < p.e_us
    GROUP BY p.purchase_id
    """,
)
def q_range_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Range (interval) join: per purchase, count same-user error
    events inside the following hour — the attribution-window shape.

    Scale-first formulation: a raw ``t BETWEEN s AND e`` predicate
    beside the equi-key still ships every same-user pair through the
    join before filtering, and without the key it degenerates to a
    nested-loop.  Here each 1-hour window explodes to the 1-2 hour
    BUCKETS it overlaps and events key by their bucket, turning the
    range condition into a hash join on (user_id, bucket) + residual
    filter — shuffle volume proportional to matches, not to pairs.
    Bucket arithmetic stays in integer µs (``div``) so boundary events
    land identically on both engines.
    """
    hour = 3_600_000_000
    ev = load_table(spark, sf_dir, "events")
    us = F.unix_micros(F.col("ts"))
    p = ev.filter(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("purchase_id"),
        "user_id",
        us.alias("s_us"),
        (us + hour).alias("e_us"),
    )
    e = ev.filter(F.col("event_type") == "error").select(
        F.col("event_id").alias("err_id"),
        F.col("user_id").alias("e_user"),
        us.alias("t_us"),
        F.expr(f"unix_micros(ts) div {hour}").alias("bucket"),
    )
    pb = p.withColumn(
        "bucket",
        F.explode(
            F.array_distinct(
                F.array(
                    F.expr(f"s_us div {hour}"), F.expr(f"(e_us - 1) div {hour}")
                )
            )
        ),
    )
    matched = (
        pb.join(
            e,
            (pb["user_id"] == e["e_user"])
            & (pb["bucket"] == e["bucket"])
            & (e["t_us"] >= pb["s_us"])
            & (e["t_us"] < pb["e_us"]),
        )
        .groupBy("purchase_id")
        .agg(F.count("err_id").alias("n_errors_1h"))
    )
    return p.select("purchase_id").join(matched, "purchase_id", "left").select(
        "purchase_id",
        F.coalesce("n_errors_1h", F.lit(0)).cast("long").alias("n_errors_1h"),
    )


@query(
    "q_stream_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS total_value
    FROM events GROUP BY 1
    """,
)
def q_stream_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily tumbling-window counts computed by the REAL Structured
    Streaming engine (file source -> windowed agg -> availableNow ->
    memory sink), then compared against the same DuckDB oracle as the
    batch twin — streaming and batch must agree bit-for-bit on
    completed windows.  (No count-distinct: distinct aggregation is
    unsupported in streaming; the HLL variant lives in streaming/.)
    """
    from clv_data_pipeline_spark.streaming.ingest import (
        drain_to_memory,
        table_file_stream,
    )

    agg = (
        table_file_stream(spark, sf_dir, "events")
        .groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "n_events",
            "total_value",
        )
    )
    return drain_to_memory(agg, "complete")


@query(
    "q_stream_sessions",
    oracle="""
    WITH ordered AS (
        SELECT user_id, ts, event_id,
               epoch_us(ts) - lag(epoch_us(ts)) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS gap_us
        FROM events),
    flagged AS (
        SELECT user_id, ts, event_id,
               CASE WHEN gap_us IS NULL OR gap_us >= 1800 * 1000000
                    THEN 1 ELSE 0 END AS is_new
        FROM ordered),
    sessions AS (
        SELECT user_id, ts,
               CAST(SUM(is_new) OVER (PARTITION BY user_id ORDER BY ts, event_id
                    ROWS UNBOUNDED PRECEDING) AS BIGINT) AS sid
        FROM flagged)
    SELECT user_id,
           MIN(ts) AS session_start,
           MAX(ts) + INTERVAL 30 MINUTE AS session_end,
           COUNT(*) AS n_events
    FROM sessions GROUP BY user_id, sid
    """,
)
def q_stream_sessions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sessionization on the REAL Structured Streaming engine:
    ``F.session_window`` (dynamic gap-close windows, the stateful op
    batch can't express with a plain tumbling window) over the event
    file stream, availableNow + memory sink — hash-checked against the
    batch gap-and-island oracle, so streaming and batch agree on every
    session boundary.

    Boundary semantics pinned deliberately: session_window merges two
    events iff the gap is STRICTLY less than 30 min (the second event
    must start before the first window closes), so the oracle's
    new-session test is ``gap >= 30 min`` — the batch q_sessionize
    uses > (SQL gap-and-island convention); identical on this data but
    asserted correctly per engine.  session_window.end is close time
    (last event + gap), mirrored as MAX(ts) + INTERVAL in the oracle.
    Complete output mode: with availableNow there is no unbounded
    state concern; the production path adds a watermark and append
    mode (streaming/ingest.py streaming_sessions)."""
    from clv_data_pipeline_spark.streaming.ingest import (
        drain_to_memory,
        table_file_stream,
    )

    sess = (
        table_file_stream(spark, sf_dir, "events")
        .groupBy(
            "user_id", F.session_window("ts", "30 minutes").alias("sw")
        )
        .agg(F.count("*").alias("n_events"))
        .select(
            "user_id",
            F.col("sw.start").alias("session_start"),
            F.col("sw.end").alias("session_end"),
            "n_events",
        )
    )
    return drain_to_memory(sess, "complete")


@query(
    "q_stream_rfm",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(SUM(CAST(ROUND(value * 100) AS BIGINT)) AS DOUBLE) / 100.0
               AS total_value,
           CAST(MIN(epoch_us(ts)) AS BIGINT) AS first_us,
           CAST(MAX(epoch_us(ts)) AS BIGINT) AS last_us
    FROM events GROUP BY user_id
    """,
)
def q_stream_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The custom STATEFUL streaming operator end-to-end:
    ``applyInPandasWithState`` folds each micro-batch into one small
    per-user RFM partial (count/sum/min/max — O(delta) per trigger,
    the streaming answer to the reference's full CREATE-OR-REPLACE
    recompute, dags/clv_data_dag.py:80), run over the event file
    stream with availableNow and hash-checked against the batch
    aggregate oracle — proving the stateful fold is exactly
    re-aggregable, not just plausible.

    Determinism: values fold as integer CENTS (exact in float64 up to
    2^53), so the pandas accumulation order inside the state function
    cannot perturb the sum; the /100.0 at the end is one identical
    IEEE754 division on both engines.  Multiple triggers emit multiple
    snapshots per user in update mode; the final state row per user is
    selected by max n_events (snapshots are monotone)."""
    from clv_data_pipeline_spark.streaming.ingest import (
        drain_to_memory,
        table_file_stream,
    )
    from clv_data_pipeline_spark.streaming.stateful import running_user_stats

    cents = table_file_stream(spark, sf_dir, "events").withColumn(
        "value", F.round(F.col("value") * 100)
    )
    snap = running_user_stats(cents)
    out = drain_to_memory(snap, "update")
    w = Window.partitionBy("user_id").orderBy(
        F.desc("n_events"), F.desc("last_us")
    )
    return (
        out.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select(
            "user_id",
            "n_events",
            (F.col("total_value") / 100.0).alias("total_value"),
            "first_us",
            "last_us",
        )
    )


@query(
    "q_stream_join",
    oracle="""
    SELECT CAST(p.event_id AS BIGINT) AS purchase_id,
           CAST(v.event_id AS BIGINT) AS view_id,
           CAST(p.user_id AS BIGINT) AS user_id
    FROM events p JOIN events v
      ON p.event_type = 'purchase' AND v.event_type = 'view'
     AND p.user_id = v.user_id
     AND v.ts BETWEEN p.ts - INTERVAL 1 HOUR AND p.ts
    """,
)
def q_stream_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stream-stream interval join on the REAL Structured Streaming
    engine: purchases join the same user's views from the preceding
    hour (attribution), both sides watermarked so the view-side state
    is bounded — the watermark plus the join's time-range condition is
    what lets an infinite stream drop view state once no future
    purchase can reach it.  availableNow + memory sink; the emitted
    pair set must hash-match the DuckDB batch self-join — streaming
    and batch attribution agree exactly.
    """
    from clv_data_pipeline_spark.streaming.ingest import (
        drain_to_memory,
        ensure_event_time,
        table_file_stream,
    )

    def _events_stream():
        return ensure_event_time(table_file_stream(spark, sf_dir, "events"))

    views = (
        _events_stream()
        .filter(F.col("event_type") == "view")
        .select(
            F.col("user_id").alias("v_user"),
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
        .withWatermark("view_ts", "1 hour")
    )
    purchases = (
        _events_stream()
        .filter(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
        .withWatermark("purchase_ts", "1 hour")
    )
    joined = purchases.join(
        views,
        F.expr(
            "user_id = v_user AND "
            "view_ts BETWEEN purchase_ts - INTERVAL 1 HOUR AND purchase_ts"
        ),
    ).select(
        F.col("purchase_id").cast("long"),
        F.col("view_id").cast("long"),
        F.col("user_id").cast("long"),
    )
    return drain_to_memory(joined, "append")


@query(
    "q_events_daily",
    oracle="""
    SELECT strftime(date_trunc('day', ts), '%Y-%m-%d') AS day,
           COUNT(*) AS n_events,
           COUNT(DISTINCT user_id) AS n_users,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS total_value
    FROM events GROUP BY 1
    """,
)
def q_events_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """§2.8: tumbling daily event-time window via F.window — the batch
    twin of the Structured Streaming windowed agg (streaming/).
    UTC session timezone keeps Spark's window aligned with DuckDB's
    date_trunc.
    """
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "1 day").alias("w"))
        .agg(
            F.count("*").alias("n_events"),
            F.count_distinct("user_id").alias("n_users"),
            F.round(
                F.sum(F.col("value").cast("decimal(18,4)")).cast("double"), 2
            ).alias("total_value"),
        )
        .select(
            F.date_format(F.col("w.start"), "yyyy-MM-dd").alias("day"),
            "n_events",
            "n_users",
            "total_value",
        )
    )


@query(
    "q_tpch_q10",
    oracle=f"""
    SELECT c.c_custkey, c.c_name, n.n_name,
           ROUND(CAST(SUM({_REVENUE}) AS DOUBLE), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM customer c
    JOIN orders o ON c.c_custkey = o.o_custkey
    JOIN lineitem l ON l.l_orderkey = o.o_orderkey
    JOIN nation n ON n.n_nationkey = c.c_nationkey
    WHERE o.o_orderdate >= TIMESTAMP '1997-10-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l.l_returnflag = 'R'
    GROUP BY c.c_custkey, c.c_name, n.n_name
    ORDER BY revenue DESC, c.c_custkey
    LIMIT 20
    """,
)
def q_tpch_q10(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q10 returned-item reporting: quarter filter on orders, returnflag
    filter on lineitem (both pushed to their scans), customer/nation
    dims broadcast, top-20 by lost revenue.  Revenue sums as exact
    decimal so the ORDER BY ... LIMIT cut is engine-deterministic
    (ties break on c_custkey)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-10-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").filter(F.col("l_returnflag") == "R")
    n = load_table(spark, sf_dir, "nation")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,6)"
    )
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .join(F.broadcast(n), c["c_nationkey"] == n["n_nationkey"])
        .groupBy("c_custkey", "c_name", "n_name")
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
        .orderBy(F.desc("revenue"), F.col("c_custkey"))
        .limit(20)
    )


@query(
    "q_tpch_q18",
    oracle="""
    WITH big AS (
        SELECT l_orderkey,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
        FROM lineitem GROUP BY l_orderkey
        HAVING SUM(CAST(l_quantity AS DECIMAL(18,4))) > 150)
    SELECT c.c_name, c.c_custkey, o.o_orderkey, o.o_totalprice, b.sum_qty
    FROM big b
    JOIN orders o ON o.o_orderkey = b.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    """,
)
def q_tpch_q18(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q18 large-volume customers: aggregate-then-join — the per-order
    quantity rollup (partial+final hash agg) runs BEFORE the joins, so
    only qualifying orderkeys reach the join at all.  HAVING on the
    exact decimal sum keeps the qualifying set engine-identical."""
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    c = load_table(spark, sf_dir, "customer")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("_q"))
        .filter(F.col("_q") > 150)
        .select("l_orderkey", F.col("_q").cast("double").alias("sum_qty"))
    )
    return (
        big.join(o, big["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .select("c_name", "c_custkey", "o_orderkey", "o_totalprice", "sum_qty")
    )


@query(
    "q_tpch_q12",
    oracle="""
    SELECT l_linestatus,
           CAST(SUM(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS high_line_count,
           CAST(SUM(CASE WHEN o_orderpriority NOT IN ('1-URGENT', '2-HIGH')
                         THEN 1 ELSE 0 END) AS BIGINT) AS low_line_count
    FROM orders JOIN lineitem ON l_orderkey = o_orderkey
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY l_linestatus
    """,
)
def q_tpch_q12(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q12-shape conditional counting: CASE WHEN inside SUM folds the
    priority split into the aggregate itself — one join, one pass,
    integer arithmetic (no float determinism concerns at all)."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    high = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return (
        li.join(o, li["l_orderkey"] == o["o_orderkey"])
        .groupBy("l_linestatus")
        .agg(
            F.sum(F.when(high, 1).otherwise(0)).alias("high_line_count"),
            F.sum(F.when(~high, 1).otherwise(0)).alias("low_line_count"),
        )
    )


@query(
    "q_tpch_q14",
    oracle=f"""
    SELECT ROUND(
             100.0 * CAST(SUM(CASE WHEN p_type = 'ECONOMY'
                              THEN {_REVENUE} ELSE CAST(0 AS DECIMAL(25,6))
                              END) AS DOUBLE)
                   / CAST(SUM({_REVENUE}) AS DOUBLE), 4) AS economy_revenue_pct,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem JOIN part ON l_partkey = p_partkey
    WHERE l_shipdate >= TIMESTAMP '1997-09-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1997-10-01 00:00:00'
    """,
)
def q_tpch_q14(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q14-shape promo-revenue share: conditional decimal sum over a
    fact-dim join (part broadcasts), one scalar output.  Both sums stay
    exact decimal until the single final division."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-09-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    p = load_table(spark, sf_dir, "part")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,6)"
    )
    zero = F.lit(0).cast("decimal(25,6)")
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .agg(
            F.round(
                F.lit(100.0)
                * F.sum(F.when(F.col("p_type") == "ECONOMY", rev).otherwise(zero))
                .cast("double")
                / F.sum(rev).cast("double"),
                4,
            ).alias("economy_revenue_pct"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_tpch_q4",
    oracle="""
    SELECT o_orderpriority, CAST(COUNT(*) AS BIGINT) AS order_count
    FROM orders
    WHERE o_orderdate >= TIMESTAMP '1997-07-01 00:00:00'
      AND o_orderdate <  TIMESTAMP '1997-10-01 00:00:00'
      AND EXISTS (SELECT 1 FROM lineitem
                  WHERE l_orderkey = o_orderkey AND l_shipdate > o_orderdate)
    GROUP BY o_orderpriority
    """,
)
def q_tpch_q4(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q4-shape order-priority checking: quarter filter + EXISTS against
    late-shipped lineitems.  The DataFrame form is the explicit
    left-semi join Catalyst would decorrelate EXISTS into — the probe
    side reduces to distinct orderkeys before touching orders."""
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1997-07-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1997-10-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    return (
        o.join(
            li,
            (o["o_orderkey"] == li["l_orderkey"])
            & (li["l_shipdate"] > o["o_orderdate"]),
            "left_semi",
        )
        .groupBy("o_orderpriority")
        .agg(F.count("*").alias("order_count"))
    )


@query(
    "q_tpch_q13",
    oracle="""
    SELECT c_count, CAST(COUNT(*) AS BIGINT) AS custdist
    FROM (SELECT c.c_custkey,
                 CAST(COUNT(o.o_orderkey) AS BIGINT) AS c_count
          FROM customer c
          LEFT JOIN orders o ON c.c_custkey = o.o_custkey
               AND o.o_orderpriority <> '1-URGENT'
          GROUP BY c.c_custkey) per_cust
    GROUP BY c_count
    """,
)
def q_tpch_q13(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q13 customer distribution: aggregate-of-aggregate over a
    LEFT JOIN whose filter lives in the join condition (so customers
    with only urgent orders still count as zero).  Two hash aggregates;
    the second groups on the first's output and is near-free (the
    distinct c_count domain is tiny)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    per_cust = (
        c.join(
            o,
            (c["c_custkey"] == o["o_custkey"])
            & (o["o_orderpriority"] != "1-URGENT"),
            "left",
        )
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(F.count("*").alias("custdist"))


@query(
    "q_tpch_q17",
    oracle="""
    WITH selected AS (
        SELECT l.l_partkey, l.l_quantity, l.l_extendedprice
        FROM lineitem l
        JOIN part p ON p.p_partkey = l.l_partkey
        WHERE p.p_brand = 'Brand#23' AND p.p_type = 'MEDIUM'),
    per_part AS (
        SELECT l_partkey,
               SUM(CAST(l_quantity AS DECIMAL(18,4))) AS sum_qty,
               CAST(COUNT(*) AS BIGINT) AS cnt
        FROM selected GROUP BY l_partkey)
    SELECT ROUND(CAST(SUM(CAST(s.l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                 / 7.0, 2) AS avg_yearly
    FROM selected s
    JOIN per_part a ON a.l_partkey = s.l_partkey
    WHERE CAST(s.l_quantity AS DECIMAL(18,4)) * 5 * a.cnt < a.sum_qty
    """,
)
def q_tpch_q17(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q17 small-quantity-order revenue: the reference's substrate runs
    correlated scalar subqueries (the BigQuery tier, SURVEY.md §2.2 A6);
    this is the decorrelated Spark-first plan.  The selective part
    filter (~0.7% of parts) broadcasts as a semi-join BEFORE the
    per-part average, so the shuffle aggregates only qualifying rows —
    at 100 TB the naive plan (avg over ALL of lineitem, then join)
    shuffles 150x more data.  The threshold compare is restated
    exactly: qty < 0.2*avg  <=>  5*qty*cnt < sum, all in DECIMAL, so
    the qualifying row set is engine-identical (no double-avg boundary
    flips)."""
    p = (
        load_table(spark, sf_dir, "part")
        .filter((F.col("p_brand") == "Brand#23") & (F.col("p_type") == "MEDIUM"))
        .select("p_partkey")
    )
    li = load_table(spark, sf_dir, "lineitem").select(
        "l_partkey", "l_quantity", "l_extendedprice"
    )
    selected = li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"]).drop(
        "p_partkey"
    )
    per_part = selected.groupBy("l_partkey").agg(
        F.sum(F.col("l_quantity").cast("decimal(18,4)")).alias("sum_qty"),
        F.count("*").alias("cnt"),
    )
    small = selected.join(per_part, "l_partkey").filter(
        F.col("l_quantity").cast("decimal(18,4)") * 5 * F.col("cnt")
        < F.col("sum_qty")
    )
    return small.agg(
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast("double")
            / 7.0,
            2,
        ).alias("avg_yearly")
    )


@query(
    "q_tpch_q19",
    oracle=f"""
    SELECT p.p_brand, ROUND(CAST(SUM({_REVENUE}) AS DOUBLE), 2) AS revenue,
           CAST(COUNT(*) AS BIGINT) AS n_items
    FROM lineitem l
    JOIN part p ON p.p_partkey = l.l_partkey
    WHERE (p.p_brand = 'Brand#12' AND l.l_quantity BETWEEN 1 AND 11
           AND p.p_size BETWEEN 1 AND 15)
       OR (p.p_brand = 'Brand#23' AND l.l_quantity BETWEEN 10 AND 20
           AND p.p_size BETWEEN 1 AND 25)
       OR (p.p_brand = 'Brand#3'  AND l.l_quantity BETWEEN 20 AND 30
           AND p.p_size BETWEEN 1 AND 35)
    GROUP BY p.p_brand
    """,
)
def q_tpch_q19(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q19 disjunctive mixed-table predicate.  The OR spans both join
    sides, so no single conjunct is pushable as-is; we extract the
    implied per-table envelopes by hand (brand IN the 3-set on part,
    quantity in the union range on lineitem) — the CNF residuals a
    scale-aware plan pushes into both scans — and keep the full
    disjunction as the post-join residual filter.  Part stays broadcast
    (tiny dim), so the fact side never shuffles."""
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_brand").isin("Brand#12", "Brand#23", "Brand#3")
    )
    li = load_table(spark, sf_dir, "lineitem").filter(
        F.col("l_quantity").between(1, 30)
    )
    q = F.col("l_quantity")
    branch = (
        ((F.col("p_brand") == "Brand#12") & q.between(1, 11)
         & F.col("p_size").between(1, 15))
        | ((F.col("p_brand") == "Brand#23") & q.between(10, 20)
           & F.col("p_size").between(1, 25))
        | ((F.col("p_brand") == "Brand#3") & q.between(20, 30)
           & F.col("p_size").between(1, 35))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,6)"
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .filter(branch)
        .groupBy("p_brand")
        .agg(
            F.round(F.sum(rev).cast("double"), 2).alias("revenue"),
            F.count("*").alias("n_items"),
        )
    )


@query(
    "q_tpch_q7",
    oracle=f"""
    SELECT sn.n_name AS supp_nation, cn.n_name AS cust_nation,
           CAST(EXTRACT(YEAR FROM l.l_shipdate) AS BIGINT) AS l_year,
           ROUND(CAST(SUM({_REVENUE}) AS DOUBLE), 2) AS revenue
    FROM lineitem l
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    WHERE (sn.n_name = 'NATION_1' AND cn.n_name = 'NATION_2')
       OR (sn.n_name = 'NATION_2' AND cn.n_name = 'NATION_1')
    GROUP BY sn.n_name, cn.n_name, l_year
    """,
)
def q_tpch_q7(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q7 volume shipping between two nations, by year.  The nation dim
    joins twice (supplier side and customer side) — both broadcast, as
    does supplier; the only real shuffle is lineitem><orders><customer.
    The either-direction nation pair is a post-join residual (it spans
    both dim arms), but each arm is pre-filtered to the 2-nation set,
    so the broadcast hash tables stay minimal and non-qualifying rows
    drop at the earliest join."""
    two = ["NATION_1", "NATION_2"]
    n = load_table(spark, sf_dir, "nation").filter(F.col("n_name").isin(two))
    sn = n.select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    cn = n.select(
        F.col("n_nationkey").alias("cn_key"), F.col("n_name").alias("cust_nation")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key")
    )
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key")
    )
    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,6)"
    )
    pair = (
        (F.col("supp_nation") == two[0]) & (F.col("cust_nation") == two[1])
    ) | ((F.col("supp_nation") == two[1]) & (F.col("cust_nation") == two[0]))
    return (
        li.join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(c, o["o_custkey"] == c["c_custkey"])
        .filter(pair)
        .withColumn("l_year", F.year("l_shipdate").cast("bigint"))
        .groupBy("supp_nation", "cust_nation", "l_year")
        .agg(F.round(F.sum(rev).cast("double"), 2).alias("revenue"))
    )


@query(
    "q_tpch_q22",
    oracle="""
    WITH pos AS (
        SELECT c_custkey, c_nationkey, c_acctbal
        FROM customer WHERE c_acctbal > 0.0),
    stats AS (
        SELECT SUM(CAST(c_acctbal AS DECIMAL(18,4))) AS bal_sum,
               CAST(COUNT(*) AS BIGINT) AS bal_cnt
        FROM pos)
    SELECT p.c_nationkey,
           CAST(COUNT(*) AS BIGINT) AS numcust,
           ROUND(CAST(SUM(CAST(p.c_acctbal AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS totacctbal
    FROM pos p, stats
    WHERE CAST(p.c_acctbal AS DECIMAL(18,4)) * stats.bal_cnt > stats.bal_sum
      AND NOT EXISTS (SELECT 1 FROM orders o WHERE o.o_custkey = p.c_custkey
                      AND o.o_orderdate >= TIMESTAMP '2000-01-01 00:00:00')
    GROUP BY p.c_nationkey
    """,
)
def q_tpch_q22(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q22 global-market prospects: customers with above-average
    positive balance and no RECENT orders (none since 2000-01-01 —
    every testdata customer has some order, so the classic all-time
    anti-join would be vacuously empty), grouped by nation.  Three pieces a
    BigQuery-tier user relies on (SURVEY.md §2.2 A6-A7): a scalar
    aggregate subquery (here a 1-row broadcast cross join), an
    anti-join (left_anti against orders — at scale this is the shuffle;
    the average threshold prunes customers BEFORE it), and a final
    rollup.  The avg threshold is restated exactly in decimal
    (bal * cnt > sum) so no double-average boundary flip can move a
    customer across the cut between engines."""
    pos = (
        load_table(spark, sf_dir, "customer")
        .filter(F.col("c_acctbal") > 0.0)
        .select("c_custkey", "c_nationkey", "c_acctbal")
    )
    stats = pos.agg(
        F.sum(F.col("c_acctbal").cast("decimal(18,4)")).alias("bal_sum"),
        F.count("*").alias("bal_cnt"),
    )
    o = (
        load_table(spark, sf_dir, "orders")
        .filter(
            F.col("o_orderdate") >= F.lit("2000-01-01 00:00:00").cast("timestamp")
        )
        .select("o_custkey")
    )
    rich = pos.crossJoin(F.broadcast(stats)).filter(
        F.col("c_acctbal").cast("decimal(18,4)") * F.col("bal_cnt")
        > F.col("bal_sum")
    )
    return (
        rich.join(o, rich["c_custkey"] == o["o_custkey"], "left_anti")
        .groupBy("c_nationkey")
        .agg(
            F.count("*").alias("numcust"),
            F.round(
                F.sum(F.col("c_acctbal").cast("decimal(18,4)")).cast("double"), 2
            ).alias("totacctbal"),
        )
    )


@query(
    "q_tpch_q8",
    oracle=f"""
    SELECT CAST(EXTRACT(YEAR FROM o.o_orderdate) AS BIGINT) AS o_year,
           ROUND(CAST(SUM(CASE WHEN sn.n_name = 'NATION_3'
                               THEN {_REVENUE} ELSE CAST(0 AS DECIMAL(25,6)) END)
                      AS DOUBLE)
                 / CAST(SUM({_REVENUE}) AS DOUBLE), 6) AS mkt_share
    FROM lineitem l
    JOIN part p     ON p.p_partkey = l.l_partkey
    JOIN supplier s ON s.s_suppkey = l.l_suppkey
    JOIN nation sn  ON sn.n_nationkey = s.s_nationkey
    JOIN orders o   ON o.o_orderkey = l.l_orderkey
    JOIN customer c ON c.c_custkey = o.o_custkey
    JOIN nation cn  ON cn.n_nationkey = c.c_nationkey
    JOIN region r   ON r.r_regionkey = cn.n_regionkey
    WHERE r.r_name = 'ASIA' AND p.p_type = 'ECONOMY'
      AND o.o_orderdate >= TIMESTAMP '1996-01-01 00:00:00'
      AND o.o_orderdate <  TIMESTAMP '1998-01-01 00:00:00'
    GROUP BY o_year
    """,
)
def q_tpch_q8(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q8 national market share: one supplier nation's slice of regional
    revenue, by year.  The share is a conditional aggregate over ONE
    pass (CASE inside SUM), never two scans; every dim (part, supplier,
    nation x2, region, customer) broadcasts, so the 7-table star costs
    a single fact-side pipeline with zero dim shuffles.  Both sums
    accumulate as exact decimal; the final ratio is one double divide
    per group, deterministic across partitionings."""
    r = load_table(spark, sf_dir, "region").filter(F.col("r_name") == "ASIA")
    cn = load_table(spark, sf_dir, "nation").join(
        F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey")
    ).select(F.col("n_nationkey").alias("cn_key"))
    c = load_table(spark, sf_dir, "customer").join(
        F.broadcast(cn), F.col("c_nationkey") == F.col("cn_key")
    ).select("c_custkey")
    sn = load_table(spark, sf_dir, "nation").select(
        F.col("n_nationkey").alias("sn_key"), F.col("n_name").alias("supp_nation")
    )
    s = load_table(spark, sf_dir, "supplier").join(
        F.broadcast(sn), F.col("s_nationkey") == F.col("sn_key")
    ).select("s_suppkey", "supp_nation")
    p = load_table(spark, sf_dir, "part").filter(
        F.col("p_type") == "ECONOMY"
    ).select("p_partkey")
    o = load_table(spark, sf_dir, "orders").filter(
        (F.col("o_orderdate") >= F.lit("1996-01-01 00:00:00").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
    )
    li = load_table(spark, sf_dir, "lineitem")
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,6)"
    )
    nat_rev = F.when(F.col("supp_nation") == "NATION_3", rev).otherwise(
        F.lit(0).cast("decimal(25,6)")
    )
    return (
        li.join(F.broadcast(p), li["l_partkey"] == p["p_partkey"])
        .join(F.broadcast(s), li["l_suppkey"] == s["s_suppkey"])
        .join(o, li["l_orderkey"] == o["o_orderkey"])
        .join(F.broadcast(c), o["o_custkey"] == c["c_custkey"])
        .withColumn("o_year", F.year("o_orderdate").cast("bigint"))
        .groupBy("o_year")
        .agg(
            F.round(
                F.sum(nat_rev).cast("double") / F.sum(rev).cast("double"), 6
            ).alias("mkt_share")
        )
    )


@query(
    "q_tpch_q15",
    oracle=f"""
    WITH revenue AS (
        SELECT l_suppkey AS supplier_no,
               SUM({_REVENUE}) AS total_revenue
        FROM lineitem
        WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
          AND l_shipdate <  TIMESTAMP '1997-04-01 00:00:00'
        GROUP BY l_suppkey)
    SELECT s.s_suppkey, s.s_name,
           ROUND(CAST(r.total_revenue AS DOUBLE), 2) AS total_revenue
    FROM supplier s
    JOIN revenue r ON s.s_suppkey = r.supplier_no
    WHERE r.total_revenue = (SELECT MAX(total_revenue) FROM revenue)
    """,
)
def q_tpch_q15(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q15 top supplier: the classic view-plus-scalar-subquery shape.
    The quarterly per-supplier revenue aggregates once; the scalar MAX
    re-derives from the SAME (cached) aggregate, and the winner-pick is
    an exact-decimal equality — ties all surface, matching SQL
    semantics, rather than an arbitrary ORDER BY ... LIMIT 1 cut.  At
    scale the revenue view is one shuffle of the filtered quarter; the
    max is a 1-row broadcast back onto it."""
    li = load_table(spark, sf_dir, "lineitem").filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1997-04-01 00:00:00").cast("timestamp"))
    )
    rev = (F.col("l_extendedprice") * (1 - F.col("l_discount"))).cast(
        "decimal(25,6)"
    )
    revenue = (
        li.groupBy(F.col("l_suppkey").alias("supplier_no"))
        .agg(F.sum(rev).alias("total_revenue"))
        .cache()
    )
    top = revenue.agg(F.max("total_revenue").alias("max_revenue"))
    s = load_table(spark, sf_dir, "supplier")
    return (
        revenue.join(
            F.broadcast(top),
            F.col("total_revenue") == F.col("max_revenue"),
        )
        .join(F.broadcast(s), F.col("supplier_no") == F.col("s_suppkey"))
        .select(
            "s_suppkey",
            "s_name",
            F.round(F.col("total_revenue").cast("double"), 2).alias(
                "total_revenue"
            ),
        )
    )
