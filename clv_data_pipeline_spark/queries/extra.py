"""Extended SQL surface: JSON, string functions, exact percentiles,
rollup, pivot, semi/anti joins, set ops, and TPC-H Q6 — capabilities a
user of the reference gets implicitly from BigQuery and must not lose
when switching engines (SURVEY.md §2 closing the substrate surface).
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clv_data_pipeline_spark.functions.stats import md5_bits, md5_bits_sql
from clv_data_pipeline_spark.registry import query
from clv_data_pipeline_spark.sources.io import load_table, scratch_dir


@query(
    "q_tpch_q6",
    oracle="""
    SELECT ROUND(CAST(SUM(CAST(l_extendedprice * l_discount AS DECIMAL(25,6)))
                 AS DOUBLE), 2) AS revenue,
           COUNT(*) AS n_rows
    FROM lineitem
    WHERE l_shipdate >= TIMESTAMP '1997-01-01 00:00:00'
      AND l_shipdate <  TIMESTAMP '1998-01-01 00:00:00'
      AND l_discount BETWEEN 0.05 AND 0.07
      AND l_quantity < 24
    """,
)
def q_tpch_q6(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Q6 forecasting revenue: pure filter+sum — every predicate pushes
    to the parquet scan (see PushedFilters), then one scalar agg."""
    li = load_table(spark, sf_dir, "lineitem")
    f = li.filter(
        (F.col("l_shipdate") >= F.lit("1997-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1998-01-01 00:00:00").cast("timestamp"))
        & (F.col("l_discount") >= 0.05)
        & (F.col("l_discount") <= 0.07)
        & (F.col("l_quantity") < 24)
    )
    return f.agg(
        F.round(
            F.sum(
                (F.col("l_extendedprice") * F.col("l_discount")).cast(
                    "decimal(25,6)"
                )
            ).cast("double"),
            2,
        ).alias("revenue"),
        F.count("*").alias("n_rows"),
    )


@query(
    "q_json_extract",
    oracle="""
    SELECT event_id,
           CAST(json_extract_string(props, '$.k') AS BIGINT) AS k_value,
           CASE WHEN json_extract_string(props, '$.k') IS NOT NULL
                THEN 1 ELSE 0 END AS has_k
    FROM events
    """,
)
def q_json_extract(spark: SparkSession, sf_dir: str) -> DataFrame:
    """JSON scalar extraction from the events props column — BigQuery's
    JSON functions surface, Spark-side via get_json_object."""
    ev = load_table(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k")
    return ev.select(
        "event_id",
        k.cast("long").alias("k_value"),
        F.when(k.isNotNull(), 1).otherwise(0).alias("has_k"),
    )


@query(
    "q_string_funcs",
    oracle="""
    SELECT c_custkey,
           upper(c_name) AS name_upper,
           lower(c_mktsegment) AS seg_lower,
           substring(c_name, 1, 8) AS name_prefix,
           c_name || '/' || c_mktsegment AS name_seg,
           CAST(length(c_name) AS BIGINT) AS name_len,
           CASE WHEN c_name LIKE '%1%' THEN 1 ELSE 0 END AS has_one,
           replace(c_name, 'Customer', 'C') AS name_short,
           trim(leading '0' from substring(c_name, 10)) AS digits
    FROM customer
    """,
)
def q_string_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """String-function surface: upper/lower/substr/concat/length/LIKE/
    replace/trim — all codegen'd JVM expressions."""
    c = load_table(spark, sf_dir, "customer")
    return c.select(
        "c_custkey",
        F.upper("c_name").alias("name_upper"),
        F.lower("c_mktsegment").alias("seg_lower"),
        F.substring("c_name", 1, 8).alias("name_prefix"),
        F.concat(F.col("c_name"), F.lit("/"), F.col("c_mktsegment")).alias(
            "name_seg"
        ),
        F.length("c_name").cast("long").alias("name_len"),
        F.when(F.col("c_name").like("%1%"), 1).otherwise(0).alias("has_one"),
        F.replace(F.col("c_name"), F.lit("Customer"), F.lit("C")).alias(
            "name_short"
        ),
        F.expr("trim(LEADING '0' FROM substring(c_name, 10))").alias("digits"),
    )


@query(
    "q_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS p50_qty,
           ROUND(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4) AS p90_price,
           ROUND(CAST(MIN(l_extendedprice) AS DOUBLE), 2) AS min_price,
           ROUND(CAST(MAX(l_extendedprice) AS DOUBLE), 2) AS max_price
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact interpolated percentiles per group (Spark ``percentile`` ==
    DuckDB ``quantile_cont``).  At 100 TB swap to percentile_approx
    (t-digest sketch, partial-aggregable) — exact percentile needs a
    per-group sort."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.groupBy("l_returnflag").agg(
        F.round(F.percentile("l_quantity", 0.5), 6).alias("p50_qty"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
        F.round(F.min("l_extendedprice"), 2).alias("min_price"),
        F.round(F.max("l_extendedprice"), 2).alias("max_price"),
    )


@query(
    "q_rollup",
    oracle="""
    SELECT l_returnflag, l_linestatus,
           COUNT(*) AS n,
           CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sum_qty
    FROM lineitem
    GROUP BY ROLLUP(l_returnflag, l_linestatus)
    """,
)
def q_rollup(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ROLLUP hierarchy totals (subtotals + grand total) — Catalyst
    expands to grouping sets in a single aggregation pass."""
    li = load_table(spark, sf_dir, "lineitem")
    return li.rollup("l_returnflag", "l_linestatus").agg(
        F.count("*").alias("n"),
        F.sum(F.col("l_quantity").cast("decimal(18,4)"))
        .cast("double")
        .alias("sum_qty"),
    )


@query(
    "q_pivot",
    oracle="""
    SELECT user_id,
           CAST(COUNT(*) FILTER (WHERE event_type = 'click')    AS BIGINT) AS click,
           CAST(COUNT(*) FILTER (WHERE event_type = 'error')    AS BIGINT) AS error,
           CAST(COUNT(*) FILTER (WHERE event_type = 'purchase') AS BIGINT) AS purchase,
           CAST(COUNT(*) FILTER (WHERE event_type = 'signup')   AS BIGINT) AS signup,
           CAST(COUNT(*) FILTER (WHERE event_type = 'view')     AS BIGINT) AS view
    FROM events GROUP BY user_id
    """,
)
def q_pivot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pivot event counts per user.  The value list is declared
    explicitly — at scale an undeclared pivot needs an extra distinct
    pass over the data to discover columns."""
    ev = load_table(spark, sf_dir, "events")
    return (
        ev.groupBy("user_id")
        .pivot("event_type", ["click", "error", "purchase", "signup", "view"])
        .agg(F.count(F.lit(1)))
        .na.fill(0)
    )


@query(
    "q_semi_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey IN (SELECT o_custkey FROM orders
                        WHERE o_orderpriority = '1-URGENT')
    """,
)
def q_semi_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-semi join (EXISTS/IN) — only the probe side's columns
    survive, so the build side shrinks to the join key."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_semi"
    ).select("c_custkey", "c_name")


@query(
    "q_anti_join",
    oracle="""
    SELECT c_custkey, c_name FROM customer
    WHERE c_custkey NOT IN (SELECT o_custkey FROM orders
                            WHERE o_orderpriority = '1-URGENT')
    """,
)
def q_anti_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Left-anti join (NOT EXISTS): customers with no URGENT-priority
    order.  The urgent filter keeps the result non-empty on the
    driver testdata (every customer has SOME order, so the unfiltered
    form verified anti-join semantics only vacuously — 0 == 0)."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_orderpriority") == "1-URGENT"
    )
    return c.join(
        o, c.c_custkey == o.o_custkey, "left_anti"
    ).select("c_custkey", "c_name")


@query(
    "q_bloom_join",
    oracle="""
    SELECT l_returnflag,
           CAST(COUNT(*) AS BIGINT) AS n_items,
           ROUND(CAST(SUM(CAST(l_extendedprice * (1 - l_discount)
                               AS DECIMAL(25,6))) AS DOUBLE), 2) AS revenue
    FROM lineitem
    WHERE l_orderkey IN (SELECT o_orderkey FROM orders
                         WHERE o_totalprice > 450000)
    GROUP BY l_returnflag
    """,
)
def q_bloom_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bloom-pruned semi-join: revenue of lineitems belonging to
    top-decile-value orders.

    The scale pattern under test (operators/bloom.py): a 16 KiB Bloom
    bitmap built from the selective order subset (bounded <=2048-row
    bit_or collect) rides a 1-row broadcast and drops ~90% of lineitem
    BEFORE the exact semi-join's shuffle — map-only, zero Python.  The
    trailing exact join removes Bloom false positives, so the result
    hash-matches the plain IN-subquery oracle while the shuffle sees
    only the selected fraction.  This is BigQuery's implicit runtime
    pruning (which the reference relies on) as an explicit, composable
    Spark operator.
    """
    from clv_data_pipeline_spark.operators.bloom import bloom_semi_join

    li = load_table(spark, sf_dir, "lineitem")
    o = load_table(spark, sf_dir, "orders").filter(
        F.col("o_totalprice") > 450000.0
    )
    pruned = bloom_semi_join(li, "l_orderkey", o.select("o_orderkey"),
                             "o_orderkey")
    return pruned.groupBy("l_returnflag").agg(
        F.count("*").cast("long").alias("n_items"),
        F.round(
            F.sum(
                (F.col("l_extendedprice") * (1 - F.col("l_discount")))
                .cast("decimal(25,6)")
            ).cast("double"),
            2,
        ).alias("revenue"),
    )


@query(
    "q_intersect",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    INTERSECT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def q_intersect(spark: SparkSession, sf_dir: str) -> DataFrame:
    """INTERSECT (distinct) — customers with both urgent and low orders."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.intersect(low)


@query(
    "q_except",
    oracle="""
    SELECT o_custkey FROM orders WHERE o_orderpriority = '1-URGENT'
    EXCEPT
    SELECT o_custkey FROM orders WHERE o_orderpriority = '5-LOW'
    """,
)
def q_except(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXCEPT (distinct) — urgent-only customers."""
    o = load_table(spark, sf_dir, "orders")
    urgent = o.filter(F.col("o_orderpriority") == "1-URGENT").select("o_custkey")
    low = o.filter(F.col("o_orderpriority") == "5-LOW").select("o_custkey")
    return urgent.subtract(low)  # EXCEPT DISTINCT semantics


@query(
    "q_explode",
    oracle="""
    SELECT o_orderkey,
           CAST(unnest(generate_series(1, CAST(o_orderkey % 5 + 1 AS BIGINT)))
                AS BIGINT) AS slot
    FROM orders
    """,
)
def q_explode(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Row fan-out via explode(sequence(1, n)) — the generator's
    per-customer purchase expansion (reference dags/simulate_data.py:163
    1..n rows per customer) as a relational op.  Generators run inside
    the scan stage; no shuffle."""
    o = load_table(spark, sf_dir, "orders")
    return o.select(
        "o_orderkey",
        F.explode(
            F.sequence(F.lit(1).cast("long"), F.col("o_orderkey") % 5 + 1)
        ).alias("slot"),
    )


@query(
    "q_cube",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           COUNT(*) AS n,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4))) AS DOUBLE), 2)
               AS total
    FROM orders
    GROUP BY CUBE(o_orderstatus, o_orderpriority)
    """,
)
def q_cube(spark: SparkSession, sf_dir: str) -> DataFrame:
    """CUBE over two dims (all 4 grouping combinations in one pass)."""
    o = load_table(spark, sf_dir, "orders")
    return o.cube("o_orderstatus", "o_orderpriority").agg(
        F.count("*").alias("n"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
            2,
        ).alias("total"),
    )


_SQL_RFM = """
SELECT user_id AS customer_id,
       CAST(datediff(to_date(MAX(ts)), to_date(MIN(ts))) AS BIGINT) AS recency,
       CAST(datediff(DATE'2024-03-01', to_date(MIN(ts))) AS BIGINT) AS `T`,
       COUNT(DISTINCT to_date(ts)) - 1 AS frequency,
       ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
             / COUNT(value), 2) AS monetary_value,
       MIN(ts) AS first_purchase,
       MAX(ts) AS last_purchase
FROM events
GROUP BY user_id
"""


@query(
    "q_sql_rfm",
    oracle="""
    SELECT user_id AS customer_id,
           date_diff('day', CAST(MIN(ts) AS DATE), CAST(MAX(ts) AS DATE)) AS recency,
           date_diff('day', CAST(MIN(ts) AS DATE), DATE '2024-03-01') AS "T",
           COUNT(DISTINCT CAST(ts AS DATE)) - 1 AS frequency,
           ROUND(CAST(SUM(CAST(value AS DECIMAL(18,4))) AS DOUBLE)
                 / COUNT(value), 2) AS monetary_value,
           MIN(ts) AS first_purchase,
           MAX(ts) AS last_purchase
    FROM events GROUP BY user_id
    """,
)
def q_sql_rfm(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The flagship through the ``spark.sql`` string interface over
    registered temp views — proving the SQL-text surface (what the
    reference shipped to BigQuery, reference dags/clv_data_dag.py:80-93)
    plans identically to the DataFrame form."""
    from clv_data_pipeline_spark.sources.io import register_views

    register_views(spark, sf_dir)
    return spark.sql(_SQL_RFM)


@query(
    "q_approx_distinct",
    oracle="""
    SELECT CAST(COUNT(DISTINCT user_id) AS BIGINT) AS exact_users,
           TRUE AS approx_ok
    FROM events
    """,
)
def q_approx_distinct(spark: SparkSession, sf_dir: str) -> DataFrame:
    """approx_count_distinct (HyperLogLog++) next to the exact count —
    the sketch is what survives at 100 TB (partial-aggregable, fixed
    memory).  The HLL estimate is deterministic (xxhash64 registers,
    commutative merge) but engine-specific, so the output carries the
    exact count plus a within-5%-relative-error verdict the oracle can
    reproduce as a literal — the driver row certifies sketch quality,
    not just that it ran."""
    ev = load_table(spark, sf_dir, "events")
    agg = ev.agg(
        F.approx_count_distinct("user_id").alias("_approx"),
        F.count_distinct("user_id").alias("exact_users"),
    )
    return agg.select(
        "exact_users",
        (
            F.abs(F.col("_approx") - F.col("exact_users"))
            <= 0.05 * F.col("exact_users")
        ).alias("approx_ok"),
    )


@query(
    "q_grouping_sets",
    oracle="""
    SELECT o_orderstatus, o_orderpriority,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE), 2)
               AS total_price,
           CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
           CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
    FROM orders
    GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                            (o_orderstatus, o_orderpriority))
    """,
)
def q_grouping_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Explicit GROUPING SETS (the general form under rollup/cube) with
    GROUPING() markers disambiguating NULL-as-total from NULL data.
    One expand + one hash aggregate — Catalyst plans all sets in a
    single pass over the fact table."""
    o = load_table(spark, sf_dir, "orders")
    o.createOrReplaceTempView("_gs_orders")
    return o.sparkSession.sql(
        """
        SELECT o_orderstatus, o_orderpriority,
               COUNT(*) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(25,6))) AS DOUBLE), 2)
                   AS total_price,
               CAST(GROUPING(o_orderstatus) AS BIGINT) AS g_status,
               CAST(GROUPING(o_orderpriority) AS BIGINT) AS g_priority
        FROM _gs_orders
        GROUP BY GROUPING SETS ((o_orderstatus), (o_orderpriority),
                                (o_orderstatus, o_orderpriority))
        """
    )


@query(
    "q_ntile_lead",
    oracle="""
    SELECT o_orderkey, o_custkey,
           CAST(NTILE(4) OVER w AS BIGINT) AS price_quartile,
           LEAD(o_orderkey) OVER w AS next_orderkey,
           FIRST_VALUE(o_orderkey) OVER w AS cheapest_orderkey
    FROM orders
    WINDOW w AS (PARTITION BY o_custkey
                 ORDER BY o_totalprice, o_orderkey)
    """,
)
def q_ntile_lead(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ntile / lead / first_value over one per-customer price ordering —
    the remaining window-function family beside rank (q_window_rank) and
    lag (q_event_gaps).  The order key is (price, orderkey) so ties
    cannot reorder between engines."""
    o = load_table(spark, sf_dir, "orders")
    from pyspark.sql.window import Window

    w = Window.partitionBy("o_custkey").orderBy("o_totalprice", "o_orderkey")
    return o.select(
        "o_orderkey",
        "o_custkey",
        F.ntile(4).over(w).cast("long").alias("price_quartile"),
        F.lead("o_orderkey").over(w).alias("next_orderkey"),
        F.first("o_orderkey").over(w).alias("cheapest_orderkey"),
    )


@query(
    "q_corr_subquery",
    oracle="""
    SELECT c.c_custkey, c.c_name
    FROM customer c
    WHERE EXISTS (SELECT 1 FROM orders o
                  WHERE o.o_custkey = c.c_custkey
                    AND o.o_totalprice > 300000)
      AND (SELECT CAST(COUNT(*) AS BIGINT) FROM orders o2
           WHERE o2.o_custkey = c.c_custkey) >= 5
    """,
)
def q_corr_subquery(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated EXISTS + correlated scalar COUNT subquery — Catalyst
    decorrelates both into joins (a left-semi and an aggregate-then-
    join), the rewrite BigQuery users rely on without knowing it."""
    c = load_table(spark, sf_dir, "customer")
    o = load_table(spark, sf_dir, "orders")
    c.createOrReplaceTempView("_cs_customer")
    o.createOrReplaceTempView("_cs_orders")
    return c.sparkSession.sql(
        """
        SELECT c.c_custkey, c.c_name
        FROM _cs_customer c
        WHERE EXISTS (SELECT 1 FROM _cs_orders o
                      WHERE o.o_custkey = c.c_custkey
                        AND o.o_totalprice > 300000)
          AND (SELECT COUNT(*) FROM _cs_orders o2
               WHERE o2.o_custkey = c.c_custkey) >= 5
        """
    )


@query(
    "q_approx_percentiles",
    oracle="""
    SELECT l_returnflag,
           ROUND(CAST(quantile_cont(l_quantity, 0.5) AS DOUBLE), 6) AS p50_qty,
           ROUND(CAST(quantile_cont(l_extendedprice, 0.9) AS DOUBLE), 4)
               AS p90_price,
           TRUE AS p50_ok, TRUE AS p90_ok
    FROM lineitem GROUP BY l_returnflag
    """,
)
def q_approx_percentiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Mergeable approximate percentiles (``percentile_approx``) — the
    100 TB replacement for q_percentiles: the sketch partial-aggregates
    (no per-group sort, bounded memory), at the cost of rank error
    <= 1/accuracy.  The sketch values are engine-specific, so the
    output carries the exact interpolated percentiles plus a
    within-0.5% verdict per sketch that the oracle reproduces as a
    literal — the driver row certifies the sketch's accuracy contract,
    not just that it ran."""
    li = load_table(spark, sf_dir, "lineitem")
    agg = li.groupBy("l_returnflag").agg(
        F.percentile_approx("l_quantity", 0.5, 10000).alias("_p50_a"),
        F.percentile_approx("l_extendedprice", 0.9, 10000).alias("_p90_a"),
        F.round(F.percentile("l_quantity", 0.5), 6).alias("p50_qty"),
        F.round(F.percentile("l_extendedprice", 0.9), 4).alias("p90_price"),
    )

    def _ok(approx, exact):
        return F.abs(approx - exact) <= F.greatest(
            0.005 * F.abs(exact), F.lit(1e-9)
        )

    return agg.select(
        "l_returnflag",
        "p50_qty",
        "p90_price",
        _ok(F.col("_p50_a"), F.col("p50_qty")).alias("p50_ok"),
        _ok(F.col("_p90_a"), F.col("p90_price")).alias("p90_ok"),
    )


@query(
    "q_array_funcs",
    oracle="""
    SELECT user_id,
           array_to_string(list_sort(list(DISTINCT event_type)), '|') AS types,
           CAST(COUNT(DISTINCT event_type) AS BIGINT) AS n_types,
           CAST((COUNT(DISTINCT event_type)
                 * (COUNT(DISTINCT event_type) + 1)) // 2 AS BIGINT) AS tri_types
    FROM events GROUP BY user_id
    """,
)
def q_array_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Array surface: collect_set -> array_sort -> concat_ws (arrays
    serialize to strings because Spark and DuckDB render list values
    differently under the driver's hash), plus a lambda higher-order
    fold (aggregate over sequence) checked against the closed form.
    Everything stays a single hash aggregate per user."""
    from clv_data_pipeline_spark.sources.io import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    agg = ev.groupBy("user_id").agg(
        F.array_sort(F.collect_set("event_type")).alias("_types_arr"),
    )
    n = F.size("_types_arr").cast("long")
    return agg.select(
        "user_id",
        F.concat_ws("|", F.col("_types_arr")).alias("types"),
        n.alias("n_types"),
        F.aggregate(
            F.sequence(F.lit(1).cast("long"), n),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        ).alias("tri_types"),
    )


@query(
    "q_percent_rank",
    oracle="""
    SELECT c_custkey, c_nationkey,
           ROUND(percent_rank() OVER w, 6) AS pr,
           ROUND(cume_dist() OVER w, 6) AS cd
    FROM customer
    WINDOW w AS (PARTITION BY c_nationkey ORDER BY c_acctbal, c_custkey)
    """,
)
def q_percent_rank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Relative-standing window functions (percent_rank, cume_dist)
    per nation — the distribution-position family rounding out the
    ranking surface (rank/dense_rank/ntile/lead live in
    q_window_rank/q_ntile_lead).  Both are exact rational functions of
    integer ranks, so cross-engine determinism is free; the tie-break
    on c_custkey pins the frame order itself.  One shuffle on the
    partition key, no join."""
    from pyspark.sql.window import Window as W

    c = load_table(spark, sf_dir, "customer")
    w = W.partitionBy("c_nationkey").orderBy("c_acctbal", "c_custkey")
    return c.select(
        "c_custkey",
        "c_nationkey",
        F.round(F.percent_rank().over(w), 6).alias("pr"),
        F.round(F.cume_dist().over(w), 6).alias("cd"),
    )


@query(
    "q_corr",
    oracle="""
    WITH s AS (
        SELECT l_returnflag,
               CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(l_quantity AS DECIMAL(18,4))) AS DOUBLE) AS sx,
               CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4))) AS DOUBLE)
                   AS sy,
               CAST(SUM(CAST(l_quantity * l_quantity AS DECIMAL(25,6)))
                    AS DOUBLE) AS sxx,
               CAST(SUM(CAST(l_extendedprice * l_extendedprice
                             AS DECIMAL(32,6))) AS DOUBLE) AS syy,
               CAST(SUM(CAST(l_quantity * l_extendedprice AS DECIMAL(30,6)))
                    AS DOUBLE) AS sxy
        FROM lineitem GROUP BY l_returnflag)
    SELECT l_returnflag, n,
           CASE WHEN n * sxx - sx * sx <= 0 OR n * syy - sy * sy <= 0
                THEN NULL
                ELSE ROUND((n * sxy - sx * sy)
                           / (sqrt(n * sxx - sx * sx)
                              * sqrt(n * syy - sy * sy)),
                           6)
           END AS corr_qty_price
    FROM s
    """,
)
def q_corr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pearson correlation per group from exact decimal sufficient
    statistics (n, Σx, Σy, Σx², Σy², Σxy) — NOT the built-in corr(),
    whose streaming co-moment accumulation is partitioning-dependent in
    the last digits and can't hash-match across engines.  The five sums
    are associative decimals (one partial+final agg, same shuffle as any
    grouped sum); the closed-form combination happens once per group in
    double.  The same trick makes covariance/stddev/regression slopes
    mergeable and deterministic at any scale."""
    li = load_table(spark, sf_dir, "lineitem")
    x = F.col("l_quantity")
    y = F.col("l_extendedprice")
    s = li.groupBy("l_returnflag").agg(
        F.count("*").alias("n"),
        F.sum(x.cast("decimal(18,4)")).cast("double").alias("sx"),
        F.sum(y.cast("decimal(18,4)")).cast("double").alias("sy"),
        F.sum((x * x).cast("decimal(25,6)")).cast("double").alias("sxx"),
        F.sum((y * y).cast("decimal(32,6)")).cast("double").alias("syy"),
        F.sum((x * y).cast("decimal(30,6)")).cast("double").alias("sxy"),
    )
    n = F.col("n")
    vx = n * F.col("sxx") - F.col("sx") * F.col("sx")
    vy = n * F.col("syy") - F.col("sy") * F.col("sy")
    corr = (n * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.sqrt(vx) * F.sqrt(vy)
    )
    # Zero-variance guard: a constant column makes the divisor 0.0,
    # where Spark's non-ANSI divide yields NULL but IEEE engines yield
    # inf/nan — pin NULL explicitly on both sides.
    guarded = F.when((vx <= 0) | (vy <= 0), F.lit(None)).otherwise(
        F.round(corr, 6)
    )
    return s.select("l_returnflag", "n", guarded.alias("corr_qty_price"))


@query(
    "q_histogram",
    oracle="""
    SELECT CASE WHEN o_totalprice < 0 THEN CAST(0 AS BIGINT)
                WHEN o_totalprice >= 500000 THEN CAST(21 AS BIGINT)
                ELSE CAST(FLOOR(o_totalprice / 25000.0) AS BIGINT) + 1
           END AS bucket,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM orders GROUP BY bucket
    """,
)
def q_histogram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fixed-width histogram of order totals via width_bucket — the
    one-pass binned-distribution shape (dashboards, drift monitors).
    Spark's width_bucket follows the Postgres semantics (under/overflow
    buckets 0 and n+1); DuckDB lacks the function, so the oracle spells
    out the same floor-division formula.  One partial+final count per
    bucket: 21-ish groups, so the shuffle is a handful of rows
    regardless of input size."""
    o = load_table(spark, sf_dir, "orders")
    return (
        o.select(
            F.width_bucket(
                F.col("o_totalprice"), F.lit(0), F.lit(500000), F.lit(20)
            )
            .cast("bigint")
            .alias("bucket")
        )
        .groupBy("bucket")
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_argmax",
    oracle="""
    SELECT c_nationkey,
           arg_max(c_custkey,
                   CAST(ROUND(c_acctbal * 100) AS BIGINT) * 100000000
                   + c_custkey) AS top_cust,
           ROUND(MAX(c_acctbal), 2) AS top_bal
    FROM customer GROUP BY c_nationkey
    """,
)
def q_argmax(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Argmax aggregate (max_by): richest customer per nation in ONE
    hash-aggregate pass — no window, no sort, no self-join, which at
    scale replaces the rank()-then-filter plan (full partition sort)
    with partial+final agg.  Ties on the double balance are broken by
    folding (balance, custkey) into a single strictly-unique integer
    ordering key, so Spark's max_by and DuckDB's arg_max pick the same
    winner (bare argmax on a tied column is engine-arbitrary)."""
    c = load_table(spark, sf_dir, "customer")
    okey = (
        F.round(F.col("c_acctbal") * 100).cast("bigint") * F.lit(100000000)
        + F.col("c_custkey")
    )
    return (
        c.withColumn("_okey", okey)
        .groupBy("c_nationkey")
        .agg(
            F.expr("max_by(c_custkey, _okey)").alias("top_cust"),
            F.round(F.max("c_acctbal"), 2).alias("top_bal"),
        )
    )


@query(
    "q_event_sequences",
    oracle="""
    SELECT user_id,
           string_agg(event_type, '>' ORDER BY ts, event_id) AS seq,
           CAST(COUNT(*) AS BIGINT) AS n_events
    FROM events GROUP BY user_id
    """,
)
def q_event_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user chronological event sequences — the construction step
    for behavioral/sequential training data.  collect_list order is
    partition-arbitrary, so each element carries its (ts, event_id)
    sort key into the struct and sort_array imposes the deterministic
    order AFTER collection — one hash aggregate, no window sort, and
    the (ts, event_id) key is unique so every engine agrees.  The
    joined string form keeps the oracle compare byte-exact."""
    ev = load_table(spark, sf_dir, "events")
    item = F.struct(
        F.col("ts"), F.col("event_id"), F.col("event_type")
    )
    seq = F.array_join(
        F.transform(
            F.sort_array(F.collect_list(item)), lambda x: x["event_type"]
        ),
        ">",
    )
    return ev.groupBy("user_id").agg(
        seq.alias("seq"), F.count("*").alias("n_events")
    )


@query(
    "q_date_funcs",
    oracle="""
    SELECT o_orderkey,
           strftime(date_trunc('month', o_orderdate), '%Y-%m-%d') AS month_start,
           strftime(date_trunc('week', o_orderdate), '%Y-%m-%d') AS week_start,
           CAST(isodow(o_orderdate) AS BIGINT) AS iso_weekday,
           strftime(last_day(CAST(o_orderdate AS DATE)), '%Y-%m-%d')
               AS month_end,
           strftime(CAST(o_orderdate AS DATE) + INTERVAL 3 MONTH, '%Y-%m-%d')
               AS plus3m,
           CAST(EXTRACT(QUARTER FROM o_orderdate) AS BIGINT) AS qtr
    FROM orders
    """,
)
def q_date_funcs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Temporal scalar surface: date_trunc (month/week), ISO weekday,
    last_day, month arithmetic, quarter — the calendar toolkit behind
    every period-over-period report.  All codegen'd; every date value
    leaves as a formatted string because raw DATE columns compare
    differently across engine->pandas paths (engine contract).  Note
    the weekday trap: Spark dayofweek() is 1=Sunday but DuckDB
    dayofweek() is 0=Sunday — only the ISO form (weekday()+1 vs
    isodow) agrees."""
    o = load_table(spark, sf_dir, "orders")
    d = F.col("o_orderdate")
    return o.select(
        "o_orderkey",
        F.date_format(F.date_trunc("month", d), "yyyy-MM-dd").alias(
            "month_start"
        ),
        F.date_format(F.date_trunc("week", d), "yyyy-MM-dd").alias(
            "week_start"
        ),
        (F.weekday(d) + 1).cast("bigint").alias("iso_weekday"),
        F.date_format(F.last_day(d), "yyyy-MM-dd").alias("month_end"),
        F.date_format(F.add_months(d, 3), "yyyy-MM-dd").alias("plus3m"),
        F.quarter(d).cast("bigint").alias("qtr"),
    )


@query(
    "q_transitions",
    oracle="""
    WITH seq AS (
        SELECT user_id, event_type,
               lag(event_type) OVER
                   (PARTITION BY user_id ORDER BY ts, event_id) AS prev_type
        FROM events)
    SELECT prev_type, event_type AS next_type,
           CAST(COUNT(*) AS BIGINT) AS n
    FROM seq WHERE prev_type IS NOT NULL
    GROUP BY prev_type, next_type
    """,
)
def q_transitions(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Event-type transition matrix (Markov bigram counts) over
    per-user timelines — the aggregate companion to q_event_sequences
    for behavior modeling.  One window pass ordered by the unique
    (ts, event_id) key, then a tiny (|types|^2-row) aggregate; the
    user_id partition key means the window sort shuffles once on the
    same key the sessionizer uses."""
    from pyspark.sql.window import Window as W

    ev = load_table(spark, sf_dir, "events")
    w = W.partitionBy("user_id").orderBy("ts", "event_id")
    return (
        ev.withColumn("prev_type", F.lag("event_type").over(w))
        .filter(F.col("prev_type").isNotNull())
        .groupBy("prev_type", F.col("event_type").alias("next_type"))
        .agg(F.count("*").alias("n"))
    )


@query(
    "q_full_outer",
    oracle="""
    WITH o_daily AS (
        SELECT strftime(CAST(o_orderdate AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(o_totalprice AS DECIMAL(18,4)))
                          AS DOUBLE), 2) AS order_total
        FROM orders GROUP BY 1),
    l_daily AS (
        SELECT strftime(CAST(l_shipdate AS DATE), '%Y-%m-%d') AS day,
               CAST(COUNT(*) AS BIGINT) AS n_lines,
               ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                          AS DOUBLE), 2) AS ship_total
        FROM lineitem GROUP BY 1)
    SELECT COALESCE(o.day, l.day) AS day,
           COALESCE(o.n_orders, 0) AS n_orders,
           COALESCE(l.n_lines, 0) AS n_lines,
           COALESCE(o.order_total, 0.0) AS order_total,
           COALESCE(l.ship_total, 0.0) AS ship_total,
           CASE WHEN o.day IS NULL THEN 'ship_only'
                WHEN l.day IS NULL THEN 'order_only'
                ELSE 'both' END AS status
    FROM o_daily o FULL OUTER JOIN l_daily l ON o.day = l.day
    """,
)
def q_full_outer(spark: SparkSession, sf_dir: str) -> DataFrame:
    """FULL OUTER reconciliation of two independently-aggregated daily
    ledgers (order intake by order date vs shipments by ship date) —
    the audit query that surfaces days present on only one side, which
    inner/left joins silently drop.  Both sides pre-aggregate to
    day-sized frames BEFORE the join, so the full-outer shuffle carries
    calendar-sized rows, never facts; decimal sums keep the totals
    engine-exact."""
    o = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    o_daily = o.groupBy(
        F.date_format(F.col("o_orderdate").cast("date"), "yyyy-MM-dd")
        .alias("day")
    ).agg(
        F.count("*").cast("long").alias("n_orders"),
        F.round(
            F.sum(F.col("o_totalprice").cast("decimal(18,4)")).cast("double"),
            2,
        ).alias("order_total"),
    )
    l_daily = li.groupBy(
        F.date_format(F.col("l_shipdate").cast("date"), "yyyy-MM-dd")
        .alias("day")
    ).agg(
        F.count("*").cast("long").alias("n_lines"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)"))
            .cast("double"),
            2,
        ).alias("ship_total"),
    )
    oo = o_daily.alias("o")
    ll = l_daily.alias("l")
    joined = oo.join(ll, F.col("o.day") == F.col("l.day"), "full_outer")
    return joined.select(
        F.coalesce(F.col("o.day"), F.col("l.day")).alias("day"),
        F.coalesce(F.col("o.n_orders"), F.lit(0)).alias("n_orders"),
        F.coalesce(F.col("l.n_lines"), F.lit(0)).alias("n_lines"),
        F.coalesce(F.col("o.order_total"), F.lit(0.0)).alias("order_total"),
        F.coalesce(F.col("l.ship_total"), F.lit(0.0)).alias("ship_total"),
        F.when(F.col("o.day").isNull(), F.lit("ship_only"))
        .when(F.col("l.day").isNull(), F.lit("order_only"))
        .otherwise(F.lit("both"))
        .alias("status"),
    )


@query(
    "q_bucketed_join",
    oracle="""
    SELECT o_orderkey, o_totalprice, c_mktsegment
    FROM orders JOIN customer ON o_custkey = c_custkey
    """,
)
def q_bucketed_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The pre-paid shuffle: both join sides persisted as bucketed
    tables on the join key (sources.io.write_bucketed), then joined
    with ZERO exchanges — the sort-merge join reads co-bucketed,
    pre-sorted files directly.  At 100 TB a nightly staging⋈features
    join on customer_id pays its shuffle once at write time, not per
    query; this registers the capability so the driver verifies the
    bucketed read path returns exactly what the shuffled join would
    (oracle = the plain join).  Exchange-freedom is pinned by
    tests/test_plans.py.  The bucket count (8 here) is the knob that
    must divide executor parallelism at scale."""
    from clv_data_pipeline_spark.sources.io import write_bucketed

    o = load_table(spark, sf_dir, "orders").select(
        "o_orderkey", "o_custkey", "o_totalprice"
    )
    c = load_table(spark, sf_dir, "customer").select(
        F.col("c_custkey").alias("o_custkey"), "c_mktsegment"
    )
    base = scratch_dir("bucketed_join_")
    write_bucketed(
        o, "q_bucketed_orders", "o_custkey", num_buckets=8,
        sort_col="o_custkey", path=base + "/orders",
    )
    write_bucketed(
        c, "q_bucketed_customer", "o_custkey", num_buckets=8,
        sort_col="o_custkey", path=base + "/customer",
    )
    return (
        spark.table("q_bucketed_orders")
        .join(spark.table("q_bucketed_customer").hint("merge"), "o_custkey")
        .select("o_orderkey", "o_totalprice", "c_mktsegment")
    )


@query(
    "q_expectations",
    oracle="""
    WITH a AS (SELECT
        CAST(COUNT(*) FILTER (WHERE o_orderkey IS NULL) AS BIGINT) AS v0,
        CAST(COUNT(o_orderkey) - COUNT(DISTINCT o_orderkey) AS BIGINT) AS v1,
        CAST(COUNT(*) FILTER (WHERE o_totalprice <= 0) AS BIGINT) AS v2,
        CAST(COUNT(*) FILTER (WHERE o_orderstatus NOT IN ('O', 'F', 'P'))
             AS BIGINT) AS v3,
        CAST(COUNT(*) FILTER (WHERE NOT regexp_matches(o_orderpriority,
             '^[1-5]-')) AS BIGINT) AS v4,
        CAST(COUNT(*) FILTER (WHERE o_totalprice > 300000) AS BIGINT)
            AS v5
        FROM orders)
    SELECT r.rule, r."column", r.n_violations, r.n_violations = 0 AS passed
    FROM a, LATERAL (VALUES
        ('key_not_null',    'o_orderkey',      a.v0),
        ('key_unique',      'o_orderkey',      a.v1),
        ('price_positive',  'o_totalprice',    a.v2),
        ('status_domain',   'o_orderstatus',   a.v3),
        ('priority_format', 'o_orderpriority', a.v4),
        ('price_under_cap', 'o_totalprice',    a.v5)
    ) AS r(rule, "column", n_violations)
    """,
)
def q_expectations(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative expectations suite over orders — six rules
    (not-null key, unique key, positive price, status domain, priority
    format, and a price cap that the data deliberately violates)
    compiled by operators/validate.py expectations() into ONE
    aggregate over ONE scan, then unpivoted to a per-rule report.  The
    generalization of the reference's hard-coded firewall
    (dags/validate_features.py) into the rules-as-data shape quality
    platforms actually run."""
    from clv_data_pipeline_spark.operators.validate import expectations

    o = load_table(spark, sf_dir, "orders")
    rules = [
        {"rule": "key_not_null", "column": "o_orderkey",
         "kind": "not_null"},
        {"rule": "key_unique", "column": "o_orderkey", "kind": "unique"},
        {"rule": "price_positive", "column": "o_totalprice",
         "kind": "min", "param": 0},
        {"rule": "status_domain", "column": "o_orderstatus",
         "kind": "accepted_values", "param": ["O", "F", "P"]},
        {"rule": "priority_format", "column": "o_orderpriority",
         "kind": "regex", "param": "^[1-5]-"},
        # deliberately violated on the testdata (~40% of orders exceed
        # the cap) so the report exercises BOTH outcomes — an all-pass
        # suite proves only the plumbing (round-8 degeneracy audit).
        {"rule": "price_under_cap", "column": "o_totalprice",
         "kind": "max", "param": 300000},
    ]
    return expectations(o, rules)


@query(
    "q_salted_join",
    oracle="""
    SELECT e.event_id, e.event_type, c.type_count
    FROM events e
    JOIN (SELECT event_type, CAST(COUNT(*) AS BIGINT) AS type_count
          FROM events GROUP BY event_type) c
      ON e.event_type = c.event_type
    """,
)
def q_salted_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Manual join salting on a power-law key (operators/skew.py
    salted_join): the event log joins its 5-value event_type dimension
    — without salting at most 5 reducers ever work, the hottest key
    melting one of them at 100 TB.  The fact side gets a deterministic
    xxhash64 salt, the dimension replicates salt_buckets times, and the
    join runs on (key, salt) — exact (oracle = the plain join), no
    RNG, task-retry safe.  Use over AQE's runtime skew split when the
    skewed side has no statistics (mid-pipeline operator output) or a
    single key exceeds what one split can hold."""
    from clv_data_pipeline_spark.operators.skew import salted_join

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "event_type"
    )
    dim = ev.groupBy("event_type").agg(
        F.count("*").alias("type_count")
    )
    return salted_join(ev, dim, "event_type", salt_buckets=8).select(
        "event_id", "event_type", "type_count"
    )


@query(
    "q_assign_ids",
    oracle="""
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id) AS BIGINT)
               AS new_id
    FROM documents
    """,
)
def q_assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Contiguous global id assignment (1..n) in a deterministic total
    order — the shard/row-id step every corpus snapshot runs before
    tokenization, and the classic trap: ``ROW_NUMBER() OVER (ORDER BY
    ...)`` with no PARTITION BY funnels the whole corpus through ONE
    reducer.  Distributed form: the order key (md5 of the natural key)
    is bucketed by its first hex byte — lowercase hex compares
    lexicographically like the number it encodes, so bucket order IS
    hash order — then (1) per-bucket ROW_NUMBER over one 256-way hash
    exchange, (2) per-bucket counts collapse map-side to a 256-row
    frame whose cumulative sum yields each bucket's global offset, and
    (3) the offsets broadcast back: new_id = offset + local rank.  No
    global sort, no single-partition window over the corpus, and —
    unlike repartitionByRange + monotonically_increasing_id — every
    stage is deterministic, so task retries and plan-subtree
    re-execution cannot shift an id (operators/ids.py
    distributed_row_number, the reusable core q_curriculum also
    composes on)."""
    from clv_data_pipeline_spark.operators.ids import distributed_row_number

    d = load_table(spark, sf_dir, "documents")
    hb = d.select(
        "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
    )
    return distributed_row_number(
        hb, hash_col="h", tiebreak_col="doc_id", out_col="new_id"
    ).select(F.col("doc_id").cast("long").alias("doc_id"), "new_id")


@query(
    "q_assign_ids_incremental",
    oracle="""
    WITH s AS (
        SELECT MAX(doc_id) - CAST(FLOOR(COUNT(*) / 10.0) AS BIGINT) AS cut
        FROM documents),
    b AS (
        SELECT CAST(COUNT(*) AS BIGINT) AS n_base
        FROM documents, s WHERE doc_id <= cut),
    d AS (SELECT doc_id FROM documents, s WHERE doc_id > cut)
    SELECT doc_id,
           CAST(n_base + ROW_NUMBER() OVER (
               ORDER BY md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS new_id
    FROM d, b
    """,
)
def q_assign_ids_incremental(spark: SparkSession, sf_dir: str) -> DataFrame:
    """O(delta) id assignment for an append-only corpus: the stored id
    table (built once per base version, the same keyed-artifact
    lifecycle as the dedup indexes) keeps every already-issued id
    frozen — re-running q_assign_ids over base+delta would renumber
    EVERYTHING, invalidating every downstream shard/checkpoint that
    references an id — and the delta alone ranks in md5 order starting
    at n_base + 1.  The only contact with stored state is a count over
    the id table (metadata-sized, rides a 1-row broadcast), so the
    daily cost is the delta's single 256-way exchange regardless of
    corpus size.  Output = the delta's newly-issued ids; the oracle
    recomputes the same append semantics declaratively."""
    from clv_data_pipeline_spark.operators.ids import distributed_row_number
    from clv_data_pipeline_spark.queries.textops import _delta_split
    from clv_data_pipeline_spark.sources.io import (
        materialize_temp,
        source_key,
    )

    docs = load_table(spark, sf_dir, "documents")
    base, delta = _delta_split(docs)
    stored = materialize_temp(
        distributed_row_number(
            base.select(
                "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
            ),
            hash_col="h",
            tiebreak_col="doc_id",
            out_col="new_id",
        ).select("doc_id", "new_id"),
        "ids_base_",
        key=source_key(sf_dir, "documents") + ":ids_base",
    )
    n_base = stored.agg(F.count("*").alias("n_base"))
    return (
        distributed_row_number(
            delta.select(
                "doc_id", F.md5(F.col("doc_id").cast("string")).alias("h")
            ),
            hash_col="h",
            tiebreak_col="doc_id",
            out_col="pos",
        )
        .crossJoin(F.broadcast(n_base))
        .select(
            F.col("doc_id").cast("long").alias("doc_id"),
            (F.col("n_base") + F.col("pos")).cast("long").alias("new_id"),
        )
    )


@query(
    "q_lateral_topk",
    oracle="""
    SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
    FROM customer c,
    LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
             WHERE o.o_custkey = c.c_custkey
             ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
    """,
)
def q_lateral_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Correlated LATERAL subquery — the per-row-subquery SQL surface
    (top-2 orders per customer) a BigQuery/DuckDB user writes without
    thinking.  The naive execution re-runs the subquery per outer row;
    Catalyst DECORRELATES it into a WindowGroupLimit (per-key top-k
    pre-filtered map-side) + one equi-join — the identical physical
    plan as the hand-written q_topk window, which is the point: the
    declarative surface carries no scale penalty.  The oracle runs the
    very same SQL text on DuckDB's genuine LATERAL executor."""
    load_table(spark, sf_dir, "customer").createOrReplaceTempView(
        "customer"
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT c.c_custkey, t.o_orderkey, t.o_totalprice
        FROM customer c,
        LATERAL (SELECT o_orderkey, o_totalprice FROM orders o
                 WHERE o.o_custkey = c.c_custkey
                 ORDER BY o_totalprice DESC, o_orderkey LIMIT 2) t
        """
    )


@query(
    "q_prefix_sum",
    oracle="""
    SELECT event_id,
           CAST(SUM(CAST(ROUND(value * 100, 0) AS BIGINT)) OVER (
               ORDER BY event_id
               ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS BIGINT) AS running_cents
    FROM events
    """,
)
def q_prefix_sum(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Global running revenue in event order — the cumulative-total /
    watermark-accounting shape, and the third classic single-reducer
    trap after global ROW_NUMBER and global sort: ``SUM() OVER (ORDER
    BY ...)`` with no PARTITION BY.  Distributed as a Blelloch scan
    (operators/ids.py distributed_prefix_sum): deterministic
    fixed-width buckets from a 1-row (min, max) broadcast, per-bucket
    running sums after one hash exchange, and a 2048-row exclusive
    bucket-total cumsum broadcast back.  Values fold to integer cents
    first, so the recomposition is bit-identical to the sequential
    scan at any partitioning — which is exactly what the oracle's
    genuine sequential window computes."""
    from clv_data_pipeline_spark.operators.ids import (
        distributed_prefix_sum,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id",
        F.round(F.col("value") * 100, 0).cast("long").alias("cents"),
    )
    return distributed_prefix_sum(
        ev, order_col="event_id", value_col="cents", out_col="running_cents"
    ).select(
        "event_id", F.col("running_cents").cast("long").alias("running_cents")
    )


@query(
    "q_late_events",
    oracle=f"""
    WITH j AS (
        SELECT event_id, ts, epoch_us(ts) AS us,
               epoch_us(ts)
               + ({md5_bits_sql("CAST(event_id AS VARCHAR)")} % 7200)
                 * 1000000 AS arr
        FROM events),
    t AS (
        SELECT event_id, ts, us,
               MAX(us) OVER (
                   ORDER BY arr, event_id
                   ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
                   AS wm
        FROM j)
    SELECT strftime(ts, '%Y-%m-%d') AS day,
           CAST(COUNT(*) AS BIGINT) AS n_events,
           CAST(COUNT(*) FILTER (WHERE us < wm - 3600000000) AS BIGINT)
               AS n_late
    FROM t GROUP BY day
    """,
)
def q_late_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Watermark-late accounting in batch form: an event is LATE if,
    at its arrival, the running-max event time — the exact quantity a
    Structured Streaming watermark tracks — already exceeded its
    timestamp by more than the 1-hour delay; per-day totals tell an
    operator how much data a given watermark would drop before they
    deploy it.  The testdata's event_id order is PERFECTLY
    chronological (zero disorder, so every threshold counted 0 late —
    the round-8 degeneracy audit flagged the column), so arrival order
    is simulated with a deterministic md5 jitter of up to 2 hours per
    event — the shape real at-least-once transports produce — making
    ~27% of events late against the 1-hour watermark.  The running
    max is the distributed Blelloch scan (operators/ids.py
    distributed_prefix_max — max is idempotent, so the recomposition
    is exact with no numeric caveats); everything after it is one
    day-grain aggregate."""
    from clv_data_pipeline_spark.operators.ids import (
        distributed_prefix_max,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "event_id", "ts", F.unix_micros(F.col("ts")).alias("us")
    )
    jitter_s = md5_bits(F.col("event_id").cast("string")) % 7200
    ev = ev.withColumn(
        "arr", F.col("us") + jitter_s * F.lit(1_000_000)
    )
    # arr ties are COMMON (second-granularity timestamps + integer-
    # second jitter), and the running max at a tied row depends on the
    # intra-tie order — event_id pins it to the oracle's
    # ORDER BY arr, event_id exactly.
    wm = distributed_prefix_max(
        ev,
        order_col="arr",
        value_col="us",
        out_col="wm",
        tiebreak_col="event_id",
    )
    return (
        wm.groupBy(F.date_format("ts", "yyyy-MM-dd").alias("day"))
        .agg(
            F.count("*").cast("long").alias("n_events"),
            F.sum(
                (F.col("us") < F.col("wm") - F.lit(3_600_000_000)).cast(
                    "long"
                )
            )
            .cast("long")
            .alias("n_late"),
        )
    )


@query(
    "q_sql_udf",
    oracle="""
    SELECT o_custkey,
           CAST(COUNT(*) AS BIGINT) AS n_orders,
           ROUND(CAST(SUM(CAST(ROUND(o_totalprice * 0.04 + 1.5, 2)
                               AS DECIMAL(18,2))) AS DOUBLE), 2)
               AS total_margin
    FROM orders GROUP BY o_custkey
    """,
)
def q_sql_udf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Declarative SQL UDF surface (new in Spark 4): the margin
    formula is defined ONCE as `CREATE TEMPORARY FUNCTION ... RETURN
    <expr>` and called like a built-in — the warehouse pattern for
    sharing business logic without shipping Python, and unlike a
    Python UDF the body INLINES into the plan (whole-stage codegen,
    full pushdown — zero UDF-boundary cost at 100 TB).  The oracle
    states the same arithmetic inline, so the check proves the UDF
    indirection changes nothing.  Per-row results round to cents and
    sum as DECIMAL (registry determinism rules)."""
    spark.sql(
        """
        CREATE OR REPLACE TEMPORARY FUNCTION order_margin(p DOUBLE)
        RETURNS DOUBLE
        RETURN round(p * 0.04 + 1.5, 2)
        """
    )
    load_table(spark, sf_dir, "orders").createOrReplaceTempView("orders")
    return spark.sql(
        """
        SELECT o_custkey,
               CAST(COUNT(*) AS BIGINT) AS n_orders,
               ROUND(CAST(SUM(CAST(order_margin(o_totalprice)
                                   AS DECIMAL(18,2))) AS DOUBLE), 2)
                   AS total_margin
        FROM orders GROUP BY o_custkey
        """
    )


@query(
    "q_join_explosion_audit",
    oracle="""
    WITH l AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_left
        FROM events GROUP BY event_type),
    r AS (
        SELECT event_type, CAST(COUNT(*) AS BIGINT) AS n_right
        FROM events WHERE value > 50 GROUP BY event_type),
    k AS (
        SELECT l.event_type, l.n_left, COALESCE(r.n_right, 0) AS n_right,
               l.n_left * COALESCE(r.n_right, 0) AS est_pairs
        FROM l LEFT JOIN r USING (event_type)),
    tot AS (
        SELECT CAST(SUM(n_left) AS BIGINT) AS in_left,
               CAST(SUM(n_right) AS BIGINT) AS in_right,
               CAST(SUM(est_pairs) AS BIGINT) AS est_out
        FROM k)
    SELECT k.event_type, k.n_left, k.n_right,
           CAST(k.est_pairs AS BIGINT) AS est_pairs,
           t.est_out,
           CAST(k.est_pairs * 100 >= t.est_out AS BIGINT) AS hot_key
    FROM k CROSS JOIN tot t
    """,
)
def q_join_explosion_audit(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-join cardinality audit — the guard a 100 TB pipeline runs
    BEFORE an unfamiliar join: per-key counts on both sides multiply
    into the exact join output size (sum over keys of n_l x n_r), so
    a fan-out explosion or a melt-one-reducer hot key (>= 1% of
    output here) is caught from two cheap aggregates instead of
    discovered as a dead executor three hours in.  The numbers also
    decide strategy: hot_key rows are the salting candidates
    (q_salted_join), small n_right totals mean broadcast.  Two
    partial-aggregating key shuffles, key-cardinality-sized output,
    1-row totals broadcast."""
    ev = load_table(spark, sf_dir, "events")
    left = ev.groupBy("event_type").agg(F.count("*").alias("n_left"))
    right = (
        ev.filter(F.col("value") > 50)
        .groupBy("event_type")
        .agg(F.count("*").alias("n_right"))
    )
    k = (
        left.join(right, "event_type", "left")
        .na.fill({"n_right": 0})
        .withColumn("est_pairs", F.col("n_left") * F.col("n_right"))
    )
    tot = k.agg(
        F.sum("n_left").cast("long").alias("in_left"),
        F.sum("n_right").cast("long").alias("in_right"),
        F.sum("est_pairs").cast("long").alias("est_out"),
    )
    return k.crossJoin(F.broadcast(tot)).select(
        "event_type",
        F.col("n_left").cast("long").alias("n_left"),
        F.col("n_right").cast("long").alias("n_right"),
        F.col("est_pairs").cast("long").alias("est_pairs"),
        "est_out",
        (F.col("est_pairs") * 100 >= F.col("est_out"))
        .cast("long")
        .alias("hot_key"),
    )


@query(
    "q_stream_assign_ids",
    oracle="""
    WITH s AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    b AS (
        SELECT doc_id,
               CASE WHEN doc_id < n // 3 THEN 0
                    WHEN doc_id < (2 * n) // 3 THEN 1
                    ELSE 2 END AS batch
        FROM documents, s)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (
               ORDER BY batch, md5(CAST(doc_id AS VARCHAR)), doc_id)
               AS BIGINT) AS new_id
    FROM b
    """,
)
def q_stream_assign_ids(spark: SparkSession, sf_dir: str) -> DataFrame:
    """ONLINE id issuance on the real Structured Streaming engine —
    q_assign_ids_incremental's streaming twin and the ninth
    streaming/batch parity proof: the corpus arrives as three
    chronological micro-batches, each trigger ranks its batch in md5
    order (the distributed-rank composition, no single-reducer window
    even inside a batch) and appends assignments continuing from the
    stored count (streaming/ingest.py id_issuance_sink).  The oracle
    states the whole issuance declaratively — ROW_NUMBER over (batch,
    md5) — so the driver hash-verifies that three sequential online
    issuances with persisted state equal the one-shot batch
    assignment."""
    from clv_data_pipeline_spark.streaming.ingest import (
        id_issuance_sink,
        replay_arrivals,
        scratch_tables,
    )

    d = load_table(spark, sf_dir, "documents").select("doc_id")
    n = d.count()
    c1, c2 = n // 3, (2 * n) // 3
    slices = (
        d.filter(F.col("doc_id") < c1),
        d.filter((F.col("doc_id") >= c1) & (F.col("doc_id") < c2)),
        d.filter(F.col("doc_id") >= c2),
    )
    with scratch_tables(spark, "ids_stream") as (target_table,):
        replay_arrivals(slices, id_issuance_sink(target_table))
        return (
            spark.table(target_table)
            .select("doc_id", "new_id")
            .localCheckpoint(eager=True)
        )


@query(
    "q_stream_quantiles",
    oracle="""
    WITH b AS (
        SELECT LEAST(GREATEST(CAST(FLOOR(value / 0.25) AS BIGINT), 0),
                     2047) AS bin
        FROM events),
    hist AS (
        SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bin),
    cum AS (
        SELECT bin, cnt,
               SUM(cnt) OVER (ORDER BY bin ROWS UNBOUNDED PRECEDING) AS c,
               SUM(cnt) OVER () AS n
        FROM hist),
    qs(q) AS (VALUES (0.5), (0.9), (0.99)),
    est AS (
        SELECT q, MIN(bin) AS qbin, MAX(n) AS n
        FROM qs JOIN cum ON c >= q * n GROUP BY q)
    SELECT CAST(q AS DOUBLE) AS q,
           ROUND((qbin + 1) * CAST(0.25 AS DOUBLE), 6) AS est,
           CAST(n AS BIGINT) AS n
    FROM est
    """,
)
def q_stream_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming quantile-sketch maintenance — the TENTH
    streaming/batch parity proof and q_quantiles_incremental's online
    twin: three chronological triggers fold micro-batch histograms
    into a stored 2048-bin summary by ADDITION
    (streaming/ingest.py histogram_merge_sink; boundaries fixed a
    priori at [0, 512), as a production streaming sketch must be),
    then the percentile estimates read off the merged state.  The
    oracle computes the same fixed-bin estimate over all events in
    one batch pass, so the driver hash-verifies that merge-as-you-go
    equals compute-at-once — the mergeability property itself."""
    from pyspark.sql.window import Window as W

    from clv_data_pipeline_spark.streaming.ingest import (
        histogram_merge_sink,
        replay_arrivals,
        scratch_tables,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "value")
    cuts = ("2024-01-11", "2024-01-21")
    slices = (
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    )
    with scratch_tables(spark, "hist_stream") as (target_table,):
        replay_arrivals(
            slices, histogram_merge_sink(target_table, lo=0.0, hi=512.0)
        )
        wc = W.orderBy("bin").rowsBetween(W.unboundedPreceding, 0)
        wall = W.partitionBy(F.lit(1))
        cum = spark.table(target_table).select(
            "bin",
            F.sum("cnt").over(wc).alias("c"),
            F.sum("cnt").over(wall).alias("n"),
        )
        qs = spark.createDataFrame([(0.5,), (0.9,), (0.99,)], "q double")
        est = (
            cum.join(F.broadcast(qs), F.col("c") >= F.col("q") * F.col("n"))
            .groupBy("q")
            .agg(F.min("bin").alias("qbin"), F.max("n").alias("n"))
        )
        return est.select(
            F.col("q").cast("double").alias("q"),
            F.round((F.col("qbin") + 1) * 0.25, 6).alias("est"),
            F.col("n").cast("long").alias("n"),
        ).localCheckpoint(eager=True)


@query(
    "q_observe",
    oracle="""
    SELECT CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CASE WHEN l_quantity <= 0 THEN 1 ELSE 0 END)
                AS BIGINT) AS n_nonpositive_qty,
           ROUND(CAST(SUM(CAST(l_extendedprice AS DECIMAL(18,4)))
                      AS DOUBLE), 2) AS total_price,
           CAST(MIN(l_orderkey) AS BIGINT) AS min_key,
           CAST(MAX(l_orderkey) AS BIGINT) AS max_key
    FROM lineitem
    """,
)
def q_observe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pipeline data-quality counters via Spark's Observation API
    (``df.observe``) — the zero-extra-pass way to collect validation
    metrics: the observation's aggregates ride ALONG the scan that a
    downstream consumer triggers anyway, instead of costing a second
    job like the reference's separate COUNT queries (validate_features
    firewall, reference dags/validate_features.py:13-24).  Here the
    monitored scan is consumed by a count and the observed metrics —
    row count, non-positive-quantity violations, exact DECIMAL revenue
    total, key bounds — come back through the observation handle and
    form the result row the driver hash-verifies.

    Scale note: observe() attaches an AggregatingAccumulator to the
    physical scan, so the metrics are exact at any parallelism and
    free at 100 TB (no second read); this is how production firewalls
    should meter ingest instead of re-scanning."""
    from pyspark.sql import Observation

    li = load_table(spark, sf_dir, "lineitem")
    obs = Observation("dq")
    monitored = li.observe(
        obs,
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(
            (F.col("l_quantity") <= 0).cast("long")
        ).alias("n_nonpositive_qty"),
        F.round(
            F.sum(F.col("l_extendedprice").cast("decimal(18,4)")).cast(
                "double"
            ),
            2,
        ).alias("total_price"),
        F.min("l_orderkey").alias("min_key"),
        F.max("l_orderkey").alias("max_key"),
    )
    monitored.count()  # the consumer action the metrics ride along
    m = obs.get
    return spark.createDataFrame(
        [
            (
                m["n_rows"],
                m["n_nonpositive_qty"],
                m["total_price"],
                m["min_key"],
                m["max_key"],
            )
        ],
        "n_rows long, n_nonpositive_qty long, total_price double, "
        "min_key long, max_key long",
    )


@query(
    "q_binary_ingest",
    oracle="""
    SELECT CAST(doc_id AS BIGINT) AS doc_id,
           CAST(octet_length(encode(text)) AS BIGINT) AS n_bytes,
           md5(text) AS content_md5
    FROM documents WHERE doc_id < 10
    """,
)
def q_binary_ingest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """``binaryFile`` source round trip — the raw-bytes ingest path a
    multimodal pipeline starts from (images/audio arrive as files, not
    rows): ten documents are written out as individual files, read
    back through ``spark.read.format("binaryFile")`` (one row per
    file: path, length, content bytes), and identified by md5 of the
    content — which the oracle reproduces straight from the source
    table, proving the connector preserved every byte.

    Scale notes: binaryFile parallelizes by file; content is NOT
    splittable, so this is the LANDING reader — production flows
    immediately re-shard into parquet with binary columns
    (q_multimodal_meta's layout) for columnar pruning.  The filename
    carries the record key, the standard object-store convention."""
    import os
    d = (
        load_table(spark, sf_dir, "documents")
        .filter(F.col("doc_id") < 10)
        .select(F.col("doc_id").cast("long").alias("doc_id"), "text")
        .collect()
    )
    root = scratch_dir("q_binary_ingest_")
    for r in d:
        with open(os.path.join(root, f"{r['doc_id']:04d}.bin"), "wb") as f:
            f.write(r["text"].encode("utf-8"))
    files = spark.read.format("binaryFile").load(root)
    return files.select(
        F.regexp_extract(
            F.element_at(F.split(F.col("path"), "/"), -1),
            r"(\d+)\.bin",
            1,
        )
        .cast("long")
        .alias("doc_id"),
        F.col("length").cast("long").alias("n_bytes"),
        F.md5(F.col("content")).alias("content_md5"),
    )


@query(
    "q_freshness",
    oracle="""
    WITH f AS (
        SELECT 'events' AS table_name,
               strftime(CAST(MAX(ts) AS DATE), '%Y-%m-%d') AS max_date,
               CAST(date_diff('day', CAST(MAX(ts) AS DATE),
                              DATE '2024-03-01') AS BIGINT)
                   AS staleness_days
        FROM events
        UNION ALL
        SELECT 'orders',
               strftime(CAST(MAX(o_orderdate) AS DATE), '%Y-%m-%d'),
               CAST(date_diff('day', CAST(MAX(o_orderdate) AS DATE),
                              DATE '2024-03-01') AS BIGINT)
        FROM orders
        UNION ALL
        SELECT 'lineitem',
               strftime(CAST(MAX(l_shipdate) AS DATE), '%Y-%m-%d'),
               CAST(date_diff('day', CAST(MAX(l_shipdate) AS DATE),
                              DATE '2024-03-01') AS BIGINT)
        FROM lineitem)
    SELECT table_name, max_date, staleness_days,
           staleness_days <= 35 AS within_slo
    FROM f
    """,
)
def q_freshness(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Data-freshness SLO audit — the first page of every pipeline
    runbook: per source table, the latest business date, how stale it
    is against the pipeline's fixed as-of date, and a 35-day SLO
    verdict.  A silently-stalled upstream feed fails here before it
    poisons every downstream aggregate (the reference's DAG trusts
    BigQuery ingestion implicitly; this is the guard it lacked,
    composing with q_observe's row-level counters).

    MAX over a date/timestamp column is answered by parquet
    footer statistics — at 100 TB this reads metadata, not data
    (min/max scan pruning), and the result frame is one row per
    table."""
    ev = load_table(spark, sf_dir, "events")
    od = load_table(spark, sf_dir, "orders")
    li = load_table(spark, sf_dir, "lineitem")
    asof = F.lit("2024-03-01").cast("date")

    def audit(df, name, col, is_ts):
        d = F.to_date(F.max(col)) if is_ts else F.to_date(F.max(col))
        return df.agg(
            F.lit(name).alias("table_name"),
            F.date_format(d, "yyyy-MM-dd").alias("max_date"),
            F.datediff(asof, d).cast("long").alias("staleness_days"),
        )

    f = (
        audit(ev, "events", "ts", True)
        .unionAll(audit(od, "orders", "o_orderdate", False))
        .unionAll(audit(li, "lineitem", "l_shipdate", False))
    )
    return f.select(
        "table_name",
        "max_date",
        "staleness_days",
        (F.col("staleness_days") <= 35).alias("within_slo"),
    )


@query(
    "q_lift_curve",
    oracle="""
    WITH u AS (
        SELECT user_id,
               CAST(SUM(CASE WHEN event_type = 'purchase'
                        AND ts < TIMESTAMP '2024-01-16'
                        THEN 1 ELSE 0 END) AS BIGINT) AS score,
               CAST(MAX(CASE WHEN event_type = 'purchase'
                        AND ts >= TIMESTAMP '2024-01-16'
                        AND value >= 150 THEN 1 ELSE 0 END)
                    AS BIGINT) AS response
        FROM events GROUP BY user_id),
    r AS (
        SELECT response,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY -score, md5(CAST(user_id AS VARCHAR)),
                            user_id) AS BIGINT) AS i,
               CAST(COUNT(*) OVER () AS BIGINT) AS n
        FROM u),
    d AS (
        SELECT CAST((i - 1) * 10 // n + 1 AS BIGINT) AS decile,
               response
        FROM r),
    agg AS (
        SELECT decile, CAST(COUNT(*) AS BIGINT) AS n_users,
               CAST(SUM(response) AS BIGINT) AS n_resp
        FROM d GROUP BY decile),
    tot AS (SELECT CAST(SUM(n_resp) AS DOUBLE) AS tr,
                   CAST(SUM(n_users) AS DOUBLE) AS tn
            FROM agg)
    SELECT a.decile, a.n_users, a.n_resp,
           ROUND(CAST(a.n_resp AS DOUBLE) / a.n_users, 6)
               AS response_rate,
           ROUND((CAST(a.n_resp AS DOUBLE) / a.n_users)
                 / (t.tr / t.tn), 6) AS lift,
           ROUND(CAST(SUM(a.n_resp)
                      OVER (ORDER BY a.decile) AS DOUBLE) / t.tr, 6)
               AS cum_gain
    FROM agg a CROSS JOIN tot t
    """,
)
def q_lift_curve(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decile lift and cumulative-gains table — how marketing actually
    consumes a propensity score (q_auc ranks, q_calibration trusts,
    THIS allocates budget): users ranked by first-half purchase
    activity, split into score deciles, each decile's second-half
    HIGH-VALUE response rate (a >=150-value purchase — every testdata
    user makes *some* second-half purchase, so an any-purchase
    response is constant-1 and the lift column vacuous; the round-8
    degeneracy audit caught exactly that) against the base rate
    (lift) and the running share of all responders captured (gains) —
    'the top 2 deciles hold 40% of conversions' is the sentence
    campaigns are sized with.

    One conditional scan builds leak-free (score, response) pairs
    (score strictly earlier than the response window); the global
    rank comes from operators/ids.distributed_row_number (score as
    the coarse range key, md5 fine order — never a single-partition
    window), and decile = (rank-1)*10 div n + 1 is pure integer math
    written identically on both sides; everything after lives on the
    10-row decile frame, so all ratios are bit-deterministic."""
    from clv_data_pipeline_spark.operators.ids import (
        distributed_row_number,
    )
    from clv_data_pipeline_spark.queries.analytics import (
        _purchase_score_label,
    )

    u = _purchase_score_label(spark, sf_dir, "response")
    ranked = distributed_row_number(
        u.withColumn("neg", -F.col("score")).withColumn(
            "h", F.md5(F.col("user_id").cast("string"))
        ),
        hash_col="h",
        tiebreak_col="user_id",
        out_col="i",
        coarse_cols=("neg",),
    )
    n = u.agg(F.count("*").cast("long").alias("n"))
    d = ranked.crossJoin(F.broadcast(n)).select(
        (
            F.expr("(i - 1) * 10 div n") + 1
        )
        .cast("long")
        .alias("decile"),
        "response",
    )
    agg = d.groupBy("decile").agg(
        F.count("*").cast("long").alias("n_users"),
        F.sum("response").cast("long").alias("n_resp"),
    )
    tot = agg.agg(
        F.sum("n_resp").cast("double").alias("tr"),
        F.sum("n_users").cast("double").alias("tn"),
    )
    rate = F.col("n_resp").cast("double") / F.col("n_users")
    return agg.crossJoin(F.broadcast(tot)).select(
        "decile",
        "n_users",
        "n_resp",
        F.round(rate, 6).alias("response_rate"),
        F.round(rate / (F.col("tr") / F.col("tn")), 6).alias("lift"),
        F.round(
            F.sum("n_resp")
            .over(
                Window.orderBy("decile").rowsBetween(
                    Window.unboundedPreceding, 0
                )
            )
            .cast("double")
            / F.col("tr"),
            6,
        ).alias("cum_gain"),
    )


@query(
    "q_stream_topk",
    oracle="""
    WITH counts AS (
        SELECT user_id, CAST(COUNT(*) AS BIGINT) AS n_events
        FROM events GROUP BY user_id),
    ranked AS (
        SELECT user_id, n_events,
               CAST(ROW_NUMBER() OVER (
                   ORDER BY n_events DESC, user_id) AS BIGINT) AS rnk
        FROM counts)
    SELECT CAST(user_id AS BIGINT) AS user_id, n_events, rnk
    FROM ranked WHERE rnk <= 10
    """,
)
def q_stream_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming heavy hitters — the THIRTEENTH streaming/batch parity
    proof: three chronological triggers fold micro-batch per-user
    count partials into a stored count table by ADDITION
    (streaming/ingest.py count_merge_sink — counts are the canonical
    mergeable summary), then the top-10 users read off the merged
    state.  The oracle computes the same top-10 over all events in
    one batch pass, so the driver hash-verifies merge-as-you-go
    equals compute-at-once.  At an open key domain the same sink
    would cap state with a count-min sketch + candidate set; the
    bounded user domain keeps the parity proof exact."""
    from pyspark.sql.window import Window as W

    from clv_data_pipeline_spark.streaming.ingest import (
        count_merge_sink,
        replay_arrivals,
        scratch_tables,
    )

    ev = load_table(spark, sf_dir, "events").select("ts", "user_id")
    cuts = ("2024-01-11", "2024-01-21")
    slices = (
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    )
    with scratch_tables(spark, "topk_stream") as (target_table,):
        replay_arrivals(slices, count_merge_sink(target_table))
        ranked = spark.table(target_table).select(
            F.col("k").cast("long").alias("user_id"),
            F.col("cnt").cast("long").alias("n_events"),
            F.row_number()
            .over(W.orderBy(F.desc("cnt"), "k"))
            .cast("long")
            .alias("rnk"),
        )
        return ranked.filter(F.col("rnk") <= 10).localCheckpoint(eager=True)


@query(
    "q_stream_funnel",
    oracle="""
    WITH pu AS (
        SELECT user_id,
               MIN(CASE WHEN event_type = 'view' THEN ts END) AS tv,
               MIN(CASE WHEN event_type = 'click' THEN ts END) AS tc,
               MIN(CASE WHEN event_type = 'purchase' THEN ts END) AS tp
        FROM events GROUP BY user_id)
    SELECT CAST(COUNT(tv) AS BIGINT) AS step1_view,
           CAST(COUNT(CASE WHEN tc >= tv THEN 1 END) AS BIGINT)
               AS step2_click,
           CAST(COUNT(CASE WHEN tc >= tv AND tp >= tc THEN 1 END)
                AS BIGINT) AS step3_purchase
    FROM pu
    """,
)
def q_stream_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Streaming first-touch funnel — the FOURTEENTH streaming/batch
    parity proof: three chronological triggers fold per-(user, step)
    FIRST-event times into stored state by MIN
    (streaming/ingest.py min_ts_merge_sink — min is mergeable AND
    idempotent, the friendliest streaming state there is), then the
    strict-min ordered funnel (first click at-or-after first view,
    first purchase at-or-after first click) reads off the merged
    state.  This is the funnel semantic a streaming system CAN
    maintain exactly with O(users x steps) state — q_funnel's
    post-click purchase refinement needs the full per-user purchase
    history, which is why the batch and streaming funnels are
    separate, documented semantics.  The oracle computes the same
    min-based funnel over all events in one batch pass."""
    from clv_data_pipeline_spark.streaming.ingest import (
        min_ts_merge_sink,
        replay_arrivals,
        scratch_tables,
    )

    ev = load_table(spark, sf_dir, "events").select(
        "ts", "user_id", "event_type"
    )
    cuts = ("2024-01-11", "2024-01-21")
    slices = (
        ev.filter(F.col("ts") < cuts[0]),
        ev.filter((F.col("ts") >= cuts[0]) & (F.col("ts") < cuts[1])),
        ev.filter(F.col("ts") >= cuts[1]),
    )
    with scratch_tables(spark, "funnel_stream") as (target_table,):
        replay_arrivals(slices, min_ts_merge_sink(target_table))
        pu = spark.table(target_table).groupBy("user_id").agg(
            F.min(
                F.when(F.col("event_type") == "view", F.col("min_ts"))
            ).alias("tv"),
            F.min(
                F.when(F.col("event_type") == "click", F.col("min_ts"))
            ).alias("tc"),
            F.min(
                F.when(F.col("event_type") == "purchase", F.col("min_ts"))
            ).alias("tp"),
        )
        return pu.agg(
            F.count("tv").cast("long").alias("step1_view"),
            F.count(F.when(F.col("tc") >= F.col("tv"), 1))
            .cast("long")
            .alias("step2_click"),
            F.count(
                F.when(
                    (F.col("tc") >= F.col("tv"))
                    & (F.col("tp") >= F.col("tc")),
                    1,
                )
            )
            .cast("long")
            .alias("step3_purchase"),
        ).localCheckpoint(eager=True)
