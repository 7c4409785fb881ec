"""Co-occurrence / graph / fuzzy-matching analytics: market-basket
association rules, triangle counting over the co-purchase graph, and
edit-distance fuzzy joins.

Capability extensions beyond the reference surface (the reference's
relational core is the RFM CTAS at dags/clv_data_dag.py:80-93); these
are the standard retail-analytics shapes a warehouse user of the
reference would run next, re-expressed Spark-first.

Scale shapes:
- Market basket never self-joins the fact table on orderkey: items
  collapse to one sorted set per order (ONE shuffle on orderkey), and
  pair expansion is map-side over each set — per-order C(k,2) with k
  bounded by the number of distinct brands, not by line items.  Brand
  marginals and the order-count scalar are broadcast back.
- Triangle counting runs on ORDERED edges (u < v lexicographically),
  so each triangle is found exactly once; at real graph scale the same
  join chain runs on degree-oriented edges (low-degree endpoint
  first), bounding join fan-out by graph arboricity.  Here the brand
  projection is dictionary-small and broadcast.
- The fuzzy join blocks on string length (levenshtein(a,b) >=
  |len(a)-len(b)|, so distance <= K implies a length band of +/-K):
  the dictionary of DISTINCT names is extracted first (the classic
  dictionary trick — fuzzy-match the vocabulary, then re-attach
  counts), each name expands to its K+1..2K+1 candidate lengths
  map-side, and the join is an EQUI-join on candidate length — never
  an all-pairs cross product.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from clv_data_pipeline_spark.functions.stats import (
    md5_uniform,
    md5_uniform_sql,
)
from clv_data_pipeline_spark.registry import query
from clv_data_pipeline_spark.sources.io import load_table


def _order_brand_sets(spark: SparkSession, sf_dir: str) -> DataFrame:
    """One sorted brand set per order: lineitem x broadcast part
    dimension, collapsed by collect_set (which dedupes, so no separate
    DISTINCT shuffle).  This is the ONE wide shuffle of the basket
    family; pairs, marginals, and the order count all derive from it
    map-side.  Deliberately NOT persisted: the three consumers share an
    IDENTICAL exchange, which AQE stage-reuse dedupes at runtime —
    measured A/B at sf0.1: no-persist 1.39 s, persist 1.70-2.03 s (the
    cache materialization costs more than the reuse saves; contrast
    the incremental-dedup persists, whose consumers diverge before the
    exchange and run Python kernels)."""
    li = load_table(spark, sf_dir, "lineitem").select("l_orderkey", "l_partkey")
    part = load_table(spark, sf_dir, "part").select("p_partkey", "p_brand")
    return (
        li.join(F.broadcast(part), li.l_partkey == part.p_partkey)
        .groupBy("l_orderkey")
        .agg(F.array_sort(F.collect_set("p_brand")).alias("brands"))
    )


def _brand_pairs(sets: DataFrame) -> DataFrame:
    """Per-order brand sets -> co-occurrence pair counts (brand_a <
    brand_b) via map-side double explode of each sorted set."""
    return (
        sets.select(F.explode("brands").alias("brand_a"), "brands")
        .select("brand_a", F.explode("brands").alias("brand_b"))
        .filter(F.col("brand_a") < F.col("brand_b"))
        .groupBy("brand_a", "brand_b")
        .agg(F.count("*").cast("long").alias("n_ab"))
    )


#: shared oracle CTE prefix: order-brand membership, order count,
#: brand marginals, pair counts — mirrored by the helpers above.
_BASKET_CTES = """
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    tot AS (SELECT COUNT(DISTINCT l_orderkey) AS n_orders FROM ob),
    bc AS (SELECT p_brand, COUNT(*) AS n FROM ob GROUP BY p_brand),
    pairs AS (
        SELECT a.p_brand AS brand_a, b.p_brand AS brand_b,
               COUNT(*) AS n_ab
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey AND a.p_brand < b.p_brand
        GROUP BY 1, 2)
"""


@query(
    "q_market_basket",
    oracle=_BASKET_CTES
    + """
    SELECT p.brand_a, p.brand_b, CAST(p.n_ab AS BIGINT) AS n_ab,
           CAST(p.n_ab AS DOUBLE) / t.n_orders AS support,
           CAST(p.n_ab AS DOUBLE) / ca.n AS confidence,
           (CAST(p.n_ab AS DOUBLE) * t.n_orders)
               / (CAST(ca.n AS DOUBLE) * cb.n) AS lift
    FROM pairs p
    CROSS JOIN tot t
    JOIN bc ca ON ca.p_brand = p.brand_a
    JOIN bc cb ON cb.p_brand = p.brand_b
    WHERE p.n_ab * 50 >= t.n_orders
    """,
)
def q_market_basket(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Association rules over co-purchased brands: support, confidence
    and lift for every brand pair clearing 2% order support.  The
    min-support gate compares integers (n_ab * 50 >= n_orders) so the
    surviving edge set is engine-exact; the ratio metrics are single
    IEEE754 divisions written identically on both engines.

    Pair generation is the collect_set/explode shape (see module
    docstring) — one shuffle on orderkey, one on the pair key; the
    25-row brand marginals broadcast, the order count is a 1-row
    crossJoin broadcast (plan-lint whitelisted)."""
    sets = _order_brand_sets(spark, sf_dir)
    pairs = _brand_pairs(sets)
    marg = (
        sets.select(F.explode("brands").alias("p_brand"))
        .groupBy("p_brand")
        .agg(F.count("*").cast("long").alias("n"))
    )
    n_orders = sets.select(
        F.count("*").cast("long").alias("n_orders")
    )
    ca = marg.select(
        F.col("p_brand").alias("brand_a"), F.col("n").alias("n_a")
    )
    cb = marg.select(
        F.col("p_brand").alias("brand_b"), F.col("n").alias("n_b")
    )
    return (
        pairs.crossJoin(F.broadcast(n_orders))
        .join(F.broadcast(ca), "brand_a")
        .join(F.broadcast(cb), "brand_b")
        .filter(F.col("n_ab") * 50 >= F.col("n_orders"))
        .select(
            "brand_a",
            "brand_b",
            "n_ab",
            (F.col("n_ab").cast("double") / F.col("n_orders")).alias(
                "support"
            ),
            (F.col("n_ab").cast("double") / F.col("n_a")).alias("confidence"),
            (
                (F.col("n_ab").cast("double") * F.col("n_orders"))
                / (F.col("n_a").cast("double") * F.col("n_b"))
            ).alias("lift"),
        )
    )


@query(
    "q_triangles",
    oracle=_BASKET_CTES
    + """,
    edges AS (
        SELECT brand_a AS u, brand_b AS v
        FROM pairs CROSS JOIN tot WHERE n_ab * 50 >= n_orders),
    tri AS (
        SELECT e1.u AS a, e1.v AS b, e2.v AS c
        FROM edges e1
        JOIN edges e2 ON e1.v = e2.u
        JOIN edges e3 ON e3.u = e1.u AND e3.v = e2.v),
    nodes AS (
        SELECT a AS brand FROM tri
        UNION ALL SELECT b FROM tri
        UNION ALL SELECT c FROM tri)
    SELECT brand, CAST(COUNT(*) AS BIGINT) AS n_triangles
    FROM nodes GROUP BY brand
    """,
)
def q_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Triangle participation per node of the brand co-purchase graph
    (edges = pairs with >=2% order support, the q_market_basket gate).
    Ordered edges u < v make the e1(a,b) |><| e2(b,c) |><| e3(a,c)
    chain enumerate each triangle exactly once — the standard
    compact-forward algorithm; on a billion-edge graph the same chain
    runs degree-oriented so fan-out is bounded by arboricity, and the
    closing e3 probe is the only big shuffle.  Here the edge list is
    dictionary-small, so both joins broadcast."""
    sets = _order_brand_sets(spark, sf_dir)
    pairs = _brand_pairs(sets)
    n_orders = sets.select(
        F.count("*").cast("long").alias("n_orders")
    )
    # NOT persisted although e1/e2/e3 alias this frame three times:
    # all three branches share the identical pairs exchange, which AQE
    # stage-reuse dedupes at runtime — measured A/B at sf0.1:
    # no-persist 1.30 s vs persist 1.61 s (same finding as
    # _order_brand_sets; cache materialization costs more than reuse
    # saves when the shared subtree ends in an identical exchange).
    edges = (
        pairs.crossJoin(F.broadcast(n_orders))
        .filter(F.col("n_ab") * 50 >= F.col("n_orders"))
        .select(F.col("brand_a").alias("u"), F.col("brand_b").alias("v"))
    )
    e1 = edges.select(F.col("u").alias("a"), F.col("v").alias("b"))
    e2 = edges.select(F.col("u").alias("b"), F.col("v").alias("c"))
    e3 = edges.select(F.col("u").alias("a"), F.col("v").alias("c"))
    tri = e1.join(F.broadcast(e2), "b").join(F.broadcast(e3), ["a", "c"])
    return (
        tri.select(
            F.explode(F.array("a", "b", "c")).alias("brand")
        )
        .groupBy("brand")
        .agg(F.count("*").cast("long").alias("n_triangles"))
    )


@query(
    "q_fuzzy_join",
    oracle="""
    WITH names AS (
        SELECT p_name, COUNT(*) AS n FROM part GROUP BY p_name)
    SELECT a.p_name AS name_a, b.p_name AS name_b,
           CAST(levenshtein(a.p_name, b.p_name) AS BIGINT) AS dist,
           CAST(a.n AS BIGINT) AS n_parts_a,
           CAST(b.n AS BIGINT) AS n_parts_b
    FROM names a JOIN names b
      ON a.p_name < b.p_name
     AND abs(length(a.p_name) - length(b.p_name)) <= 2
    WHERE levenshtein(a.p_name, b.p_name) <= 2
    """,
)
def q_fuzzy_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Edit-distance fuzzy self-join of the part-name vocabulary
    (levenshtein <= 2), the record-linkage primitive.  Dictionary
    trick: dedupe to distinct names WITH their part counts first, so
    the quadratic-ish matching runs on the vocabulary (64 names), not
    the fact table, and counts ride along for free.  Blocking is an
    EQUI-join on candidate length — each left name expands to its 5
    admissible right lengths map-side (levenshtein >= |len diff|
    makes the band exact, not approximate) — so the plan is a hash
    join, never a cross product.  The name_a < name_b guard keeps one
    row per unordered pair and no self-matches."""
    part = load_table(spark, sf_dir, "part").select("p_name")
    names = part.groupBy("p_name").agg(F.count("*").cast("long").alias("n"))
    left = names.select(
        F.col("p_name").alias("name_a"),
        F.col("n").alias("n_parts_a"),
        F.explode(
            F.sequence(
                F.length("p_name") - F.lit(2), F.length("p_name") + F.lit(2)
            )
        ).alias("len_b"),
    )
    right = names.select(
        F.col("p_name").alias("name_b"),
        F.col("n").alias("n_parts_b"),
        F.length("p_name").alias("len_b"),
    )
    return (
        left.join(right, "len_b")
        .filter(F.col("name_a") < F.col("name_b"))
        .withColumn(
            "dist", F.levenshtein("name_a", "name_b").cast("long")
        )
        .filter(F.col("dist") <= 2)
        .select("name_a", "name_b", "dist", "n_parts_a", "n_parts_b")
    )


def _kcore_oracle(k: int = 3, rounds: int = 4) -> str:
    """Unrolled DuckDB twin of q_kcore: the same fixed number of
    degree-prune rounds as chained CTEs (the q_pagerank / q_communities
    pattern: the ITERATION itself is hash-verified)."""
    ctes = [
        _BASKET_CTES
        + """,
    edges AS (
        SELECT brand_a AS u, brand_b AS v
        FROM pairs CROSS JOIN tot WHERE n_ab * 50 >= n_orders),
    e0 AS (SELECT u, v FROM edges UNION ALL SELECT v, u FROM edges)"""
    ]
    for i in range(1, rounds + 1):
        ctes.append(f"""k{i} AS (
        SELECT u FROM e{i - 1} GROUP BY u HAVING COUNT(*) >= {k}),
    e{i} AS (
        SELECT e.u, e.v FROM e{i - 1} e
        JOIN k{i} a ON e.u = a.u JOIN k{i} b ON e.v = b.u)""")
    return (
        ",\n    ".join(ctes)
        + f"""
    SELECT u AS brand, CAST(COUNT(*) AS BIGINT) AS core_deg
    FROM e{rounds} GROUP BY u"""
    )


@query("q_kcore", oracle=_kcore_oracle())
def q_kcore(spark: SparkSession, sf_dir: str) -> DataFrame:
    """3-core of the brand co-purchase graph by iterative degree
    pruning (4 synchronized rounds): repeatedly drop nodes with fewer
    than k surviving neighbors — the standard dense-subgraph /
    spam-cluster extractor.  The oracle unrolls the identical rounds as
    chained CTEs, so the driver hash-verifies the iteration end to end
    (the q_pagerank pattern).

    Scale shape: each round is one degree aggregate + two semi-joins
    against the (always shrinking) survivor set, which broadcasts; on
    a billion-edge graph the same loop runs with localCheckpoint
    lineage breaks every few rounds (operators/graph.py pattern) and
    converges in O(degeneracy) rounds."""
    sets = _order_brand_sets(spark, sf_dir)
    pairs = _brand_pairs(sets)
    n_orders = sets.select(F.count("*").cast("long").alias("n_orders"))
    edges = (
        pairs.crossJoin(F.broadcast(n_orders))
        .filter(F.col("n_ab") * 50 >= F.col("n_orders"))
        .select(F.col("brand_a").alias("u"), F.col("brand_b").alias("v"))
    )
    # localCheckpoint each round (operators/graph.py pattern): the
    # survivor set feeds THREE consumers per round (degree agg + two
    # semi-joins), so without lineage truncation the basket subtree
    # re-plans 3^rounds times.
    und = edges.unionByName(
        edges.select(F.col("v").alias("u"), F.col("u").alias("v"))
    ).localCheckpoint()
    for _ in range(4):
        keep = (
            und.groupBy("u")
            .agg(F.count("*").alias("deg"))
            .filter(F.col("deg") >= 3)
            .select("u")
        )
        und = und.join(F.broadcast(keep), "u", "left_semi").join(
            F.broadcast(keep.select(F.col("u").alias("v"))), "v", "left_semi"
        ).localCheckpoint()
    return und.groupBy("u").agg(
        F.count("*").cast("long").alias("core_deg")
    ).select(F.col("u").alias("brand"), "core_deg")


@query(
    "q_entity_resolution",
    oracle="""
    WITH RECURSIVE names AS (
        SELECT p_name, COUNT(*) AS n FROM part GROUP BY p_name),
    pairs AS (
        SELECT a.p_name AS na, b.p_name AS nb
        FROM names a JOIN names b
          ON a.p_name < b.p_name
         AND abs(length(a.p_name) - length(b.p_name)) <= 2
         AND levenshtein(a.p_name, b.p_name) <= 2),
    edges AS (
        SELECT na AS a, nb AS b FROM pairs
        UNION SELECT nb, na FROM pairs),
    reach(node, r) AS (
        SELECT p_name, p_name FROM names
        UNION
        SELECT e.a, reach.r FROM edges e JOIN reach ON reach.node = e.b),
    comp AS (
        SELECT node AS p_name, MIN(r) AS cluster_key
        FROM reach GROUP BY node),
    canon AS (
        SELECT cluster_key, p_name AS canonical_name
        FROM (SELECT c.cluster_key, n.p_name,
                     ROW_NUMBER() OVER (PARTITION BY c.cluster_key
                         ORDER BY n.n DESC, n.p_name) AS rn
              FROM comp c JOIN names n USING (p_name))
        WHERE rn = 1)
    SELECT c.p_name, c.cluster_key, canon.canonical_name,
           CAST(n.n AS BIGINT) AS n_parts,
           c.p_name = canon.canonical_name AS is_canonical
    FROM comp c JOIN names n USING (p_name) JOIN canon USING (cluster_key)
    """,
)
def q_entity_resolution(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end entity resolution over the part-name vocabulary: the
    composed record-linkage DAG (q_corpus_curate's role for the
    matching domain).  Stages: (1) dictionary extraction with counts;
    (2) length-banded blocking + levenshtein<=2 scoring (q_fuzzy_join's
    exact equi-join blocking); (3) TRANSITIVE clustering by iterative
    min-label propagation (operators/dedup.py connected_components —
    pairwise matches alone split entities: a~b, b~c but a!~c must still
    merge); (4) canonical-record election per cluster by max support
    with a deterministic tie-break.  The oracle's recursive CTE
    reachability hash-verifies the whole composition, iteration
    included.

    Scale shape: matching runs on the DISTINCT-name dictionary (never
    the fact table), the CC loop touches only the match edge list, and
    node ids are dense ranks of the dictionary (vocabulary-sized by
    construction, so the rank window is bounded)."""
    from pyspark.sql.window import Window as W

    from clv_data_pipeline_spark.operators.dedup import connected_components

    part = load_table(spark, sf_dir, "part").select("p_name")
    names = part.groupBy("p_name").agg(
        F.count("*").cast("long").alias("n")
    )
    ids = names.withColumn(
        "nid", F.row_number().over(W.orderBy("p_name")).cast("long")
    ).localCheckpoint()
    left = ids.select(
        F.col("p_name").alias("name_a"),
        F.col("nid").alias("ida"),
        F.explode(
            F.sequence(
                F.length("p_name") - F.lit(2), F.length("p_name") + F.lit(2)
            )
        ).alias("len_b"),
    )
    right = ids.select(
        F.col("p_name").alias("name_b"),
        F.col("nid").alias("idb"),
        F.length("p_name").alias("len_b"),
    )
    edges = (
        left.join(right, "len_b")
        .filter(F.col("name_a") < F.col("name_b"))
        .filter(F.levenshtein("name_a", "name_b") <= 2)
        .select("ida", "idb")
    )
    comp = connected_components(edges, "ida", "idb")
    with_cluster = ids.join(
        comp, ids["nid"] == comp["node"], "left"
    ).select(
        "p_name",
        "n",
        F.coalesce(F.col("cluster_id"), F.col("nid")).alias("_cid"),
    )
    key_names = ids.select(
        F.col("nid").alias("_cid"), F.col("p_name").alias("cluster_key")
    )
    labeled = with_cluster.join(F.broadcast(key_names), "_cid")
    wc = W.partitionBy("_cid").orderBy(F.desc("n"), "p_name")
    return (
        labeled.withColumn("_rn", F.row_number().over(wc))
        .withColumn(
            "canonical_name",
            F.first("p_name").over(
                wc.rowsBetween(W.unboundedPreceding, W.unboundedFollowing)
            ),
        )
        .select(
            "p_name",
            "cluster_key",
            "canonical_name",
            F.col("n").alias("n_parts"),
            (F.col("p_name") == F.col("canonical_name")).alias(
                "is_canonical"
            ),
        )
    )


@query(
    "q_adamic_adar",
    oracle=_BASKET_CTES
    + """,
    edges AS (
        SELECT brand_a AS u, brand_b AS v
        FROM pairs CROSS JOIN tot WHERE n_ab * 50 >= n_orders),
    adj AS (
        SELECT u AS node, v AS nbr FROM edges
        UNION ALL SELECT v, u FROM edges),
    deg AS (SELECT node, CAST(COUNT(*) AS BIGINT) AS deg
            FROM adj GROUP BY node),
    wedge AS (
        SELECT a1.node AS a, a2.node AS b, a1.nbr AS w
        FROM adj a1 JOIN adj a2
          ON a1.nbr = a2.nbr AND a1.node < a2.node),
    nonedge AS (
        SELECT wg.a, wg.b, wg.w FROM wedge wg
        LEFT JOIN edges e ON e.u = wg.a AND e.v = wg.b
        WHERE e.u IS NULL),
    scored AS (
        SELECT a, b, CAST(COUNT(*) AS BIGINT) AS n_common,
               SUM(CAST(ROUND(1.0 / ln(d.deg), 9) AS DECIMAL(18,9))) AS s
        FROM nonedge n JOIN deg d ON d.node = n.w
        GROUP BY a, b)
    SELECT a AS brand_a, b AS brand_b, n_common,
           CAST(s AS DOUBLE) AS aa_score
    FROM scored
    """,
)
def q_adamic_adar(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Adamic-Adar link prediction on the brand co-purchase graph:
    score every NON-edge pair sharing at least one common neighbor by
    sum over common neighbors of 1/ln(degree) — rare shared neighbors
    count more — the classic who-to-connect-next / complementary-
    product signal, completing the graph suite next to q_triangles'
    closed wedges (this op scores the OPEN ones).

    Scale shape: wedges come from one self-join of the symmetric
    adjacency on the CENTER node — each wedge is emitted exactly once
    (a < b), volume = sum(deg(w)^2), the same bound as triangle
    counting, with degree-oriented orientation the fix on power-law
    graphs; existing edges drop via an anti-join; per-term 1/ln(deg)
    rounds then sums as DECIMAL so the score is partitioning- and
    engine-exact."""
    sets = _order_brand_sets(spark, sf_dir)
    pairs = _brand_pairs(sets)
    n_orders = sets.select(F.count("*").cast("long").alias("n_orders"))
    edges = (
        pairs.crossJoin(F.broadcast(n_orders))
        .filter(F.col("n_ab") * 50 >= F.col("n_orders"))
        .select(F.col("brand_a").alias("u"), F.col("brand_b").alias("v"))
    )
    adj = edges.select(
        F.col("u").alias("node"), F.col("v").alias("nbr")
    ).unionByName(edges.select(F.col("v").alias("node"), F.col("u").alias("nbr")))
    deg = adj.groupBy("node").agg(F.count("*").alias("deg"))
    a1 = adj.select(F.col("node").alias("a"), F.col("nbr").alias("w"))
    a2 = adj.select(F.col("node").alias("b"), F.col("nbr").alias("w"))
    wedge = a1.join(a2, "w").filter(F.col("a") < F.col("b"))
    nonedge = wedge.join(
        edges,
        (wedge["a"] == edges["u"]) & (wedge["b"] == edges["v"]),
        "left_anti",
    )
    term = F.round(
        F.lit(1.0) / F.log(F.col("deg").cast("double")), 9
    ).cast("decimal(18,9)")
    return (
        nonedge.join(
            F.broadcast(deg.select(F.col("node").alias("w"), "deg")), "w"
        )
        .groupBy("a", "b")
        .agg(
            F.count("*").cast("long").alias("n_common"),
            F.sum(term).cast("double").alias("aa_score"),
        )
        .select(
            F.col("a").alias("brand_a"),
            F.col("b").alias("brand_b"),
            "n_common",
            "aa_score",
        )
    )


_FS_ITERS = 3


def _fs_estep(params: str) -> str:
    """E-step SQL fragment: posterior match probability per pattern
    from the given params CTE (left-to-right multiply order matches
    the Python replay exactly)."""
    return f"""
        SELECT pat.g1, pat.g2, pat.g3, pat.c,
               ROUND(
                 (p.p
                  * CASE pat.g1 WHEN 1 THEN p.m1 ELSE 1 - p.m1 END
                  * CASE pat.g2 WHEN 1 THEN p.m2 ELSE 1 - p.m2 END
                  * CASE pat.g3 WHEN 1 THEN p.m3 ELSE 1 - p.m3 END)
                 / ((p.p
                     * CASE pat.g1 WHEN 1 THEN p.m1 ELSE 1 - p.m1 END
                     * CASE pat.g2 WHEN 1 THEN p.m2 ELSE 1 - p.m2 END
                     * CASE pat.g3 WHEN 1 THEN p.m3 ELSE 1 - p.m3 END)
                    + ((1 - p.p)
                       * CASE pat.g1 WHEN 1 THEN p.u1 ELSE 1 - p.u1 END
                       * CASE pat.g2 WHEN 1 THEN p.u2 ELSE 1 - p.u2 END
                       * CASE pat.g3 WHEN 1 THEN p.u3 ELSE 1 - p.u3
                         END)), 9) AS w
        FROM pat CROSS JOIN {params} p"""


def _fs_oracle(iters: int = _FS_ITERS) -> str:
    """Unrolled Fellegi-Sunter EM: each iteration's E-step posteriors
    and M-step DECIMAL-summed parameter updates are replayed as CTEs,
    hash-verifying the fitted linkage model (q_logreg discipline)."""
    steps = []
    for t in range(1, iters + 1):
        steps.append(f"""
    e{t} AS MATERIALIZED ({_fs_estep(f"par{t - 1}")}),
    s{t} AS (
        SELECT CAST(SUM(c) AS DOUBLE) AS ct,
               CAST(SUM(CAST(ROUND(c * w, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS sw,
               CAST(SUM(CAST(ROUND(c * (1 - w), 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS su,
               CAST(SUM(CAST(ROUND(c * w * g1, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS sm1,
               CAST(SUM(CAST(ROUND(c * w * g2, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS sm2,
               CAST(SUM(CAST(ROUND(c * w * g3, 6) AS DECIMAL(18,6)))
                    AS DOUBLE) AS sm3,
               CAST(SUM(CAST(ROUND(c * (1 - w) * g1, 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS su1,
               CAST(SUM(CAST(ROUND(c * (1 - w) * g2, 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS su2,
               CAST(SUM(CAST(ROUND(c * (1 - w) * g3, 6)
                    AS DECIMAL(18,6))) AS DOUBLE) AS su3
        FROM e{t}),
    par{t} AS MATERIALIZED (
        SELECT ROUND(sw / ct, 9) AS p,
               ROUND(sm1 / sw, 9) AS m1, ROUND(sm2 / sw, 9) AS m2,
               ROUND(sm3 / sw, 9) AS m3,
               ROUND(su1 / su, 9) AS u1, ROUND(su2 / su, 9) AS u2,
               ROUND(su3 / su, 9) AS u3
        FROM s{t})""")
    return f"""
    WITH pairs AS (
        SELECT CAST(a.c_mktsegment = b.c_mktsegment AS BIGINT) AS g1,
               CAST(FLOOR(a.c_acctbal / 1000)
                    = FLOOR(b.c_acctbal / 1000) AS BIGINT) AS g2,
               CAST(length(a.c_name) = length(b.c_name) AS BIGINT)
                   AS g3
        FROM customer a JOIN customer b
          ON a.c_nationkey = b.c_nationkey
         AND a.c_custkey < b.c_custkey),
    pat AS MATERIALIZED (
        SELECT g1, g2, g3, CAST(COUNT(*) AS BIGINT) AS c
        FROM pairs GROUP BY 1, 2, 3),
    par0 AS (SELECT CAST(0.1 AS DOUBLE) AS p,
                    CAST(0.9 AS DOUBLE) AS m1,
                    CAST(0.9 AS DOUBLE) AS m2,
                    CAST(0.9 AS DOUBLE) AS m3,
                    CAST(0.1 AS DOUBLE) AS u1,
                    CAST(0.1 AS DOUBLE) AS u2,
                    CAST(0.1 AS DOUBLE) AS u3),
    {','.join(steps)},
    final AS ({_fs_estep(f"par{iters}")})
    SELECT f.g1, f.g2, f.g3, f.c, f.w AS posterior,
           ROUND(log2(
             (CASE f.g1 WHEN 1 THEN p.m1 ELSE 1 - p.m1 END
              * CASE f.g2 WHEN 1 THEN p.m2 ELSE 1 - p.m2 END
              * CASE f.g3 WHEN 1 THEN p.m3 ELSE 1 - p.m3 END)
             / (CASE f.g1 WHEN 1 THEN p.u1 ELSE 1 - p.u1 END
                * CASE f.g2 WHEN 1 THEN p.u2 ELSE 1 - p.u2 END
                * CASE f.g3 WHEN 1 THEN p.u3 ELSE 1 - p.u3 END)), 6)
               AS match_weight
    FROM final f CROSS JOIN par{iters} p
    """


@query("q_fellegi_sunter", oracle=_fs_oracle())
def q_fellegi_sunter(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fellegi-Sunter probabilistic record linkage, fitted by EM —
    the UNSUPERVISED complement to q_entity_resolution's rule-based
    matching: blocked customer pairs compare on three fields
    (segment, balance band, name length); EM fits the match
    proportion and per-field m/u agreement probabilities from the
    8-pattern agreement-vector histogram alone (no labels), yielding
    each pattern's log2 match weight and posterior match probability
    — the splink/Splink-style linkage model.

    Scale: pair comparison is nation-blocked (swap in q_fuzzy_join's
    length bands for finer blocks) and immediately compresses to the
    2^k-pattern frame — EM iterations never touch pairs again, so
    fitting costs the same at any corpus size once patterns are
    counted.  The 3-iteration trajectory is fully unrolled in the
    oracle: posteriors round to 9 dp, M-step sums accumulate as
    DECIMAL of 6 dp terms (order-free), so the FITTED MODEL itself
    is hash-verified.  The sequential EM recursion over the bounded
    8-row frame runs at the driver (ALS/q_ucb_bandit fit-barrier
    pattern)."""
    import decimal

    cust = load_table(spark, sf_dir, "customer")
    a, b = cust.alias("a"), cust.alias("b")
    pairs = a.join(
        b,
        (F.col("a.c_nationkey") == F.col("b.c_nationkey"))
        & (F.col("a.c_custkey") < F.col("b.c_custkey")),
    ).select(
        (F.col("a.c_mktsegment") == F.col("b.c_mktsegment"))
        .cast("long")
        .alias("g1"),
        (
            F.floor(F.col("a.c_acctbal") / 1000)
            == F.floor(F.col("b.c_acctbal") / 1000)
        )
        .cast("long")
        .alias("g2"),
        (F.length("a.c_name") == F.length("b.c_name"))
        .cast("long")
        .alias("g3"),
    )
    pat = [
        (r["g1"], r["g2"], r["g3"], r["c"])
        for r in pairs.groupBy("g1", "g2", "g3")
        .agg(F.count("*").cast("long").alias("c"))
        .collect()
    ]
    p, m, u = 0.1, [0.9, 0.9, 0.9], [0.1, 0.1, 0.1]

    def lik(g, probs):
        out = 1.0
        for k in range(3):
            out = out * (probs[k] if g[k] == 1 else 1 - probs[k])
        return out

    def estep():
        ws = {}
        for g1, g2, g3, c in pat:
            num = p * lik((g1, g2, g3), m)
            den = num + (1 - p) * lik((g1, g2, g3), u)
            ws[(g1, g2, g3)] = round(num / den, 9)
        return ws

    dz = decimal.Decimal(0)

    def dsum(vals):
        return sum(
            (decimal.Decimal(str(round(v, 6))) for v in vals), dz
        )

    for _ in range(_FS_ITERS):
        w = estep()
        ct = float(sum(c for *_g, c in pat))
        sw = float(dsum(c * w[(g1, g2, g3)] for g1, g2, g3, c in pat))
        su = float(
            dsum(c * (1 - w[(g1, g2, g3)]) for g1, g2, g3, c in pat)
        )
        sm = [
            float(
                dsum(
                    c * w[(g1, g2, g3)] * g
                    for g1, g2, g3, c in pat
                    for g in [(g1, g2, g3)[k]]
                )
            )
            for k in range(3)
        ]
        sU = [
            float(
                dsum(
                    c * (1 - w[(g1, g2, g3)]) * g
                    for g1, g2, g3, c in pat
                    for g in [(g1, g2, g3)[k]]
                )
            )
            for k in range(3)
        ]
        p = round(sw / ct, 9)
        m = [round(sm[k] / sw, 9) for k in range(3)]
        u = [round(sU[k] / su, 9) for k in range(3)]
    w = estep()
    out = []
    for g1, g2, g3, c in pat:
        g = (g1, g2, g3)
        out.append(
            (
                g1,
                g2,
                g3,
                c,
                w[g],
                round(math.log2(lik(g, m) / lik(g, u)), 6),
            )
        )
    return spark.createDataFrame(
        out,
        "g1 long, g2 long, g3 long, c long, posterior double, "
        "match_weight double",
    )


_DBSCAN_EPS2 = 0.0009  # eps = 0.03 in the ln-spend x ln-orders plane
_DBSCAN_MINPTS = 5


@query(
    "q_dbscan",
    oracle=f"""
    WITH RECURSIVE pts AS (
        SELECT o_custkey AS id,
               ROUND(ln(1 + CAST(SUM(CAST(o_totalprice
                    AS DECIMAL(18,4))) AS DOUBLE)), 6) AS x,
               ROUND(ln(1 + COUNT(*)), 6) AS y
        FROM orders GROUP BY o_custkey),
    nbr AS (
        SELECT a.id AS ia, b.id AS ib
        FROM pts a JOIN pts b
          ON (a.x - b.x) * (a.x - b.x)
             + (a.y - b.y) * (a.y - b.y)
             <= CAST({_DBSCAN_EPS2} AS DOUBLE)),
    deg AS (SELECT ia AS id, CAST(COUNT(*) AS BIGINT) AS nn
            FROM nbr GROUP BY ia),
    core AS (SELECT id FROM deg WHERE nn >= {_DBSCAN_MINPTS}),
    ce AS (SELECT n.ia, n.ib FROM nbr n
           JOIN core c1 ON n.ia = c1.id
           JOIN core c2 ON n.ib = c2.id),
    reach(node, r) AS (
        SELECT id, id FROM core
        UNION
        SELECT e.ia, reach.r FROM ce e JOIN reach
          ON reach.node = e.ib),
    comp AS (SELECT node, MIN(r) AS cl FROM reach GROUP BY node),
    border AS (
        SELECT n.ia AS id, MIN(c.cl) AS cl
        FROM nbr n JOIN comp c ON n.ib = c.node
        WHERE n.ia NOT IN (SELECT id FROM core)
        GROUP BY n.ia),
    labeled AS (
        SELECT node AS id, cl, 1 AS is_core FROM comp
        UNION ALL
        SELECT id, cl, 0 FROM border
        UNION ALL
        SELECT id, CAST(-1 AS BIGINT), 0 FROM pts
        WHERE id NOT IN (SELECT node FROM comp)
          AND id NOT IN (SELECT id FROM border))
    SELECT CAST(cl AS BIGINT) AS cluster_id,
           CAST(COUNT(*) AS BIGINT) AS n_points,
           CAST(SUM(is_core) AS BIGINT) AS n_core,
           CAST(SUM(1 - is_core) AS BIGINT) AS n_border
    FROM labeled GROUP BY cl
    """,
)
def q_dbscan(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DBSCAN density clustering of customers in the (ln spend,
    ln order-count) plane — the cluster-without-choosing-k
    segmentation that also DEFINES outliers (noise = cluster -1),
    completing the clustering shelf: k-means cells (q_semdedup),
    prototypes (q_centroids / q_geometric_median), connectivity
    (q_dedup_clusters), now density.

    Scale shape is the textbook grid-blocked composition:
    eps-neighborhoods come from a 3x3 CELL equi-join (cell width =
    2*eps so a true neighbor can never straddle more than adjacent
    cells — the exploded build side is 9 rows per point, never a
    cross join); degrees give core points; core-core edges feed the
    SAME iterative min-label connected_components operator the dedup
    stack uses; border points attach to their minimum adjacent core
    cluster.  The oracle replays everything with a direct quadratic
    join + recursive reachability CTE, so the grid blocking is
    hash-verified against the unblocked definition.  Coordinates
    round to 6 dp before ALL distance math (both engines see
    identical doubles)."""
    from clv_data_pipeline_spark.operators.density import dbscan

    od = load_table(spark, sf_dir, "orders")
    pts = od.groupBy(F.col("o_custkey").alias("id")).agg(
        F.round(
            F.log(
                1
                + F.sum(
                    F.col("o_totalprice").cast("decimal(18,4)")
                ).cast("double")
            ),
            6,
        ).alias("x"),
        F.round(F.log(1 + F.count("*")), 6).alias("y"),
    )
    labeled = dbscan(pts, eps=0.03, min_pts=_DBSCAN_MINPTS).select(
        F.col("cluster_id").alias("cl"),
        F.col("is_core").cast("int").alias("is_core"),
    )
    return labeled.groupBy(
        F.col("cl").cast("long").alias("cluster_id")
    ).agg(
        F.count("*").cast("long").alias("n_points"),
        F.sum("is_core").cast("long").alias("n_core"),
        F.sum(1 - F.col("is_core")).cast("long").alias("n_border"),
    )


_WALK_STEPS = 6
_WALKS_PER_NODE = 4


def _walk_oracle(steps: int = _WALK_STEPS) -> str:
    """Unrolled weighted random-walk chain: each step inverse-CDFs the
    current node's neighbor distribution with an md5 coin keyed by
    (start, walk, step) — the whole trajectory set is hash-verified."""
    parts = []
    prev = "wk0"
    for t in range(1, steps + 1):
        parts.append(f"""
    wk{t} AS MATERIALIZED (
        SELECT w.start, w.wid, arg_min(c.dst, c.cum) AS node
        FROM {prev} w JOIN cdf c
          ON c.src = w.node
         AND CAST(c.cum AS DOUBLE) >=
             ({md5_uniform_sql(
                 f"w.start || '|' || CAST(w.wid AS VARCHAR) || '|{t}'")})
             * c.tot
        GROUP BY w.start, w.wid)""")
        prev = f"wk{t}"
    union = "\n    UNION ALL ".join(
        f"SELECT start, wid, {t} AS step, node FROM wk{t}"
        for t in range(0, steps + 1)
    )
    return f"""
    WITH ob AS (
        SELECT DISTINCT l.l_orderkey, p.p_brand
        FROM lineitem l JOIN part p ON l.l_partkey = p.p_partkey),
    edges AS (
        SELECT a.p_brand AS src, b.p_brand AS dst,
               CAST(COUNT(*) AS BIGINT) AS w
        FROM ob a JOIN ob b
          ON a.l_orderkey = b.l_orderkey
         AND a.p_brand <> b.p_brand
        GROUP BY 1, 2),
    cdf AS MATERIALIZED (
        SELECT src, dst,
               SUM(w) OVER (PARTITION BY src ORDER BY dst) AS cum,
               SUM(w) OVER (PARTITION BY src) AS tot
        FROM edges),
    starts AS (SELECT DISTINCT src AS start FROM edges),
    wk0 AS (
        SELECT s.start, g.wid, s.start AS node
        FROM starts s CROSS JOIN
             (SELECT UNNEST(generate_series(0, {_WALKS_PER_NODE - 1}))
                  AS wid) g),
    {','.join(parts)}
    SELECT start, CAST(wid AS BIGINT) AS wid,
           CAST(step AS BIGINT) AS step, node
    FROM ({union}) t
    """


@query("q_random_walks", oracle=_walk_oracle())
def q_random_walks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weighted random-walk corpus over the brand co-purchase graph —
    the DeepWalk/node2vec DATA-GENERATION stage: every brand launches
    {walks} walks of {steps} steps, each step sampling the next node
    from the current node's co-purchase-weight distribution; the walk
    sentences feed q_skipgram_pairs' pair/negative generator to train
    graph embeddings exactly as text does word2vec.

    RNG-free and fully in-plan: the step-t coin is an md5 hash of
    (start, walk id, t), the neighbor CDF is an integer cumulative
    window per source (vocabulary-bounded, broadcast), and each step
    is one containment join + arg-min — so every trajectory is
    reproducible across engines/partitionings and the oracle unrolls
    all {steps} steps.  At graph scale the same loop runs with the
    frontier frame partitioned by current node against the
    edge-partitioned CDF — cost is walks x steps join probes, never a
    materialized transition matrix."""
    ob = _order_brand_sets(spark, sf_dir)
    pairs = (
        ob.select(F.explode("brands").alias("src"), "brands")
        .select("src", F.explode("brands").alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count("*").cast("long").alias("w"))
    )
    wc = (
        Window.partitionBy("src")
        .orderBy("dst")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    wp = Window.partitionBy("src")
    cdf = pairs.select(
        "src",
        "dst",
        F.sum("w").over(wc).alias("cum"),
        F.sum("w").over(wp).alias("tot"),
    ).localCheckpoint()
    starts = cdf.select(F.col("src").alias("start")).distinct()
    cur = starts.select(
        "start",
        F.explode(
            F.sequence(F.lit(0), F.lit(_WALKS_PER_NODE - 1))
        ).alias("wid"),
    ).withColumn("node", F.col("start"))
    out = [
        cur.select(
            "start", "wid", F.lit(0).alias("step"), "node"
        )
    ]
    for t in range(1, _WALK_STEPS + 1):
        u = md5_uniform(
            F.concat(
                F.col("start"),
                F.lit("|"),
                F.col("wid").cast("string"),
                F.lit(f"|{t}"),
            )
        )
        cur = (
            cur.join(
                F.broadcast(cdf), F.col("node") == F.col("src")
            )
            .filter(
                F.col("cum").cast("double") >= u * F.col("tot")
            )
            .groupBy("start", "wid")
            .agg(
                F.min_by("dst", F.col("cum").cast("double")).alias(
                    "node"
                )
            )
        )
        out.append(
            cur.select(
                "start", "wid", F.lit(t).alias("step"), "node"
            )
        )
    walks = out[0]
    for df in out[1:]:
        walks = walks.unionAll(df)
    return walks.select(
        "start",
        F.col("wid").cast("long").alias("wid"),
        F.col("step").cast("long").alias("step"),
        "node",
    )


_KMEANS_ITERS = 3


def _kmeans_oracle(iters: int = _KMEANS_ITERS) -> str:
    """Unrolled Lloyd iterations over the 2-D spend/frequency plane:
    md5-seeded deterministic init, per-round assignments by rounded
    squared distance (ties to the smaller cluster id), DECIMAL-mean
    center updates (empty clusters keep their center) — the whole
    trajectory is hash-verified."""
    init = """
    pts AS MATERIALIZED (
        SELECT o_custkey AS id,
               ROUND(ln(1 + CAST(SUM(CAST(o_totalprice AS DECIMAL(18,2)))
                                 AS DOUBLE)), 9) AS x,
               ROUND(ln(1 + COUNT(*)), 9) AS y,
               md5('a' || CAST(o_custkey AS VARCHAR)) AS ha,
               md5('b' || CAST(o_custkey AS VARCHAR)) AS hb,
               md5('c' || CAST(o_custkey AS VARCHAR)) AS hc
        FROM orders GROUP BY o_custkey),
    c0 AS MATERIALIZED (
        SELECT 0 AS k, arg_min(x, ha) AS cx, arg_min(y, ha) AS cy
        FROM pts
        UNION ALL
        SELECT 1, arg_min(x, hb), arg_min(y, hb) FROM pts
        UNION ALL
        SELECT 2, arg_min(x, hc), arg_min(y, hc) FROM pts)"""
    steps = []
    prev = "c0"
    for t in range(1, iters + 1):
        steps.append(f"""
    a{t} AS MATERIALIZED (
        SELECT id, x, y, k FROM (
            SELECT p.id, p.x, p.y, c.k,
                   ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY
                       ROUND((p.x - c.cx) * (p.x - c.cx)
                             + (p.y - c.cy) * (p.y - c.cy), 9) ASC,
                       c.k ASC) AS rn
            FROM pts p JOIN {prev} c ON TRUE) z
        WHERE rn = 1),
    c{t} AS MATERIALIZED (
        SELECT o.k,
               COALESCE(u.cx, o.cx) AS cx,
               COALESCE(u.cy, o.cy) AS cy
        FROM {prev} o LEFT JOIN (
            SELECT k,
                   ROUND(CAST(SUM(CAST(x AS DECIMAL(28,9))) AS DOUBLE)
                         / COUNT(*), 9) AS cx,
                   ROUND(CAST(SUM(CAST(y AS DECIMAL(28,9))) AS DOUBLE)
                         / COUNT(*), 9) AS cy
            FROM a{t} GROUP BY k) u ON u.k = o.k)""")
        prev = f"c{t}"
    return f"""
    WITH {init},
    {','.join(steps)},
    af AS (
        SELECT id, x, y, k FROM (
            SELECT p.id, p.x, p.y, c.k,
                   ROW_NUMBER() OVER (PARTITION BY p.id ORDER BY
                       ROUND((p.x - c.cx) * (p.x - c.cx)
                             + (p.y - c.cy) * (p.y - c.cy), 9) ASC,
                       c.k ASC) AS rn
            FROM pts p JOIN {prev} c ON TRUE) z
        WHERE rn = 1),
    final AS (
        SELECT a.k, CAST(COUNT(*) AS BIGINT) AS n,
               CAST(SUM(CAST(ROUND((a.x - c.cx) * (a.x - c.cx)
                       + (a.y - c.cy) * (a.y - c.cy), 9)
                       AS DECIMAL(28,9))) AS DOUBLE) AS inert
        FROM af a JOIN {prev} c ON c.k = a.k
        GROUP BY a.k)
    SELECT CAST(f.k AS BIGINT) AS cluster,
           f.n AS n_customers,
           ROUND(c.cx, 6) AS center_x,
           ROUND(c.cy, 6) AS center_y,
           ROUND(f.inert, 6) AS inertia
    FROM final f JOIN {prev} c ON c.k = f.k
    """


@query("q_kmeans", oracle=_kmeans_oracle())
def q_kmeans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """K-means customer segmentation (k=3, 3 Lloyd iterations) on the
    ln-spend x ln-order-count plane — the unsupervised twin of
    q_rfm_segments' rule cuts, and the TRAINED-CLUSTERING headline
    next to q_dbscan's density form: assignments by squared distance
    (rounded to 9 dp before the argmin, ties to the smaller cluster
    id), centers update as DECIMAL means, empty clusters keep their
    center.  Init is md5-seeded arg_min — deterministic, no RNG, no
    global sort — and the DuckDB oracle replays the ENTIRE Lloyd
    trajectory, so the trained centers themselves are hash-verified
    (q_geometric_median's discipline applied to k-means).

    Scale shape: per iteration ONE customer-keyed aggregation feeds a
    3-row broadcast of centers; the assignment is pure map-side column
    math (k=3 CASE argmin); nothing about the corpus ever reaches the
    driver but the 3x2 center matrix."""
    o = load_table(spark, sf_dir, "orders")
    pts = o.groupBy(F.col("o_custkey").alias("id")).agg(
        F.round(
            F.log(
                1
                + F.sum(F.col("o_totalprice").cast("decimal(18,2)")).cast(
                    "double"
                )
            ),
            9,
        ).alias("x"),
        F.round(F.log(1 + F.count("*")), 9).alias("y"),
    ).withColumns(
        {
            "ha": F.md5(F.concat(F.lit("a"), F.col("id").cast("string"))),
            "hb": F.md5(F.concat(F.lit("b"), F.col("id").cast("string"))),
            "hc": F.md5(F.concat(F.lit("c"), F.col("id").cast("string"))),
        }
    ).localCheckpoint()
    seeds = pts.agg(
        F.min_by("x", "ha").alias("x0"), F.min_by("y", "ha").alias("y0"),
        F.min_by("x", "hb").alias("x1"), F.min_by("y", "hb").alias("y1"),
        F.min_by("x", "hc").alias("x2"), F.min_by("y", "hc").alias("y2"),
    ).collect()[0]
    centers = [
        (seeds["x0"], seeds["y0"]),
        (seeds["x1"], seeds["y1"]),
        (seeds["x2"], seeds["y2"]),
    ]

    def assign(cs):
        d = [
            F.round(
                (F.col("x") - F.lit(cx)) * (F.col("x") - F.lit(cx))
                + (F.col("y") - F.lit(cy)) * (F.col("y") - F.lit(cy)),
                9,
            )
            for cx, cy in cs
        ]
        best = F.when((d[0] <= d[1]) & (d[0] <= d[2]), 0).otherwise(
            F.when(d[1] <= d[2], 1).otherwise(2)
        )
        return best

    for _ in range(_KMEANS_ITERS):
        upd = {
            r["k"]: (r["cx"], r["cy"])
            for r in pts.withColumn("k", assign(centers))
            .groupBy("k")
            .agg(
                F.round(
                    F.sum(F.col("x").cast("decimal(28,9)")).cast("double")
                    / F.count("*"),
                    9,
                ).alias("cx"),
                F.round(
                    F.sum(F.col("y").cast("decimal(28,9)")).cast("double")
                    / F.count("*"),
                    9,
                ).alias("cy"),
            )
            .collect()
        }
        centers = [upd.get(k, centers[k]) for k in range(3)]
    d_final = [
        F.round(
            (F.col("x") - F.lit(cx)) * (F.col("x") - F.lit(cx))
            + (F.col("y") - F.lit(cy)) * (F.col("y") - F.lit(cy)),
            9,
        )
        for cx, cy in centers
    ]
    assigned = pts.withColumn("k", assign(centers)).withColumn(
        "d",
        F.when(F.col("k") == 0, d_final[0])
        .when(F.col("k") == 1, d_final[1])
        .otherwise(d_final[2]),
    )
    agg = assigned.groupBy("k").agg(
        F.count("*").cast("long").alias("n_customers"),
        F.sum(F.col("d").cast("decimal(28,9)"))
        .cast("double")
        .alias("inert"),
    )
    rows = {r["k"]: r for r in agg.collect()}
    out = [
        (
            k,
            int(rows[k]["n_customers"]) if k in rows else 0,
            round(centers[k][0], 6),
            round(centers[k][1], 6),
            round(rows[k]["inert"], 6) if k in rows else 0.0,
        )
        for k in range(3)
        if k in rows
    ]
    return spark.createDataFrame(
        out,
        "cluster long, n_customers long, center_x double, "
        "center_y double, inertia double",
    )
