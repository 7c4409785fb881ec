"""Round-12 property pins.

The headline pin: the additive-NB vocabulary cap (VERDICT r11 item 1).
The (grain x class x token) sufficient-statistic aggregate behind
q_data_shapley / q_cross_validation / q_learning_curve is collected
driver-side; on a Heaps-law web corpus the distinct-token count reaches
1e8-1e9 and the pull becomes the bottleneck.  The fix caps the model
vocabulary at the top-``_NB_VOCAB_CAP`` training tokens (frequency
DESC, token ASC — a total order both engines share) and folds the tail
into one ``<unk>`` pseudo-token BEFORE the aggregate.  Two regimes,
both pinned here:

* cap does NOT fire (testdata: 31 distinct tokens << 4096): the remap
  is skipped entirely — ``_nb_capped_vocab`` returns None and the plan
  and hashes are IDENTICAL to the pre-cap path (the production oracle
  gate in test_queries_oracle.py covers this regime).
* cap FIRES (patched tiny cap here): Spark and a same-cap DuckDB
  oracle still agree cell-for-cell — the UNK folding is mirrored, not
  approximated.
"""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from tests.conftest import SF_SMOKE
from tests.oracle import compare_frames, run_oracle

SF = "/root/testdata/sf0.01"
TINY_CAP = 6  # < the 31-token testdata vocabulary, so the cap fires


def _mlprep():
    from clv_data_pipeline_spark.queries import mlprep

    return mlprep


def test_nb_vocab_cap_noop_when_vocab_fits(spark):
    """At every test SF the corpus vocabulary (31 distinct tokens) is
    far under the 4096 production cap: the helper must return None and
    the remap must be the identity (zero plan change)."""
    m = _mlprep()
    toks = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
    )
    counts = toks.groupBy("tok").agg(F.count("*").alias("c"))
    assert m._nb_capped_vocab(spark, counts) is None
    out = m._nb_remap_tok(toks, None)
    assert out is toks  # identity, not merely equal


def test_nb_vocab_cap_bounds_distinct_tokens(spark, monkeypatch):
    """When the cap fires the remapped stream has exactly cap kept
    tokens + <unk>, the kept set is the (count DESC, tok ASC) top-K,
    and total token count is conserved (folding moves mass, never
    drops it)."""
    m = _mlprep()
    monkeypatch.setattr(m, "_NB_VOCAB_CAP", TINY_CAP)
    toks = (
        spark.read.parquet(f"{SF_SMOKE}/documents.parquet")
        .select(F.explode(F.split(F.lower("text"), " ")).alias("tok"))
        .persist()
    )
    n_before = toks.count()
    vocab = m._nb_capped_vocab(
        spark, toks.groupBy("tok").agg(F.count("*").alias("c"))
    )
    assert vocab is not None
    kept = {r["tok"] for r in vocab.collect()}
    assert len(kept) == TINY_CAP
    # kept set == independent top-K by the shared total order
    top = [
        r["tok"]
        for r in toks.groupBy("tok")
        .agg(F.count("*").alias("c"))
        .orderBy(F.desc("c"), F.asc("tok"))
        .limit(TINY_CAP)
        .collect()
    ]
    assert kept == set(top)
    out = m._nb_remap_tok(toks, vocab).persist()
    assert out.count() == n_before
    distinct = {r["tok"] for r in out.select("tok").distinct().collect()}
    assert distinct == kept | {m._NB_UNK}
    toks.unpersist()
    out.unpersist()


@pytest.mark.parametrize(
    "qname, builder",
    [
        ("q_cross_validation", "_cv_oracle"),
        ("q_learning_curve", "_learning_curve_oracle"),
        ("q_data_shapley", "_shapley_oracle"),
    ],
)
def test_nb_cap_fires_parity(spark, monkeypatch, qname, builder):
    """Cap-fires regime: with a tiny cap patched into BOTH engines
    (Spark helpers read it at call time; the oracle SQL is rebuilt so
    its LIMIT literal matches), the full query output still matches
    the DuckDB oracle cell-for-cell — the UNK folding, the smoothing
    denominators (vocab size now counts <unk>), and the prediction
    argmax all survive the cap identically."""
    m = _mlprep()
    monkeypatch.setattr(m, "_NB_VOCAB_CAP", TINY_CAP)
    sql = getattr(m, builder)()
    fn = getattr(m, qname)
    spark_pdf = fn(spark, SF_SMOKE).toPandas()
    oracle_pdf = run_oracle(sql, SF_SMOKE)
    compare_frames(spark_pdf, oracle_pdf)


def test_clv_scores_lattice_cells_are_penalized_ll_argmax(spark):
    """q_clv_scores' winning BG/NBD and Gamma-Gamma lattice cells must
    truly be the penalized-LL argmaxes: re-scoring every cell with the
    independent float NLLs (operators/clv._bgnbd_nll / _gg_nll — the
    free Nelder-Mead objectives) must rank the chosen cells first, so
    each lattice argmax is an MLE restricted to its grid, not an
    arbitrary pick (the q_pareto_nbd pin, extended to both models)."""
    import numpy as np
    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.operators.clv import _bgnbd_nll, _gg_nll
    from clv_data_pipeline_spark.queries.clvq import (
        _BG_GRID,
        _GG_GRID,
        _features,
    )

    ret = (
        _features(spark, SF)
        .filter((F.col("frequency") > 0) & (F.col("monetary") > 0))
        .select("customer_id", "frequency", "recency", "t", "monetary")
        .toPandas()
    )
    x = ret["frequency"].to_numpy(np.float64)
    t_x = ret["recency"].to_numpy(np.float64)
    T = ret["t"].to_numpy(np.float64)
    m = ret["monetary"].to_numpy(np.float64)
    w = np.ones_like(x)

    def nll_bg(cell):
        _i, r, al, a, b = cell
        return _bgnbd_nll(
            np.log(np.array([r, al, a, b])), x, t_x, T, w, 0.1
        )

    def nll_gg(cell):
        _i, p, q, v = cell
        return _gg_nll(np.log(np.array([p, q, v])), x, m, w, 0.1)

    bg_best = min(_BG_GRID, key=nll_bg)
    gg_best = min(_GG_GRID, key=nll_gg)

    from clv_data_pipeline_spark import registry

    rows = registry.all_queries()["q_clv_scores"](spark, SF)
    # recover the winning cells from the stored artifact by re-running
    # the fit path: the stored params are not exposed, so assert via
    # output equality instead — recompute the expected output with the
    # independently-argmaxed cells and compare every returning
    # customer's predicted_avg_value and predicted_purchases
    from clv_data_pipeline_spark.operators.clv import (
        BetaGeoParams,
        GammaGammaParams,
        expected_avg_value_col,
        expected_purchases_np,
    )

    _ib, rr, al, a, b = bg_best
    _ig, p, q, v = gg_best
    got = {r["customer_id"]: r for r in rows.collect()}
    exp_bg = BetaGeoParams(r=rr, alpha=al, a=a, b=b)
    exp_gg = GammaGammaParams(p=p, q=q, v=v)
    ep = ret[["customer_id"]].assign(
        ep=expected_purchases_np(exp_bg, 30.0, x, t_x, T)
    )
    chk = (
        _features(spark, SF)
        .filter((F.col("frequency") > 0) & (F.col("monetary") > 0))
        .join(spark.createDataFrame(ep), "customer_id")
        .select(
            "customer_id",
            F.round(expected_avg_value_col(exp_gg), 9).alias("eav"),
            F.round("ep", 9).alias("ep30"),
        )
        .collect()
    )
    for r_ in chk:
        assert got[r_["customer_id"]]["predicted_avg_value"] == r_["eav"], (
            "Gamma-Gamma lattice argmax disagrees with the independent "
            f"float-NLL argmax cell {gg_best}"
        )
        assert got[r_["customer_id"]]["predicted_purchases"] == r_["ep30"], (
            "BG/NBD lattice argmax disagrees with the independent "
            f"float-NLL argmax cell {bg_best}"
        )


def test_counter_merge_sink_replay_safe(spark):
    """counter_merge_sink must be replay-safe: addition is not
    idempotent, so re-delivering an already-merged batch id (the
    crash-between-overwrite-and-checkpoint case) must be a no-op,
    while a NEW batch id merges by columnwise addition."""
    import uuid

    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.streaming.ingest import (
        counter_merge_sink,
    )

    t = f"ctr_sink_test_{uuid.uuid4().hex[:8]}"

    def agg(df):
        return df.agg(
            F.count("*").cast("long").alias("n0"),
            F.sum((F.col("v") > 0).cast("long")).cast("long").alias("s1"),
        )

    sink = counter_merge_sink(t, agg)
    b1 = spark.createDataFrame([(1,), (2,), (-1,)], "v long")
    b2 = spark.createDataFrame([(3,), (-2,)], "v long")
    sink(b1, 0)
    sink(b2, 1)
    row = spark.table(t).first()
    assert (row["n0"], row["s1"]) == (5, 3)
    # replay of batch 1 (same id): must be skipped
    sink(b2, 1)
    row = spark.table(t).first()
    assert (row["n0"], row["s1"]) == (5, 3)
    # empty batch: no-op
    sink(spark.createDataFrame([], "v long"), 2)
    row = spark.table(t).first()
    assert (row["n0"], row["s1"]) == (5, 3)
    # a genuinely new batch still merges (b1 again under a NEW id:
    # +3 rows, +2 positives)
    sink(b1, 3)
    row = spark.table(t).first()
    assert (row["n0"], row["s1"]) == (8, 5)
    spark.sql(f"DROP TABLE IF EXISTS {t}")


def test_nb_fused_correct_matches_tall_scorer(spark):
    """The round-12 fused multi-model NB scorer must reproduce the
    tall formulation (crossJoin(oov) + left join lp + decimal sum +
    row_number argmax) bit-for-bit — including the score-tie case,
    where row_number's (score DESC, cls ASC) order must map to the
    fused greatest-of-structs inverted-index tie-break (winner = the
    LEXICOGRAPHICALLY SMALLEST class among ties)."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.queries.mlprep import (
        _nb_fused_correct,
        _nb_model_tables,
    )

    # two models; model "m1" engineered so doc 2's classes tie: both
    # classes see only OOV tokens for that doc and share (tot + vsz)
    # and lp0 (equal doc/token counts) -> identical scores -> the
    # tie-break decides
    cc1 = {("de", "der"): 3, ("en", "the"): 3}
    nd1 = {"de": 2, "en": 2}
    cc2 = {("de", "der"): 5, ("en", "the"): 1, ("en", "cat"): 2}
    nd2 = {"de": 3, "en": 4}
    ttest = spark.createDataFrame(
        [
            (1, "en", "the"),
            (1, "en", "cat"),
            (2, "de", "zzz"),  # OOV everywhere -> tie in m1
            (3, "de", "der"),
            (3, "de", "zzz"),
        ],
        "doc_id long, true_lang string, tok string",
    )
    fused = _nb_fused_correct(
        spark, ttest, [("m1", cc1, nd1), ("m2", cc2, nd2)]
    )
    got = {r["doc_id"]: (r["win_m1"], r["win_m2"]) for r in fused.collect()}

    # tall reference, per model
    expected = {}
    for tag, cc, nd in (("m1", cc1, nd1), ("m2", cc2, nd2)):
        pri, lp, oov = _nb_model_tables(spark, cc, nd)
        scored = (
            ttest.crossJoin(F.broadcast(oov))
            .join(F.broadcast(lp), ["tok", "cls"], "left")
            .groupBy("doc_id", "true_lang", "cls")
            .agg(F.sum(F.coalesce(F.col("lp"), F.col("lpo"))).alias("s"))
            .join(F.broadcast(pri), "cls")
            .withColumn("score", F.col("s") + F.col("lp0"))
        )
        w = Window.partitionBy("doc_id").orderBy(
            F.desc("score"), F.col("cls")
        )
        for r in (
            scored.withColumn("rn", F.row_number().over(w))
            .filter(F.col("rn") == 1)
            .collect()
        ):
            expected.setdefault(r["doc_id"], {})[tag] = r["cls"]

    assert set(got) == set(expected)
    for doc_id, (w1, w2) in got.items():
        assert w1 == expected[doc_id]["m1"], f"doc {doc_id} model m1"
        assert w2 == expected[doc_id]["m2"], f"doc {doc_id} model m2"
    # the engineered tie must actually be a tie AND resolve to 'de'
    assert got[2][0] == "de"

def test_nb_fused_correct_empty_class_model_degrades(spark):
    """ADVICE r12: a model whose nd is nonempty but cc is EMPTY (e.g.
    a coalition/threshold prefix whose docs share no capped-vocab
    token) must not raise at plan-build time; the fused scorer emits a
    NULL winner so callers' equality checks count 0 correct — the same
    degradation the tall plan had (zero scored rows)."""
    from pyspark.sql import functions as F

    from clv_data_pipeline_spark.queries.mlprep import _nb_fused_correct

    cc_ok = {("de", "der"): 3, ("en", "the"): 3}
    nd_ok = {"de": 2, "en": 2}
    ttest = spark.createDataFrame(
        [(1, "en", "the"), (2, "de", "der")],
        "doc_id long, true_lang string, tok string",
    )
    fused = _nb_fused_correct(
        spark, ttest, [("good", cc_ok, nd_ok), ("empty", {}, {"de": 2})]
    )
    rows = fused.collect()
    assert {r["doc_id"] for r in rows} == {1, 2}
    for r in rows:
        assert r["win_empty"] is None
    correct = fused.agg(
        F.sum(
            F.when(F.col("win_empty") == F.col("true_lang"), 1).otherwise(0)
        ).alias("c")
    ).first()["c"]
    assert correct == 0

    # every model empty: no score column at all, still one row per doc
    all_empty = _nb_fused_correct(
        spark,
        ttest.union(ttest),
        [("e1", {}, {"de": 2}), ("e2", {}, {"en": 1})],
    )
    rows = all_empty.collect()
    assert sorted((r["doc_id"], r["true_lang"]) for r in rows) == [
        (1, "en"),
        (2, "de"),
    ]
    assert all(r["win_e1"] is None and r["win_e2"] is None for r in rows)
