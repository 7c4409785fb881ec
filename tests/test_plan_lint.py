"""Registry-wide physical-plan lint: mechanical guards against the
plan shapes that kill 100 TB runs, applied to EVERY registered query.

- CartesianProduct: never acceptable — a cross product that isn't a
  1-row broadcast means candidate generation went quadratic.
- BatchEvalPython (row-at-a-time Python UDF): never acceptable — the
  interpreted per-row path is 10-100x slower than Arrow; anything
  Python must be ArrowEvalPython / MapInPandas / MapInArrow.
- BroadcastNestedLoopJoin: acceptable ONLY for the documented 1-row
  broadcast scalar attachments (global counts/thresholds riding a
  crossJoin) — those are O(n) with a 1-row build side.  Each such
  query is whitelisted by name so a new accidental BNLJ fails loudly.
"""

from __future__ import annotations

import contextlib
import io
import pathlib

import pytest

from clv_data_pipeline_spark import registry
from tests.conftest import SF_SMOKE

#: Queries whose BroadcastNestedLoopJoin is a 1-row broadcast scalar
#: (documented in their docstrings), not a pair-generation cross join.
_BNLJ_SCALAR_OK = {
    "q_ratio_counts",      # two countDistinct scalars attach to 1 row
    "q_simhash",           # lazy 1-row pair-count broadcast
    "q_tfidf_top_terms",   # corpus size N broadcast
    "q_bm25",              # corpus (n_docs, avgdl) broadcast
    "q_decontaminate",     # benchmark n-gram set is a small broadcast
    "q_heavy_hitters",     # sketch + threshold 1-row broadcasts
    "q_zscore",            # 3-row group stats broadcast
    "q_anomaly_days",      # global mean/std 1-row broadcast
    "q_source_mix",        # per-source target weights broadcast
    "q_skew_report",       # global mean group size broadcast
    "q_corr",              # sufficient-stats scalar broadcast
    "q_profile",           # single-scan profile scalars
    "q_train_split",       # split thresholds
    "q_source_report",     # corpus totals broadcast
    "q_quantize_embeddings",  # global scale scalar
    "q_minhash_clusters",  # cluster summary scalar attach
    "q_semantic_clusters", # cluster summary scalar attach
    "q_dedup_clusters",    # fixpoint summary scalar attach
    "q_retention_cohorts", # cohort-size denominator broadcast
    "q_funnel",            # step totals on one row
    "q_knn_label",         # accuracy-style scalar attach via broadcast
    "q_tpch_q22",          # 1-row avg-balance threshold broadcast
    "q_tpch_q11_derived",  # 1-row inventory-value threshold broadcast
    "q_logreg",            # 1-row IRLS beta broadcast per iteration
    "q_adaboost_stumps",   # 2-row polarity grid + 1-row stump/Z/acc attaches
    "q_skyline",           # 1-row (min,max) bucket-stats broadcast
    "q_bloom_join",        # 1-row Bloom-bitmap (array<bigint>) broadcast
    "q_dedup_incremental", # 1-row delta-cut threshold broadcast
    "q_dedup_substring_incremental",  # 1-row delta-cut threshold broadcast
    "q_minhash_incremental",  # 1-row delta-cut threshold broadcast
    "q_dedup_embedding_incremental",  # 1-row delta-cut threshold broadcast
    "q_ann_pq_incremental",  # same 1-row delta-cut scalar attach
    "q_dsir",  # 1-row corpus gram-total broadcast onto the 256-bucket dist
    "q_embedding_drift",   # 1-row half-split cut broadcast
    "q_perplexity",        # 1-row corpus-total broadcast
    "q_perplexity_bigram", # 1-row corpus-total broadcast
    "q_domain_reweight",   # 1-row (gtot, V) + 1-row normalizer attaches
    "q_ann_recall",        # two 1-row count scalars attach per method
    "q_minhash_eval",      # three 1-row audit counts attach
    "q_market_basket",     # 1-row order-count (support denominator) broadcast
    "q_triangles",         # 1-row order-count (edge threshold) broadcast
    "q_chisq",             # dimension-marginal grid cross (5x20) + 1-row total
    "q_erasure",           # three 1-row audit counts attach per table
    "q_survival",          # 1-row censoring-horizon (max day) broadcast
    "q_rfm_segments",      # 1-row median-cuts broadcast
    "q_cuped",             # 1-row theta/variance stats broadcasts
    "q_burstiness",        # 1-row corpus doc-count broadcast
    "q_robust_trend",      # calendar-bounded day-pair grid + 1-row n
    "q_naive_bayes",       # bounded class-grid (C~5 rows) + 1-row vocab size
    "q_label_noise",       # same bounded class-grid/vocab scalars, per fold
    "q_bm25_retrieval",    # corpus (n_docs, avgdl) 1-row broadcast
    "q_assign_ids_incremental",  # 1-row delta-cut + n_base scalar attaches
    "q_prefix_sum",        # 1-row (min, max) bucket-stats broadcast
    "q_adamic_adar",       # 1-row order-count (edge threshold) broadcast
    "q_late_events",       # 1-row (min, max) bucket-stats broadcast
    "q_quantiles_incremental",  # 1-row histogram-stats + 3-row q grid
    "q_dp_quantiles",      # 2-row q grid x 2048-bin frame cross
    "q_msprt",             # 1-row pooled-variance broadcast
    "q_word_vectors",      # 1-row pair total + 64x64 vocab grid cross
    "q_temperature_mix",   # 1-row (N, Z) normalizer broadcast
    "q_join_explosion_audit",  # 1-row totals broadcast onto the key grid
    "q_target_encode",     # 1-row global-prior broadcast
    "q_ks_test",           # 1-row (min, max) bin-stats broadcast
    "q_mmr_diversify",     # inherits q_bm25_retrieval's 1-row stats
    "q_ndcg",              # 5-row probe-batch broadcast (bounded query set)
    "q_shapley_attribution",  # 16-row coalition grid x bounded set frame
    "q_conformal",         # 1-row n_cal/k and q_hat scalar broadcasts
    "q_stratified_ate",    # 1-row stratum-total broadcast
    "q_active_learning",   # inherits q_naive_bayes's class-grid/vocab scalars
    "q_kneser_ney",        # 1-row distinct-bigram total broadcast
    "q_skipgram_pairs",    # vocab-bounded CDF containment join + 1-row W
    "q_spearman",          # days^2-bounded concordance grid + 1-row stats
    "q_tail_index",        # 1-row x_min order-statistic broadcast
    "q_segment_migration", # two 1-row median-cut broadcasts
    "q_lift_curve",        # 1-row base-rate totals broadcast
    "q_offpolicy_eval",    # 1-row logged-baseline broadcast
    "q_threshold_tuning",  # score-bin containment sweep + 1-row totals
    "q_rec_coverage",      # 1-row interaction-total/catalog broadcasts
    "q_qte",               # two 1-row per-arm quantile broadcasts x 4-row grid
    "q_modularity",        # 1-row edge-total broadcast
    "q_item_cf_incremental",  # 1-row delta-cut threshold broadcast
    "q_hits",              # 1-row normalization-total broadcasts
    "q_abc_analysis",      # 1-row revenue-total broadcast
    "q_rdd",               # 1x1 cross of the two per-side OLS fits
    "q_propensity_matching",  # 1-row control-count scalar attach
    "q_stl_decompose",     # 1-row MAD threshold broadcast
    "q_learning_curve",    # inherits NB's class-grid/vocab scalars
                           # + a 1-row n_train attach per fraction
    "q_cross_validation",  # same NB scalar attaches, one per fold
    "q_heaps_law",         # 10-row checkpoint-grid containment sweep
    "q_good_turing",       # two 1-row corpus-total attaches
    # round 10: the graduated integer-ALS pair scores users against
    # the broadcast item-factor table (<= 25 brand rows here; hard
    # _ALS_ITEM_CAP guard with a ValueError naming als_fit_joined for
    # open item spaces) — a vocabulary-bounded broadcast cross, the
    # same class as the scalar attaches above
    "q_als_recommend",
    "q_als_eval",
    "q_lsh_param_sweep",  # 7-row (b, r) design-grid broadcast cross
    # round 11: the graduated Pareto/NBD lattice MLE crosses the
    # weighted sufficient-stat triples against the 81-cell broadcast
    # candidate grid — the q_lsh_param_sweep design-grid class
    "q_pareto_nbd",
    "q_splade_retrieval",  # 1-row n_docs corpus-stats broadcast
    "q_pack_eval",         # 5-row budget-ladder design-grid cross
}


def _plan(spark, name: str) -> str:
    df = registry.all_queries()[name](spark, SF_SMOKE)
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


@pytest.mark.parametrize("name", sorted(registry.all_oracles()))
def test_oracle_output_schema_is_driver_hashable(spark, name):
    """Every oracle-checked query must emit only scalar columns.

    The driver's canonicalizer hashes result rows through a pandas
    sort; ArrayType/MapType/StructType values are unhashable there and
    crash the comparison (the round-6 ``q_word_vectors`` failure mode:
    ``TypeError: unhashable type: 'list'``).  Complex outputs must be
    serialized (``array_join``) or emitted long-form on BOTH sides."""
    from pyspark.sql.types import ArrayType, MapType, StructType

    df = registry.all_queries()[name](spark, SF_SMOKE)
    bad = [
        f.name
        for f in df.schema.fields
        if isinstance(f.dataType, (ArrayType, MapType, StructType))
    ]
    assert not bad, (
        f"{name}: oracle-checked query returns non-hashable column(s) "
        f"{bad} — the driver canonicalizer cannot hash these"
    )


@pytest.mark.parametrize("name", sorted(registry.all_queries()))
def test_plan_has_no_scale_killers(spark, name):
    plan = _plan(spark, name)
    assert "CartesianProduct" not in plan, f"{name}: cartesian product"
    assert "BatchEvalPython" not in plan, (
        f"{name}: row-at-a-time Python UDF in the hot path"
    )
    if "BroadcastNestedLoopJoin" in plan and name not in _BNLJ_SCALAR_OK:
        raise AssertionError(
            f"{name}: BroadcastNestedLoopJoin outside the 1-row-scalar "
            "whitelist — quadratic pair generation or a missing equi key"
        )


def test_queries_run_streams_only_through_the_ingest_helpers():
    """Streaming runs (checkpoint, bounded wait, cleanup) live in
    streaming/ingest.py; a query that starts or awaits its own stream
    would skip the cleanup guarantees documented there."""
    pkg = pathlib.Path(registry.__file__).parent
    offenders = [
        f"{path.name}: {token}"
        for path in sorted((pkg / "queries").glob("*.py"))
        for token in ("writeStream", "awaitTermination")
        if token in path.read_text()
    ]
    assert offenders == []


def test_queries_open_sources_and_scratch_only_through_the_helpers():
    """A stream source (streaming/ingest.table_file_stream), a scratch
    directory (sources/io.scratch_dir) and the md5-to-integer hash
    (functions/stats.md5_bits and its DuckDB twin md5_bits_sql) each
    have one helper; a query or operator that builds its own copies a
    reader conf, a schema probe, a temp dir nothing removes, or a hash
    spelling its oracle must then match by hand."""
    pkg = pathlib.Path(registry.__file__).parent
    offenders = [
        f"{path.parent.name}/{path.name}: {token}"
        for path in sorted(
            [*(pkg / "queries").glob("*.py"), *(pkg / "operators").glob("*.py")]
        )
        for token in (
            "readStream.schema(",
            "pathGlobFilter",
            "spark.conf.set(",
            "tempfile.mkdtemp",
            "F.conv(",
            "'0x' || substr(md5(",
        )
        if token in path.read_text()
    ]
    assert offenders == []
