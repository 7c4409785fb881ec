"""BG/NBD + Gamma-Gamma CLV scoring (SURVEY.md §2.9 M1-M5).

The reference fits both models with the ``lifetimes`` library on a
pandas frame pulled from the warehouse (reference dags/clv_models.py:
62-66) and predicts with its closed forms (:70-77).  Spark-first
re-expression:

- **Fit** (M1/M3): the feature table is 1 row per customer — tiny next
  to the transaction data even at 100 TB — and MLE is a whole-column
  reduction, so the fit is a deliberate driver-side barrier.  We
  aggregate first: BG/NBD's likelihood depends on (frequency, recency,
  T) only, so a distributed groupBy compresses millions of customers to
  thousands of weighted sufficient-statistic rows before the collect.
  The optimizer is a numpy Nelder-Mead (functions/optimize.py); the
  likelihoods follow the published BG/NBD (Fader, Hardie, Lee 2005
  "Counting Your Customers the Easy Way") and Gamma-Gamma (Fader &
  Hardie 2013) formulas, penalized like the reference
  (penalizer_coef=0.1, dags/clv_models.py:62,65).
- **Predict** (M2): the BG/NBD conditional-expected-purchases formula
  needs the Gauss hypergeometric 2F1, which Spark lacks, and depends on
  (frequency, recency, T) only — the same triples the fit collected.
  ``join_expected_purchases`` evaluates it (or the Pareto/NBD twin)
  with numpy on the driver once per distinct triple (a pipeline day
  has a handful), ships the table as an Arrow-built LocalRelation and
  broadcast-joins it back to the customers: no Python worker runs.
- **Gamma-Gamma profit** (M4) is a closed-form rational expression —
  pure JVM-side Column arithmetic, no UDF.
- **CLV assembly** (M5): clv = E[purchases 365d] * E[avg value] * 0.99,
  manually like the reference (which bypasses lifetimes' helper,
  comment at dags/clv_models.py:73-75).
"""

from __future__ import annotations

from collections.abc import Callable
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.types import DoubleType, StructField, StructType

from clv_data_pipeline_spark.functions.optimize import nelder_mead
from clv_data_pipeline_spark.functions.special import hyp2f1, lgamma
from clv_data_pipeline_spark.operators.quality import apply_data_quality_fixes
from clv_data_pipeline_spark.schemas import MODEL_INPUT_COLUMNS

#: reference dags/clv_models.py:62,65
PENALIZER = 0.1
#: reference dags/clv_models.py:70,76-77
PREDICT_HORIZON_DAYS = 30.0
CLV_HORIZON_DAYS = 365.0
DISCOUNT = 0.99


@dataclass(frozen=True)
class BetaGeoParams:
    r: float
    alpha: float
    a: float
    b: float


@dataclass(frozen=True)
class GammaGammaParams:
    p: float
    q: float
    v: float


# --- likelihoods (numpy, driver-side) ------------------------------------


def _bgnbd_nll(
    log_params: np.ndarray,
    x: np.ndarray,
    t_x: np.ndarray,
    T: np.ndarray,
    w: np.ndarray,
    penalizer: float,
) -> float:
    r, alpha, a, b = np.exp(log_params)
    a1 = lgamma(r + x) - lgamma(np.array(r)) + r * np.log(alpha)
    a2 = (
        lgamma(np.array(a + b))
        + lgamma(b + x)
        - lgamma(np.array(b))
        - lgamma(a + b + x)
    )
    a3 = -(r + x) * np.log(alpha + T)
    with np.errstate(divide="ignore", invalid="ignore"):
        a4 = np.where(
            x > 0,
            np.log(a) - np.log(b + np.maximum(x, 1) - 1) - (r + x) * np.log(t_x + alpha),
            -np.inf,
        )
    ll = a1 + a2 + np.logaddexp(a3, a4)
    penalty = penalizer * float(np.sum(np.exp(log_params) ** 2))
    return -float(np.sum(w * ll)) / float(np.sum(w)) + penalty


def _gg_nll(
    log_params: np.ndarray,
    x: np.ndarray,
    m: np.ndarray,
    w: np.ndarray,
    penalizer: float,
) -> float:
    p, q, v = np.exp(log_params)
    ll = (
        lgamma(p * x + q)
        - lgamma(p * x)
        - lgamma(np.array(q))
        + q * np.log(v)
        + (p * x - 1) * np.log(m)
        + (p * x) * np.log(x)
        - (p * x + q) * np.log(v + m * x)
    )
    penalty = penalizer * float(np.sum(np.exp(log_params) ** 2))
    return -float(np.sum(w * ll)) / float(np.sum(w)) + penalty


# --- fit barriers ---------------------------------------------------------


#: key columns of the fits' sufficient statistics
_RFT_KEYS = ["frequency", "recency", "t"]
_GG_KEYS = ["frequency", "monetary"]
#: decimals monetary is rounded to before the Gamma-Gamma grouping
MONETARY_SCALE = 2


def _returning(features: DataFrame) -> DataFrame:
    """Returning customers: frequency > 0 and monetary > 0 (reference
    dags/clv_models.py:53)."""
    return features.filter((F.col("frequency") > 0) & (F.col("monetary") > 0))


def _by_key(stats: pd.DataFrame, keys: list[str]) -> pd.DataFrame:
    """Sufficient statistics sorted by their (unique) key columns.  The
    weighted NLL then sums in one fixed order, so the fitted parameters
    do not depend on the row order a collect happened to return."""
    return stats.sort_values(keys, ignore_index=True)


def _rft_stats(features: DataFrame | pd.DataFrame) -> pd.DataFrame:
    """(frequency, recency, t) triples with count weights ``w``, sorted
    by key: taken as given from a pandas frame, else grouped and
    collected."""
    if not isinstance(features, pd.DataFrame):
        features = (
            features.groupBy(*_RFT_KEYS)
            .agg(F.count("*").alias("w"))
            .toPandas()
        )
    return _by_key(features, _RFT_KEYS)


def _gg_stats(
    features: DataFrame | pd.DataFrame, monetary_scale: int
) -> pd.DataFrame:
    """(frequency, rounded monetary) pairs of returning customers with
    count weights ``w``, sorted by key: taken as given from a pandas
    frame, else filtered, grouped and collected."""
    if not isinstance(features, pd.DataFrame):
        features = (
            _returning(features)
            .groupBy(
                "frequency",
                F.round(F.col("monetary"), monetary_scale).alias("monetary"),
            )
            .agg(F.count("*").alias("w"))
            .toPandas()
        )
    return _by_key(features, _GG_KEYS)


def _grouping_id(cols: list[str], kept: list[str]) -> int:
    """``grouping_id()`` of the grouping set ``kept`` over ``cols``: one
    bit per column left out of the set, first column highest."""
    return sum(1 << i for i, c in enumerate(reversed(cols)) if c not in kept)


def fit_statistics(features: DataFrame) -> tuple[pd.DataFrame, pd.DataFrame]:
    """Both fits' sufficient statistics over the returning customers
    (frequency > 0, monetary > 0) in ONE collect: a grouping-sets
    aggregate over ``(frequency, recency, t)`` and ``(frequency,
    round(monetary, MONETARY_SCALE))``, split on the driver by
    ``grouping_id()``.  Returns ``(bgnbd_stats, gamma_gamma_stats)``,
    the inputs ``fit_bgnbd`` and ``fit_gamma_gamma`` accept in place of
    a DataFrame.
    """
    cols = [*_RFT_KEYS, "monetary"]
    stats = (
        _returning(features)
        .select(
            *_RFT_KEYS, F.round("monetary", MONETARY_SCALE).alias("monetary")
        )
        .groupingSets([_RFT_KEYS, _GG_KEYS], *cols)
        .agg(F.count("*").alias("w"), F.grouping_id().alias("_set"))
        .toPandas()
    )
    return tuple(
        stats.loc[stats["_set"] == _grouping_id(cols, keys), [*keys, "w"]]
        for keys in (_RFT_KEYS, _GG_KEYS)
    )


def fit_bgnbd(
    features: DataFrame | pd.DataFrame, penalizer: float = PENALIZER
) -> BetaGeoParams:
    """M1: BG/NBD MLE.  Distributed compression first — the likelihood
    is a function of (frequency, recency, T) only, so group identical
    triples and carry a weight (the lifetimes weighted-fit convention).
    Millions of customers collapse to <= a few thousand rows before the
    driver collect.  ``features`` may also be the already-collected
    statistics (``fit_statistics``).
    """
    stats = _rft_stats(features)
    if stats.empty:
        raise ValueError(
            "No customers to fit BG/NBD on (cold start: a single daily "
            "batch yields frequency=0 for everyone — accumulate history "
            "before scoring)"
        )
    x = stats["frequency"].to_numpy(dtype=np.float64)
    t_x = stats["recency"].to_numpy(dtype=np.float64)
    T = stats["t"].to_numpy(dtype=np.float64)
    w = stats["w"].to_numpy(dtype=np.float64)
    x0 = np.log(np.array([1.0, 1.0, 1.0, 1.0]))
    best, _ = nelder_mead(
        lambda lp: _bgnbd_nll(lp, x, t_x, T, w, penalizer), x0
    )
    r, alpha, a, b = np.exp(best)
    return BetaGeoParams(float(r), float(alpha), float(a), float(b))


def fit_gamma_gamma(
    features: DataFrame | pd.DataFrame,
    penalizer: float = PENALIZER,
    monetary_scale: int = MONETARY_SCALE,
) -> GammaGammaParams:
    """M3: Gamma-Gamma MLE over returning customers (frequency > 0,
    monetary > 0 — the reference filters before fitting,
    dags/clv_models.py:53).

    Distributed compression first, same shape as ``fit_bgnbd``: the
    likelihood depends on (frequency, monetary) only, and monetary is
    currency — the pipeline rounds it to cents before scoring
    (queries/clvq.py ``_features``), so grouping by ``(frequency,
    round(monetary, MONETARY_SCALE))`` with count weights is LOSSLESS
    on the production path and the driver collect is bounded by
    distinct (frequency, cents) pairs, not customers.  At 10⁸
    customers the old 1-row-per-customer ``toPandas()`` was a multi-GB
    barrier; the grouped form collects at most
    |distinct frequency| × |distinct cents| rows.  ``_gg_nll`` is the
    weighted NLL, so the fit is bit-identical up to summation order
    (pinned ≤1e-9 in tests/test_clv_logic.py).  Callers feeding
    monetary with more than ``monetary_scale`` decimals get a
    cents-quantized fit — standard currency practice; pass a larger
    scale to trade compression for precision.  ``features`` may also be
    the already-collected statistics (``fit_statistics``), which are
    rounded to the default ``MONETARY_SCALE``.
    """
    stats = _gg_stats(features, monetary_scale)
    if stats.empty:
        raise ValueError("No returning customers to fit Gamma-Gamma on")
    x = stats["frequency"].to_numpy(dtype=np.float64)
    m = stats["monetary"].to_numpy(dtype=np.float64)
    w = stats["w"].to_numpy(dtype=np.float64)
    x0 = np.log(np.array([1.0, 1.0, 1.0]))
    best, _ = nelder_mead(lambda lp: _gg_nll(lp, x, m, w, penalizer), x0)
    p, q, v = np.exp(best)
    return GammaGammaParams(float(p), float(q), float(v))


# --- predict --------------------------------------------------------------


def expected_purchases_np(
    params: BetaGeoParams,
    t: float,
    x: np.ndarray,
    t_x: np.ndarray,
    T: np.ndarray,
) -> np.ndarray:
    """BG/NBD conditional expected purchases in the next ``t`` days
    (Fader-Hardie-Lee 2005 eq. (10)), vectorized with numpy — the
    kernel of ``join_expected_purchases``' driver-side table.
    """
    r, alpha, a, b = params.r, params.alpha, params.a, params.b
    z = t / (alpha + T + t)
    hyp = hyp2f1(r + x, b + x, a + b + x - 1.0, z)
    first = (a + b + x - 1.0) / (a - 1.0)
    second = 1.0 - hyp * ((alpha + T) / (alpha + T + t)) ** (r + x)
    numerator = first * second
    denominator = 1.0 + (x > 0) * (a / (b + np.maximum(x, 1) - 1.0)) * (
        (alpha + T) / (alpha + t_x)
    ) ** (r + x)
    return numerator / denominator


def prob_alive_col(
    params: BetaGeoParams,
    frequency: Column | str = "frequency",
    recency: Column | str = "recency",
    T: Column | str = "t",
) -> Column:
    """BG/NBD P(alive | x, t_x, T) (Fader-Hardie-Lee 2005):
    1 / (1 + [x>0] * a/(b+x-1) * ((alpha+T)/(alpha+t_x))^(r+x)).
    Pure Column arithmetic — no UDF; the denominator is the same term
    the conditional-purchases formula divides by.
    """
    x = (F.col(frequency) if isinstance(frequency, str) else frequency).cast(
        "double"
    )
    t_x = (F.col(recency) if isinstance(recency, str) else recency).cast(
        "double"
    )
    Tc = (F.col(T) if isinstance(T, str) else T).cast("double")
    r, alpha, a, b = (
        F.lit(params.r),
        F.lit(params.alpha),
        F.lit(params.a),
        F.lit(params.b),
    )
    odds = (a / (b + F.greatest(x, F.lit(1.0)) - F.lit(1.0))) * F.pow(
        (alpha + Tc) / (alpha + t_x), r + x
    )
    return F.when(x > 0, F.lit(1.0) / (F.lit(1.0) + odds)).otherwise(
        F.lit(1.0)
    )


def expected_avg_value_col(
    params: GammaGammaParams | tuple[Column, Column, Column],
    frequency: Column | str = "frequency",
    monetary: Column | str = "monetary",
) -> Column:
    """M4: Gamma-Gamma conditional expected average profit (Fader &
    Hardie 2013 eq. (5)) as native Column arithmetic — a weighted blend
    of the population mean and the customer's observed mean.  Stays
    inside whole-stage codegen; no UDF.  ``params`` may also be the
    (p, q, v) columns of a row that carries them (see
    ``score_customers``); the arithmetic is the same either way.
    """
    x = F.col(frequency) if isinstance(frequency, str) else frequency
    m = F.col(monetary) if isinstance(monetary, str) else monetary
    if isinstance(params, GammaGammaParams):
        params = (params.p, params.q, params.v)
    p, q, v = (F.lit(c) for c in params)
    weight = (p * x) / (p * x + q - F.lit(1.0))
    population_mean = v * p / (q - F.lit(1.0))
    return (F.lit(1.0) - weight) * population_mean + weight * m


def _expected_purchases_table(
    df: DataFrame,
    triples: pd.DataFrame,
    columns: dict[str, tuple[Callable[..., np.ndarray], object, float]],
    constants: dict[str, float] | None = None,
) -> DataFrame:
    """One row per distinct (frequency, recency, t) triple: the triple
    as ``_frequency``, ``_recency``, ``_t`` (typed like ``df``'s
    columns) and one double column per ``columns`` entry.  Each entry
    names its numpy kernel, the kernel's params and the horizon in
    days — ``(expected_purchases_np, BetaGeoParams, t)`` or
    ``(pnbd_expected_purchases_np, ParetoNBDParams, t)`` — evaluated
    on the driver over the triples.  ``constants`` adds one double
    column per entry holding that value on every row.
    ``createDataFrame`` turns the pandas frame into a LocalRelation
    through Arrow, so neither the table nor its join runs a Python
    worker."""
    keys = triples[_RFT_KEYS].reset_index(drop=True)
    x, t_x, T = (keys[k].to_numpy(dtype=np.float64) for k in _RFT_KEYS)
    table = keys.rename(columns={k: f"_{k}" for k in _RFT_KEYS})
    for name, (kernel, params, horizon) in columns.items():
        table[name] = kernel(params, horizon, x, t_x, T)
    constants = constants or {}
    for name, value in constants.items():
        table[name] = np.float64(value)
    schema = StructType(
        [StructField(f"_{k}", df.schema[k].dataType) for k in _RFT_KEYS]
        + [StructField(name, DoubleType()) for name in [*columns, *constants]]
    )
    return df.sparkSession.createDataFrame(table, schema)


def join_expected_purchases(
    df: DataFrame,
    columns: dict[str, tuple[Callable[..., np.ndarray], object, float]],
    triples: pd.DataFrame | None = None,
    constants: dict[str, float] | None = None,
) -> DataFrame:
    """``df`` (with frequency, recency, t) left-joined to its
    ``_expected_purchases_table`` on null-safe equality of the triple:
    every row gains the ``columns`` predictions, the ``constants``
    (and the table's ``_``-prefixed keys).  The table is broadcast.
    ``triples`` holds the distinct triples when the caller already has
    them (extra columns are ignored); when None they are collected from
    ``df`` in one job."""
    if triples is None:
        triples = df.select(*_RFT_KEYS).distinct().toPandas()
    table = _expected_purchases_table(df, triples, columns, constants)
    on = [F.col(k).eqNullSafe(F.col(f"_{k}")) for k in _RFT_KEYS]
    return df.join(F.broadcast(table), on, "left")


def score_customers(
    returning: DataFrame,
    bg: BetaGeoParams,
    gg: GammaGammaParams,
    predict_horizon: float = PREDICT_HORIZON_DAYS,
    clv_horizon: float = CLV_HORIZON_DAYS,
    discount: float = DISCOUNT,
    triples: pd.DataFrame | None = None,
) -> DataFrame:
    """M2+M4+M5+M6: full scoring (reference dags/clv_models.py:70-80).

    predicted_purchases = E[X(30d)]; clv = E[X(365d)] * E[avg value] *
    0.99, assembled manually like the reference; then the quality fixes.
    The BG/NBD predictions come from a driver-side table with one row per
    distinct (frequency, recency, t) triple, broadcast-joined back on
    null-safe equality; Gamma-Gamma, CLV and the flags are native Column
    arithmetic.  ``triples`` holds those distinct triples (the BG/NBD
    statistics of ``fit_statistics``, whose extra columns are ignored);
    when None they are collected from ``returning`` in one job.

    The fitted Gamma-Gamma p, q, v ride the broadcast table as constant
    columns: as literals they would be written into the generated code,
    which then compiles anew for every fit.
    """
    gg_cols = {"_gg_p": gg.p, "_gg_q": gg.q, "_gg_v": gg.v}
    scored = (
        join_expected_purchases(
            returning,
            {
                "_purchases_predict": (expected_purchases_np, bg, predict_horizon),
                "_purchases_clv": (expected_purchases_np, bg, clv_horizon),
            },
            triples,
            gg_cols,
        )
        .select(
            *returning.columns,
            F.col("_purchases_predict").alias("predicted_purchases"),
            expected_avg_value_col(tuple(map(F.col, gg_cols))).alias(
                "predicted_avg_value"
            ),
            "_purchases_clv",
        )
        .withColumn(
            "clv",
            F.col("_purchases_clv")
            * F.col("predicted_avg_value")
            * F.lit(discount),
        )
        .drop("_purchases_clv")
    )
    return apply_data_quality_fixes(scored, value_col="clv")


def run_clv_logic(features: DataFrame) -> DataFrame:
    """The reference's ``run_clv_logic`` (dags/clv_models.py:39-84):
    empty guard, exact-ordered-schema guard, returning-customer filter,
    fit both models, score.  Error strings and their precedence are
    preserved verbatim so the reference's tests port directly; the
    empty guard's job only runs when a guard or the fit would fail.
    """
    if list(features.columns) != MODEL_INPUT_COLUMNS:
        if features.isEmpty():
            raise ValueError("Dataframe is empty")
        raise ValueError(
            f"Bad Schema: expected {MODEL_INPUT_COLUMNS}, got {list(features.columns)}"
        )
    returning = _returning(features)
    bg_stats, gg_stats = fit_statistics(features)
    # an empty input has no statistics, so only then can it be empty
    if bg_stats.empty and features.isEmpty():
        raise ValueError("Dataframe is empty")
    bg = fit_bgnbd(bg_stats)
    gg = fit_gamma_gamma(gg_stats)
    return score_customers(returning, bg, gg, triples=bg_stats)


# --- Pareto/NBD (Schmittlein-Morrison-Colombo 1987) ----------------------


@dataclass(frozen=True)
class ParetoNBDParams:
    r: float
    alpha: float
    s: float
    beta: float


def _pnbd_log_a0(
    r: float,
    alpha: float,
    s: float,
    beta: float,
    x: np.ndarray,
    t_x: np.ndarray,
    T: np.ndarray,
) -> np.ndarray:
    """log A0 of the Pareto/NBD likelihood (Fader & Hardie, "A Note on
    Deriving the Pareto/NBD Model and Related Expressions", 2005) —
    the 2F1 difference term, evaluated in log space so large T and
    r+s+x stay stable.  A0 >= 0 with A0 = 0 iff t_x == T; that case
    returns -inf, which downstream logaddexp handles exactly.
    """
    maxab = max(alpha, beta)
    absab = abs(alpha - beta)
    rsx = r + s + x
    p2 = np.where(alpha >= beta, s + 1.0, r + x)

    def log_f(t: np.ndarray) -> np.ndarray:
        z = absab / (maxab + t)
        return np.log(hyp2f1(rsx, p2, rsx + 1.0, z)) - rsx * np.log(
            maxab + t
        )

    lf1 = log_f(t_x)
    lf2 = log_f(T)
    diff = np.minimum(lf2 - lf1, 0.0)
    with np.errstate(divide="ignore"):
        return lf1 + np.log1p(-np.exp(diff))


def _pnbd_ll(
    r: float,
    alpha: float,
    s: float,
    beta: float,
    x: np.ndarray,
    t_x: np.ndarray,
    T: np.ndarray,
) -> np.ndarray:
    """Per-row Pareto/NBD log-likelihood (vectorized)."""
    rsx = r + s + x
    log_part1 = -(r + x) * np.log(alpha + T) - s * np.log(beta + T)
    log_a0 = _pnbd_log_a0(r, alpha, s, beta, x, t_x, T)
    log_part2 = np.log(s) - np.log(rsx) + log_a0
    return (
        lgamma(r + x)
        - lgamma(np.array(r))
        + r * np.log(alpha)
        + s * np.log(beta)
        + np.logaddexp(log_part1, log_part2)
    )


def _pnbd_nll(
    log_params: np.ndarray,
    x: np.ndarray,
    t_x: np.ndarray,
    T: np.ndarray,
    w: np.ndarray,
    penalizer: float,
) -> float:
    r, alpha, s, beta = np.exp(log_params)
    ll = _pnbd_ll(r, alpha, s, beta, x, t_x, T)
    penalty = penalizer * float(np.sum(np.exp(log_params) ** 2))
    return -float(np.sum(w * ll)) / float(np.sum(w)) + penalty


def fit_pareto_nbd(
    features: DataFrame, penalizer: float = PENALIZER
) -> ParetoNBDParams:
    """Pareto/NBD MLE — the OTHER classic lifetimes model beside
    BG/NBD: dropout is a continuous exponential death process
    (mu ~ Gamma(s, beta)) instead of BG/NBD's after-purchase coin
    flip, so it prices inactivity BETWEEN purchases.  Same distributed
    compression barrier as fit_bgnbd: identical (frequency, recency,
    T) triples group to weights before the driver collect, so the
    optimizer touches <= a few thousand rows for millions of
    customers.  Parameter recovery from model-simulated data is
    pinned in tests/test_clv_logic.py."""
    stats = _rft_stats(features)
    if stats.empty:
        raise ValueError("No customers to fit Pareto/NBD on")
    x = stats["frequency"].to_numpy(dtype=np.float64)
    t_x = stats["recency"].to_numpy(dtype=np.float64)
    T = stats["t"].to_numpy(dtype=np.float64)
    w = stats["w"].to_numpy(dtype=np.float64)
    x0 = np.log(np.array([1.0, 4.0, 1.0, 4.0]))
    best, _ = nelder_mead(
        lambda lp: _pnbd_nll(lp, x, t_x, T, w, penalizer), x0
    )
    r, alpha, s, beta = np.exp(best)
    return ParetoNBDParams(float(r), float(alpha), float(s), float(beta))


def pnbd_prob_alive_np(
    params: ParetoNBDParams,
    x: np.ndarray,
    t_x: np.ndarray,
    T: np.ndarray,
) -> np.ndarray:
    """P(alive | x, t_x, T) under Pareto/NBD (Fader-Hardie 2005)."""
    r, alpha, s, beta = params.r, params.alpha, params.s, params.beta
    x = np.asarray(x, dtype=np.float64)
    t_x = np.asarray(t_x, dtype=np.float64)
    T = np.asarray(T, dtype=np.float64)
    rsx = r + s + x
    log_a0 = _pnbd_log_a0(r, alpha, s, beta, x, t_x, T)
    log_term = (
        np.log(s)
        - np.log(rsx)
        + (r + x) * np.log(alpha + T)
        + s * np.log(beta + T)
        + log_a0
    )
    return 1.0 / (1.0 + np.exp(log_term))


def pnbd_expected_purchases_np(
    params: ParetoNBDParams,
    t: float,
    x: np.ndarray,
    t_x: np.ndarray,
    T: np.ndarray,
) -> np.ndarray:
    """Conditional expected transactions in (T, T+t] under Pareto/NBD:
    E[Y] = (r+x)(beta+T) / ((alpha+T)(s-1)) * (1 - ((beta+T)/(beta+T+t))^(s-1))
    x P(alive); the s -> 1 limit replaces the bracket with
    ln((beta+T+t)/(beta+T))."""
    r, alpha, s, beta = params.r, params.alpha, params.s, params.beta
    x = np.asarray(x, dtype=np.float64)
    t_x = np.asarray(t_x, dtype=np.float64)
    T = np.asarray(T, dtype=np.float64)
    u = (beta + T) / (beta + T + t)
    if abs(s - 1.0) < 1e-6:
        bracket = np.log1p(t / (beta + T))
    else:
        bracket = (1.0 - u ** (s - 1.0)) / (s - 1.0)
    base = (r + x) * (beta + T) / (alpha + T) * bracket
    return base * pnbd_prob_alive_np(params, x, t_x, T)
