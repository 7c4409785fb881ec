"""Cross-engine deterministic statistical scalar functions.

The standard normal CDF is the gate to p-values (z-tests, BH-FDR,
Bayesian A/B readouts), but neither Spark nor DuckDB exposes erf with
bit-identical semantics — and libm erf differs across platforms anyway.
So Φ is computed from the Abramowitz & Stegun 7.1.26 rational
approximation of erf (|error| < 1.5e-7 — far inside the 6-dp rounding
every consumer applies), built ONLY from +,-,*,/ and one exp() whose
output is rounded to 12 dp on both engines before use (the playbook's
libm-absorption rule).  ``std_normal_cdf`` (Spark Column) and
``std_normal_cdf_sql`` (oracle SQL text) emit the SAME expression tree
token-for-token, so results hash-match across engines.

The md5-to-uniform hash is the engines' shared seeded randomness
(bootstrap multiplicities, DP noise, random projections, sampling):
``md5_bits`` reads eight hex digits of md5 as an integer in
[0, 2^32) and ``md5_uniform`` maps it into the open interval (0, 1);
``md5_bits_sql`` / ``md5_uniform_sql`` are their DuckDB twins.
``poisson1_quantile`` turns such a uniform into a Poisson(1)
bootstrap multiplicity.
"""

from __future__ import annotations

from pyspark.sql import Column
from pyspark.sql import functions as F

# Abramowitz & Stegun 7.1.26 coefficients
_P = "0.3275911"
_A1 = "0.254829592"
_A2 = "-0.284496736"
_A3 = "1.421413741"
_A4 = "-1.453152027"
_A5 = "1.061405429"


def std_normal_cdf(z: Column) -> Column:
    """Φ(z) with ~1.5e-7 absolute error, deterministic across engines
    and partitionings (consumers must round to <= 6 dp)."""
    x = F.abs(z) / F.sqrt(F.lit(2.0))
    t = F.lit(1.0) / (F.lit(1.0) + F.lit(float(_P)) * x)
    poly = t * (
        F.lit(float(_A1))
        + t
        * (
            F.lit(float(_A2))
            + t
            * (
                F.lit(float(_A3))
                + t * (F.lit(float(_A4)) + t * F.lit(float(_A5)))
            )
        )
    )
    e = F.round(F.exp(-x * x), 12)
    erf_abs = F.lit(1.0) - poly * e
    sgn = F.when(z < 0, F.lit(-1.0)).otherwise(F.lit(1.0))
    return F.lit(0.5) * (F.lit(1.0) + sgn * erf_abs)


def std_normal_cdf_sql(z: str) -> str:
    """The DuckDB twin of :func:`std_normal_cdf` — same expression
    tree over the SQL expression ``z`` (pass a column or a
    parenthesized expression)."""
    x = f"(ABS({z}) / sqrt(CAST(2.0 AS DOUBLE)))"
    t = (
        f"(CAST(1.0 AS DOUBLE) / (CAST(1.0 AS DOUBLE)"
        f" + CAST('{_P}' AS DOUBLE) * {x}))"
    )
    poly = (
        f"({t} * (CAST('{_A1}' AS DOUBLE) + {t} *"
        f" (CAST('{_A2}' AS DOUBLE) + {t} *"
        f" (CAST('{_A3}' AS DOUBLE) + {t} *"
        f" (CAST('{_A4}' AS DOUBLE) + {t} * CAST('{_A5}' AS DOUBLE))))))"
    )
    e = f"ROUND(exp(-{x} * {x}), 12)"
    erf_abs = f"(CAST(1.0 AS DOUBLE) - {poly} * {e})"
    sgn = f"(CASE WHEN {z} < 0 THEN -1.0 ELSE 1.0 END)"
    return (
        f"(CAST(0.5 AS DOUBLE) * (CAST(1.0 AS DOUBLE)"
        f" + {sgn} * {erf_abs}))"
    )


def md5_bits(x: Column, start: int = 1) -> Column:
    """Hex digits ``start``..``start + 7`` of ``md5(x)`` as a long in
    [0, 2^32)."""
    return F.conv(F.substring(F.md5(x), start, 8), 16, 10).cast("long")


def md5_uniform(x: Column) -> Column:
    """:func:`md5_bits` as a uniform in the open interval (0, 1), so
    ``log(u)`` and ``log(1 - u)`` stay finite."""
    return (md5_bits(x) + F.lit(0.5)) / F.lit(4294967296.0)


def md5_bits_sql(x: str, start: int = 1, width: int = 8) -> str:
    """The DuckDB twin of :func:`md5_bits` over the SQL expression
    ``x`` (``width`` hex digits; ``x`` must be VARCHAR)."""
    return f"('0x' || substr(md5({x}), {start}, {width}))::BIGINT"


def md5_uniform_sql(x: str) -> str:
    """The DuckDB twin of :func:`md5_uniform` (unparenthesized:
    callers wrap it where precedence needs it)."""
    return f"({md5_bits_sql(x)} + 0.5) / 4294967296.0"


# Poisson(1) CDF at 0..4, for the inverse-CDF draw capped at 5
_POISSON1_CDF = (0.367879441, 0.735758882, 0.919698603, 0.981011843,
                 0.996340153)


def poisson1_quantile(u: Column) -> Column:
    """Poisson(1) inverse CDF of the uniform ``u``, capped at 5: a
    Poisson-bootstrap replicate multiplicity."""
    out = F.when(u < _POISSON1_CDF[0], 0)
    for k, c in enumerate(_POISSON1_CDF[1:], 1):
        out = out.when(u < c, k)
    return out.otherwise(5)


def poisson1_quantile_sql(u: str) -> str:
    """The DuckDB twin of :func:`poisson1_quantile`."""
    whens = " ".join(
        f"WHEN {u} < {c} THEN {k}" for k, c in enumerate(_POISSON1_CDF)
    )
    return f"CASE {whens} ELSE 5 END"
