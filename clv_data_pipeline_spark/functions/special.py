"""Special functions for the CLV model math, numpy-only.

The container has no SciPy (SURVEY.md §7 risk), so the two special
functions the BG/NBD model needs ship here:

- ``lgamma``: vectorized log-gamma via the Lanczos approximation
  (standard published coefficients, g=7, n=9 — the same scheme used by
  most numerics libraries).  Accurate to ~1e-13 relative over the
  positive reals, which is far inside the MLE's tolerance.
- ``hyp2f1``: Gauss hypergeometric series, vectorized over numpy
  arrays.  The BG/NBD conditional-purchases formula evaluates
  2F1(r+x, b+x; a+b+x-1; z) with z = t/(alpha+T+t) in (0,1) — the
  convergent region — so plain term-ratio iteration converges
  geometrically at rate z.
"""

from __future__ import annotations

import numpy as np

# Lanczos (g=7, n=9) coefficients — published in Numerical Recipes and
# the original Lanczos/Godfrey literature.
_LANCZOS_G = 7.0
_LANCZOS_COEF = np.array(
    [
        0.99999999999980993,
        676.5203681218851,
        -1259.1392167224028,
        771.32342877765313,
        -176.61502916214059,
        12.507343278686905,
        -0.13857109526572012,
        9.9843695780195716e-6,
        1.5056327351493116e-7,
    ]
)
_LN_SQRT_2PI = 0.9189385332046727  # log(sqrt(2*pi))


def lgamma(x: np.ndarray | float) -> np.ndarray:
    """log|Gamma(x)| for x > 0, vectorized (Lanczos approximation)."""
    x = np.asarray(x, dtype=np.float64)
    if np.any(x <= 0):
        raise ValueError("lgamma implemented for x > 0 only")
    # Lanczos evaluated at x (uses Gamma(x) = Gamma(x+1)/x internally)
    z = x - 1.0
    series = np.full_like(z, _LANCZOS_COEF[0])
    for i in range(1, len(_LANCZOS_COEF)):
        series = series + _LANCZOS_COEF[i] / (z + i)
    t = z + _LANCZOS_G + 0.5
    return _LN_SQRT_2PI + (z + 0.5) * np.log(t) - t + np.log(series)


def hyp2f1(
    a: np.ndarray | float,
    b: np.ndarray | float,
    c: np.ndarray | float,
    z: np.ndarray | float,
    rtol: float = 1e-12,
    max_terms: int = 4000,
) -> np.ndarray:
    """Gauss hypergeometric 2F1(a, b; c; z) for 0 <= z < 1, vectorized.

    Direct series summation; all four arguments broadcast.  Inputs from
    the BG/NBD formula keep z in [0, ~0.95] so <= a few hundred terms
    suffice at rtol=1e-12.  Each element stops adding terms on its own
    test, so its value does not depend on which elements share the
    call.
    """
    a, b, c, z = np.broadcast_arrays(
        np.asarray(a, dtype=np.float64),
        np.asarray(b, dtype=np.float64),
        np.asarray(c, dtype=np.float64),
        np.asarray(z, dtype=np.float64),
    )
    if np.any(z < 0) or np.any(z >= 1):
        raise ValueError("hyp2f1 series requires 0 <= z < 1")
    total = np.ones_like(z)
    term = np.ones_like(z)
    active = np.ones(z.shape, dtype=bool)
    for n in range(max_terms):
        ratio = (a + n) * (b + n) / ((c + n) * (n + 1.0)) * z
        term = term * ratio
        total = total + np.where(active, term, 0.0)
        active = active & (np.abs(term) > rtol * np.abs(total))
        if not active.any():
            break
    return total
