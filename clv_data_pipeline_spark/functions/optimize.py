"""Derivative-free minimizer for the model fits, numpy-only.

The reference fits its models with ``lifetimes``, which delegates to
SciPy's Nelder-Mead.  SciPy is not in this container, so this is a
self-contained implementation of the standard Nelder-Mead simplex
algorithm (Nelder & Mead 1965, with the conventional alpha=1, gamma=2,
rho=0.5, sigma=0.5 coefficients and adaptive initial simplex).  The fit
runs on the driver over aggregated sufficient statistics (a few
thousand rows at most), so driver-side Python is the right tool — this
is the deliberate collect barrier of SURVEY.md §3.2, not a hot path.
"""

from __future__ import annotations

from collections.abc import Callable

import numpy as np


def nelder_mead(
    f: Callable[[np.ndarray], float],
    x0: np.ndarray,
    max_iter: int = 2000,
    xatol: float = 1e-8,
    fatol: float = 1e-10,
) -> tuple[np.ndarray, float]:
    """Minimize ``f`` from ``x0``; returns (x_best, f_best).

    A non-finite value (NaN, or -inf at a likelihood's boundary) counts
    as +inf: such a point is never kept as the best, and the
    convergence test, which NaN would never pass, stays meaningful.
    """

    def value(p: np.ndarray) -> float:
        v = f(p)
        return v if np.isfinite(v) else np.inf

    x0 = np.asarray(x0, dtype=np.float64)
    n = x0.size

    # initial simplex: perturb each coordinate by 5% (0.00025 if zero)
    simplex = [x0]
    for i in range(n):
        p = x0.copy()
        p[i] = p[i] * 1.05 if p[i] != 0 else 0.00025
        simplex.append(p)
    simplex = np.array(simplex)
    fvals = np.array([value(p) for p in simplex])

    for _ in range(max_iter):
        order = np.argsort(fvals)
        simplex, fvals = simplex[order], fvals[order]

        if (
            np.max(np.abs(simplex[1:] - simplex[0])) <= xatol
            and np.max(np.abs(fvals[1:] - fvals[0])) <= fatol
        ):
            break

        centroid = simplex[:-1].mean(axis=0)
        worst = simplex[-1]

        reflected = centroid + (centroid - worst)
        f_r = value(reflected)
        if fvals[0] <= f_r < fvals[-2]:
            simplex[-1], fvals[-1] = reflected, f_r
            continue
        if f_r < fvals[0]:
            expanded = centroid + 2.0 * (centroid - worst)
            f_e = value(expanded)
            if f_e < f_r:
                simplex[-1], fvals[-1] = expanded, f_e
            else:
                simplex[-1], fvals[-1] = reflected, f_r
            continue
        # contraction
        if f_r < fvals[-1]:
            contracted = centroid + 0.5 * (reflected - centroid)
        else:
            contracted = centroid + 0.5 * (worst - centroid)
        f_c = value(contracted)
        if f_c < min(f_r, fvals[-1]):
            simplex[-1], fvals[-1] = contracted, f_c
            continue
        # shrink toward best
        for i in range(1, n + 1):
            simplex[i] = simplex[0] + 0.5 * (simplex[i] - simplex[0])
            fvals[i] = value(simplex[i])

    best = int(np.argmin(fvals))
    return simplex[best], float(fvals[best])
