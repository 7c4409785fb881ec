"""Data-quality fixes (SURVEY.md §2.9 M6; reference dags/clv_models.py:21-37).

The reference's ``apply_data_quality_fixes`` (pandas/NumPy):
- flag negative scores (``np.where(clv < 0, 1, 0)`` -> ``negatif_clv_flag``),
- floor them at 0 (``clv.clip(lower=0)``),
- flag > 1e6 outliers (``np.where(clv > 1_000_000, 1, 0)`` -> ``outliners_flag``).

Column spellings ("negatif", "outliners") are preserved — the
reference's schema checks and tests depend on them.  Everything is
native Column arithmetic (when/greatest): map-only, whole-stage
codegen, zero shuffles — scale-free.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

#: reference dags/clv_models.py:32
OUTLIER_THRESHOLD = 1_000_000.0


def apply_data_quality_fixes(
    df: DataFrame,
    value_col: str = "clv",
    outlier_threshold: float = OUTLIER_THRESHOLD,
    clipped_col: str | None = None,
) -> DataFrame:
    """Add the two 0/1 flags and the clipped score.

    ``clipped_col=None`` overwrites ``value_col`` in place like the
    reference; pass a name to keep the raw value alongside.
    """
    v = F.col(value_col)
    out = df.withColumn(
        "negatif_clv_flag", F.when(v < 0, F.lit(1)).otherwise(F.lit(0))
    ).withColumn(
        "outliners_flag",
        F.when(v > outlier_threshold, F.lit(1)).otherwise(F.lit(0)),
    )
    target = clipped_col or value_col
    return out.withColumn(target, F.greatest(v, F.lit(0.0)))

