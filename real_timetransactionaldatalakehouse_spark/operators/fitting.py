"""Per-entity model fitting from exact moment sums.

A per-group OLS fit is five aggregates: the closed form needs only
``n``, ``Σx``, ``Σy``, ``Σx²``, ``Σy²`` and ``Σxy``.  So the fit is one
partial+final aggregation — the shuffle moves six longs per (group,
partition), never the rows — and no Python runs on the executors.  The
sums accumulate exactly on integral inputs, so the result is
bit-portable across engines (the corr/covar discipline).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import lsum, xlsum


def grouped_ols(
    df: DataFrame,
    group_cols: list[str],
    x_col: str,
    y_col: str,
) -> DataFrame:
    """Per-group ordinary-least-squares fit of ``y ~ a + b*x``:
    returns one row per group with ``slope``, ``intercept``, ``r2``
    and ``n``.  Groups with fewer than 2 points or zero x-variance
    yield NULL fit columns (never a divide-by-zero).

    Requires INTEGRAL ``x_col``/``y_col`` (the caller quantizes —
    epoch seconds from a fixed origin, fixed-point cents, ...); the
    five moment sums accumulate exactly (primitive-long for the linear
    terms, hi/lo split-long for the products — exact to 2^39
    rows/group at per-row magnitudes up to ~2^53), and the closed form
    combines them once in doubles with a fixed expression tree, so the
    result is BIT-PORTABLE across engines.
    """
    x = F.col(x_col).cast("long")
    y = F.col(y_col).cast("long")
    s = df.groupBy(*group_cols).agg(
        F.count(F.lit(1)).cast("double").alias("n"),
        lsum(x).alias("sx"), lsum(y).alias("sy"),
        xlsum(x * x).alias("sxx"), xlsum(y * y).alias("syy"),
        xlsum(x * y).alias("sxy"),
    )
    n, sx, sy = F.col("n"), F.col("sx"), F.col("sy")
    sxx, syy, sxy = F.col("sxx"), F.col("syy"), F.col("sxy")
    dx = n * sxx - sx * sx
    dy = n * syy - sy * sy
    cov = n * sxy - sx * sy
    fit = (n > 1) & (dx > 0)
    return s.select(
        *group_cols,
        F.when(fit, cov / dx).alias("slope"),
        F.when(fit, (sy - (cov / dx) * sx) / n).alias("intercept"),
        F.when(fit & (dy > 0), (cov * cov) / (dx * dy)).alias("r2"),
        n.cast("long").alias("n"),
    )
