"""Robust-outlier validation (SURVEY §2.7 A3/A4, §2.11, §4.4).

The reference's one custom statistical kernel is `univOutl::LocScaleB(x,
logt=TRUE, k)` (`R/validation-functions.R:48,393`): on y = log(x+1),
location = median(y), scale = 1.4826·median(|y − median(y)|) (normal-
consistent MAD), bounds = location ± k·scale, back-transformed per call site
(`exp(bounds)−1` in alert_outlier `:51`; `exp(bounds)` in the grouped bounds
builders `:191,260-263` — quirk Q3, preserved).

Spark-first: :func:`loc_scale_bounds` is the one kernel. It fits any number
of value columns, globally or per key group, in a two-pass grouped
aggregation with exact medians — pass 1 median(log1p(x)) per group, joined
back by :func:`bounds_join` (broadcast — the bounds relation has one row per
group), pass 2 median(|y − med|). No UDF, no custom Catalyst rule. At 100 TB
the two ``F.median`` calls become ``percentile_approx`` (SCALE.md §6).

Guards (reference `alert_outlier`, `R/validation-functions.R:29-46`):
  - log1p requires non-negative x: rows with x<0 are excluded from the
    stats (log1p would NaN-poison the median);
  - all-NULL or all-zero groups produce no bounds (NULL);
  - MAD ≤ 0 (constant group) produces no bounds.
"""

from __future__ import annotations

import operator
from functools import reduce
from typing import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

MAD_CONSISTENCY = 1.4826
_BACK_TRANSFORMS = {"exp": F.exp, "expm1": F.expm1}


def bounds_join(df: DataFrame, bounds: DataFrame,
                keys: Sequence[str]) -> DataFrame:
    """Left-join a bounds relation (one row per key group) onto ``df`` with a
    broadcast; a cross join when ``keys`` is empty (one global row).

    Key equality is NULL-SAFE: dplyr's group_by keeps NA as a regular group
    level and its joins match NA to NA, so the reference fits and applies
    bounds for e.g. the NULL-gear group; a plain equi-join would strand
    every NULL-keyed row from its own bounds. The bounds side's keys are
    renamed first (both sides usually descend from one frame, so same-name
    references would be ambiguous), and the output puts the keys first, as
    a USING join does.
    """
    if not keys:
        return df.crossJoin(F.broadcast(bounds))
    renamed = bounds.toDF(*[f"__b_{c}" if c in keys else c
                            for c in bounds.columns])
    cond = [df[c].eqNullSafe(F.col(f"__b_{c}")) for c in keys]
    joined = df.join(F.broadcast(renamed), cond, "left")
    rest = [c for c in df.columns if c not in keys]
    return joined.select(*keys, *rest,
                         *[c for c in bounds.columns if c not in keys])


def loc_scale_bounds(df: DataFrame, specs: dict,
                     keys: Sequence[str] = ()) -> DataFrame:
    """A3/A4 — LocScaleB bounds for every value column in ``specs`` (column
    -> ``(k, back_transform)``), one row per key group with ``{col}_lower`` /
    ``{col}_upper`` (reference `get_bounds` + group-split,
    `R/validation-functions.R:183-195,252-264,392-395`). Empty ``keys``
    gives the global variant as a 1-row DataFrame.

    ``back_transform``: 'exp' (`exp(bounds)`, the grouped bounds builders)
    or 'expm1' (`exp(bounds)-1`, alert_outlier). All columns share one
    median pass and one MAD pass; a row enters a column's fit only where
    that column is ≥ 0, so each column's bounds equal its own one-column
    fit. Rows where no value column is ≥ 0 are dropped first, so a group
    with no fittable row has no bounds row.
    """
    gb = list(keys)
    fit = {c: F.when(F.col(c) >= 0, F.col(c)) for c in specs}
    base = (df.filter(reduce(operator.or_, [F.col(c) >= 0 for c in specs]))
            .select(*gb, *[x.alias(f"__x_{c}") for c, x in fit.items()]))

    def y(c: str) -> Column:
        return F.log1p(F.col(f"__x_{c}"))

    med = base.groupBy(*gb).agg(*[a for c in specs for a in (
        F.median(y(c)).alias(f"__med_{c}"),
        F.max(F.abs(F.col(f"__x_{c}"))).alias(f"__absmax_{c}"))])
    mad = bounds_join(base, med, gb).groupBy(*gb).agg(*[a for c in specs for a in (
        F.median(F.abs(y(c) - F.col(f"__med_{c}"))).alias(f"__mad_{c}"),
        F.first(f"__med_{c}").alias(f"__med_{c}"),
        F.first(f"__absmax_{c}").alias(f"__absmax_{c}"))])

    outs = []
    for c, (k, back_transform) in specs.items():
        back = _BACK_TRANSFORMS[back_transform]
        m, mad_raw = F.col(f"__med_{c}"), F.col(f"__mad_{c}")
        scale = mad_raw * MAD_CONSISTENCY
        # Guards: all-zero group (max |x| == 0) or degenerate MAD -> no bounds.
        valid = (F.col(f"__absmax_{c}") > 0) & (mad_raw > 0)
        outs += [F.when(valid, back(m - k * scale)).alias(f"{c}_lower"),
                 F.when(valid, back(m + k * scale)).alias(f"{c}_upper")]
    return mad.select(*gb, *outs)


def alert_outlier(df: DataFrame, value: str, alert_if_low, alert_if_high,
                  keys: Sequence[str] = (), k: float = 3.0) -> DataFrame:
    """A4 — per-row outlier alert (reference `alert_outlier`,
    `R/validation-functions.R:21-58`): compute (grouped or global) LocScaleB
    bounds with the expm1 back-transform, broadcast-join them back, emit
    ``alert_if_low``/``alert_if_high`` in column ``alert`` where the value
    crosses a bound, NULL otherwise.
    """
    bounds = loc_scale_bounds(df, {value: (k, "expm1")}, keys)
    v, lo, hi = F.col(value), F.col(f"{value}_lower"), F.col(f"{value}_upper")
    alert = F.when(v < lo, F.lit(alert_if_low)).when(v > hi, F.lit(alert_if_high))
    return (bounds_join(df, bounds, keys).withColumn("alert", alert)
            .drop(f"{value}_lower", f"{value}_upper"))


def mask_where(df: DataFrame, value_cols: Sequence[str], alert_col: str) -> DataFrame:
    """§2.11 mask step — when a rule fires, the offending value(s) become
    NULL (e.g. `n_fishers → NA` on alert 2, `R/validation-functions.R:118-128`).
    """
    out = df
    for c in value_cols:
        out = out.withColumn(c, F.when(F.col(alert_col).isNull(), F.col(c)))
    return out


def fuse_alerts(df: DataFrame, alert_cols: Sequence[str],
                out: str = "alert_number") -> DataFrame:
    """§2.11 fusion — concatenate per-rule alert columns into one
    dash-separated string, skipping NULLs (`tidyr::unite(sep="-",
    na.rm=TRUE)`, `R/validation.R:90-95`); all-NULL rows yield an empty
    string exactly like unite's na.rm output.
    """
    return df.withColumn(
        out, F.concat_ws("-", *[F.col(c).cast("string") for c in alert_cols]))
