"""Stage 3 — validate_landings (reference R/validation.R:36-106 +
R/validation-functions.R). Alert semantics per SURVEY §2.11; quirk decisions
per SURVEY §8 (Q1 strict_parity flag, Q3 per-call-site back-transforms,
Q4 optional catch validator, Q9 effective masking order).

Spark shape (SURVEY §4.3): the rule bundles evaluate in ONE pass over the
fact table, and each validated variable is a single ``when`` expression over
its alert column (no reduce-join recompose). The bounds relations are fitted
from the stage input, each once: the global count bounds (alerts 2+3, one
fused fit) and the per-taxon price bounds each take a median pass and a MAD
pass, and each pass is one shuffle plus one broadcast back. So the default
stage plans 4 shuffle and 4 broadcast exchanges (2 + 2 more with
``include_catch``), and, with AQE running every exchange as its own job,
``cli.run_stage("validate")`` runs 9 Spark jobs: the 8 exchanges and the
write (measured on 6000 generated submissions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import expressions as E
from ..operators import joins as join_ops
from ..operators import relational as rel
from ..operators import validation as V

DEFAULT_K = {"k_nboats": 3.0, "k_nfishers": 3.0, "k_catch": 2.5, "k_pricekg": 9.0}
MIN_LANDING_DATE = "2020-12-31"


def validate_dates(df: DataFrame, strict_parity: bool = False) -> DataFrame:
    """Alert 1 — invalid landing_date, mask to NULL (Q1,
    R/validation-functions.R:84-92). The reference assigns alert_date twice
    so only the `< 2020-12-31` rule survives; ``strict_parity=True``
    reproduces that bug, False implements the documented intent (OR of both
    rules: date after submission OR before the floor)."""
    before_floor = F.col("landing_date") < F.lit(MIN_LANDING_DATE).cast("timestamp")
    after_submission = F.col("landing_date") > F.col("submission_date")
    cond = before_floor if strict_parity else (before_floor | after_submission)
    alert = F.when(cond, F.lit(1))
    return (df.withColumn("alert_date", alert)
            .withColumn("landing_date",
                        F.when(F.col("alert_date").isNull(), F.col("landing_date"))
                        .otherwise(F.lit(None).cast("timestamp"))))  # Q10: typed NULL


def validate_nfishers(df: DataFrame, k: float = DEFAULT_K["k_nfishers"]) -> DataFrame:
    """Alert 2 — negative or upper-outlier crew size
    (R/validation-functions.R:112-128): global LocScaleB bounds (expm1
    back-transform per alert_outlier), mask on fire."""
    return _validate_positive_outlier(df, "n_fishers", alert_name="alert_nfishers",
                                      alert_code=2, k=k)


def validate_nboats(df: DataFrame, k: float = DEFAULT_K["k_nboats"]) -> DataFrame:
    """Alert 3 — negative or upper-outlier boat count
    (R/validation-functions.R:147-162)."""
    return _validate_positive_outlier(df, "n_boats", alert_name="alert_nboats",
                                      alert_code=3, k=k)


def _validate_positive_outlier(df: DataFrame, col: str, alert_name: str,
                               alert_code: int, k: float) -> DataFrame:
    bounds = V.loc_scale_bounds(df.filter(F.col(col) >= 0), col, keys=[], k=k,
                                logt=True, back_transform="expm1")
    out = df.crossJoin(F.broadcast(bounds))
    v = F.col(col)
    alert = (F.when(v < 0, F.lit(alert_code))
             .when(F.col("upper_bound").isNotNull() & (v > F.col("upper_bound")),
                   F.lit(alert_code)))
    return (out.withColumn(alert_name, alert)
            .withColumn(col, F.when(F.col(alert_name).isNull(), v))
            .drop("lower_bound", "upper_bound"))


def _count_bounds(df: DataFrame, k_nfishers: float,
                  k_nboats: float) -> DataFrame:
    """Alerts 2+3's global bounds: one 1-row frame from one 2-pass fit."""
    return V.loc_scale_bounds_multi(
        df, {"n_fishers": (k_nfishers, "expm1"),
             "n_boats": (k_nboats, "expm1")})


def _mask_counts(df: DataFrame, bounds: DataFrame) -> DataFrame:
    out = df.crossJoin(F.broadcast(bounds))
    for col, alert_name, code in (("n_fishers", "alert_nfishers", 2),
                                  ("n_boats", "alert_nboats", 3)):
        v = F.col(col)
        upper = F.col(f"{col}_upper")
        alert = (F.when(v < 0, F.lit(code))
                 .when(upper.isNotNull() & (v > upper), F.lit(code)))
        out = (out.withColumn(alert_name, alert)
               .withColumn(col, F.when(F.col(alert_name).isNull(), v)))
    return out.drop(*[f"{c}_{b}" for c in ("n_fishers", "n_boats")
                      for b in ("lower", "upper")])


def validate_counts_fused(df: DataFrame,
                          k_nfishers: float = DEFAULT_K["k_nfishers"],
                          k_nboats: float = DEFAULT_K["k_nboats"]) -> DataFrame:
    """Alerts 2+3 in ONE bounds pass (SURVEY §4.3): both global LocScaleB
    fits run inside a single 2-pass aggregate, producing one 1-row bounds
    frame broadcast once — versus one aggregate + one broadcast exchange
    per variable in the sequential formulation. Output is bit-identical to
    ``validate_nboats(validate_nfishers(df))`` (parity-tested): the two
    variables' fits are independent, and masking n_fishers never affects
    the n_boats fit."""
    return _mask_counts(df, _count_bounds(df, k_nfishers, k_nboats))


_CATCH_KEYS = ["gear", "catch_taxon", "weight_type"]


def _catch_bounds(df: DataFrame, k: float) -> DataFrame:
    fit = rel.filter_not_in(df, "catch_taxon", ["0", "no_catch"])
    return V.loc_scale_bounds(fit, "catch_kg", keys=_CATCH_KEYS, k=k,
                              logt=True, back_transform="exp")


def _mask_catch(df: DataFrame, bounds: DataFrame) -> DataFrame:
    out = join_ops.broadcast_left_join(df, bounds, _CATCH_KEYS, "left")
    v = F.col("catch_kg")
    alert = F.when(F.col("upper_bound").isNotNull() & (v >= F.col("upper_bound")),
                   F.lit(4))
    return (out.withColumn("alert_catch", alert)
            .withColumn("catch_kg", F.when(F.col("alert_catch").isNull(), v))
            .drop("lower_bound", "upper_bound"))


def validate_catch(df: DataFrame, k: float = DEFAULT_K["k_catch"]) -> DataFrame:
    """Alert 4 — catch_kg ≥ per-(gear, catch_taxon, weight_type) upper bound
    (R/validation-functions.R:220-233; exp back-transform per Q3; taxon
    "0"/"no_catch" rows excluded from the bounds fit, P8 at :186).
    NOTE (Q4): defined but not wired into the default stage, as in the
    reference — pass ``include_catch=True`` to validate_landings to wire it.
    """
    return _mask_catch(df, _catch_bounds(df, k))


def _pricekg_bounds(df: DataFrame, k: float) -> DataFrame:
    fit = rel.filter_not_in(df, "catch_taxon", ["0", "no_catch"])
    return V.loc_scale_bounds(fit, "price_kg", keys=["catch_taxon"], k=k,
                              logt=True, back_transform="exp")


def _mask_pricekg(df: DataFrame, bounds: DataFrame) -> DataFrame:
    out = join_ops.broadcast_left_join(df, bounds, ["catch_taxon"], "left")
    v = F.col("price_kg")
    alert = F.when(
        F.col("lower_bound").isNotNull()
        & ((v < F.col("lower_bound")) | (v > F.col("upper_bound"))), F.lit(4))
    out = out.withColumn("alert_pricekg", alert)
    for c in ["price_kg", "catch_kg", "catch_price"]:
        out = out.withColumn(c, F.when(F.col("alert_pricekg").isNull(), F.col(c)))
    return out.drop("lower_bound", "upper_bound")


def validate_pricekg(df: DataFrame, k: float = DEFAULT_K["k_pricekg"]) -> DataFrame:
    """Alert 4 — price_kg outside per-taxon two-sided bounds
    (R/validation-functions.R:293-316): masks price_kg AND catch_kg AND
    catch_price (Q9 interaction preserved). The fit is a median pass and a
    MAD pass per taxon: 2 shuffle + 2 broadcast exchanges, the last one
    joining the bounds back. :func:`validate_landings` fits these bounds
    from the stage input, so its plan holds no other rule's fit twice."""
    return _mask_pricekg(df, _pricekg_bounds(df, k))


def validate_imeis(df: DataFrame, devices: DataFrame) -> DataFrame:
    """IMEI alerts 1/2/3 — registry suffix match (J9/F1,
    R/validation-functions.R:339-375): too short → 1; ambiguous (>1 match)
    → 2; unknown (0 matches) → 3; unique match → canonical registry value.
    Returns (survey_id, tracker_imei, imei, alert_imei) — one row per
    distinct (survey_id, imei), computed with a broadcast suffix join +
    grouped match count instead of the reference's per-value R loop.
    """
    facts = df.select("survey_id",
                      E.normalize_imei(F.col("tracker_imei").try_cast("double"))
                      .alias("__imei_norm"),
                      F.col("tracker_imei"))
    matched = join_ops.suffix_match_join(
        facts.filter(F.col("__imei_norm").isNotNull() & (F.length("__imei_norm") >= 5)),
        "survey_id", "__imei_norm", devices, "IMEI")
    short_or_null = (facts.filter(F.col("__imei_norm").isNull()
                                  | (F.length("__imei_norm") < 5))
                     .select("survey_id", "__imei_norm",
                             F.lit(None).cast("long").alias("n_matches"),
                             F.lit(None).cast("string").alias("matched_value")))
    unioned = rel.union_by_name([matched, short_or_null])
    alert = (F.when(F.col("n_matches").isNull(), F.lit(1))        # too short / absent
             .when(F.col("n_matches") > 1, F.lit(2))              # ambiguous
             .when(F.col("n_matches") == 0, F.lit(3)))            # unknown
    imei = F.when(F.col("n_matches") == 1, F.col("matched_value"))
    return unioned.select(
        "survey_id",
        F.col("__imei_norm").alias("imei_digits"),
        alert.alias("alert_imei"),
        imei.alias("imei"))


def validate_landings(df: DataFrame, k: dict | None = None,
                      strict_parity: bool = False,
                      include_catch: bool = False) -> DataFrame:
    """The full stage: all rule bundles + fused alert_number.

    The reference computes imei_alerts here but never persists them (Q5 —
    they are consumed in merge_trips instead); we match that: IMEI alerts
    are NOT part of this output. ``alert_number`` fusion (Q6) is included as
    a column since it costs nothing in the fused plan.
    """
    kk = dict(DEFAULT_K, **(k or {}))
    # Every bounds relation is fitted from the stage input ``df``: no rule
    # drops rows or masks a column that a later rule fits on, so the bounds
    # equal those fitted on the masked frame, while a fit on the masked
    # frame would re-plan every earlier rule's fit inside its own subtree.
    out = validate_dates(df, strict_parity=strict_parity)
    out = _mask_counts(out, _count_bounds(df, kk["k_nfishers"],
                                          kk["k_nboats"]))
    if include_catch:
        out = _mask_catch(out, _catch_bounds(df, kk["k_catch"]))
    out = _mask_pricekg(out, _pricekg_bounds(df, kk["k_pricekg"]))
    alert_cols = ["alert_date", "alert_nfishers", "alert_nboats"] \
        + (["alert_catch"] if include_catch else []) + ["alert_pricekg"]
    out = V.fuse_alerts(out, alert_cols)
    return out.drop(*alert_cols)
