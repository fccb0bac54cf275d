"""Stage 3 — validate_landings (reference R/validation.R:36-106 +
R/validation-functions.R). Alert semantics per SURVEY §2.11; quirk decisions
per SURVEY §8 (Q1 strict_parity flag, Q3 per-call-site back-transforms,
Q4 optional catch validator, Q9 effective masking order).

Spark shape (SURVEY §4.3): the rule bundles evaluate in ONE pass over the
fact table, and each validated variable is a single ``when`` expression over
its alert column (no reduce-join recompose). Every bounds relation comes
from the one LocScaleB kernel, ``operators.validation.loc_scale_bounds``,
fitted once from the stage input: the global count bounds (alerts 2+3, one
two-column call) and the per-taxon price bounds. Each fit is a median pass
and a MAD pass, and each pass is one shuffle plus one broadcast through
``operators.validation.bounds_join``: the medians back onto the fit's rows,
then the bounds onto the stage's rows. So the default stage plans 4 shuffle and 4 broadcast
exchanges (2 + 2 more with ``include_catch``), and, with AQE running every
exchange as its own job, ``cli.run_stage("validate")`` runs 9 Spark jobs:
the 8 exchanges and the write (measured on 6000 generated submissions).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from ..functions import expressions as E
from ..operators import joins as join_ops
from ..operators import relational as rel
from ..operators import validation as V

_CATCH_KEYS = ["gear", "catch_taxon", "weight_type"]
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


def _apply_bounds(df: DataFrame, bounds: DataFrame, keys: list[str],
                  rules: list[tuple]) -> DataFrame:
    """Join one bounds relation onto ``df`` and run its rules: each
    ``(alert column, code, condition, masked columns)`` raises ``code`` where
    the condition holds and masks the columns to NULL (§2.11)."""
    out = V.bounds_join(df, bounds, keys)
    for alert, code, cond, masked in rules:
        out = V.mask_where(out.withColumn(alert, F.when(cond, F.lit(code))),
                           masked, alert)
    return out.drop(*[c for c in bounds.columns if c not in keys])


def validate_landings(df: DataFrame, k: dict | None = None,
                      strict_parity: bool = False,
                      include_catch: bool = False) -> DataFrame:
    """The full stage: all rule bundles + fused alert_number.

    - Alert 1: :func:`validate_dates`.
    - Alerts 2 and 3: a negative or upper-outlier crew size or boat count
      (R/validation-functions.R:112-128,147-162); global bounds with the
      expm1 back-transform of alert_outlier, both from one kernel call.
    - Alert 4, catch: catch_kg ≥ its per-(gear, catch_taxon, weight_type)
      upper bound (R/validation-functions.R:220-233). Q4: the reference
      defines this rule but never wires it in, so it runs only with
      ``include_catch=True``.
    - Alert 4, price: price_kg outside its per-taxon bounds
      (R/validation-functions.R:293-316) masks price_kg AND catch_kg AND
      catch_price (Q9 interaction preserved).

    The per-group fits use the exp back-transform (Q3) and exclude taxon
    "0"/"no_catch" rows (P8, R/validation-functions.R:186,255). The
    reference computes imei_alerts here but never persists them (Q5 — they
    are consumed in merge_trips instead); we match that: IMEI alerts are NOT
    part of this output. ``alert_number`` fusion (Q6) is included as a
    column since it costs nothing in the fused plan.
    """
    kk = dict(DEFAULT_K, **(k or {}))
    # Every bounds relation is fitted from the stage input ``df``: no rule
    # drops rows or masks a column that a later rule fits on, so the bounds
    # equal those fitted on the masked frame, while a fit on the masked
    # frame would re-plan every earlier rule's fit inside its own subtree.
    taxa = rel.filter_not_in(df, "catch_taxon", ["0", "no_catch"])
    nf, nb = F.col("n_fishers"), F.col("n_boats")
    catch, price = F.col("catch_kg"), F.col("price_kg")
    out = _apply_bounds(
        validate_dates(df, strict_parity=strict_parity),
        V.loc_scale_bounds(df, {"n_fishers": (kk["k_nfishers"], "expm1"),
                                "n_boats": (kk["k_nboats"], "expm1")}), [],
        [("alert_nfishers", 2, (nf < 0) | (nf > F.col("n_fishers_upper")),
          ["n_fishers"]),
         ("alert_nboats", 3, (nb < 0) | (nb > F.col("n_boats_upper")),
          ["n_boats"])])
    alert_cols = ["alert_date", "alert_nfishers", "alert_nboats"]
    if include_catch:
        out = _apply_bounds(
            out, V.loc_scale_bounds(taxa, {"catch_kg": (kk["k_catch"], "exp")},
                                    _CATCH_KEYS), _CATCH_KEYS,
            [("alert_catch", 4, catch >= F.col("catch_kg_upper"), ["catch_kg"])])
        alert_cols.append("alert_catch")
    out = _apply_bounds(
        out, V.loc_scale_bounds(taxa, {"price_kg": (kk["k_pricekg"], "exp")},
                                ["catch_taxon"]), ["catch_taxon"],
        [("alert_pricekg", 4,
          (price < F.col("price_kg_lower")) | (price > F.col("price_kg_upper")),
          ["price_kg", "catch_kg", "catch_price"])])
    alert_cols.append("alert_pricekg")
    return V.fuse_alerts(out, alert_cols).drop(*alert_cols)
