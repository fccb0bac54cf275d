"""Scalar expression operators (SURVEY §2.5, E1–E16).

All are pure Column expressions — JVM-side, whole-stage-codegen friendly, no
Python UDFs. Each helper cites the reference behavior it reproduces.
"""

from __future__ import annotations

from typing import Mapping, Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

# Africa/Blantyre is CAT (UTC+2, no DST) — the zone used for all civil-date
# logic in the reference trip merge (R/merge_trips.R:69,86,94,110-113).
BLANTYRE_TZ = "Africa/Blantyre"


def coalesce_cols(df: DataFrame, *names: str) -> Column:
    """E1 — first non-null across the named columns that exist in ``df``.

    The reference coalesces form-variant columns (`R/preprocessing.R:62-90`);
    different Kobo form versions mean a given variant column may be absent
    entirely, so absent names are skipped (R's `coalesce` sees NA columns
    instead, same result).
    """
    present = [F.col(f"`{n}`") for n in names if n in df.columns]
    if not present:
        return F.lit(None)
    if len(present) == 1:
        return present[0]
    return F.coalesce(*present)


def coalesce_by_suffix(df: DataFrame, suffix: str) -> Column:
    """E2 — coalesce across every column whose name ends with ``suffix``.

    Reference: ``coalesce(!!!select(., ends_with("n_hrs")))`` over the five
    gear-effort suffix groups (`R/preprocessing.R:265-271`).
    """
    cols = [F.col(f"`{c}`") for c in df.columns if c.endswith(suffix)]
    if not cols:
        return F.lit(None)
    if len(cols) == 1:
        return cols[0]
    return F.coalesce(*cols)


def case_when(branches: Sequence[tuple[Column, Column | str | float]],
              otherwise: Column | str | float | None = None) -> Column:
    """E3 — multi-branch conditional (reference `case_when`,
    `R/preprocessing.R:99-249,360-387`). First matching branch wins.
    """
    expr: Column | None = None
    for cond, val in branches:
        val = F.lit(val) if not isinstance(val, Column) else val
        expr = F.when(cond, val) if expr is None else expr.when(cond, val)
    if expr is None:
        return F.lit(otherwise)
    if otherwise is not None:
        otherwise = F.lit(otherwise) if not isinstance(otherwise, Column) else otherwise
        expr = expr.otherwise(otherwise)
    return expr


def recode(col: Column, mapping: Mapping[str, str],
           default: Column | str | None = None) -> Column:
    """E3 — value recode via chained ``when`` (vessel_type / gear / transport
    recodes, `R/preprocessing.R:360-387`). ``default=None`` keeps the input.
    """
    expr = None
    for k, v in mapping.items():
        expr = F.when(col == k, v) if expr is None else expr.when(col == k, v)
    if expr is None:
        return col
    return expr.otherwise(col if default is None else F.lit(default) if not isinstance(default, Column) else default)


def price_per_kg(catch_price: Column, catch_kg: Column, price_type: Column) -> Column:
    """E4 — ``ifelse(catch_price_type == "total", catch_price / catch_kg,
    catch_price)`` (`R/preprocessing.R:308`). Division by zero/NULL yields
    NULL, matching R's NA propagation (R gives Inf for /0; the engine masks
    to NULL — Inf never reaches storage in the reference because catch_kg==0
    rows carry NA prices). A NULL ``price_type`` yields NULL — R's
    ``ifelse(NA, yes, no)`` is NA; an ``otherwise(catch_price)`` would
    silently treat an untyped total price as per-kg and poison the
    LocScaleB price fit downstream.
    """
    return (F.when(price_type.isNull(), F.lit(None).cast("double"))
            .when(price_type == "total",
                  F.when(catch_kg != 0, catch_price / catch_kg))
            .otherwise(catch_price))


def make_survey_id(submission_id: Column, vessel_number: Column,
                   catch_number: Column) -> Column:
    """E5 — row key ``paste(submission_id, vessel_number, catch_number,
    sep="-")`` (`R/preprocessing.R:49`). concat_ws SKIPS NULL components,
    so placeholder rows from ``posexplode_outer`` (a submission with no
    vessels, a vessel with no catches — their index columns are
    deliberately NULL, structural.explode_indexed) get SHORT ids
    ("123", "123-1") rather than R's "123-NA-NA" rendering. The short
    forms cannot collide with real ids (a real id always has 3 numeric
    components) and mark placeholders recognizably; divergence from the
    R string is deliberate and documented.
    """
    return F.concat_ws("-", submission_id.cast("string"),
                       vessel_number.cast("string"), catch_number.cast("string"))


def split_gps(col: Column) -> dict[str, Column]:
    """E6 — Kobo geopoint "lat lon alt accuracy" → lat/lon doubles
    (`R/preprocessing.R:276-279`). Fewer than 4 tokens NULL-pads (Q7 —
    ``getItem`` on a missing index is NULL, matching tidyr's NA fill).
    """
    parts = F.split(col, " ")
    # F.get (not getItem): out-of-bounds yields NULL under ANSI mode,
    # matching tidyr::separate's NA fill.
    return {
        "lat": F.get(parts, 0).try_cast("double"),
        "lon": F.get(parts, 1).try_cast("double"),
    }


def clean_text(col: Column) -> Column:
    """E8 — ``tolower`` + ``trimws`` normalization (`R/preprocessing.R:388-397`)."""
    return F.lower(F.trim(col))


def normalize_imei(col: Column) -> Column:
    """E10 — IMEI sign fix: negative values become positive
    (``imei * -1`` when negative, `R/validation-functions.R:355-356`),
    then rendered as a digit string with no decimal point.
    """
    return F.when(col.isNotNull(),
                  F.abs(col.cast("decimal(20,0)")).cast("string"))


def to_timestamp_flex(col: Column) -> Column:
    """E11 — lenient datetime parse à la ``lubridate::as_datetime``
    (`R/preprocessing.R:289-290`): ISO dates or datetimes, else NULL
    (try_to_timestamp — ANSI mode must not abort the pipeline on one bad
    survey answer, matching R's NA-with-warning).
    """
    return F.try_to_timestamp(col)


def to_double_flex(col: Column) -> Column:
    """E11 — ``as.numeric`` parity (`R/preprocessing.R:291-307`): malformed
    numeric strings become NULL, never an ANSI cast error."""
    return col.try_cast("double")


def local_date(ts: Column, tz: str = BLANTYRE_TZ) -> Column:
    """E12 — civil date of a UTC instant in ``tz``
    (``as_date(ts, tz="Africa/Blantyre")``, `R/merge_trips.R:69,86,94`).
    """
    return F.to_date(F.from_utc_timestamp(ts, tz))


def floor_time(ts: Column, minutes: int = 10) -> Column:
    """E13 — ``floor_date(Time, "10 minutes")`` (`R/export.R:165`):
    bucket a timestamp to fixed-width windows. Implemented arithmetically so
    it stays in codegen (no window-struct materialization).
    """
    secs = minutes * 60
    return F.timestamp_seconds(
        (F.floor(F.unix_timestamp(ts) / secs) * secs).cast("long"))

