"""Aggregation and window operators (SURVEY §2.7, §2.8).

All map onto Spark's partial-aggregation machinery (map-side combine before
the shuffle) or window functions; nothing here is a UDF.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def group_count_flag(df: DataFrame, keys: Sequence[str],
                     flag_name: str = "unique_per_group") -> DataFrame:
    """A1/W2 — attach ``count(*) over (partition by keys) == 1`` to every row
    (`group_by(...) %>% mutate(n() == 1)`, `R/merge_trips.R:87-88,95-97`).
    One shuffle on the keys; no row reduction.
    """
    w = Window.partitionBy(*keys)
    return df.withColumn(flag_name, F.count(F.lit(1)).over(w) == 1)


def grouped_mean_as_column(df: DataFrame, keys: Sequence[str], value: str,
                           out: str) -> DataFrame:
    """A7 — group mean attached to every row
    (`group_by(fish_species) %>% mutate(mean_price = mean(...))`,
    `inst/reports/malawi-report.qmd:155-156`).
    """
    return df.withColumn(out, F.avg(value).over(Window.partitionBy(*keys)))


def top_k_per_group(df: DataFrame, keys: Sequence[str], order_by: Sequence[Column],
                    k: int, rank_col: str = "rn", keep_rank: bool = False) -> DataFrame:
    """W1 — per-group top-k (`arrange(.by_group) %>% slice_head(n=10)`,
    `inst/reports/malawi-report.qmd:102-112`).

    ``row_number`` over a partitioned window — Spark plans this as a
    partial top-k (WindowGroupLimit pushes k into the sort) so each shuffle
    partition only keeps k rows; at 100 TB this is the only sane shape.
    Callers must make ``order_by`` a total order (tie-break on a key) for
    deterministic output.
    """
    w = Window.partitionBy(*keys).orderBy(*order_by)
    out = df.withColumn(rank_col, F.row_number().over(w)).filter(F.col(rank_col) <= k)
    return out if keep_rank else out.drop(rank_col)


def count_sorted(df: DataFrame, keys: Sequence[str], count_name: str = "n") -> DataFrame:
    """A5/W3 — count per group, descending (`count %>% arrange(-n)`,
    `inst/reports/malawi-report.qmd:56-63`)."""
    return (df.groupBy(*keys).agg(F.count(F.lit(1)).alias(count_name))
            .orderBy(F.desc(count_name), *keys))


def time_bucket_agg(df: DataFrame, ts_col: str, minutes: int,
                    keys: Sequence[str], exprs: Sequence[Column],
                    bucket_name: str = "time_bucket") -> DataFrame:
    """A2+E13 — fixed-window event-time aggregation (10-minute GPS track
    rollup, `R/export.R:160-173`): floor the timestamp, group on
    (bucket, keys).
    """
    from ..functions.expressions import floor_time

    bucketed = df.withColumn(bucket_name, floor_time(F.col(ts_col), minutes))
    return bucketed.groupBy(bucket_name, *keys).agg(*exprs)


def salted_two_stage_agg(df: DataFrame, keys: Sequence[str], value: Column,
                         salt_source: Sequence[str],
                         salt_buckets: int = 16) -> DataFrame:
    """Skew-busting aggregation: sum/count of ``value`` per ``keys`` computed
    as partial aggregates over (keys, salt) first, then a final merge over
    ``keys`` alone.

    With an extreme hot key, a single-stage groupBy sends every hot row to
    one reducer; the salted partial stage spreads them over
    ``salt_buckets`` tasks, and the final stage merges ``salt_buckets``
    rows per key — the explicit analogue of map-side combine for the case
    where a combiner can't absorb the skew (e.g. high-cardinality
    composite values). Salt is a deterministic hash (no RNG): retries and
    oracle replays are stable. Result is identical to the unsalted
    aggregate (SCALE.md §4).
    """
    salt = F.pmod(F.xxhash64(*[F.col(c) for c in salt_source]),
                  F.lit(salt_buckets)).cast("int")
    partial = (df.withColumn("__salt", salt)
               .groupBy(*list(keys), "__salt")
               .agg(F.sum(value).alias("__psum"),
                    F.count(F.lit(1)).alias("__pcnt")))
    return (partial.groupBy(*list(keys))
            .agg(F.sum("__psum").alias("value_sum"),
                 F.sum("__pcnt").alias("n")))


def grouped_percentile_cont(df: DataFrame, keys: Sequence[str],
                            value_col: str,
                            ps: dict[str, float]) -> DataFrame:
    """EXACT interpolated percentiles per group — bit-identical to Spark's
    ``percentile(value, p)`` aggregate — without its scale cliff.

    ``ps`` maps output column name -> percentile in [0, 1]; the result has
    one row per group with ``keys`` + one double column per entry.

    Why not ``percentile()``: Spark's exact percentile buffers every value
    of a group inside ONE reducer's aggregation buffer (an in-memory
    value->count map that cannot spill) — O(|group|) memory in one task,
    which on a billion-document source is a multi-GB buffer and an OOM.
    This operator is the two-pass rank-based form:

    1. compress to (keys, value) DISTINCT-value counts — one shuffle with
       map-side partial aggregation; state per task is O(distinct values
       seen), and the frame that continues is |distinct values| rows, not
       |rows|;
    2. a per-group cumulative-count window over the compressed frame gives
       each distinct value its 0-based rank interval [cum−cnt, cum);
       WindowExec buffers are spillable, and they hold distinct values
       only;
    3. each requested p needs the values at sorted positions
       ⌊p·(n−1)⌋ and ⌈p·(n−1)⌉ — exactly one compressed row covers each —
       picked out by a conditional aggregate, then interpolated with the
       SAME floating-point expression Spark's ``Percentile.getPercentile``
       uses (``lo·(hi_idx−pos) + hi·(pos−lo_idx)``), so results are
       IEEE-identical to the built-in, ulp for ulp.

    The step-2/3 shuffle on ``keys`` reuses its partitioning for the final
    group reduce (EnsureRequirements sees hash(keys) twice), so the whole
    operator costs two shuffles of the COMPRESSED frame. NULL values are
    ignored (like ``percentile()``), and — also like the built-in — a
    group whose values are ALL NULL still gets its output row, with NULL
    percentiles (VERDICT r5 #3): NULL-value rows stay IN the compressed
    frame (one row per group, sorted first) so the group reaches the
    final reduce, while the conditional cumulative/total sums and the
    NULL-guarded position picks exclude them from every percentile
    computation — zero extra scans or joins versus the drop-the-group
    contract, and downstream joins never silently lose groups.
    """
    for name, p in ps.items():
        if not 0.0 <= p <= 1.0:
            raise ValueError(f"percentile {name}={p} outside [0, 1]")
    keys = list(keys)
    counts = (df.groupBy(*keys, value_col)
              .agg(F.count(F.lit(1)).alias("__cnt")))
    w_cum = (Window.partitionBy(*keys).orderBy(F.asc_nulls_first(value_col))
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = (Window.partitionBy(*keys)
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    # only non-NULL values count toward ranks and totals; the NULL row
    # (sorted first) contributes 0 to both, so it shifts nothing
    nn_cnt = F.when(F.col(value_col).isNotNull(), F.col("__cnt")) \
        .otherwise(F.lit(0))
    cur = (counts
           .withColumn("__cum", F.sum(nn_cnt).over(w_cum))
           .withColumn("__n", F.sum(nn_cnt).over(w_all)))
    v = F.col(value_col).cast("double")
    not_null = F.col(value_col).isNotNull()
    start = F.col("__cum") - F.col("__cnt")        # 0-based interval start
    aggs, outs = [F.max("__n").alias("__n")], []
    for i, (name, p) in enumerate(ps.items()):
        pos = F.lit(float(p)) * (F.col("__n") - F.lit(1))
        lo_i, hi_i = F.floor(pos), F.ceil(pos)
        aggs.append(F.max(F.when(not_null & (start <= lo_i)
                                 & (lo_i < F.col("__cum")),
                                 v)).alias(f"__lo{i}"))
        aggs.append(F.max(F.when(not_null & (start <= hi_i)
                                 & (hi_i < F.col("__cum")),
                                 v)).alias(f"__hi{i}"))
    res = cur.groupBy(*keys).agg(*aggs)
    for i, (name, p) in enumerate(ps.items()):
        pos = F.lit(float(p)) * (F.col("__n") - F.lit(1))
        lo_i, hi_i = F.floor(pos), F.ceil(pos)
        lo, hi = F.col(f"__lo{i}"), F.col(f"__hi{i}")
        # Percentile.getPercentile's exact expression shape and order
        outs.append(F.when(lo_i == hi_i, lo)
                    .otherwise(lo * (hi_i.cast("double") - pos)
                               + hi * (pos - lo_i.cast("double")))
                    .alias(name))
    return res.select(*keys, *outs)

