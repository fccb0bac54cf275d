"""Distributed global ranking (W3-adjacent; SURVEY §4.3 scale rewrites).

A totally-ordered window (``Window.orderBy(...)`` with no partitionBy)
funnels EVERY row through one task — the classic 100 TB cliff behind
``row_number``/``ntile``/``percent_rank`` over a whole table. The scalable
form is the two-pass range-partition shape:

1. ``repartitionByRange`` on the order key — Spark's RangePartitioner
   splits the key space into ``buckets`` contiguous ranges (sampled
   bounds), so partition ids ascend with the key;
2. per-partition local ``row_number`` (parallel across buckets);
3. bucket row-counts (|buckets| rows) prefix-summed into offsets and
   broadcast back: ``global rank = bucket offset + local rank``.

Only the |buckets|-row offset frame is ever globally ordered; the fact
table is never funneled. AQE may coalesce adjacent range partitions, which
preserves range order and therefore correctness.
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..core.barrier import materialize


def _ranked_with_counts(df: DataFrame, order_by: list[str | Column],
                        out_col: str, buckets: int | None):
    """Shared two-pass rank core: returns ``(ranked, counts)`` where
    ``counts`` is the materialized |buckets|-row per-bucket count frame —
    consumers needing the grand total (global_ntile) sum THAT instead of
    re-scanning the ranked table."""
    buckets = buckets or df.sparkSession.sparkContext.defaultParallelism
    # materialized barrier: `part` feeds TWO plan branches (the per-bucket
    # counts and the ranked join). Without it the range exchange can run
    # twice, and repartitionByRange's SAMPLED bounds are not deterministic
    # when the input itself comes from a shuffle — the two executions could
    # disagree on bucket membership, duplicating/skipping global ranks.
    # Exchange reuse usually saves this plan, but correctness must not
    # hinge on an optimizer rule that AQE or a conf flag can disable.
    part = materialize(df.repartitionByRange(buckets, *order_by)
                       .withColumn("__pid", F.spark_partition_id()))
    # |buckets| rows, materialized: offsets AND any total derived from it
    # read the tiny cached frame, never the table again
    counts = materialize(part.groupBy("__pid")
                         .agg(F.count(F.lit(1)).alias("__c")))
    # |buckets| rows: the only globally-ordered window in the plan. Spark
    # logs "WindowExec: No Partition Defined ... moving all data to a
    # single partition" here — EXPECTED and harmless: the frame is the
    # |buckets|-row per-bucket count table (≤ defaultParallelism rows),
    # bounded by construction, not the data. Don't chase the warning.
    w_off = (Window.orderBy("__pid")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = counts.select(
        "__pid",
        F.coalesce(F.sum("__c").over(w_off), F.lit(0)).alias("__off"))
    w_loc = Window.partitionBy("__pid").orderBy(*order_by)
    ranked = (part.withColumn("__lr", F.row_number().over(w_loc))
              .join(F.broadcast(offsets), "__pid")
              .withColumn(out_col, F.col("__off") + F.col("__lr"))
              .drop("__pid", "__c", "__off", "__lr"))
    return ranked, counts


def global_row_number(df: DataFrame, order_by: list[str | Column],
                      out_col: str = "rn",
                      buckets: int | None = None) -> DataFrame:
    """Global 1-based ``row_number`` by ``order_by`` without a global
    window. ``order_by`` must be a total order (add a unique tie-break) —
    with ties the assignment within a tie-group would be partitioner-
    dependent, same as plain ``row_number``."""
    return _ranked_with_counts(df, order_by, out_col, buckets)[0]


def global_ntile(df: DataFrame, order_by: list[str | Column], n_tiles: int,
                 out_col: str = "tile",
                 buckets: int | None = None) -> DataFrame:
    """Global ``ntile(n_tiles)`` by ``order_by`` without a global window.

    Reproduces ANSI ntile exactly: with ``n`` rows, the first ``n %
    n_tiles`` tiles hold ``n div n_tiles + 1`` rows, the rest ``n div
    n_tiles`` — computed arithmetically from the two-pass global rank, so
    the result is bit-identical to ``F.ntile`` over a total order."""
    if n_tiles < 1:
        # `% 0` / `div 0` are NULL without ANSI: every tile would silently
        # come out NULL instead of erroring (shuffle_shards has the same
        # guard on its analogous parameter)
        raise ValueError(f"n_tiles must be >= 1 (got {n_tiles})")
    ranked, counts = _ranked_with_counts(df, order_by, "__grank", buckets)
    # grand total from the |buckets|-row count frame — never a second pass
    # over the ranked table
    total = counts.agg(F.sum("__c").cast("long").alias("__n"))
    # all-integer arithmetic (`div`/`%`); when n < n_tiles every rank lands
    # in the first branch (rem = n, size 1), so the ELSE's div-by-q is
    # unreachable there
    tile = F.expr(
        f"CASE WHEN __grank <= (__n % {n_tiles}) * ((__n div {n_tiles}) + 1) "
        f"THEN ((__grank - 1) div ((__n div {n_tiles}) + 1)) + 1 "
        f"ELSE (__n % {n_tiles}) + ((__grank - 1 - (__n % {n_tiles}) * "
        f"((__n div {n_tiles}) + 1)) div (__n div {n_tiles})) + 1 END")
    return (ranked.crossJoin(F.broadcast(total))
            .withColumn(out_col, tile.cast("long"))
            .drop("__grank", "__n"))


def shuffle_shards(df: DataFrame, id_col: str = "doc_id",
                   n_shards: int = 16, seed: str = "shuf:") -> DataFrame:
    """Deterministic global corpus shuffle into equal training shards —
    the pretraining-prep step that breaks source/time locality before
    documents are batched. Adds ``shard`` (0..n_shards-1) and ``pos`` (0-based
    position within the shard).

    Order is the md5 hash of the id (tie-broken by id — a total order), so
    the permutation is a pure function of ids: stable across runs,
    partitionings, and engines, no RNG state to coordinate. The global
    rank comes from :func:`global_row_number` (two-pass range partition —
    no global window funnel), and shards are assigned round-robin by rank,
    which makes every shard an evenly-sized (±1) hash-stratified sample of
    the corpus rather than a contiguous hash range.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    from ..functions.text import md5_prefix_hash

    h = md5_prefix_hash(F.col(id_col).cast("string"), seed)
    ranked = global_row_number(df.withColumn("__h", h), ["__h", id_col],
                               out_col="__g")
    return (ranked
            .withColumn("shard", ((F.col("__g") - 1) % n_shards).cast("int"))
            .withColumn("pos",
                        F.expr(f"CAST((__g - 1) div {n_shards} AS BIGINT)"))
            .drop("__h", "__g"))
