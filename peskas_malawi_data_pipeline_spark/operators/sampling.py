"""Deterministic sampling operators for training-data pipelines.

Weighted systematic sampling: order rows by a deterministic md5 key
("random" but reproducible — no RNG, identical across runs and engines),
lay their integer weights end-to-end on a number line, and select every row
whose weight interval contains a sampling point ``offset + k·stride``.
Selection probability is proportional to weight, variance is lower than
independent Bernoulli draws, and the arithmetic is all integer — exact in
any engine, so the whole operator is oracle-checkable.

Scale shape: the prefix sum is TWO-LEVEL — per-shard cumulative sums
(shuffle on the shard key) plus a shard-offset table that is tiny
(``n_shards`` rows, single-partition window over it is free) and broadcast
back. No global single-partition window ever touches row-scale data; the
global order is (shard, key, id), deterministic and engine-portable.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from ..core.barrier import materialize
from ..functions import text as TX


def weighted_systematic_sample(df: DataFrame, weight_col: str, n: int,
                               id_col: str = "doc_id",
                               n_shards: int = 8) -> DataFrame:
    """≈``n`` rows sampled with probability proportional to the integer
    ``weight_col`` (systematic/low-variance; rows heavier than the stride
    are always selected). Returns the input columns plus ``sample_key``.
    """
    if n < 1:
        # n=0 would make `__total div 0` NULL, greatest(1, NULL) skip the
        # NULL, and the stride collapse to 1 — silently returning ~the
        # whole table when the caller asked for nothing
        raise ValueError(f"n must be >= 1 (got {n})")
    if n_shards < 1:
        # `% 0` is NULL: every row would land in one NULL shard and the
        # per-shard window would funnel the whole table — the exact cliff
        # this module exists to avoid (shuffle_shards has the same guard)
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    key = TX.md5_prefix_hash(F.col(id_col).cast("string"), seed="samp:")
    base = (df.withColumn("__key", key)
            .withColumn("__shard", (F.col("__key") % n_shards).cast("int")))

    w_local = (Window.partitionBy("__shard").orderBy("__key", id_col)
               .rowsBetween(Window.unboundedPreceding, 0))
    base = base.withColumn("__local_cum", F.sum(weight_col).over(w_local))

    # materialized: the n_shards-row totals feed TWO branches (offsets and
    # the grand total) and sit on top of the full hash+shard pipeline —
    # without the barrier each branch re-scans the table (the same
    # multi-consumer hazard ranking.py documents against exchange reuse)
    totals = materialize(base.groupBy("__shard")
                         .agg(F.sum(weight_col).alias("__shard_w")))
    w_off = (Window.orderBy("__shard")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        "__shard", F.coalesce(F.sum("__shard_w").over(w_off), F.lit(0))
        .alias("__shard_off"))
    grand = totals.agg(F.sum("__shard_w").alias("__total"))

    g = (base.join(F.broadcast(offsets), "__shard")
         .crossJoin(F.broadcast(grand))
         .withColumn("__ci", F.col("__shard_off") + F.col("__local_cum"))
         .withColumn("__ce", F.col("__ci") - F.col(weight_col))
         .withColumn("__stride",
                     F.greatest(F.lit(1), F.expr(f"__total div {n}")))
         .withColumn("__off", F.expr("__stride div 2")))

    # sampling points strictly below x, all-integer (`div`, never `/`)
    npts = ("(CASE WHEN {x} <= __off THEN 0 "
            "ELSE (({x} - __off - 1) div __stride) + 1 END)")
    return (g.filter(F.expr(f"{npts.format(x='__ci')} > "
                            f"{npts.format(x='__ce')}"))
            .select(*df.columns, F.col("__key").alias("sample_key")))


def token_budget_prefix_draw(df: DataFrame, targets: DataFrame,
                             tokens_col: str = "n_tokens",
                             source_col: str = "source",
                             id_col: str = "doc_id",
                             n_shards: int = 8) -> DataFrame:
    """EXECUTE a mixture allocation: per source, take
    ``target div available`` FULL EPOCHS of the source plus a
    deterministic md5-ordered token-PREFIX covering the remainder
    ``target % available`` — the physical draw for
    :func:`mixture_allocation`'s targets. The prefix is systematic on
    the token number line (cut at the remainder), so the drawn token
    total provably lands within ONE DOCUMENT of the target:
    ``0 ≤ drawn − target < tokens(last drawn doc)``, exactly 0 when the
    remainder is 0 — the bound `mixture_draw_stats` pins per source.

    ``targets``: (source, available_tokens, target_tokens) — the
    allocation output; answer-sized, broadcast. Returns one row per
    corpus document: (source, id, tokens, full_epochs, in_fraction) —
    a doc's multiplicity in the mix is ``full_epochs +
    int(in_fraction)``. Docs with NULL token counts never enter the
    fraction (NULL comparison) and add nothing to any sum — identical
    semantics in any engine.

    Scale shape: same TWO-LEVEL prefix sum as
    :func:`weighted_systematic_sample`, partitioned by (source, shard):
    per-shard cumulative sums shuffle once on the compound key, the
    (n_sources·n_shards)-row offset table broadcasts back, and no
    row-scale data ever crosses a single-partition window. The global
    order within a source is (shard, key, id) — deterministic and
    engine-portable."""
    if n_shards < 1:
        raise ValueError(f"n_shards must be >= 1 (got {n_shards})")
    key = TX.md5_prefix_hash(F.col(id_col).cast("string"), seed="mixdraw:")
    base = (df.withColumn("__key", key)
            .withColumn("__shard", (F.col("__key") % n_shards).cast("int")))
    w_local = (Window.partitionBy(source_col, "__shard")
               .orderBy("__key", id_col)
               .rowsBetween(Window.unboundedPreceding, 0))
    base = base.withColumn("__local_cum", F.sum(tokens_col).over(w_local))
    totals = materialize(base.groupBy(source_col, "__shard")
                         .agg(F.sum(tokens_col).alias("__shard_w")))
    w_off = (Window.partitionBy(source_col).orderBy("__shard")
             .rowsBetween(Window.unboundedPreceding, -1))
    offsets = totals.select(
        source_col, "__shard",
        F.coalesce(F.sum("__shard_w").over(w_off), F.lit(0))
        .alias("__shard_off"))
    tgt = targets.select(
        F.col(source_col), F.col("available_tokens"),
        F.col("target_tokens"),
        F.when(F.col("available_tokens") > 0,
               F.expr("target_tokens div available_tokens"))
        .otherwise(F.lit(0)).cast("long").alias("full_epochs"),
        F.when(F.col("available_tokens") > 0,
               F.expr("target_tokens % available_tokens"))
        .otherwise(F.lit(0)).cast("long").alias("__rem"))
    g = (base.join(F.broadcast(offsets), [source_col, "__shard"])
         .join(F.broadcast(tgt), source_col)
         .withColumn("__ci", F.col("__shard_off") + F.col("__local_cum"))
         .withColumn("__ce", F.col("__ci") - F.col(tokens_col)))
    return g.select(
        source_col, id_col, F.col(tokens_col),
        "full_epochs",
        (F.col("__ce") < F.col("__rem")).alias("in_fraction"),
        F.col("__key").alias("sample_key"))


def expand_epochs(draw: DataFrame, id_col: str = "doc_id",
                  source_col: str = "source",
                  tokens_col: str = "n_tokens") -> DataFrame:
    """Materialize the MULTIPLICITY of a :func:`token_budget_prefix_draw`
    result: one output row per (document, epoch) — ``full_epochs``
    copies of every source doc plus one more for fraction members — with
    a 1-based ``epoch_idx`` so downstream shuffling/packing can key on
    (doc, epoch) and two copies of a doc never collapse. This is the
    physical form of "oversample_ppm > 10⁶": storage-frugal pipelines
    keep the multiplicity as a column (the draw's contract) and let the
    loader repeat; pipelines that SHUFFLE the mix globally (epoch
    boundaries deliberately destroyed) expand first — this operator is
    that step. Docs with multiplicity 0 (unselected, target-0 source)
    drop out. Pure map: one ``explode(sequence(...))`` per row, no
    shuffle; output size IS the mixture size, the floor for any
    materialization.

    NULL-token docs: the draw emits ``in_fraction = NULL`` for a doc
    whose token count is NULL (it never enters the prefix cut), but its
    ``full_epochs`` is a per-SOURCE value and still applies — the
    contract is "full_epochs copies of EVERY source doc", so the NULL
    fraction coalesces to 0 rather than poisoning the sum (a NULL
    ``__reps`` would silently drop the doc from ALL epochs)."""
    reps = (F.col("full_epochs")
            + F.coalesce(F.col("in_fraction").cast("long"),
                         F.lit(0))).cast("long")
    return (draw.withColumn("__reps", reps)
            .filter(F.col("__reps") > 0)
            .select(source_col, id_col, tokens_col,
                    F.explode(F.sequence(F.lit(1).cast("long"),
                                         F.col("__reps")))
                    .alias("epoch_idx")))


def mixture_allocation(df: DataFrame, weights: dict[str, int],
                       total_budget: int, source_col: str = "source",
                       tokens_col: str = "n_tokens") -> DataFrame:
    """Training-mixture token allocation: apportion a ``total_budget``
    of training tokens across sources proportionally to integer
    ``weights`` using LARGEST-REMAINDER apportionment (Hamilton's
    method) — the deterministic, exactly-integral way to turn "web 50%,
    news 30%, code 20%" into per-source token targets that sum EXACTLY
    to the budget (naive rounding under- or over-shoots). Per source:

    - ``available_tokens``: what the corpus has (Σ ``tokens_col``);
    - ``target_tokens``: floor quota ``budget·w div W`` plus one of the
      ``budget − Σ quotas`` leftover tokens, awarded by largest
      remainder (ties → source name ASC — fully deterministic);
    - ``oversample_ppm``: ``target·10⁶ div available`` — above 10⁶
      means the source must repeat (epochs > 1), the signal a mixture
      designer actually tunes against (weights a source can't supply
      are the classic silent mixture bug).

    Sources present in the corpus but absent from ``weights`` get
    weight 0 (target 0, never sampled); weights naming absent sources
    are an error (a silent zero row would hide a config typo). All
    arithmetic is exact integers. Plan: ONE per-source aggregation
    (map-side partials absorb the corpus); everything after runs on the
    n_sources-row frame — window + projection on an answer-sized frame.
    Feed the targets to :func:`weighted_systematic_sample` per source
    for the physical draw."""
    avail = materialize(
        df.groupBy(F.col(source_col).alias("source"))
        .agg(F.sum(tokens_col).cast("long").alias("available_tokens")))
    if total_budget < 0:
        raise ValueError(f"total_budget must be >= 0 (got {total_budget})")
    if any(w < 0 for w in weights.values()):
        raise ValueError("weights must be non-negative")
    w_total = sum(weights.values())
    if w_total == 0:
        raise ValueError("at least one weight must be positive")
    present = {r["source"] for r in avail.select("source").collect()}
    missing = sorted(set(weights) - present)
    if missing:
        raise ValueError(f"weights name absent sources: {missing}")
    wmap = F.create_map(*[F.lit(x) for kv in weights.items() for x in kv]) \
        if weights else F.create_map()
    base = avail.select(
        "source", "available_tokens",
        F.coalesce(wmap[F.col("source")], F.lit(0)).cast("long")
        .alias("__w"))
    quota = F.expr(f"{total_budget} * __w div {w_total}")
    rem = F.expr(f"({total_budget} * __w) % {w_total}")
    scored = base.select("source", "available_tokens",
                         quota.alias("__quota"), rem.alias("__rem"))
    # leftover = budget − Σ quotas < n_sources: award by largest
    # remainder. The window runs over the answer-sized source frame.
    w_rank = Window.orderBy(F.desc("__rem"), "source")
    w_all = Window.rowsBetween(Window.unboundedPreceding,
                               Window.unboundedFollowing)
    ranked = scored.select(
        "source", "available_tokens", "__quota",
        F.row_number().over(w_rank).alias("__rk"),
        (F.lit(total_budget) - F.sum("__quota").over(w_all))
        .alias("__leftover"))
    target = (F.col("__quota")
              + F.when(F.col("__rk") <= F.col("__leftover"), 1)
              .otherwise(0)).cast("long")
    out = ranked.select("source", "available_tokens",
                        target.alias("target_tokens"))
    return out.select(
        "source", "available_tokens", "target_tokens",
        F.when(F.col("available_tokens") > 0,
               F.expr("target_tokens * 1000000 div available_tokens"))
        .otherwise(F.lit(None).cast("long")).alias("oversample_ppm"))
