"""Sequence packing for training-data pipelines: assign documents to
fixed-token-budget context windows ("bins").

Two strategies, matching the two packing schemes used in LLM pre-training:

- ``pack_concat_chunks`` — concat-and-chunk: documents are laid out
  back-to-back in a deterministic order and the stream is cut every
  ``target`` tokens (documents may straddle a cut). Pure window arithmetic:
  an exclusive running token sum per shard, ``bin = floor(prefix / target)``.
  One shuffle (the per-shard sort), no Python.

- ``pack_greedy_sequential`` — greedy boundary-respecting packing: walk the
  shard in order, start a new bin whenever the next document would overflow
  the budget (documents never straddle bins; an oversized document gets a
  bin of its own). The per-document recurrence (bin/fill depend on every
  prior document) is not expressible as a window function, so it runs as an
  Arrow-batched ``applyInPandas`` per shard — the canonical Spark shape for
  sequential state that is parallel ACROSS groups.

Both shard by an md5-based hash of the document id, so packing is
embarrassingly parallel and deterministic: at 100 TB each shard is an
independent unit sized by ``n_shards`` (set it ≈ executor-cores × a few),
and re-runs produce identical bins for identical inputs — no RNG, no
dependence on partition layout.
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F
from pyspark.sql import types as T

from ..functions import text as TX


def _with_shard(df: DataFrame, id_col: str, n_shards: int) -> DataFrame:
    shard = (TX.md5_prefix_hash(F.col(id_col).cast("string"), seed="shard:")
             % F.lit(n_shards)).cast("int")
    return df.withColumn("shard", shard)


def pack_concat_chunks(df: DataFrame, token_col: str, id_col: str = "doc_id",
                       target: int = 2048, n_shards: int = 8) -> DataFrame:
    """Concat-and-chunk packing: returns one row per document with its
    ``shard``, ``bin_id``, and ``bin_offset`` (token position of the
    document's first token within its bin). Documents straddling a cut
    belong to the bin their first token falls in.
    """
    sharded = _with_shard(df.select(id_col, token_col), id_col, n_shards)
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, -1))
    prefix = F.coalesce(F.sum(token_col).over(w), F.lit(0))
    return (sharded
            .withColumn("bin_id", F.floor(prefix / target))
            .withColumn("bin_offset", (prefix % target).cast("long"))
            .select(id_col, F.col(token_col).cast("long").alias("n_tokens"),
                    "shard", "bin_id", "bin_offset"))


def pack_greedy_sequential(df: DataFrame, token_col: str,
                           id_col: str = "doc_id", target: int = 2048,
                           n_shards: int = 8,
                           order: str = "id") -> DataFrame:
    """Greedy boundary-respecting packing (documents never split): per
    shard, walk the documents in order, append to the current bin unless
    the document would overflow ``target`` — then open a new bin. An
    oversized document (> target tokens) occupies a bin alone. Returns
    one row per document: (id, n_tokens, shard, bin_id).

    ``order``: ``"id"`` (default — arrival/id order, the streaming-
    friendly policy) or ``"tokens_desc"`` (big documents walked first;
    needs the shard's length distribution up front, so batch-only).
    NOTE the classic first-fit-DECREASING win does NOT transfer to this
    SINGLE-open-bin sequential greedy: with one open bin, descending
    order strands each bin's tail capacity that only later small docs
    could have filled — measured WORSE on the harness corpus (152694 vs
    129681 ppm waste at sf0.1; `pack_policy_waste` pins both numbers).
    The FFD advantage requires keeping multiple bins open (a different,
    memory-heavier packer); this knob exists so that trade is measured,
    not assumed. Ties → lowest id; both orders are deterministic
    functions of (ids, token counts)."""
    if order not in ("id", "tokens_desc"):
        raise ValueError(f"order must be 'id' or 'tokens_desc' ({order!r})")
    # the id column keeps ITS OWN type (uuid-string ids are exactly what
    # the md5-on-string sharding exists for; hardcoding long here would
    # crash the Arrow conversion for them while pack_concat_chunks accepts
    # the same input fine)
    schema = T.StructType([
        T.StructField(id_col, df.schema[id_col].dataType),
        T.StructField("n_tokens", T.LongType()),
        T.StructField("shard", T.IntegerType()),
        T.StructField("bin_id", T.LongType()),
    ])

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        if order == "tokens_desc":
            pdf = pdf.sort_values([token_col, id_col],
                                  ascending=[False, True],
                                  kind="mergesort").reset_index(drop=True)
        else:
            pdf = pdf.sort_values(id_col,
                                  kind="mergesort").reset_index(drop=True)
        bins, bin_id, fill = [], 0, 0
        first = True
        for tok in pdf[token_col].astype("int64"):
            if not first and fill + tok > target:
                bin_id, fill = bin_id + 1, 0
            bins.append(bin_id)
            fill += tok
            first = False
        return pd.DataFrame({
            id_col: pdf[id_col],
            "n_tokens": pdf[token_col].astype("int64"),
            "shard": pdf["shard"].astype("int32"),
            "bin_id": pd.Series(bins, dtype="int64"),
        })

    sharded = _with_shard(df.select(id_col, token_col), id_col, n_shards)
    return sharded.groupBy("shard").applyInPandas(pack, schema)


def bin_utilization(packed: DataFrame, target: int = 2048) -> DataFrame:
    """Per-bin fill statistics for a boundary-respecting packing: token sum,
    document count, and utilization in exact integer micro-units
    (engine-portable — no float division at compare time)."""
    return (packed.groupBy("shard", "bin_id")
            .agg(F.count(F.lit(1)).alias("n_docs"),
                 F.sum("n_tokens").alias("tokens"))
            .withColumn("util_micro",
                        F.expr(f"(tokens * 1000000) div {target}")))
