"""Similarity search over embedding columns (array<float>).

Brute-force cosine top-k as the exact baseline, and an LSH-bucketed variant
as the 100 TB scale path. Dot products use higher-order functions
(``zip_with`` + ``aggregate``) — evaluated in the JVM, no Python UDF; at very
high dimensionality a vectorized Pandas UDF over Arrow batches is the
alternative (numpy matmul per batch), kept in ``cosine_topk_pandas`` for
comparison and as the documented fast path when dims ≫ 10³.
"""

from __future__ import annotations

from typing import Iterable, Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from ..functions.expressions import long_array_lit, long_matrix_lit


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (JVM-evaluated)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int,
                     query_id: str = "query_id", corpus_id: str = "corpus_id",
                     vec_col: str = "embedding",
                     round_digits: int | None = 6,
                     anti_match_col: str | None = None) -> DataFrame:
    """Exact top-k cosine neighbors of each query vector over the corpus.

    Plan shape: broadcast the (small) query set against the corpus — the
    corpus is never shuffled; per-corpus-partition partial top-k via
    row_number window on (query, −similarity). For large query sets,
    block-partition the queries and union. ``round_digits`` + corpus-id
    tie-break makes the selection deterministic across summation orders.

    ``anti_match_col``: when set (a column present in BOTH frames), only
    pairs whose values DIFFER are considered — the hard-negative mining
    restriction (nearest neighbors with a different class/label/source).
    Rows with a NULL value never match an inequality and are excluded,
    same as in any SQL engine.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    extra_q = [F.col(anti_match_col).alias("__qm")] if anti_match_col else []
    extra_c = [F.col(anti_match_col).alias("__cm")] if anti_match_col else []
    q = queries.select(F.col(query_id), vd.alias("__qv"),
                       l2_norm(vd).alias("__qn"), *extra_q)
    c = corpus.select(F.col(corpus_id), vd.alias("__cv"),
                      l2_norm(vd).alias("__cn"), *extra_c)
    cond = F.col(query_id) != F.col(corpus_id)
    if anti_match_col:
        cond = cond & (F.col("__qm") != F.col("__cm"))
    scored = c.join(F.broadcast(q), cond)
    denom = F.col("__qn") * F.col("__cn")
    sim = F.when(denom > 0, dot(F.col("__qv"), F.col("__cv")) / denom)
    if round_digits is not None:
        sim = F.round(sim, round_digits)
    scored = scored.select(query_id, corpus_id, sim.alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def hyperplane_lsh_buckets(df: DataFrame, vec_col: str = "embedding",
                           planes: Sequence[Sequence[float]] | None = None,
                           n_axis_planes: int = 8,
                           bucket_name: str = "bucket") -> DataFrame:
    """Sign-LSH bucket id per vector: bit i = (vec · planeᵢ > 0).

    ``planes=None`` uses the first ``n_axis_planes`` coordinate axes
    (axis-aligned hyperplanes) — fully deterministic and engine-portable.
    Supplying random-projection planes (seeded, generated once driver-side)
    gives classic SRP-LSH; they broadcast as literals into the expression.
    Pure map: no shuffle — the bucket id then serves as the blocking key for
    a bucket-local join (candidate generation at 100 TB instead of n²).
    """
    v = F.col(vec_col)
    if planes is None:
        bits = [F.when(v.getItem(i) > 0, F.lit(1 << i)).otherwise(F.lit(0))
                for i in range(n_axis_planes)]
    else:
        bits = []
        for i, plane in enumerate(planes):
            lit_plane = F.array(*[F.lit(float(x)) for x in plane])
            d = dot(F.transform(v, lambda x: x.cast("double")), lit_plane)
            bits.append(F.when(d > 0, F.lit(1 << i)).otherwise(F.lit(0)))
    bucket = bits[0]
    for b in bits[1:]:
        bucket = bucket + b
    return df.withColumn(bucket_name, bucket.cast("long"))


def lsh_topk(queries: DataFrame, corpus: DataFrame, k: int,
             query_id: str = "query_id", corpus_id: str = "corpus_id",
             vec_col: str = "embedding", n_axis_planes: int = 8) -> DataFrame:
    """Approximate top-k: candidates restricted to the query's LSH bucket,
    then exact cosine rank within the bucket. One equi-join on the bucket id
    (shuffle both sides on a small uniform key) instead of a full cross
    product — the IVF/LSH scale path.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    qb = hyperplane_lsh_buckets(
        queries.select(F.col(query_id), vd.alias("__qv"),
                       l2_norm(vd).alias("__qn")), "__qv",
        n_axis_planes=n_axis_planes)
    cb = hyperplane_lsh_buckets(
        corpus.select(F.col(corpus_id), vd.alias("__cv"),
                      l2_norm(vd).alias("__cn")), "__cv",
        n_axis_planes=n_axis_planes)
    cand = cb.join(F.broadcast(qb), "bucket").filter(F.col(query_id) != F.col(corpus_id))
    denom = F.col("__qn") * F.col("__cn")
    sim = F.round(F.when(denom > 0, dot(F.col("__qv"), F.col("__cv")) / denom), 6)
    scored = cand.select(query_id, corpus_id, sim.alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_topk(queries: DataFrame, corpus: DataFrame, k: int,
             n_centroids: int = 16, nprobe: int = 2,
             query_id: str = "query_id", corpus_id: str = "corpus_id",
             vec_col: str = "embedding") -> DataFrame:
    """IVF-style approximate top-k: partition the corpus into inverted
    lists by nearest centroid, then search only each query's ``nprobe``
    closest lists. The 100 TB shape: centroid assignment is a broadcast
    join + per-row argmax (narrow); the search is an equi-join on the list
    id — candidate volume is |corpus|·nprobe/n_centroids instead of
    |corpus| per query.

    Centroids are the ``n_centroids`` lowest-id corpus vectors —
    deterministic (no RNG, reproducible across runs/engines); swap in
    k-means centroids computed offline for better recall at equal cost.
    """
    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    cents = (corpus.orderBy(corpus_id).limit(n_centroids)
             .select(F.col(corpus_id).alias("__cent_seed"), vd.alias("__cv")))
    cents = cents.select(
        # global window over the n_centroids-row seed frame only (bounded
        # by construction) — the "No Partition Defined" WindowExec warning
        # this triggers is expected and harmless
        F.row_number().over(Window.orderBy("__cent_seed")).alias("centroid_id"),
        F.col("__cv").alias("__cent_vec"),
        l2_norm(F.col("__cv")).alias("__cent_norm"))

    def assign(df: DataFrame, id_col: str, n_lists: int) -> DataFrame:
        """id → its n_lists nearest centroid ids (rank ≤ n_lists)."""
        base = df.select(F.col(id_col), vd.alias("__v"), l2_norm(vd).alias("__n"))
        scored = base.crossJoin(F.broadcast(cents))
        denom = F.col("__n") * F.col("__cent_norm")
        sim = F.when(denom > 0, dot(F.col("__v"), F.col("__cent_vec")) / denom)
        w = Window.partitionBy(id_col).orderBy(F.desc_nulls_last(sim),
                                               F.col("centroid_id"))
        return (scored.withColumn("__r", F.row_number().over(w))
                .filter(F.col("__r") <= n_lists)
                .select(id_col, "centroid_id", "__v", "__n"))

    corpus_lists = assign(corpus.select(corpus_id, vec_col), corpus_id, 1) \
        .withColumnRenamed("__v", "__cv2").withColumnRenamed("__n", "__cn2")
    query_lists = assign(queries.select(query_id, vec_col), query_id, nprobe)

    # broadcast the query side: the list id has only n_centroids distinct
    # values, so a shuffled join on it would funnel the corpus into
    # n_centroids partitions (worst-case skew); broadcasting the (small by
    # construction) probe set keeps the corpus partitioning untouched
    cand = F.broadcast(query_lists).join(corpus_lists, "centroid_id") \
        .filter(F.col(query_id) != F.col(corpus_id))
    denom = F.col("__n") * F.col("__cn2")
    sim = F.round(F.when(denom > 0, dot(F.col("__v"), F.col("__cv2")) / denom), 6)
    # no distinct: each corpus row lives in exactly ONE inverted list
    # (assign rank==1) and a query probes nprobe DISTINCT lists, so every
    # (query, corpus) pair appears at most once — a dedup here would be a
    # full extra shuffle of the widest intermediate for nothing
    scored = cand.select(query_id, corpus_id, sim.alias("cosine"))
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def cosine_topk_pandas(queries: DataFrame, corpus: DataFrame, k: int,
                       query_id: str = "query_id", corpus_id: str = "corpus_id",
                       vec_col: str = "embedding",
                       max_queries: int = 10_000) -> DataFrame:
    """Arrow-vectorized brute-force top-k: queries collected to a numpy
    matrix (they must be the small side), corpus streamed through
    ``mapInPandas`` in Arrow batches, numpy matmul per batch, per-batch
    partial top-k, final exact top-k by window. The fast path when dims are
    large enough that per-element HOF evaluation dominates.

    ``max_queries`` guards the driver materialization: collecting an
    unbounded query frame OOMs the driver, so more than ``max_queries``
    rows raises instead of silently collecting. Raise the cap explicitly
    for a bigger (still driver-sized) query set, or use :func:`cosine_topk`
    / the LSH/IVF variants when the query side is itself corpus-scale.

    Zero-norm vectors have no defined cosine; such pairs are OMITTED here
    (the HOF baseline carries them as NULL-cosine fillers when a query has
    fewer than k valid neighbors — the only case the two paths differ).
    """
    import numpy as np
    import pandas as pd

    spark = queries.sparkSession
    id_type = queries.schema[query_id].dataType.simpleString()
    cid_type = corpus.schema[corpus_id].dataType.simpleString()
    schema = f"{query_id} {id_type}, {corpus_id} {cid_type}, cosine double"

    qrows = queries.select(query_id, vec_col).limit(max_queries + 1).collect()
    if len(qrows) > max_queries:
        raise ValueError(
            f"cosine_topk_pandas collects the query side to the driver, but it "
            f"has more than max_queries={max_queries} rows; raise max_queries "
            f"explicitly or use cosine_topk/ann_lsh/ann_ivf for large query sets")
    if not qrows:
        return spark.createDataFrame(
            [], schema + ", rank int")
    qids = np.array([r[0] for r in qrows])
    qmat = np.array([r[1] for r in qrows], dtype="float64")
    qnorm = np.linalg.norm(qmat, axis=1)
    q_ok = qnorm > 0
    qnorm[~q_ok] = np.inf

    def score(batches):
        for pdf in batches:
            ids = pdf[corpus_id].to_numpy()
            cmat = np.array(pdf[vec_col].tolist(), dtype="float64")
            cnorm = np.linalg.norm(cmat, axis=1)
            c_ok = cnorm > 0
            cnorm[~c_ok] = np.inf
            # round BEFORE the per-batch cut so batch boundaries can never
            # flip which of two round-equal neighbors survives; ties then
            # break on corpus id (stable lexsort), matching the final
            # window's (cosine desc, id asc) order exactly
            sims = np.round((cmat @ qmat.T) / cnorm[:, None] / qnorm[None, :], 6)
            for qi, qid in enumerate(qids):
                if not q_ok[qi]:
                    continue                     # undefined cosine: omit
                col = sims[:, qi]
                # exclude self-matches and zero-norm corpus rows BEFORE the
                # top-k cut — a self row (cosine 1.0) would otherwise eat a
                # slot and silently drop the true k-th neighbor
                keep = c_ok & (ids != qid)
                kidx = np.flatnonzero(keep)
                order = np.lexsort((ids[kidx], -col[kidx]))[:k]
                top = kidx[order]
                yield pd.DataFrame({
                    query_id: qid, corpus_id: ids[top],
                    "cosine": col[top],
                })

    scored = corpus.select(corpus_id, vec_col).mapInPandas(score, schema)
    w = Window.partitionBy(query_id).orderBy(F.desc("cosine"), F.col(corpus_id))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _micro(col: Column) -> Column:
    """Component-wise integer-micro quantization (same stance as
    :func:`assign_nearest_centroid`): squared distances over micros are
    exact BIGINTs, so argmins and rankings are engine-portable with no
    float-order caveats at all."""
    return F.transform(col, lambda v: F.floor(v.cast("double") * 1e6)
                       .cast("long"))


def pq_codebook_from_centroids(centroid_vecs: dict[int, list[int]],
                               m: int) -> dict[tuple[int, int], list[int]]:
    """Slice full-vector centroids (micro-int, e.g. :func:`kmeans_lloyd`
    output via :func:`kmeans_centroids`) into a PQ codebook
    {(sub_id 1..m, centroid_id 1..n) → micro-int subvector}. Input cids
    are REINDEXED densely in ascending order (k-means clusters that lost
    all members leave gaps; the codebook contract is dense 1..n — the
    oracle twin replays the same ``row_number() OVER (ORDER BY cid)``
    reindex)."""
    if not centroid_vecs:
        raise ValueError("pq_codebook_from_centroids: no centroids")
    dim = len(next(iter(centroid_vecs.values())))
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    cb: dict[tuple[int, int], list[int]] = {}
    for dense_cid, cid in enumerate(sorted(centroid_vecs), start=1):
        v = centroid_vecs[cid]
        for s in range(1, m + 1):
            cb[(s, dense_cid)] = [int(x)
                                  for x in v[(s - 1) * d_sub:s * d_sub]]
    return cb


def pq_codebook_subspace_trained(corpus: DataFrame,
                                 corpus_id: str = "corpus_id",
                                 vec_col: str = "embedding", m: int = 4,
                                 k_centroids: int = 8,
                                 iterations: int = 2
                                 ) -> dict[tuple[int, int], list[int]]:
    """PER-SUBSPACE trained PQ codebook — the canonical Jégou et al.
    training: an independent k-means per subvector slice, so each
    subspace's centroids adapt to ITS marginal distribution (a
    full-vector clustering sliced up shares one partition across all
    subspaces and wastes codes where a subspace's mass isn't). Runs
    :func:`kmeans_fit_centroids` semantics on each of the ``m`` sliced
    frames (seeds = the k lowest-id vectors' slices, the family's
    shared deterministic seeding); per-subspace cids are reindexed
    densely, so the codebook may be RAGGED across subspaces if a slice
    loses a cluster (the scorers handle it — ``_sub_cids``).

    Since round 11 this DELEGATES to the fused multi-arm trainer
    (:func:`pq_codebooks_subspace_trained_multi` with one capacity):
    the m per-subspace Lloyd loops run as ONE Spark job per iteration
    instead of m separate runs, bit-identical per arm (the fused
    trainer is equivalence-tested against the historical per-arm loop
    in both engines)."""
    return pq_codebooks_subspace_trained_multi(
        corpus, corpus_id=corpus_id, vec_col=vec_col, m=m,
        caps=(k_centroids,), iterations=iterations)[k_centroids]


def pq_codebook(corpus: DataFrame, corpus_id: str = "corpus_id",
                vec_col: str = "embedding", m: int = 4,
                k_centroids: int = 8) -> dict[tuple[int, int], list[int]]:
    """Product-quantization codebook as a DRIVER-side artifact (like a
    learned merge table): {(sub_id 1..m, centroid_id 1..k) → micro-int
    subvector}. Deterministic — the ``k_centroids`` lowest-id corpus
    vectors sliced into ``m`` equal subvectors (no RNG, reproducible in
    any engine). For a data-adapted codebook at equal search cost, feed
    :func:`kmeans_lloyd` + :func:`kmeans_centroids` output through
    :func:`pq_codebook_from_centroids` (recall win pinned by the
    ``ann_pq_recall`` registry query). The collect is bounded by
    construction (m·k rows)."""
    rows = (corpus.orderBy(corpus_id).limit(k_centroids)
            .select(_micro(F.col(vec_col)).alias("__v")).collect())
    if not rows:
        raise ValueError("pq_codebook: empty corpus")
    return pq_codebook_from_centroids(
        {cid: [int(x) for x in r["__v"]]
         for cid, r in enumerate(rows, start=1)}, m)


def _pq_shape(codebook: dict) -> tuple[int, int, int]:
    m = max(s for s, _ in codebook)
    k = max(c for _, c in codebook)
    return m, k, len(codebook[(1, 1)])


def _sub_cids(codebook: dict, s: int) -> list[int]:
    """Centroid ids present for subspace ``s``, ascending. Codebooks may
    be RAGGED (per-subspace training can lose a cluster in one subspace
    only); ids are dense 1..k_s within each subspace by the
    pq_codebook_from_centroids reindex contract, so a code IS its
    position in the cid-ordered centroid array."""
    return sorted(c for (ss, c) in codebook if ss == s)


def _pq_code_columns(vec_micro: Column, codebook: dict) -> list[Column]:
    """Per-subspace code columns (exact-integer argmin, ties → lowest
    centroid id) for a micro-int vector — shared by :func:`pq_encode`
    and :func:`ivf_pq_topk` so both compute codes in ONE map pass."""
    m, _k, d_sub = _pq_shape(codebook)
    code_cols = []
    for s in range(1, m + 1):
        sub = F.slice(vec_micro, (s - 1) * d_sub + 1, d_sub)
        cands = []
        for cid in _sub_cids(codebook, s):
            lit = long_array_lit(codebook[(s, cid)])
            d2 = F.aggregate(
                F.zip_with(sub, lit, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
            cands.append(F.struct(d2.alias("d"),
                                  F.lit(cid).cast("int").alias("c")))
        code_cols.append(F.array_min(F.array(*cands))["c"])
    return code_cols


def pq_encode(df: DataFrame, codebook: dict,
              id_col: str = "vec_id",
              vec_col: str = "embedding",
              engine: str = "arrow") -> DataFrame:
    """PQ ENCODE: each vector compressed to ``m`` centroid ids — the
    memory/IO compression that lets a 100 TB embedding corpus keep its
    search structure in RAM (m bytes instead of dim·4). Per subspace the
    code is the exact-integer argmin of squared micro distance to the
    codebook (ties → lowest centroid id, via array_min over (d², cid)
    structs — lexicographic, engine-portable). Pure map: the codebook
    inlines as literals (Arrow: ships with the kernel), the corpus
    never shuffles. Returns (``id_col``, pq_codes array<int>,
    pq_packed long — codes radix-packed for exact cross-engine
    comparison and compact storage).

    ``engine="arrow"`` (default) runs the argmins through the
    :func:`pq_encode_multi` numpy kernel — exact int64, bit-identical
    to the expression plan (equivalence-tested) and far faster than
    interpreted higher-order functions; ``"expr"`` keeps the pure-JVM
    expression plan as the reference."""
    m, k, _d_sub = _pq_shape(codebook)
    if engine == "arrow":
        coded = pq_encode_multi(df.select(F.col(id_col), F.col(vec_col)),
                                {"q": codebook}, id_col=id_col,
                                vec_col=vec_col)
        codes = F.col("pq_codes_q")
        packed = F.element_at(codes, 1).cast("long") - 1
        for s in range(2, m + 1):
            packed = packed + ((F.element_at(codes, s).cast("long") - 1)
                               * (k ** (s - 1)))
        return coded.select(F.col(id_col), codes.alias("pq_codes"),
                            packed.alias("pq_packed"))
    code_cols = _pq_code_columns(_micro(F.col(vec_col)), codebook)
    codes = F.array(*code_cols)
    packed = code_cols[0].cast("long") - 1
    for s in range(2, m + 1):
        packed = packed + (code_cols[s - 1].cast("long") - 1) * (k ** (s - 1))
    return df.select(F.col(id_col), codes.alias("pq_codes"),
                     packed.alias("pq_packed"))


def pq_distortion(df: DataFrame, codebook: dict,
                  id_col: str = "vec_id",
                  vec_col: str = "embedding",
                  engine: str = "arrow") -> DataFrame:
    """Per-vector PQ RECONSTRUCTION ERROR: exact integer d² between the
    vector and its codebook reconstruction — which is Σ over subspaces
    of the min centroid distance (the encode argmin's own objective), so
    it falls out of the same expression the encoder evaluates. This is
    the OTHER codebook-quality axis next to recall: distortion is what
    k-means training directly minimizes, recall is what search cares
    about; a deployment tracks both (codebooks rot as the corpus
    drifts). Pure map, codebook inlined; returns (``id_col``, pq_d2).
    ``engine="arrow"`` (default) reads the d² off the
    :func:`pq_encode_multi` kernel (the argmin's winning distance IS
    the distortion — exact int64, bit-identical); ``"expr"`` keeps the
    expression reference."""
    m, _k, d_sub = _pq_shape(codebook)
    if engine == "arrow":
        coded = pq_encode_multi(df.select(F.col(id_col), F.col(vec_col)),
                                {"q": codebook}, id_col=id_col,
                                vec_col=vec_col)
        return coded.select(F.col(id_col), F.col("pq_d2_q").alias("pq_d2"))
    v = _micro(F.col(vec_col))
    total = F.lit(0).cast("long")
    for s in range(1, m + 1):
        sub = F.slice(v, (s - 1) * d_sub + 1, d_sub)
        cands = []
        for cid in _sub_cids(codebook, s):
            lit = long_array_lit(codebook[(s, cid)])
            d2 = F.aggregate(
                F.zip_with(sub, lit, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x)
            cands.append(d2)
        total = total + F.array_min(F.array(*cands))
    return df.select(F.col(id_col), total.alias("pq_d2"))


def pq_adc_topk(queries: DataFrame, corpus: DataFrame, codebook: dict,
                k: int = 3, query_id: str = "query_id",
                corpus_id: str = "corpus_id",
                vec_col: str = "embedding") -> DataFrame:
    """PQ search with ASYMMETRIC DISTANCE (ADC): corpus rows are scored
    through their codes only — dist(q, x) ≈ Σ_sub d²(q_sub,
    codebook[sub][code_sub]) — so the full corpus vectors are never read
    at query time; all arithmetic is exact-integer micros. Top-``k``
    smallest per query, ties → lowest corpus id, self-pairs excluded.

    Plan: encode the corpus (pure map over the code column — in a real
    deployment the codes are the PERSISTED artifact and this input is a
    scan of m-byte rows), precompute each query's ADC LOOKUP TABLE
    (d²(q_sub, centroid) per (subspace, cid) — |q|·Σk entries on the
    SMALL side, the textbook ADC factoring), broadcast it, and score
    each candidate with m ``element_at`` lookups; one window top-k.
    Candidate volume is |corpus|·|queries| like brute force but over m
    integer lookups instead of dim multiplies — the classic PQ trade;
    compose with :func:`ivf_topk`'s list pruning for the IVF-ADC shape
    when candidate volume itself is the bottleneck. All arithmetic is
    the same exact-BIGINT subspace distances, so results are identical
    to the pre-LUT formulation. Returns (query_id, corpus_id,
    adc_dist, rank)."""
    from ..core.barrier import materialize

    m, _kc, d_sub = _pq_shape(codebook)
    codes = pq_encode(corpus, codebook, id_col=corpus_id, vec_col=vec_col)
    qv = _micro(F.col(vec_col))
    q_cols = [F.col(query_id)]
    for s in range(1, m + 1):
        sub = F.slice(qv, (s - 1) * d_sub + 1, d_sub)
        cb_arr = long_matrix_lit(
            [codebook[(s, c)] for c in _sub_cids(codebook, s)])
        lut = F.transform(
            cb_arr,
            lambda cv: F.aggregate(
                F.zip_with(sub, cv, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x))
        q_cols.append(lut.alias(f"__lut_{s}"))
    q = materialize(queries.select(*q_cols))
    joined = codes.join(F.broadcast(q),
                        F.col(query_id) != F.col(corpus_id))
    total = F.lit(0).cast("long")
    for s in range(1, m + 1):
        total = total + F.element_at(
            F.col(f"__lut_{s}"), F.element_at(F.col("pq_codes"), s))
    scored = joined.select(query_id, corpus_id, total.alias("adc_dist"))
    w = Window.partitionBy(query_id).orderBy("adc_dist", corpus_id)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _argmin_struct_over(sub: Column,
                        cents: dict[int, list[int]]) -> Column:
    """(min d², winning cid) struct for a micro-int subvector against a
    centroid dict — semantically identical to the unrolled per-centroid
    expressions of :func:`_assign_micro_expr` (exact BIGINT d², ties →
    lowest cid), but the centroids iterate as DATA: one literal
    array-of-arrays zipped with a literal cid array, so the expression
    tree is O(1) in the centroid count instead of O(k). At sweep widths
    (Σk > 100 per subspace) the unrolled form's analysis/codegen cost
    dominates tiny inputs; this form keeps planning flat while the
    arithmetic — and therefore every result — is unchanged."""
    cids = sorted(cents)
    cb_arr = long_matrix_lit([cents[cid] for cid in cids])
    cid_arr = F.expr(
        "array(" + ",".join(str(int(c)) for c in cids) + ")")
    return F.array_min(F.zip_with(
        cb_arr, cid_arr,
        lambda cv, cc: F.struct(
            F.aggregate(F.zip_with(sub, cv, lambda a, b: (a - b) * (a - b)),
                        F.lit(0).cast("long"), lambda acc, x: acc + x)
            .alias("d"),
            cc.alias("c"))))


def pq_codebooks_subspace_trained_multi(
        corpus: DataFrame, corpus_id: str = "corpus_id",
        vec_col: str = "embedding", m: int = 4,
        caps: Sequence[int] = (8, 16, 32, 64), iterations: int = 2,
        engine: str = "arrow"
        ) -> dict[int, dict[tuple[int, int], list[int]]]:
    """Train per-subspace PQ codebooks for SEVERAL capacities in ONE
    fused Lloyd loop — bit-identical to calling
    :func:`pq_codebook_subspace_trained` once per capacity, at
    O(iterations) Spark jobs total instead of O(|caps|·m·iterations):
    each (capacity, subspace) arm is an independent k-means, but their
    per-iteration work reads the SAME corpus rows, so the assignment +
    per-(arm, cid, dim) partial-sum update for every arm fuses into one
    explode + one bounded groupBy/collect (Σ caps · dim rows). On tiny
    per-job data the 4·m separate Lloyd runs are pure scheduling
    overhead; at 100 TB the fusion still wins — one corpus scan per
    iteration instead of |caps|·m.

    Equivalence to the per-arm trainer, piece by piece: seeds are the
    ``max(caps)`` lowest-id vectors collected once and sliced (each
    arm's seed list is a prefix — the per-arm trainer's
    ``orderBy(id).limit(k)`` on the sliced frame); assignment is the
    exact-integer argmin with ties → lowest cid
    (:func:`_argmin_struct_over`); the update is the same
    ``sum div count`` truncating integer mean per (cid, dim); a cluster
    that loses all members vanishes from ITS arm only; final cids
    reindex densely per subspace (the pq_codebook_from_centroids
    contract). Returns {capacity → codebook dict}."""
    if iterations < 1 or not caps:
        raise ValueError("caps must be non-empty and iterations >= 1")
    probe = corpus.select(F.col(vec_col)).limit(1).collect()
    if not probe or probe[0][0] is None:
        raise ValueError("pq_codebooks_subspace_trained_multi: empty "
                         "corpus or NULL first vector")
    dim = len(probe[0][0])
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    kmax = max(caps)
    seed_rows = (corpus.orderBy(corpus_id).limit(kmax)
                 .select(_micro(F.col(vec_col)).alias("__v")).collect())
    seeds = [[int(x) for x in r["__v"]] for r in seed_rows]
    cents: dict[tuple[int, int], dict[int, list[int]]] = {
        (cap, s): {cid: seeds[cid - 1][(s - 1) * d_sub:s * d_sub]
                   for cid in range(1, min(cap, len(seeds)) + 1)}
        for cap in caps for s in range(1, m + 1)}
    vm = _micro(F.col(vec_col))
    for _it in range(iterations - 1):
        if engine == "arrow":
            # Arrow kernel: each batch emits per-(arm, cid) PARTIAL
            # element sums + counts (exact int64); the bounded final
            # combine + the truncating `div` mean stay in Spark SQL so
            # engine semantics are untouched.
            import pandas as pd

            plans = [(cap, s, sorted(cd),
                      [cd[cid] for cid in sorted(cd)])
                     for (cap, s), cd in cents.items()]
            schema = ("cap int, sub int, cid int, cnt bigint, " +
                      ", ".join(f"s{d} bigint" for d in range(d_sub)))

            def partials(batches):
                import numpy as np

                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = _np_micro(pdf[vec_col])
                    rows = []
                    for cap, s, cids, cvecs in plans:
                        Xs = X[:, (s - 1) * d_sub:s * d_sub]
                        C = np.asarray(cvecs, dtype=np.int64)
                        a = _np_sub_d2(Xs, C).argmin(axis=1)
                        for j, cid in enumerate(cids):
                            mask = a == j
                            cnt = int(mask.sum())
                            if not cnt:
                                continue
                            sums = Xs[mask].sum(axis=0)
                            rows.append((cap, s, cid, cnt,
                                         *[int(x) for x in sums]))
                    yield pd.DataFrame(
                        rows, columns=(["cap", "sub", "cid", "cnt"]
                                       + [f"s{d}" for d in range(d_sub)]))

            stats = (corpus.select(F.col(vec_col))
                     .mapInPandas(partials, schema=schema)
                     .groupBy("cap", "sub", "cid")
                     .agg(*[F.expr(f"sum(s{d}) div sum(cnt)")
                            .alias(f"__m{d}") for d in range(d_sub)])
                     .collect())
        else:
            arms = []
            for (cap, s), cd in cents.items():
                sub = F.slice(vm, (s - 1) * d_sub + 1, d_sub)
                amin = _argmin_struct_over(sub, cd)
                arms.append(F.struct(
                    F.lit(cap).cast("int").alias("cap"),
                    F.lit(s).cast("int").alias("sub"),
                    amin["c"].alias("cid"), sub.alias("v")))
            # element-wise means WITHOUT a per-dimension explode: one row
            # per (vector, arm) with d_sub `sum(element_at) div count`
            # aggregates — the same truncating-integer mean per
            # (cid, dim) as the per-arm trainer's posexplode+groupBy
            stats = (corpus.select(F.explode(F.array(*arms)).alias("__a"))
                     .select("__a.cap", "__a.sub", "__a.cid", "__a.v")
                     .groupBy("cap", "sub", "cid")
                     .agg(*[F.expr(
                         f"sum(element_at(v, {d + 1})) div count(1)")
                         .alias(f"__m{d}") for d in range(d_sub)])
                     .collect())
        cents = {}
        for r in stats:
            cents.setdefault((int(r["cap"]), int(r["sub"])), {})[
                int(r["cid"])] = [int(r[f"__m{d}"]) for d in range(d_sub)]
    out: dict[int, dict[tuple[int, int], list[int]]] = {}
    for cap in caps:
        cb: dict[tuple[int, int], list[int]] = {}
        for s in range(1, m + 1):
            arm = cents.get((cap, s), {})
            for dense_cid, cid in enumerate(sorted(arm), start=1):
                cb[(s, dense_cid)] = arm[cid]
        out[cap] = cb
    return out


def _np_micro(embs) -> "object":
    """numpy twin of :func:`_micro`: floor(x·1e6) over float64, exact
    int64 — bit-identical to the JVM expression (both are one IEEE
    double multiply + floor; micros are far inside 2^53)."""
    import numpy as np

    return np.floor(np.asarray(list(embs), dtype=np.float64)
                    * 1e6).astype(np.int64)


def _np_sub_d2(Xs, C) -> "object":
    """All-pairs exact int64 squared distances between row-subvectors
    ``Xs`` (n×d) and centroids ``C`` (k×d) via the expansion
    |x|² − 2x·c + |c|² — integer arithmetic, so the result equals the
    elementwise Σ(x−c)² exactly (micros keep every term < 2^63)."""
    xx = (Xs * Xs).sum(axis=1)
    cc = (C * C).sum(axis=1)
    return xx[:, None] - 2 * (Xs @ C.T) + cc[None, :]


def _np_probes_luts(qvecs, codebook: dict, coarse: dict[int, list[int]],
                    nprobe: int) -> tuple:
    """Query-side state of an IVFADC search, in driver numpy: the
    ``nprobe`` nearest coarse-centroid ids per query (int32, n×nprobe)
    and one ADC lookup table per subspace (int64, n×k_s: d²(q_sub, cid)
    in :func:`_sub_cids` order, so a code IS its position in the row —
    ragged codebooks included). Probe order is a STABLE argsort of the
    exact int64 d² over cid-ascending columns, so ties go to the lowest
    cid — the (d², cid) order of :func:`_coarse_assign`."""
    import numpy as np

    m, _kc, d_sub = _pq_shape(codebook)
    X = _np_micro(qvecs)
    cids = sorted(coarse)
    Cc = np.asarray([coarse[c] for c in cids], dtype=np.int64)
    order = np.argsort(_np_sub_d2(X, Cc), axis=1, kind="stable")
    lists = np.asarray(cids, dtype=np.int32)[order[:, :nprobe]]
    luts = [_np_sub_d2(X[:, (s - 1) * d_sub:s * d_sub],
                       np.asarray([codebook[(s, c)]
                                   for c in _sub_cids(codebook, s)],
                                  dtype=np.int64))
            for s in range(1, m + 1)]
    return lists, luts


def pq_encode_multi(df: DataFrame, codebooks: dict[object, dict],
                    id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    engine: str = "arrow") -> DataFrame:
    """ONE-PASS encode + distortion for SEVERAL codebooks at once — the
    fusion behind capacity sweeps (``ann_codebook_sweep``): a sweep that
    encodes the corpus once per candidate codebook pays |codebooks|
    corpus scans for work whose inputs are identical per row. Here every
    (codebook, subspace) argmin is evaluated in a single projection, and
    because the argmin is computed as ``array_min`` over (d², cid)
    structs, the winning distance — which IS the reconstruction
    distortion term :func:`pq_distortion` computes — falls out of the
    same expression as the code. Two nested selects pin single
    evaluation of each argmin struct (codes and d² both read the staged
    ``__amin`` column, so the per-centroid distance work is never
    repeated).

    Returns one row per input row: (``id_col``, and per codebook key
    ``name``: ``pq_codes_{name} array<int>``, ``pq_d2_{name} long``).
    Codes/distortion are bit-identical to :func:`pq_encode` /
    :func:`pq_distortion` run per codebook (ties → lowest centroid id,
    exact integer micros). Pure map — the corpus never shuffles;
    materialize the output when several consumers (scoring + distortion
    aggregates) read it, exactly the persisted-codes stance of
    :func:`ivf_pq_encode_corpus`.

    ``engine``: ``"arrow"`` (default) evaluates the argmins in a
    ``mapInPandas`` numpy kernel — exact int64 throughout (micros via
    :func:`_np_micro`, distances via :func:`_np_sub_d2`, argmin's
    first-minimum = lowest cid), measured ~50× faster per row than the
    interpreted higher-order-function expressions; ``"expr"`` keeps the
    pure-JVM expression plan (the reference semantics the arrow kernel
    is equivalence-tested against — tests/test_similarity.py)."""
    if engine == "arrow":
        import pandas as pd

        id_type = df.schema[id_col].dataType.simpleString()
        fields = [f"{id_col} {id_type}"]
        for name in codebooks:
            fields.append(f"pq_codes_{name} array<int>")
            fields.append(f"pq_d2_{name} bigint")
        schema = ", ".join(fields)
        # (name, sub, cid-ordered centroid matrix) snapshot: plain
        # python lists close over the task serializer; numpy-ified once
        # per batch
        shapes = {name: _pq_shape(cb) for name, cb in codebooks.items()}
        plans = []
        for name, cb in codebooks.items():
            m, _k, d_sub = shapes[name]
            subs = []
            for s in range(1, m + 1):
                subs.append([cb[(s, cid)] for cid in _sub_cids(cb, s)])
            plans.append((str(name), m, d_sub, subs))
        src = df.select(F.col(id_col), F.col(vec_col))

        def encode(batches):
            import numpy as np

            for pdf in batches:
                out = {id_col: pdf[id_col]}
                n = len(pdf)
                if n == 0:
                    continue
                X = _np_micro(pdf[vec_col])
                for name, m, d_sub, subs in plans:
                    codes = np.empty((n, m), dtype=np.int32)
                    d2 = np.zeros(n, dtype=np.int64)
                    for s in range(1, m + 1):
                        C = np.asarray(subs[s - 1], dtype=np.int64)
                        D = _np_sub_d2(X[:, (s - 1) * d_sub:s * d_sub], C)
                        a = D.argmin(axis=1)
                        codes[:, s - 1] = a + 1
                        d2 += D[np.arange(n), a]
                    out[f"pq_codes_{name}"] = list(codes)
                    out[f"pq_d2_{name}"] = d2
                yield pd.DataFrame(out)

        return src.mapInPandas(encode, schema=schema)
    v = _micro(F.col(vec_col))
    staged_cols = []
    for name, cb in codebooks.items():
        m, _k, d_sub = _pq_shape(cb)
        for s in range(1, m + 1):
            sub = F.slice(v, (s - 1) * d_sub + 1, d_sub)
            staged_cols.append(
                _argmin_struct_over(sub, {cid: cb[(s, cid)]
                                          for cid in _sub_cids(cb, s)})
                .alias(f"__amin_{name}_{s}"))
    staged = df.select(F.col(id_col), *staged_cols)
    outs: list[Column] = [F.col(id_col)]
    for name, cb in codebooks.items():
        m, _k, _d = _pq_shape(cb)
        outs.append(F.array(*[F.col(f"__amin_{name}_{s}")["c"]
                              for s in range(1, m + 1)])
                    .alias(f"pq_codes_{name}"))
        d2_total = F.col(f"__amin_{name}_1")["d"]
        for s in range(2, m + 1):
            d2_total = d2_total + F.col(f"__amin_{name}_{s}")["d"]
        outs.append(d2_total.alias(f"pq_d2_{name}"))
    return staged.select(*outs)


def pq_adc_topk_coded_multi(queries: DataFrame, coded: DataFrame,
                            codebooks: dict[object, dict], k: int = 3,
                            query_id: str = "query_id",
                            corpus_id: str = "corpus_id",
                            vec_col: str = "embedding",
                            variant_col: str = "variant") -> DataFrame:
    """ADC top-k for SEVERAL codebooks over ONE pre-coded corpus
    (:func:`pq_encode_multi` output) in a single score pass, with the
    textbook ADC LOOKUP-TABLE factoring: each query precomputes its
    d²(q_sub, centroid) row for every (codebook, subspace, centroid) —
    |queries|·Σk_s entries, a pure map over the SMALL query side — and
    the |queries|·|corpus| candidate volume then costs only m
    ``element_at`` lookups per (pair, variant) instead of m subvector
    dot products (the exact arithmetic moves off the big join: Σ of the
    same BIGINT subspace distances, so every total — and the ranking —
    is unchanged). Per-variant totals explode into (variant, adc_dist)
    rows ranked by one window partitioned on (variant, query); per
    variant the result is bit-identical to :func:`pq_adc_topk`.
    Returns (``variant_col`` [str(key)], query_id, corpus_id, adc_dist,
    rank)."""
    qv = _micro(F.col(vec_col))
    q_cols = [F.col(query_id)]
    for name, cb in codebooks.items():
        m, _kc, d_sub = _pq_shape(cb)
        for s in range(1, m + 1):
            sub = F.slice(qv, (s - 1) * d_sub + 1, d_sub)
            cb_arr = long_matrix_lit(
                [cb[(s, c)] for c in _sub_cids(cb, s)])
            lut = F.transform(
                cb_arr,
                lambda cv: F.aggregate(
                    F.zip_with(sub, cv, lambda a, b: (a - b) * (a - b)),
                    F.lit(0).cast("long"), lambda acc, x: acc + x))
            q_cols.append(lut.alias(f"__lut_{name}_{s}"))
    from ..core.barrier import materialize

    # materialize the (answer-sized) LUT side before broadcasting: the
    # broadcast-exchange job otherwise evaluates the LUT expressions with
    # whatever parallelism the query plan happens to have — measured 3×
    # slower than one explicit parallel pass on tiny inputs
    q = materialize(queries.select(*q_cols))
    joined = coded.join(F.broadcast(q),
                        F.col(query_id) != F.col(corpus_id))
    arms = []
    for name, cb in codebooks.items():
        m, _kc, _d = _pq_shape(cb)
        total = F.lit(0).cast("long")
        for s in range(1, m + 1):
            # dense per-subspace cids (the codebook contract): a code IS
            # its position in the cid-ordered LUT row
            total = total + F.element_at(
                F.col(f"__lut_{name}_{s}"),
                F.element_at(F.col(f"pq_codes_{name}"), s))
        arms.append(F.struct(F.lit(str(name)).alias(variant_col),
                             total.alias("adc_dist")))
    exploded = (joined.select(query_id, corpus_id,
                              F.explode(F.array(*arms)).alias("__arm"))
                .select(query_id, corpus_id,
                        F.col(f"__arm.{variant_col}").alias(variant_col),
                        F.col("__arm.adc_dist").alias("adc_dist")))
    w = Window.partitionBy(variant_col, query_id).orderBy(
        "adc_dist", corpus_id)
    return (exploded.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_coarse_centroids(corpus: DataFrame, corpus_id: str = "corpus_id",
                         vec_col: str = "embedding",
                         n_centroids: int = 8) -> dict[int, list[int]]:
    """Coarse-quantizer centroids as a driver artifact (same stance as
    :func:`pq_codebook`): {centroid_id 1..n → micro-int vector}, the
    ``n_centroids`` lowest-id corpus vectors. Bounded collect; swap in
    offline k-means for better recall at equal cost."""
    rows = (corpus.orderBy(corpus_id).limit(n_centroids)
            .select(_micro(F.col(vec_col)).alias("__v")).collect())
    if not rows:
        raise ValueError("ivf_coarse_centroids: empty corpus")
    return {cid: [int(x) for x in r["__v"]]
            for cid, r in enumerate(rows, start=1)}


def _coarse_assign(vec_micro: Column, coarse: dict[int, list[int]],
                   n: int) -> Column:
    """The ``n`` nearest coarse-centroid ids of a micro-int vector, as an
    array ordered by (exact integer d², centroid id) — a PURE-MAP top-n
    (array_sort over (d², cid) structs with the centroids inlined as
    literals), no window, no shuffle: the coarse assignment of a 100 TB
    corpus is embarrassingly parallel."""
    cands = []
    for cid in sorted(coarse):
        lit = long_array_lit(coarse[cid])
        d2 = F.aggregate(
            F.zip_with(vec_micro, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        cands.append(F.struct(d2.alias("d"),
                              F.lit(cid).cast("int").alias("c")))
    ranked = F.slice(F.array_sort(F.array(*cands)), 1, n)
    return F.transform(ranked, lambda s: s["c"])


def ivf_pq_topk(queries: DataFrame, corpus: DataFrame, codebook: dict,
                coarse: dict[int, list[int]], k: int = 3, nprobe: int = 2,
                query_id: str = "query_id", corpus_id: str = "corpus_id",
                vec_col: str = "embedding") -> DataFrame:
    """IVF-ADC — the production ANN shape (Jégou et al.'s IVFADC): coarse
    inverted-list pruning bounds the CANDIDATE volume
    (|corpus|·nprobe/n_centroids instead of |corpus| per query) and
    asymmetric distance over PQ codes bounds the PER-CANDIDATE cost
    (m integer lookups instead of dim multiplies, against m-byte rows).
    Everything is exact-integer micros: coarse assignment, codes, and
    ADC scores — rankings are engine-portable with no float caveats.

    Plan: ONE pure-map pass gives each corpus row its list id and codes
    (centroids and codebook inline as literals — in production these are
    the persisted index artifacts); queries expand to their ``nprobe``
    lists map-side; the only joins are the list-id equi-join with the
    (small) probe side broadcast — the corpus partitioning is never
    touched — and the final per-query window top-k over candidate rows.
    Returns (query_id, corpus_id, adc_dist, rank)."""
    scored = ivf_pq_candidates(queries, corpus, codebook, coarse, nprobe,
                               query_id, corpus_id, vec_col)
    w = Window.partitionBy(query_id).orderBy("adc_dist", corpus_id)
    return (scored.drop("probe_rank")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivf_pq_candidates(queries: DataFrame, corpus: DataFrame,
                      codebook: dict, coarse: dict[int, list[int]],
                      nprobe: int = 2, query_id: str = "query_id",
                      corpus_id: str = "corpus_id",
                      vec_col: str = "embedding",
                      keep_cols: Sequence[str] = (),
                      engine: str = "arrow") -> DataFrame:
    """The CANDIDATE stage of :func:`ivf_pq_topk`, exposed so a tuning
    sweep can pay the corpus code/assign pass ONCE at the widest
    ``nprobe`` and derive every narrower setting by filtering: returns
    (query_id, corpus_id, adc_dist, probe_rank), where ``probe_rank`` is
    the 1-based position of the candidate's inverted list in the query's
    nearest-list order — a corpus row belongs to exactly one list, so
    ``filter(probe_rank <= p)`` IS the nprobe=p candidate set, with no
    duplicates and no recomputation. Plan: one corpus code/assign map
    pass, each query's ADC lookup table precomputed on the (small)
    probe side (the :func:`pq_adc_topk` LUT factoring — LUT rows don't
    depend on the list, only on the query), broadcast probe join, m
    ``element_at`` lookups per candidate. ``keep_cols`` rides extra
    corpus columns through the coded projection onto the candidate rows
    (production puts filterable attributes IN the index — the
    filtered-search shape) at zero extra shuffles. ``engine="arrow"``
    (default) runs the corpus code/assign argmins in a numpy int64
    kernel (bit-identical; `_coarse_assign`'s (d², cid) tie rule =
    first-minimum over cid-sorted rows); ``"expr"`` keeps the pure-JVM
    expression projection."""
    from ..core.barrier import materialize

    m, _kc, d_sub = _pq_shape(codebook)
    if engine == "arrow":
        import pandas as pd

        id_type = corpus.schema[corpus_id].dataType.simpleString()
        keep_types = [f"{c} {corpus.schema[c].dataType.simpleString()}"
                      for c in keep_cols]
        schema = ", ".join([f"{corpus_id} {id_type}", "__list int",
                            "pq_codes array<int>"] + keep_types)
        coarse_cids = sorted(coarse)
        coarse_rows = [coarse[c] for c in coarse_cids]
        subs = []
        for s in range(1, m + 1):
            subs.append([codebook[(s, cid)]
                         for cid in _sub_cids(codebook, s)])
        src = corpus.select(F.col(corpus_id), F.col(vec_col),
                            *[F.col(c) for c in keep_cols])

        def code_assign(batches):
            import numpy as np

            cids_arr = np.asarray(coarse_cids, dtype=np.int32)
            Cc = np.asarray(coarse_rows, dtype=np.int64)
            for pdf in batches:
                n = len(pdf)
                if not n:
                    continue
                X = _np_micro(pdf[vec_col])
                lists = cids_arr[_np_sub_d2(X, Cc).argmin(axis=1)]
                codes = np.empty((n, m), dtype=np.int32)
                for s in range(1, m + 1):
                    C = np.asarray(subs[s - 1], dtype=np.int64)
                    codes[:, s - 1] = _np_sub_d2(
                        X[:, (s - 1) * d_sub:s * d_sub], C
                    ).argmin(axis=1) + 1
                out = {corpus_id: pdf[corpus_id], "__list": lists,
                       "pq_codes": list(codes)}
                for c in keep_cols:
                    out[c] = pdf[c]
                yield pd.DataFrame(out)

        coded = src.mapInPandas(code_assign, schema=schema)
    else:
        cv = _micro(F.col(vec_col))
        # list id AND codes from one projection — the corpus is read
        # once and never self-joined
        coded = corpus.select(
            F.col(corpus_id),
            F.element_at(_coarse_assign(cv, coarse, 1), 1).alias("__list"),
            F.array(*_pq_code_columns(cv, codebook)).alias("pq_codes"),
            *[F.col(k) for k in keep_cols])
    qv = _micro(F.col(vec_col))
    q_cols = [F.col(query_id),
              _coarse_assign(qv, coarse, nprobe).alias("__probe_lists")]
    for s in range(1, m + 1):
        sub = F.slice(qv, (s - 1) * d_sub + 1, d_sub)
        cb_arr = long_matrix_lit(
            [codebook[(s, c)] for c in _sub_cids(codebook, s)])
        lut = F.transform(
            cb_arr,
            lambda cv_: F.aggregate(
                F.zip_with(sub, cv_, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x))
        q_cols.append(lut.alias(f"__lut_{s}"))
    # LUTs evaluated ONCE per query (materialize before the probe
    # explode — a generator in the same projection would re-evaluate
    # its sibling expressions per emitted row)
    probes = (materialize(queries.select(*q_cols))
              .select(query_id,
                      *[F.col(f"__lut_{s}") for s in range(1, m + 1)],
                      F.posexplode("__probe_lists")
                      .alias("__pr", "__list")))
    cand = coded.join(F.broadcast(probes), "__list") \
        .filter(F.col(query_id) != F.col(corpus_id))
    total = F.lit(0).cast("long")
    for s in range(1, m + 1):
        total = total + F.element_at(
            F.col(f"__lut_{s}"), F.element_at(F.col("pq_codes"), s))
    return cand.select(query_id, corpus_id, total.alias("adc_dist"),
                       (F.col("__pr") + 1).cast("int").alias("probe_rank"),
                       *[F.col(k) for k in keep_cols])


def _coarse_lit(coarse: dict[int, list[int]]) -> Column:
    """Inline literal array of coarse centroid vectors, positioned by
    cid — requires DENSE 1..n cids so ``element_at(arr, cid)`` IS the
    centroid lookup (the lowest-id and reindexed-trained constructors
    both guarantee it)."""
    cids = sorted(coarse)
    if cids != list(range(1, len(cids) + 1)):
        raise ValueError(f"coarse cids must be dense 1..n, got {cids}")
    return long_matrix_lit([coarse[c] for c in cids])


def _residual_expr(vec_micro: Column, coarse: dict[int, list[int]],
                   list_col: Column) -> Column:
    """``vec − coarse[list]`` in exact integer micros — the quantity PQ
    encodes in the full IVFADC shape (the coarse cell absorbs the
    vector's position, PQ only has to code the small remainder)."""
    return F.zip_with(vec_micro, F.element_at(_coarse_lit(coarse),
                                              list_col),
                      lambda a, b: a - b)


def pq_codebook_residual_trained(corpus: DataFrame,
                                 coarse: dict[int, list[int]],
                                 corpus_id: str = "corpus_id",
                                 vec_col: str = "embedding", m: int = 4,
                                 k_centroids: int = 8,
                                 iterations: int = 2
                                 ) -> dict[tuple[int, int], list[int]]:
    """Per-subspace PQ codebook trained on COARSE RESIDUALS — the full
    Jégou IVFADC training: residuals cluster tightly around zero no
    matter where the coarse cell sits, so one shared codebook codes
    every list's remainders far better than it codes raw positions.
    One pure-map pass derives (assign coarse list → subtract its
    centroid) the residual frame; then an independent deterministic
    k-means per residual slice (:func:`kmeans_fit_centroids` with
    ``pre_quantized=True`` — residuals are already exact micros, a
    double round-trip would not be — and ``distinct_seeds=True``: the
    coarse centroids' own residuals are all exactly zero, so plain
    lowest-id seeding would hand k-means k identical zero seeds and
    collapse the codebook to one code). Dense per-subspace reindex; may
    be ragged (see ``_sub_cids``)."""
    from ..core.barrier import materialize

    dim = len(next(iter(coarse.values())))
    if dim % m != 0:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    d_sub = dim // m
    cv = _micro(F.col(vec_col))
    # materialized once: each of the m sliced Lloyd runs below otherwise
    # re-evaluates the coarse assign + subtract over the whole corpus
    res = materialize(corpus.select(
        F.col(corpus_id),
        _residual_expr(cv, coarse, _assign_micro_expr(coarse, cv))
        .alias("__res")))
    cb: dict[tuple[int, int], list[int]] = {}
    for s in range(1, m + 1):
        sliced = res.select(
            F.col(corpus_id),
            F.slice(F.col("__res"), (s - 1) * d_sub + 1, d_sub)
            .alias("__sub"))
        cents = kmeans_fit_centroids(sliced, id_col=corpus_id,
                                     vec_col="__sub", k=k_centroids,
                                     iterations=iterations,
                                     pre_quantized=True,
                                     distinct_seeds=True)
        for dense_cid, cid in enumerate(sorted(cents), start=1):
            cb[(s, dense_cid)] = cents[cid]
    return cb


def ivf_pq_residual_topk(queries: DataFrame, corpus: DataFrame,
                         codebook: dict, coarse: dict[int, list[int]],
                         k: int = 3, nprobe: int = 2,
                         query_id: str = "query_id",
                         corpus_id: str = "corpus_id",
                         vec_col: str = "embedding",
                         engine: str = "arrow") -> DataFrame:
    """IVFADC with RESIDUAL encoding — the complete Jégou et al. shape:
    corpus vectors are coded as ``coarse[list] + PQ(residual)``, and the
    query is compared through its own PER-LIST residual
    (``q − coarse[probed list]``), so the codebook only has to
    discriminate remainders near zero. All exact integer micros.

    Plan: ONE pure-map pass assigns each corpus row its list, subtracts
    the centroid, and codes the residual (``engine="arrow"`` numpy
    int64 kernel by default, ``"expr"`` as the expression reference —
    bit-identical); the probe side explodes queries to ``nprobe``
    (list, query-residual) rows carrying their per-(probe, subspace)
    ADC lookup tables (the LUT here depends on the PROBED LIST, since
    the query residual does — |q|·nprobe·Σk entries, still the small
    side) and broadcasts into the list-id equi-join; ADC is m integer
    lookups per candidate; one window top-k. Returns (query_id,
    corpus_id, adc_dist, rank)."""
    from ..core.barrier import materialize

    m, _kc, d_sub = _pq_shape(codebook)
    if engine == "arrow":
        import pandas as pd

        id_type = corpus.schema[corpus_id].dataType.simpleString()
        schema = (f"{corpus_id} {id_type}, __list int, "
                  f"pq_codes array<int>")
        coarse_cids = sorted(coarse)
        coarse_rows = [coarse[c] for c in coarse_cids]
        subs = [[codebook[(s, cid)] for cid in _sub_cids(codebook, s)]
                for s in range(1, m + 1)]
        src = corpus.select(F.col(corpus_id), F.col(vec_col))

        def code_residual(batches):
            import numpy as np

            cids_arr = np.asarray(coarse_cids, dtype=np.int32)
            Cc = np.asarray(coarse_rows, dtype=np.int64)
            for pdf in batches:
                n = len(pdf)
                if not n:
                    continue
                X = _np_micro(pdf[vec_col])
                a = _np_sub_d2(X, Cc).argmin(axis=1)
                R = X - Cc[a]
                codes = np.empty((n, m), dtype=np.int32)
                for s in range(1, m + 1):
                    C = np.asarray(subs[s - 1], dtype=np.int64)
                    codes[:, s - 1] = _np_sub_d2(
                        R[:, (s - 1) * d_sub:s * d_sub], C
                    ).argmin(axis=1) + 1
                yield pd.DataFrame({corpus_id: pdf[corpus_id],
                                    "__list": cids_arr[a],
                                    "pq_codes": list(codes)})

        coded = src.mapInPandas(code_residual, schema=schema)
    else:
        cv = _micro(F.col(vec_col))
        clist = _assign_micro_expr(coarse, cv)
        coded = corpus.select(
            F.col(corpus_id), clist.alias("__list"),
            F.array(*_pq_code_columns(
                _residual_expr(cv, coarse, clist), codebook))
            .alias("pq_codes"))
    qv = _micro(F.col(vec_col))
    qres = _residual_expr(F.col("__qv"), coarse, F.col("__list"))
    probe_cols = [F.col(query_id), F.col("__list")]
    for s in range(1, m + 1):
        sub = F.slice(qres, (s - 1) * d_sub + 1, d_sub)
        cb_arr = long_matrix_lit(
            [codebook[(s, c)] for c in _sub_cids(codebook, s)])
        lut = F.transform(
            cb_arr,
            lambda cv_: F.aggregate(
                F.zip_with(sub, cv_, lambda a, b: (a - b) * (a - b)),
                F.lit(0).cast("long"), lambda acc, x: acc + x))
        probe_cols.append(lut.alias(f"__lut_{s}"))
    probes = materialize(
        queries.select(
            F.col(query_id), _micro(F.col(vec_col)).alias("__qv"),
            F.explode(_coarse_assign(_micro(F.col(vec_col)), coarse,
                                     nprobe)).alias("__list"))
        .select(*probe_cols))
    cand = coded.join(F.broadcast(probes), "__list") \
        .filter(F.col(query_id) != F.col(corpus_id))
    total = F.lit(0).cast("long")
    for s in range(1, m + 1):
        total = total + F.element_at(
            F.col(f"__lut_{s}"), F.element_at(F.col("pq_codes"), s))
    scored = cand.select(query_id, corpus_id, total.alias("adc_dist"))
    w = Window.partitionBy(query_id).orderBy("adc_dist", corpus_id)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def kmeans_lloyd(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding", k: int = 8,
                 iterations: int = 2) -> DataFrame:
    """Deterministic Lloyd k-means over micro-int components — the
    "offline k-means codebook" step the IVF/PQ docstrings point at, with
    NO RNG anywhere: seeds are the ``k`` lowest-id vectors, assignment is
    the exact-integer d² argmin (ties → lowest centroid id), and the
    update is the per-dimension micro mean with the same
    integer-``div`` truncation as ``embedding_centroids`` (bigint sums
    are order-independent, so the result is stable under any
    partitioning and bit-identical in any engine). A cluster that loses
    all members simply vanishes from the next round's centroid set —
    deterministic in both engines, documented rather than re-seeded.

    Plan per iteration: assignment is a PURE MAP (current centroids
    inline as literals — they are a k×dim driver artifact, collected
    once per round like a learned merge table); the update is ONE
    posexplode + (cid, dim) partial-sum shuffle carrying k·dim rows.
    Returns the FINAL assignment (``id_col``, centroid_id) after
    ``iterations`` rounds; feed the final centroids to
    :func:`assign_nearest_centroid`/:func:`ivf_pq_topk` machinery by
    re-deriving them from the assignment when needed.
    """
    return df.select(
        F.col(id_col),
        kmeans_assign_expr(
            kmeans_fit_centroids(df, id_col=id_col, vec_col=vec_col, k=k,
                                 iterations=iterations),
            F.col(vec_col)).alias("centroid_id"))


def _assign_micro_expr(centroid_vecs: dict[int, list[int]],
                       micro_col: Column) -> Column:
    """Argmin assignment over an ALREADY-quantized micro-int vector
    column (exact integer d², ties → lowest centroid id)."""
    cands = []
    for cid in sorted(centroid_vecs):
        lit = long_array_lit(centroid_vecs[cid])
        d2 = F.aggregate(
            F.zip_with(micro_col, lit, lambda a, b: (a - b) * (a - b)),
            F.lit(0).cast("long"), lambda acc, x: acc + x)
        cands.append(F.struct(d2.alias("d"),
                              F.lit(cid).cast("int").alias("c")))
    return F.array_min(F.array(*cands))["c"].cast("int")


def kmeans_assign_expr(centroid_vecs: dict[int, list[int]],
                       vec_col: Column) -> Column:
    """PURE-MAP nearest-centroid assignment expression for a raw vector
    column against driver-artifact micro-int centroids (inlined as
    literals): exact integer d² argmin, ties → lowest centroid id — the
    same rule everywhere in the k-means/IVF family. No join, no
    shuffle: blocking a 100 TB corpus on a trained clustering is one
    projection."""
    return _assign_micro_expr(centroid_vecs, _micro(vec_col))


def kmeans_fit_centroids(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", k: int = 8,
                         iterations: int = 2,
                         pre_quantized: bool = False,
                         distinct_seeds: bool = False,
                         engine: str = "arrow") -> dict[int, list[int]]:
    """The Lloyd loop itself, returning the FINAL-round centroid dict
    (what :func:`kmeans_lloyd`'s assignment is computed against — i.e.
    the centroids after ``iterations - 1`` mean updates): {cid →
    micro-int vector}, a bounded k×dim driver artifact like a learned
    merge table. Per update round: assignment is a pure map (current
    centroids inline as literals), the mean is ONE posexplode +
    (cid, dim) partial-sum shuffle with exact integer ``div``
    truncation. A cluster that loses all members vanishes from the dict
    — deterministic in every engine. ``pre_quantized=True`` declares
    ``vec_col`` is ALREADY an array<long> of micros (e.g. PQ residuals)
    — a double round-trip would not be exact, so it must be skipped,
    never re-applied. ``distinct_seeds=True`` seeds with the first k
    DISTINCT vectors in id order (min id per distinct value) instead of
    the first k rows — required whenever the input can hold repeated
    values at low ids: PQ RESIDUALS are the motivating case (the coarse
    centroids' own residuals are all exactly zero, so plain lowest-id
    seeding hands k-means k identical zero seeds and the codebook
    collapses to one code — measured as a 6× recall loss before this
    fix). ``engine="arrow"`` (default) evaluates each round's
    assignment + partial sums in a numpy int64 kernel (bit-identical;
    the truncating mean stays in Spark SQL); ``"expr"`` keeps the
    pure-expression rounds as the reference."""
    if k < 1 or iterations < 1:
        raise ValueError("k and iterations must be >= 1")
    vexpr = (F.col(vec_col) if pre_quantized
             else _micro(F.col(vec_col)))
    base = df.select(vexpr.alias("__v"))
    if distinct_seeds:
        seeds = (df.select(vexpr.alias("__v"),
                           F.col(id_col).alias("__id"))
                 .groupBy("__v").agg(F.min("__id").alias("__mid"))
                 .orderBy("__mid").limit(k).collect())
    else:
        seeds = (df.orderBy(id_col).limit(k)
                 .select(vexpr.alias("__v")).collect())
    cents: dict[int, list[int]] = {
        cid: [int(x) for x in r["__v"]]
        for cid, r in enumerate(seeds, start=1)}
    dim = len(next(iter(cents.values()))) if cents else 0
    for _it in range(iterations - 1):
        if engine == "arrow" and cents:
            # same Arrow partial-sums pattern as the fused PQ trainer
            # (pq_codebooks_subspace_trained_multi): each batch emits
            # per-cid exact int64 element sums + counts; the bounded
            # combine and the truncating `div` mean stay in Spark SQL —
            # identical per-(cid, dim) arithmetic to the expression
            # round below
            import pandas as pd

            cid_list = sorted(cents)
            cvecs = [cents[c] for c in cid_list]
            schema = ("cid int, cnt bigint, " +
                      ", ".join(f"s{d} bigint" for d in range(dim)))

            def partials(batches):
                import numpy as np

                cids_arr = np.asarray(cid_list, dtype=np.int32)
                C = np.asarray(cvecs, dtype=np.int64)
                for pdf in batches:
                    if not len(pdf):
                        continue
                    X = np.asarray(list(pdf["__v"]), dtype=np.int64)
                    a = _np_sub_d2(X, C).argmin(axis=1)
                    rows = []
                    for j, cid in enumerate(cid_list):
                        mask = a == j
                        cnt = int(mask.sum())
                        if not cnt:
                            continue
                        rows.append((int(cids_arr[j]), cnt,
                                     *[int(x) for x in
                                       X[mask].sum(axis=0)]))
                    yield pd.DataFrame(
                        rows, columns=(["cid", "cnt"]
                                       + [f"s{d}" for d in range(dim)]))

            stats = (base.mapInPandas(partials, schema=schema)
                     .groupBy("cid")
                     .agg(*[F.expr(f"sum(s{d}) div sum(cnt)")
                            .alias(f"__m{d}") for d in range(dim)])
                     .collect())
            nxt = {int(r["cid"]): {d: int(r[f"__m{d}"])
                                   for d in range(dim)} for r in stats}
        else:
            assigned = base.select(
                "__v",
                _assign_micro_expr(cents, F.col("__v")).alias("__cid"))
            # exact integer mean: Spark's `div` truncates toward zero
            # exactly like DuckDB's `//` (-7 div 2 = -3), with NO double
            # intermediate — bit-identical at any per-cluster sum
            # magnitude, unlike a divide-then-cast whose double rounding
            # drifts past 2^53
            stats = (assigned.select(
                "__cid", F.posexplode("__v").alias("__dim", "__q"))
                .groupBy("__cid", "__dim")
                .agg(F.expr("sum(__q) div count(1)").alias("__m"))
                .collect())
            nxt = {}
            for r in stats:
                nxt.setdefault(int(r["__cid"]), {})[int(r["__dim"])] = \
                    int(r["__m"])
        cents = {cid: [dims[i] for i in range(len(dims))]
                 for cid, dims in nxt.items()}
    return cents


def kmeans_centroids(df: DataFrame, assignment: DataFrame,
                     id_col: str = "vec_id",
                     vec_col: str = "embedding") -> dict[int, list[int]]:
    """Centroid vectors of a (``id_col``, centroid_id) assignment — the
    driver artifact that feeds :func:`pq_codebook_from_centroids` and
    :func:`ivf_pq_topk`'s ``coarse`` argument, closing the
    train-then-index loop (:func:`kmeans_lloyd` → this → PQ/IVF).
    Same exact arithmetic as the Lloyd update: per-dimension micro sums
    (order-independent BIGINTs) with truncating integer ``div`` means —
    bit-identical in any engine. Plan: one join + one k·dim-row
    partial-sum shuffle; the collect is k·dim rows, bounded like a
    learned merge table. Clusters absent from the assignment simply
    don't appear (callers reindex via pq_codebook_from_centroids)."""
    joined = (df.select(F.col(id_col), _micro(F.col(vec_col)).alias("__v"))
              .join(assignment, id_col))
    stats = (joined.select(
        "centroid_id", F.posexplode("__v").alias("__dim", "__q"))
        .groupBy("centroid_id", "__dim")
        .agg(F.expr("sum(__q) div count(1)").alias("__m"))
        .collect())
    acc: dict[int, dict[int, int]] = {}
    for r in stats:
        acc.setdefault(int(r["centroid_id"]), {})[int(r["__dim"])] = \
            int(r["__m"])
    return {cid: [dims[i] for i in range(len(dims))]
            for cid, dims in acc.items()}


def brute_force_l2_topk(queries: DataFrame, corpus: DataFrame, k: int = 3,
                        query_id: str = "query_id",
                        corpus_id: str = "corpus_id",
                        vec_col: str = "embedding",
                        match_cols: Sequence[str] = ()) -> DataFrame:
    """EXACT squared-L2 top-``k`` over integer-micro components — the
    exact baseline the PQ/ADC family approximates (ADC estimates THIS
    distance through codes, so recall must be measured against it, not
    against cosine). Every distance is an exact BIGINT: rankings are
    engine-portable with zero float caveats. Plan: broadcast the
    (small) query side, pure-map distances over the corpus — the corpus
    partitioning is never touched — one per-query window top-k. Ties →
    lowest corpus id; self-pairs excluded. Returns (query_id,
    corpus_id, l2_d2, rank).

    ``match_cols`` names columns present in BOTH frames that must be
    EQUAL for a corpus row to be eligible (the filtered-search exact
    baseline: top-k among the query's own tenant/category only) — the
    equality rides the same broadcast join, so the filter costs
    nothing extra."""
    q = queries.select(F.col(query_id), _micro(F.col(vec_col)).alias("__qv"),
                       *[F.col(m).alias(f"__q_{m}") for m in match_cols])
    c = corpus.select(F.col(corpus_id), _micro(F.col(vec_col)).alias("__cv"),
                      *[F.col(m) for m in match_cols])
    cond = F.col(query_id) != F.col(corpus_id)
    for m in match_cols:
        cond = cond & (F.col(m) == F.col(f"__q_{m}"))
    d2 = F.aggregate(
        F.zip_with("__qv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (c.join(F.broadcast(q), cond)
              .select(query_id, corpus_id, d2.alias("l2_d2")))
    w = Window.partitionBy(query_id).orderBy("l2_d2", corpus_id)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def exact_rerank(cands: DataFrame, queries: DataFrame, corpus: DataFrame,
                 k: int = 3, query_id: str = "query_id",
                 corpus_id: str = "corpus_id",
                 vec_col: str = "embedding") -> DataFrame:
    """Second stage of TWO-STAGE retrieval: re-score an ANN candidate
    SHORTLIST (``cands``: (query_id, corpus_id) from e.g.
    :func:`ivf_pq_topk` with k' > k) by the EXACT integer-micro squared
    L2 and keep the top ``k`` per query — the standard
    shortlist-then-rerank shape that buys back compression recall at the
    cost of k' exact distances per query instead of |corpus|. Same
    distance/tie contract as :func:`brute_force_l2_topk` (exact BIGINTs,
    ties → lowest corpus id), so reranked results are directly
    comparable to the exact baseline. Returns (query_id, corpus_id,
    l2_d2, rank).

    Plan: the shortlist is answer-sized (|queries|·k') — BROADCAST it
    into one pure-map pass over the corpus (the corpus never shuffles,
    exactly like the baseline scorer), then broadcast the small query
    side onto the surviving rows; one per-query window top-k over k'
    candidates."""
    c = corpus.select(F.col(corpus_id), _micro(F.col(vec_col)).alias("__cv"))
    q = queries.select(F.col(query_id), _micro(F.col(vec_col)).alias("__qv"))
    short = (c.join(F.broadcast(cands.select(query_id, corpus_id)),
                    corpus_id)
             .join(F.broadcast(q), query_id))
    d2 = F.aggregate(
        F.zip_with("__qv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = short.select(query_id, corpus_id, d2.alias("l2_d2"))
    w = Window.partitionBy(query_id).orderBy("l2_d2", corpus_id)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def assign_nearest_centroid(df: DataFrame, centroids: DataFrame,
                            id_col: str = "vec_id",
                            vec_col: str = "embedding",
                            cid_col: str = "centroid_id") -> DataFrame:
    """Nearest-centroid assignment with an engine-portable deterministic
    argmin: components quantize to integer micros, so squared distances are
    exact bigints and ties break on centroid id identically everywhere.

    ``centroids`` is (cid_col, vec_col) and is broadcast — the corpus never
    shuffles; k·|corpus| distance rows reduce through a per-vector window
    argmin. One Lloyd iteration = this + a grouped mean (see
    ``embedding_centroids``); SemDeDup-style semantic dedup uses the
    assignment as its blocking key (`semantic_dedup_survivors`).
    """
    quant = F.transform(F.col(vec_col),
                        lambda v: F.floor(v.cast("double") * 1e6).cast("long"))
    q = df.select(F.col(id_col), quant.alias("__q"))
    cents = centroids.select(F.col(cid_col).alias("__cid"),
                             quant.alias("__cq"))
    d2 = F.aggregate(
        F.zip_with("__q", "__cq", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    dists = q.crossJoin(F.broadcast(cents)).select(
        id_col, "__cid", d2.alias("__d2"))
    # nulls LAST: a dimension-mismatched vector/centroid pair yields a NULL
    # distance (zip_with pads with NULL), and Spark's default NULLS FIRST
    # would silently crown it the argmin — also aligns with the SQL
    # oracle's NULLS LAST ordering
    w = Window.partitionBy(id_col).orderBy(F.asc_nulls_last("__d2"), "__cid")
    return (dists.withColumn("__rn", F.row_number().over(w))
            .filter(F.col("__rn") == 1)
            .select(id_col, F.col("__cid").alias(cid_col)))


def semantic_dedup_survivors(df: DataFrame, centroids: DataFrame,
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.9) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster by nearest centroid, find
    embedding-cosine pairs ≥ threshold *within* each cluster, and greedily
    prune every vector that duplicates a lower-id survivor-candidate —
    returns (id_col, centroid_id) for the surviving vectors.

    Scale shape: centroid assignment broadcasts the centroid set (corpus
    never shuffles); the pair stage is the blocked cosine self-join of
    ``dedup.embedding_near_dup_pairs`` — Σ|cluster|² pairs, so the caller
    sizes the centroid count to bound cluster populations (SemDeDup uses
    k ≈ √N clusters; tiny k here only suits tiny corpora). Pruning is the
    deterministic min-id greedy: any id appearing as the greater element of
    a ≥-threshold pair is dropped, ids only survive against the full
    cluster, so reruns are stable under partitioning.
    """
    from .dedup import embedding_near_dup_pairs

    assigned = assign_nearest_centroid(df, centroids, id_col=id_col,
                                       vec_col=vec_col)
    clustered = df.select(id_col, vec_col).join(assigned, id_col)
    pairs = embedding_near_dup_pairs(clustered, id_col=id_col,
                                     vec_col=vec_col,
                                     block_col="centroid_id",
                                     threshold=threshold)
    dups = pairs.select(F.col("id_b").alias(id_col))
    return clustered.join(dups, id_col, "left_anti").select(
        id_col, "centroid_id")


def ivf_pq_encode_corpus(corpus: DataFrame, codebook: dict,
                         coarse: dict[int, list[int]],
                         corpus_id: str = "corpus_id",
                         vec_col: str = "embedding",
                         engine: str = "arrow") -> DataFrame:
    """The INDEX-BUILD pass of IVFADC, exposed as a materializable
    artifact: one pure-map projection gives every corpus row its
    inverted-list id AND its PQ codes — (``corpus_id``, ``list_id``,
    ``pq_codes array<int>``). This is the expensive pass over the full
    corpus; persist its output (parquet, partitioned by ``list_id`` at
    scale) and every later search touches only these m-byte rows — the
    raw vectors are never re-read. Identical arithmetic to
    :func:`ivf_pq_candidates`' coding (``engine="arrow"`` numpy int64
    kernel by default, the ``"expr"`` expression plan as reference —
    both bit-identical), so a persisted index and an in-session search
    agree bit-for-bit."""
    if engine == "arrow":
        import pandas as pd

        m, _kc, d_sub = _pq_shape(codebook)
        id_type = corpus.schema[corpus_id].dataType.simpleString()
        schema = (f"{corpus_id} {id_type}, list_id int, "
                  f"pq_codes array<int>")
        coarse_cids = sorted(coarse)
        coarse_rows = [coarse[c] for c in coarse_cids]
        subs = [[codebook[(s, cid)] for cid in _sub_cids(codebook, s)]
                for s in range(1, m + 1)]
        src = corpus.select(F.col(corpus_id), F.col(vec_col))

        def code_assign(batches):
            import numpy as np

            cids_arr = np.asarray(coarse_cids, dtype=np.int32)
            Cc = np.asarray(coarse_rows, dtype=np.int64)
            for pdf in batches:
                n = len(pdf)
                if not n:
                    continue
                X = _np_micro(pdf[vec_col])
                lists = cids_arr[_np_sub_d2(X, Cc).argmin(axis=1)]
                codes = np.empty((n, m), dtype=np.int32)
                for s in range(1, m + 1):
                    C = np.asarray(subs[s - 1], dtype=np.int64)
                    codes[:, s - 1] = _np_sub_d2(
                        X[:, (s - 1) * d_sub:s * d_sub], C
                    ).argmin(axis=1) + 1
                yield pd.DataFrame({corpus_id: pdf[corpus_id],
                                    "list_id": lists,
                                    "pq_codes": list(codes)})

        return src.mapInPandas(code_assign, schema=schema)
    cv = _micro(F.col(vec_col))
    return corpus.select(
        F.col(corpus_id),
        F.element_at(_coarse_assign(cv, coarse, 1), 1).alias("list_id"),
        F.array(*_pq_code_columns(cv, codebook)).alias("pq_codes"))


def codebook_to_table(spark, codebook: dict) -> DataFrame:
    """PQ codebook as a persistable TABLE — (sub, cid, centroid
    array<long>), m·k rows. With :func:`coarse_to_table` and
    :func:`ivf_pq_encode_corpus` these three relations ARE the ANN
    index: parquet round-trips them losslessly (exact integer micros,
    no float re-derivation on load)."""
    return spark.createDataFrame(
        [(s, c, list(v)) for (s, c), v in sorted(codebook.items())],
        "sub int, cid int, centroid array<long>")


def codebook_from_table(table: DataFrame) -> dict[tuple[int, int], list[int]]:
    """Load a persisted codebook table back into the driver-artifact
    form every search operator takes. Bounded collect (m·k rows)."""
    return {(r.sub, r.cid): [int(x) for x in r.centroid]
            for r in table.collect()}


def coarse_to_table(spark, coarse: dict[int, list[int]]) -> DataFrame:
    """Coarse-quantizer centroids as a persistable TABLE — (cid,
    centroid array<long>), n rows."""
    return spark.createDataFrame(
        [(c, list(v)) for c, v in sorted(coarse.items())],
        "cid int, centroid array<long>")


def coarse_from_table(table: DataFrame) -> dict[int, list[int]]:
    """Load a persisted coarse-centroid table back into driver form.
    Bounded collect (n_centroids rows)."""
    return {r.cid: [int(x) for x in r.centroid] for r in table.collect()}


def ivf_pq_search_coded(queries: DataFrame, coded: DataFrame,
                        codebook: dict, coarse: dict[int, list[int]],
                        k: int = 3, nprobe: int = 2,
                        query_id: str = "query_id",
                        corpus_id: str = "corpus_id",
                        vec_col: str = "embedding") -> DataFrame:
    """IVFADC SEARCH over a PERSISTED index — the serve path of the
    build/serve split: ``coded`` is :func:`ivf_pq_encode_corpus` output
    read back from storage, and the corpus embeddings are NOWHERE in
    this plan — per query it reads |corpus|·nprobe/n_centroids rows of
    m-byte codes, the IO shape that makes 100 TB ANN serveable.

    The query side is COLLECTED to the driver (one bounded collect: it
    is the small side of the broadcast join below, so it is already
    answer-sized) and its probe lists and per-subspace ADC lookup tables
    are built there by :func:`_np_probes_luts` — the same exact int64
    kernels as :func:`ivf_pq_encode_corpus`. They reach the plan as one
    local (query, probe) table — ``query_id``, ``list_id``,
    ``__lut_1..__lut_m`` — so no per-request expression plan over the
    codebook is built or run. Queries with a null embedding probe no
    list and return nothing. The corpus side stays lazy and
    distributed: the list-id equi-join with the probe table broadcast,
    m ``element_at`` lookups per candidate, one window top-k. Results
    are bit-identical to :func:`ivf_pq_topk` over the same artifacts
    (the ``ann_index_persisted`` registry query shares the in-session
    twin's oracle verbatim)."""
    import pandas as pd

    if nprobe < 1:
        raise ValueError(f"ivf_pq_search_coded: nprobe={nprobe} < 1")
    m = _pq_shape(codebook)[0]
    rows = [r for r in queries.select(query_id, vec_col).collect()
            if r[1] is not None]
    lut_cols = [f"__lut_{s}" for s in range(1, m + 1)]
    probe = {query_id: [], "list_id": [], **{c: [] for c in lut_cols}}
    if rows:
        lists, luts = _np_probes_luts([r[1] for r in rows], codebook,
                                      coarse, nprobe)
        n_probe = lists.shape[1]
        probe[query_id] = [r[0] for r in rows for _ in range(n_probe)]
        probe["list_id"] = lists.ravel()
        for c, lut in zip(lut_cols, luts):
            probe[c] = list(lut.repeat(n_probe, axis=0))
    id_type = queries.schema[query_id].dataType.simpleString()
    schema = ", ".join([f"{query_id} {id_type}", "list_id int"]
                       + [f"{c} array<bigint>" for c in lut_cols])
    probes = queries.sparkSession.createDataFrame(pd.DataFrame(probe),
                                                  schema)
    cand = coded.join(F.broadcast(probes), "list_id") \
        .filter(F.col(query_id) != F.col(corpus_id))
    total = F.lit(0).cast("long")
    for s in range(1, m + 1):
        total = total + F.element_at(
            F.col(f"__lut_{s}"), F.element_at(F.col("pq_codes"), s))
    scored = cand.select(query_id, corpus_id, total.alias("adc_dist"))
    w = Window.partitionBy(query_id).orderBy("adc_dist", corpus_id)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def dim_energy_permutation(corpus: DataFrame,
                           vec_col: str = "embedding",
                           m: int = 4) -> list[int]:
    """ENERGY-BALANCED dimension permutation for PQ — the deterministic
    OPQ-lite layout step: per-dimension total squared micro energy
    (one posexplode partial agg, dim-bounded result), dims ranked by
    energy descending (ties → lower dim index) and SNAKE-dealt into the
    ``m`` subspaces (1,2,…,m,m,…,2,1,…) so every subspace carries a
    near-equal energy share — natural slicing hands whole
    high-variance blocks to one subspace, whose k centroids then
    quantize most of the corpus's spread alone while low-energy
    subspaces waste codes. Within a subspace dims keep ascending
    original order (canonical). Returns the permutation as 0-based
    ORIGINAL positions in output order: permuted[j] = vec[perm[j]].

    Exact squared L2 is permutation-invariant, so the exact baseline
    never moves — only ADC quality does; the ``ann_dim_permute_recall``
    registry query measures the effect. Σx² stays in BIGINT at any
    corpus size a probe reaches (micros ≤ ~1e6 ⇒ 1e12/row/dim)."""
    en = (corpus.select(F.posexplode(_micro(F.col(vec_col)))
                        .alias("__d", "__x"))
          .groupBy("__d")
          .agg(F.sum(F.col("__x") * F.col("__x")).alias("__en"))
          .collect())
    if not en:
        raise ValueError("dim_energy_permutation: empty corpus")
    if len(en) % m != 0:
        raise ValueError(f"dim {len(en)} not divisible by m={m}")
    ranked = sorted(en, key=lambda r: (-r["__en"], r["__d"]))
    groups: list[list[int]] = [[] for _ in range(m)]
    for idx, r in enumerate(ranked):
        rnd, pos = divmod(idx, m)
        sub = pos if rnd % 2 == 0 else m - 1 - pos
        groups[sub].append(r["__d"])
    return [d for g in groups for d in sorted(g)]


def apply_dim_permutation(df: DataFrame, perm: Sequence[int],
                          vec_col: str = "embedding") -> DataFrame:
    """Reorder a vector column by a 0-based position permutation (pure
    map — ``element_at`` per output slot, no shuffle). Composes with
    the whole PQ family: train/encode/search on the permuted frame,
    exact-L2 baselines are invariant."""
    return df.withColumn(
        vec_col,
        F.array(*[F.element_at(F.col(vec_col), p + 1) for p in perm]))
