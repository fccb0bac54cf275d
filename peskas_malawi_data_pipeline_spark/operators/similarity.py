"""Similarity search over embedding columns (array<float>).

One nearest-neighbour engine on integer-micro squared L2: product
quantization searched by ADC, over coarse IVF inverted lists or flat, with
:func:`brute_force_l2_topk` as its exact baseline and :func:`exact_rerank`
as its second stage. Every distance is an exact BIGINT, so rankings are
engine-portable. Nearest-centroid work (k-means, PQ codes, IVF lists) runs
through one numpy ``mapInPandas`` kernel, :func:`_pq_code_frame`.
:func:`dot` and :func:`l2_norm` (higher-order functions, evaluated in the
JVM) serve the cosine of ``dedup.embedding_near_dup_pairs``.
"""

from __future__ import annotations

from typing import Sequence

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F


def dot(a: Column, b: Column) -> Column:
    """Σ aᵢ·bᵢ via zip_with + aggregate (JVM-evaluated)."""
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y),
                       F.lit(0.0), lambda acc, v: acc + v)


def l2_norm(a: Column) -> Column:
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x),
                              F.lit(0.0), lambda acc, v: acc + v))


def _micro(col: Column) -> Column:
    """Component-wise integer-micro quantization: squared distances over
    micros are exact BIGINTs, so argmins and rankings are engine-portable
    with no float-order caveats at all."""
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
    return pq_codebook_from_centroids(
        _lowest_id_vectors(corpus, corpus_id, vec_col, k_centroids,
                           "pq_codebook"), m)


def _lowest_id_vectors(df: DataFrame, id_col: str, vec_col: str, n: int,
                       caller: str) -> dict[int, list[int]]:
    """The ``n`` lowest-id non-null vectors as {1..n → micro-int vector}
    — the deterministic seed of every codebook, coarse quantizer and
    Lloyd run (a null vector is in no cluster, so it seeds none). One
    bounded collect; an empty (or all-null) frame raises."""
    rows = (df.where(F.col(vec_col).isNotNull()).orderBy(id_col).limit(n)
            .select(_micro(F.col(vec_col)).alias("__v")).collect())
    if not rows:
        raise ValueError(f"{caller}: empty corpus")
    return {cid: [int(x) for x in r["__v"]]
            for cid, r in enumerate(rows, start=1)}


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


def pq_encode(df: DataFrame, codebook: dict,
              id_col: str = "vec_id",
              vec_col: str = "embedding") -> DataFrame:
    """PQ ENCODE: each vector compressed to ``m`` centroid ids — the
    memory/IO compression that lets a 100 TB embedding corpus keep its
    search structure in RAM (m bytes instead of dim·4). Per subspace the
    code is the exact-integer argmin of squared micro distance to the
    codebook (ties → lowest centroid id), computed by the family's one
    coding kernel :func:`_pq_code_frame`. Pure map: the codebook ships
    with the kernel, the corpus never shuffles. Returns (``id_col``,
    pq_codes array<int>, pq_packed long — codes radix-packed for exact
    cross-engine comparison and compact storage); a null vector gets
    null codes."""
    m, k, _d_sub = _pq_shape(codebook)
    codes = F.col("pq_codes")
    packed = F.element_at(codes, 1).cast("long") - 1
    for s in range(2, m + 1):
        packed = packed + ((F.element_at(codes, s).cast("long") - 1)
                           * (k ** (s - 1)))
    return (_pq_code_frame(df, codebook, id_col, vec_col)
            .select(F.col(id_col), codes, packed.alias("pq_packed")))


def pq_adc_topk(queries: DataFrame, corpus: DataFrame, codebook: dict,
                k: int = 3, query_id: str = "query_id",
                corpus_id: str = "corpus_id",
                vec_col: str = "embedding") -> DataFrame:
    """PQ search with ASYMMETRIC DISTANCE (ADC): corpus rows are scored
    through their codes only — dist(q, x) ≈ Σ_sub d²(q_sub,
    codebook[sub][code_sub]) — so the full corpus vectors are never read
    at query time; all arithmetic is exact-integer micros. Top-``k``
    smallest per query, ties → lowest corpus id, self-pairs excluded.

    This is :func:`ivf_pq_topk` with ONE inverted list (a single coarse
    centroid, ``nprobe=1``): every coded corpus row is a candidate of
    every query — |corpus|·|queries| candidates like brute force, but m
    integer lookups each instead of dim multiplies, the classic PQ
    trade. Each query's ADC lookup table is built once in driver numpy
    (:func:`_np_probes_luts`), so it shares the serve path's plan.
    Returns (query_id, corpus_id, adc_dist, rank)."""
    m, _kc, d_sub = _pq_shape(codebook)
    return ivf_pq_topk(queries, corpus, codebook, {1: [0] * (m * d_sub)},
                       k=k, nprobe=1, query_id=query_id,
                       corpus_id=corpus_id, vec_col=vec_col)


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
    cid — the (d², cid) order of :func:`_pq_code_frame`'s list ids."""
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


def _pq_code_frame(df: DataFrame, codebook: dict | None, id_col: str,
                   vec_col: str, coarse: dict[int, list[int]] | None = None,
                   keep_cols: Sequence[str] = ()) -> DataFrame:
    """The one nearest-centroid kernel of the k-means/PQ/IVF family —
    behind :func:`pq_encode`, :func:`ivf_pq_encode_corpus`,
    :func:`ivf_pq_candidates` and :func:`kmeans_assign` alike, so the
    index build, the in-session search, the encoder and the clustering
    agree bit for bit. One numpy ``mapInPandas`` pass returns
    (``id_col``, [``list_id`` int,] [``pq_codes`` array<int>,]
    *``keep_cols``): with ``coarse`` the list id is the exact int64
    argmin of squared micro distance over the cid-sorted centroids
    (argmin's first minimum = the lowest cid on a tie); with a
    ``codebook`` the code of each subspace is the same argmin over the
    :func:`_sub_cids`-ordered centroids (a code IS that position + 1,
    ragged codebooks included). A null vector keeps its row with a null
    list id and null codes."""
    import pandas as pd

    m, _k, d_sub = _pq_shape(codebook) if codebook else (0, 0, 0)

    def typed(c: str) -> str:
        return f"{c} {df.schema[c].dataType.simpleString()}"

    lists = ["list_id int"] if coarse else []
    codes_t = ["pq_codes array<int>"] if codebook else []
    schema = ", ".join([typed(id_col), *lists, *codes_t,
                        *[typed(c) for c in keep_cols]])
    coarse_cids = sorted(coarse or {})
    coarse_rows = [coarse[c] for c in coarse_cids]
    dim = len(coarse_rows[0]) if coarse else m * d_sub
    subs = [[codebook[(s, cid)] for cid in _sub_cids(codebook, s)]
            for s in range(1, m + 1)]
    # a kept vector column (keep_cols=[vec_col]) is read once
    src = df.select(*dict.fromkeys([id_col, vec_col, *keep_cols]))

    def code(batches):
        import numpy as np

        cids_arr = np.asarray(coarse_cids, dtype=np.int32)
        Cc = np.asarray(coarse_rows, dtype=np.int64)
        Cs = [np.asarray(sub, dtype=np.int64) for sub in subs]

        def spread(present, vals):
            # a null vector's row keeps None in every output column
            col = [None] * len(present)
            for i, v in zip(np.flatnonzero(present), vals):
                col[i] = v
            return col

        for pdf in batches:
            if not len(pdf):
                continue
            present = pdf[vec_col].notna().to_numpy()
            X = _np_micro(pdf[vec_col][present]).reshape(-1, dim)
            out = {id_col: pdf[id_col]}
            if coarse:
                out["list_id"] = spread(present, cids_arr[
                    _np_sub_d2(X, Cc).argmin(axis=1)].tolist())
            if codebook:
                codes = np.empty((len(X), m), dtype=np.int32)
                for s in range(1, m + 1):
                    codes[:, s - 1] = _np_sub_d2(
                        X[:, (s - 1) * d_sub:s * d_sub], Cs[s - 1]
                    ).argmin(axis=1) + 1
                out["pq_codes"] = spread(present, codes)
            for c in keep_cols:
                out[c] = pdf[c]
            yield pd.DataFrame(out)

    return src.mapInPandas(code, schema=schema)


def kmeans_assign(df: DataFrame, centroid_vecs: dict[int, list[int]],
                  id_col: str = "vec_id", vec_col: str = "embedding",
                  keep_cols: Sequence[str] = ()) -> DataFrame:
    """Nearest-centroid assignment against driver-artifact micro-int
    centroids: (``id_col``, centroid_id int, *``keep_cols``) by exact
    integer d² argmin, ties → lowest centroid id — the same rule and
    the same kernel (:func:`_pq_code_frame`) as every coarse list id in
    the k-means/IVF family. A pure map: no join, no shuffle. A null
    vector gets a null centroid id."""
    return (_pq_code_frame(df, None, id_col, vec_col, coarse=centroid_vecs,
                           keep_cols=keep_cols)
            .withColumnRenamed("list_id", "centroid_id"))


def ivf_coarse_centroids(corpus: DataFrame, corpus_id: str = "corpus_id",
                         vec_col: str = "embedding",
                         n_centroids: int = 8) -> dict[int, list[int]]:
    """Coarse-quantizer centroids as a driver artifact (same stance as
    :func:`pq_codebook`): {centroid_id 1..n → micro-int vector}, the
    ``n_centroids`` lowest-id corpus vectors. Bounded collect; swap in
    offline k-means for better recall at equal cost."""
    return _lowest_id_vectors(corpus, corpus_id, vec_col, n_centroids,
                              "ivf_coarse_centroids")


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

    This is the serve path (:func:`ivf_pq_search_coded`) over an index
    built in memory (:func:`ivf_pq_encode_corpus`): one pure-map pass
    gives each corpus row its list id and codes, and the query side is
    the serve path's driver-built probe table. Returns (query_id,
    corpus_id, adc_dist, rank)."""
    return ivf_pq_search_coded(
        queries, ivf_pq_encode_corpus(corpus, codebook, coarse, corpus_id,
                                      vec_col),
        codebook, coarse, k=k, nprobe=nprobe, query_id=query_id,
        corpus_id=corpus_id, vec_col=vec_col)


def ivf_pq_candidates(queries: DataFrame, corpus: DataFrame,
                      codebook: dict, coarse: dict[int, list[int]],
                      nprobe: int = 2, query_id: str = "query_id",
                      corpus_id: str = "corpus_id",
                      vec_col: str = "embedding",
                      keep_cols: Sequence[str] = ()) -> DataFrame:
    """The CANDIDATE stage of :func:`ivf_pq_topk`, exposed so a tuning
    sweep can pay the corpus code/assign pass ONCE at the widest
    ``nprobe`` and derive every narrower setting by filtering: returns
    (query_id, corpus_id, adc_dist, probe_rank), where ``probe_rank`` is
    the 1-based position of the candidate's inverted list in the query's
    nearest-list order — a corpus row belongs to exactly one list, so
    ``filter(probe_rank <= p)`` IS the nprobe=p candidate set, with no
    duplicates and no recomputation. Plan: one corpus code/assign map
    pass (:func:`_pq_code_frame`) joined to the serve path's
    driver-built probe table (:func:`_ivf_pq_probe_join`).
    ``keep_cols`` rides extra corpus columns through the coded
    projection onto the candidate rows (production puts filterable
    attributes IN the index — the filtered-search shape) at zero extra
    shuffles."""
    coded = _pq_code_frame(corpus, codebook, corpus_id, vec_col,
                           coarse=coarse, keep_cols=keep_cols)
    return _ivf_pq_probe_join(queries, coded, codebook, coarse, nprobe,
                              query_id, corpus_id, vec_col, keep_cols)


def kmeans_lloyd(df: DataFrame, id_col: str = "vec_id",
                 vec_col: str = "embedding", k: int = 8,
                 iterations: int = 2) -> DataFrame:
    """Deterministic Lloyd k-means over micro-int components — the
    "offline k-means codebook" step the IVF/PQ docstrings point at, with
    NO RNG anywhere: seeds are the ``k`` lowest-id vectors, assignment is
    the exact-integer d² argmin (ties → lowest centroid id), and the
    update is the per-dimension micro mean with integer-``div``
    truncation (bigint sums are order-independent, so the result is
    stable under any partitioning and bit-identical in any engine). A
    cluster that loses all members simply vanishes from the next round's
    centroid set — deterministic in both engines, documented rather than
    re-seeded.

    Plan per update round (:func:`kmeans_fit_centroids`): one numpy
    assign + partial-sum map pass and ONE k-row shuffle; the final
    assignment is the same numpy kernel as a pure map
    (:func:`kmeans_assign` against the k×dim centroid artifact). Returns
    the FINAL assignment (``id_col``, centroid_id) after ``iterations``
    rounds — a null vector is in no cluster and gets a null centroid
    id; feed the final centroids to :func:`ivf_pq_topk` machinery by
    re-deriving them from the assignment when needed.
    """
    return kmeans_assign(
        df, kmeans_fit_centroids(df, id_col=id_col, vec_col=vec_col, k=k,
                                 iterations=iterations),
        id_col=id_col, vec_col=vec_col)


def kmeans_fit_centroids(df: DataFrame, id_col: str = "vec_id",
                         vec_col: str = "embedding", k: int = 8,
                         iterations: int = 2) -> dict[int, list[int]]:
    """The Lloyd loop itself, returning the FINAL-round centroid dict
    (what :func:`kmeans_lloyd`'s assignment is computed against — i.e.
    the centroids after ``iterations - 1`` mean updates): {cid →
    micro-int vector}, a bounded k×dim driver artifact like a learned
    merge table. Seeds are the ``k`` lowest-id vectors; null vectors
    join no cluster, and an empty frame raises ``ValueError`` like
    :func:`pq_codebook`. Per update round a
    numpy int64 ``mapInPandas`` kernel assigns each row (exact d²
    argmin, ties → lowest cid) and emits per-cid partial element sums
    and counts; the bounded combine and the truncating ``div`` mean stay
    in Spark SQL. Spark's ``div`` truncates toward zero exactly like
    DuckDB's ``//`` (-7 div 2 = -3), with NO double intermediate —
    bit-identical at any per-cluster sum magnitude. A cluster that loses
    all members vanishes from the dict — deterministic in every
    engine."""
    import pandas as pd

    if k < 1 or iterations < 1:
        raise ValueError("k and iterations must be >= 1")
    cents = _lowest_id_vectors(df, id_col, vec_col, k,
                               "kmeans_fit_centroids")
    dim = len(cents[1])
    base = df.where(F.col(vec_col).isNotNull()).select(
        _micro(F.col(vec_col)).alias("__v"))
    schema = ("cid int, cnt bigint, " +
              ", ".join(f"s{d} bigint" for d in range(dim)))
    for _it in range(iterations - 1):
        cid_list = sorted(cents)
        cvecs = [cents[c] for c in cid_list]

        def partials(batches):
            import numpy as np

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
                    rows.append((cid, cnt,
                                 *[int(x) for x in X[mask].sum(axis=0)]))
                yield pd.DataFrame(
                    rows, columns=(["cid", "cnt"]
                                   + [f"s{d}" for d in range(dim)]))

        stats = (base.mapInPandas(partials, schema=schema)
                 .groupBy("cid")
                 .agg(*[F.expr(f"sum(s{d}) div sum(cnt)")
                        .alias(f"__m{d}") for d in range(dim)])
                 .collect())
        cents = {int(r["cid"]): [int(r[f"__m{d}"]) for d in range(dim)]
                 for r in stats}
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


def _l2_rank(pairs: DataFrame, k: int, query_id: str,
             corpus_id: str) -> DataFrame:
    """Exact squared L2 of each pair's micro vectors ``__qv``/``__cv``,
    top-``k`` per query, ties → lowest corpus id. NULL distances are
    dropped before the window, which would otherwise rank them first."""
    d2 = F.aggregate(
        F.zip_with("__qv", "__cv", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    scored = (pairs.select(query_id, corpus_id, d2.alias("l2_d2"))
              .filter(F.col("l2_d2").isNotNull()))
    w = Window.partitionBy(query_id).orderBy("l2_d2", corpus_id)
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


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
    nothing extra.

    A NULL vector (or one with a NULL component) has a NULL distance and
    is never a neighbour; a NULL query gets no rows."""
    q = queries.select(F.col(query_id), _micro(F.col(vec_col)).alias("__qv"),
                       *[F.col(m).alias(f"__q_{m}") for m in match_cols])
    c = corpus.select(F.col(corpus_id), _micro(F.col(vec_col)).alias("__cv"),
                      *[F.col(m) for m in match_cols])
    cond = F.col(query_id) != F.col(corpus_id)
    for m in match_cols:
        cond = cond & (F.col(m) == F.col(f"__q_{m}"))
    return _l2_rank(c.join(F.broadcast(q), cond), k, query_id, corpus_id)


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
    comparable to the exact baseline, NULL vectors included. Returns
    (query_id, corpus_id, l2_d2, rank).

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
    return _l2_rank(short, k, query_id, corpus_id)


def semantic_dedup_survivors(df: DataFrame,
                             centroid_vecs: dict[int, list[int]],
                             id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             threshold: float = 0.9) -> DataFrame:
    """SemDeDup-style semantic dedup: cluster by nearest centroid, find
    embedding-cosine pairs ≥ threshold *within* each cluster, and greedily
    prune every vector that duplicates a lower-id survivor-candidate —
    returns (id_col, centroid_id) for the surviving vectors.

    ``centroid_vecs`` is the bounded {centroid id → micro-int vector}
    driver artifact that :func:`kmeans_assign` takes — seed vectors, or
    the output of :func:`kmeans_fit_centroids` for a trained clustering.
    Assignment is one pure map (no join; the corpus never shuffles). A
    null vector gets a null centroid id and survives. The
    pair stage is the blocked cosine self-join of
    ``dedup.embedding_near_dup_pairs`` — Σ|cluster|² pairs, so the caller
    sizes the centroid count to bound cluster populations (SemDeDup uses
    k ≈ √N clusters; tiny k here only suits tiny corpora). Pruning is the
    deterministic min-id greedy: any id appearing as the greater element of
    a ≥-threshold pair is dropped, ids only survive against the full
    cluster, so reruns are stable under partitioning.
    """
    from .dedup import embedding_near_dup_pairs

    clustered = kmeans_assign(df, centroid_vecs, id_col=id_col,
                              vec_col=vec_col, keep_cols=[vec_col])
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
                         vec_col: str = "embedding") -> DataFrame:
    """The INDEX-BUILD pass of IVFADC, exposed as a materializable
    artifact: one pure-map pass gives every corpus row its inverted-list
    id AND its PQ codes — (``corpus_id``, ``list_id``, ``pq_codes
    array<int>``). This is the expensive pass over the full corpus;
    persist its output (parquet, partitioned by ``list_id`` at scale)
    and every later search touches only these m-byte rows — the raw
    vectors are never re-read. It runs the same coding kernel as
    :func:`ivf_pq_candidates` (:func:`_pq_code_frame`), so a persisted
    index and an in-session search agree bit-for-bit. A null vector
    keeps its row with a null list id and null codes."""
    return _pq_code_frame(corpus, codebook, corpus_id, vec_col,
                          coarse=coarse)


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
    m-byte codes, the IO shape that makes 100 TB ANN serveable. The
    candidates are :func:`_ivf_pq_probe_join`'s; one window keeps the
    top ``k`` per query by (adc_dist, corpus id). Every PQ/IVF search
    (:func:`ivf_pq_topk`, :func:`pq_adc_topk`) is this plan. Returns
    (query_id, corpus_id, adc_dist, rank)."""
    scored = _ivf_pq_probe_join(queries, coded, codebook, coarse, nprobe,
                                query_id, corpus_id, vec_col)
    w = Window.partitionBy(query_id).orderBy("adc_dist", corpus_id)
    return (scored.drop("probe_rank")
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def _ivf_pq_probe_join(queries: DataFrame, coded: DataFrame,
                       codebook: dict, coarse: dict[int, list[int]],
                       nprobe: int, query_id: str, corpus_id: str,
                       vec_col: str,
                       keep_cols: Sequence[str] = ()) -> DataFrame:
    """The one candidate builder of every PQ/IVF search: (query_id,
    corpus_id, adc_dist, probe_rank, *``keep_cols``) over any coded
    frame carrying ``list_id`` and ``pq_codes``.

    The query side is COLLECTED to the driver (one bounded collect: it
    is the small side of the broadcast join below, so it is already
    answer-sized) and its probe lists and per-subspace ADC lookup tables
    are built there by :func:`_np_probes_luts` — the same exact int64
    arithmetic as the coding kernel. They reach the plan as one local
    (query, probe) table — ``query_id``, ``list_id``, ``probe_rank``,
    ``__lut_1..__lut_m`` — so no per-request expression plan over the
    codebook is built or run. A query with a null embedding probes no
    list and returns nothing; a corpus row with a null embedding has a
    null list id and joins no probe. The corpus side stays lazy and
    distributed: the list-id equi-join with the probe table broadcast,
    self-pairs dropped, m ``element_at`` lookups per candidate.
    ``nprobe`` < 1 raises."""
    import numpy as np
    import pandas as pd

    if nprobe < 1:
        raise ValueError(f"IVF-PQ search: nprobe={nprobe} < 1")
    m = _pq_shape(codebook)[0]
    rows = [r for r in queries.select(query_id, vec_col).collect()
            if r[1] is not None]
    lut_cols = [f"__lut_{s}" for s in range(1, m + 1)]
    probe = {query_id: [], "list_id": [], "probe_rank": [],
             **{c: [] for c in lut_cols}}
    if rows:
        lists, luts = _np_probes_luts([r[1] for r in rows], codebook,
                                      coarse, nprobe)
        n_probe = lists.shape[1]
        probe[query_id] = [r[0] for r in rows for _ in range(n_probe)]
        probe["list_id"] = lists.ravel()
        probe["probe_rank"] = np.tile(
            np.arange(1, n_probe + 1, dtype=np.int32), len(rows))
        for c, lut in zip(lut_cols, luts):
            probe[c] = lut.repeat(n_probe, axis=0).tolist()
    id_type = queries.schema[query_id].dataType.simpleString()
    schema = ", ".join([f"{query_id} {id_type}", "list_id int",
                        "probe_rank int"]
                       + [f"{c} array<bigint>" for c in lut_cols])
    probes = queries.sparkSession.createDataFrame(pd.DataFrame(probe),
                                                  schema)
    cand = coded.join(F.broadcast(probes), "list_id") \
        .filter(F.col(query_id) != F.col(corpus_id))
    total = F.lit(0).cast("long")
    for s in range(1, m + 1):
        total = total + F.element_at(
            F.col(f"__lut_{s}"), F.element_at(F.col("pq_codes"), s))
    return cand.select(query_id, corpus_id, total.alias("adc_dist"),
                       "probe_rank", *keep_cols)
