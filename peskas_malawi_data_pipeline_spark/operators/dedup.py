"""Deduplication operators for large-scale training-data pipelines.

Exact (hash-groupBy), MinHash+LSH (shingle → minhash → band → bucket join),
n-gram Jaccard/containment, exact-substring spans, a banded Hamming join over
integer sketches and connected components — all as DataFrame expressions
over md5-based hashes (functions.text.md5_prefix_hash), which makes every
signature bit-identical in any engine with md5 and therefore
oracle-checkable. Every operator is
batch: it reads the whole corpus it is given and keeps no state between
runs.

Scale notes (100 TB):
- exact dedup shuffles on a 16-byte digest — narrow key, near-uniform
  distribution, no skew;
- MinHash-LSH's only wide operation is the band-bucket self-join; band keys
  are hashes (uniform), and the candidate-pair explosion is bounded by
  bucket size — cap monster buckets (boilerplate docs) with ``max_bucket``;
- near-duplicate text has one candidate generator (MinHash-LSH) and one
  verifier (:func:`jaccard_pairs`), the MinHash near-dup pass of Lee et
  al. (ACL 2022); n-gram Jaccard is the *verify* stage run only on
  candidate pairs;
- :func:`sketch_hamming_pairs` is the banded Hamming self-join over
  integer sketches (perceptual image hashes), capped per band bucket like
  the MinHash join.
"""

from __future__ import annotations

import itertools
import logging
from typing import Sequence

from pyspark.sql import Column, DataFrame, Observation, Window
from pyspark.sql import functions as F

from ..core.barrier import materialize
from ..functions import text as T

_CAP_LOG = logging.getLogger(__name__)
_CAP_SEQ = itertools.count()

# site -> {"dropped_rows", "total_rows", "cap"} for the most recent run of
# each capped candidate generator in this process (see last_cap_drops).
_LAST_CAP_DROPS: dict[str, dict] = {}


def last_cap_drops() -> dict[str, dict]:
    """Cap-drop audit: for each capped candidate generator that has run in
    this process, the most recent ``{"dropped_rows": n, "total_rows": n,
    "cap": c}``. ``dropped_rows > 0`` means the hot-bucket / stop-shingle
    cap actually triggered, so the similarity the operator reported is a
    LOWER bound (pairs whose entire evidence sat in capped buckets were
    missed). A warning is also logged at trigger time; this accessor is
    for tests and monitoring glue."""
    return {k: dict(v) for k, v in _LAST_CAP_DROPS.items()}


def _capped_barrier(df: DataFrame, partition_cols: Sequence[str],
                    cap: int | None, site: str) -> DataFrame:
    """Materialize a derived index, dropping rows in over-``cap`` buckets
    of ``partition_cols`` — with the drop count OBSERVED, not silent.

    The bucket-size window runs INSIDE the barrier (once, upstream of the
    self-join that reads the index twice), and an :class:`Observation`
    attached upstream of the filter counts rows sitting in over-cap
    buckets. Because the barrier is eager, the metric resolves on the
    barrier's own job — zero extra Spark jobs for observability. The
    materialized index keeps hot-bucket rows (filtered after the barrier,
    from materialized blocks); index storage is O(corpus bands) either
    way, so this trades nothing for the audit.
    """
    if cap is None:
        return _index_barrier(df)
    w = Window.partitionBy(*partition_cols)
    flagged = df.withColumn("__bucket_n", F.count(F.lit(1)).over(w))
    obs = Observation(f"cap:{site}:{next(_CAP_SEQ)}")
    flagged = flagged.observe(
        obs,
        F.sum((F.col("__bucket_n") > cap).cast("long")).alias("dropped_rows"),
        F.count(F.lit(1)).alias("total_rows"))
    out = materialize(flagged)
    m = dict(obs.get)
    m = {"dropped_rows": int(m["dropped_rows"] or 0),
         "total_rows": int(m["total_rows"] or 0), "cap": cap}
    _LAST_CAP_DROPS[site] = m
    if m["dropped_rows"]:
        _CAP_LOG.warning(
            "%s: hot-bucket cap (%d) dropped %d of %d index rows — reported "
            "similarity is a lower bound for pairs in the capped buckets",
            site, cap, m["dropped_rows"], m["total_rows"])
    return out.filter(F.col("__bucket_n") <= cap).drop("__bucket_n")


def exact_dedup(df: DataFrame, text_col: str = "text", id_col: str = "doc_id",
                keep: str = "min") -> DataFrame:
    """Exact dedup on the normalized-text fingerprint: one survivor per
    fingerprint, deterministically the smallest (or largest) id.

    groupBy on the digest + broadcast-free semi-join-by-window; a single
    shuffle on the fingerprint. ``dropDuplicates`` would be nondeterministic
    about which row survives — training-data pipelines want stable output.
    """
    agg = F.min(id_col) if keep == "min" else F.max(id_col)
    # NULL text means MISSING content, not identical content: such rows
    # must all pass through, not collapse into one "duplicate" group (the
    # fingerprint of NULL is NULL, and groupBy would make them one group)
    fp = (df.filter(F.col(text_col).isNotNull())
          .withColumn("__fp", T.fingerprint(F.col(text_col))))
    survivors = fp.groupBy("__fp").agg(agg.alias(id_col)).select(id_col)
    return (df.join(survivors, id_col, "left_semi")
            .unionByName(df.filter(F.col(text_col).isNull())))


# Universal-hash permutation constants: sig_i = min((A_i·h + B_i) mod P) over
# shingle hashes h. P is the smallest prime > 2^32; A_i < 2^30 keeps A·h+B
# inside int64 (h < 2^32 ⇒ product < 2^62). Fixed literals so the DuckDB
# oracle computes bit-identical signatures with plain integer arithmetic.
MINHASH_P = 4294967311
MINHASH_A = [387420489, 268435399, 536870909, 178956971,
             299999977, 479001599, 104395301, 217645177,
             370248451, 492366587, 413158511, 316272553,
             282475249, 200560490, 132049011, 500000003]
MINHASH_B = [98765431, 12345701, 87654323, 10000019,
             55555333, 31415927, 27182821, 161803399,
             77777677, 43112609, 94906249, 68718821,
             25964951, 30402457, 20996011, 85625159]


def minhash_signature(df: DataFrame, text_col: str = "text",
                      num_hashes: int = 8, shingle_n: int = 3) -> DataFrame:
    """Per-doc MinHash signature: array of ``num_hashes`` minima of permuted
    32-bit shingle hashes. Pure map — no explode, no shuffle.

    Cost shape: md5 runs ONCE per shingle (the expensive part); the
    ``num_hashes`` permutations are integer multiply-add-mod applied inside a
    single fold over the hash array, so the per-row work is
    O(shingles · num_hashes) cheap int ops + O(shingles) hashes.
    """
    if num_hashes > len(MINHASH_A):
        raise ValueError(f"num_hashes > {len(MINHASH_A)} not supported")
    hashes = F.transform(T.word_shingles(F.col(text_col), shingle_n),
                         lambda s: T.md5_prefix_hash(s, "mh:"))
    a_arr = F.array(*[F.lit(a) for a in MINHASH_A[:num_hashes]])
    b_arr = F.array(*[F.lit(b) for b in MINHASH_B[:num_hashes]])
    p = F.lit(MINHASH_P)
    # Single aggregate fold: the hash array materializes once per row, then
    # each element updates all num_hashes running minima.
    sig = F.aggregate(
        hashes,
        F.array_repeat(p.cast("long"), num_hashes),
        lambda acc, h: F.transform(
            acc, lambda cur, i: F.least(cur, (h * F.get(a_arr, i) + F.get(b_arr, i)) % p)),
    )
    return df.withColumn("minhash", sig)


def _index_barrier(df: DataFrame) -> DataFrame:
    """Materialize a (small) derived index before a self-join.

    Catalyst does NOT reuse the exchange between the two sides of a
    self-join built from separately-aliased projections, so the full
    upstream pipeline (regex tokenize → shingle → hash) would run twice —
    measured 2× the whole query cost for the LSH operators. The banded /
    posting index is orders of magnitude smaller than the corpus (ids +
    band keys, no text), so an eager materialization is the scale-correct
    barrier: no driver collect, lineage truncated (local blocks, or the
    reliable checkpoint store when the session configures one —
    core.barrier).
    """
    return materialize(df)


def minhash_bands(df: DataFrame, id_col: str = "doc_id",
                  text_col: str = "text", num_hashes: int = 8,
                  band_size: int = 2, shingle_n: int = 3) -> DataFrame:
    """The banded MinHash signature index: (id, band_id, band_key) rows,
    ``num_hashes/band_size`` per doc — the input of
    :func:`lsh_pairs_from_bands`."""
    assert num_hashes % band_size == 0
    sigs = minhash_signature(df.select(id_col, text_col), text_col,
                             num_hashes, shingle_n)
    return bands_from_signature(sigs, id_col, num_hashes, band_size)


def bands_from_signature(sigs: DataFrame, id_col: str = "doc_id",
                         num_hashes: int = 8,
                         band_size: int = 2) -> DataFrame:
    """Band an ALREADY-computed :func:`minhash_signature` frame — the
    banding is a pure projection, so a consumer comparing several
    (band_size, n_bands) points (lsh_quality_sweep) materializes the
    signature once and re-bands it per arm instead of re-running the
    shingle → md5 → permute sketch map per arm (the sketch is the whole
    corpus-scale cost; r14)."""
    assert num_hashes % band_size == 0
    n_bands = num_hashes // band_size
    return sigs.select(
        id_col,
        F.posexplode(F.array(*[
            F.concat_ws("_", *[F.col("minhash")[b * band_size + r].cast("string")
                               for r in range(band_size)])
            for b in range(n_bands)
        ])).alias("band_id", "band_key"))


def minhash_lsh_pairs(df: DataFrame, id_col: str = "doc_id",
                      text_col: str = "text", num_hashes: int = 8,
                      band_size: int = 2, shingle_n: int = 3,
                      max_bucket: int | None = 1000) -> DataFrame:
    """MinHash-LSH candidate duplicate pairs: band the signature, self-join
    on (band index, band key), emit distinct (id_a < id_b) pairs.

    The heavy part (shingle → hash → signature) is a pure map evaluated
    ONCE into a materialized band index (ids + band keys only); the
    self-join shuffles that small index on uniform hash keys — no skew.
    ``max_bucket`` drops pathological buckets (degenerate shingles, empty
    docs) so one hot bucket cannot produce an O(n²) pair explosion.
    """
    assert num_hashes % band_size == 0
    bands = minhash_bands(df, id_col, text_col, num_hashes, band_size, shingle_n)
    return lsh_pairs_from_bands(bands, id_col, max_bucket)


def lsh_pairs_from_bands(bands: DataFrame, id_col: str = "doc_id",
                         max_bucket: int | None = 1000,
                         carry_cols: Sequence[str] = ()) -> DataFrame:
    """Candidate pairs from a prebuilt band index (:func:`minhash_bands`
    output) — use this when the index is computed once and consumed by
    several stages, so the expensive shingle → hash → signature map
    never re-runs per consumer.

    ``carry_cols``: extra columns that join into the bucket key and ride
    through to the output — a consumer sweeping several band layouts
    (lsh_quality_sweep) tags each layout's bands and gets all arms'
    pairs from ONE capped barrier + ONE self-join instead of one
    cascade per arm; the cap still applies per (tag, band) bucket,
    exactly the per-arm semantics."""
    # bucket-count window + cap filter live inside the barrier so the
    # count executes once, not once per self-join side; drops are observed
    # into last_cap_drops() instead of vanishing silently
    keys = [*carry_cols, "band_id", "band_key"]
    bands = _capped_barrier(bands, tuple(keys), max_bucket,
                            "lsh_pairs_from_bands")
    left = bands.select(*keys, F.col(id_col).alias("id_a"))
    right = bands.select(*keys, F.col(id_col).alias("id_b"))
    return (left.join(right, keys)
            .filter(F.col("id_a") < F.col("id_b"))
            .select(*carry_cols, "id_a", "id_b").distinct())


def sketch_hamming_pairs(sigs: DataFrame, sketch_col: str,
                         id_col: str, bits: int, bands: int,
                         max_hamming: int, max_bucket: int | None,
                         site: str) -> DataFrame:
    """Banded Hamming near-dup join over ANY integer-sketch frame — the
    band/cap/verify machinery behind perceptual image hashes
    (multimodal.perceptual_hash → queries ``image_near_dup`` and
    ``cross_modal_dedup``): band the
    ``bits``-bit sketch into ``bands`` contiguous bit-slices, self-join
    on (band index, band value) — any pair within ``max_hamming``
    collides on ≥1 band when ``max_hamming < bands`` (pigeonhole) — then
    verify with exact Hamming distance (bit_count of xor, JVM-side).
    Returns (id_a, id_b, hamming).

    The (id, sketch, band) index is materialized ONCE with hot band
    buckets capped and drops observed into :func:`last_cap_drops` under
    ``site`` (lower-bound recall only for capped buckets — the verify
    still gates every emitted pair; ``max_bucket=None`` opts out); the
    only shuffle is the band equi-join on small uniform integer keys.
    """
    assert bits % bands == 0
    if max_hamming >= bands:
        raise ValueError(
            f"max_hamming ({max_hamming}) must be < bands ({bands}): the "
            f"pigeonhole recall guarantee (some band unchanged) only holds "
            f"when fewer differing bits than bands exist")
    band_bits = bits // bands
    mask = (1 << band_bits) - 1
    banded = _capped_barrier(sigs.select(
        F.col(id_col), F.col(sketch_col).alias("__sk"),
        F.posexplode(F.array(*[
            F.shiftright(F.col(sketch_col), b * band_bits)
            .bitwiseAND(F.lit(mask))
            for b in range(bands)
        ])).alias("band_id", "band_val")),
        ("band_id", "band_val"), max_bucket, site)
    left = banded.select(F.col("band_id"), F.col("band_val"),
                         F.col(id_col).alias("id_a"),
                         F.col("__sk").alias("sh_a"))
    right = banded.select(F.col("band_id"), F.col("band_val"),
                          F.col(id_col).alias("id_b"),
                          F.col("__sk").alias("sh_b"))
    cand = (left.join(right, ["band_id", "band_val"])
            .filter(F.col("id_a") < F.col("id_b"))
            .select("id_a", "id_b", "sh_a", "sh_b").distinct())
    hamming = F.bit_count(F.col("sh_a").bitwiseXOR(F.col("sh_b")))
    return (cand.select("id_a", "id_b", hamming.cast("long").alias("hamming"))
            .filter(F.col("hamming") <= max_hamming))


def jaccard_pairs(df: DataFrame, block_col: str, id_col: str = "doc_id",
                  text_col: str = "text", shingle_n: int = 3,
                  threshold: float = 0.2,
                  max_shingle_df: int | None = 10_000,
                  allow_all_pairs: bool = False) -> DataFrame:
    """Exact n-gram Jaccard similarity for pairs within a blocking key
    (e.g. MinHash band bucket, source, or length band).

    For ``threshold > 0`` this is an inverted-index plan: explode distinct
    shingles into a materialized posting index (evaluated once — the
    shingle pipeline never runs twice), self-join postings on (block,
    shingle), count shared shingles per pair, and derive |∩|/|∪| from the
    per-doc set sizes — only pairs sharing at least one shingle ever
    materialize, so the cost is Σ bucket² over *shingle* buckets instead
    of |block|² array intersections. At 100 TB, stop-shingle capping (drop
    shingles whose document frequency exceeds a cap) bounds the hot-shingle
    buckets; AQE skew-join splits the rest.

    ``max_shingle_df`` defaults ON (10 000), same rationale and lower-bound
    semantics as :func:`containment_pairs` (the 100× probe measured the
    uncapped posting join exhausting local disk, SCALE.md §10b); capped
    Jaccard can only shrink, so no false positives appear above any
    threshold. ``max_shingle_df=None`` opts out.

    The default ``threshold=0.2`` keeps the all-default call on the safe
    capped inverted-index path (matching the registry query).
    ``threshold <= 0`` must also emit zero-overlap pairs, so it falls back to
    the all-pairs block join with array_intersect/array_union — a path where
    ``max_shingle_df`` CANNOT apply (there is no posting index to cap), so
    the disk-exhaustion cliff the 100× probe measured on the uncapped join
    returns on large blocks. That path therefore requires the explicit
    ``allow_all_pairs=True`` opt-in; the default refuses with a ValueError
    rather than silently running an |block|² join at scale.
    """
    if threshold <= 0 and not allow_all_pairs:
        raise ValueError(
            "jaccard_pairs with threshold <= 0 emits zero-overlap pairs via an "
            "all-pairs block join on which max_shingle_df cannot apply — O(|block|^2) "
            "rows, measured to exhaust local disk at 100x scale (SCALE.md §10b). "
            "Pass allow_all_pairs=True to opt in on a block you know is small, "
            "or use threshold > 0 for the capped inverted-index plan.")
    sh = df.select(
        F.col(block_col).alias("__block"),
        F.col(id_col).alias("id_a"),
        T.word_shingles(F.col(text_col), shingle_n).alias("sh_a"),
    )
    if threshold <= 0:
        sh = _index_barrier(sh)      # shingle pipeline once, not per side
        other = sh.select(F.col("__block"), F.col("id_a").alias("id_b"),
                          F.col("sh_a").alias("sh_b"))
        pairs = sh.join(other, "__block").filter(F.col("id_a") < F.col("id_b"))
        inter = F.size(F.array_intersect(F.col("sh_a"), F.col("sh_b")))
        union = F.size(F.array_union(F.col("sh_a"), F.col("sh_b")))
        jac = F.when(union > 0, inter.cast("double") / union).otherwise(F.lit(0.0))
        return (pairs.select("id_a", "id_b", jac.alias("jaccard"))
                .filter(F.col("jaccard") >= threshold))

    inter = _shingle_intersections(df, block_col, id_col, text_col,
                                   shingle_n, max_shingle_df)
    jac = (F.col("__inter").cast("double")
           / (F.col("n_a") + F.col("n_b") - F.col("__inter")))
    return (inter.select("id_a", "id_b", jac.alias("jaccard"))
            .filter(F.col("jaccard") >= threshold))


def _shingle_intersections(df: DataFrame, block_col: str, id_col: str,
                           text_col: str, shingle_n: int,
                           max_shingle_df: int | None) -> DataFrame:
    """Shared inverted-index core for jaccard_pairs / containment_pairs:
    per ordered pair sharing ≥1 shingle within a block, the shingle-set
    sizes and intersection count (columns id_a, id_b, n_a, n_b, __inter).

    Only pairs sharing at least one shingle ever materialize, so the cost
    is Σ bucket² over *shingle* postings instead of |block|² intersections.
    """
    # The struct binding makes Catalyst materialize the shingle array once
    # per row even though it is referenced twice (size + explode) — without
    # it, projection collapse re-evaluates the whole shingle pipeline for
    # each reference (~5× slower scan).
    packed = df.select(
        F.col(block_col).alias("__block"),
        F.col(id_col).alias("id_a"),
        T.bound(T.word_shingles(F.col(text_col), shingle_n),
                lambda t: F.struct(F.size(t).alias("n"), t.alias("sh"))).alias("s"))
    # Stop-shingle capping (SCALE.md §4): a shingle present in more than
    # max_shingle_df docs of a block contributes O(df²) join rows while
    # carrying almost no similarity signal — drop it from the index.
    # |∩| can only shrink, so capped similarity is a LOWER bound: no
    # false positives are introduced, some hot-boilerplate pairs may be
    # missed. The document-frequency window runs inside the barrier (once,
    # not once per posting-join side) and drops are observed into
    # last_cap_drops().
    posts = _capped_barrier(
        packed.select("__block", "id_a", F.col("s.n").alias("n_a"),
                      F.explode("s.sh").alias("__shingle")),
        ("__block", "__shingle"), max_shingle_df, "shingle_postings")
    other = posts.select(F.col("__block"), F.col("__shingle"),
                         F.col("id_a").alias("id_b"), F.col("n_a").alias("n_b"))
    return (posts.join(other, ["__block", "__shingle"])
            .filter(F.col("id_a") < F.col("id_b"))
            .groupBy("id_a", "id_b", "n_a", "n_b")
            .agg(F.count(F.lit(1)).alias("__inter")))


def containment_pairs(df: DataFrame, block_col: str, id_col: str = "doc_id",
                      text_col: str = "text", shingle_n: int = 3,
                      threshold: float = 0.5,
                      max_shingle_df: int | None = 10_000) -> DataFrame:
    """Overlap-coefficient ("containment") near-dup pairs within a blocking
    key: |A∩B| / min(|A|, |B|) ≥ threshold over word-shingle sets.

    Catches the partial duplicates Jaccard misses: a short document quoted
    whole inside a much longer one scores ~1.0 here while its |∩|/|∪| is
    crushed by the length difference — the standard containment check used
    for quote/subset dedup in web-corpus pipelines. Requires threshold > 0:
    the plan is the same materialized inverted-index join as jaccard_pairs
    (only pairs sharing ≥1 shingle materialize; stop-shingle capping bounds
    hot postings at scale), which cannot see zero-overlap pairs.

    ``max_shingle_df`` defaults ON (10 000): the repo's own 100× probe
    (SCALE.md §10b) measured the uncapped inverted index exhausting >30 GB
    of shuffle disk on a shared-vocabulary corpus while the capped run
    finished in ~150 s — beyond about one decade of growth the cap is
    mandatory, so the safe behavior is opt-out. Capping drops shingles
    whose block-level document frequency exceeds the cap, so the reported
    containment is a LOWER bound (no false positives; pairs whose entire
    overlap is hot boilerplate may be missed). Pass ``max_shingle_df=None``
    for the exact uncapped semantics on corpora known to be small.
    """
    if threshold <= 0:
        raise ValueError(
            "containment_pairs requires threshold > 0: the inverted-index "
            "plan only materializes pairs sharing at least one shingle")
    inter = _shingle_intersections(df, block_col, id_col, text_col,
                                   shingle_n, max_shingle_df)
    cont = (F.col("__inter").cast("double")
            / F.least(F.col("n_a"), F.col("n_b")))
    return (inter.select("id_a", "id_b", cont.alias("containment"))
            .filter(F.col("containment") >= threshold))


def duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                     text_col: str = "text", k: int = 5,
                     min_occurrences: int = 2) -> DataFrame:
    """Exact SUBSTRING dedup — the span-level third dedup modality of
    Lee et al. 2022 ("Deduplicating Training Data Makes Language Models
    Better", ExactSubstr) and RefinedWeb: find every maximal token span of
    length ≥ ``k`` whose k-token shingles each occur at least
    ``min_occurrences`` times in the corpus (total occurrences, so
    within-document self-repetition counts, as in Lee et al.). Returns one
    row per maximal span: (``id_col``, span_start, span_end, span_tokens),
    token indices 1-based inclusive.

    Plan (their global suffix array traded for Spark-native shuffles):

    1. explode each document's k-token shingles WITH their start
       positions — the position-aware posting frame, token-scale (same
       order of magnitude as any tokenization pass);
    2. one groupBy(shingle) count; hot boilerplate keys are absorbed by
       map-side partial aggregation (a count, not a pair join — nothing
       here is quadratic, unlike the pair-generating LSH buckets, so no
       ``max_bucket`` cap is needed); only shingles with
       occ ≥ min_occurrences survive;
    3. left-semi join postings against the surviving shingles (1:1 per
       posting) to mark duplicated start positions;
    4. per-document gaps-and-islands merge: all intervals are length
       ``k`` and sorted by start, so two duplicated starts belong to one
       maximal span iff their gap is ≤ k (overlap or adjacency); one
       window over ``id_col`` (documents are bounded, the window frame is
       per-doc duplicated positions only).
    """
    _validate_span_args(k, min_occurrences)
    posts = _span_posts(df, id_col, text_col, k)
    dup = (posts.groupBy("__sh").agg(F.count(F.lit(1)).alias("__occ"))
           .filter(F.col("__occ") >= min_occurrences).select("__sh"))
    marked = posts.join(dup, "__sh", "left_semi")
    return _spans_from_marked(marked, id_col, k)


def _validate_span_args(k: int, min_occurrences: int) -> None:
    if k < 1:
        raise ValueError(f"k must be >= 1, got {k}")
    if min_occurrences < 2:
        raise ValueError(
            f"min_occurrences must be >= 2 (an occ-1 span is not a "
            f"duplicate), got {min_occurrences}")


def _k_shingles(text: Column, k: int) -> Column:
    """The k-token shingles of ``text`` in start order. Texts shorter than
    k tokens (or NULL) yield NO shingles — the otherwise-empty branch
    matters because sequence(1, 0) would generate a DESCENDING [1, 0],
    not an empty array."""
    return T.bound(
        T.tokens(text),
        lambda t: F.when(
            F.size(t) >= k,
            F.transform(F.sequence(F.lit(1), F.size(t) - (k - 1)),
                        lambda i: F.concat_ws(" ", F.slice(t, i, k))))
        .otherwise(F.array().cast("array<string>")))


def _span_posts(df: DataFrame, id_col: str, text_col: str,
                k: int) -> DataFrame:
    """Position-aware k-shingle posting frame: (__id, pos, __sh), 1-based
    start positions."""
    return (df.select(F.col(id_col).alias("__id"),
                      F.posexplode(_k_shingles(F.col(text_col), k))
                      .alias("__p0", "__sh"))
            .select("__id", (F.col("__p0") + 1).alias("pos"), "__sh"))


def _spans_from_marked(marked: DataFrame, id_col: str, k: int) -> DataFrame:
    """Gaps-and-islands merge of duplicated start positions into maximal
    spans: all intervals are length k and sorted, so consecutive starts
    chain iff their gap is <= k (overlap or adjacency)."""
    w = Window.partitionBy("__id").orderBy("pos")
    prev = F.lag("pos").over(w)
    spans = (marked
             .withColumn("__new", F.when(prev.isNull()
                                         | (F.col("pos") - prev > k), 1)
                         .otherwise(0))
             .withColumn("__isl", F.sum("__new").over(
                 w.rowsBetween(Window.unboundedPreceding, Window.currentRow)))
             .groupBy("__id", "__isl")
             .agg(F.min("pos").alias("__start"), F.max("pos").alias("__last")))
    return spans.select(
        F.col("__id").alias(id_col),
        F.col("__start").cast("long").alias("span_start"),
        (F.col("__last") + (k - 1)).cast("long").alias("span_end"),
        (F.col("__last") + (k - 1) - F.col("__start") + 1).cast("long")
        .alias("span_tokens"))


def substring_dedup_stats(df: DataFrame, id_col: str = "doc_id",
                          text_col: str = "text", k: int = 5,
                          min_occurrences: int = 2) -> DataFrame:
    """Per-document outcome of span-level dedup (:func:`duplicated_spans`):
    (``id_col``, n_tokens, dup_span_tokens, kept_tokens). Every document
    appears, zero-span docs with dup_span_tokens=0 — the frame a pipeline
    joins to decide drop/trim, and the aggregate the removal report
    prints. One extra groupBy(id) of the answer-sized span frame plus a
    left join against the per-doc token counts."""
    spans = duplicated_spans(df, id_col, text_col, k, min_occurrences)
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_tokens").alias("__dup"))
    base = df.select(F.col(id_col),
                     T.token_count(F.col(text_col)).cast("long")
                     .alias("n_tokens"))
    return (base.join(per_doc, id_col, "left")
            .select(id_col, "n_tokens",
                    F.coalesce(F.col("__dup"), F.lit(0)).cast("long")
                    .alias("dup_span_tokens"),
                    (F.col("n_tokens") - F.coalesce(F.col("__dup"), F.lit(0)))
                    .cast("long").alias("kept_tokens")))


def remove_duplicated_spans(df: DataFrame, id_col: str = "doc_id",
                            text_col: str = "text", k: int = 5,
                            min_occurrences: int = 2) -> DataFrame:
    """APPLY span-level dedup (:func:`duplicated_spans`): drop every token
    inside a duplicated span and return the cleaned documents —
    (``id_col``, clean_text, n_tokens, kept_tokens). ``clean_text`` is the
    kept token sequence re-joined with single spaces over the normalized
    (lower/trim/whitespace-split) token stream — the same normalization
    every shingle operator sees; NULL text stays NULL, fully-duplicated
    docs come back as ''.

    Plan: the span frame is answer-sized — collect it to a per-doc
    interval array, hash-join it back onto the corpus (broadcast at any
    realistic duplication rate), then ONE higher-order filter drops
    covered positions per row. The corpus token stream is never exploded
    or shuffled; per-row cost is O(n_tokens · spans_in_doc) with small
    span counts by construction (spans are maximal, so ≤ n_tokens/k).
    """
    spans = duplicated_spans(df, id_col, text_col, k, min_occurrences)
    per_doc = spans.groupBy(id_col).agg(
        F.collect_list(F.struct(F.col("span_start").alias("s"),
                                F.col("span_end").alias("e"))).alias("__spans"))
    joined = df.join(per_doc, id_col, "left")
    spans_arr = F.coalesce(F.col("__spans"),
                           F.array().cast("array<struct<s:bigint,e:bigint>>"))
    # F.filter's two-arg lambda exposes the 0-based element index; spans
    # are 1-based inclusive token intervals
    packed = T.bound(T.tokens(F.col(text_col)), lambda t: F.struct(
        F.size(t).alias("n"),
        F.filter(t, lambda tok, i: ~F.exists(
            spans_arr, lambda sp: (sp["s"] <= i + 1) & (i + 1 <= sp["e"])))
        .alias("kept")))
    # Generate barrier (same rationale as dataset_card): one tokenization
    # per row even though the struct is consumed three times
    staged = joined.select(F.col(id_col), F.col(text_col).alias("__text"),
                           F.explode(F.array(packed)).alias("__s"))
    return staged.select(
        F.col(id_col),
        F.when(F.col("__text").isNotNull(),
               F.concat_ws(" ", F.col("__s.kept"))).alias("clean_text"),
        F.col("__s.n").cast("long").alias("n_tokens"),
        F.size("__s.kept").cast("long").alias("kept_tokens"))


def decontaminate_spans(df: DataFrame, eval_df: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        eval_text_col: str = "text", k: int = 5,
                        broadcast_eval: bool = True) -> DataFrame:
    """Span-level decontamination against an evaluation set — the
    RefinedWeb form that :func:`duplicated_spans`'s machinery was built
    to host: every maximal token span of a CORPUS document whose k-token
    shingles each occur anywhere in ``eval_df`` (the benchmark/eval
    suite). Doc-level overlap COUNTING is `decontaminate_ngram_overlap`;
    this marks the actual spans so they can be REMOVED
    (:func:`decontaminate_segments`) instead of dropping whole documents.
    Returns (``id_col``, span_start, span_end, span_tokens), 1-based
    inclusive token indices.

    Plan: the corpus pays the same position-aware shingle explode as
    :func:`duplicated_spans`; the eval side contributes its DISTINCT
    shingles (an eval suite is benchmark-sized — MBs against a 100 TB
    corpus — so the marking semi-join broadcasts by default; pass
    ``broadcast_eval=False`` for a pathologically large eval set), then
    the per-doc gaps-and-islands merge. No corpus-side pair join exists
    anywhere — cost is one tokenization pass + one broadcast semi-join.
    """
    _validate_span_args(k, 2)
    posts = _span_posts(df, id_col, text_col, k)
    ev = (eval_df.select(F.explode(_k_shingles(F.col(eval_text_col), k))
                         .alias("__sh"))
          .distinct())
    if broadcast_eval:
        ev = F.broadcast(ev)
    marked = posts.join(ev, "__sh", "left_semi")
    return _spans_from_marked(marked, id_col, k)


def decontaminate_segments(df: DataFrame, eval_df: DataFrame,
                           id_col: str = "doc_id", text_col: str = "text",
                           eval_text_col: str = "text", k: int = 5,
                           broadcast_eval: bool = True) -> DataFrame:
    """APPLY span-level decontamination: SPLIT each corpus document at
    its contaminated spans (:func:`decontaminate_spans`) and return the
    kept segments, one row per segment — (``id_col``, seg_index,
    seg_start, seg_end, seg_tokens, seg_text), indices 1-based inclusive
    over the normalized token stream, ``seg_index`` ordered by position.

    Splitting (not re-joining, unlike :func:`remove_duplicated_spans`'s
    clean_text) is what makes the guarantee BY CONSTRUCTION: a segment is
    a contiguous run of original tokens none of whose k-shingle start
    positions was marked, so no k-shingle of any segment can appear in
    the eval set — re-joined text could mint NEW shingles across a cut.
    Documents with no tokens (or NULL text) yield no segments; fully
    contaminated documents disappear — both are "nothing to train on".

    Plan: the span frame is answer-sized — collected per doc as a sorted
    interval array and hash-joined back (broadcast at any realistic
    contamination rate); ONE higher-order ``aggregate`` folds the
    intervals into their complement, and the per-doc explode emits
    segment rows (answer-sized: segments per doc ≤ spans + 1). The
    corpus token stream is never exploded or shuffled.
    """
    spans = decontaminate_spans(df, eval_df, id_col, text_col,
                                eval_text_col, k, broadcast_eval)
    per_doc = spans.groupBy(id_col).agg(
        F.array_sort(F.collect_list(F.struct(
            F.col("span_start").alias("s"),
            F.col("span_end").alias("e")))).alias("__spans"))
    joined = df.join(per_doc, id_col, "left")
    spans_arr = F.coalesce(F.col("__spans"),
                           F.array().cast("array<struct<s:bigint,e:bigint>>"))
    # Generate barrier (same rationale as remove_duplicated_spans): one
    # tokenization per row even though tokens/size feed several columns
    packed = T.bound(T.tokens(F.col(text_col)), lambda t: F.struct(
        F.size(t).cast("long").alias("n"), t.alias("toks")))
    staged = joined.select(F.col(id_col), spans_arr.alias("__sp"),
                           F.explode(F.array(packed)).alias("__s"))
    n = F.col("__s.n")
    # fold the sorted disjoint spans into their complement within [1, n]:
    # spans are maximal (gaps > k between them), so every emitted segment
    # is non-empty by construction
    init = F.struct(F.lit(1).cast("long").alias("cur"),
                    F.array().cast("array<struct<s:bigint,e:bigint>>")
                    .alias("segs"))
    segs = F.aggregate(
        F.col("__sp"), init,
        lambda acc, sp: F.struct(
            (sp["e"] + 1).alias("cur"),
            F.when(acc["cur"] < sp["s"],
                   F.concat(acc["segs"], F.array(F.struct(
                       acc["cur"].alias("s"),
                       (sp["s"] - 1).alias("e")))))
            .otherwise(acc["segs"]).alias("segs")),
        lambda acc: F.when(acc["cur"] <= n,
                           F.concat(acc["segs"], F.array(F.struct(
                               acc["cur"].alias("s"), n.alias("e")))))
        .otherwise(acc["segs"]))
    out = staged.select(
        F.col(id_col), F.col("__s.toks").alias("__toks"),
        F.posexplode(segs).alias("__i", "__seg"))
    length = (F.col("__seg.e") - F.col("__seg.s") + 1)
    return out.select(
        F.col(id_col),
        (F.col("__i") + 1).cast("long").alias("seg_index"),
        F.col("__seg.s").cast("long").alias("seg_start"),
        F.col("__seg.e").cast("long").alias("seg_end"),
        length.cast("long").alias("seg_tokens"),
        F.concat_ws(" ", F.slice(F.col("__toks"),
                                 F.col("__seg.s").cast("int"),
                                 length.cast("int"))).alias("seg_text"))


def decontaminate_stats(df: DataFrame, eval_df: DataFrame,
                        id_col: str = "doc_id", text_col: str = "text",
                        eval_text_col: str = "text", k: int = 5,
                        broadcast_eval: bool = True) -> DataFrame:
    """Per-document decontamination outcome — the report a release prints
    and the frame a pipeline joins to decide drop/trim/keep: every corpus
    document with (``id_col``, n_tokens, contaminated_tokens,
    kept_tokens, n_spans). Zero-hit docs appear with 0/0; NULL-text docs
    appear with NULL token counts (mirrors substring_dedup_stats). One
    groupBy of the answer-sized span frame + a left join against per-doc
    token counts."""
    spans = decontaminate_spans(df, eval_df, id_col, text_col,
                                eval_text_col, k, broadcast_eval)
    per_doc = spans.groupBy(id_col).agg(
        F.sum("span_tokens").alias("__dup"),
        F.count(F.lit(1)).alias("__n"))
    base = df.select(F.col(id_col),
                     T.token_count(F.col(text_col)).cast("long")
                     .alias("n_tokens"))
    dup = F.when(F.col("n_tokens").isNotNull(),
                 F.coalesce(F.col("__dup"), F.lit(0))).cast("long")
    return (base.join(per_doc, id_col, "left")
            .select(id_col, "n_tokens",
                    dup.alias("contaminated_tokens"),
                    (F.col("n_tokens") - dup).cast("long")
                    .alias("kept_tokens"),
                    F.when(F.col("n_tokens").isNotNull(),
                           F.coalesce(F.col("__n"), F.lit(0))).cast("long")
                    .alias("n_spans")))


def fused_near_dup(corpus: DataFrame, edges: dict[str, DataFrame],
                   richness: Column,
                   id_col: str = "doc_id") -> DataFrame:
    """CROSS-MODAL near-dup verdict: a real multimodal corpus dedups on
    EITHER signal — two documents sharing an image are duplicates even
    when their captions differ, and vice versa — but separate pair
    streams (text MinHash, image perceptual hash, …) each only see their
    own modality. This fuses them: union the edge streams with modality
    provenance, run ONE connected-components pass over the fused graph
    (so a text-dup chained to an image-dup lands in one group — pinned
    by test), then pick each group's survivor by the ``richness``
    expression (higher keeps; ties → lowest id) — the "prefer the richer
    document" policy, e.g. byte size or modality count.

    ``edges``: {modality_name: (id_a, id_b) candidate-pair frame}.
    Returns one row per corpus doc: (``id_col``, group_key,
    survivor_id, n_edges_<modality>…) — the edge counts are the
    per-group provenance audit (which signal(s) formed the group);
    singletons get their own id and zero counts.

    Scale shape: the fused edge set is Σ answer-sized pair streams, the
    component frame is duplicate-members-sized — every join against the
    corpus broadcasts and the corpus itself never shuffles; the survivor
    argmax runs over members only (not the corpus), and provenance
    counts over the edge frames themselves."""
    mods = sorted(edges)
    tagged = None
    for m in mods:
        # normalize to distinct undirected (least, greatest) pairs per
        # modality: a caller emitting both orientations or duplicate rows
        # would otherwise inflate the n_edges_* provenance counts
        part = (edges[m]
                .select(F.least("id_a", "id_b").alias("id_a"),
                        F.greatest("id_a", "id_b").alias("id_b"),
                        F.lit(m).alias("__mod"))
                .distinct())
        tagged = part if tagged is None else tagged.unionByName(part)
    if tagged is None:
        raise ValueError("fused_near_dup: no edge frames")
    tagged = materialize(tagged)
    comp = materialize(
        connected_components_star(tagged.select("id_a", "id_b")))
    keyed = (corpus
             .join(F.broadcast(comp.withColumnRenamed("id", id_col)),
                   id_col, "left")
             .select(F.col(id_col),
                     F.coalesce("component", F.col(id_col)).cast("long")
                     .alias("group_key"),
                     # NULL richness (e.g. length(NULL) text) would make
                     # the max_by struct comparison NULL-order-dependent;
                     # a -1 sentinel ranks NULL below every real value
                     F.coalesce(richness.cast("long"), F.lit(-1))
                     .alias("__rich")))
    # survivor argmax over DUP MEMBERS only (answer-sized): max richness,
    # ties → lowest id via the lexicographic (rich, -id) struct max
    members = keyed.join(
        F.broadcast(comp.select(F.col("id").alias(id_col))), id_col)
    surv = (members.groupBy("group_key")
            .agg(F.max_by(id_col,
                          F.struct(F.col("__rich").alias("r"),
                                   (-F.col(id_col)).alias("negid")))
                 .alias("survivor_id")))
    ec = (tagged.join(F.broadcast(comp),
                      tagged["id_a"] == comp["id"])
          .groupBy(F.col("component").alias("group_key"))
          .agg(*[F.sum(F.when(F.col("__mod") == m, 1).otherwise(0))
                 .cast("long").alias(f"n_edges_{m}") for m in mods]))
    return (keyed.join(F.broadcast(surv), "group_key", "left")
            .join(F.broadcast(ec), "group_key", "left")
            .select(F.col(id_col), F.col("group_key"),
                    F.coalesce("survivor_id", F.col(id_col)).cast("long")
                    .alias("survivor_id"),
                    *[F.coalesce(f"n_edges_{m}", F.lit(0)).cast("long")
                      .alias(f"n_edges_{m}") for m in mods]))


def connected_components_star(pairs: DataFrame, id_a: str = "id_a",
                              id_b: str = "id_b",
                              max_rounds: int = 12) -> DataFrame:
    """Duplicate GROUPS from candidate pairs: connected components by
    alternating large-star / small-star edge rewrites (Kiveris et al.,
    *Connected Components in MapReduce and Beyond*, SoCC'14). This is the
    step that turns pairwise near-dup evidence (MinHash-LSH pairs,
    Jaccard-verified pairs, sketch Hamming pairs) into dedup decisions; it
    converges in O(log² n) rounds regardless of graph diameter, so long
    transitive near-dup chains cost no more rounds than shallow
    boilerplate stars.

    Each round is two edge rewrites; each rewrite is ONE window-aggregate
    shuffle on the node id plus a distinct. Edges only ever move toward the
    component minimum, so the edge set shrinks toward a star per component;
    the fixpoint is the first round whose output repeats its input's
    order-independent checksum (count + xxhash64 sum; no compare-join), so
    an input that is already a star forest stops after round 1. Returns
    (id, component) for every node appearing in ``pairs``, the component
    being its minimum id (the canonical keeper). Raises ``RuntimeError``
    when ``max_rounds`` rounds pass without the checksum repeating:
    unconverged labels would split components silently.
    """
    def canon(df: DataFrame) -> DataFrame:
        """Both orientations, self-loops dropped, deduped."""
        fwd = df.select(F.col("src"), F.col("dst"))
        return (fwd.union(fwd.select(F.col("dst").alias("src"),
                                     F.col("src").alias("dst")))
                .filter(F.col("src") != F.col("dst")).distinct())

    def materialize_checked(df: DataFrame, edge: Column):
        """``materialize(df)`` with the count and xxhash64 sum of its rows
        where ``edge`` holds: an order-independent checksum of the edge set
        that an Observation takes during the materialize action, with no
        job of its own. The sum is decimal, because a long sum of 64-bit
        hashes overflows ANSI."""
        obs = Observation()
        out = materialize(df.observe(
            obs, F.count(F.when(edge, 1)).alias("cnt"),
            F.sum(F.when(edge, F.xxhash64("src", "dst")
                         .cast("decimal(27,0)"))).alias("hsh")))
        met = obs.get
        return out, (met["cnt"], met["hsh"])

    # checkpoint before the loop: round 1 and the node frame otherwise each
    # re-evaluate the upstream candidate pipeline. The node set comes from
    # the BASE frame (before canon drops self-loops): a node whose only
    # pair is (x, x) — e.g. a singleton star edge from a prior snapshot —
    # must still get its output row.
    loop = F.col("src") == F.col("dst")
    base, prev_chk = materialize_checked(
        pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
        .union(pairs.select(F.col(id_b).alias("src"),
                            F.col(id_a).alias("dst")))
        .distinct(), ~loop)
    # nodes is consumed exactly once (the final left join) and derives
    # from the materialized base blocks — a second barrier here bought
    # nothing and cost a full action cascade (r14)
    nodes = base.select(F.col("src").alias("id")).distinct()
    edges = base.filter(~loop)
    # prev_chk is the checksum of edges, which already has canon's shape
    # (both orientations, no self-loops, distinct): a round whose output
    # repeats it is the fixpoint, and a star forest stops after round 1
    for _ in range(max_rounds):
        # large-star: every neighbor v > u re-points at m = min(Γ(u) ∪ {u}).
        # Emitted edges always run big→small, which is exactly the
        # orientation small-star consumes — both phases compose lazily into
        # ONE plan per round, materialized once (a single lineage-truncating
        # checkpoint per round, not one per phase).
        w = Window.partitionBy("src")
        m = F.least(F.min("dst").over(w), F.col("src"))
        large = (edges.withColumn("m", m)
                 .filter(F.col("dst") > F.col("src"))
                 .select(F.col("dst").alias("src"), F.col("m").alias("dst")))
        # small-star: smaller neighbors L = {v < u} and u itself re-point at
        # min(L); emitted per edge (v, m) plus one (u, m) per node. canon's
        # distinct here bounds edge growth round-over-round (measured: the
        # extra shuffle costs nothing against the window pass, and without
        # it duplicate edges inflate the next round's window input).
        lo = canon(large).filter(F.col("dst") < F.col("src"))
        mn = F.min("dst").over(Window.partitionBy("src"))
        lo = lo.withColumn("m", mn)
        small = (lo.select(F.col("dst").alias("src"), F.col("m").alias("dst"))
                 .union(lo.select(F.col("src"), F.col("m").alias("dst"))))
        edges, chk = materialize_checked(canon(small), F.lit(True))
        if chk == prev_chk:
            break
        prev_chk = chk
    else:
        raise RuntimeError(
            f"connected_components_star: no fixpoint after {max_rounds} "
            f"rounds; raise max_rounds")

    comp = edges.groupBy("src").agg(F.min("dst").alias("__mn"))
    return (nodes.join(comp, nodes.id == comp.src, "left")
            .select(F.col("id"),
                    F.least(F.coalesce(F.col("__mn"), F.col("id")),
                            F.col("id")).alias("component")))


def embedding_near_dup_pairs(df: DataFrame, id_col: str = "vec_id",
                             vec_col: str = "embedding",
                             block_col: str | None = None,
                             threshold: float = 0.95) -> DataFrame:
    """Embedding-cosine near-duplicate pairs within a blocking key (such as
    a k-means ``centroid_id``). Cosine is computed with higher-order
    functions (zip_with dot product) — JVM-side, no UDF.

    Norms are computed once per vector BEFORE the self-join (one dot product
    per pair instead of three); cos = dot(a,b)/(‖a‖·‖b‖) evaluates the same
    double arithmetic as the naive form, so results are bit-identical.
    """
    from .similarity import dot, l2_norm

    vd = F.transform(F.col(vec_col), lambda x: x.cast("double"))
    # _index_barrier: without it the cast+norm projection (and whatever
    # produced df) evaluates once per self-join SIDE — the "norms computed
    # once per vector" claim only holds against a materialized frame
    base = _index_barrier(df.select(
        *( [F.col(block_col).alias("__block")] if block_col else [F.lit(1).alias("__block")] ),
        F.col(id_col).alias("id_a"), vd.alias("v_a"), l2_norm(vd).alias("nrm_a")))
    other = base.select(F.col("__block"), F.col("id_a").alias("id_b"),
                        F.col("v_a").alias("v_b"), F.col("nrm_a").alias("nrm_b"))
    pairs = base.join(other, "__block").filter(F.col("id_a") < F.col("id_b"))
    denom = F.col("nrm_a") * F.col("nrm_b")
    cos = F.when(denom > 0, dot(F.col("v_a"), F.col("v_b")) / denom)
    return (pairs.select("id_a", "id_b", cos.alias("cosine"))
            .filter(F.col("cosine") >= threshold))
