"""Tests for dedup, similarity-search, and multimodal extension operators."""

import math

import pytest
from pyspark.sql import Row, functions as F

from peskas_malawi_data_pipeline_spark.operators import dedup as D
from peskas_malawi_data_pipeline_spark.operators import multimodal as M
from peskas_malawi_data_pipeline_spark.operators import similarity as S


def _docs(spark):
    rows = [
        Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
        Row(doc_id=2, text="The  quick brown fox jumps over the lazy dog"),  # ws/case variant
        Row(doc_id=3, text="the quick brown fox jumps over the lazy cat"),   # near-dup
        Row(doc_id=4, text="completely different content about spark engines"),
        Row(doc_id=5, text="the quick brown fox jumps over the lazy dog"),   # exact dup
    ]
    return spark.createDataFrame(rows)


def test_exact_dedup_normalized_survivors(spark):
    out = D.exact_dedup(_docs(spark))
    ids = sorted(r.doc_id for r in out.collect())
    # 1,2,5 collapse (whitespace/case-normalized fingerprint); min id survives
    assert ids == [1, 3, 4]


def test_minhash_lsh_finds_near_dups_not_distinct(spark):
    pairs = D.minhash_lsh_pairs(_docs(spark), num_hashes=8, band_size=2)
    got = {(r.id_a, r.id_b) for r in pairs.collect()}
    assert (1, 5) in got and (1, 2) in got  # exact/normalized dups always collide
    assert (1, 3) in got                    # 8/9 shingles shared -> near-certain
    assert not any(4 in p for p in got)     # unrelated doc never pairs


def test_jaccard_pairs_exact_values(spark):
    df = _docs(spark).withColumn("block", F.lit(1))
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.jaccard_pairs(df, "block", shingle_n=3, threshold=0.0,
                             allow_all_pairs=True).collect()}
    assert pairs[(1, 5)] == 1.0
    # doc1 vs doc3: 7 shingles each, 6 shared -> 6/8
    assert pairs[(1, 3)] == pytest.approx(6 / 8)
    assert pairs[(1, 4)] == 0.0


def _vectors(spark):
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.2, 0.0]),
        Row(vec_id=1, embedding=[0.9, 0.1, 0.0]),
        Row(vec_id=2, embedding=[0.0, 1.0, 0.0]),
        Row(vec_id=3, embedding=[-1.0, 0.0, 0.0]),
        Row(vec_id=4, embedding=[0.8, 0.2, 0.0]),
    ]
    return spark.createDataFrame(rows)


def test_embedding_near_dup_pairs(spark):
    df = _vectors(spark).withColumn("label", F.lit(1))
    out = {(r.id_a, r.id_b) for r in
           D.embedding_near_dup_pairs(df, block_col="label", threshold=0.95).collect()}
    assert (0, 1) in out and (1, 4) in out and (0, 4) in out
    assert not any(3 in p for p in out)


def test_multimodal_feature_extraction_fake_decode(spark):
    rows = [
        Row(media_id=1, modality="image", mime_type="image/png",
            payload=bytearray(b"fakepng"), uri=None,
            meta=Row(width=64, height=64, duration_s=None, sample_rate=None)),
        Row(media_id=2, modality="audio", mime_type="audio/wav",
            payload=None, uri="s3://bucket/a.wav",
            meta=Row(width=None, height=None, duration_s=3.5, sample_rate=16000)),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r.media_id: r for r in M.extract_features(df, decode="fake").collect()}
    assert out[1].n_bytes == 7 and len(out[1].feature) == 8
    assert all(0 <= v < 1 for v in out[1].feature)
    assert out[2].n_bytes is None and out[2].feature is None
    # determinism across runs
    again = {r.media_id: r for r in M.extract_features(df, decode="fake").collect()}
    assert again[1].feature == out[1].feature


def _media_rows(spark, payloads):
    rows = [Row(media_id=i, modality="image", mime_type="image/png",
                payload=None if p is None else bytearray(p), uri=None,
                meta=Row(width=None, height=None, duration_s=None,
                         sample_rate=None))
            for i, p in payloads.items()]
    return spark.createDataFrame(rows, M.MEDIA_SCHEMA)


def test_perceptual_hash_fake_kernel_and_refusal(spark):
    """perceptual_hash: deterministic 60-bit stub (sha256-derived, <2^63),
    NULL payload → NULL hash, decode='real' is the recorded refusal for
    the prohibited PIL dependency."""
    import hashlib

    df = _media_rows(spark, {1: b"imgA", 2: b"imgA", 3: b"imgB", 4: None})
    out = {r.media_id: r.phash
           for r in M.perceptual_hash(df, decode="fake").collect()}
    want = int(hashlib.sha256(b"imgA").hexdigest()[:15], 16)
    assert out[1] == want and out[2] == want
    assert out[3] != want and out[3] is not None
    assert out[4] is None
    with pytest.raises(Exception, match="PIL"):
        M.perceptual_hash(df, decode="real").collect()


def test_image_near_dup_banded_hamming_with_injected_kernel(spark):
    """The banding/verify logic against a CONTROLLED kernel (the seam a
    real dHash plugs into): pairs within Hamming <= max_hamming are all
    found (pigeonhole across the 4x15-bit bands), pairs beyond it never
    emitted, NULL hashes never pair, and the hot-bucket cap audits
    through the shared last_cap_drops channel under its own site."""
    base = (0b1010 << 45) | (7 << 30) | (99 << 15) | 0x1234
    kernel = {
        b"p0": base,
        b"p1": base ^ 0b1,                 # hamming 1 (band 0)
        b"p2": base ^ (1 << 50) ^ (1 << 20) ^ 1,   # hamming 3, 3 bands hit
        b"p3": base ^ 0b1111,              # hamming 4 from p0 -> excluded
        b"p4": (1 << 59) | 1,              # far away
    }

    def hasher(p):
        return None if p is None else kernel[bytes(p)]

    df = _media_rows(spark, {i: f"p{i}".encode() for i in range(5)} | {9: None})
    ph = M.perceptual_hash(df, hasher=hasher)
    got = {(r.id_a, r.id_b): r.hamming
           for r in D.sketch_hamming_pairs(
               ph, "phash", "media_id", bits=60, bands=4, max_hamming=3,
               max_bucket=1000, site="image_near_dup").collect()}
    assert got[(0, 1)] == 1 and got[(0, 2)] == 3
    assert got[(1, 2)] == 2        # differs in bits 50,20 only... xor of their diffs
    assert (0, 3) not in got       # hamming 4 > max
    assert not any(9 in p or 4 in p for p in got)
    m = D.last_cap_drops()["image_near_dup"]
    assert m["cap"] == 1000 and m["dropped_rows"] == 0

    # identical payloads through the FAKE kernel collide at hamming 0
    dup = _media_rows(spark, {1: b"same", 2: b"same", 3: b"other"})
    pairs = {(r.id_a, r.id_b): r.hamming
             for r in D.sketch_hamming_pairs(
                 M.perceptual_hash(dup), "phash", "media_id", bits=60,
                 bands=4, max_hamming=3, max_bucket=1000,
                 site="image_near_dup").collect()}
    assert pairs == {(1, 2): 0}


def test_multimodal_real_decode_raises(spark):
    rows = [Row(media_id=1, modality="image", mime_type=None,
                payload=bytearray(b"x"), uri=None, meta=None)]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    with pytest.raises(Exception) as exc:
        M.extract_features(df, decode="real").collect()
    assert "NotImplementedError" in str(exc.value) or "codecs" in str(exc.value)


def test_multimodal_codec_injection(spark):
    """The codec seam: an injected decoder/resizer runs inside the Arrow
    batch loop in place of the deterministic stub (VERDICT r01 missing #4).
    The kernels are closures so cloudpickle ships them by value."""
    def _toy_decoder(payload, modality):
        if payload is None:
            return None
        return [float(len(payload)), float(modality == "image")]

    def _toy_resizer(payload, new_w, new_h):
        return bytes(f"resized:{new_w}x{new_h}:{len(payload)}", "ascii")

    rows = [
        Row(media_id=1, modality="image", mime_type="image/png",
            payload=bytearray(b"0123456789"), uri=None,
            meta=Row(width=1024, height=512, duration_s=None, sample_rate=None)),
        Row(media_id=2, modality="audio", mime_type="audio/wav",
            payload=bytearray(b"abc"), uri=None,
            meta=Row(width=None, height=None, duration_s=1.0, sample_rate=8000)),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    feats = {r.media_id: r.feature for r in
             M.extract_features(df, decoder=_toy_decoder).collect()}
    assert feats[1] == [10.0, 1.0] and feats[2] == [3.0, 0.0]

    resized = {r.media_id: r for r in
               M.resize_images(df, max_side=512, resizer=_toy_resizer).collect()}
    assert bytes(resized[1].payload) == b"resized:512x256:10"
    assert resized[1].meta.width == 512 and resized[1].meta.height == 256
    assert bytes(resized[2].payload) == b"abc"  # within bounds: untouched


def test_frame_sample_plan(spark):
    rows = [Row(media_id=1, modality="video", mime_type="video/mp4",
                payload=None, uri="s3://v.mp4",
                meta=Row(width=640, height=480, duration_s=3.2, sample_rate=None))]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = M.frame_sample_plan(df, every_s=1.0).collect()
    assert [r.frame_index for r in out] == [0, 1, 2]
    assert out[2].sample_ts_s == 2.0


def test_group_aware_split_never_leaks_across_splits(spark):
    """The leakage property that motivates group-aware splitting: every
    near-dup component lands WHOLLY inside one split, while the per-doc
    hash_split demonstrably straddles (on a corpus with planted near-dup
    clusters whose member ids hash to different per-doc buckets)."""
    from peskas_malawi_data_pipeline_spark.functions import text as T
    from peskas_malawi_data_pipeline_spark.operators import dedup as D

    rows = []
    for g in range(12):
        # per-cluster DISTINCT base text so clusters don't merge with
        # each other; members differ by one trailing token
        base = " ".join(f"g{g}w{j}" for j in range(18))
        for m in range(4):                      # 4 near-identical members
            rows.append((g * 100 + m, base +
                         (" extra" if m == 3 else "")))
    for i in range(48, 120):                    # singletons
        rows.append((i * 100 + 7, f"unique document number {i} " * 3
                     + f"tail {i}"))
    df = spark.createDataFrame(rows, "doc_id long, text string")

    pairs = D.minhash_lsh_pairs(df, num_hashes=8, band_size=2, shingle_n=3)
    comp = D.connected_components_star(pairs)
    keyed = (df.join(comp.withColumnRenamed("id", "doc_id"), "doc_id",
                     "left")
             .select("doc_id",
                     F.coalesce(F.col("component"), F.col("doc_id"))
                     .cast("long").alias("group_key")))
    h = T.md5_prefix_hash(F.col("group_key").cast("string"), "split:") % 100
    hd = T.md5_prefix_hash(F.col("doc_id").cast("string"), "split:") % 100
    out = keyed.select(
        "doc_id", "group_key",
        F.when(h < 80, "train").when(h < 90, "valid").otherwise("test")
        .alias("split"),
        F.when(hd < 80, "train").when(hd < 90, "valid").otherwise("test")
        .alias("per_doc_split")).collect()

    by_group: dict = {}
    per_doc_straddles = 0
    for r in out:
        by_group.setdefault(r.group_key, (set(), set()))
        by_group[r.group_key][0].add(r.split)
        by_group[r.group_key][1].add(r.per_doc_split)
    multi = [g for g, (s, _) in by_group.items()
             if len([r for r in out if r.group_key == g]) > 1]
    assert len(multi) >= 10                      # clusters actually formed
    for g, (splits, doc_splits) in by_group.items():
        assert len(splits) == 1, (g, splits)     # NEVER leaks
    # the per-doc baseline demonstrably straddles at least one cluster —
    # the hole group-aware splitting closes
    assert any(len(ds) > 1 for g, (_, ds) in by_group.items()
               if g in set(multi))


def test_pq_encode_and_adc_vs_numpy_reference(spark):
    """Product quantization: codes equal a numpy argmin reference over
    the micro-quantized subvectors (ties → lowest centroid id), the
    packed radix form round-trips, and pq_adc_topk's distances equal the
    brute-force ADC computation exactly (integer arithmetic — zero
    tolerance). A corpus vector IDENTICAL to a codebook seed encodes to
    that seed's codes with per-subspace distance 0."""
    import numpy as np

    from peskas_malawi_data_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(11)
    dim, m, kc = 8, 4, 3
    vecs = rng.uniform(-1, 1, size=(20, dim)).round(3)
    vecs[7] = vecs[1]          # an exact copy of a codebook seed (id 1)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "corpus_id int, embedding array<double>")
    cb = S.pq_codebook(df, m=m, k_centroids=kc)
    assert set(cb) == {(s, c) for s in range(1, m + 1)
                       for c in range(1, kc + 1)}

    micro = np.floor(vecs * 1e6).astype("int64")
    d_sub = dim // m
    cents = micro[:kc]

    def ref_codes(v):
        out = []
        for s in range(m):
            sub = v[s * d_sub:(s + 1) * d_sub]
            d2 = [int(((sub - cents[c, s * d_sub:(s + 1) * d_sub]) ** 2)
                      .sum()) for c in range(kc)]
            out.append(int(np.lexsort((np.arange(kc), d2))[0]) + 1)
        return out

    got = {r.corpus_id: (list(r.pq_codes), r.pq_packed)
           for r in S.pq_encode(df, cb, id_col="corpus_id").collect()}
    for i, v in enumerate(micro):
        want = ref_codes(v)
        packed = sum((c - 1) * (kc ** s) for s, c in enumerate(want))
        assert got[i] == (want, packed), (i, got[i], want)
    assert got[7] == got[1]    # the exact copy shares the seed's codes

    q = spark.createDataFrame(rows[:3], "query_id int, embedding array<double>")
    adc = {(r.query_id, r.corpus_id): (r.adc_dist, r.rank)
           for r in S.pq_adc_topk(q, df, cb, k=4).collect()}

    def ref_adc(qi, ci):
        total = 0
        codes = ref_codes(micro[ci])
        for s in range(m):
            sub = micro[qi][s * d_sub:(s + 1) * d_sub]
            cv = cents[codes[s] - 1, s * d_sub:(s + 1) * d_sub]
            total += int(((sub - cv) ** 2).sum())
        return total

    for (qi, ci), (dist, rank) in adc.items():
        assert qi != ci
        assert dist == ref_adc(qi, ci), (qi, ci)
        assert 1 <= rank <= 4
    # query 1's exact copy (id 7) ties the minimum ADC distance: both
    # score the query-to-own-codes residual
    assert adc[(1, 7)][0] == min(d for (q_, _c), (d, _) in adc.items()
                                 if q_ == 1)


def test_kmeans_lloyd_matches_numpy_reference(spark):
    """kmeans_lloyd equals a numpy Lloyd reference implementing the same
    deterministic rules — lowest-id seeding, exact integer d² argmin
    with lowest-cid ties, truncating micro means — across 1, 2 and 3
    iterations, including an input that empties a cluster after round 1
    (the vanished centroid stays vanished in both). An empty frame
    raises up front, like pq_codebook."""
    import numpy as np

    from peskas_malawi_data_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(3)
    # two tight blobs + one outlier seed that loses its members
    pts = np.concatenate([
        rng.normal(0.0, 0.05, size=(12, 6)),
        rng.normal(1.0, 0.05, size=(12, 6)),
        [[5.0] * 6],
    ]).round(3)
    order = rng.permutation(len(pts))
    rows = [(int(i), [float(x) for x in pts[p]])
            for i, p in enumerate(order)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    micro = {i: np.floor(np.array(v) * 1e6).astype("int64")
             for i, v in rows}

    def ref(k, iters):
        cents = {cid: micro[cid - 1].copy() for cid in range(1, k + 1)}
        assign = {}
        for it in range(iters):
            assign = {}
            for i, v in micro.items():
                best = min(((int(((v - cv) ** 2).sum()), cid)
                            for cid, cv in sorted(cents.items())))
                assign[i] = best[1]
            if it == iters - 1:
                break
            nxt = {}
            for cid in sorted(cents):
                members = [micro[i] for i, c in assign.items() if c == cid]
                if not members:
                    continue          # cluster vanishes
                s = np.sum(members, axis=0, dtype="int64")
                n = len(members)
                # divide-then-cast truncation, same as the engine idiom
                nxt[cid] = np.array([int(float(x) / n) for x in s],
                                    dtype="int64")
            cents = nxt
        return assign

    for iters in (1, 2, 3):
        got = {r.vec_id: r.centroid_id
               for r in S.kmeans_lloyd(df, k=4,
                                       iterations=iters).collect()}
        assert got == ref(4, iters), iters
    # the two blobs separate: no centroid serves members of both (k=4 may
    # legitimately keep two centroids inside one blob — that's k-means,
    # not a bug — but cross-blob sharing would be)
    final = {r.vec_id: r.centroid_id
             for r in S.kmeans_lloyd(df, k=4, iterations=3).collect()}
    blob_a = {final[i] for i, p in enumerate(order) if p < 12}
    blob_b = {final[i] for i, p in enumerate(order) if 12 <= p < 24}
    assert blob_a and blob_b and not (blob_a & blob_b)

    empty = spark.createDataFrame([], "vec_id int, embedding array<double>")
    for iters in (1, 3):
        with pytest.raises(ValueError, match="empty corpus"):
            S.kmeans_fit_centroids(empty, k=4, iterations=iters)


def test_kmeans_centroids_and_trained_codebook(spark):
    """kmeans_centroids equals the numpy grouped truncating-mean over the
    final assignment; pq_codebook_from_centroids slices those vectors
    into a dense-cid codebook, REINDEXING over gaps (a vanished cluster
    must not KeyError the codebook constructors); brute_force_l2_topk
    equals the numpy exact integer-L2 ranking with lowest-id ties."""
    import numpy as np

    from peskas_malawi_data_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(11)
    pts = np.concatenate([
        rng.normal(0.0, 0.05, size=(10, 8)),
        rng.normal(1.0, 0.05, size=(10, 8)),
        [[5.0] * 8],                       # outlier seed, loses members
    ]).round(3)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(pts)]
    df = spark.createDataFrame(rows, "vec_id int, embedding array<double>")
    micro = {i: np.floor(np.array(v) * 1e6).astype("int64")
             for i, v in rows}

    assign = S.kmeans_lloyd(df, k=3, iterations=2)
    amap = {r.vec_id: r.centroid_id for r in assign.collect()}
    got = S.kmeans_centroids(df, assign)
    want = {}
    for cid in sorted(set(amap.values())):
        members = [micro[i] for i, c in amap.items() if c == cid]
        s = np.sum(members, axis=0, dtype="int64")
        # truncating integer division toward zero, the div/`//` idiom
        want[cid] = [int(x) // len(members) if x >= 0
                     else -((-int(x)) // len(members)) for x in s]
    assert got == want

    # gap reindex: centroids {1: ..., 3: ...} → dense cids 1, 2
    cb = S.pq_codebook_from_centroids(
        {1: list(range(8)), 3: list(range(8, 16))}, m=2)
    assert set(cb) == {(1, 1), (1, 2), (2, 1), (2, 2)}
    assert cb[(1, 2)] == [8, 9, 10, 11] and cb[(2, 1)] == [4, 5, 6, 7]

    # exact integer-L2 top-k vs numpy
    q = spark.createDataFrame(rows[:4],
                              "query_id int, embedding array<double>")
    c = df.withColumnRenamed("vec_id", "corpus_id")
    got_l2 = {(r.query_id, r.corpus_id): (r.l2_d2, r.rank)
              for r in S.brute_force_l2_topk(q, c, k=3).collect()}
    want_l2 = {}
    for qi in range(4):
        scored = sorted((int(((micro[qi] - micro[ci]) ** 2).sum()), ci)
                        for ci in micro if ci != qi)
        for rank, (d, ci) in enumerate(scored[:3], start=1):
            want_l2[(qi, ci)] = (d, rank)
    assert got_l2 == want_l2


def test_ivf_pq_topk_matches_bruteforce_composition(spark):
    """IVF-ADC equals the brute-force composition exactly: coarse
    assignment by integer full-dim argmin (ties → lowest centroid),
    candidates = corpus rows in the query's nprobe lists, scores = exact
    ADC over the codes — all integers, zero tolerance. Also: the
    candidate set is genuinely PRUNED (some true ADC neighbors outside
    probed lists are absent), which is the IVF trade the test documents."""
    import numpy as np

    from peskas_malawi_data_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(5)
    dim, m, kc, ncent, nprobe = 8, 4, 3, 4, 2
    vecs = rng.uniform(-1, 1, size=(30, dim)).round(3)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    df = spark.createDataFrame(rows, "corpus_id int, embedding array<double>")
    q = spark.createDataFrame(rows[:5],
                              "query_id int, embedding array<double>")
    cb = S.pq_codebook(df, m=m, k_centroids=kc)
    coarse = S.ivf_coarse_centroids(df, n_centroids=ncent)

    micro = np.floor(vecs * 1e6).astype("int64")
    cents = np.array([coarse[c] for c in sorted(coarse)], dtype="int64")
    d_sub = dim // m
    cbm = {k_: np.array(v, dtype="int64") for k_, v in cb.items()}

    def lists_of(v, n):
        d2 = ((cents - v) ** 2).sum(axis=1)
        return [int(i) + 1 for i in np.lexsort((np.arange(ncent), d2))[:n]]

    def codes_of(v):
        out = []
        for s in range(1, m + 1):
            sub = v[(s - 1) * d_sub:s * d_sub]
            d2 = [int(((sub - cbm[(s, c)]) ** 2).sum())
                  for c in range(1, kc + 1)]
            out.append(int(np.lexsort((np.arange(kc), d2))[0]) + 1)
        return out

    def adc(qv, codes):
        return sum(int(((qv[(s - 1) * d_sub:s * d_sub]
                         - cbm[(s, codes[s - 1])]) ** 2).sum())
                   for s in range(1, m + 1))

    want = {}
    for qi in range(5):
        probed = set(lists_of(micro[qi], nprobe))
        scored = [(adc(micro[qi], codes_of(micro[ci])), ci)
                  for ci in range(30)
                  if ci != qi and lists_of(micro[ci], 1)[0] in probed]
        for rank, (d, ci) in enumerate(sorted(scored)[:3], start=1):
            want[(qi, ci)] = (d, rank)

    got = {(r.query_id, r.corpus_id): (r.adc_dist, r.rank)
           for r in S.ivf_pq_topk(q, df, cb, coarse, k=3,
                                  nprobe=nprobe).collect()}
    assert got == want

    # pruning is real: the unpruned ADC ranking differs for some query
    full = {(r.query_id, r.corpus_id)
            for r in S.pq_adc_topk(q, df, cb, k=3).collect()}
    assert full != set(got)


def test_jaccard_stop_shingle_cap_is_lower_bound(spark):
    from pyspark.sql import Row

    from peskas_malawi_data_pipeline_spark.operators import dedup as D

    # "common ngram x1.." shingles appear in every doc; capping drops them
    docs = spark.createDataFrame([
        Row(doc_id=i, block="b",
            text=f"common ngram shared by every doc plus unique tail {i} "
                 f"more unique words {i} {i+100} {i+200}")
        for i in range(6)
    ])
    full = {(r.id_a, r.id_b): r.jaccard
            for r in D.jaccard_pairs(docs, "block", threshold=0.01).collect()}
    capped = {(r.id_a, r.id_b): r.jaccard
              for r in D.jaccard_pairs(docs, "block", threshold=0.01,
                                       max_shingle_df=3).collect()}
    assert set(capped) <= set(full)          # no new pairs appear
    for pair, j in capped.items():
        assert j <= full[pair] + 1e-12       # capped similarity only shrinks


def test_connected_components_star_long_chain(spark):
    """Large-star/small-star must collapse a 60-node path graph (diameter
    59) within its O(log² n) round budget — diameter-bound label
    propagation would need ~59 iterations. Also: every node labelled with
    its component minimum on a small multi-component graph."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"])
    out = D.connected_components_star(chain, max_rounds=8)
    rows = out.collect()
    assert len(rows) == 60
    assert {r.component for r in rows} == {0}

    pairs = spark.createDataFrame(
        [(1, 2), (2, 3), (10, 11), (20, 21), (21, 22), (22, 20)],
        ["id_a", "id_b"])
    star = {(r.id, r.component)
            for r in D.connected_components_star(pairs).collect()}
    assert star == {(1, 1), (2, 1), (3, 1), (10, 10), (11, 10),
                    (20, 20), (21, 20), (22, 20)}


def test_connected_components_star_raises_when_rounds_run_out(spark):
    """Out of rounds before the checksum repeats is an error, not a
    result: a 60-node path cannot reach its fixpoint in 2 rounds, and
    unconverged labels would split one component into many."""
    chain = spark.createDataFrame(
        [(i, i + 1) for i in range(59)], ["id_a", "id_b"])
    with pytest.raises(RuntimeError,
                       match="connected_components_star.*2 rounds"):
        D.connected_components_star(chain, max_rounds=2)


def test_connected_components_star_forest_stops_after_round_one(spark):
    """A star forest (each component a star on its minimum id, the shape of
    ``corpus_ann``'s disjoint near-dup pairs) is already the fixpoint. The
    base frame's checksum seeds the loop, so round 1 repeats it and stops
    instead of running a second round only to see the checksum repeat.
    Pinned as the Spark jobs of the call plus a collect."""
    sc = spark.sparkContext
    edges = [(2 * i, 2 * i + 1) for i in range(20)]
    edges += [(100, 100 + k) for k in range(1, 6)]
    pairs = spark.createDataFrame(edges, ["id_a", "id_b"])
    group = "test.components.star_forest"
    sc.setJobGroup(group, group)
    try:
        got = {(r.id, r.component)
               for r in D.connected_components_star(pairs).collect()}
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = len(sc.statusTracker().getJobIdsForGroup(group))
    assert got == {(x, min(e)) for e in edges for x in e}
    assert jobs == 11           # one round; a second round is 5 more


def test_multimodal_resize_downscale_and_passthrough(spark):
    import hashlib

    rows = [
        Row(media_id=1, modality="image", mime_type="image/png",
            payload=bytearray(b"big"), uri=None,
            meta=Row(width=1024, height=768, duration_s=None, sample_rate=None)),
        Row(media_id=2, modality="image", mime_type="image/png",
            payload=bytearray(b"small"), uri=None,
            meta=Row(width=100, height=50, duration_s=None, sample_rate=None)),
        Row(media_id=3, modality="image", mime_type=None,
            payload=None, uri="s3://b/x.png", meta=None),
    ]
    df = spark.createDataFrame(rows, M.MEDIA_SCHEMA)
    out = {r.media_id: r for r in
           M.resize_images(df, max_side=512, decode="fake").collect()}
    # downscaled: 1024x768 -> 512x384, payload replaced by the digest stub
    assert (out[1].meta.width, out[1].meta.height) == (512, 384)
    assert bytes(out[1].payload) == hashlib.sha256(b"big|512x384").digest()
    # within bounds: untouched payload and dims (no upscale)
    assert (out[2].meta.width, out[2].meta.height) == (100, 50)
    assert bytes(out[2].payload) == b"small"
    # NULL payload/meta row passes through
    assert out[3].payload is None and out[3].meta is None


def test_connected_components_property_random_graphs(spark):
    """Property: star contraction equals a union-find ground truth
    (minimum id per component) on randomized graphs — chains, cliques,
    isolated edges, duplicate/self pairs."""
    import random

    rng = random.Random(42)
    for trial in range(4):
        n = rng.randint(2, 40)
        m = rng.randint(1, 60)
        pairs = [(rng.randrange(n), rng.randrange(n)) for _ in range(m)]
        if trial == 3:               # adversarial: long chain + clique
            pairs += [(i, i + 1) for i in range(30)] + \
                     [(50 + a, 50 + b) for a in range(5) for b in range(5)]

        parent = list(range(max(max(p) for p in pairs) + 1))

        def find(x):
            while parent[x] != x:
                parent[x] = parent[parent[x]]
                x = parent[x]
            return x

        nodes = set()
        for a, b in pairs:
            nodes.update((a, b))
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
        want = {x: find(x) for x in nodes}

        df = spark.createDataFrame(pairs, ["id_a", "id_b"])
        got_star = {r.id: r.component
                    for r in D.connected_components_star(df).collect()}
        assert got_star == want, trial


def test_graph_operators_empty_input(spark):
    """Empty candidate/edge frames must yield empty results, not hang the
    fixpoint loops or crash the checksum/convergence logic."""
    empty_pairs = spark.createDataFrame([], "id_a long, id_b long")
    assert D.connected_components_star(empty_pairs).count() == 0


def test_barrier_uses_reliable_checkpoints_when_configured(spark, tmp_path):
    """core.barrier.materialize: local checkpoint by default; once the
    session sets a checkpoint dir (the cluster/preemptible-fleet setup in
    SCALE.md §11), every iterative-operator barrier — including a full
    components run — persists to the reliable store, surviving executor
    loss."""
    import glob
    import os

    from peskas_malawi_data_pipeline_spark.core.barrier import materialize

    sc = spark.sparkContext
    assert sc.getCheckpointDir() is None
    local = materialize(spark.range(5))
    assert local.count() == 5

    ckpt = str(tmp_path / "ckpt")
    sc.setCheckpointDir(ckpt)
    try:
        out = materialize(spark.range(5))
        assert out.count() == 5
        pairs = spark.createDataFrame([(1, 2), (2, 3)], ["id_a", "id_b"])
        comps = {(r.id, r.component)
                 for r in D.connected_components_star(pairs).collect()}
        assert comps == {(1, 1), (2, 1), (3, 1)}
        files = glob.glob(os.path.join(ckpt, "**", "*"), recursive=True)
        assert files, "no reliable checkpoint data written"
    finally:
        # un-set so the shared session's other tests keep local barriers
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.empty())
    assert sc.getCheckpointDir() is None


def test_fourth_review_regressions(spark):
    """Pin the fourth review pass's fixes: NULL-text rows all survive exact
    dedup (missing content is not duplicate content); a self-pair singleton
    keeps its component row (star contraction used to drop it);
    sketch_hamming_pairs rejects a max_hamming that voids the pigeonhole
    recall guarantee; NULL-keyed groups get LocScaleB bounds and alerts."""
    from peskas_malawi_data_pipeline_spark.operators import validation as V

    docs = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, None), (4, None)],
        "doc_id long, text string")
    survivors = {r.doc_id for r in D.exact_dedup(docs).collect()}
    assert survivors == {1, 3, 4}

    pairs = spark.createDataFrame([(1, 2), (9, 9)], ["id_a", "id_b"])
    got = {(r.id, r.component)
           for r in D.connected_components_star(pairs).collect()}
    assert got == {(1, 1), (2, 1), (9, 9)}

    import pytest as _pytest
    with _pytest.raises(ValueError, match="pigeonhole"):
        D.sketch_hamming_pairs(
            spark.createDataFrame([(1, 0), (2, 0)], "doc_id long, sk long"),
            "sk", "doc_id", 16, 4, 4, None, "pigeonhole_check")

    vals = spark.createDataFrame(
        [("g", 10.0), ("g", 11.0), ("g", 12.0), ("g", 1000.0),
         (None, 10.0), (None, 11.0), (None, 12.0), (None, 1000.0)],
        "grp string, v double")
    bounds = {r.grp: r.v_upper for r in V.loc_scale_bounds(
        vals, {"v": (2.0, "exp")}, keys=["grp"]).collect()}
    assert bounds["g"] is not None
    assert bounds[None] is not None          # NA group gets bounds too
    alerts = V.alert_outlier(vals, "v", 1, 2, keys=["grp"], k=2.0)
    flagged = {(r.grp, r.v) for r in alerts.filter("alert = 2").collect()}
    assert (None, 1000.0) in flagged and ("g", 1000.0) in flagged


# ---------------------------------------------------------------------------
# containment (overlap-coefficient) pairs


def test_containment_catches_partial_dup_jaccard_misses(spark):
    rows = [
        Row(doc_id=1, text="alpha beta gamma delta"),
        Row(doc_id=2, text="alpha beta gamma delta " + " ".join(
            f"w{i} x{i} y{i}" for i in range(30))),  # doc1 quoted inside
        Row(doc_id=3, text="totally unrelated words here now"),
    ]
    df = spark.createDataFrame(rows).withColumn("block", F.lit(1))
    cont = {(r.id_a, r.id_b): r.containment
            for r in D.containment_pairs(df, "block", threshold=0.5).collect()}
    jac = {(r.id_a, r.id_b): r.jaccard
           for r in D.jaccard_pairs(df, "block", threshold=0.0,
                           allow_all_pairs=True).collect()}
    # doc1's 2 trigram shingles both appear in doc2 -> containment 1.0
    assert cont[(1, 2)] == 1.0
    # ... while Jaccard is crushed by doc2's length
    assert jac[(1, 2)] < 0.05
    assert (1, 3) not in cont and (2, 3) not in cont


def test_jaccard_zero_threshold_requires_optin(spark):
    """The all-pairs fallback (threshold <= 0) bypasses max_shingle_df, so
    the default refuses it; allow_all_pairs=True is the explicit opt-in."""
    df = _docs(spark).withColumn("block", F.lit(1))
    with pytest.raises(ValueError, match="allow_all_pairs"):
        D.jaccard_pairs(df, "block", threshold=0.0)
    # opt-in path still works and still emits zero-overlap pairs
    pairs = {(r.id_a, r.id_b): r.jaccard
             for r in D.jaccard_pairs(df, "block", threshold=0.0,
                                      allow_all_pairs=True).collect()}
    assert pairs[(1, 4)] == 0.0


def test_containment_requires_positive_threshold(spark):
    df = _docs(spark).withColumn("block", F.lit(1))
    with pytest.raises(ValueError, match="threshold > 0"):
        D.containment_pairs(df, "block", threshold=0.0)


def test_containment_stop_shingle_cap_defaults_finite(spark):
    # The 100x probe (SCALE.md §10b) proved the cap mandatory beyond ~one
    # decade of growth, so the safe behavior must be opt-out: the default
    # is a finite df cap, None is the explicit uncapped opt-out, and at
    # cap-not-binding scale the two agree exactly.
    import inspect

    default = inspect.signature(
        D.containment_pairs).parameters["max_shingle_df"].default
    assert isinstance(default, int) and default > 0

    rows = [
        Row(doc_id=1, text="alpha beta gamma delta"),
        Row(doc_id=2, text="alpha beta gamma delta epsilon zeta"),
        Row(doc_id=3, text="alpha beta gamma other words entirely"),
    ]
    df = spark.createDataFrame(rows).withColumn("block", F.lit(1))
    capped = {(r.id_a, r.id_b): r.containment
              for r in D.containment_pairs(df, "block",
                                           threshold=0.2).collect()}
    uncapped = {(r.id_a, r.id_b): r.containment
                for r in D.containment_pairs(df, "block", threshold=0.2,
                                             max_shingle_df=None).collect()}
    assert capped == uncapped and capped

    # A binding cap only LOWERS containment (drops hot postings): with
    # every shingle's df capped at 1 no pair shares a posting at all.
    assert not D.containment_pairs(df, "block", threshold=0.2,
                                   max_shingle_df=1).take(1)


# ---------------------------------------------------------------------------
# semantic dedup (SemDeDup-style)


def _seed_centroids(rows, seed_ids):
    """Seed rows as the {vec_id → micro-int vector} centroid dict."""
    return {r.vec_id: [math.floor(x * 1e6) for x in r.embedding]
            for r in rows if r.vec_id in seed_ids}


def test_semantic_dedup_prunes_within_cluster_only(spark):
    rows = [
        # cluster around +x
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=10, embedding=[0.99, 0.01]),   # near-dup of 0 -> dropped
        Row(vec_id=11, embedding=[0.98, 0.02]),   # near-dup of 0 -> dropped
        # cluster around +y
        Row(vec_id=1, embedding=[0.0, 1.0]),
        Row(vec_id=20, embedding=[0.01, 0.99]),   # near-dup of 1 -> dropped
        Row(vec_id=21, embedding=[-0.9, 0.1]),    # same cluster, dissimilar -> kept
    ]
    df = spark.createDataFrame(rows)
    cents = _seed_centroids(rows, {0, 1})
    out = S.semantic_dedup_survivors(df, cents, threshold=0.95)
    got = {r.vec_id: r.centroid_id for r in out.collect()}
    assert set(got) == {0, 1, 21}
    assert got[0] == 0 and got[1] == 1 and got[21] == 1


def test_semantic_dedup_keeps_cross_cluster_near_dups(spark):
    # two near-identical vectors that land in DIFFERENT clusters survive:
    # semantic dedup only prunes within a cluster (the documented SemDeDup
    # trade: candidate generation is bounded by the clustering)
    rows = [
        Row(vec_id=0, embedding=[1.0, 0.0]),
        Row(vec_id=1, embedding=[1.0, 0.05]),
    ]
    df = spark.createDataFrame(rows)
    cents = _seed_centroids(rows, {0, 1})
    out = S.semantic_dedup_survivors(df, cents, threshold=0.9)
    assert sorted(r.vec_id for r in out.collect()) == [0, 1]


def test_containment_property_vs_python_reference(spark):
    """Property: containment_pairs equals a plain-Python shingle-set
    reference on randomized corpora (shared vocabulary, varying lengths),
    across thresholds."""
    import random

    rng = random.Random(11)
    vocab = [f"w{i}" for i in range(30)]
    for trial in range(3):
        docs = {i: " ".join(rng.choice(vocab)
                            for _ in range(rng.randint(1, 40)))
                for i in range(1, 15)}

        def shingles(text, n=3):
            toks = text.lower().split()
            if len(toks) <= n - 1:
                return {" ".join(toks)}
            return {" ".join(toks[i:i + n]) for i in range(len(toks) - n + 1)}

        thr = rng.choice([0.2, 0.5, 0.8])
        want = {}
        for a in docs:
            for b in docs:
                if a < b:
                    sa, sb = shingles(docs[a]), shingles(docs[b])
                    inter = len(sa & sb)
                    if inter == 0:
                        continue
                    c = inter / min(len(sa), len(sb))
                    if c >= thr:
                        want[(a, b)] = round(c, 6)

        df = (spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in docs.items()])
            .withColumn("block", F.lit(1)))
        got = {(r.id_a, r.id_b): round(r.containment, 6)
               for r in D.containment_pairs(df, "block",
                                            threshold=thr).collect()}
        assert got == want, (trial, thr)


# ---------------------------------------------------------------------------
# hot-bucket caps: banded sketch join cap + observed (non-silent) drop audit


def _sketch_clique(spark):
    """Literal 32-bit sketches: an 8-row clique sharing one sketch (ids
    10-17) and a pair sharing a second (ids 1, 2). The two sketches differ
    in every 8-bit band, so the clique and the pair share no band bucket."""
    return spark.createDataFrame(
        [(i, 0x11111111) for i in range(10, 18)]
        + [(1, 0x22222222), (2, 0x22222222)], "doc_id long, sketch long")


def _sketch_pairs(df, max_bucket):
    """32-bit sketches in 4 bands, pairs within Hamming 3."""
    return D.sketch_hamming_pairs(df, "sketch", "doc_id", 32, 4, 3,
                                  max_bucket, "sketch_pairs")


def test_sketch_hamming_pairs_hot_bucket_cap(spark):
    """The banded sketch join must cap hot band buckets like its MinHash
    twin: a clique whose identical sketches land every member in the
    same bucket of every band would otherwise emit O(clique²) pairs with
    no bound (the 10× probe measured 86.6× wall on the uncapped join,
    SCALE.md §10d). Cap-drop semantics: capped-bucket pairs vanish (lower
    bound — never false positives, the Hamming verify still gates), pairs
    outside capped buckets survive untouched."""
    df = _sketch_clique(spark)

    uncapped = {(r.id_a, r.id_b)
                for r in _sketch_pairs(df, max_bucket=None).collect()}
    # 8-clique (28 pairs) + the (1, 2) exact dup
    assert (1, 2) in uncapped and len(uncapped) == 29

    capped = {(r.id_a, r.id_b)
              for r in _sketch_pairs(df, max_bucket=4).collect()}
    assert capped == {(1, 2)}

    # a cap ABOVE every bucket size changes nothing
    lax = {(r.id_a, r.id_b)
           for r in _sketch_pairs(df, max_bucket=1000).collect()}
    assert lax == uncapped


def test_cap_drops_are_observed_not_silent(spark):
    """Every capped candidate generator must record how much the cap
    dropped (VERDICT r5 #2): the metric rides the index barrier's own job
    via Observation — zero extra Spark jobs — and lands in
    last_cap_drops() for monitoring, with a warning logged when nonzero."""
    _sketch_pairs(_sketch_clique(spark), max_bucket=4).collect()
    m = D.last_cap_drops()["sketch_pairs"]
    # the 8-row clique occupies all 4 bands: 32 of the 40 index rows drop
    assert m == {"dropped_rows": 32, "total_rows": 40, "cap": 4}

    # not triggered -> zero drops recorded (and nothing dropped)
    _sketch_pairs(_sketch_clique(spark), max_bucket=1000).collect()
    m = D.last_cap_drops()["sketch_pairs"]
    assert m["dropped_rows"] == 0 and m["total_rows"] == 40

    # the MinHash band cap and the stop-shingle posting cap audit too
    clique = [Row(doc_id=i, text="boilerplate footer terms and conditions "
                                 "apply") for i in range(10, 18)]
    pair = [Row(doc_id=1, text="the quick brown fox jumps over the lazy dog"),
            Row(doc_id=2, text="the quick brown fox jumps over the lazy dog")]
    df = spark.createDataFrame(clique + pair)
    D.minhash_lsh_pairs(df, num_hashes=8, band_size=2, max_bucket=4).collect()
    mh = D.last_cap_drops()["lsh_pairs_from_bands"]
    assert mh["cap"] == 4 and mh["dropped_rows"] > 0
    assert mh["dropped_rows"] + 2 * 4 == mh["total_rows"]  # pair docs survive

    blk = df.withColumn("block", F.lit(1))
    D.containment_pairs(blk, "block", threshold=0.2,
                        max_shingle_df=3).collect()
    sp = D.last_cap_drops()["shingle_postings"]
    assert sp["cap"] == 3 and sp["dropped_rows"] > 0


def test_cap_observation_resolves_under_reliable_checkpoint(spark, tmp_path):
    """The cap audit reads its Observation right after the eager barrier;
    that must also resolve when materialize() takes the reliable-checkpoint
    path (cluster setup, SCALE.md §11), not just localCheckpoint."""
    sc = spark.sparkContext
    sc.setCheckpointDir(str(tmp_path / "ckpt"))
    try:
        df = spark.createDataFrame([(i, 0x11111111) for i in range(6)],
                                   "doc_id long, sketch long")
        out = _sketch_pairs(df, max_bucket=2).collect()
        assert out == []
        m = D.last_cap_drops()["sketch_pairs"]
        assert m == {"dropped_rows": 24, "total_rows": 24, "cap": 2}
    finally:
        getattr(sc._jsc.sc(), "checkpointDir_$eq")(
            spark._jvm.scala.Option.empty())


# ---------------------------------------------------------------------------
# exact substring (span-level) dedup — Lee et al. / RefinedWeb third modality


def _span_docs(spark):
    rows = [
        Row(doc_id=1, text="a b c d e f g h"),
        Row(doc_id=2, text="x a b c d e y z"),          # shares "a b c d e"
        Row(doc_id=3, text="p q r s t u p q r s t u"),  # self-repetition
        Row(doc_id=4, text="m n o p"),                  # shorter than k=5
        Row(doc_id=5, text="a b c d e f g h"),          # exact dup of doc 1
        Row(doc_id=6, text="s1 s2 s3 s4 s5 f1 f2 f3 f4 f5 f6 "
                           "s1 s2 s3 s4 s5"),           # two separated spans
        Row(doc_id=7, text=None),                       # NULL text
    ]
    return spark.createDataFrame(rows, "doc_id int, text string")


def test_duplicated_spans_maximal_merge(spark):
    """Span semantics hand-checked: cross-doc shared spans, within-doc
    self-repetition (counts, as in Lee et al.), adjacency merge (gap == k
    chains into one maximal span), separated repeats stay two spans, and
    short/NULL docs yield nothing."""
    got = {(r.doc_id, r.span_start, r.span_end, r.span_tokens)
           for r in D.duplicated_spans(_span_docs(spark), k=5).collect()}
    assert got == {
        (1, 1, 8, 8),    # doc5 duplicates every doc-1 shingle -> whole doc
        (2, 2, 6, 5),    # just the shared "a b c d e"
        (3, 1, 12, 12),  # dup positions 1,2,7,8; gap 5 == k merges all
        (5, 1, 8, 8),
        (6, 1, 5, 5), (6, 12, 16, 5),  # gap 11 > k stays two spans
    }


def test_duplicated_spans_min_occurrences(spark):
    # raising the occurrence floor to 3 keeps only the "a b c d e" shingle
    # (docs 1, 2, 5) — every occ-2 span disappears
    got = {(r.doc_id, r.span_start, r.span_end)
           for r in D.duplicated_spans(_span_docs(spark), k=5,
                                       min_occurrences=3).collect()}
    assert got == {(1, 1, 5), (2, 2, 6), (5, 1, 5)}
    with pytest.raises(ValueError, match="min_occurrences"):
        D.duplicated_spans(_span_docs(spark), k=5, min_occurrences=1)
    with pytest.raises(ValueError, match="k must be"):
        D.duplicated_spans(_span_docs(spark), k=0)


def test_substring_dedup_stats_every_doc_present(spark):
    got = {r.doc_id: (r.n_tokens, r.dup_span_tokens, r.kept_tokens)
           for r in D.substring_dedup_stats(_span_docs(spark), k=5).collect()}
    assert got == {
        1: (8, 8, 0), 2: (8, 5, 3), 3: (12, 12, 0),
        4: (4, 0, 4), 5: (8, 8, 0), 6: (16, 10, 6),
        7: (None, 0, None),   # NULL text: token count NULL, no spans
    }


def test_remove_duplicated_spans_applies_decision(spark):
    """detect -> remove: covered positions drop, everything else keeps its
    order; NULL text stays NULL, fully-duplicated docs come back ''."""
    got = {r.doc_id: (r.clean_text, r.n_tokens, r.kept_tokens)
           for r in D.remove_duplicated_spans(_span_docs(spark),
                                              k=5).collect()}
    assert got == {
        1: ("", 8, 0), 2: ("x y z", 8, 3), 3: ("", 12, 0),
        4: ("m n o p", 4, 4), 5: ("", 8, 0),
        6: ("f1 f2 f3 f4 f5 f6", 16, 6),
        7: (None, None, None),
    }


def test_duplicated_spans_property_vs_python_reference(spark):
    """Random small-vocabulary corpora (the shingle-collision worst case)
    checked against a brute-force Python reference of the same spec:
    k-shingle occurrence counts -> duplicated starts -> gap<=k island
    merge. One Spark job per (seed, k)."""
    import random

    def reference(texts, k, min_occ):
        toks = {i: t.split() for i, t in texts.items()}
        occ = {}
        for t in toks.values():
            for i in range(len(t) - k + 1):
                s = " ".join(t[i:i + k])
                occ[s] = occ.get(s, 0) + 1
        spans = set()
        for doc, t in toks.items():
            starts = [i + 1 for i in range(len(t) - k + 1)
                      if occ[" ".join(t[i:i + k])] >= min_occ]
            while starts:
                s0 = prev = starts.pop(0)
                while starts and starts[0] - prev <= k:
                    prev = starts.pop(0)
                spans.add((doc, s0, prev + k - 1, prev + k - s0))
        return spans

    for seed, k in [(3, 5), (11, 3), (77, 7)]:
        rng = random.Random(seed)
        vocab = [f"w{j}" for j in range(8)]     # tiny vocab -> heavy repeats
        texts = {i: " ".join(rng.choice(vocab)
                             for _ in range(rng.randint(0, 30)))
                 for i in range(40)}
        df = spark.createDataFrame(
            [Row(doc_id=i, text=t) for i, t in texts.items()],
            "doc_id int, text string")
        got = {(r.doc_id, r.span_start, r.span_end, r.span_tokens)
               for r in D.duplicated_spans(df, k=k).collect()}
        assert got == reference(texts, k, 2), (seed, k)


def _decon_reference(corpus, eval_texts, k):
    """Brute-force span-level decontamination: eval k-shingle set →
    marked corpus starts → gap<=k island merge → complement segments."""
    ev = set()
    for t in eval_texts:
        toks = t.lower().split()
        for i in range(len(toks) - k + 1):
            ev.add(" ".join(toks[i:i + k]))
    spans, segs = set(), set()
    for doc, t in corpus.items():
        toks = t.lower().split() if t is not None else []
        starts = [i + 1 for i in range(len(toks) - k + 1)
                  if " ".join(toks[i:i + k]) in ev]
        covered = set()
        pending = list(starts)
        while pending:
            s0 = prev = pending.pop(0)
            while pending and pending[0] - prev <= k:
                prev = pending.pop(0)
            spans.add((doc, s0, prev + k - 1, prev + k - s0))
            covered.update(range(s0, prev + k))
        kept = [p for p in range(1, len(toks) + 1) if p not in covered]
        idx = 0
        while kept:
            s0 = prev = kept.pop(0)
            while kept and kept[0] == prev + 1:
                prev = kept.pop(0)
            idx += 1
            segs.add((doc, idx, s0, prev, prev - s0 + 1,
                      " ".join(toks[s0 - 1:prev])))
        # note: the seg tuple text slice above is [s0-1:prev] == tokens
        # s0..prev inclusive in 1-based terms
    return spans, segs


def test_decontaminate_spans_and_segments_vs_bruteforce(spark):
    """Span-level decontamination equals the brute-force reference on
    random small-vocabulary corpora with PLANTED eval phrases (so
    contamination is guaranteed, plus incidental hits from the shared
    tiny vocabulary). Covers spans AND the split segments."""
    import random

    for seed, k in [(5, 5), (29, 3)]:
        rng = random.Random(seed)
        vocab = [f"w{j}" for j in range(10)]
        phrase = " ".join(rng.choice(vocab) for _ in range(k + 2))
        eval_texts = [phrase + " tailmark", "benchmark " + phrase]
        corpus = {}
        for i in range(40):
            words = [rng.choice(vocab) for _ in range(rng.randint(0, 25))]
            if i % 4 == 0:          # plant the eval phrase mid-document
                at = rng.randint(0, len(words))
                words[at:at] = phrase.split()
            corpus[i] = " ".join(words)
        corpus[98] = None
        corpus[99] = ""
        df = spark.createDataFrame(list(corpus.items()),
                                   "doc_id int, text string")
        evdf = spark.createDataFrame(
            [(100 + j, t) for j, t in enumerate(eval_texts)],
            "doc_id int, text string")
        want_spans, want_segs = _decon_reference(corpus, eval_texts, k)
        got_spans = {(r.doc_id, r.span_start, r.span_end, r.span_tokens)
                     for r in D.decontaminate_spans(df, evdf, k=k).collect()}
        assert got_spans == want_spans, (seed, k)
        got_segs = {(r.doc_id, r.seg_index, r.seg_start, r.seg_end,
                     r.seg_tokens, r.seg_text)
                    for r in D.decontaminate_segments(df, evdf,
                                                      k=k).collect()}
        assert got_segs == want_segs, (seed, k)

        # THE decontamination property, by construction: no k-shingle of
        # any emitted segment appears in the eval set
        ev = set()
        for t in eval_texts:
            toks = t.lower().split()
            ev.update(" ".join(toks[i:i + k])
                      for i in range(len(toks) - k + 1))
        for (_, _, _, _, _, text) in got_segs:
            toks = text.split()
            for i in range(len(toks) - k + 1):
                assert " ".join(toks[i:i + k]) not in ev


def test_decontaminate_segments_edge_docs(spark):
    """Edge semantics: fully-contaminated and token-less documents yield
    no segments; a clean document survives as ONE whole segment; the
    marking is eval-vs-corpus only (corpus-internal repetition alone
    never marks)."""
    corpus = [(1, "c d e f g"),              # fully contaminated
              (2, None), (3, "  "),          # nothing to train on
              (4, "p q r s t u"),            # clean -> one segment
              (5, "m m m m m m m m m m")]    # self-repeats, not in eval
    evdf = spark.createDataFrame([(0, "c d e f g")],
                                 "doc_id int, text string")
    df = spark.createDataFrame(corpus, "doc_id int, text string")
    got = {r.doc_id: (r.seg_index, r.seg_start, r.seg_end, r.seg_text)
           for r in D.decontaminate_segments(df, evdf, k=5).collect()}
    assert set(got) == {4, 5}
    assert got[4] == (1, 1, 6, "p q r s t u")
    assert got[5] == (1, 1, 10, "m m m m m m m m m m")


def test_bpe_fit_matches_textbook_reference(spark):
    """operators.bpe.bpe_fit equals the textbook Sennrich reference
    (adjacent-pair stats over the weighted vocab, greedy left-to-right
    merge) on corpora with repeats ('aaa'), unicode, marker-char
    injection, and single-char words — including the deterministic
    (count desc, pair asc) tie-break."""
    import collections

    from peskas_malawi_data_pipeline_spark.operators import bpe

    texts = ["low low low lower lowest",
             "aaa aa a aaa \x1faaa",
             "名前 名 前 the the the",
             "x " * 5]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id int, text string")

    def reference(k):
        words = collections.Counter(
            w.replace("\x1f", "")
            for t in texts for w in t.lower().split() if w.replace("\x1f", ""))
        vocab = {tuple(w): c for w, c in words.items()}
        merges = []
        for rank in range(1, k + 1):
            stats = collections.Counter()
            for syms, c in vocab.items():
                for i in range(len(syms) - 1):
                    stats[(syms[i], syms[i + 1])] += c
            if not stats:
                break
            # count desc, pair asc — compare as the space-joined strings
            # the engine orders by
            pair = min(stats, key=lambda p: (-stats[p], p[0] + " " + p[1]))
            merges.append((rank, pair[0] + " " + pair[1],
                           pair[0] + pair[1], stats[pair]))
            new_vocab = {}
            for syms, c in vocab.items():
                out, i = [], 0
                while i < len(syms):
                    if (i + 1 < len(syms) and syms[i] == pair[0]
                            and syms[i + 1] == pair[1]):
                        out.append(pair[0] + pair[1]); i += 2
                    else:
                        out.append(syms[i]); i += 1
                new_vocab[tuple(out)] = new_vocab.get(tuple(out), 0) + c
            vocab = new_vocab
        return merges

    got = [(r.merge_rank, r.pair, r.new_symbol, r.pair_count)
           for r in bpe.bpe_fit(df, k=6).orderBy("merge_rank").collect()]
    assert got == reference(6)


def test_bpe_merge_is_right_boundary_safe(spark):
    """Regression: a learned pair (a, x) must NOT merge where the second
    symbol merely STARTS with x. Corpus ['xy'*5, 'ax'*4, 'axy'] learns
    merges [(x y), (a x)]; in 'axy' round 1 yields symbols (a, xy), and
    round 2's (a, x) must not match (a, xy) — textbook encodes 'axy' as
    2 subwords ('a', 'xy'), a substring replace without the trailing
    sentinel collapses it to 1."""
    from peskas_malawi_data_pipeline_spark.operators import bpe

    texts = ["xy " * 5, "ax " * 4, "axy"]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id int, text string")
    fitted = [(r.merge_rank, r.pair, r.new_symbol, r.pair_count)
              for r in bpe.bpe_fit(df, k=2).orderBy("merge_rank").collect()]
    assert fitted == [(1, "x y", "xy", 6), (2, "a x", "ax", 4)]
    merges = [(p, s) for _, p, s, _ in fitted]
    got = {r.doc_id: r.n_subwords
           for r in bpe.bpe_apply_counts(df, merges).collect()}
    assert got == {0: 5, 1: 4, 2: 2}


def _bpe_fit_rows(bpe, df, k, strategy):
    return [(r.merge_rank, r.pair, r.new_symbol, r.pair_count)
            for r in bpe.bpe_fit(df, k=k, strategy=strategy)
            .orderBy("merge_rank").collect()]


def test_bpe_fit_strategies_identical(spark):
    """The three fit strategies (sequential rounds / driver-local heap /
    safe-batched rounds) and `auto` learn BIT-IDENTICAL merge sequences —
    on the textbook corpus, the right-boundary corpus, and seeded random
    corpora (short alphabet → dense symbol collisions, the worst case for
    batching safety). The differential anchor is `rounds`, the k=5
    oracle shape."""
    import random

    from peskas_malawi_data_pipeline_spark.operators import bpe

    corpora = [
        ["low low low lower lower newest newest newest widest widest"],
        ["xy " * 5, "ax " * 4, "axy"],
    ]
    rng = random.Random(17)
    for _ in range(3):
        corpora.append(
            [" ".join("".join(rng.choice("abcd")
                              for _ in range(rng.randint(1, 6)))
                      for _ in range(rng.randint(1, 12)))
             for _ in range(25)])
    for texts in corpora:
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                   "doc_id int, text string")
        ref = _bpe_fit_rows(bpe, df, 10, "rounds")
        for strategy in ("local", "batched", "auto"):
            assert _bpe_fit_rows(bpe, df, 10, strategy) == ref, strategy


def test_bpe_fit_auto_local_is_bounded_jobs(spark):
    """The auto→local path runs a CONSTANT number of Spark jobs however
    large k is (vocab collect + fit on the driver) — the property that
    makes k=32,000 tokenizer training feasible (the `rounds` path is
    2 jobs PER merge)."""
    from peskas_malawi_data_pipeline_spark.operators import bpe

    df = spark.createDataFrame(
        [(i, "ab abc abcd abcde " * (i + 1)) for i in range(6)],
        "doc_id int, text string")
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup() or [0])
    got = _bpe_fit_rows(bpe, df, 64, "auto")
    after = max(tracker.getJobIdsForGroup() or [0])
    assert got == _bpe_fit_rows(bpe, df, 64, "rounds")
    # vocab materialize + count + collect + createDataFrame collect ≈ 4;
    # allow slack but pin "constant, not O(k)=128"
    assert after - before <= 10


def test_safe_merge_batch_selection():
    """_safe_merge_batch unit behavior: (1) symbol-disjoint prefix is
    taken; (2) selection stops at the first symbol collision; (3) a
    non-picked pair overlapping a pick and TYING a later pick's count
    evicts that later pick (created-pair tie-break is unknowable without
    the rewrite); (4) a truncated candidate list bounds unseen counts by
    the last row."""
    from peskas_malawi_data_pipeline_spark.operators.bpe import (
        MARKER, _safe_merge_batch)

    def p(a, b):
        return f"{MARKER}{a} {MARKER}{b}"

    # disjoint descending counts: all picked
    rows = [(p("a", "b"), 10), (p("c", "d"), 8), (p("e", "f"), 6)]
    assert _safe_merge_batch(rows, 10, truncated=False) == rows

    # collision stops the prefix: (a,c) shares a with pick 1
    rows = [(p("a", "b"), 10), (p("a", "c"), 8), (p("e", "f"), 6)]
    assert _safe_merge_batch(rows, 10, truncated=False) == rows[:1]

    # overlap-tie eviction: (b,x) overlaps pick 1 and ties pick 2's
    # count → pick 2 unsafe (a created pair could reach 8 and win the
    # string tie-break), pick 1 always safe
    rows = [(p("a", "b"), 10), (p("c", "d"), 8), (p("b", "x"), 8)]
    assert _safe_merge_batch(rows, 10, truncated=False) == rows[:1]

    # same shape but overlap count strictly below pick 2: both survive
    rows = [(p("a", "b"), 10), (p("c", "d"), 8), (p("b", "x"), 7)]
    assert _safe_merge_batch(rows, 10, truncated=False) == rows[:2]

    # truncated list: unseen pairs may count rows[-1][1]=8 → pick 2 at 8
    # is unsafe, but untruncated the same rows keep both picks
    rows = [(p("a", "b"), 10), (p("c", "d"), 8)]
    assert _safe_merge_batch(rows, 10, truncated=True) == rows[:1]
    assert _safe_merge_batch(rows, 10, truncated=False) == rows
    # `want` caps the batch
    assert _safe_merge_batch(rows, 1, truncated=False) == rows[:1]


def test_bpe_apply_counts_matches_manual_encode(spark):
    """bpe_apply_counts: subword counts equal a manual greedy re-encode
    of each word under the given merges (merged symbols shrink counts;
    unmerged words keep their char counts)."""
    from peskas_malawi_data_pipeline_spark.operators import bpe

    df = spark.createDataFrame(
        [(0, "low lower low"), (1, "abc a"), (2, "lowlow")],
        "doc_id int, text string")
    merges = [("l o", "lo"), ("lo w", "low")]

    def encode_len(word):
        syms = list(word)
        for pair, new in merges:
            a, b = pair.split(" ")
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(new); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        return len(syms)

    got = {r.doc_id: (r.n_words, r.n_subwords)
           for r in bpe.bpe_apply_counts(df, merges).collect()}
    want = {0: (3, encode_len("low") * 2 + encode_len("lower")),
            1: (2, encode_len("abc") + encode_len("a")),
            2: (1, encode_len("lowlow"))}
    assert got == want


def _bpe_apply_rows(bpe, df, merges, strategy):
    return sorted(
        (r.doc_id, r.n_words, r.n_subwords)
        for r in bpe.bpe_apply_counts(df, merges, strategy=strategy)
        .collect())


def test_bpe_apply_counts_strategies_identical(spark):
    """The encode strategies (driver-local occurrence-index applier /
    distributed chained replace / auto) produce BIT-IDENTICAL per-doc
    subword counts — on the textbook corpus, the right-boundary corpus
    (where a substring replace without the sentinel over-merges), and
    seeded random corpora whose fit merges include composite-symbol
    pairs (the case where encode-order shortcuts diverge). Merges come
    from bpe_fit itself so the test exercises real learned sequences."""
    import random

    from peskas_malawi_data_pipeline_spark.operators import bpe

    corpora = [
        ["low low low lower lower newest newest newest widest widest"],
        ["xy " * 5, "ax " * 4, "axy"],
    ]
    rng = random.Random(23)
    for _ in range(3):
        corpora.append(
            [" ".join("".join(rng.choice("abc")
                              for _ in range(rng.randint(1, 7)))
                      for _ in range(rng.randint(1, 12)))
             for _ in range(25)])
    for texts in corpora:
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                   "doc_id int, text string")
        merges = [(r.pair, r.new_symbol)
                  for r in bpe.bpe_fit(df, k=12).orderBy("merge_rank")
                  .collect()]
        ref = _bpe_apply_rows(bpe, df, merges, "chained")
        assert _bpe_apply_rows(bpe, df, merges, "local") == ref
        assert _bpe_apply_rows(bpe, df, merges, "auto") == ref


def test_bpe_apply_counts_sequential_not_minrank(spark):
    """The local applier must replay merges SEQUENTIALLY, not by
    min-rank iteration: with merges [(ab c), (a b)] over word 'abc',
    sequential leaves 2 subwords ('ab','c' — rank 1's pass is over
    before rank 2 creates 'ab'), while a min-rank loop would revisit
    rank 1 and collapse to 1. Both strategies must agree on 2."""
    from peskas_malawi_data_pipeline_spark.operators import bpe

    df = spark.createDataFrame([(0, "abc")], "doc_id int, text string")
    merges = [("ab c", "abc"), ("a b", "ab")]
    for strategy in ("chained", "local"):
        got = {r.doc_id: r.n_subwords
               for r in bpe.bpe_apply_counts(df, merges,
                                             strategy=strategy).collect()}
        assert got == {0: 2}, strategy


def test_bpe_apply_counts_auto_local_is_bounded_jobs(spark):
    """The encode auto→local path runs a CONSTANT number of Spark jobs
    and builds an O(1)-size plan however many merges are applied — the
    property that makes applying a production 32k-merge tokenizer
    feasible (the chained path's expression tree is k deep)."""
    from peskas_malawi_data_pipeline_spark.operators import bpe

    df = spark.createDataFrame(
        [(i, "ab abc abcd abcde " * (i + 1)) for i in range(6)],
        "doc_id int, text string")
    merges = [(r.pair, r.new_symbol)
              for r in bpe.bpe_fit(df, k=64).orderBy("merge_rank")
              .collect()]
    tracker = spark.sparkContext.statusTracker()
    before = max(tracker.getJobIdsForGroup() or [0])
    got = _bpe_apply_rows(bpe, df, merges, "auto")
    after = max(tracker.getJobIdsForGroup() or [0])
    assert got == _bpe_apply_rows(bpe, df, merges, "chained")
    # words materialize + count + collect + result collect ≈ 4; pin
    # "constant, not O(k)"
    assert after - before <= 10


def test_fused_near_dup_bridges_modalities(spark):
    """fused_near_dup: a text-dup pair (1,2) chained to an image-dup pair
    (2,3) forms ONE group — the cross-modal bridge neither stream sees
    alone; the survivor is the RICHEST member (ties → lowest id); the
    per-modality edge counts attribute the group's evidence; singletons
    keep their own id, themselves as survivor, and zero counts."""
    from peskas_malawi_data_pipeline_spark.operators import dedup

    corpus = spark.createDataFrame(
        [(1, 10), (2, 30), (3, 30), (4, 5), (5, 7), (6, 7)],
        "doc_id long, rich long")
    text_pairs = spark.createDataFrame([(1, 2), (5, 6)],
                                       "id_a long, id_b long")
    image_pairs = spark.createDataFrame([(2, 3)], "id_a long, id_b long")
    out = {r.doc_id: (r.group_key, r.survivor_id,
                      r.n_edges_image, r.n_edges_text)
           for r in dedup.fused_near_dup(
               corpus, {"text": text_pairs, "image": image_pairs},
               richness=F.col("rich")).collect()}
    # one fused group {1,2,3}: 1 text edge + 1 image edge; survivor is
    # doc 2 (rich 30 ties doc 3 → lowest id wins)
    assert out[1] == (1, 2, 1, 1)
    assert out[2] == (1, 2, 1, 1) and out[3] == (1, 2, 1, 1)
    # text-only group {5,6}: survivor 5 (equal rich → lowest id)
    assert out[5] == (5, 5, 0, 1) and out[6] == (5, 5, 0, 1)
    # singleton
    assert out[4] == (4, 4, 0, 0)


def _reference_encode_ids(text, merges):
    """Pure-Python reference: whitespace tokens (lower+trim), sequential
    greedy merge application per word, ids per bpe.token_id_map —
    merged symbol -> min rank, base char -> k + codepoint."""
    k = len(merges)
    rank_of = {}
    for rank, (_pair, new) in enumerate(merges, start=1):
        rank_of.setdefault(new, rank)
    ids = []
    for word in text.lower().strip().split():
        syms = [c for c in word if c != "\x1f"]
        if not syms:
            continue
        for pair, new in merges:
            a, b = pair.split(" ", 1)
            out, i = [], 0
            while i < len(syms):
                if i + 1 < len(syms) and syms[i] == a and syms[i + 1] == b:
                    out.append(new); i += 2
                else:
                    out.append(syms[i]); i += 1
            syms = out
        ids.extend(rank_of[s] if len(s) > 1 else k + ord(s) for s in syms)
    return ids


def test_bpe_encode_ids_matches_reference(spark):
    """bpe_encode_ids: per-doc token-ID sequences equal a pure-Python
    sequential reference encoder, on the textbook corpus AND on seeded
    random corpora whose learned merges include composite-symbol pairs
    (ids from real merge sequences, not hand-picked ones); doc order
    inside the array matches word order; empty-after-sanitize words drop
    out; ids are exactly {merge ranks} ∪ {k+codepoint} with 0 reserved."""
    import random

    from peskas_malawi_data_pipeline_spark.operators import bpe

    corpora = [
        ["low low low lower lower newest newest newest widest widest",
         "low lowest", "xy ax axy"],
    ]
    rng = random.Random(97)
    for _ in range(2):
        corpora.append(
            [" ".join("".join(rng.choice("abcd")
                              for _ in range(rng.randint(1, 7)))
                      for _ in range(rng.randint(1, 12)))
             for _ in range(20)])
    for texts in corpora:
        df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                                   "doc_id int, text string")
        merges = [(r.pair, r.new_symbol)
                  for r in bpe.bpe_fit(df, k=10).orderBy("merge_rank")
                  .collect()]
        got = {r.doc_id: (list(r.token_ids), r.n_tokens)
               for r in bpe.bpe_encode_ids(df, merges).collect()}
        want = {i: _reference_encode_ids(t, merges)
                for i, t in enumerate(texts)}
        want = {i: (ids, len(ids)) for i, ids in want.items() if ids}
        assert got == want
        k = len(merges)
        for ids, _n in got.values():
            assert all(x != 0 for x in ids)          # 0 reserved
            for x in ids:
                assert (1 <= x <= k) or x > k        # rank or base range


def test_bpe_encode_ids_consistent_with_counts(spark):
    """The id path and the counts path are the same encode: per doc,
    len(token_ids) == n_subwords from bpe_apply_counts (both strategies),
    so budget numbers and materialized examples can never drift."""
    from peskas_malawi_data_pipeline_spark.operators import bpe

    df = spark.createDataFrame(
        [(0, "low lower low"), (1, "abc a"), (2, "lowlow"),
         (3, "\x1f\x1f"), (4, "  ")],
        "doc_id int, text string")
    merges = [("l o", "lo"), ("lo w", "low")]
    ids = {r.doc_id: r.n_tokens
           for r in bpe.bpe_encode_ids(df, merges).collect()}
    counts = {r.doc_id: r.n_subwords
              for r in bpe.bpe_apply_counts(df, merges).collect()}
    assert ids == counts                      # doc 3/4 absent from both


def test_bpe_encode_ids_vocab_limit_raises(spark):
    from peskas_malawi_data_pipeline_spark.operators import bpe

    df = spark.createDataFrame([(0, "a b c d e")], "doc_id int, text string")
    import pytest
    with pytest.raises(ValueError, match="local_vocab_limit"):
        bpe.bpe_encode_ids(df, [("a b", "ab")], local_vocab_limit=2)


def test_exact_rerank_matches_bruteforce_on_shortlist(spark):
    """exact_rerank == brute_force_l2_topk restricted to the shortlist:
    same integer-micro distances, same lowest-id tie-break; a k' = corpus
    shortlist reproduces the exact baseline verbatim."""
    import random

    from peskas_malawi_data_pipeline_spark.operators import similarity as S

    rng = random.Random(5)
    emb = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(30)],
        "vec_id long, embedding array<double>")
    q = emb.filter(F.col("vec_id") < 4).select(
        F.col("vec_id").alias("query_id"), "embedding")
    c = emb.select(F.col("vec_id").alias("corpus_id"), "embedding")
    exact = {(r.query_id, r.rank): (r.corpus_id, r.l2_d2)
             for r in S.brute_force_l2_topk(q, c, k=3).collect()}

    # full-corpus shortlist (minus self-pairs) -> rerank == exact baseline
    full = (q.select("query_id").crossJoin(c.select("corpus_id"))
            .filter(F.col("query_id") != F.col("corpus_id")))
    got = {(r.query_id, r.rank): (r.corpus_id, r.l2_d2)
           for r in S.exact_rerank(full, q, c, k=3).collect()}
    assert got == exact

    # a REAL shortlist: rerank returns its top-3 by exact distance, a
    # subset of the shortlist, ranks contiguous from 1
    short = S.brute_force_l2_topk(q, c, k=6).select("query_id", "corpus_id")
    short_set = {(r.query_id, r.corpus_id) for r in short.collect()}
    rr = S.exact_rerank(short, q, c, k=3).collect()
    by_q = {}
    for r in rr:
        assert (r.query_id, r.corpus_id) in short_set
        by_q.setdefault(r.query_id, []).append(r.rank)
    for ranks in by_q.values():
        assert sorted(ranks) == [1, 2, 3]


def test_bpe_vocab_table_astral_base_ids(spark):
    """bpe_vocab_table: astral-plane characters (outside the BMP, two
    UTF-16 units in the JVM) must come out as ONE base row at id
    k + codepoint — never split into lone surrogates by the JVM-side
    zero-width split. Pins the exported base ids against token_id_map /
    bpe_encode_ids' driver-side ord() rule."""
    from peskas_malawi_data_pipeline_spark.operators import bpe

    astral = "\U0001D54A"          # MATHEMATICAL DOUBLE-STRUCK CAPITAL S
    emoji = "\U0001F600"           # GRINNING FACE
    df = spark.createDataFrame(
        [(1, f"ab ab a{astral}b {emoji}{emoji} cd")],
        "doc_id long, text string")
    merges = [(r.pair, r.new_symbol)
              for r in bpe.bpe_fit(df, k=2).orderBy("merge_rank")
              .collect()]
    k = len(merges)
    vocab = bpe.bpe_vocab_table(df, merges).collect()
    base = {r.symbol: r.token_id for r in vocab if r.kind == "base"}
    # every base symbol is exactly one CODEPOINT (no lone surrogates)
    assert all(len(s) == 1 for s in base), sorted(base)
    assert base[astral] == k + ord(astral)
    assert base[emoji] == k + ord(emoji)
    # the exported ids agree with the encode path's id rule
    rank_of = bpe.token_id_map(merges)
    for r in vocab:
        if r.kind == "merge":
            assert rank_of[r.symbol] == r.token_id
        elif r.kind == "boundary":
            assert r.token_id == bpe.BOUNDARY_ID and r.symbol is None


def _ivfadc_reference(qrows, crows, cb, coarse, k, nprobe):
    """Brute-force IVFADC in numpy, independent of the engine: integer
    micros, coarse lists and codes by a lexsort over (d², cid), the
    nprobe nearest lists per query, exact ADC over every non-null corpus
    row in a probed list (self-pairs excluded), top k by (distance, id).
    A null vector is never coded and a null query ranks nothing.
    Returns {(query_id, corpus_id): (adc_dist, rank)}."""
    import numpy as np

    def micro(v):
        return np.floor(np.asarray(v, dtype="float64") * 1e6).astype("int64")

    def nearest(v, cids, vecs, n):
        d2 = [int(((v - np.asarray(c, dtype="int64")) ** 2).sum())
              for c in vecs]
        return [cids[i] for i in np.lexsort((cids, d2))[:n]]

    m = max(s_ for s_, _ in cb)
    d_sub = len(cb[(1, 1)])
    ccids = sorted(coarse)
    subs = {s_: sorted(c for ss, c in cb if ss == s_)
            for s_ in range(1, m + 1)}

    def part(v, s_):
        return v[(s_ - 1) * d_sub:s_ * d_sub]

    coded = {}
    for ci, v in crows:
        if v is None:
            continue
        x = micro(v)
        codes = [nearest(part(x, s_), subs[s_],
                         [cb[(s_, c)] for c in subs[s_]], 1)[0]
                 for s_ in range(1, m + 1)]
        coded[ci] = (nearest(x, ccids, [coarse[c] for c in ccids], 1)[0],
                     codes)
    want = {}
    for qi, v in qrows:
        if v is None:
            continue
        x = micro(v)
        probed = set(nearest(x, ccids, [coarse[c] for c in ccids], nprobe))
        scored = sorted(
            (sum(int(((part(x, s_) - np.asarray(cb[(s_, codes[s_ - 1])]))
                      ** 2).sum()) for s_ in range(1, m + 1)), ci)
            for ci, (lst, codes) in coded.items()
            if ci != qi and lst in probed)
        for rank, (d, ci) in enumerate(scored[:k], start=1):
            want[(qi, ci)] = (d, rank)
    return want


def _ranked(df):
    return {(r.query_id, r.corpus_id): (r.adc_dist, r.rank)
            for r in df.collect()}


def test_ivf_pq_index_persist_roundtrip(spark, tmp_path):
    """The persisted ANN index is lossless and sufficient: codebook and
    coarse tables round-trip dict -> table -> parquet -> dict exactly,
    and ivf_pq_search_coded over the written ivf_pq_encode_corpus output
    equals a numpy brute-force IVFADC over the raw vectors — the serve
    path never touching an embedding, with or without Arrow conversion.
    Every PQ/IVF search (pq_adc_topk, ivf_pq_candidates, ivf_pq_topk and
    the serve path) plans its query side as a driver-built local table,
    never a checkpoint."""
    import numpy as np

    rng = np.random.default_rng(11)
    dim = 8
    vecs = rng.uniform(-1, 1, size=(40, dim)).round(3)
    rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
    base = str(tmp_path)
    spark.createDataFrame(
        rows, "corpus_id int, embedding array<double>"
    ).write.parquet(base + "/raw")
    df = spark.read.parquet(base + "/raw")
    q = spark.createDataFrame(rows[:6],
                              "query_id int, embedding array<double>")
    cb = S.pq_codebook(df, m=4, k_centroids=3)
    coarse = S.ivf_coarse_centroids(df, n_centroids=4)

    S.ivf_pq_encode_corpus(df, cb, coarse).write.parquet(base + "/coded")
    S.codebook_to_table(spark, cb).write.parquet(base + "/cb")
    S.coarse_to_table(spark, coarse).write.parquet(base + "/coarse")

    cb2 = S.codebook_from_table(spark.read.parquet(base + "/cb"))
    coarse2 = S.coarse_from_table(spark.read.parquet(base + "/coarse"))
    assert cb2 == cb
    assert coarse2 == coarse

    want = _ivfadc_reference(rows[:6], rows, cb, coarse, k=3, nprobe=2)
    assert len(want) == 18
    served = S.ivf_pq_search_coded(
        q, spark.read.parquet(base + "/coded"), cb2, coarse2,
        k=3, nprobe=2)
    assert _ranked(served) == want
    # the serve plan's corpus side is the coded parquet — the raw-vector
    # frame (and its embedding column) appears only via the query side
    plan = served._jdf.queryExecution().executedPlan().toString()
    assert "coded" in plan and "pq_codes" in plan
    # the probe side is a driver-built local table, not a checkpoint —
    # in the serve path and in every in-session search alike
    for res in (served, S.ivf_pq_topk(q, df, cb, coarse, k=3, nprobe=2),
                S.pq_adc_topk(q, df, cb, k=3),
                S.ivf_pq_candidates(q, df, cb, coarse, nprobe=2)):
        plan = res._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "Scan ExistingRDD" not in plan
    # with Arrow conversion off (a bare session's default) the local
    # probe table still builds and serves the same rows
    key = "spark.sql.execution.arrow.pyspark.enabled"
    saved = spark.conf.get(key)
    spark.conf.set(key, "false")
    try:
        plain = _ranked(S.ivf_pq_search_coded(
            q, spark.read.parquet(base + "/coded"), cb2, coarse2,
            k=3, nprobe=2))
    finally:
        spark.conf.set(key, saved)
    assert plain == want


def test_ivf_pq_search_coded_edge_cases(spark, tmp_path):
    """The serve path's driver-side probe lists and lookup tables agree
    exactly with a numpy brute-force IVFADC at the edges: a ragged
    codebook, tied coarse centroids (probe order breaks the tie by cid),
    nprobe >= n_lists, fewer than k candidates, a query id that is also
    a corpus id, int and bigint ids and an empty query frame (empty
    result, same schema); nprobe < 1 and a rowless codebook corpus are
    rejected. One null-vector rule holds everywhere: a null corpus
    vector keeps its row with a null list id, null codes and a null
    k-means centroid id and is never a candidate, and a null query
    returns no rows — in the serve path, ivf_pq_topk and pq_adc_topk."""
    import numpy as np

    rng = np.random.default_rng(5)
    dim = 6
    vecs = rng.uniform(-1, 1, size=(30, dim)).round(3)
    cb = {(s, c): [int(x) for x in np.floor(vecs[c * 3 + s, (s - 1) * 2:
                                                 s * 2] * 1e6)]
          for s in range(1, 4) for c in range(1, 4)}
    del cb[(2, 3)]                       # ragged: subspace 2 has 2 cids
    coarse = {1: [int(x) for x in np.floor(vecs[0] * 1e6)],
              2: [int(x) for x in np.floor(vecs[1] * 1e6)],
              3: [int(x) for x in np.floor(vecs[0] * 1e6)],   # ties cid 1
              4: [5_000_000] * dim}      # a list nothing is assigned to

    def types(res):
        return [(f.name, f.dataType.simpleString()) for f in res.schema]

    for id_type in ("int", "bigint"):
        rows = [(int(i), [float(x) for x in v]) for i, v in enumerate(vecs)]
        crows = rows + [(200, None)]     # a null corpus vector
        df = spark.createDataFrame(
            crows, f"corpus_id {id_type}, embedding array<double>")
        path = str(tmp_path / f"coded_{id_type}")
        S.ivf_pq_encode_corpus(df, cb, coarse).write.parquet(path)
        coded = spark.read.parquet(path)
        # the null vector's row is kept, with a null list id and codes
        assert coded.count() == 31
        assert [(r.list_id, r.pq_codes) for r in
                coded.filter("corpus_id = 200").collect()] == [(None, None)]
        qrows = rows[:4] + [(100, [float(x) for x in -vecs[7]]),
                            (101, None)]
        q = spark.createDataFrame(
            qrows, f"query_id {id_type}, embedding array<double>")
        out_types = [("query_id", id_type), ("corpus_id", id_type),
                     ("adc_dist", "bigint"), ("rank", "int")]
        for k, nprobe in ((3, 1), (3, 2), (40, 1), (5, 4), (5, 9)):
            want = _ivfadc_reference(qrows, crows, cb, coarse, k, nprobe)
            res = S.ivf_pq_search_coded(q, coded, cb, coarse, k=k,
                                        nprobe=nprobe)
            served = _ranked(res)
            assert served == want, (id_type, k, nprobe)
            assert types(res) == out_types
            assert {qi for qi, _ in served} == {0, 1, 2, 3, 100}
            assert all(qi != ci for qi, ci in served)
            assert _ranked(S.ivf_pq_topk(q, df, cb, coarse, k=k,
                                         nprobe=nprobe)) == want
        # nprobe=9 > 4 lists and k=40 > 30 rows: every query gets every
        # non-null corpus row but itself, short of k
        served = _ranked(S.ivf_pq_search_coded(q, coded, cb, coarse, k=40,
                                               nprobe=9))
        assert len(served) == 5 * 30 - 4
        # pq_adc_topk is the one-list search: a full ADC scan
        one = {1: [0] * dim}
        adc = S.pq_adc_topk(q, df, cb, k=4)
        assert _ranked(adc) == _ivfadc_reference(qrows, crows, cb, one,
                                                 k=4, nprobe=1)
        assert types(adc) == out_types
        empty = spark.createDataFrame(
            [], f"query_id {id_type}, embedding array<double>")
        for res in (S.ivf_pq_search_coded(empty, coded, cb, coarse, k=3,
                                          nprobe=2),
                    S.ivf_pq_topk(empty, df, cb, coarse, k=3, nprobe=2),
                    S.pq_adc_topk(empty, df, cb, k=3)):
            assert _ranked(res) == {}
            assert types(res) == out_types
        for bad in (0, -1):
            with pytest.raises(ValueError):
                S.ivf_pq_search_coded(q, coded, cb, coarse, k=3,
                                      nprobe=bad)
        with pytest.raises(ValueError, match="empty corpus"):
            S.pq_codebook(df.limit(0), m=3, k_centroids=3)
        # k-means: the null vector gets a null centroid id and changes
        # no other row's assignment
        vdf = df.withColumnRenamed("corpus_id", "vec_id")
        got = {r.vec_id: r.centroid_id
               for r in S.kmeans_lloyd(vdf, k=3, iterations=2).collect()}
        assert got.pop(200) is None
        assert got == {r.vec_id: r.centroid_id for r in S.kmeans_lloyd(
            vdf.filter("vec_id != 200"), k=3, iterations=2).collect()}


def test_brute_force_l2_topk_match_cols(spark):
    """match_cols restricts eligibility to equal-attribute corpus rows —
    the filtered-search exact baseline: results equal brute force over
    each query's own label slice, and never contain a cross-label row."""
    import numpy as np

    from peskas_malawi_data_pipeline_spark.operators import similarity as S

    rng = np.random.default_rng(7)
    vecs = rng.uniform(-1, 1, size=(24, 4)).round(3)
    rows = [(int(i), [float(x) for x in v], int(i % 3))
            for i, v in enumerate(vecs)]
    df = spark.createDataFrame(
        rows, "corpus_id int, embedding array<double>, label int")
    q = spark.createDataFrame(
        rows[:5], "query_id int, embedding array<double>, label int")
    got = {(r.query_id, r.corpus_id): r.rank
           for r in S.brute_force_l2_topk(q, df, k=2,
                                          match_cols=["label"]).collect()}
    lab = {i: i % 3 for i in range(24)}
    for (qi, ci) in got:
        assert lab[qi] == lab[ci]
    # per-query slice replay: exact integer-L2 over same-label rows only
    micro = np.floor(vecs * 1e6).astype("int64")
    for qi in range(5):
        elig = [ci for ci in range(24) if ci != qi and lab[ci] == lab[qi]]
        d = sorted((int(((micro[qi] - micro[ci]) ** 2).sum()), ci)
                   for ci in elig)[:2]
        expect = {(qi, ci): rk + 1 for rk, (_d, ci) in enumerate(d)}
        assert {k: v for k, v in got.items() if k[0] == qi} == expect

    # a NULL vector is never a neighbour (Spark sorts NULL first in an
    # ascending window) and a NULL query gets no rows — in the baseline and
    # in the rerank stage alike
    corpus = spark.createDataFrame(
        [(1, [0.0, 0.0]), (2, [0.1, 0.0]), (3, None), (4, [5.0, 5.0])],
        "corpus_id int, embedding array<double>")
    nq = spark.createDataFrame([(10, [0.0, 0.0]), (11, None)],
                               "query_id int, embedding array<double>")
    expect = [(10, 1, 0, 1), (10, 2, 10 ** 10, 2)]
    base = S.brute_force_l2_topk(nq, corpus, k=2)
    cands = nq.select("query_id").crossJoin(corpus.select("corpus_id"))
    for out in (base, S.exact_rerank(cands, nq, corpus, k=2)):
        assert sorted(tuple(r) for r in out.select(
            "query_id", "corpus_id", "l2_d2", "rank").collect()) == expect


def test_bpe_auto_gate_switches_to_distributed_above_limit(spark, monkeypatch):
    """The `auto` strategy's local_vocab_limit gate (bpe_fit /
    bpe_encode_ids) must actually FLIP to the distributed path when the
    distinct-word vocabulary exceeds the limit — the one place a
    driver-side collect could silently unbound if the gate regressed.
    The strategies' output equivalence is covered elsewhere; this pins
    WHICH path the gate picks."""
    from pyspark.sql import Row

    import peskas_malawi_data_pipeline_spark.operators.bpe as B

    df = spark.createDataFrame(
        [Row(doc_id=i, text=t) for i, t in enumerate(
            ["low lower lowest", "new newer newest", "wide wider lowest"])])

    calls = []
    real_local, real_dist = B._fit_local, B._fit_distributed
    monkeypatch.setattr(B, "_fit_local",
                        lambda *a, **k: (calls.append("local"),
                                         real_local(*a, **k))[1])
    monkeypatch.setattr(B, "_fit_distributed",
                        lambda *a, **k: (calls.append("distributed"),
                                         real_dist(*a, **k))[1])
    B.bpe_fit(df, k=2, local_vocab_limit=1_000_000).collect()
    assert calls == ["local"]
    calls.clear()
    B.bpe_fit(df, k=2, local_vocab_limit=1).collect()
    assert calls == ["distributed"]

    # encode side: local path broadcasts a driver map (createDataFrame of
    # _encode_lengths_local rows); chained path never calls it
    enc_calls = []
    real_enc = B._encode_lengths_local
    monkeypatch.setattr(B, "_encode_lengths_local",
                        lambda *a, **k: (enc_calls.append("local"),
                                         real_enc(*a, **k))[1])
    merges = [(r["pair"], r["new_symbol"]) for r in
              B.bpe_fit(df, k=2).collect()]
    B.bpe_apply_counts(df, merges, local_vocab_limit=1_000_000).collect()
    assert enc_calls == ["local"]
    enc_calls.clear()
    B.bpe_apply_counts(df, merges, local_vocab_limit=1).collect()
    assert enc_calls == []


def test_bpe_word_id_map_incremental_equals_full(spark):
    """bpe_word_id_map grown batch-by-batch (known=prior) must equal the
    one-shot map over the union, and encoding through the maintained map
    must equal the self-computed encode — the equivalence that lets the
    streaming pack pay O(new words) per batch."""
    import peskas_malawi_data_pipeline_spark.operators.bpe as B

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    cutoff = docs.agg(F.max("doc_id")).collect()[0][0] // 2
    b1 = docs.filter(F.col("doc_id") <= cutoff)
    b2 = docs.filter(F.col("doc_id") > cutoff)
    merges = [(r.pair, r.new_symbol)
              for r in B.bpe_fit(docs, k=5).orderBy("merge_rank").collect()]

    m1 = B.bpe_word_id_map(b1, merges)
    m2 = B.bpe_word_id_map(b2, merges, known=m1)
    full = B.bpe_word_id_map(docs, merges)
    inc = {r.w: list(r.ids) for r in m2.collect()}
    ref = {r.w: list(r.ids) for r in full.collect()}
    assert inc == ref

    got = {r.doc_id: list(r.token_ids)
           for r in B.bpe_encode_ids(b2, merges, word_map=m2).collect()}
    want = {r.doc_id: list(r.token_ids)
            for r in B.bpe_encode_ids(b2, merges).collect()}
    assert got == want


def test_decontaminate_flags_overlapping_docs(spark):
    """Decontamination marks exactly the training docs sharing a 3-gram
    shingle with the eval slice; overlap counts are per-doc distinct."""
    from peskas_malawi_data_pipeline_spark.queries import REGISTRY

    fn, _sql = REGISTRY["decontaminate_ngram_overlap"]
    out = fn(spark, "/root/testdata/sf0.001").collect()
    assert len(out) > 0
    assert all(r.n_overlap >= 1 for r in out)
    assert all(r.doc_id % 19 != 0 for r in out)  # eval slice never flagged
