"""Sequence-packing invariants (operators/packing.py).

Greedy bins never exceed the budget unless a single oversized document owns
the bin; chunk offsets stay inside the window; both schemes are
deterministic functions of (ids, token counts) — independent of partition
layout.
"""

from pyspark.sql import functions as F

from peskas_malawi_data_pipeline_spark.operators import packing as P


def _docs(spark, sizes):
    return spark.createDataFrame(
        [(i, s) for i, s in enumerate(sizes)], ["doc_id", "tok"])


def test_greedy_bins_respect_budget(spark):
    df = _docs(spark, [100, 100, 100, 50, 260, 10, 200, 200])
    packed = P.pack_greedy_sequential(df, "tok", target=256, n_shards=2)
    fills = (packed.groupBy("shard", "bin_id")
             .agg(F.sum("n_tokens").alias("fill"),
                  F.count(F.lit(1)).alias("n")).collect())
    for r in fills:
        assert r.fill <= 256 or r.n == 1   # overflow only for a lone oversize doc
    # every doc assigned exactly once
    assert packed.count() == 8
    assert packed.select("doc_id").distinct().count() == 8


def test_greedy_oversize_doc_gets_own_bin(spark):
    df = _docs(spark, [10, 500, 10])
    packed = P.pack_greedy_sequential(df, "tok", target=256, n_shards=1)
    rows = {r.doc_id: r.bin_id for r in packed.collect()}
    peers = [d for d, b in rows.items() if b == rows[1]]
    assert peers == [1]                     # the 500-token doc sits alone
    assert rows[0] != rows[1] != rows[2]


def test_chunk_offsets_inside_window(spark):
    df = _docs(spark, [100] * 20)
    packed = P.pack_concat_chunks(df, "tok", target=256, n_shards=2)
    rows = packed.collect()
    assert all(0 <= r.bin_offset < 256 for r in rows)
    # within a shard, consecutive docs advance the stream by exactly tok
    by_shard = {}
    for r in sorted(rows, key=lambda r: (r.shard, r.doc_id)):
        pos = by_shard.get(r.shard, 0)
        assert r.bin_id * 256 + r.bin_offset == pos
        by_shard[r.shard] = pos + r.n_tokens


def test_packing_partition_layout_independent(spark):
    df = _docs(spark, [37, 91, 13, 240, 8, 77, 130, 55, 200, 41])
    a = set(map(tuple, P.pack_greedy_sequential(df, "tok", target=256,
                                                n_shards=4).collect()))
    b = set(map(tuple, P.pack_greedy_sequential(df.repartition(7), "tok",
                                                target=256,
                                                n_shards=4).collect()))
    assert a == b


def test_weighted_systematic_sample_matches_reference(spark):
    """Differential vs a pure-Python replay of the number-line walk: the
    selected set is exactly the systematic sample (a row heavier than the
    stride absorbs several sampling points but appears once), deterministic
    and partition-layout independent."""
    import hashlib

    from peskas_malawi_data_pipeline_spark.operators import sampling as SM

    sizes = [10] * 200 + [5000]              # one dominant heavy doc
    df = _docs(spark, sizes)
    out = SM.weighted_systematic_sample(df, "tok", n=20, id_col="doc_id")
    got = {r.doc_id for r in out.collect()}

    def key(i):
        return int(hashlib.md5(f"samp:{i}".encode()).hexdigest()[:8], 16)

    order = sorted(range(len(sizes)), key=lambda i: (key(i) % 8, key(i), i))
    total = sum(sizes)
    stride = max(1, total // 20)
    off = stride // 2

    def npts(x):
        return 0 if x <= off else (x - off - 1) // stride + 1

    want, cum = set(), 0
    for i in order:
        ce, cum = cum, cum + sizes[i]
        if npts(cum) > npts(ce):
            want.add(i)
    assert got == want
    assert 200 in got                        # heavy doc (> stride) kept

    again = {r.doc_id for r in SM.weighted_systematic_sample(
        df.repartition(13), "tok", n=20, id_col="doc_id").collect()}
    assert got == again


def test_pack_greedy_string_ids(spark):
    """pack_greedy_sequential must accept non-long ids (uuid-style string
    doc ids are what the md5 sharding is designed for) — parity with
    pack_concat_chunks on the same input (code-review finding r3)."""
    from peskas_malawi_data_pipeline_spark.operators import packing as P

    docs = spark.createDataFrame(
        [(f"doc-{i:03d}", 900) for i in range(10)], ["doc_id", "n_tokens"])
    out = P.pack_greedy_sequential(docs, "n_tokens", target=2048, n_shards=2)
    rows = out.collect()
    assert len(rows) == 10
    assert all(isinstance(r.doc_id, str) for r in rows)
    # two 900-token docs per bin (2048 target), never three
    from collections import Counter
    per_bin = Counter((r.shard, r.bin_id) for r in rows)
    assert max(per_bin.values()) <= 2


def test_mixture_allocation_largest_remainder(spark):
    """mixture_allocation: targets sum EXACTLY to the budget, quotas are
    proportional to weights with the leftover awarded by largest
    remainder (ties -> source name ASC), unweighted sources report
    target 0, oversample_ppm exceeds 1e6 exactly when a source must
    repeat, weights naming absent sources raise, and zero-total weights
    raise."""
    import pytest
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import sampling as S

    df = spark.createDataFrame(
        [("a", 100), ("a", 100), ("b", 50), ("c", 10), ("d", 999)],
        "source string, n_tokens long")
    # budget 100 over weights a:3 b:3 c:1  (W=7): quotas 42/42/14,
    # remainders 6/6/2 -> leftover 2 goes to a then b (name tie-break)
    out = {r.source: (r.available_tokens, r.target_tokens,
                      r.oversample_ppm)
           for r in S.mixture_allocation(
               df, {"a": 3, "b": 3, "c": 1}, 100).collect()}
    assert out["a"] == (200, 43, 215_000)
    assert out["b"] == (50, 43, 860_000)
    assert out["c"] == (10, 14, 1_400_000)      # must repeat: > 1e6
    assert out["d"] == (999, 0, 0)              # unweighted -> target 0
    assert sum(t for _, t, _ in out.values()) == 100

    with pytest.raises(ValueError, match="absent"):
        S.mixture_allocation(df, {"a": 1, "zz": 1}, 100).collect()
    with pytest.raises(ValueError, match="positive"):
        S.mixture_allocation(df, {"a": 0}, 100)


def test_token_budget_prefix_draw_within_one_doc(spark):
    """token_budget_prefix_draw: per source, full_epochs + fraction
    prefix land the drawn token total in [target, target + last drawn
    doc), exactly on target when the remainder is 0; deterministic and
    partition-layout independent; NULL-token docs never enter the
    fraction."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import sampling as S

    rows = ([("a", i, 10 + (i % 5)) for i in range(40)]
            + [("b", 100 + i, 50) for i in range(10)]
            + [("c", 200, 30)]
            + [("d", 300, None)])          # NULL tokens: excluded
    df = spark.createDataFrame(rows, "source string, doc_id long,"
                                     " n_tokens long")
    targets = spark.createDataFrame(
        [("a", 480, 700),     # epochs=1, rem=220
         ("b", 500, 500),     # rem=0 -> exact
         ("c", 30, 10),       # epochs=0, rem=10 -> one doc drawn
         ("d", 0, 0)],        # empty source
        "source string, available_tokens long, target_tokens long")
    out = S.token_budget_prefix_draw(df, targets)
    rowsets = out.collect()
    per_src = {}
    for r in rowsets:
        per_src.setdefault(r.source, []).append(r)
    for src, rs in per_src.items():
        avail = {"a": 480, "b": 500, "c": 30, "d": 0}[src]
        target = {"a": 700, "b": 500, "c": 10, "d": 0}[src]
        epochs = rs[0].full_epochs
        assert all(r.full_epochs == epochs for r in rs)
        frac = [r for r in rs if r.in_fraction]
        drawn = epochs * avail + sum(r.n_tokens for r in frac)
        assert drawn >= target
        if drawn != target:
            # overshoot strictly under the heaviest drawn doc
            assert drawn - target < max(r.n_tokens for r in frac)
        if src == "b":
            assert not frac and drawn == 500
        if src == "d":
            assert epochs == 0 and not frac
    # layout independence
    again = {(r.source, r.doc_id, r.in_fraction)
             for r in S.token_budget_prefix_draw(
                 df.repartition(11), targets).collect()}
    assert again == {(r.source, r.doc_id, r.in_fraction) for r in rowsets}


def test_expand_epochs_null_tokens_keep_full_epochs(spark):
    """expand_epochs: a doc whose token count is NULL has in_fraction =
    NULL from the draw (it never enters the prefix cut), but the
    per-source full_epochs multiplicity still applies — the NULL must
    coalesce to 0 extra copies, not poison the rep count and drop the
    doc from every epoch."""
    from peskas_malawi_data_pipeline_spark.operators import sampling as S

    draw = spark.createDataFrame(
        [("a", 1, 10, 2, True),     # 2 full epochs + fraction -> 3
         ("a", 2, 10, 2, False),    # 2 full epochs            -> 2
         ("a", 3, None, 2, None),   # NULL tokens: full epochs -> 2
         ("b", 4, 5, 0, True),      # fraction only            -> 1
         ("b", 5, 5, 0, None)],     # nothing                  -> 0
        "source string, doc_id long, n_tokens long, full_epochs long,"
        " in_fraction boolean")
    out = S.expand_epochs(draw).collect()
    reps = {}
    for r in out:
        reps.setdefault(r.doc_id, []).append(r.epoch_idx)
    assert sorted(reps.get(1, [])) == [1, 2, 3]
    assert sorted(reps.get(2, [])) == [1, 2]
    assert sorted(reps.get(3, [])) == [1, 2]   # the ADVICE regression
    assert sorted(reps.get(4, [])) == [1]
    assert 5 not in reps
