"""Physical-plan regression tests: the 100 TB-scale properties of each plan
are asserted, not assumed. A correct result with the wrong plan (missed
pushdown, a broadcast that became a shuffle, a cartesian product) is a
failure at scale even when the small-SF values match, so the plan shape is
part of the contract.

Checked properties map to SURVEY §4.2/§4.3: predicate pushdown + column
pruning reach the parquet scan; small dimensions broadcast (the 100 TB fact
side never shuffles for them); aggregations are partial (map-side combine)
before their single exchange; the suffix theta-join is a broadcast
nested-loop, never a shuffled cartesian.
"""

from __future__ import annotations

import os
import shutil

from peskas_malawi_data_pipeline_spark.queries import REGISTRY

from conftest import SF_DIR


def plan(spark, name: str, mode: str = "formatted") -> str:
    """Physical plan text. ``formatted`` for per-node detail (PushedFilters,
    ReadSchema); ``simple`` when counting nodes — formatted mode prints every
    node twice (tree + detail section)."""
    fn, _ = REGISTRY[name]
    df = fn(spark, SF_DIR)
    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    return utils.explainString(df._jdf.queryExecution(), mode)


def test_agg_filter_pushdown_and_pruning(spark):
    p = plan(spark, "pricing_summary")
    # filter reaches the scan
    assert "PushedFilters: [IsNotNull(l_shipdate), LessThanOrEqual(l_shipdate" in p
    # column pruning: only the 6 referenced columns are read (of 11)
    read = next(l for l in p.splitlines() if l.startswith("ReadSchema"))
    assert "l_orderkey" not in read and "l_partkey" not in read
    # map-side combine: partial agg below the exchange
    assert "partial_sum" in p
    s = plan(spark, "pricing_summary", "simple")
    assert s.count("Exchange") == 1  # exactly one shuffle (the narrow agg key)


def test_broadcast_dim_join_never_shuffles_fact(spark):
    p = plan(spark, "join_broadcast_dim")
    assert "BroadcastHashJoin" in p
    # the only Exchange is the post-join aggregation, not a join shuffle
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


def test_suffix_theta_join_is_broadcast_nested_loop(spark):
    p = plan(spark, "suffix_match_join")
    assert "BroadcastNestedLoopJoin" in p
    assert "CartesianProduct" not in p


def test_narrow_project_has_no_exchange(spark):
    p = plan(spark, "filter_project")
    assert "Exchange" not in p  # pure scan→filter→project, single stage


def test_topk_per_group_partial_limit(spark):
    # rank-filter pushdown: each partition pre-limits before the shuffle
    p = plan(spark, "topk_per_group")
    assert "WindowGroupLimit" in p


def test_window_flag_single_shuffle(spark):
    p = plan(spark, "window_unique_flag", "simple")
    assert p.count("Exchange") == 1


def test_exact_dedup_semi_join(spark):
    p = plan(spark, "exact_dedup")
    assert "LeftSemi" in p


def test_left_join_builds_broadcast_from_aggregated_side(spark):
    p = plan(spark, "left_join_null_keep")
    assert "BroadcastHashJoin" in p
    assert "Join LeftOuter" in p or "BuildRight" in p


def test_bucketed_tables_join_without_shuffle(spark):
    """SCALE.md §3: landings and trips bucketed by the merge key join with
    ZERO exchanges — the pipeline's only fact⋈fact join becomes co-located.
    (Bucket pruning also applies; bucket count would be sized to the
    cluster at 100 TB.)"""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.queries import _t

    ev = _t(spark, SF_DIR, "events").withColumn("day", F.to_date("ts"))
    left = ev.select("user_id", "day", "event_id", "value")
    right = ev.select("user_id", "day", F.col("value").alias("v2"))
    from peskas_malawi_data_pipeline_spark.operators import layout

    warehouse = spark.conf.get("spark.sql.warehouse.dir").removeprefix("file:")
    for name, df in [("b_left", left), ("b_right", right)]:
        spark.sql(f"DROP TABLE IF EXISTS {name}")
        shutil.rmtree(os.path.join(warehouse, name), ignore_errors=True)
        # through the operator API (layout.bucketed_write), so the helper
        # itself is what this plan proof covers
        layout.bucketed_write(df, name, 8, "user_id", "day")
    import pytest as _pytest
    with _pytest.raises(ValueError, match="bucket key"):
        layout.bucketed_write(left, "b_bad", 8)
    joined = spark.table("b_left").join(spark.table("b_right"),
                                        ["user_id", "day"])
    # disable auto-broadcast so the plan shows the sort-merge path a
    # 100 TB fact⋈fact join would take (restore after planning)
    prev = spark.conf.get("spark.sql.autoBroadcastJoinThreshold")
    spark.conf.set("spark.sql.autoBroadcastJoinThreshold", "-1")
    try:
        utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
        p = utils.explainString(joined._jdf.queryExecution(), "simple")
    finally:
        spark.conf.set("spark.sql.autoBroadcastJoinThreshold", prev)
    assert "SortMergeJoin" in p
    assert "Exchange" not in p        # bucketing satisfies the distribution
    assert "SelectedBucketsCount" in p


def test_partitioned_write_gets_partition_pruning(spark, tmp_path):
    """The lakehouse layout contract (SCALE.md §3): stage outputs partitioned
    by a natural key give downstream reads partition pruning — the filter
    lands in PartitionFilters and pruned partitions are never scanned."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.core import io as io_ops
    from peskas_malawi_data_pipeline_spark.queries import _t

    ev = _t(spark, SF_DIR, "events").withColumn(
        "day", F.to_date("ts").cast("string"))
    path = str(tmp_path / "events_by_type")
    io_ops.write_table(ev, path, partition_by=["event_type"])

    scan = io_ops.read_table(spark, path).filter(F.col("event_type") == "click")
    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    p = utils.explainString(scan._jdf.queryExecution(), "formatted")
    assert "PartitionFilters: [isnotnull(event_type" in p
    # the predicate is satisfied entirely by pruning — no data-filter remains
    assert scan.count() == ev.filter(F.col("event_type") == "click").count()


def test_semi_join_pushdown_and_type(spark):
    """semi_join_exists: the date window reaches the orders scan as pushed
    filters, and the join is a real LeftSemi (left side never duplicated) —
    not an inner join + distinct."""
    p = plan(spark, "semi_join_exists")
    assert "LeftSemi" in p
    assert "GreaterThanOrEqual(o_orderdate" in p
    assert "Distinct" not in p


def test_anti_join_prunes_filter_side_to_keys(spark):
    """anti_join_missing: LeftAnti join, and the orders side is pruned to
    (o_custkey, o_totalprice) at the scan — the 100 TB filter side shuffles
    keys, not rows."""
    p = plan(spark, "anti_join_missing")
    assert "LeftAnti" in p
    orders_reads = [l for l in p.splitlines()
                    if l.strip().startswith("ReadSchema") and "o_custkey" in l]
    assert orders_reads and all(
        "o_orderpriority" not in l and "o_orderdate" not in l
        for l in orders_reads)
    assert "GreaterThan(o_totalprice,300000.0)" in p


def test_asof_join_is_single_window_not_range_join(spark):
    """asof_join: one hash exchange on the key (the window), never a
    broadcast-nested-loop or cartesian over the time ranges."""
    p = plan(spark, "asof_join_latest_view", mode="simple")
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p
    assert p.count("Exchange hashpartitioning") <= 2   # groupBy + window share the user key
    assert "Window" in p


def test_interval_join_is_equi_join_not_nested_loop(spark):
    """interval_join_clicks: the range predicate rides an EQUI-join on
    (user, bucket) — never the broadcast-nested-loop Spark would plan for a
    raw BETWEEN join."""
    p = plan(spark, "interval_join_clicks", mode="simple")
    assert "BroadcastNestedLoopJoin" not in p
    assert "CartesianProduct" not in p


def test_ngram_topk_partial_agg_before_shuffle(spark):
    """ngram_topk: the shingle explosion is absorbed by map-side combine —
    the (source, ngram) counts partial-aggregate below their exchange, and
    the rank window rides the same partitioning-compatible count table
    (one agg shuffle + one window shuffle, nothing more)."""
    p = plan(spark, "ngram_topk")
    assert "partial_count" in p
    s = plan(spark, "ngram_topk", mode="simple")
    assert s.count("Exchange hashpartitioning") <= 2


def test_tfidf_broadcasts_per_source_doc_counts(spark):
    """tfidf_topk: the tiny per-source doc-count table broadcasts; the term
    and doc-frequency aggregations do not cartesian or nested-loop."""
    p = plan(spark, "tfidf_topk", mode="simple")
    assert "BroadcastHashJoin" in p
    assert "CartesianProduct" not in p and "BroadcastNestedLoopJoin" not in p


def test_repetition_ratio_no_exchange(spark):
    """repetition_ratio: a pure per-row map — no shuffle anywhere (the
    documents round-robin repartition is the only exchange)."""
    p = plan(spark, "repetition_ratio", mode="simple")
    assert p.count("Exchange") <= 1  # only the small-file spread repartition


def test_dynamic_partition_pruning_from_dim_filter(spark, tmp_path):
    """Dynamic partition pruning: when the fact is partitioned on the join
    key and the dim side carries a selective filter, the fact scan is
    pruned at RUNTIME by the dim's key set (dynamicpruningexpression in the
    plan) — at 100 TB this is the difference between scanning 2 partitions
    and scanning all of them, without any literal filter on the fact."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.core import io as io_ops
    from peskas_malawi_data_pipeline_spark.queries import _t

    ev = _t(spark, SF_DIR, "events")
    path = str(tmp_path / "events_part")
    io_ops.write_table(ev, path, partition_by=["event_type"])

    dim = spark.createDataFrame(
        [("click", 1.0), ("view", 0.5), ("purchase", 10.0),
         ("signup", 5.0), ("error", 0.0)],
        ["event_type", "weight"]).filter(F.col("weight") >= 5.0)
    fact = io_ops.read_table(spark, path)
    joined = fact.join(F.broadcast(dim), "event_type")

    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    p = utils.explainString(joined._jdf.queryExecution(), "formatted")
    assert "dynamicpruningexpression" in p
    assert joined.count() == ev.filter(
        F.col("event_type").isin("purchase", "signup")).count()


def test_runtime_bloom_filter_prunes_fact_rows(spark):
    """Runtime bloom-filter join pruning (the shuffle-join analogue of DPP):
    with a selective dim filter and a non-broadcast join, Spark injects a
    might_contain(bloom) predicate into the FACT scan — at 100 TB the fact
    side drops non-matching rows before the shuffle instead of after the
    join. Plan-checked with the feature's size thresholds relaxed (local
    parquet is tiny; on a cluster the defaults govern)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter.applicationSideScanSizeThreshold": "0",
        "spark.sql.optimizer.runtime.bloomFilter.creationSideThreshold": "100MB",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        li = spark.read.parquet(f"{SF_DIR}/lineitem.parquet")
        p = (spark.read.parquet(f"{SF_DIR}/part.parquet")
             .filter(F.col("p_size") == 3))
        j = li.join(p, li.l_partkey == p.p_partkey)
        utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
        plan = utils.explainString(j._jdf.queryExecution(), "formatted")
        assert "might_contain" in plan
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_aqe_skew_join_splits_hot_partition(spark):
    """AQE's OptimizeSkewedJoin actually FIRES on a constructed hot key
    (the last scale mechanism that was asserted but not plan-pinned):
    with a non-broadcast SMJ and one key holding a quarter of the rows,
    the final adaptive plan shows SortMergeJoin(skew=true) over skewed
    AQEShuffleReads — the hot partition is split across tasks instead of
    serializing one reducer — and the answer is unchanged. Thresholds
    are relaxed like the bloom test (local shuffle partitions are
    hundreds of bytes; on a cluster the 256MB/5.0 defaults govern —
    SCALE.md §11 sets skewJoin.enabled on the submit line)."""
    from pyspark.sql import functions as F

    confs = {
        "spark.sql.shuffle.partitions": "100",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.adaptive.skewJoin.skewedPartitionFactor": "1.0",
        "spark.sql.adaptive.skewJoin.skewedPartitionThresholdInBytes": "100b",
        "spark.sql.adaptive.advisoryPartitionSizeInBytes": "100b",
    }
    prev = {k: spark.conf.get(k) for k in confs}
    for k, v in confs.items():
        spark.conf.set(k, v)
    try:
        left = spark.range(0, 1000, 1, 10).select(
            F.when(F.col("id") < 250, 249).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad"))
        right = spark.range(0, 1000, 1, 10).select(
            F.when(F.col("id") % 2 == 0, 2).otherwise(F.col("id")).alias("k"),
            F.md5(F.col("id").cast("string")).alias("pad2"))
        j = left.join(right, "k").groupBy().count()
        assert j.collect()[0]["count"] == 625   # split must not change rows
        plan = j._jdf.queryExecution().executedPlan().toString()
        assert "skew=true" in plan
        assert any("AQEShuffleRead" in ln and "skewed" in ln
                   for ln in plan.splitlines())
    finally:
        for k, v in prev.items():
            spark.conf.set(k, v)


def test_global_ranking_matches_window_forms(spark):
    """operators.ranking: the two-pass range-partition rank/ntile equals
    the single-window forms exactly, and the plan range-partitions the fact
    side instead of funneling it through one task."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import ranking
    from peskas_malawi_data_pipeline_spark.queries import _t

    ev = _t(spark, SF_DIR, "events").select("event_id", "value")

    got_rn = ranking.global_row_number(ev, ["value", "event_id"], "rn")
    w = Window.orderBy("value", "event_id")
    want_rn = ev.withColumn("rn", F.row_number().over(w))
    assert got_rn.exceptAll(want_rn).count() == 0
    assert want_rn.exceptAll(got_rn).count() == 0

    got_t = ranking.global_ntile(ev, ["value", "event_id"], 7, "tile")
    want_t = ev.withColumn("tile", F.ntile(7).over(w).cast("long"))
    assert got_t.exceptAll(want_t).count() == 0
    assert want_t.exceptAll(got_t).count() == 0

    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    p = utils.explainString(got_rn._jdf.queryExecution(), "extended")
    # the range exchange now runs inside the materialized barrier (so the
    # two consuming branches cannot see different samplings); the final
    # plan shows the barrier scan + the per-bucket window — and the fact
    # side must never appear under an unpartitioned Window
    assert "existingrdd" in p.lower()
    assert "partitionby __pid" in p.lower().replace("specifiedwindowframe", "")         or "windowspecdefinition(__pid" in p.lower()
    pre = utils.explainString(
        ev.repartitionByRange(8, "value", "event_id")._jdf.queryExecution(),
        "extended")
    assert "rangepartitioning" in pre.lower()

    # n < n_tiles edge: every row its own tile, trailing tiles empty
    tiny = ev.limit(3)
    tiles = sorted(r.tile for r in
                   ranking.global_ntile(tiny, ["value", "event_id"], 10,
                                        "tile").collect())
    assert tiles == [1, 2, 3]


def test_registry_wide_plan_hygiene(spark):
    """Every registry query planable at sf0.001 must be free of the
    three 100 TB red flags: CartesianProduct joins, row-at-a-time Python
    evaluation (BatchEvalPython — Arrow paths show as ArrowEvalPython /
    MapInPandas), and unpartitioned windows over unbounded inputs. New
    queries inherit this gate automatically.

    Known-bounded global windows are exempted by name: their window input
    is |buckets| rows by construction."""
    import re

    BOUNDED_GLOBAL_WINDOW_OK = {
        "ntile_deciles",     # |buckets|-row offset frame (ranking.global_ntile)
        "corpus_shuffle",    # |buckets|-row offset frame (ranking.shuffle_shards)
        "zone_map_skipping",   # |buckets|-row offset frame ×2 layouts
                               # (layout.zone_map_stats via global_row_number)
    }
    assert BOUNDED_GLOBAL_WINDOW_OK <= set(REGISTRY), sorted(
        BOUNDED_GLOBAL_WINDOW_OK - set(REGISTRY))
    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    offenders = {}
    for name, (fn, _sql) in REGISTRY.items():
        df = fn(spark, "/root/testdata/sf0.001")
        p = utils.explainString(df._jdf.queryExecution(), "extended")
        flags = []
        if "CartesianProduct" in p:
            flags.append("cartesian")
        if "BatchEvalPython" in p:
            flags.append("row-python-udf")
        if (name not in BOUNDED_GLOBAL_WINDOW_OK
                and re.search(r"windowspecdefinition\([a-z_#0-9L]+ (ASC|DESC)", p)):
            flags.append("global-window")
        if flags:
            offenders[name] = flags
    assert not offenders, offenders


def test_zorder_layout_shrinks_per_file_ranges_on_both_dims(spark, tmp_path):
    """operators.layout.zorder_write: with Z-order clustering, every file
    covers a small min/max rectangle in BOTH columns, so parquet stats
    prune on either predicate — measured directly from the written files'
    footer statistics against a random layout."""
    import pyarrow.parquet as pq
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import layout
    from peskas_malawi_data_pipeline_spark.queries import _t

    ev = _t(spark, SF_DIR, "events").select(
        "user_id", F.unix_timestamp("ts").alias("t"), "value")
    spans = {}
    for mode in ("random", "zorder"):
        path = str(tmp_path / mode)
        if mode == "zorder":
            layout.zorder_write(ev, path, "user_id", "t", n_files=16)
        else:
            ev.repartition(16).write.mode("overwrite").parquet(path)
        import glob
        per_file = []
        for f in sorted(glob.glob(path + "/*.parquet")):
            md = pq.ParquetFile(f).metadata
            los, his = {}, {}
            for rg in range(md.num_row_groups):
                for ci in range(md.num_columns):
                    col = md.row_group(rg).column(ci)
                    name = col.path_in_schema
                    if name in ("user_id", "t") and col.statistics:
                        s = col.statistics
                        los[name] = min(los.get(name, s.min), s.min)
                        his[name] = max(his.get(name, s.max), s.max)
            if los:
                per_file.append({k: his[k] - los[k] for k in los})
        spans[mode] = {
            k: sum(p[k] for p in per_file) / len(per_file)
            for k in ("user_id", "t")}

    # random layout: every file spans ~the whole domain on both dims;
    # z-order: substantially narrower rectangles on BOTH dims at once
    assert spans["zorder"]["user_id"] < spans["random"]["user_id"] * 0.5
    assert spans["zorder"]["t"] < spans["random"]["t"] * 0.5

    # and the data survives the round trip
    total = ev.count()
    assert spark.read.parquet(str(tmp_path / "zorder")).count() == total


def test_zorder_write_empty_and_allnull_input(spark, tmp_path):
    """zorder_write on an empty frame (or all-NULL cluster column) has no
    range to interleave — it must still write the table rather than crash
    an empty-partition compaction job."""
    from peskas_malawi_data_pipeline_spark.operators import layout

    empty = spark.range(0).selectExpr("id as a", "id as b")
    p1 = str(tmp_path / "empty")
    layout.zorder_write(empty, p1, "a", "b", n_files=4)
    assert spark.read.parquet(p1).count() == 0

    allnull = spark.range(5).selectExpr(
        "cast(null as long) as a", "id as b")
    p2 = str(tmp_path / "allnull")
    layout.zorder_write(allnull, p2, "a", "b", n_files=2)
    assert spark.read.parquet(p2).count() == 5


def test_versioned_table_commit_protocol(spark, tmp_path):
    """core.io.write_table publishes truncate-and-load as a pointer commit:
    successive commits replace the table, a reader planned before a commit
    still scans the old version, a complete but uncommitted version stays
    invisible (and the next write overwrites it), and only the live version
    and the one before it stay on disk."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.core import io as io_ops

    path = str(tmp_path / "vt")

    def versions():
        return sorted(d for d in os.listdir(path) if d.startswith("v"))

    io_ops.write_table(spark.range(100).withColumn("x", F.col("id") * 2), path)
    assert io_ops.read_table(spark, path).count() == 100
    old_reader = io_ops.read_table(spark, path)      # resolves v1 at plan time

    io_ops.write_table(spark.range(50).withColumn("x", F.lit(0)), path)
    assert io_ops.read_table(spark, path).count() == 50
    assert old_reader.count() == 100     # old plan still scans immutable v1

    # crash before commit: a complete but uncommitted v3 stays invisible
    orphan = os.path.join(path, "v3")
    spark.range(7).withColumn("x", F.lit(1)).write.parquet(orphan)
    assert io_ops.read_table(spark, path).count() == 50
    assert versions() == ["v1", "v2", "v3"]

    # the next write stages over the orphan and commits it as v3
    io_ops.write_table(spark.range(9).withColumn("x", F.lit(2)), path)
    back = io_ops.read_table(spark, path)
    assert back.count() == 9
    assert back.filter(F.col("x") != 2).count() == 0
    # three writes: the live version and the one before it remain
    assert versions() == ["v2", "v3"]
    assert open(os.path.join(path, "_CURRENT")).read() == "3"
    assert io_ops.read_table(spark, path, ["x"]).columns == ["x"]

    # a table without a pointer (a file or directory another tool wrote)
    # reads as plain parquet
    import pyarrow as pa
    import pyarrow.parquet as pq

    single = str(tmp_path / "plain.parquet")
    pq.write_table(pa.table({"id": [1, 2, 3]}), single)
    assert io_ops.read_table(spark, single).count() == 3


def _jobs_in(spark, fn):
    """(fn(), number of Spark jobs fn ran), counted under a fresh job
    group once the listener bus has delivered every job event."""
    import uuid

    sc = spark.sparkContext
    group = f"probe.{uuid.uuid4().hex}"
    sc.setJobGroup(group, group)
    try:
        out = fn()
    finally:
        sc._jsc.clearJobGroup()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    return out, len(sc.statusTracker().getJobIdsForGroup(group))


def test_read_table_uses_stored_schema(spark, tmp_path):
    """write_table stores the schema with each version, so read_table opens
    a committed table with no Spark job at plan time, and the schema is the
    one inference would give. A plain parquet path, and a committed
    version with no schema file (written before schemas were stored), are
    still inferred: one schema-inference job each."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.core import io as io_ops

    df = spark.range(20).select(
        "id", (F.col("id") * 1.5).alias("x"),
        F.array("id").alias("ids"),
        F.struct(F.col("id").cast("string").alias("s")).alias("st"),
        F.lit(None).cast("date").alias("d"))
    path = str(tmp_path / "t")
    io_ops.write_table(df, path)
    assert os.path.exists(os.path.join(path, "v1", "_schema.json"))

    read, jobs = _jobs_in(spark, lambda: io_ops.read_table(spark, path))
    inferred = spark.read.parquet(os.path.join(path, "v1"))
    assert jobs == 0
    assert read.schema == inferred.schema
    assert sorted(read.collect()) == sorted(inferred.collect())

    os.remove(os.path.join(path, "v1", "_schema.json"))
    old, jobs = _jobs_in(spark, lambda: io_ops.read_table(spark, path))
    assert jobs >= 1 and old.schema == inferred.schema

    plain = str(tmp_path / "plain")
    df.write.parquet(plain)
    other, jobs = _jobs_in(spark, lambda: io_ops.read_table(spark, plain))
    assert jobs >= 1 and other.schema == inferred.schema


def test_partitioned_table_keeps_written_partition_types(spark, tmp_path):
    """A partition column reads back with the type it was written with
    (inference types a bigint key that fits in an int as int), placed
    last as inference places it, and the rows survive the round trip."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.core import io as io_ops

    df = spark.range(12).select((F.col("id") % 3).alias("k"), "id")
    path = str(tmp_path / "by_k")
    io_ops.write_table(df, path, partition_by=["k"])
    back = io_ops.read_table(spark, path)
    inferred = spark.read.parquet(os.path.join(path, "v1"))
    assert back.schema.simpleString() == "struct<id:bigint,k:bigint>"
    assert inferred.schema.simpleString() == "struct<id:bigint,k:int>"
    assert sorted(back.collect()) == sorted(
        df.select("id", "k").collect())
    assert back.filter(F.col("k") == 2).count() == 4


def test_validate_stage_exchange_budget(spark, tmp_path):
    """validate_landings fits every bounds relation from its input, so its
    physical plan holds each fit once: the global count bounds (2 passes)
    and the per-taxon price bounds (2 passes), each pass one shuffle and
    one broadcast back. Fitting the price bounds from the masked frame
    re-planned the count fit inside the price subtree (8 + 8)."""
    import re

    import fixtures as FX

    from peskas_malawi_data_pipeline_spark.core import io as io_ops
    from peskas_malawi_data_pipeline_spark.plans import preprocess, validate

    path = str(tmp_path / "preprocessed")
    io_ops.write_table(
        preprocess.preprocess_landings(FX.raw_landings_df(spark)), path)
    out = validate.validate_landings(io_ops.read_table(spark, path))
    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    p = utils.explainString(out._jdf.queryExecution(), "simple")
    shuffles = re.findall(r"\bExchange (?:hashpartitioning|SinglePartition"
                          r"|rangepartitioning|RoundRobinPartitioning)", p)
    assert len(shuffles) <= 4
    assert p.count("BroadcastExchange") <= 4


def test_shuffle_shards_balanced_deterministic_partition_free(spark):
    """ranking.shuffle_shards: equal shard sizes (±1), (shard, pos) unique
    and dense per shard, and the assignment is a pure function of ids —
    identical across input partitionings."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import ranking
    from peskas_malawi_data_pipeline_spark.queries import _t

    docs = _t(spark, SF_DIR, "documents").select("doc_id", "text")
    out = ranking.shuffle_shards(docs, n_shards=7)
    rows = [(r.doc_id, r.shard, r.pos) for r in out.collect()]
    n = len(rows)
    sizes = {}
    for _, s, _ in rows:
        sizes[s] = sizes.get(s, 0) + 1
    assert set(sizes) == set(range(7))
    assert max(sizes.values()) - min(sizes.values()) <= 1
    # per-shard positions dense 0..size-1
    by_shard = {}
    for _, s, p in rows:
        by_shard.setdefault(s, []).append(p)
    for s, ps in by_shard.items():
        assert sorted(ps) == list(range(sizes[s]))
    # partitioning-free: same assignment from a different layout
    again = ranking.shuffle_shards(docs.repartition(3, "text"), n_shards=7)
    assert {(r.doc_id, r.shard, r.pos) for r in again.collect()} == set(rows)
    # shards are hash-stratified, not contiguous id ranges: the first 7
    # ids should not all land in one shard
    first = {s for d, s, _ in rows if d < 7}
    assert len(first) > 1

    import pytest
    with pytest.raises(ValueError, match="n_shards"):
        ranking.shuffle_shards(docs, n_shards=0)


def test_shuffle_shards_more_shards_than_rows(spark):
    """n_shards > |corpus|: ranks 1..n round-robin into the first n shards,
    each with a single row at pos 0 — no empty-shard crash, no collisions."""
    from peskas_malawi_data_pipeline_spark.operators import ranking
    from peskas_malawi_data_pipeline_spark.queries import _t

    docs = _t(spark, SF_DIR, "documents").select("doc_id").limit(3)
    rows = [(r.shard, r.pos) for r in
            ranking.shuffle_shards(docs, n_shards=7).collect()]
    assert len(rows) == 3
    assert all(p == 0 for _, p in rows)
    assert len({s for s, _ in rows}) == 3          # three distinct shards
    assert all(0 <= s < 7 for s, _ in rows)


def test_zone_map_stats_and_skip_report(spark):
    """zone_map_stats buckets in layout order and skip_report counts only
    fully-disjoint buckets; bad bucket size rejected."""
    import pytest
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import layout

    df = spark.createDataFrame([(i, i * 10) for i in range(100)],
                               "id int, v int")
    zmap = layout.zone_map_stats(df, ["v", "id"], "v", 25)
    zm = {r.bucket: (r.mn, r.mx, r.cnt) for r in zmap.collect()}
    assert zm == {0: (0, 240, 25), 1: (250, 490, 25),
                  2: (500, 740, 25), 3: (750, 990, 25)}
    rep = layout.skip_report(zmap, 300, 400).collect()[0]
    # buckets 0 (mx 240 < 300), 2 and 3 (mn > 400) skip; bucket 1 overlaps
    assert (rep.n_buckets, rep.n_skippable, rep.rows_skipped,
            rep.skip_ppm) == (4, 3, 75, 750000)
    with pytest.raises(ValueError, match="bucket_rows"):
        layout.zone_map_stats(df, ["v"], "v", 0)


def test_runtime_bloom_filter_prunes_fact_side(spark):
    """Spark's runtime bloom-filter injection (the row-level data-skipping
    complement to zone maps): a selective dim-side filter materializes a
    bloom over the join key and pre-filters the FACT scan before the
    shuffle — at cluster scale this triggers by default once the
    application side exceeds ~10 GB; locally we lower that threshold to
    prove the plan shape and that results are unchanged."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.queries import _t

    confs = {
        "spark.sql.optimizer.runtime.bloomFilter.enabled": "true",
        "spark.sql.optimizer.runtime.bloomFilter"
        ".applicationSideScanSizeThreshold": "0",
        "spark.sql.autoBroadcastJoinThreshold": "-1",
    }
    saved = {k: spark.conf.get(k, None) for k in confs}
    li = _t(spark, SF_DIR, "lineitem").select("l_orderkey", "l_quantity")
    o = (_t(spark, SF_DIR, "orders")
         .filter(F.col("o_orderpriority") == "1-URGENT")
         .select("o_orderkey"))
    join = lambda: li.join(o, li.l_orderkey == o.o_orderkey)
    try:
        for k, v in confs.items():
            spark.conf.set(k, v)
        plan = join()._jdf.queryExecution().toString()
        assert "bloom_filter_agg" in plan and "might_contain" in plan
        filtered = join().count()
    finally:
        for k, v in saved.items():
            (spark.conf.set(k, v) if v is not None else spark.conf.unset(k))
    plan_off = join()._jdf.queryExecution().toString()
    assert "might_contain" not in plan_off
    assert filtered == join().count()
