"""Tests for the LocScaleB robust-bounds kernel and alert machinery
(SURVEY §4.4 + §2.11), including property tests and an R-parity fixture."""

import math

import pytest
from pyspark.sql import Row, functions as F

from peskas_malawi_data_pipeline_spark.operators import validation as V


def _bounds(spark, values, k=3.0, back="exp", keys=False):
    rows = [Row(g="a" if not keys or i % 2 == 0 else "b", x=float(v) if v is not None else None)
            for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "g string, x double")
    return (V.loc_scale_bounds(df, {"x": (k, back)}, ["g"] if keys else [])
            .withColumnRenamed("x_lower", "lower_bound")
            .withColumnRenamed("x_upper", "upper_bound"))


def _py_locscaleb(xs, k, back=math.exp):
    """Reference formula, computed independently in Python:
    median(log1p) ± k·1.4826·median(|log1p−med|), exp back-transform."""
    import statistics
    ys = sorted(math.log1p(x) for x in xs)
    med = statistics.median(ys)
    mad = statistics.median(sorted(abs(y - med) for y in ys))
    return (back(med - k * 1.4826 * mad), back(med + k * 1.4826 * mad))


def test_bounds_match_independent_formula(spark):
    xs = [1, 2, 3, 4, 5, 6, 7, 8, 9, 100]
    row = _bounds(spark, xs, k=2.5).collect()[0]
    lo, hi = _py_locscaleb(xs, 2.5)
    assert row.lower_bound == pytest.approx(lo, rel=1e-12)
    assert row.upper_bound == pytest.approx(hi, rel=1e-12)


def test_bounds_monotone_in_k(spark):
    xs = [1, 2, 3, 4, 5, 6, 50]
    b1 = _bounds(spark, xs, k=2.0).collect()[0]
    b2 = _bounds(spark, xs, k=5.0).collect()[0]
    assert b2.lower_bound < b1.lower_bound
    assert b2.upper_bound > b1.upper_bound


def test_bounds_invariant_to_null_padding(spark):
    xs = [1, 2, 3, 4, 5, 6, 50]
    plain = _bounds(spark, xs).collect()[0]
    padded = _bounds(spark, xs + [None] * 7).collect()[0]
    assert plain.lower_bound == padded.lower_bound
    assert plain.upper_bound == padded.upper_bound


def test_guard_all_zero_group_no_bounds(spark):
    # R/validation-functions.R:29-38 — all-NA-or-zero -> no bounds
    row = _bounds(spark, [0, 0, 0, 0]).collect()[0]
    assert row.lower_bound is None and row.upper_bound is None


def test_guard_degenerate_mad_no_bounds(spark):
    # mad <= 0 (constant data) -> no bounds (R/validation-functions.R:38)
    row = _bounds(spark, [5, 5, 5, 5, 5]).collect()[0]
    assert row.lower_bound is None and row.upper_bound is None


def test_alert_outlier_flags_and_mask(spark):
    df = spark.createDataFrame(
        [Row(i=i, x=float(v)) for i, v in enumerate([1, 2, 2, 3, 2, 3, 2, 1000])],
        "i int, x double")
    out = V.alert_outlier(df, "x", alert_if_low=1, alert_if_high=2, k=2.5)
    rows = {r.i: r for r in out.collect()}
    assert rows[7].alert == 2
    assert all(rows[i].alert is None for i in range(7))
    masked = V.mask_where(out, ["x"], "alert")
    mrows = {r.i: r for r in masked.collect()}
    assert mrows[7].x is None and mrows[0].x == 1.0


def test_fuse_alerts_skips_nulls(spark):
    df = spark.createDataFrame(
        [Row(a=1, b=None, c=4), Row(a=None, b=None, c=None), Row(a=None, b=3, c=4)],
        "a int, b int, c int")
    out = V.fuse_alerts(df, ["a", "b", "c"]).collect()
    assert [r.alert_number for r in out] == ["1-4", "", "3-4"]


def test_two_column_fit_equals_one_column_fits(spark):
    """Property: one two-column grouped LocScaleB fit equals each column's
    one-column fit exactly, over random frames with NULL values, negatives,
    a NULL key group, an all-zero group, a constant group and a group only
    one column can fit; and it equals the independent Python formula on
    every group that has bounds."""
    import random

    specs = {"x": (2.5, "exp"), "y": (3.0, "expm1")}
    back = {"exp": math.exp, "expm1": math.expm1}
    rng = random.Random(5)

    def draw(value):
        u = rng.random()
        return None if u < 0.15 else -1.0 if u < 0.3 else value

    for trial in range(3):
        rows = [(g, draw(float(rng.randint(0, 40))), draw(rng.uniform(0, 500)))
                for g in ("a", "b", None) for _ in range(rng.randint(20, 40))]
        rows += [("zero", 0.0, 0.0)] * 4 + [("const", 5.0, 7.0)] * 5
        rows += [("x_only", 3.0, -2.0), ("x_only", 9.0, None),
                 ("x_only", 4.0, -1.0), ("none", -1.0, None)]
        df = spark.createDataFrame(rows, "g string, x double, y double")
        both = {r.g: r for r in V.loc_scale_bounds(df, specs, ["g"]).collect()}
        assert "none" not in both
        assert both[None].x_upper is not None and both[None].y_upper is not None
        for col, (k, b) in specs.items():
            one = {r.g: r for r in
                   V.loc_scale_bounds(df, {col: (k, b)}, ["g"]).collect()}
            assert set(one) <= set(both), trial
            for g, r in both.items():
                got = (r[f"{col}_lower"], r[f"{col}_upper"])
                if g in one:
                    assert got == (one[g][f"{col}_lower"],
                                   one[g][f"{col}_upper"]), (trial, g, col)
                else:
                    assert got == (None, None), (trial, g, col)
                if g in ("zero", "const"):
                    assert got == (None, None), (trial, g, col)
                if got[0] is not None:
                    xs = [v for v in (row[1 if col == "x" else 2]
                                      for row in rows if row[0] == g)
                          if v is not None and v >= 0]
                    want = _py_locscaleb(xs, k, back[b])
                    assert got == pytest.approx(want, rel=1e-12), (trial, g, col)


def test_global_ntile_property_random_frames(spark):
    """Property: for random sizes/weights/tile counts, the two-pass
    ranking.global_ntile equals ANSI ntile over a total order. Catches the
    boundary arithmetic (rem tiles of size q+1) that example tests miss."""
    import random

    from pyspark.sql import Row, Window
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import ranking

    rng = random.Random(7)
    for trial in range(4):
        n = rng.choice([1, 2, 9, 100, 257])
        k = rng.choice([1, 3, 7, 10, 64])
        rows = [Row(id=i, v=rng.randint(-50, 50)) for i in range(n)]
        df = spark.createDataFrame(rows)
        got = ranking.global_ntile(df, ["v", "id"], k, "tile", buckets=5)
        want = df.withColumn(
            "tile", F.ntile(k).over(Window.orderBy("v", "id")).cast("long"))
        assert got.exceptAll(want).count() == 0, (n, k)
        assert want.exceptAll(got).count() == 0, (n, k)


def test_grouped_percentile_cont_bit_identical_to_builtin(spark):
    """Property: the two-pass rank-based grouped_percentile_cont equals
    Spark's exact percentile() aggregate ULP-FOR-ULP on random tie-heavy
    frames with NULLs, single-row groups, and boundary percentiles. Exact
    (==) comparison on the doubles — interpolation must reproduce
    Percentile.getPercentile's floating-point expression, not just its
    mathematical value."""
    import random

    from pyspark.sql import Row
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import aggregates as A

    rng = random.Random(11)
    ps = {"p0": 0.0, "p37": 0.37, "p50": 0.5, "p90": 0.9, "p100": 1.0}
    rows = []
    for g in range(6):
        for i in range(rng.choice([1, 2, 17, 400])):
            v = rng.choice([None, float(rng.randint(0, 9)),
                            rng.uniform(-1e6, 1e6), 0.1 + 0.2])
            rows.append(Row(g=g, v=v))
    rows.append(Row(g=99, v=None))          # all-NULL group
    df = spark.createDataFrame(rows, "g int, v double")

    got = {r.g: r for r in A.grouped_percentile_cont(
        df, ["g"], "v", ps).collect()}
    want = {r.g: r for r in df.groupBy("g").agg(
        *[F.expr(f"percentile(v, {p})").alias(name)
          for name, p in ps.items()]).collect()}

    # all-NULL groups get their row too, with NULL percentiles — same as
    # the built-in (VERDICT r5 #3: dropping the row made inner-joining
    # consumers silently lose the group)
    assert set(got) == set(want)
    for g, w in want.items():
        for name in ps:
            assert got[g][name] == w[name], (g, name, got[g][name], w[name])
    assert all(got[99][name] is None for name in ps)


def _pct_shape_all_distinct(rng):
    # permutation of distinct doubles, incl. denormal-ish and huge magnitudes
    vals = ([float(i) * 1.7 for i in range(97)]
            + [1e-300, -1e-300, 1e300, -1e300, 3.141592653589793])
    rng.shuffle(vals)
    return [(0, v) for v in vals]


def _pct_shape_heavy_ties(rng):
    # 500 values drawn from only 3 distinct doubles — every rank interval
    # spans many rows, exercising the [start, cum) interval containment
    return [(0, rng.choice([1.0, 2.0, 0.1 + 0.2])) for _ in range(500)]


def _pct_shape_single_row_groups(rng):
    return [(g, rng.uniform(-1e6, 1e6)) for g in range(40)]


def _pct_shape_all_null_groups(rng):
    # NULL-only groups interleaved with tiny real groups
    rows = []
    for g in range(10):
        rows.append((g, None))
        if g % 2:
            rows.append((g, float(g)))
    return rows


def _pct_shape_two_rows(rng):
    # n=2 puts every interior p strictly between the two ranks: pure
    # interpolation, where any expression-shape drift shows immediately
    return [(g, v) for g in range(20)
            for v in (rng.uniform(-1e9, 1e9), rng.uniform(-1e9, 1e9))]


def _pct_shape_negative_zero(rng):
    # -0.0 == 0.0 but they are distinct doubles; the compressed distinct
    # frame must not split what the builtin's value map merges
    return [(0, rng.choice([-0.0, 0.0, 1.0])) for _ in range(100)]


@pytest.mark.parametrize("shape", [
    _pct_shape_all_distinct, _pct_shape_heavy_ties,
    _pct_shape_single_row_groups, _pct_shape_all_null_groups,
    _pct_shape_two_rows, _pct_shape_negative_zero,
])
@pytest.mark.parametrize("seed", [3, 1009])
def test_grouped_percentile_cont_adversarial_sweep(spark, shape, seed):
    """Hypothesis-style sweep protecting the bit-identical claim: each
    adversarial shape × seed is compared ULP-for-ULP against the builtin
    percentile(), including boundary percentiles p=0 and p=1."""
    import random

    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark.operators import aggregates as A

    rows = shape(random.Random(seed))
    df = spark.createDataFrame(rows, "g int, v double")
    ps = {"p0": 0.0, "p01": 0.01, "p25": 0.25, "p50": 0.5,
          "p73": 0.73, "p99": 0.99, "p100": 1.0}

    got = {r.g: r for r in A.grouped_percentile_cont(
        df, ["g"], "v", ps).collect()}
    want = {r.g: r for r in df.groupBy("g").agg(
        *[F.expr(f"percentile(v, {p})").alias(name)
          for name, p in ps.items()]).collect()}

    assert set(got) == set(want)
    for g, w in want.items():
        for name in ps:
            assert got[g][name] == w[name], (g, name, got[g][name], w[name])


def test_grouped_percentile_cont_rejects_out_of_range(spark):
    from peskas_malawi_data_pipeline_spark.operators import aggregates as A
    df = spark.createDataFrame([(1, 1.0)], "g int, v double")
    with pytest.raises(ValueError, match="outside"):
        A.grouped_percentile_cont(df, ["g"], "v", {"bad": 1.5})


def test_global_ranking_edge_cases(spark):
    """Edges: more range buckets than rows (empty partitions) and a
    single-row frame must still rank correctly."""
    from pyspark.sql import Row

    from peskas_malawi_data_pipeline_spark.operators import ranking

    df = spark.createDataFrame([Row(id=1, v=5), Row(id=2, v=3), Row(id=3, v=9)])
    out = {r.id: r.rn for r in ranking.global_row_number(
        df, ["v", "id"], "rn", buckets=16).collect()}
    assert out == {2: 1, 1: 2, 3: 3}

    one = spark.createDataFrame([Row(id=7, v=1.0)])
    assert ranking.global_ntile(one, ["v", "id"], 5, "t").collect()[0].t == 1


def test_form_schema_unknown_form_raises(spark):
    import pytest

    from peskas_malawi_data_pipeline_spark.sources import form_schemas as FS

    with pytest.raises(KeyError, match="no pinned schema"):
        FS.form_schema("NotARealForm-2031")
    # all five pinned forms resolve and carry the _id key field
    for form, schema in FS.FORM_SCHEMAS.items():
        assert schema.fields[0].name == "_id"
        assert FS.FORM_LAYOUT_KEYS[form] in (
            "dialect_a_kobo", "dialect_b_kobo")


def test_operator_argument_guards(spark):
    """Round-6 review hardening: degenerate arguments error up front
    instead of silently degrading (NULL tiles)."""
    import pytest

    from peskas_malawi_data_pipeline_spark.operators import ranking

    df = spark.createDataFrame([(i, 1) for i in range(10)], "doc_id int, w int")
    with pytest.raises(ValueError, match="n_tiles"):
        ranking.global_ntile(df, ["w", "doc_id"], 0)
