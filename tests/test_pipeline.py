"""End-to-end tests for the six pipeline stages on FIXTURES.md data."""

import datetime as dt

import pytest
from pyspark.sql import Row, functions as F

from peskas_malawi_data_pipeline_spark.plans import (
    export, ingest, merge, preprocess, validate)

import fixtures as FX


@pytest.fixture(scope="module")
def raw(spark):
    df = FX.raw_landings_df(spark)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def preprocessed(spark, raw):
    df = preprocess.preprocess_landings(raw)
    df.cache().count()
    return df


@pytest.fixture(scope="module")
def devices(spark):
    return FX.devices_df(spark)


# -------------------------------------------------------------- ingest

def test_ingest_two_dialects_union(spark):
    a = spark.createDataFrame([Row(
        _id="A1", today="2024-03-01",
        group_vessel_data=[Row(vessel_type="B+E",
                               group_catch=[Row(fish_species="Usipa", weight="5")],
                               group_gillnets=[Row(net_type="x", gillnet_mesh="20")])],
    )])
    b = spark.createDataFrame([Row(
        _id="B1", today="2024-03-02",
        vessels=[Row(vessel_type="Dugout Canoe",
                     fish_repeat=[Row(fish_species="Chambo", weight="2"),
                                  Row(fish_species="Utaka", weight="1")],
                     group_gillnets=[Row(net_type="y", gillnet_mesh="22")])],
    )])
    out = ingest.ingest_landings({
        "FieldDataApp-2024": (a, "dialect_a"),
        "Malawi SSF": (b, "dialect_b"),
    })
    rows = out.collect()
    assert len(rows) == 3  # 1 catch + 2 catches
    by_key = {(r.submission_id, r.catch_number): r for r in rows}
    assert by_key[("A1", 1)].form_name == "FieldDataApp-2024"
    assert by_key[("B1", 2)].fish_species == "Utaka"
    assert by_key[("A1", 1)].vessel_number == 1
    # gillnets survived as indexed nested array
    assert by_key[("A1", 1)].gillnets[0].gillnet_number == 1
    # union-widening: dialect-a rows have NULL for dialect-b-only columns
    assert by_key[("B1", 1)].vessel_type == "Dugout Canoe"


# ---------------------------------------------------------- preprocess

def test_preprocess_canonical_schema(preprocessed):
    assert preprocessed.columns == preprocess.CANONICAL_ORDER
    types = dict(preprocessed.dtypes)
    assert types["landing_date"] == "timestamp"
    assert types["n_fishers"] == "double"
    assert types["catch_kg"] == "double"
    assert types["gillnets"].startswith("array<struct<gillnet_number:double")


def test_preprocess_survey_id_and_coalesce(preprocessed):
    r = preprocessed.filter(F.col("survey_id") == "S0001-1-1").collect()[0]
    assert r.submission_id == "S0001"
    # dialect-b row: landing_date came from date_of_landing, gps from _001
    assert r.landing_date is not None
    assert r.lat == pytest.approx(-13.70) and r.lon == pytest.approx(34.61)


def test_preprocess_price_and_recodes(preprocessed):
    rows = preprocessed.filter(F.col("catch_kg").isNotNull()).collect()
    for r in rows:
        if r.catch_price_type == "total" and r.catch_price is not None and r.catch_kg:
            assert r.price_kg == pytest.approx(r.catch_price / r.catch_kg)
        if r.catch_price_type == "per_kg" and r.catch_price is not None:
            assert r.price_kg == r.catch_price
    taxa = {r.catch_taxon for r in rows}
    assert "no_catch" in taxa           # NOCATCH / "0" normalized
    assert all(t == t.lower() for t in taxa if t)
    gears = {r.gear for r in preprocessed.collect() if r.gear}
    assert gears <= set(preprocess.GEAR_RECODE.values())


def test_preprocess_gillnets_normalized(preprocessed):
    rows = preprocessed.filter(F.size("gillnets") > 0).collect()
    assert rows, "expected some gillnet rows"
    for r in rows:
        g = r.gillnets[0]
        assert g.gillnet_mesh_mm in (25.0, 30.0)   # variant fields coalesced+cast
        assert g.gillnet_length_m == 100.0


EFFORT_SOURCE_COLS = [
    "num_hauls", "fish_trap_effort_hauls", "chilimira_effort_hauls",
    "chilimira_hauls", "longline_effort_hooks", "longline_effort",
    "handline_effort_hooks", "longline_effort_hrs", "handline_effort_hrs",
    "chilimira_effort", "mosquito_effort_sets", "mosquito_effort",
    "kambuzi_effort_sets", "kambuzi_seine_effort", "chikwekwesa_effort",
    "wogo_effort", "other_gear_effort", "fish_trap_effort", "handline_effort",
]


@pytest.fixture(scope="module")
def effort_raw(spark):
    """One row per form with MULTIPLE feeding columns populated with
    distinct values — exercises the per-form E3 branch selection where a
    blind suffix coalesce would pick a different source (VERDICT r01 §1)."""
    full = {c: str(i + 1) for i, c in enumerate(EFFORT_SOURCE_COLS)}
    rows = []
    for i, (form, vals) in enumerate([
        (preprocess.FORM_ECAS, full),
        (preprocess.FORM_2023F, {**full, "num_hauls": None}),
        (preprocess.FORM_2024, {c: full[c] for c in (
            "chilimira_hauls", "chilimira_effort", "longline_effort",
            "chikwekwesa_effort", "other_gear_effort")}),
        (preprocess.FORM_2024A, {c: full[c] for c in (
            "chikwekwesa_effort", "fish_trap_effort", "chilimira_hauls")}),
        (preprocess.FORM_SSF, {c: full[c] for c in (
            "chilimira_hauls", "chilimira_effort", "longline_effort_hooks")}),
    ]):
        rows.append(Row(form_name=form, submission_id=f"E{i}",
                        vessel_number=1, catch_number=1,
                        **{c: vals.get(c) for c in EFFORT_SOURCE_COLS}))
    schema = ("form_name string, submission_id string, vessel_number int, "
              "catch_number int, " +
              ", ".join(f"{c} string" for c in EFFORT_SOURCE_COLS))
    return spark.createDataFrame(rows, schema)


def test_gear_effort_fusion_matches_join_fold(spark, raw, effort_raw):
    """SURVEY §4.3 rewrite parity: fused per-form-branch + per-suffix
    coalesce == literal 10-way full-join fold, on both the synthetic raw
    corpus and the adversarial multi-source frame."""
    for base in (raw, effort_raw):
        df = base.withColumn("survey_id", F.concat_ws(
            "-", "submission_id", "vessel_number", "catch_number"))
        folded = preprocess.gear_effort_join_fold(df).collect()
        eff = preprocess._effort_columns(df)
        fused = df.select("form_name", "survey_id",
                          *[c.alias(n) for n, c in eff.items()]).collect()
        key = lambda r: (r.form_name, r.survey_id)  # noqa: E731
        fold_map = {key(r): r for r in folded}
        assert len(fold_map) == len(folded)
        for r in fused:
            fr = fold_map[key(r)]
            for out in preprocess.EFFORT_SUFFIX_GROUPS:
                assert getattr(r, out) == getattr(fr, out), (r.survey_id, out)


def test_gear_effort_per_form_branches(effort_raw):
    """E3 per-form semantics incl. quirk Q2 (R/preprocessing.R:94-249).
    Source values: num_hauls=1, fish_trap_effort_hauls=2, chilimira_hauls=4,
    longline_effort_hooks=5, longline_effort=6, longline_effort_hrs=8,
    chilimira_effort=10, mosquito_effort_sets=11, mosquito_effort=12,
    chikwekwesa_effort=15, other_gear_effort=17, fish_trap_effort=18,
    handline_effort=19."""
    out = {r.form_name: r for r in
           preprocess.preprocess_landings(effort_raw).collect()}
    ecas = out[preprocess.FORM_ECAS]
    # two sources populated per suffix group: the per-form branch picks the
    # eCAS column, and raw num_hauls (merged_data slice) wins gear_n_hauls
    assert ecas.gear_n_hauls == 1.0      # num_hauls, NOT fish_trap(2)/chilimira(3)
    assert ecas.gear_n_hooks == 5.0      # longline_effort_hooks, NOT longline_effort(6)
    assert ecas.gear_hrs == 8.0          # longline_effort_hrs first in suffix order
    assert ecas.gear_n_sets == 11.0      # mosquito_effort_sets, NOT mosquito_effort(12)
    assert ecas.gear_length is None      # chikwekwesa_length is 2024A-only

    f23 = out[preprocess.FORM_2023F]
    assert f23.gear_n_hauls == 18.0      # num_hauls NULL -> fish_trap_effort
    assert f23.gear_n_hooks == 6.0       # longline_effort (2023F branch)
    assert f23.gear_hrs == 19.0          # handline_effort via handline_n_hrs
    assert f23.gear_n_sets == 12.0       # mosquito_effort (2023F branch)

    f24 = out[preprocess.FORM_2024]
    # Q2: the SECOND ceffort block includes FieldDataApp-2024 in the
    # chilimira_hauls branch (the first block did not) and routes
    # chilimira_effort through the typo'd chilmira_n_hrs, which still
    # feeds gear_hrs via the ends_with("n_hrs") scan
    assert f24.gear_n_hauls == 4.0       # chilimira_hauls — 2nd block effective
    assert f24.gear_hrs == 10.0          # chilimira_effort via chilmira_n_hrs
    assert f24.gear_n_sets == 15.0       # chikwekwesa_effort
    assert f24.gear_n_hooks == 6.0       # longline_effort

    f24a = out[preprocess.FORM_2024A]
    assert f24a.gear_length == 15.0      # chikwekwesa_effort -> *length* (2024A only)
    assert f24a.gear_n_sets is None      # chikwekwesa n_sets branch excludes 2024A
    assert f24a.gear_n_hauls == 18.0     # fish_trap_effort before chilimira_hauls

    ssf = out[preprocess.FORM_SSF]
    assert ssf.gear_n_hauls == 4.0       # chilimira_hauls (SSF in 2nd ceffort block)
    assert ssf.gear_hrs is None          # chilmira_n_hrs branch excludes SSF
    assert ssf.gear_n_hooks is None      # longline_effort_hooks is eCAS-only


# ------------------------------------------------------------ validate

def test_validate_dates_masks_and_strict_parity(spark):
    df = spark.createDataFrame(
        [Row(survey_id="a", landing_date=dt.datetime(2019, 1, 1), submission_date=dt.datetime(2024, 1, 1)),
         Row(survey_id="b", landing_date=dt.datetime(2024, 2, 1), submission_date=dt.datetime(2024, 1, 1)),
         Row(survey_id="c", landing_date=dt.datetime(2024, 1, 1), submission_date=dt.datetime(2024, 1, 2))])
    intent = {r.survey_id: r for r in validate.validate_dates(df).collect()}
    assert intent["a"].alert_date == 1 and intent["a"].landing_date is None
    assert intent["b"].alert_date == 1 and intent["b"].landing_date is None
    assert intent["c"].alert_date is None and intent["c"].landing_date is not None
    # strict parity (Q1): only the < 2020-12-31 rule fires
    strict = {r.survey_id: r for r in
              validate.validate_dates(df, strict_parity=True).collect()}
    assert strict["a"].alert_date == 1
    assert strict["b"].alert_date is None      # the overwritten rule never fires
    assert strict["b"].landing_date is not None


_VALIDATE_INPUT = ("i long, survey_id string, landing_date timestamp, "
                   "submission_date timestamp, n_fishers double, "
                   "n_boats double, gear string, catch_taxon string, "
                   "weight_type string, catch_kg double, price_kg double, "
                   "catch_price double")


def _validate_input(spark, rows):
    """A small validate-stage input: the columns validate_landings reads,
    with valid dates and NULL wherever a row dict names no value."""
    names = [f.split()[0] for f in _VALIDATE_INPUT.split(", ")]
    base = dict(landing_date=dt.datetime(2024, 1, 1),
                submission_date=dt.datetime(2024, 1, 2))
    return spark.createDataFrame(
        [tuple({**base, "survey_id": f"s{r['i']}", **r}.get(c) for c in names)
         for r in rows], _VALIDATE_INPUT)


def test_validate_nfishers_negative_and_outlier(spark):
    vals = [3.0, 4.0, 5.0, 3.0, 4.0, 5.0, 4.0, -2.0, 400.0]
    df = _validate_input(spark, [dict(i=i, n_fishers=v)
                                 for i, v in enumerate(vals)])
    out = {r.i: r for r in validate.validate_landings(df).collect()}
    assert out[7].alert_number == "2" and out[7].n_fishers is None   # negative
    assert out[8].alert_number == "2" and out[8].n_fishers is None   # outlier
    assert out[0].alert_number == "" and out[0].n_fishers == 3.0


def test_validate_pricekg_masks_three_columns(spark):
    rows = [dict(i=i, catch_taxon="usipa", price_kg=1000.0 + i * 10,
                 catch_kg=5.0, catch_price=5000.0) for i in range(12)]
    rows.append(dict(i=99, catch_taxon="usipa", price_kg=10_000_000.0,
                     catch_kg=5.0, catch_price=50_000_000.0))
    df = _validate_input(spark, rows)
    out = {r.i: r for r in validate.validate_landings(df).collect()}
    bad = out[99]
    assert bad.alert_number == "4"
    assert bad.price_kg is None and bad.catch_kg is None and bad.catch_price is None
    assert out[0].price_kg is not None


def test_validate_catch_null_gear_group_gets_its_bounds(spark):
    """The catch rule (alert 4, ``include_catch=True``) fits and applies
    bounds for a NULL-gear group exactly as for a named gear: dplyr keeps
    NA as a group level and its joins match NA to NA."""
    rows = []
    for g, gear in enumerate(["gillnet", None]):
        rows += [dict(i=100 * g + j, gear=gear, catch_taxon="usipa",
                      weight_type="total", catch_kg=float(10 + j))
                 for j in range(12)]
        rows.append(dict(i=100 * g + 99, gear=gear, catch_taxon="usipa",
                         weight_type="total", catch_kg=5000.0))
    df = _validate_input(spark, rows)
    out = {r.i: r for r in
           validate.validate_landings(df, include_catch=True).collect()}
    for g in (0, 1):
        assert out[100 * g + 99].alert_number == "4"
        assert out[100 * g + 99].catch_kg is None
        assert out[100 * g].alert_number == "" and out[100 * g].catch_kg == 10.0


def test_validate_imeis_all_cases(spark, devices):
    cases = [
        ("u1", "30002222"),          # 8-digit suffix of exactly one registry IMEI
        ("u2", "9999999"),           # shared suffix of two -> ambiguous
        ("u3", "555554"),            # matches nothing -> unknown
        ("u4", "123"),               # too short (<5 digits)
        ("u5", None),                # absent
        ("u6", "861111030001111"),   # full exact IMEI
        ("u7", "-30005555"),         # negative digits -> abs (E10), unique suffix
    ]
    df = spark.createDataFrame(
        [Row(survey_id=s, tracker_imei=v) for s, v in cases])
    out = {r.survey_id: r for r in validate.validate_imeis(df, devices).collect()}
    assert out["u1"].alert_imei is None and out["u1"].imei == "861111030002222"
    assert out["u2"].alert_imei == 2 and out["u2"].imei is None
    assert out["u3"].alert_imei == 3
    assert out["u4"].alert_imei == 1
    assert out["u5"].alert_imei == 1
    assert out["u6"].alert_imei is None and out["u6"].imei == "861111030001111"
    assert out["u7"].alert_imei is None and out["u7"].imei == "861111030005555"


def test_validate_landings_fuses_alerts(preprocessed):
    out = validate.validate_landings(preprocessed)
    assert "alert_number" in out.columns
    vals = [r.alert_number for r in out.collect()]
    assert any(v == "1" for v in vals)          # date alerts present
    assert all("-" not in v or set(v.split("-")) <= {"1", "2", "3", "4"} for v in vals)
    # row count preserved (validators never drop rows)
    assert out.count() == preprocessed.count()


# --------------------------------------------------------------- merge

def test_merge_trips_uniqueness_and_tz(spark, devices):
    landings = spark.createDataFrame([
        # unique (day, imei) both sides -> survives
        Row(survey_id="L1", tracker_imei="861111030002222",
            landing_date=dt.datetime(2024, 3, 5, 9, 0)),
        # tz roll: trip 102 ends 22:30 UTC Mar 6 = Mar 7 in Blantyre
        Row(survey_id="L2", tracker_imei="861111030001111",
            landing_date=dt.datetime(2024, 3, 7, 6, 0)),
        # two trips that day for this imei -> dropped by guard
        Row(survey_id="L3", tracker_imei="861111030005555",
            landing_date=dt.datetime(2024, 3, 8, 9, 0)),
    ])
    merged = merge.merge_trips(landings, FX.trips_df(spark), devices)
    got = {r.survey_id: r for r in merged.collect()}
    assert set(got) == {"L1", "L2"}
    assert got["L1"].Trip == 101
    assert got["L2"].Trip == 102                # matched via Blantyre civil date
    assert got["L2"].landing_day == dt.date(2024, 3, 7)


# -------------------------------------------------------------- export

def test_export_landings_subset(preprocessed):
    validated = validate.validate_landings(preprocessed)
    out = export.export_landings(validated)
    assert out.columns == [c for c in export.EXPORT_COLUMNS if c in validated.columns]
    assert out.count() == validated.count()


def test_export_matched_tracks_buckets(spark, devices):
    landings = spark.createDataFrame([
        Row(survey_id="L1", tracker_imei="861111030002222",
            landing_date=dt.datetime(2024, 3, 5, 9, 0),
            sample_district="Mangochi", landing_site="x", gear="gillnet",
            catch_taxon="usipa"),
    ])
    merged = merge.merge_trips(landings, FX.trips_df(spark), devices)
    tracks = export.export_matched_tracks(merged, FX.points_df(spark))
    rows = tracks.filter(F.col("Trip") == 101).orderBy("time_bucket").collect()
    # 40 pings at 60s from 04:00 -> buckets 04:00..04:30 (10,10,10,10)
    assert len(rows) == 4
    assert all(r.n_pings == 10 for r in rows)
    assert rows[0].time_bucket == dt.datetime(2024, 3, 5, 4, 0)
    assert rows[0].lat == pytest.approx(-14.101 - 0.0001 * 4.5)
    # distinct matched trip ids feed the point fetch fan-out (P12)
    assert [r.Trip for r in export.matched_trip_ids(merged).collect()] == [101]


# -------------------------------------------------------------- plan shapes

def _plan(df, mode="simple"):
    spark = df.sparkSession
    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils
    return utils.explainString(df._jdf.queryExecution(), mode)


def test_preprocess_is_one_fused_pass(spark, raw):
    """SURVEY §4.3: the gear-effort join fold is fused into coalesce
    expressions — the whole stage is joinless and its only shuffle is the
    final distinct(). (Built fresh — a cached fixture would render its own
    exchange inside the InMemoryTableScan subtree.)"""
    # the non-foldable filter keeps the plan canonically distinct from the
    # cached `preprocessed` fixture, so the cache manager cannot substitute
    # an InMemoryTableScan (whose rendering would hide/duplicate nodes)
    p = _plan(preprocess.preprocess_landings(
        raw.filter(F.length("form_name") > -1)))
    assert "Join" not in p
    assert p.count("Exchange") == 1  # distinct() only


def test_merge_broadcasts_registry_and_inner_joins(spark, preprocessed, devices):
    validated = validate.validate_landings(preprocessed)
    merged = merge.merge_trips(validated, FX.trips_df(spark), devices)
    p = _plan(merged)
    assert "BroadcastNestedLoopJoin" in p  # imei suffix-match vs tiny registry
    assert "CartesianProduct" not in p


def test_validate_bounds_joins_are_broadcast(preprocessed):
    validated = validate.validate_landings(preprocessed)
    p = _plan(validated)
    # every bounds relation (1 row or |groups| rows) broadcasts back; the
    # 100 TB fact side must never shuffle for a validator join
    assert "SortMergeJoin" not in p and "ShuffledHashJoin" not in p


# ------------------------------------------------- end-to-end composition

def test_full_pipeline_composes_into_one_lazy_plan(spark, raw, devices):
    """The reference runs six stages as separate container jobs writing a
    collection between each (data-pipeline.yaml:39-133); here the whole
    chain preprocess → validate → merge → export composes into ONE lazy
    Catalyst plan — no materialization between stages. Pins: (a) the
    composed plan stays Python-free (no BatchEvalPython), (b) both exports
    execute off the shared chain with the expected contents, (c) the
    track-export plan's shuffle budget stays within the documented ceiling
    (broadcast dims + LocScaleB bounds + the one fact⋈fact merge)."""
    validated = validate.validate_landings(preprocess.preprocess_landings(raw))
    # extend the trips/points fixtures with a trip overlapping the raw
    # fixture's (2024-03-02, ...2222) landing so the merge has a survivor
    extra_trip = spark.createDataFrame([Row(
        Trip=201, IMEI="861111030002222", Device="d2", Boat="Chambo1",
        Community="Chembe", Started=dt.datetime(2024, 3, 2, 4, 0),
        Ended=dt.datetime(2024, 3, 2, 10, 0))])
    for c in ["Duration (Seconds)", "Range (Meters)", "Distance (Meters)"]:
        extra_trip = extra_trip.withColumn(c, FX.F_lit_null_double())
    trips = FX.trips_df(spark).unionByName(extra_trip)
    extra_points = spark.createDataFrame([Row(
        Trip=201, Time=dt.datetime(2024, 3, 2, 4, 0) + dt.timedelta(seconds=60 * i),
        Lat=-14.2 - 0.0001 * i, Lng=34.8 + 0.0002 * i) for i in range(40)])
    points = FX.points_df(spark).unionByName(extra_points)

    merged = merge.merge_trips(validated, trips, devices)
    landings_out = export.export_landings(validated)
    tracks_out = export.export_matched_tracks(merged, points)

    plan = _plan(tracks_out, "formatted")
    assert "BatchEvalPython" not in plan
    assert "CartesianProduct" not in plan
    # shuffle ceiling: bounds aggregates + unique-trip windows on both merge
    # sides + the merge join + the bucket rollup; broadcast exchanges (dims,
    # bounds, imei registry) don't count — they are not repartitions
    n_shuffle = plan.count("Exchange hashpartitioning") \
        + plan.count("Exchange rangepartitioning")
    assert n_shuffle <= 8, f"merge/export shuffle budget blew up: {n_shuffle}"

    assert landings_out.count() > 0
    rows = tracks_out.collect()
    assert len(rows) > 0 and all(r.n_pings >= 1 for r in rows)


def test_grid_complete_null_key_level_and_salted_join_guard(spark):
    """tidyr::complete parity — NA is a regular key level: a NULL-keyed
    group keeps its aggregate in its own grid cell (a plain '=' join would
    strand it). And salted_join refuses right/full, where per-salt dim
    replication would inflate unmatched dim rows (review findings r3)."""
    from peskas_malawi_data_pipeline_spark.operators import joins as J

    df = spark.createDataFrame(
        [("a", 1, 10.0), (None, 1, 5.0), ("a", 2, 7.0)], ["k1", "k2", "v"])
    rows = {(r.k1, r.k2): r.total for r in J.grid_complete(
        df, "k1", "k2", [F.sum("v").alias("total")]).collect()}
    assert rows == {("a", 1): 10.0, (None, 1): 5.0,
                    ("a", 2): 7.0, (None, 2): None}

    fact = spark.createDataFrame([(1, "x")], ["k", "p"])
    dim = spark.createDataFrame([(1, "d")], ["k", "q"])
    with pytest.raises(ValueError, match="inner.*left"):
        J.salted_join(fact, dim, ["k"], how="full")
    # key-only fact: deterministic fallback salt instead of a plan error
    assert J.salted_join(fact.select("k"), dim, ["k"]).count() == 1
