"""End-to-end CLI DAG test: all six stages chained through a parquet
lakehouse exactly as an external scheduler would run them (SURVEY §7.0
CLI/DAG-parity; reference data-pipeline.yaml needs: edges)."""

import json

from peskas_malawi_data_pipeline_spark.cli import run_stage


def _land(tmp_path):
    landing = tmp_path / "landing"
    landing.mkdir()
    # dialect A: vessels under group_vessel_data, catches under group_catch
    (landing / "FieldDataApp-2024.jsonl").write_text("\n".join(json.dumps(s) for s in [
        {"_id": "A1", "today": "2024-03-05",
         "date_of_landing": "2024-03-05", "sample_district": "Mangochi",
         "group_vessel_data": [
             {"vessel_type": "B+E", "crew_number": "4",
              "imei_number": "30002222", "gear_type": "Gillnet",
              "group_catch": [{"fish_species": "Usipa", "weight": "5.5",
                               "value_species": "8000", "value_type": "total",
                               "weight_type": "total"}],
              "group_gillnets": [{"net_type": "A", "gillnet_mesh": "25"}]}]},
        {"_id": "A2", "today": "2024-03-06", "date_of_landing": "2024-03-06",
         "sample_district": "Salima", "group_vessel_data": []},
    ]) + "\n")
    # dialect B ("Malawi SSF"): vessels array, fish_repeat catches
    (landing / "Malawi SSF.jsonl").write_text("\n".join(json.dumps(s) for s in [
        {"_id": "B1", "today": "2024-03-07", "landing_date": "2024-03-07",
         "sample_district": "Nkhotakota",
         "vessels": [
             {"vessel_type": "Dugout Canoe", "crew_number": "2",
              "imei_number": "30001111", "gear_type": "Handline",
              "fish_repeat": [{"fish_species": "Chambo", "weight_kg": "2.0",
                               "value_species": "5000", "value_type": "per_kg",
                               "weight_type": "sample"},
                              {"fish_species": "Utaka", "weight_kg": "1.0",
                               "value_species": "2000", "value_type": "per_kg",
                               "weight_type": "sample"}]}]},
    ]) + "\n")
    (landing / "trips.csv").write_text(
        "Trip,IMEI,Device,Boat,Community,Started,Ended,Duration (Seconds),"
        "Range (Meters),Distance (Meters),Last Seen,Tags\n"
        "201,861111030002222,D1,B1,C1,2024-03-05 04:00:00,2024-03-05 10:00:00,"
        "21600,1000.0,5000.0,2024-03-05 10:05:00,\n")
    (landing / "devices.csv").write_text(
        "IMEI,device_id,boat_name,community,status\n"
        "861111030002222,d2,Chambo1,Chembe,active\n"
        "861111030001111,d1,Mwera,Msaka,active\n")
    (landing / "points.csv").write_text(
        "Trip,Time,Lat,Lng,Speed (M/S),Range (Meters),Heading,Boat,"
        "Boat Name,Community\n" + "\n".join(
            f"201,2024-03-05 04:{i:02d}:00,-14.0{i},34.8,2.0,10.0,90.0,B1,Boat,C1"
            for i in range(30)))


def test_cli_ingest_pinned_schema_path(spark, tmp_path):
    """`--form NAME=pinned` resolves the form's pinned StructType and
    structural dialect from the registry instead of inferring — the
    production ingest path, runnable per stage from the CLI."""
    import sys
    sys.path.insert(0, "tests")
    from test_sources import _submission

    landing = tmp_path / "landing"
    landing.mkdir()
    (landing / "FieldDataApp-2024.jsonl").write_text(
        json.dumps(_submission("FieldDataApp-2024", 1)) + "\n")
    (landing / "Malawi SSF.jsonl").write_text(
        json.dumps(_submission("Malawi SSF", 2)) + "\n")

    n = run_stage(spark, "ingest", str(tmp_path),
                  forms={"FieldDataApp-2024": "pinned", "Malawi SSF": "pinned"})
    assert n == 2
    assert run_stage(spark, "preprocess", str(tmp_path)) == 2


def test_cli_six_stage_dag(spark, tmp_path):
    _land(tmp_path)
    root = str(tmp_path)
    forms = {"FieldDataApp-2024": "dialect_a", "Malawi SSF": "dialect_b"}

    assert run_stage(spark, "ingest", root, forms=forms) == 4  # 1+1(placeholder)+2
    assert run_stage(spark, "preprocess", root) == 4
    assert run_stage(spark, "validate", root) == 4
    n_merged = run_stage(spark, "merge", root)
    assert n_merged == 1            # A1 ↔ trip 201 via registry suffix match
    assert run_stage(spark, "export-landings", root) == 4
    n_tracks = run_stage(spark, "export-tracks", root)
    assert n_tracks == 3            # 30 pings at 60s → 10-minute buckets


def test_cli_stages_run_no_job_after_write(spark, tmp_path, monkeypatch):
    """run_stage counts its rows during the write, so no stage runs a
    Spark job after its output is written; export-landings, a projection
    of the stored `validated` table, runs exactly one job: its write.
    Every stage's job count on this fixture is pinned, so a stage that
    gains a Spark job fails here."""
    import uuid

    from peskas_malawi_data_pipeline_spark import cli

    _land(tmp_path)
    root = str(tmp_path)
    forms = {"FieldDataApp-2024": "dialect_a", "Malawi SSF": "dialect_b"}
    sc = spark.sparkContext
    tag = uuid.uuid4().hex
    write_table = cli.write_table

    def write_then_mark(df, path, **kw):
        write_table(df, path, **kw)
        sc.setJobGroup(f"after.{tag}.{stage}", "after the write")

    monkeypatch.setattr(cli, "write_table", write_then_mark)
    jobs = {}
    for stage in cli.STAGES:
        sc.setJobGroup(f"stage.{tag}.{stage}", stage)
        try:
            run_stage(spark, stage, root, forms=forms)
        finally:
            sc._jsc.clearJobGroup()
        sc._jsc.sc().listenerBus().waitUntilEmpty()
        tracker = sc.statusTracker()
        jobs[stage] = len(tracker.getJobIdsForGroup(f"stage.{tag}.{stage}"))
        assert tracker.getJobIdsForGroup(f"after.{tag}.{stage}") == [], stage
    assert jobs == {"ingest": 3, "preprocess": 2, "validate": 9, "merge": 8,
                    "export-landings": 1, "export-tracks": 3}


def test_cli_ingest_unknown_pinned_form_fails_fast(spark, tmp_path):
    """--form NAME=pinned for a form with no registry entry must raise a
    clear KeyError naming the known forms, not fall through to schema
    inference with a bogus structural dialect."""
    import pytest

    root = tmp_path / "lake"
    (root / "landing").mkdir(parents=True)
    (root / "landing" / "mystery.jsonl").write_text('{"_id": 1}\n')

    for dialect in ("pinned", "auto"):
        with pytest.raises(KeyError, match="mystery"):
            run_stage(spark, "ingest", str(root),
                      forms={"mystery": dialect})


def test_cli_failed_stage_keeps_previous_output(spark, tmp_path, monkeypatch,
                                                capsys):
    """A stage whose plan raises mid-write exits non-zero naming the stage,
    leaves the previous committed output readable and intact (a failed
    stage never destroys what later stages read), and a re-run recovers."""
    from pyspark.sql import functions as F

    from peskas_malawi_data_pipeline_spark import cli
    from peskas_malawi_data_pipeline_spark.core.io import read_table

    _land(tmp_path)
    root = str(tmp_path)
    forms = {"FieldDataApp-2024": "dialect_a", "Malawi SSF": "dialect_b"}
    for stage in cli.STAGES:
        run_stage(spark, stage, root, forms=forms)

    def validated():
        return sorted(read_table(spark, f"{root}/validated").collect(), key=str)

    before = validated()
    # the fault fires on row N (by sorted submission id) inside the write job
    bad = sorted(r.submission_id for r in before)[2]

    orig = cli.validate.validate_landings

    def failing(df, **kw):
        out = orig(df, **kw)
        return out.withColumn("submission_id", F.when(
            F.col("submission_id") == bad,
            F.raise_error(F.lit(f"injected fault on row {bad}")))
            .otherwise(F.col("submission_id")))

    monkeypatch.setattr(cli, "get_spark", lambda name: spark)
    monkeypatch.setattr(cli.validate, "validate_landings", failing)
    assert cli.main(["validate", "--root", root]) != 0
    err = capsys.readouterr().err
    assert "validate: failed:" in err and "injected fault" in err
    assert validated() == before

    monkeypatch.setattr(cli.validate, "validate_landings", orig)
    assert cli.main(["validate", "--root", root]) == 0
    assert capsys.readouterr().out.strip() == f"validate: {len(before)} rows"
    assert validated() == before
    assert run_stage(spark, "merge", root) == 1


def test_driver_jvm_runs_with_raised_tier4_jit_thresholds(spark):
    """Every process that `get_spark` launches (each CLI stage, the tests,
    perfbench) starts its driver JVM with the session's C2 thresholds."""
    jvm = spark.sparkContext._jvm
    args = list(jvm.java.lang.management.ManagementFactory
                .getRuntimeMXBean().getInputArguments())
    for flag in ("-XX:Tier4InvocationThreshold=50000",
                 "-XX:Tier4MinInvocationThreshold=6000",
                 "-XX:Tier4CompileThreshold=150000",
                 "-XX:Tier4BackEdgeThreshold=400000"):
        assert flag in args, args
