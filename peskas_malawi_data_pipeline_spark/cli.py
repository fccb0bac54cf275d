"""Stage CLI — DAG-parity with the reference's six GitHub-Actions jobs.

The reference runs each workflow function as its own container process
chained through MongoDB collections (`Rscript -e 'pkg::fn()'`,
data-pipeline.yaml:39-133). Here each stage is independently runnable —

    python -m peskas_malawi_data_pipeline_spark.cli <stage> --root <dir> \
        [--form name=dialect ...] [--config config.yml]

— chained through a parquet lakehouse under ``--root``:

    landing/<form>.jsonl   per-form submission landing zone (S1)
    landing/trips.csv      PDS trip summaries (S2)
    landing/points.*       GPS points, landed (S3 bulk path)
    landing/devices.csv    registry (S5)
    raw/ preprocessed/ validated/ merged_trips/ export_landings/
    matched_tracks/        stage outputs (truncate-and-load, K1)

so an external scheduler (Actions/Airflow/cron) can express the same
``needs:`` DAG with any subset of stages. Each output is published by a
pointer commit (``core.io.write_table``): a stage that fails mid-write
leaves its previous output readable, and the CLI exits 1 naming the stage.
"""

from __future__ import annotations

import argparse
import glob
import os
import sys
import traceback

from pyspark.sql import Observation, SparkSession
from pyspark.sql import functions as F

from .core.config import load_config
from .core.io import read_table, write_table
from .core.session import get_spark
from .plans import export, ingest, merge, preprocess, validate
from .sources import kobo, pds, sheets

#: stage -> its output directory under the lakehouse root, in DAG order
_OUTPUT_DIRS = {"ingest": "raw", "preprocess": "preprocessed",
                "validate": "validated", "merge": "merged_trips",
                "export-landings": "export_landings",
                "export-tracks": "matched_tracks"}
STAGES = tuple(_OUTPUT_DIRS)


def _points(spark: SparkSession, root: str):
    for cand in (f"{root}/landing/points.parquet", f"{root}/landing/points.csv"):
        if glob.glob(cand) or os.path.exists(cand):
            return pds.read_points_csv(spark, cand)
    raise FileNotFoundError(f"no landing/points.* under {root}")


def run_stage(spark: SparkSession, stage: str, root: str,
              forms: dict[str, str] | None = None,
              strict_parity: bool = False) -> int:
    """Run one stage against the lakehouse at ``root``; returns rows written.

    The row count is an :class:`Observation` on the output, resolved by the
    write job itself: no Spark job runs after the write."""
    if stage == "ingest":
        if not forms:
            raise ValueError("ingest needs at least one --form name=dialect")
        from .sources import form_schemas as FS

        loaded = {}
        for name, dialect in forms.items():
            path = f"{root}/landing/{name}.jsonl"
            if dialect in ("pinned", "auto"):
                # production path: the form's pinned StructType + its
                # structural dialect resolve from the registry (no inference)
                if name not in FS.FORM_SCHEMAS:
                    if dialect == "pinned":
                        raise KeyError(
                            f"--form {name}=pinned: no pinned schema for "
                            f"{name!r}; known forms: "
                            f"{sorted(FS.FORM_SCHEMAS)} (use an explicit "
                            f"structural dialect to ingest with inference)")
                    raise KeyError(
                        f"--form {name}=auto: {name!r} is not a registered "
                        f"form, so its structural dialect cannot be "
                        f"resolved; known forms: {sorted(FS.FORM_SCHEMAS)}")
                loaded[name] = (kobo.read_form_json(spark, path, name),
                                FS.FORM_LAYOUT_KEYS[name])
            else:
                loaded[name] = (kobo.read_landed_json(spark, path), dialect)
        out = ingest.ingest_landings(loaded)
    elif stage == "preprocess":
        out = preprocess.preprocess_landings(read_table(spark, f"{root}/raw"))
    elif stage == "validate":
        out = validate.validate_landings(
            read_table(spark, f"{root}/preprocessed"),
            strict_parity=strict_parity)
    elif stage == "merge":
        out = merge.merge_trips(
            read_table(spark, f"{root}/validated"),
            pds.read_trips_csv(spark, f"{root}/landing/trips.csv"),
            sheets.read_devices_csv(spark, f"{root}/landing/devices.csv"))
    elif stage == "export-landings":
        out = export.export_landings(read_table(spark, f"{root}/validated"))
    elif stage == "export-tracks":
        out = export.export_matched_tracks(
            read_table(spark, f"{root}/merged_trips"), _points(spark, root))
    else:
        raise ValueError(f"unknown stage {stage!r}; one of {STAGES}")
    rows = Observation()
    write_table(out.observe(rows, F.count(F.lit(1)).alias("rows")),
                f"{root}/{_OUTPUT_DIRS[stage]}")
    return int(rows.get["rows"])


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(prog="peskas-spark", description=__doc__)
    ap.add_argument("stage", choices=STAGES)
    ap.add_argument("--root", help="lakehouse root directory")
    ap.add_argument("--config", help="YAML config (storage.root, forms)")
    ap.add_argument("--form", action="append", default=[],
                    metavar="NAME=DIALECT",
                    help="form landing zone + structural dialect (ingest)")
    ap.add_argument("--strict-parity", action="store_true",
                    help="reproduce reference quirks bit-for-bit (SURVEY §8)")
    args = ap.parse_args(argv)

    conf = load_config(args.config) if args.config else {}
    root = args.root or conf.get("storage", {}).get("root")
    if not root:
        ap.error("--root or config storage.root required")
    for f in args.form:
        if "=" not in f:
            ap.error(f"--form expects NAME=DIALECT (e.g. "
                     f"'catch_survey=pinned'), got {f!r}")
    forms = dict(f.split("=", 1) for f in args.form) or conf.get("forms")

    spark = get_spark(f"peskas-{args.stage}")
    try:
        n = run_stage(spark, args.stage, root, forms=forms,
                      strict_parity=args.strict_parity)
    except Exception as e:
        traceback.print_exc()
        print(f"{args.stage}: failed: {e}", file=sys.stderr)
        return 1
    print(f"{args.stage}: {n} rows")
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
