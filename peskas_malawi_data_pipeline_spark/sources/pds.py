"""Pelagic Data Systems (PDS) GPS tracker source (SURVEY §2.1 S2/S3).

The reference GETs trip summaries and per-trip point CSVs over HTTP, with a
process pool for the per-trip fan-out (`get_trips` R/ingestion.R:428-475,
`get_trip_points` :539-629, pool at R/export.R:143-152). Spark-first:

- trip summaries: tiny CSV — driver fetch or direct ``spark.read.csv``;
- per-trip point fan-out: a ``mapInPandas`` stage over the distinct trip ids
  — each Arrow batch of trip ids issues its fetches inside the task, so the
  fan-out scales with the cluster, not one machine's process pool. The HTTP
  call is injected (``fetcher``) so tests/offline runs use a local directory
  of per-trip CSVs. A failed fetch or an unparseable body yields zero rows
  for that trip, with no marker column, as the reference drops failures
  silently: the output cannot tell a failed trip from one with no points.
"""

from __future__ import annotations

import io
import os
from typing import Callable, Iterator

import pandas as pd

from pyspark.sql import DataFrame, SparkSession

TRIPS_SCHEMA = ("Trip long, IMEI string, Device string, Boat string, "
                "Community string, Started timestamp, Ended timestamp, "
                "`Duration (Seconds)` long, `Range (Meters)` double, "
                "`Distance (Meters)` double, `Last Seen` timestamp, Tags string")

POINTS_SCHEMA = ("Trip long, Time timestamp, Lat double, Lng double, "
                 "`Speed (M/S)` double, `Range (Meters)` double, Heading double, "
                 "Boat string, `Boat Name` string, Community string")

_POINTS_COLS = ["Trip", "Time", "Lat", "Lng", "Speed (M/S)", "Range (Meters)",
                "Heading", "Boat", "Boat Name", "Community"]


def read_trips_csv(spark: SparkSession, path: str) -> DataFrame:
    """S2 — trip summaries from CSV (header row, typed schema)."""
    return spark.read.csv(path, header=True, schema=TRIPS_SCHEMA,
                          timestampFormat="yyyy-MM-dd HH:mm:ss")


def local_dir_fetcher(points_dir: str) -> Callable[[int], str | None]:
    """Offline fetcher: per-trip CSV files named ``<trip_id>.csv``."""
    def fetch(trip_id: int) -> str | None:
        p = os.path.join(points_dir, f"{trip_id}.csv")
        if not os.path.exists(p):
            return None
        with open(p) as fh:
            return fh.read()
    return fetch


def fetch_trip_points(trips: DataFrame, fetcher: Callable[[int], str | None],
                      id_col: str = "Trip") -> DataFrame:
    """S3 — distributed per-trip point fetch.

    ``trips`` supplies the distinct trip ids (repartitioned so the fan-out
    spreads across tasks); ``fetcher(trip_id)`` returns the CSV body or
    None. Failure semantics: a None return or an unparseable body drops
    that trip's points and the scan continues (error-absorbing ingest, F4
    — one bad trip must not fail the stage); a trip with zero point rows
    is indistinguishable from a failed fetch in this output — run
    :func:`fetch_trip_points` on a re-try list or diff against
    ``trips`` for an audit.
    """
    ids = trips.select(id_col).distinct()

    def run(batches: Iterator[pd.DataFrame]) -> Iterator[pd.DataFrame]:
        for pdf in batches:
            frames = []
            for trip_id in pdf[id_col]:
                body = fetcher(int(trip_id))
                if body is None:
                    continue
                try:
                    points = pd.read_csv(io.StringIO(body))
                except Exception:
                    continue           # malformed body: absorb, keep going
                points["Trip"] = int(trip_id)
                frames.append(points[[c for c in _POINTS_COLS if c in points.columns]])
            if frames:
                out = pd.concat(frames, ignore_index=True)
                # backfill missing columns BEFORE touching them — a body
                # without a Time header must absorb as NULLs, not KeyError
                for c in _POINTS_COLS:
                    if c not in out.columns:
                        out[c] = None
                out["Time"] = pd.to_datetime(out["Time"], errors="coerce")
                yield out[_POINTS_COLS]

    n_parts = max(ids.rdd.getNumPartitions(), 8)
    return ids.repartition(n_parts, id_col).mapInPandas(run, POINTS_SCHEMA)


def read_points_csv(spark: SparkSession, path: str) -> DataFrame:
    """Offline bulk path: all trip points already landed as CSV/parquet."""
    if path.endswith(".parquet"):
        return spark.read.parquet(path)
    return spark.read.csv(path, header=True, schema=POINTS_SCHEMA)
