"""Device-registry metadata source (SURVEY §2.1 S5).

The reference reads a Google Sheets tab ``devices`` with every column typed
string (`get_metadata`, R/storage.R:135-156). The engine treats it as what it
is: a tiny all-string dimension table that is always broadcast. The Sheets
API fetch is driver-side; offline/test paths read a CSV with the same shape.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession

DEVICES_SCHEMA = ("IMEI string, device_id string, boat_name string, "
                  "community string, status string")


def read_devices_csv(spark: SparkSession, path: str) -> DataFrame:
    """All-string read (reference ``col_types = "c"``, R/storage.R:152)."""
    return spark.read.csv(path, header=True, schema=DEVICES_SCHEMA)


def devices_from_rows(spark: SparkSession, rows: list[dict]) -> DataFrame:
    """Registry from fetched rows (Sheets API or fixtures)."""
    return spark.createDataFrame(rows, schema=DEVICES_SCHEMA)
