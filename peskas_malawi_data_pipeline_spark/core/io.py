"""Storage layer: Parquet tables published by truncate-and-load.

The reference's inter-stage IR is a MongoDB collection written with
truncate-and-load semantics (`R/storage.R:80-106`: ``remove("{}")`` then
insert-all, plus a metadata doc recording column order). The engine stores
each table as columnar Parquet — column pruning and predicate pushdown reach
the files, and Parquet schemas are ordered, so the reference's column-order
metadata document (`R/storage.R:36-48,92-99`) is unnecessary.

A plain ``mode("overwrite")`` deletes the last good table before the new one
commits, so a stage that fails mid-write would leave its readers nothing.
:func:`write_table` therefore publishes through a version pointer:

- ``<path>/v<N>/``     immutable data directories (plain parquet)
- ``<path>/v<N>/_schema.json``  the version's Spark schema
- ``<path>/_CURRENT``  tiny file naming the live version

The new version is staged whole, then committed by atomically replacing
``_CURRENT`` (``os.replace``; the version-pointer pattern behind Delta's
``_delta_log`` and Iceberg's catalog pointer). Readers resolve the pointer
at plan time and only ever see a whole committed version; a crash before the
commit leaves the previous version live. Precondition: one writer per table
at a time. Nothing enforces it: two concurrent writers both stage into the
same ``v<N+1>``, both commit, and the committed version can hold a mix of
their files. Local/HDFS-style paths only (the pointer goes through ``os``).

Like Delta's log and Iceberg's metadata, each version carries its schema:
:func:`read_table` hands it to the reader, so opening a committed table
runs no schema-inference job, and partition columns keep their written
types (inference reads a ``bigint`` partition key back as ``int``).
Spark's file listing skips names that start with ``_``, so the schema file
is never scanned as data.

At 100 TB the write path partitions by a low-cardinality natural key
(``landing_date`` for fact tables — SURVEY §7.1 step 7) so downstream reads
get partition pruning; callers opt in via ``partition_by``.
"""

from __future__ import annotations

import json
import os
import shutil
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.types import StructType

_POINTER = "_CURRENT"
_SCHEMA = "_schema.json"


def _current_version(path: str) -> int | None:
    try:
        with open(os.path.join(path, _POINTER)) as fh:
            return int(fh.read().strip())
    except (FileNotFoundError, NotADirectoryError):   # plain parquet
        return None


def read_table(spark: SparkSession, path: str, columns: Iterable[str] | None = None) -> DataFrame:
    """Scan a stored table (reference `mdb_collection_pull`, R/storage.R:26-51).

    Reads the committed version when ``path/_CURRENT`` exists, with the
    schema stored beside it, else ``path`` as plain parquet (inputs written
    by other tools), its schema inferred. A committed version without a
    schema file is inferred too. ``columns`` prunes the scan eagerly;
    Catalyst would prune anyway for a lazy downstream select, but an
    explicit projection documents intent.
    """
    version = _current_version(path)
    if version is None:
        df = spark.read.parquet(path)
    else:
        vdir = os.path.join(path, f"v{version}")
        reader = spark.read
        try:
            with open(os.path.join(vdir, _SCHEMA)) as fh:
                reader = reader.schema(StructType.fromJson(json.load(fh)))
        except FileNotFoundError:
            pass
        df = reader.parquet(vdir)
    if columns is not None:
        df = df.select(*columns)
    return df


def write_table(df: DataFrame, path: str,
                partition_by: list[str] | None = None) -> None:
    """Truncate-and-load (reference `mdb_collection_push`, R/storage.R:80-106)
    as a pointer commit: stage ``v<N+1>`` and its schema file, swap
    ``_CURRENT``, then delete every version before ``v<N>``. Keeping the
    previous version lets a reader planned before the commit finish its
    scan."""
    current = _current_version(path) or 0
    version = current + 1
    # overwrite also clears an orphan staged by a crashed run
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    vdir = os.path.join(path, f"v{version}")
    writer.save(vdir)
    with open(os.path.join(vdir, _SCHEMA), "w") as fh:
        fh.write(df.schema.json())

    pointer = os.path.join(path, _POINTER)
    with open(pointer + ".tmp", "w") as fh:
        fh.write(str(version))
    os.replace(pointer + ".tmp", pointer)   # the atomic commit point

    for name in os.listdir(path):
        if name[:1] == "v" and name[1:].isdigit() and int(name[1:]) < current:
            shutil.rmtree(os.path.join(path, name))
