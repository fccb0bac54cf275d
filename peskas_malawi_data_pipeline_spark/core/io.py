"""Storage layer: Parquet(/Delta-style) tables with truncate-and-load parity.

The reference's inter-stage IR is a MongoDB collection written with
truncate-and-load semantics (`R/storage.R:80-106`: ``remove("{}")`` then
insert-all, plus a metadata doc recording column order). The engine's native
storage is columnar Parquet with ``mode("overwrite")`` — the same contract
(idempotent full rewrite), but scan-efficient: column pruning and predicate
pushdown reach the files, and Parquet schemas are ordered, so the reference's
column-order metadata document (`R/storage.R:36-48,92-99`) is unnecessary.

At 100 TB the write path partitions by a low-cardinality natural key
(``landing_date`` for fact tables — SURVEY §7.1 step 7) so downstream reads
get partition pruning; callers opt in via ``partition_by``.
"""

from __future__ import annotations

import os
from typing import Iterable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F


def read_table(spark: SparkSession, path: str, columns: Iterable[str] | None = None) -> DataFrame:
    """Scan a stored table (reference `mdb_collection_pull`, R/storage.R:26-51).

    ``columns`` prunes the scan eagerly; Catalyst would prune anyway for a
    lazy downstream select, but an explicit projection documents intent.
    """
    df = spark.read.parquet(path)
    if columns is not None:
        df = df.select(*columns)
    return df


def write_table(df: DataFrame, path: str,
                partition_by: list[str] | None = None) -> None:
    """Truncate-and-load (reference `mdb_collection_push`, R/storage.R:80-106)."""
    writer = df.write.mode("overwrite").format("parquet")
    if partition_by:
        writer = writer.partitionBy(*partition_by)
    writer.save(path)


def upsert_partitions(df: DataFrame, path: str,
                      partition_by: list[str]) -> None:
    """Incremental partition upsert — the 100 TB alternative to
    truncate-and-load.

    The reference rewrites every collection on each 2-day cron run
    (`R/storage.R:89`); at scale that is a full-table rewrite for a
    trailing-edge change. With dynamic partition overwrite, only the
    partitions PRESENT in ``df`` are replaced — untouched partitions
    (historic ``landing_date``s) keep their files, so a daily incremental
    run costs O(new data), not O(table). Readers see partition-level
    atomicity (each partition directory swaps whole).
    """
    spark = df.sparkSession
    old = spark.conf.get("spark.sql.sources.partitionOverwriteMode", "static")
    spark.conf.set("spark.sql.sources.partitionOverwriteMode", "dynamic")
    try:
        (df.write.mode("overwrite").partitionBy(*partition_by)
         .format("parquet").save(path))
    finally:
        spark.conf.set("spark.sql.sources.partitionOverwriteMode", old)


def _local_rename_swap(path: str, tmp: str) -> None:
    """Directory-rename swap — valid ONLY where rename is a metadata
    operation (POSIX / HDFS). On an object store a "rename" is a non-atomic
    O(data) copy+delete, so this strategy refuses URI schemes.

    NOT crash-safe: between the two renames the table directory does not
    exist (a single POSIX dir-over-dir atomic exchange isn't portable).
    A ``.__swap_inprogress`` marker brackets the window; if a crash leaves
    the marker behind, recovery is mechanical — whichever of ``tmp`` /
    ``tmp + '.__old'`` still exists is, respectively, the new or old data,
    and either may be renamed back to ``path``. Concurrent readers racing
    the swap can observe a missing directory; serialize external readers
    or use a table-format metadata commit (``swap=``) where that matters.
    """
    import shutil

    scheme = path.split("://", 1)[0] if "://" in path else ""
    if scheme not in ("", "file"):
        raise ValueError(
            f"rename swap is not atomic on {scheme}:// storage; compact "
            f"through a table format (Delta/Iceberg metadata commit) by "
            f"passing swap=, e.g. a catalog REPLACE TABLE commit")
    old = tmp + ".__old"
    marker = tmp + ".__swap_inprogress"
    with open(marker, "w") as fh:
        fh.write(
            f"swap in progress: if {path!r} is missing, recover by "
            f"renaming {tmp!r} (new data) or {old!r} (old data) to it\n")
    try:
        shutil.move(path, old)
        shutil.move(tmp, path)
    finally:
        if os.path.exists(path):
            os.remove(marker)
    shutil.rmtree(old)


def compact_table(spark: SparkSession, path: str, target_files: int,
                  swap=None) -> int:
    """Small-files compaction: rewrite a table directory into
    ``target_files`` files and swap it in. Returns the data-file count
    after compaction.

    Streaming/incremental sinks accrete many small files per partition
    over time; at 100 TB scan cost is dominated by per-file open/footer
    overhead once files shrink below a row group. Compaction = read →
    ``repartition(n)`` → write to a side directory → swap.

    The swap is a pluggable strategy (``swap(path, tmp) -> None``): the
    default directory rename is correct on local/HDFS filesystems only and
    REFUSES object-store URIs, where the right swap is a table-format
    metadata commit (Delta ``REPLACE TABLE`` / Iceberg rewrite-files) — the
    read→repartition→write plan underneath is identical.
    """
    df = spark.read.parquet(path)
    tmp = path.rstrip("/") + ".__compact_tmp"
    df.repartition(target_files).write.mode("overwrite").parquet(tmp)
    (swap or _local_rename_swap)(path, tmp)
    return sum(1 for f in spark.read.parquet(path).inputFiles()
               if not f.rsplit("/", 1)[-1].startswith("."))


class VersionedParquetTable:
    """Metadata-commit table: object-store-safe truncate-and-load and
    compaction with NO directory renames — the production ``swap=``
    alternative to :func:`_local_rename_swap`.

    Layout (the version-pointer pattern Delta's ``_delta_log`` and
    Iceberg's catalog pointer implement; this is the minimal open
    formulation of the same commit protocol):

    - ``<root>/v<N>/``      immutable data directories (plain parquet)
    - ``<root>/_CURRENT``   tiny pointer file naming the live version

    A write/compact produces a COMPLETE new ``v<N+1>`` directory first,
    then commits by atomically replacing ``_CURRENT`` (``os.replace``
    locally; on an object store the equivalent single-object PUT is
    atomic). Readers resolve the pointer at plan time and only ever see a
    whole committed version — there is no window where the table is
    missing (the rename swap's weakness), and a crash before the pointer
    commit leaves the previous version live with only an orphaned data
    directory to garbage-collect (``vacuum``).

    Single-writer, like a Delta table without a locking LogStore: two
    concurrent writers can both stage the same next version and the later
    pointer replace wins (lost update, never a torn table). Serialize
    writers externally, or plug a CAS-capable pointer store.
    """

    POINTER = "_CURRENT"

    def __init__(self, root: str) -> None:
        self.root = root

    def _pointer_path(self) -> str:
        return os.path.join(self.root, self.POINTER)

    def current_version(self) -> int | None:
        try:
            with open(self._pointer_path()) as fh:
                return int(fh.read().strip())
        except FileNotFoundError:
            return None

    def data_dir(self, version: int) -> str:
        return os.path.join(self.root, f"v{version}")

    def _commit(self, version: int) -> None:
        tmp = self._pointer_path() + ".tmp"
        with open(tmp, "w") as fh:
            fh.write(str(version))
        os.replace(tmp, self._pointer_path())   # the atomic commit point

    def read(self, spark: SparkSession,
             columns: Iterable[str] | None = None) -> DataFrame:
        version = self.current_version()
        if version is None:
            raise FileNotFoundError(f"no committed version under {self.root}")
        return read_table(spark, self.data_dir(version), columns)

    META = "_META.json"

    def write(self, df: DataFrame,
              partition_by: list[str] | None = None,
              meta: dict | None = None) -> int:
        """Truncate-and-load as a metadata commit; returns the new version.

        ``meta`` (JSON-serializable) is staged INSIDE the new version
        directory before the pointer commit, so it is transactional with
        the data: a reader never sees meta from one version with data from
        another. This is the slot idempotent writers use to record their
        progress marker (e.g. the last applied batch id)."""
        return self._stage_and_commit(df, partition_by, meta, audit=False)

    def _stage_and_commit(self, df: DataFrame,
                          partition_by: list[str] | None,
                          meta: dict | None, audit: bool) -> int:
        """The ONE transactional staging sequence (write → optional
        read-back fingerprint → meta → pointer commit) behind both
        :meth:`write` and :meth:`write_audited` — the commit protocol
        lives here exactly once."""
        import json

        os.makedirs(self.root, exist_ok=True)
        version = (self.current_version() or 0) + 1
        write_table(df, self.data_dir(version), partition_by)
        payload = dict(meta) if meta is not None else None
        if audit:
            payload = payload or {}
            payload["audit"] = self._fingerprint(
                read_table(df.sparkSession, self.data_dir(version)))
        if payload is not None:
            with open(os.path.join(self.data_dir(version), self.META),
                      "w") as fh:
                json.dump(payload, fh)
        self._commit(version)
        return version

    @staticmethod
    def _fingerprint(df: DataFrame) -> dict:
        """Order-insensitive content fingerprint: row count, bit-XOR of
        per-row xxhash64 over all columns (sorted by name, so column
        order is irrelevant), and the exact DECIMAL(38) sum of the same
        hashes (multiplicity-sensitive where XOR is parity-blind; decimal
        keeps it overflow-free and ANSI-safe at any row count). One
        aggregation pass, engine-deterministic for identical files."""
        hashed = df.select(
            F.xxhash64(*[F.col(c) for c in sorted(df.columns)])
            .alias("__h"))
        row = hashed.agg(
            F.count(F.lit(1)).alias("rows"),
            F.coalesce(F.expr("bit_xor(__h)"), F.lit(0)).alias("x"),
            F.coalesce(F.sum(F.col("__h").cast("decimal(38,0)")),
                       F.lit(0).cast("decimal(38,0)")).alias("s")
        ).collect()[0]
        return {"rows": int(row.rows), "xor": int(row.x),
                "sum": str(int(row.s))}

    def write_audited(self, df: DataFrame,
                      partition_by: list[str] | None = None,
                      meta: dict | None = None) -> int:
        """Truncate-and-load with a commit-level data audit: after staging
        the new version, the WRITTEN files are read back and
        fingerprinted (:meth:`_fingerprint` — also a read-after-write
        check that the files parse), and the fingerprint commits inside
        the version's meta. :meth:`verify_audit` later re-reads and
        compares — the cheap integrity check a 100 TB table wants after
        storage migrations, manual surgery, or suspected corruption."""
        return self._stage_and_commit(df, partition_by, meta, audit=True)

    def verify_audit(self, spark: SparkSession) -> dict:
        """Recompute the committed version's fingerprint and compare with
        the audit recorded at write time. Returns the audit dict on
        success; raises ValueError on mismatch (corruption / out-of-band
        modification) or if the version carries no audit."""
        meta = self.read_meta() or {}
        want = meta.get("audit")
        if want is None:
            raise ValueError(
                f"version {self.current_version()} of {self.root} has no "
                f"recorded audit (written without write_audited)")
        got = self._fingerprint(self.read(spark))
        if got != want:
            raise ValueError(
                f"audit mismatch for {self.root} v{self.current_version()}: "
                f"recorded {want}, recomputed {got}")
        return want

    def read_meta(self) -> dict | None:
        """The committed version's ``meta`` dict (None if absent)."""
        import json

        version = self.current_version()
        if version is None:
            return None
        try:
            with open(os.path.join(self.data_dir(version), self.META)) as fh:
                return json.load(fh)
        except FileNotFoundError:
            return None

    def compact(self, spark: SparkSession, target_files: int) -> int:
        """Compaction = rewrite current into a fresh version + pointer
        commit. Same read→repartition→write plan as :func:`compact_table`,
        but the swap is O(1) metadata and never hides the table."""
        df = self.read(spark).repartition(target_files)
        version = self.write(df)
        return sum(1 for f in spark.read.parquet(self.data_dir(version))
                   .inputFiles() if not f.rsplit("/", 1)[-1].startswith("."))

    def vacuum(self, keep: int = 1) -> list[str]:
        """Delete data directories older than the ``keep`` most recent
        COMMITTED versions (never the live one), plus any uncommitted
        orphan (version > current: a crashed write's staging dir — safe to
        drop under the documented single-writer model). Returns removed
        paths."""
        import shutil

        current = self.current_version()
        if current is None:
            return []
        versions = sorted(
            int(d[1:]) for d in os.listdir(self.root)
            if d.startswith("v") and d[1:].isdigit())
        committed = [v for v in versions if v <= current]
        keep_set = set(committed[-max(keep, 1):]) | {current}
        removed = []
        for v in versions:
            if v not in keep_set:
                path = self.data_dir(v)
                shutil.rmtree(path)
                removed.append(path)
        return removed

