"""SparkSession factory.

The reference runs eagerly in a single R process with a `future` worker pool
(`R/ingestion.R:61`); here the unit of parallelism is the Spark task. All
defaults are chosen for correctness-at-scale first:

- AQE on (runtime coalescing, skew-join splitting, dynamic broadcast);
- shuffle partitions sized for the local harness via SPARK_GRAFT_CPUS, but the
  engine never depends on the value for correctness — on a 1000-executor
  cluster you'd raise it (or let AQE coalesce from a high initial value);
- session timezone pinned to UTC so event-time arithmetic is deterministic;
  civil-time ops take an explicit zone (see functions.expressions.local_date);
- Arrow enabled for the few pandas-interop paths (vectorized, not per-row);
- the driver JVM's tier-4 (C2) JIT thresholds raised 10x. Each CLI stage is
  its own short-lived process, and about half of a warm DAG's CPU went to C2
  compiling methods that are hot only during planning and codegen. Those now
  stay in C1 code, while task inner loops at scale still cross the raised
  thresholds and reach C2. C1-only (``TieredStopAtLevel=1``) saves more CPU
  but makes the warm DAG and the first ANN result slower in wall time. The
  flags go in ``defaultJavaOptions``, which Spark puts before a caller's
  ``extraJavaOptions``, and act only when ``get_spark`` launches the JVM (the
  CLI, the tests, perfbench); under spark-submit pass them with ``--conf``;
- Python workers forked from the package's own daemon
  (``peskas_malawi_data_pipeline_spark.worker_daemon``). PySpark's worker
  calls ``importlib.invalidate_caches()`` on every task, and on Python 3.11
  each of the 16 cached zip finders (``pyspark.zip``, the py4j zip, the
  spark-core jar) then re-reads its archive directory: 0.19-0.24 CPU s per
  task before any work on 4 local cores, against 0.016-0.019 s with the
  daemon's finders, which skip the re-read. A ``corpus_ann`` search request
  runs 4 such tasks. Python 3.13's finders only drop their cache entry
  there, but still re-read the directory on the next import. The daemon
  starts as ``python -m``, so ``get_spark`` puts the package's parent
  directory first on ``spark.executorEnv.PYTHONPATH``: workers can then
  import it wherever the driver could, whatever the working directory and
  ``PYTHONPATH``. Under spark-submit, executors must be able to import the
  package when the daemon starts (SCALE.md §11).
"""

from __future__ import annotations

import os
import shlex

from pyspark.sql import SparkSession

# the directory holding the package, for the workers' PYTHONPATH
_PACKAGE_PARENT = os.path.dirname(os.path.dirname(os.path.dirname(
    os.path.abspath(__file__))))

_DEFAULTS = {
    "spark.sql.adaptive.enabled": "true",
    "spark.sql.adaptive.coalescePartitions.enabled": "true",
    "spark.sql.adaptive.skewJoin.enabled": "true",
    "spark.sql.session.timeZone": "UTC",
    "spark.sql.execution.arrow.pyspark.enabled": "true",
    # Small dimension/bounds tables (devices registry, per-group bounds)
    # should always broadcast; 32 MB is conservative for a 128 GiB driver.
    "spark.sql.autoBroadcastJoinThreshold": str(32 * 1024 * 1024),
    "spark.sql.shuffle.partitions": os.environ.get("SPARK_GRAFT_CPUS", "32"),
    # Whole-stage-codegen compiled-class cache. The default (100 entries)
    # thrashes once a session runs more than a handful of distinct query
    # shapes, and every evicted stage is re-Janino-compiled on its next run.
    # A warm six-stage landings DAG runs 24 Spark jobs of distinct stage
    # shapes per pass, and the registry session (tier-1, the oracle sweep)
    # plans every registry query in one JVM. Removing the setting raised a warm
    # landings DAG from 19.7-20.4 to 23.9-24.9 CPU s and from 8.4-9.0 to
    # 10.4-11.3 s wall (perfbench landings_batch op_cpu_s, seeds 5 and 6,
    # 4 cores). Cost: Metaspace for ~thousands of small generated classes,
    # negligible against executor heap.
    "spark.sql.codegen.cache.maxEntries": "10000",
    # HotSpot tier-4 (C2) thresholds, each 10x the JDK 17 default
    # (5000 / 600 / 15000 / 40000); see the module docstring.
    "spark.driver.defaultJavaOptions":
        "-XX:Tier4InvocationThreshold=50000"
        " -XX:Tier4MinInvocationThreshold=6000"
        " -XX:Tier4CompileThreshold=150000"
        " -XX:Tier4BackEdgeThreshold=400000",
    # see the module docstring
    "spark.python.daemon.module":
        "peskas_malawi_data_pipeline_spark.worker_daemon",
    "spark.driver.memory": os.environ.get("SPARK_GRAFT_DRIVER_MEM", "48g"),
    "spark.ui.enabled": "false",
}


def _submitted_conf() -> dict[str, str]:
    """The Spark properties the driver JVM was submitted with: under
    spark-submit, the JVM's own (it started first, and PySpark connects to
    it); otherwise the ``--master`` and ``--conf key=value`` arguments of
    ``PYSPARK_SUBMIT_ARGS``, which PySpark launches the JVM with."""
    if "PYSPARK_GATEWAY_PORT" in os.environ:
        from pyspark import SparkConf, SparkContext
        SparkContext._ensure_initialized()
        return dict(SparkConf().getAll())
    args = [part for arg in shlex.split(
                os.environ.get("PYSPARK_SUBMIT_ARGS", ""))
            for part in (arg.split("=", 1) if arg.startswith("--") else [arg])]
    conf = {}
    for flag, value in zip(args, args[1:]):
        if flag in ("--conf", "-c") and "=" in value:
            key, value = value.split("=", 1)
            conf[key] = value
        elif flag == "--master":
            conf["spark.master"] = value
    return conf


def get_spark(app_name: str = "peskas_malawi_data_pipeline_spark",
              master: str | None = None,
              extra_conf: dict | None = None) -> SparkSession:
    """Build (or reuse) a SparkSession with engine defaults.

    ``master`` defaults to the submitted master, else to
    ``local[$SPARK_GRAFT_CPUS]`` for the test harness; on a real cluster,
    leave it unset and submit through spark-submit.

    A default fills only a key that was not submitted (spark-submit's
    ``--conf``, or ``--conf`` in ``PYSPARK_SUBMIT_ARGS``); ``extra_conf``
    wins over both. PySpark copies every builder option over the submitted
    value, so setting a default there would discard the submitted one.
    """
    submitted = _submitted_conf()
    if master is None:
        cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
        master = submitted.get("spark.master", f"local[{cpus}]")
    builder = SparkSession.builder.appName(app_name).master(master)
    conf = {k: v for k, v in _DEFAULTS.items() if k not in submitted}
    if extra_conf:
        conf.update(extra_conf)
    path_key = "spark.executorEnv.PYTHONPATH"
    conf[path_key] = os.pathsep.join(
        p for p in (_PACKAGE_PARENT,
                    conf.get(path_key, submitted.get(path_key))) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    spark.sparkContext.setLogLevel("WARN")
    # WindowExec's "No Partition Defined for Window operation" warning is
    # machine-superseded here: the registry-wide plan-hygiene gate
    # (tests/test_plans.py) FAILS any query with an unpartitioned
    # unbounded window, so the only lines this logger can emit come from
    # the documented bounded-frame exemptions (answer-sized |buckets|-row
    # frames) — each one a pre-dismissed false alarm a log reader must
    # re-dismiss. Silence the category so a warning in a bench tail means
    # something again; the gate, not the log, is the real guard.
    try:
        jvm = spark.sparkContext._jvm
        jvm.org.apache.logging.log4j.core.config.Configurator.setLevel(
            "org.apache.spark.sql.execution.window.WindowExec",
            jvm.org.apache.logging.log4j.Level.ERROR)
    except Exception:
        pass  # non-log4j2 logging backends: cosmetic feature, skip
    return spark


def stop_spark() -> None:
    active = SparkSession.getActiveSession()
    if active is not None:
        active.stop()
