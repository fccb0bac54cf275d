"""Environment pinning and session lifetime for benchmark processes.

Everything the program reads from the environment is set here, from
outside the package, before the package is imported: the core count, a
driver heap sized to the box, the worker ``PYTHONPATH``, and scratch
directories inside the run's own work directory (removed after the run).
"""

from __future__ import annotations

import os
import signal
import sys
import time

from spans import descendants

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def _driver_mem() -> str:
    with open("/proc/meminfo") as fh:
        total_kb = int(fh.readline().split()[1])
    return f"{max(1, min(4, total_kb // (4 * 1024 * 1024)))}g"


def pin_env(work: str) -> None:
    """Point Spark, its JVM and its Python workers at ``work``."""
    tmp = os.path.join(work, "tmp")
    local = os.path.join(work, "spark-local")
    os.makedirs(tmp, exist_ok=True)
    os.makedirs(local, exist_ok=True)
    paths = [ROOT] + [p for p in os.environ.get(
        "PYTHONPATH", "").split(os.pathsep) if p]
    os.environ.update({
        "SPARK_GRAFT_CPUS": str(len(os.sched_getaffinity(0))),
        "SPARK_GRAFT_DRIVER_MEM": _driver_mem(),
        "PYTHONPATH": os.pathsep.join(paths),
        "PYSPARK_PYTHON": sys.executable,
        "PYSPARK_DRIVER_PYTHON": sys.executable,
        "SPARK_LOCAL_DIRS": local,
        "TMPDIR": tmp,
        # the JVM that spark-submit runs first to build the driver command
        "SPARK_LAUNCHER_OPTS": f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}",
    })


def spark_conf(work: str, event_log: str | None = None) -> dict:
    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.driver.extraJavaOptions":
            f"-Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData",
    }
    if event_log:
        conf.update({"spark.eventLog.enabled": "true",
                     "spark.eventLog.rolling.enabled": "false",
                     "spark.eventLog.compress": "false",
                     "spark.eventLog.dir": event_log})
    return conf


def start(work: str, event_log: str | None = None):
    """Start a session through the package's own factory; returns
    (session, seconds spent in ``get_spark``)."""
    from peskas_malawi_data_pipeline_spark.core.session import get_spark

    t0 = time.perf_counter()
    spark = get_spark("perfbench", extra_conf=spark_conf(work, event_log))
    return spark, time.perf_counter() - t0


def stop(spark) -> None:
    """Stop the session, shut the JVM down and wait for every process this
    one started to end."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    spark.stop()
    if gw is not None:
        gw.shutdown()
    if proc is not None:
        proc.stdin.close()
        proc.wait(timeout=60)
    reap()


def reap(timeout: float = 30.0) -> None:
    """Terminate any process still below this one and wait until it ends."""
    deadline = time.monotonic() + timeout
    sig = signal.SIGTERM
    while left := descendants():
        if time.monotonic() > deadline:
            sig = signal.SIGKILL
        for pid in left:
            try:
                os.kill(pid, sig)
            except ProcessLookupError:
                pass
        time.sleep(0.2)
        try:
            while os.waitpid(-1, os.WNOHANG)[0]:
                pass
        except ChildProcessError:
            pass
