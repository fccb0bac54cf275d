"""The package's Python worker daemon (``worker_daemon``, started through
``spark.python.daemon.module`` in ``core/session.py``)."""

import os
import subprocess
import sys
import textwrap
import uuid
import zipfile

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def test_task_invalidate_caches_rereads_no_archive(spark):
    """PySpark's worker calls ``importlib.invalidate_caches()`` on every
    task; with the stock zip finders each cached archive finder then
    re-reads its whole archive directory. The daemon's finders skip it."""
    def probe(_):
        import importlib
        import importlib.util
        import sys
        import zipimport

        # a miss walks every sys.path entry, caching a finder for each
        assert importlib.util.find_spec("no_such_module_anywhere") is None
        reads = []
        read_directory = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read_directory(archive)

        zipimport._read_directory = counting
        try:
            importlib.invalidate_caches()
        finally:
            zipimport._read_directory = read_directory
        finders = [f for f in sys.path_importer_cache.values()
                   if isinstance(f, zipimport.zipimporter)]
        yield len(finders), reads

    got = spark.sparkContext.parallelize(range(4), 4).mapPartitions(
        probe).collect()
    assert len(got) == 4
    for finders, reads in got:
        assert finders > 0      # pyspark.zip, the py4j zip, the jar
        assert reads == []


def test_py_files_shipped_after_daemon_start_import(spark, tmp_path):
    """Spark invalidates the import caches per task so that ``addPyFile``
    reaches workers that are already running: a ``.py`` lands in a
    directory whose finder still invalidates, and a ``.zip`` is a new path
    with a fresh finder."""
    sc = spark.sparkContext
    assert sc.parallelize(range(4), 4).map(lambda x: x).sum() == 6
    tag = uuid.uuid4().hex[:12]
    py_mod, zip_mod = f"shipped_py_{tag}", f"shipped_zip_{tag}"
    py_path = tmp_path / f"{py_mod}.py"
    py_path.write_text("VALUE = 'py'\n")
    zip_path = tmp_path / f"{zip_mod}.zip"
    with zipfile.ZipFile(zip_path, "w") as zf:
        zf.writestr(f"{zip_mod}/__init__.py", "VALUE = 'zip'\n")
    sc.addPyFile(str(py_path))
    sc.addPyFile(str(zip_path))

    def load(_):
        import importlib
        yield (importlib.import_module(py_mod).VALUE,
               importlib.import_module(zip_mod).VALUE)

    got = sc.parallelize(range(4), 4).mapPartitions(load).collect()
    assert got == [("py", "zip")] * 4


def test_session_from_another_directory_runs_python_tasks(tmp_path):
    """The daemon starts as ``python -m``; a driver that imports the package
    from its own ``sys.path`` only (another working directory, no
    ``PYTHONPATH``) still gets workers, through ``get_spark``'s executor
    ``PYTHONPATH`` entry."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from peskas_malawi_data_pipeline_spark.core import get_spark

        spark = get_spark("daemon-path", master="local[2]")
        n = spark.createDataFrame([(1,), (2,), (3,)], ["x"]).count()
        s = spark.sparkContext.parallelize(range(4), 2).map(
            lambda v: v + 1).sum()
        print("RESULT", n, s)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               PYSPARK_PYTHON=sys.executable)
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    assert "RESULT 3 10" in proc.stdout


def test_session_keeps_submit_time_conf(tmp_path):
    """``get_spark``'s defaults fill only keys that were not submitted: a
    ``--master`` or ``--conf`` in ``PYSPARK_SUBMIT_ARGS`` keeps its value,
    ``extra_conf`` still wins over both, and the workers' ``PYTHONPATH``
    holds the package's parent followed by the submitted value."""
    site = str(tmp_path / "site")
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {REPO!r})
        from peskas_malawi_data_pipeline_spark.core import get_spark

        spark = get_spark("submit-conf", extra_conf={{
            "spark.sql.autoBroadcastJoinThreshold": "5678"}})
        sc = spark.sparkContext
        path = sc.parallelize([0], 1).map(
            lambda _: __import__("os").environ["PYTHONPATH"]).collect()[0]
        print("RESULT", sc.master,
              spark.conf.get("spark.sql.shuffle.partitions"),
              spark.conf.get("spark.sql.autoBroadcastJoinThreshold"),
              sc.getConf().get("spark.executorEnv.PYTHONPATH"), path)
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_CPUS="2", SPARK_GRAFT_DRIVER_MEM="1g",
               PYSPARK_PYTHON=sys.executable,
               PYSPARK_SUBMIT_ARGS=(
                   "--master local[1]"
                   " --conf spark.sql.shuffle.partitions=77"
                   " --conf spark.sql.autoBroadcastJoinThreshold=1234"
                   f" --conf spark.executorEnv.PYTHONPATH={site}"
                   " pyspark-shell"))
    proc = subprocess.run([sys.executable, "-c", script], cwd=tmp_path,
                          env=env, capture_output=True, text=True,
                          timeout=300)
    assert proc.returncode == 0, proc.stderr[-4000:]
    want_path = os.pathsep.join((REPO, site))
    result = next(line for line in proc.stdout.splitlines()
                  if line.startswith("RESULT "))
    _, master, partitions, threshold, conf_path, worker_path = result.split()
    assert (master, partitions, threshold) == ("local[1]", "77", "5678")
    assert conf_path == want_path
    assert want_path in worker_path      # after PySpark's own entries
