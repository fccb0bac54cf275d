"""Benchmark entry point.

    python3 perfbench/run.py --workload <landings_batch|corpus_ann>
                             --seed <n> --seconds <s> --trace <0|1>

Run from the repository root. Inputs are generated from ``--seed`` before
set-up and timing. The timed loop runs a fixed number of operations per
workload, and more while ``--seconds`` have not passed. ``--trace 0``
prints every end-to-end metric of BENCHMARK.json; ``--trace 1`` is a
separate run that prints every per-layer metric, writes the spans to
``.perfbench/`` and reports the tracing overhead. The last line of
standard output is one JSON object
``{"correct", "attempted", "failed", "metrics": {name: {"value", "unit"}}}``.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import statistics
import sys
import threading
import time
import traceback

import session
from spans import EventLog, Tracer, peak_rss_mb, settled_cpu_s, tree_cpu_s
from workloads import WORKLOADS, CheckFailed

OUT_DIR = os.path.join(session.ROOT, ".perfbench")


class Loop:
    """Closed loop: each client issues its next operation only after the
    previous one has completed and its output check has run. Failed
    operations and failed checks count against ``attempted``. ``check_cpu``
    sums the CPU seconds the checks took, so that callers can leave them
    out of the loop's CPU time."""

    def __init__(self, spark, clients: int):
        self.spark, self.clients = spark, clients
        self.lock = threading.Lock()
        self.lat: list[float] = []
        self.attempted = self.failed = 0
        self.check_cpu = 0.0
        self.extra: dict[str, list[float]] = {}

    def one(self, fn) -> None:
        """Run ``fn(spark) -> (per-layer dict, check)``; time the call, then
        run the check outside the timed interval."""
        t0 = time.perf_counter()
        c0 = None
        ok = False
        try:
            res, check = fn(self.spark)
            t1 = time.perf_counter()
            c0 = tree_cpu_s()
            check()
            ok = True
        except CheckFailed as e:
            print(f"check failed: {e}", file=sys.stderr)
        except Exception:
            traceback.print_exc()
        check_cpu = 0.0 if c0 is None else tree_cpu_s() - c0
        with self.lock:
            self.check_cpu += check_cpu
            self.attempted += 1
            if not ok:
                self.failed += 1
                return
            self.lat.append(t1 - t0)
            for k, v in res.items():
                self.extra.setdefault(k, []).append(v)

    def run(self, fn, seconds: float, min_ops: int) -> None:
        """Issue operations until ``seconds`` have passed and at least
        ``min_ops`` have been issued."""
        deadline = time.perf_counter() + seconds
        issued = 0

        def client():
            nonlocal issued
            while True:
                with self.lock:
                    if issued >= min_ops and time.perf_counter() >= deadline:
                        return
                    issued += 1
                self.one(fn)

        threads = [threading.Thread(target=client) for _ in range(self.clients)]
        for t in threads:
            t.start()
        for t in threads:
            t.join()


def _checked(check, loop: Loop) -> bool:
    """Run an output check as one attempted operation; False if it failed."""
    loop.attempted += 1
    try:
        check()
    except CheckFailed as e:
        print(f"check failed: {e}", file=sys.stderr)
        loop.failed += 1
        return False
    return True


def _final_check(wl, loop: Loop) -> None:
    """Checks over the whole run; they add no operation of their own."""
    try:
        wl.final_check()
    except CheckFailed as e:
        print(f"check failed: {e}", file=sys.stderr)
        loop.failed += 1


def _cold(wl, spark, loop: Loop) -> tuple[float, float]:
    """The first result in a fresh session, checked; returns its wall and
    CPU seconds."""
    t0, c0 = time.perf_counter(), tree_cpu_s()
    check = wl.cold(spark)
    wall = time.perf_counter() - t0
    cpu = settled_cpu_s() - c0
    if _checked(check, loop):
        wl.warmup(spark)
    return wall, cpu


def measure(wl_cls, seed: int, seconds: float, work: str) -> tuple[Loop, dict]:
    """Untraced run: set-up, first result, then the timed closed loop.

    Times are CPU seconds of the whole process tree: the benchmark, the
    driver JVM and its Python workers. On a shared host the wall time of
    the same run swings by up to three times as neighbours come and go;
    the kernel leaves time stolen by the hypervisor out of CPU time, which
    moves far less. Each phase is read after the tree has gone idle, so it
    carries the JIT compilation and garbage collection it caused. Wall
    times go to standard error."""
    wl = wl_cls(work, seed)
    t0, c0 = time.perf_counter(), tree_cpu_s()
    spark, _ = session.start(work)
    setup = time.perf_counter() - t0
    setup_cpu = settled_cpu_s() - c0
    loop = Loop(spark, wl.clients)
    try:
        cold, cold_cpu = _cold(wl, spark, loop)
        c0 = settled_cpu_s()
        loop.run(wl.op, seconds, min_ops=wl.min_ops)
        loop_cpu = settled_cpu_s() - c0 - loop.check_cpu
        _final_check(wl, loop)
    finally:
        session.stop(spark)
    op_cpu = loop_cpu / max(1, len(loop.lat))
    print(f"{wl.name}: wall s: set-up {setup:.2f}, first result {cold:.2f}, "
          f"{len(loop.lat)} timed operations "
          f"{sorted(round(t, 2) for t in loop.lat)}; CPU s: set-up "
          f"{setup_cpu:.2f}, first result {cold_cpu:.2f}, per operation "
          f"{op_cpu:.2f}", file=sys.stderr)
    return loop, {
        "setup_s": setup_cpu,
        "cold_cpu_s": cold_cpu,
        "op_cpu_s": op_cpu,
    }


def traced(wl_cls, seed: int, seconds: float, work: str) -> tuple[Loop, dict]:
    """Traced run: after the first result, the build phase once and then
    the closed loop twice, untraced and traced, each layer call under its
    own span and Spark job group. Per-layer times are medians over traced
    operations; the workload turns the event log into its counters."""
    wl = wl_cls(work, seed)
    log_dir = os.path.join(work, "eventlog")
    os.makedirs(log_dir)
    spark, _ = session.start(work, event_log=log_dir)
    tr = Tracer(spark)
    loop = Loop(spark, wl.clients)
    plain = Loop(spark, wl.clients)
    try:
        _cold(wl, spark, loop)
        build, check = wl.traced_build(spark, tr)
        _checked(check, loop)
        plain.run(wl.op, seconds / 3, min_ops=wl.min_ops)
        loop.run(lambda s: wl.traced_op(s, tr), seconds,
                 min_ops=wl.min_ops)
        _final_check(wl, loop)
        driver_rss, workers_rss = peak_rss_mb()
    finally:
        session.stop(spark)
    spans = os.path.join(OUT_DIR, f"spans-{wl.name}-seed{seed}.json")
    tr.dump(spans)
    n = len(loop.lat)
    vals = {k: statistics.median(v) for k, v in loop.extra.items()}
    vals.update(build)
    vals.update(wl.trace_counters(EventLog(log_dir), n))
    vals["jvm.peak_rss_mb"] = driver_rss
    vals["python.workers_peak_rss_mb"] = workers_rss
    vals["trace.overhead_s"] = (statistics.median(loop.lat)
                                - statistics.median(plain.lat))
    print(f"spans: {spans}")
    print(f"tracing overhead: {vals['trace.overhead_s']:+.3f} s per operation "
          f"(traced median over {n}, untraced over {len(plain.lat)})")
    loop.attempted += plain.attempted
    loop.failed += plain.failed
    return loop, vals


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=sorted(WORKLOADS))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    with open(os.path.join(session.ROOT, "BENCHMARK.json")) as fh:
        spec = json.load(fh)["per_layer" if args.trace else "end_to_end"]
    os.makedirs(OUT_DIR, exist_ok=True)
    work = os.path.join(OUT_DIR, f"work-{os.getpid()}")
    session.pin_env(work)
    sys.path.insert(0, session.ROOT)
    try:
        import peskas_malawi_data_pipeline_spark  # noqa: F401
    except ImportError as e:
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(OUT_DIR)
        except OSError:
            pass        # holds spans from earlier traced runs
        print(f"cannot import the program under test: {e}", file=sys.stderr)
        return 2
    try:
        run = traced if args.trace else measure
        loop, vals = run(WORKLOADS[args.workload], args.seed, args.seconds,
                         work)
    finally:
        session.reap()
        shutil.rmtree(work, ignore_errors=True)
    # a layer the workload never reaches did no work: it reports 0
    metrics = {m["name"]: {"value": vals.get(m["name"], 0), "unit": m["unit"]}
               for m in spec}
    print(json.dumps({"correct": loop.failed == 0, "attempted": loop.attempted,
                      "failed": loop.failed, "metrics": metrics}))
    return 0


if __name__ == "__main__":
    raise SystemExit(main())
