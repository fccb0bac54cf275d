"""Split each registry query's wall time into BUILD vs EXEC.

BUILD = `fn(spark, sf_dir)` — everything the query does before returning
its DataFrame: driver-side collects, materialize() barriers, artifact
round-trips. EXEC = the noop-sink write of the returned frame (the
final job). A whole-query timing sees BUILD+EXEC as one number; this
probe attributes it, because a query whose cost is
BUILD-dominated is optimized by removing jobs/barriers/driver actions,
not by reshaping the final plan. Also counts Spark jobs per query via a
per-query job group.

Usage:
    python tools/build_exec_split.py [--sf-dir DIR] [--passes N] [query ...]

Prints one JSON line: {name: {build, exec, jobs}} (min over passes for
times; jobs from the last pass).
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("--sf-dir", default="/root/testdata/sf0.1")
    ap.add_argument("--warm-dir", default="/root/testdata/sf0.001")
    ap.add_argument("--passes", type=int, default=2)
    ap.add_argument("queries", nargs="*")
    args = ap.parse_args()

    from peskas_malawi_data_pipeline_spark.core import get_spark
    from peskas_malawi_data_pipeline_spark.queries import REGISTRY

    spark = get_spark("build_exec_split")
    sc = spark.sparkContext
    names = args.queries or list(REGISTRY)

    for name in names:
        fn, _ = REGISTRY[name]
        try:
            fn(spark, args.warm_dir).write.format("noop") \
                .mode("overwrite").save()
        except Exception:
            pass
    import glob
    for f in sorted(glob.glob(os.path.join(args.sf_dir, "*.parquet"))):
        try:
            spark.read.parquet(f).write.format("noop") \
                .mode("overwrite").save()
        except Exception:
            try:
                from peskas_malawi_data_pipeline_spark.queries import _t
                t = os.path.basename(f).rsplit(".", 1)[0]
                _t(spark, args.sf_dir, t).write.format("noop") \
                    .mode("overwrite").save()
            except Exception:
                pass

    out: dict[str, dict] = {}
    for p in range(args.passes):
        for name in names:
            fn, _ = REGISTRY[name]
            gc.collect()
            tracker = sc.statusTracker()
            group = f"q:{name}:{p}"  # per-pass: job-group ids accumulate
            sc.setJobGroup(group, name)
            t0 = time.perf_counter()
            df = fn(spark, args.sf_dir)
            t1 = time.perf_counter()
            df.write.format("noop").mode("overwrite").save()
            t2 = time.perf_counter()
            n_jobs = len(set(tracker.getJobIdsForGroup(group) or []))
            sc.setJobGroup(None, None)
            rec = out.setdefault(name, {"build": t1 - t0,
                                        "exec": t2 - t1, "jobs": n_jobs})
            # min per phase over passes; jobs from the freshest pass
            rec["build"] = round(min(rec["build"], t1 - t0), 3)
            rec["exec"] = round(min(rec["exec"], t2 - t1), 3)
            rec["jobs"] = n_jobs

    print(json.dumps(out))


if __name__ == "__main__":
    main()
