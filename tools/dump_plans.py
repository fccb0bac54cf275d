"""Dump `.explain("formatted")` for named registry queries to files.

Usage:
    python tools/dump_plans.py OUTDIR SUFFIX [query ...]

Writes OUTDIR/<query>_<SUFFIX>.txt for each named query (all registry
queries when none are named).

Runs at $SPARK_GRAFT_SF_DIR (default sf0.001 — plan SHAPE is
sf-independent; Exchange/join/pushdown structure is what these files
evidence).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.001")


def main() -> None:
    outdir, suffix = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    os.makedirs(outdir, exist_ok=True)

    from peskas_malawi_data_pipeline_spark.core import get_spark
    from peskas_malawi_data_pipeline_spark.queries import REGISTRY

    spark = get_spark("dump_plans")
    utils = spark._jvm.org.apache.spark.sql.api.python.PythonSQLUtils

    todo = names or [n for n in REGISTRY]
    for name in todo:
        fn, _sql = REGISTRY[name]
        try:
            df = fn(spark, SF_DIR)
            fmt = utils.explainString(df._jdf.queryExecution(), "formatted")
        except Exception as exc:
            fmt = f"ERROR building plan: {exc}"
        path = os.path.join(outdir, f"{name}_{suffix}.txt")
        with open(path, "w", encoding="utf-8") as fh:
            fh.write(fmt)
        print(f"wrote {path}")


if __name__ == "__main__":
    main()
