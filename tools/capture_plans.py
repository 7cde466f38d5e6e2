#!/usr/bin/env python
"""Capture .explain('formatted') for named queries into <out_dir>/<q>_<tag>.txt.

Usage: python tools/capture_plans.py OUT_DIR before q_a q_b ...
       python tools/capture_plans.py OUT_DIR before --headline   (all bench queries)

Plan-only (no execution beyond what eager materialize() runs at
construction time); used for before/after plan-identity evidence. A name
given twice is captured twice in the same session and its file keeps the
second capture (e.g. the plan built from warm, memoized table reads).
"""

from __future__ import annotations

import os
import sys

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def main() -> None:
    out_dir, tag = sys.argv[1], sys.argv[2]
    names = sys.argv[3:]
    from dataengineering_londonhousingmap_spark.queries import QUERIES
    from dataengineering_londonhousingmap_spark.session import get_session

    if names == ["--headline"]:
        import bench

        names = list(bench.HEADLINE)

    spark = get_session("capture-plans")
    spark.sparkContext.setLogLevel("ERROR")
    os.makedirs(out_dir, exist_ok=True)
    for name in names:
        try:
            df = QUERIES[name](spark, SF_DIR)
            plan = df._sc._jvm.PythonSQLUtils.explainString(
                df._jdf.queryExecution(), "formatted"
            )
        except Exception as e:  # streaming queries execute on construction etc.
            plan = f"<explain failed: {e}>"
        path = os.path.join(out_dir, f"{name}_{tag}.txt")
        with open(path, "w") as f:
            f.write(plan)
        print(f"wrote {path} ({len(plan)} chars)", flush=True)


if __name__ == "__main__":
    main()
