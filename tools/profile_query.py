#!/usr/bin/env python
"""Per-query profiler for the optimization rounds (guide §1: measure first).

For each named catalog query, in ONE shared tuned session (the bench's
methodology), measures:

  * t_plan  — DataFrame-construction wall (py4j plan-building cost; this is
    INSIDE the bench's timed window, so seconds spent building Column trees
    count against the query)
  * t_run   — per-rep noop-sink wall (best-of-N reported)
  * stages  — per-stage executorRunTime / shuffle bytes / task counts from
    the UI REST API, attributed to the rep via the job-group stage-id range
  * compiles — Janino compiles of generated classes and their summed ms
    (CodegenMetrics, CodeGenerator.compileTime), printed per rep. Repeating
    a single query cannot show a mix's codegen-cache thrash: its warm reps
    reuse only its own classes, which for most queries fit even Spark's
    default 100-entry cache.

Usage:
  python tools/profile_query.py q_dedup_simhash q_ngram_jaccard --reps 3
  → writes /tmp/profile_<query>.json and prints a summary table.

The profiling session is the engine's ``get_session`` with ``ui=True`` (the
UI's REST API serves the stage metrics) — bench/driver sessions keep it off;
this tool is measurement-only and never imported by the engine.
"""

from __future__ import annotations

import argparse
import gc
import json
import os
import sys
import time
import urllib.request

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

SF_DIR = os.environ.get("SPARK_GRAFT_SF_DIR", "/root/testdata/sf0.1")


def _ui_json(port: int, path: str):
    with urllib.request.urlopen(f"http://localhost:{port}{path}", timeout=10) as r:
        return json.load(r)


def _app_id(port: int) -> str:
    return _ui_json(port, "/api/v1/applications")[0]["id"]


def _codegen(spark) -> tuple[int, float]:
    """(compiles, summed compile ms) of generated classes in this JVM so far."""
    jvm = spark.sparkContext._jvm
    n = jvm.org.apache.spark.metrics.source.CodegenMetrics.METRIC_COMPILATION_TIME().getCount()
    ns = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator.compileTime()
    return n, ns / 1e6


def main() -> None:
    ap = argparse.ArgumentParser()
    ap.add_argument("queries", nargs="+")
    ap.add_argument("--reps", type=int, default=3)
    ap.add_argument("--sf-dir", default=SF_DIR)
    ap.add_argument("--top", type=int, default=12, help="stages to print")
    args = ap.parse_args()

    from dataengineering_londonhousingmap_spark.session import get_session

    # the engine's tuned session, with the UI on for the REST stage metrics
    spark = get_session("profile", ui=True)
    spark.sparkContext.setLogLevel("ERROR")
    port = int(spark.sparkContext.uiWebUrl.rsplit(":", 1)[-1])

    from dataengineering_londonhousingmap_spark.queries import QUERIES

    # warm like bench.py
    QUERIES["q_scan_parquet"](spark, args.sf_dir).write.format("noop").mode(
        "overwrite"
    ).save()
    app = _app_id(port)

    for name in args.queries:
        out = {"query": name, "sf_dir": args.sf_dir, "reps": []}
        for rep in range(args.reps):
            pre_stage_ids = {
                s["stageId"] for s in _ui_json(port, f"/api/v1/applications/{app}/stages")
            }
            spark.sparkContext.setJobDescription(f"{name} rep{rep}")
            n0, ms0 = _codegen(spark)
            t0 = time.time()
            df = QUERIES[name](spark, args.sf_dir)
            t_plan = time.time() - t0
            t1 = time.time()
            df.write.format("noop").mode("overwrite").save()
            t_run = time.time() - t1
            n1, ms1 = _codegen(spark)
            compiles, compile_ms = n1 - n0, round(ms1 - ms0, 1)
            print(f"{name} rep{rep}: {compiles} Janino compiles, {compile_ms} ms")
            spark.sparkContext.setJobDescription(None)
            stages = [
                s
                for s in _ui_json(
                    port, f"/api/v1/applications/{app}/stages?status=COMPLETE"
                )
                if s["stageId"] not in pre_stage_ids
            ]
            rows = [
                {
                    "stage": s["stageId"],
                    "name": s["name"].split("\n")[0][:90],
                    "tasks": s["numCompleteTasks"],
                    "run_ms": s.get("executorRunTime", 0),
                    "cpu_ms": int(s.get("executorCpuTime", 0) / 1e6),
                    "in_mb": round(s.get("inputBytes", 0) / 1e6, 1),
                    "sh_r_mb": round(s.get("shuffleReadBytes", 0) / 1e6, 1),
                    "sh_w_mb": round(s.get("shuffleWriteBytes", 0) / 1e6, 1),
                    "wall_ms": (
                        int(
                            (
                                time.mktime(
                                    time.strptime(
                                        s["completionTime"][:19], "%Y-%m-%dT%H:%M:%S"
                                    )
                                )
                                - time.mktime(
                                    time.strptime(
                                        s["firstTaskLaunchedTime"][:19],
                                        "%Y-%m-%dT%H:%M:%S",
                                    )
                                )
                            )
                            * 1000
                        )
                        if s.get("completionTime") and s.get("firstTaskLaunchedTime")
                        else None
                    ),
                }
                for s in stages
            ]
            rows.sort(key=lambda r: -r["run_ms"])
            out["reps"].append(
                {
                    "t_plan": round(t_plan, 3),
                    "t_run": round(t_run, 3),
                    "t_total": round(t_plan + t_run, 3),
                    "n_stages": len(rows),
                    "compiles": compiles,
                    "compile_ms": compile_ms,
                    "stages": rows,
                }
            )
            df = None
            gc.collect()
        best = min(out["reps"], key=lambda r: r["t_total"])
        out["best_total"] = best["t_total"]
        out["best_plan"] = best["t_plan"]
        out["best_run"] = best["t_run"]
        path = f"/tmp/profile_{name}.json"
        with open(path, "w") as f:
            json.dump(out, f, indent=1)
        print(f"\n=== {name}  best total {best['t_total']}s "
              f"(plan {best['t_plan']}s + run {best['t_run']}s), "
              f"{best['n_stages']} stages  -> {path}")
        for r in best["stages"][: args.top]:
            print(
                f"  st{r['stage']:>4} run{r['run_ms']:>7}ms cpu{r['cpu_ms']:>7}ms "
                f"t{r['tasks']:>3} in{r['in_mb']:>8}MB shR{r['sh_r_mb']:>7}MB "
                f"shW{r['sh_w_mb']:>7}MB  {r['name']}"
            )


if __name__ == "__main__":
    main()
