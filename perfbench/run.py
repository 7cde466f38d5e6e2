#!/usr/bin/env python3
"""Closed-loop benchmark of the London-housing engine.

    python3 perfbench/run.py --workload serving --seed 1 --seconds 12 --trace 0

One process per run, one client thread, ``local[nproc]``. The run

1. starts the engine's session on the fixed sf0.01 vintage in ``data/``;
2. runs the untimed warm-up passes of the workload's mix
   (``workloads.WARM_PASSES``), the first of them checking every query's rows
   against its DuckDB oracle with the engine's own oracle gate
   (``tests/oracle_harness.py``); cold costs belong to ``setup_s``, not to
   latency;
3. times whole passes of the mix, each in an order drawn from ``--seed``,
   each request being the catalog call plus a noop-sink action. Times are
   reported net of host CPU steal: each wall is scaled by the share of the
   host's runnable CPU time that the hypervisor did not steal while it ran
   (``procfs.unstolen``); the walls with steal go to a report line;
4. prints report lines, then one JSON line as the last line of stdout.

``--trace 0`` reports the end-to-end metrics. ``--trace 1`` interleaves
untraced and traced passes and reports the per-layer metrics (see
``tracer.py``), the tracing overhead and host steal. Exits non-zero without a
result if the engine is absent or a traced run misses a mapped function.
"""

from __future__ import annotations

import time

T_START = time.perf_counter()

import argparse  # noqa: E402
import gc  # noqa: E402
import json  # noqa: E402
import math  # noqa: E402
import os  # noqa: E402
import random  # noqa: E402
import shutil  # noqa: E402
import signal  # noqa: E402
import statistics  # noqa: E402
import sys  # noqa: E402

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
ENGINE = "dataengineering_londonhousingmap_spark"
DATA = os.path.join(HERE, "data", "sf0.01")
sys.path.insert(0, HERE)

import procfs  # noqa: E402
from workloads import MIN_PASSES, MIXES, MUST_FIRE, PASS_S, WARM_PASSES  # noqa: E402

DEADLINE_S = 170  # a run must end within 180 s

END_TO_END = {
    "latency_p50_geomean_s": "s",
    "latency_tail_s": "s",
    "throughput_qps": "1/s",
    "cpu_s_per_req": "s",
    "setup_s": "s",
    "ok_rate": "ratio",
}

PER_LAYER = {
    "session.start_s": "s",
    "construct_s": "s",
    "construct_jobs": "count",
    "py4j_calls": "count",
    "action_s": "s",
    "action_jobs": "count",
    "stages": "count",
    "tasks": "count",
    "executor.task_s": "s",
    "executor.gc_s": "s",
    "shuffle.write_bytes": "bytes",
    "shuffle.read_bytes": "bytes",
    "scan.input_bytes": "bytes",
    "tasks.failed": "count",
    "cpu.driver_s": "s",
    "cpu.jvm_s": "s",
    "streaming.batches": "count",
    "streaming.input_rows": "count",
    "streaming.state_rows": "count",
    "streaming.watermark_dropped": "count",
    "host.steal_s": "s",
    "trace.overhead_s": "s",
}
for _fn in sorted({f for fns in MUST_FIRE.values() for f in fns}):
    PER_LAYER[f"{_fn}.calls"] = "count"
    PER_LAYER[f"{_fn}.jobs"] = "count"

# per-pass values that must repeat exactly between traced passes
EXACT = [
    "construct_jobs", "py4j_calls", "action_jobs", "stages", "tasks",
    "shuffle.write_bytes", "shuffle.read_bytes", "scan.input_bytes",
    "streaming.batches", "streaming.input_rows", "streaming.state_rows",
    "streaming.watermark_dropped",
]


def log(line: str) -> None:
    print(line, flush=True)


def _why(e: Exception) -> str:
    """One line naming a failed request's exception."""
    return f"{type(e).__name__}: {(str(e).splitlines() or [''])[0][:200]}"


def geomean(xs: list[float]) -> float:
    return math.exp(sum(math.log(x) for x in xs) / len(xs))


def timings(walls: dict[str, list[float]], seconds: float) -> dict[str, float]:
    """End-to-end timings of a window: request walls per query, and the
    window's length."""
    return {
        "latency_p50_geomean_s": geomean([statistics.median(ws) for ws in walls.values()]),
        "latency_tail_s": geomean([max(ws) for ws in walls.values()]),
        "throughput_qps": sum(len(ws) for ws in walls.values()) / seconds,
    }


class Bench:
    def __init__(self, workload: str, seed: int, seconds: int, trace: bool, work: str):
        self.workload, self.seed, self.trace, self.work = workload, seed, trace, work
        self.mix = MIXES[workload]
        self.passes = max(MIN_PASSES, round(seconds / PASS_S[workload]))
        rng = random.Random(seed)
        self.warm = WARM_PASSES[workload]
        n_orders = self.warm + (3 if trace else self.passes)
        self.orders = [rng.sample(self.mix, len(self.mix)) for _ in range(n_orders)]
        self.attempted = self.failed = self.pass_no = 0
        self.spark = None
        self.tracer = None

    # ---- setup -------------------------------------------------------------
    def start(self) -> None:
        self.data = DATA
        sys.path.insert(0, ROOT)
        from dataengineering_londonhousingmap_spark.oracles import ORACLES
        from dataengineering_londonhousingmap_spark.queries import QUERIES
        from dataengineering_londonhousingmap_spark.session import get_session

        self.queries, self.oracles = QUERIES, ORACLES
        t0 = time.perf_counter()
        self.spark = get_session("perfbench")
        self.session_start_s = time.perf_counter() - t0
        self.spark.sparkContext.setLogLevel("ERROR")
        self.jvm_pid = self.spark.sparkContext._gateway.proc.pid
        if self.trace:
            from tracer import Tracer

            self.tracer = Tracer(self.spark)
            self.tracer.install()

    def check_pass(self) -> float:
        """Untimed warm-up pass that checks every query against its oracle.
        Returns the seconds spent in DuckDB and the comparison."""
        from tests import oracle_harness

        con = oracle_harness.duck_connection(self.data)
        oracle_s = 0.0
        cold: dict[str, float] = {}
        for q in self.orders[0]:
            self.attempted += 1
            t0 = time.perf_counter()
            try:
                got = Collected(self.queries[q](self.spark, self.data))
                cold[q] = round(time.perf_counter() - t0, 4)
                t0 = time.perf_counter()
                # a .stage-reading oracle reads what this query just staged
                ok, why = oracle_harness.compare(got, con, self.oracles[q])
                oracle_s += time.perf_counter() - t0
            except Exception as e:  # noqa: BLE001 — any failure is a failed request
                ok, why = False, _why(e)
            if not ok:
                self.failed += 1
                log(f"check {q}: FAIL {why.splitlines()[0]}")
            got = None
            gc.collect()
        con.close()
        log("cold request wall per query (checked pass): " + json.dumps(cold))
        return oracle_s

    # ---- timed requests ----------------------------------------------------
    def request(self, q: str) -> float:
        self.attempted += 1
        t0 = time.perf_counter()
        try:
            df = self.queries[q](self.spark, self.data)
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            self.failed += 1
            log(f"request {q}: FAIL {_why(e)}")
        wall = time.perf_counter() - t0
        df = None
        gc.collect()
        return wall

    def traced_request(self, q: str, acc: dict[str, float]) -> float:
        tr, sc = self.tracer, self.spark.sparkContext
        groups = {ph: f"{q}:{ph}" for ph in ("construct", "run")}
        before = {ph: tr.group_jobs(g) for ph, g in groups.items()}
        self.attempted += 1
        t0 = time.perf_counter()
        t1 = t0
        try:
            with tr.internal():
                sc.setJobGroup(groups["construct"], q)
            tr.group, tr.active = groups["construct"], True
            df = self.queries[q](self.spark, self.data)
            t1 = time.perf_counter()
            tr.active = False
            with tr.internal():
                sc.setJobGroup(groups["run"], q)
            tr.group, tr.active = groups["run"], True
            df.write.format("noop").mode("overwrite").save()
        except Exception as e:  # noqa: BLE001
            self.failed += 1
            log(f"request {q}: FAIL {_why(e)}")
        t2 = time.perf_counter()
        tr.active, tr.group = False, None
        with tr.internal():
            sc.setLocalProperty("spark.jobGroup.id", None)
        acc["construct_s"] += t1 - t0
        acc["action_s"] += t2 - t1
        acc["construct_jobs"] += len(tr.group_jobs(groups["construct"]) - before["construct"])
        run_jobs = tr.group_jobs(groups["run"]) - before["run"]
        stages, tasks = tr.stage_task_counts(run_jobs)
        acc["action_jobs"] += len(run_jobs)
        acc["stages"] += stages
        acc["tasks"] += tasks
        df = None
        gc.collect()
        return t2 - t0

    def run_pass(self, order: list[str], traced: bool, walls: dict[str, list[float]],
                 raw: dict[str, list[float]]) -> dict:
        """One pass; adds each request's wall to ``raw`` and its wall net of
        host steal to ``walls``, and returns the pass's per-pass layer values."""
        steal0 = procfs.steal_s()
        row: dict[str, float] = {k: 0.0 for k in ("construct_s", "action_s", "construct_jobs",
                                                   "action_jobs", "stages", "tasks")}
        if traced:
            tr = self.tracer
            ex0, cpu0, py0 = tr.executor_totals(), procfs.cpu_split(self.jvm_pid), tr.py4j_calls
            st0 = dict(tr.stream)
            sp0 = {k: (v.calls, v.s, v.self_s, v.jobs) for k, v in tr.spans.items()}
        t0 = time.perf_counter()
        for q in order:
            h0 = procfs.host_cpu()
            wall = self.traced_request(q, row) if traced else self.request(q)
            raw.setdefault(q, []).append(wall)
            walls.setdefault(q, []).append(wall * procfs.unstolen(h0, procfs.host_cpu()))
        row["wall_s"] = time.perf_counter() - t0
        if traced:
            ex1, cpu1 = tr.executor_totals(), procfs.cpu_split(self.jvm_pid)
            row.update({k: ex1[k] - ex0.get(k, 0.0) for k in ex1})
            row.update({f"cpu.{k}_s": cpu1[k] - cpu0[k] for k in cpu1})
            row["py4j_calls"] = tr.py4j_calls - py0
            for k in ("streaming.batches", "streaming.input_rows", "streaming.state_rows",
                      "streaming.watermark_dropped", "streaming.add_batch_s", "streaming.trigger_s"):
                row[k] = tr.stream.get(k, 0.0) - st0.get(k, 0.0)
            for key, span in tr.spans.items():
                c, s, ss, j = sp0.get(key, (0, 0.0, 0.0, 0))
                if span.calls > c:
                    row[f"{key}.calls"] = span.calls - c
                    row[f"{key}.s"] = span.s - s
                    row[f"{key}.self_s"] = span.self_s - ss
                    row[f"{key}.jobs"] = span.jobs - j
        row["host.steal_s"] = procfs.steal_s() - steal0
        return row

    def window(self, orders: list[list[str]], traced: bool) -> dict:
        walls: dict[str, list[float]] = {}
        raw: dict[str, list[float]] = {}
        cpu0 = procfs.cpu_split(self.jvm_pid)
        h0 = procfs.host_cpu()
        t0 = time.perf_counter()
        rows = []
        for order in orders:
            row = self.run_pass(order, traced, walls, raw)
            rows.append(row)
            self.pass_no += 1
            log(f"pass {self.pass_no} {'traced' if traced else 'untraced'}: "
                f"wall {row['wall_s']:.3f} s, host.steal_s {row['host.steal_s']:.2f}")
        wall = time.perf_counter() - t0
        share = procfs.unstolen(h0, procfs.host_cpu())
        cpu1 = procfs.cpu_split(self.jvm_pid)
        log("median request wall per query, net of steal: "
            + json.dumps({q: round(statistics.median(ws), 4) for q, ws in walls.items()}))
        n = sum(len(ws) for ws in walls.values())
        log(f"unstolen share {share:.3f}; with steal: " + json.dumps(timings(raw, wall)))
        return {
            "rows": rows,
            "n": n,
            **timings(walls, wall * share),
            "cpu_s_per_req": sum(cpu1[c] - cpu0[c] for c in cpu1) / n,
        }

    # ---- the run -----------------------------------------------------------
    def run(self) -> dict:
        h0 = procfs.host_cpu()
        self.start()
        oracle_s = self.check_pass()
        for order in self.orders[1:self.warm]:
            for q in order:
                self.request(q)
        setup_wall = time.perf_counter() - T_START - oracle_s
        setup_s = setup_wall * procfs.unstolen(h0, procfs.host_cpu())
        log(f"setup: {setup_s:.3f} s net of steal, {setup_wall:.3f} s with it "
            f"({self.warm} warm-up passes, session start {self.session_start_s:.3f} s, "
            f"oracle check {oracle_s:.3f} s excluded)")
        if not self.trace:
            w = self.window(self.orders[self.warm:], traced=False)
            metrics = {
                "latency_p50_geomean_s": w["latency_p50_geomean_s"],
                "latency_tail_s": w["latency_tail_s"],
                "throughput_qps": w["throughput_qps"],
                "cpu_s_per_req": w["cpu_s_per_req"],
                "setup_s": setup_s,
                "ok_rate": (self.attempted - self.failed) / self.attempted,
            }
            units = END_TO_END
            log(f"latency_tail_s is the geomean of each query's slowest of "
                f"{w['n'] // len(self.mix)} timed requests ({w['n']} in all)")
        else:
            metrics = self.traced_run()
            units = PER_LAYER
        log(f"host.steal_s over the run: {procfs.steal_s() - h0[1]:.2f}")
        return {
            "correct": self.failed == 0,
            "attempted": self.attempted,
            "failed": self.failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }

    def traced_run(self) -> dict:
        """Two traced passes with an untraced one between them, so host
        drift hits both alike."""
        steal0 = procfs.steal_s()
        first, between, last = self.orders[self.warm:]
        traced = [self.window([first], traced=True)]
        plain = [self.window([between], traced=False)]
        traced.append(self.window([last], traced=True))
        rows = [w["rows"][0] for w in traced]
        overhead = {
            k: statistics.median(w[k] for w in traced) - statistics.median(w[k] for w in plain)
            for k in ("latency_p50_geomean_s", "throughput_qps", "cpu_s_per_req")
        }
        log("tracing overhead (traced minus untraced): " + json.dumps(overhead))
        unstable = [k for k in EXACT if len({r.get(k, 0) for r in rows}) > 1]
        log(f"exact counts repeat across {len(rows)} traced passes: {not unstable}"
            + (f" (differ: {unstable})" if unstable else ""))
        keys = sorted({k for r in rows for k in r})
        per_pass = {k: statistics.median(r.get(k, 0.0) for r in rows) for k in keys}
        log("per-pass trace (median over traced passes): " + json.dumps(per_pass, sort_keys=True))
        fired = {k.rsplit(".", 1)[0] for k in keys if k.endswith(".calls")}
        missing = [f for f in MUST_FIRE[self.workload] if f not in fired]
        if missing:
            raise SystemExit(f"perfbench: mapped functions never fired on {self.workload}: {missing}")
        out = {k: per_pass.get(k, 0.0) for k in PER_LAYER}
        out["session.start_s"] = self.session_start_s
        out["host.steal_s"] = procfs.steal_s() - steal0
        out["trace.overhead_s"] = overhead["latency_p50_geomean_s"]
        return out

    # ---- teardown ----------------------------------------------------------
    def stop(self) -> None:
        """Stop Spark and wait until the JVM and every worker has ended."""
        if self.spark is None:
            return
        from pyspark import SparkContext

        tree = [self.jvm_pid] + procfs.descendants(self.jvm_pid)
        self.spark.stop()
        gw = SparkContext._gateway
        if gw is not None:
            gw.shutdown()
            gw.proc.stdin.close()
            try:
                gw.proc.wait(timeout=20)
            except Exception:  # noqa: BLE001
                gw.proc.kill()
                gw.proc.wait()
        deadline = time.time() + 20
        while any(os.path.exists(f"/proc/{p}") for p in tree) and time.time() < deadline:
            time.sleep(0.05)
        for p in tree:
            try:
                os.kill(p, signal.SIGKILL)
            except OSError:
                pass


class Collected:
    """A query's rows, collected once, in the shape ``oracle_harness.compare``
    reads (``toPandas()`` and ``dtypes``), so that the Spark work and the
    DuckDB oracle are timed apart."""

    def __init__(self, df):
        self.dtypes = df.dtypes
        self._rows = df.toPandas()

    def toPandas(self):
        return self._rows


def _timeout(signum, frame):
    raise TimeoutError(f"run exceeded {DEADLINE_S} s")


def main() -> int:
    ap = argparse.ArgumentParser(description="London-housing engine benchmark")
    ap.add_argument("--workload", required=True, choices=sorted(MIXES))
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args()
    if not os.path.isfile(os.path.join(ROOT, ENGINE, "queries.py")):
        print(f"perfbench: engine package {ENGINE}/ not found in {ROOT}", file=sys.stderr)
        return 2

    work = os.path.join(ROOT, ".perfbench", f"run-{os.getpid()}")
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    cpus = str(len(os.sched_getaffinity(0)))
    os.environ.update({
        "SPARK_GRAFT_CPUS": cpus,
        "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
        "TMPDIR": tmp,
        "JDK_JAVA_OPTIONS": f"-Djava.io.tmpdir={tmp}",
        "PYSPARK_PYTHON": sys.executable,
    })
    os.chdir(ROOT)
    signal.signal(signal.SIGALRM, _timeout)
    signal.alarm(DEADLINE_S)
    bench = Bench(args.workload, args.seed, args.seconds, bool(args.trace), work)
    try:
        result = bench.run()
    finally:
        signal.alarm(0)
        bench.stop()
        shutil.rmtree(work, ignore_errors=True)
        shutil.rmtree(os.path.join(ROOT, ".stage", f"p{os.getpid()}"), ignore_errors=True)
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
