"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload doc_pipeline --seed 1 --seconds 10 --trace 0

Run from the repository root. The workload's inputs are generated from
``--seed`` into ``.perfbench/`` under the root; the engine is imported
from the root. One run:

1. generates the inputs (not timed);
2. sets up: starts the Spark session and makes ``WARMUP_PASSES``
   warm-up passes (``setup_s``);
3. evaluates the oracle once (not timed);
4. repeats verified passes for ``--seconds`` seconds, one client,
   closed loop; every pass, the warm-up passes included, is checked.

With ``--trace 0`` the last line carries the end-to-end metrics. With
``--trace 1`` the first half of the window runs untraced and the second
half traced, and then the workload's extra steps (the layers its pass
does not reach) run once, traced and checked; the last line carries
the per-layer metrics, and the spans are written to
``.perfbench/traces/``. Exits non-zero without a
result line when the engine cannot be imported or set up.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import subprocess
import sys
import time
import traceback

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
OUT = os.path.join(ROOT, ".perfbench")

#: Passes made before timing starts. On a 4-core box a pass keeps
#: getting faster for its first few repetitions while the JVM compiles
#: the hot paths (doc_pipeline: 8.2, 7.8, 6.5, then 5.7-5.9 s); timing
#: from the fourth pass keeps that curve out of the per-pass figures.
WARMUP_PASSES = 3

#: Driver heap for local mode: every executor thread shares it. Fits a
#: 4-core / 15 GiB box with room for the Python workers.
DRIVER_MEM = "2g"


def pin_env(work: str) -> None:
    """The benchmark's environment, set before pyspark is imported so
    the JVM and its Python workers inherit it."""
    cpus = str(len(os.sched_getaffinity(0)))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ.update(
        {
            "SPARK_GRAFT_CPUS": cpus,
            "SPARK_GRAFT_DRIVER_MEM": DRIVER_MEM,
            "SPARK_LOCAL_DIRS": os.path.join(work, "spark-local"),
            "PYTHONPATH": os.pathsep.join(
                p for p in (ROOT, os.environ.get("PYTHONPATH")) if p
            ),
            "PYSPARK_PYTHON": sys.executable,
            "TMPDIR": tmp,
            # The launcher JVM that spark-submit starts first: no
            # perf-data file under /tmp.
            "SPARK_LAUNCHER_OPTS": "-XX:-UsePerfData",
        }
    )
    if ROOT not in sys.path:
        sys.path.insert(0, ROOT)


def start_session(work: str):
    from data_ingestion_task_spark.session import get_spark

    return get_spark(
        "perfbench",
        extra_conf={
            "spark.ui.showConsoleProgress": "false",
            # Retain every job, stage and SQL execution of a run so the
            # traced status-store deltas see all of them.
            "spark.ui.retainedJobs": "5000",
            "spark.ui.retainedStages": "5000",
            "spark.sql.ui.retainedExecutions": "5000",
            "spark.sql.warehouse.dir": os.path.join(work, "warehouse"),
            # Initial heap = maximum heap, so the JVM's resident size
            # does not follow GC's heap-resizing decisions.
            "spark.driver.extraJavaOptions": (
                f"-Xms{DRIVER_MEM} -Djava.io.tmpdir={os.path.join(work, 'tmp')} -XX:-UsePerfData"
            ),
        },
    )


def stop_session(spark) -> None:
    """Stop Spark and wait until the JVM and its Python workers exit."""
    from pyspark import SparkContext

    from perfbench.trace import descendants

    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    pids = descendants(proc.pid) if proc else []
    spark.stop()
    if gw is not None:
        gw.shutdown()
        SparkContext._gateway = SparkContext._jvm = None
    if proc is not None:
        if proc.stdin:
            proc.stdin.close()
        try:
            proc.wait(timeout=30)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    deadline = time.time() + 20
    for p in pids:
        while os.path.exists(f"/proc/{p}") and time.time() < deadline:
            try:
                with open(f"/proc/{p}/stat") as f:
                    if f.read().rsplit(")", 1)[1].split()[0] == "Z":
                        break
            except OSError:
                break
            time.sleep(0.05)


class Loop:
    """Closed loop: verified passes until the window closes."""

    def __init__(self, w, spark):
        self.w, self.spark = w, spark
        self.attempted = self.failed = 0
        self.pass_s: list[float] = []

    def check(self, res: dict, what: str) -> None:
        self.record(self.w.check(res), what)

    def record(self, errs: list[str], what: str) -> None:
        self.attempted += 1
        if errs:
            self.failed += 1
            print(f"check failed ({self.w.name}, {what}): " + "; ".join(errs), file=sys.stderr)

    def verified_pass(self, tr) -> None:
        t0 = time.perf_counter()
        try:
            res = self.w.run_pass(self.spark, tr)
        except Exception:
            self.attempted += 1
            self.failed += 1
            traceback.print_exc(file=sys.stderr)
            return
        self.pass_s.append(time.perf_counter() - t0)
        self.check(res, "timed pass")

    def run_for(self, seconds: float, tr) -> None:
        end = time.perf_counter() + seconds
        while True:
            self.verified_pass(tr)
            if time.perf_counter() >= end:
                return


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    run_id = f"{args.workload}-{args.seed}-{os.getpid()}"
    work = os.path.join(OUT, "work", run_id)
    pin_env(work)
    from perfbench.metrics import END_TO_END, end_to_end, layer_metrics
    from perfbench.trace import RssSampler, SparkStore, Tracer
    from perfbench.workloads import WORKLOADS

    if args.workload not in WORKLOADS:
        print(f"unknown workload {args.workload!r}; choose from {sorted(WORKLOADS)}", file=sys.stderr)
        return 2
    w = WORKLOADS[args.workload]()
    spark = None
    try:
        w.generate(args.seed, work)
        t0 = time.perf_counter()
        spark = start_session(work)
        w.setup(spark)
        off = Tracer(run_id, False)
        warm = [w.run_pass(spark, off) for _ in range(WARMUP_PASSES)]
        setup_s = time.perf_counter() - t0
        w.expected(spark)
        loop = Loop(w, spark)
        for res in warm:
            loop.check(res, "warm-up pass")

        from pyspark import SparkContext

        jvm_pid = SparkContext._gateway.proc.pid
        if not args.trace:
            with RssSampler(jvm_pid) as rss:
                loop.run_for(args.seconds, off)
            metrics = end_to_end(w, loop, setup_s, rss.peak)
            gated = [name for name, *_ in END_TO_END]
            attempted, failed = loop.attempted, loop.failed
        else:
            loop.run_for(args.seconds / 2, off)
            store = SparkStore(spark)
            tr = Tracer(run_id, True, job_id_fn=store.max_job_id)
            traced = Loop(w, spark)
            windows = []
            end = time.perf_counter() + args.seconds / 2
            while True:
                m0 = store.mark()
                with tr.span("pass"):
                    traced.verified_pass(tr)
                windows.append((m0, store.mark()))
                if hasattr(w, "trace_components"):
                    with tr.span("components"):
                        w.trace_components(spark, tr)
                if time.perf_counter() >= end:
                    break
            delta = store.window_delta(windows, spark.sparkContext.defaultParallelism)
            try:
                with tr.span("extras"):
                    checks = w.trace_extras(spark, tr)
            except Exception:
                traceback.print_exc(file=sys.stderr)
                checks = [("extras", ["raised"])]
            for what, errs in checks:
                traced.record(errs, what)
            metrics = layer_metrics(w, loop, traced, tr, delta)
            gated = list(metrics)
            tr.write(os.path.join(OUT, "traces", f"{run_id}.jsonl"))
            attempted = loop.attempted + traced.attempted
            failed = loop.failed + traced.failed
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"{w.name:16s} {'passes (s)':34s} " + " ".join(f"{p:.3f}" for p in loop.pass_s))
    for name, (value, unit) in metrics.items():
        print(f"{w.name:16s} {name:34s} {value:14.4f} {unit}")
    print(
        json.dumps(
            {
                "correct": failed == 0,
                "attempted": attempted,
                "failed": failed,
                "metrics": {k: {"value": metrics[k][0], "unit": metrics[k][1]} for k in gated},
            }
        )
    )
    return 0


if __name__ == "__main__":
    sys.exit(main())
