"""Driver-side profile of one warm pass of the doc facade loop.

    python3 tools/profile_facade.py [--seed 1]

Runs the benchmark's ``doc_pipeline`` pass (perfbench/workloads.py:
load_table → ingest → split → classify → extract ×3 → confirm →
evaluate over generated W2 / PBST / invoice pages) under the
benchmark's own session settings, makes the benchmark's checked
warm-up passes, then profiles one more checked pass. For every facade call it
prints:

- ``build_s`` — wall time inside the ``api.*`` call itself, which
  only builds the lazy DataFrame (plan building, analysis, UDF
  pickling);
- ``build_rt`` — py4j round trips made while building, counted by
  wrapping ``ClientServerConnection.send_command``;
- ``action_s`` / ``action_rt`` — the rest of the call's span: the
  collect that runs it (extraction is lazy in the pass, so its rows
  show build only and its work lands in confirm and evaluate);
- ``jobs`` — Spark jobs submitted in the span;
- ``idle_s`` — span wall time during which no Spark job was running:
  the driver-side gaps before, between and after the span's jobs.

The last lines total the pass. Driver-bound calls show ``idle_s``
close to their wall time. The pass's inputs live under ``.perfbench/``
and are removed at exit.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import sys
import threading
import time
from contextlib import contextmanager

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
if ROOT not in sys.path:
    sys.path.insert(0, ROOT)

#: The facade calls the pass makes, wrapped to time their build step.
FACADE = (
    "ingest_documents",
    "train_test_split_by_doc",
    "classify_documents",
    "extract_documents",
    "confirm_documents",
    "evaluate_extraction",
)


class RoundTrips:
    """Counts py4j commands sent to the JVM, from every thread."""

    def __init__(self):
        self.n = 0
        self._lock = threading.Lock()

    @contextmanager
    def installed(self):
        from py4j import clientserver, java_gateway

        patched = []
        for cls in (clientserver.ClientServerConnection, java_gateway.GatewayConnection):
            real = cls.send_command

            def counted(conn, command, _real=real):
                with self._lock:
                    self.n += 1
                return _real(conn, command)

            cls.send_command = counted
            patched.append((cls, real))
        try:
            yield self
        finally:
            for cls, real in patched:
                cls.send_command = real


class Profile:
    """A tracer for the workload's ``span`` calls plus build-step
    wrappers for the ``api`` functions. ``enabled`` stays False, so the
    workload runs exactly its untraced pass (no materialization)."""

    enabled = False

    def __init__(self, rt: RoundTrips):
        self.rt = rt
        self.spans: list[dict] = []
        self.builds: list[dict] = []

    @contextmanager
    def _timed(self, into: list, name: str):
        rec = {"name": name, "start": time.time(), "rt0": self.rt.n}
        try:
            yield
        finally:
            rec["end"] = time.time()
            rec["rt"] = self.rt.n - rec.pop("rt0")
            into.append(rec)

    def span(self, name: str):
        return self._timed(self.spans, name)

    def wrap(self, api, name: str):
        real = getattr(api, name)

        def built(*a, **kw):
            with self._timed(self.builds, f"api.{name}"):
                return real(*a, **kw)

        setattr(api, name, built)
        return real


def job_intervals(spark) -> list[tuple[float, float]]:
    """(submitted, completed) epoch seconds of every finished job in
    the status store (one py4j round trip, serialized in the JVM)."""
    jvm = spark.sparkContext._jvm
    scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
    mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
        scala_mod.__getattr__("MODULE$")
    )
    jobs = json.loads(mapper.writeValueAsString(spark.sparkContext._jsc.sc().statusStore().jobsList(None)))
    return [
        (j["submissionTime"] / 1e3, j["completionTime"] / 1e3)
        for j in jobs
        if j.get("submissionTime") and j.get("completionTime")
    ]


def busy_s(lo: float, hi: float, jobs: list[tuple[float, float]]) -> float:
    """Seconds of ``[lo, hi]`` covered by at least one job."""
    cut = sorted((max(a, lo), min(b, hi)) for a, b in jobs if b > lo and a < hi)
    total, cur_lo, cur_hi = 0.0, None, None
    for a, b in cut:
        if cur_hi is None or a > cur_hi:
            if cur_hi is not None:
                total += cur_hi - cur_lo
            cur_lo, cur_hi = a, b
        else:
            cur_hi = max(cur_hi, b)
    if cur_hi is not None:
        total += cur_hi - cur_lo
    return total


def rows(prof: Profile, jobs: list[tuple[float, float]]) -> list[dict]:
    """One row per facade span, with the build records nested in it,
    in pass order; a build made outside every span is its own row."""
    out = []
    lone = [
        b
        for b in prof.builds
        if not any(s["start"] <= b["start"] and b["end"] <= s["end"] for s in prof.spans)
    ]
    for s in sorted(prof.spans + lone, key=lambda r: r["start"]):
        inner = [b for b in prof.builds if s["start"] <= b["start"] and b["end"] <= s["end"]]
        build_s = sum(b["end"] - b["start"] for b in inner)
        build_rt = sum(b["rt"] for b in inner)
        wall = s["end"] - s["start"]
        out.append(
            {
                "call": s["name"],
                "wall_s": wall,
                "build_s": build_s,
                "build_rt": build_rt,
                "action_s": wall - build_s,
                "action_rt": s["rt"] - build_rt,
                "jobs": sum(s["start"] <= a < s["end"] for a, _ in jobs),
                "idle_s": wall - busy_s(s["start"], s["end"], jobs),
            }
        )
    return out


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__, formatter_class=argparse.RawDescriptionHelpFormatter)
    ap.add_argument("--seed", type=int, default=1)
    args = ap.parse_args(argv)

    from perfbench.run import OUT, WARMUP_PASSES, pin_env, start_session, stop_session

    work = os.path.join(OUT, "work", f"profile-facade-{args.seed}-{os.getpid()}")
    pin_env(work)
    from perfbench.trace import Tracer
    from perfbench.workloads import DocPipeline

    from data_ingestion_task_spark import api

    w, spark = DocPipeline(), None
    try:
        w.generate(args.seed, work)
        spark = start_session(work)
        w.setup(spark)
        w.expected(spark)
        for i in range(WARMUP_PASSES):
            errs = w.check(w.run_pass(spark, Tracer("warm", False)))
            if errs:
                raise SystemExit(f"warm-up pass {i} failed its check: {errs}")
        rt = RoundTrips()
        prof = Profile(rt)
        reals = {name: prof.wrap(api, name) for name in FACADE}
        try:
            with rt.installed():
                t0, rt0 = time.time(), rt.n
                res = w.run_pass(spark, prof)
                pass_s, pass_rt = time.time() - t0, rt.n - rt0
        finally:
            for name, real in reals.items():
                setattr(api, name, real)
        errs = w.check(res)
        if errs:
            raise SystemExit(f"profiled pass failed its check: {errs}")
        jobs = job_intervals(spark)
        table = rows(prof, jobs)
        n_jobs = sum(t0 <= a < t0 + pass_s for a, _ in jobs)
        idle = pass_s - busy_s(t0, t0 + pass_s, jobs)
    finally:
        if spark is not None:
            stop_session(spark)
        shutil.rmtree(work, ignore_errors=True)

    print(f"{'call':28s} {'wall_s':>7s} {'build_s':>7s} {'build_rt':>8s} {'action_s':>8s} "
          f"{'action_rt':>9s} {'jobs':>4s} {'idle_s':>6s}")
    for r in table:
        print(f"{r['call']:28s} {r['wall_s']:7.3f} {r['build_s']:7.3f} {r['build_rt']:8d} "
              f"{r['action_s']:8.3f} {r['action_rt']:9d} {r['jobs']:4d} {r['idle_s']:6.3f}")
    print(f"pass: {pass_s:.3f} s, {pass_rt} py4j round trips, {n_jobs} jobs, {idle:.3f} s with no job running")
    return 0


if __name__ == "__main__":
    sys.exit(main())
