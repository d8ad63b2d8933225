"""Measurement plumbing that reads the engine from outside: spans
around public calls, Spark's status store, the executed plans, and the
resident memory of the JVM and its Python workers.

Nothing here changes what the engine computes. Spans are kept in
memory and written out when the run ends.
"""

from __future__ import annotations

import json
import os
import re
import statistics
import threading
import time
from contextlib import contextmanager


def median(values):
    return statistics.median(values) if values else 0.0


class Tracer:
    """Spans with name, start, end, parent and run id. A disabled
    tracer records nothing and costs one branch per call."""

    def __init__(self, run_id: str, enabled: bool, job_id_fn=None):
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[dict] = []
        self._stack: list[int] = []
        self._origin = time.perf_counter()
        self._job_id_fn = job_id_fn

    @contextmanager
    def span(self, name: str):
        if not self.enabled:
            yield
            return
        sid = len(self.spans)
        rec = {
            "id": sid,
            "name": name,
            "parent": self._stack[-1] if self._stack else None,
            "run_id": self.run_id,
            "start": time.perf_counter() - self._origin,
            "end": None,
        }
        jobs0 = self._job_id_fn() if self._job_id_fn else None
        self.spans.append(rec)
        self._stack.append(sid)
        try:
            yield
        finally:
            self._stack.pop()
            rec["end"] = time.perf_counter() - self._origin
            if jobs0 is not None:
                rec["jobs"] = self._job_id_fn() - jobs0

    def write(self, path: str) -> None:
        os.makedirs(os.path.dirname(path), exist_ok=True)
        with open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def self_time(spans: list[dict], sid: int) -> float:
    """A span's duration minus the part of its interval that its
    direct children cover (overlapping children counted once)."""
    me = spans[sid]
    kids = sorted(
        (max(s["start"], me["start"]), min(s["end"], me["end"]))
        for s in spans
        if s["parent"] == sid
    )
    covered, cur_lo, cur_hi = 0.0, None, None
    for lo, hi in kids:
        if hi <= lo:
            continue
        if cur_hi is None or lo > cur_hi:
            if cur_hi is not None:
                covered += cur_hi - cur_lo
            cur_lo, cur_hi = lo, hi
        else:
            cur_hi = max(cur_hi, hi)
    if cur_hi is not None:
        covered += cur_hi - cur_lo
    return (me["end"] - me["start"]) - covered


# ---------------------------------------------------------------------------
# Spark status store
# ---------------------------------------------------------------------------

_SIZE_UNITS = {"B": 1, "KiB": 2**10, "MiB": 2**20, "GiB": 2**30, "TiB": 2**40}
_SIZE_RE = re.compile(r"([\d.]+)\s*(B|KiB|MiB|GiB|TiB)\b")
_PY_NODE_RE = re.compile(
    r"\b(ArrowEvalPython|BatchEvalPython|MapInPandas|MapInArrow|PythonMapInArrow|"
    r"FlatMapGroupsInPandas\w*|FlatMapCoGroupsInPandas|AggregateInPandas|WindowInPandas)\b"
)
_EXCHANGE_RE = re.compile(r"(?<!Reused)Exchange\b")
_SCAN_RE = re.compile(r"\b(FileScan|Scan parquet|BatchScan)\b")


def parse_size(metric_value: str) -> float:
    """Bytes in a formatted SQL size metric (its total comes first)."""
    m = _SIZE_RE.search(metric_value or "")
    return float(m.group(1)) * _SIZE_UNITS[m.group(2)] if m else 0.0


def plan_tree(description: str) -> str:
    """The node tree of a formatted physical plan; for an adaptive
    plan, only its final plan when it has one."""
    tree = description.split("== Physical Plan ==", 1)[-1].split("\n\n", 1)[0]
    if "== Final Plan ==" in tree:
        tree = tree.split("== Final Plan ==", 1)[1].split("== Initial Plan ==", 1)[0]
    return tree


def plan_counts(description: str) -> dict[str, int]:
    tree = plan_tree(description)
    return {
        "exchanges": len(_EXCHANGE_RE.findall(tree)),
        "scans": len(_SCAN_RE.findall(tree)),
        "python_nodes": len(_PY_NODE_RE.findall(tree)),
    }


def aggregate_stages(stages: list[dict]) -> dict[str, float]:
    """Sum the status store's per-stage records (completed stages
    only; skipped stages ran nothing)."""
    done = [s for s in stages if s["status"] == "COMPLETE"]
    out = {
        "stages": len(done),
        "tasks": 0,
        "empty_tasks": 0,
        "executor_run_s": 0.0,
        "executor_cpu_s": 0.0,
        "gc_s": 0.0,
        "spill_bytes": 0.0,
        "shuffle_read_bytes": 0.0,
        "shuffle_write_bytes": 0.0,
    }
    for s in done:
        out["tasks"] += s["numCompleteTasks"]
        out["executor_run_s"] += s["executorRunTime"] / 1e3
        out["executor_cpu_s"] += s["executorCpuTime"] / 1e9
        out["gc_s"] += s["jvmGcTime"] / 1e3
        out["spill_bytes"] += s["memoryBytesSpilled"] + s["diskBytesSpilled"]
        out["shuffle_read_bytes"] += s["shuffleReadBytes"]
        out["shuffle_write_bytes"] += s["shuffleWriteBytes"]
        for t in (s.get("tasks") or {}).values():
            m = t.get("taskMetrics") or {}
            rows = (m.get("inputMetrics") or {}).get("recordsRead", 0) + (
                m.get("shuffleReadMetrics") or {}
            ).get("recordsRead", 0)
            if t.get("status") == "SUCCESS" and rows == 0:
                out["empty_tasks"] += 1
    return out


class SparkStore:
    """Reads Spark's application and SQL status stores through py4j,
    serialized to JSON in the JVM (one round trip per list)."""

    def __init__(self, spark):
        self.sc = spark.sparkContext
        jvm = self.sc._jvm
        scala_mod = getattr(jvm.com.fasterxml.jackson.module.scala, "DefaultScalaModule$")
        self._mapper = jvm.com.fasterxml.jackson.databind.ObjectMapper().registerModule(
            scala_mod.__getattr__("MODULE$")
        )
        self._app = self.sc._jsc.sc().statusStore()
        self._sql = spark._jsparkSession.sharedState().statusStore()
        self._no_quantiles = self.sc._gateway.new_array(jvm.double, 0)
        self._codegen = jvm.org.apache.spark.metrics.source.CodegenMetrics

    def max_job_id(self) -> int:
        ids = self.sc.statusTracker().getJobIdsForGroup(None)
        return max(ids) if ids else -1

    def mark(self) -> dict:
        """Watermarks that :meth:`window_delta` counts between. Stage ids are
        taken from the newest job; execution ids are dense while the
        store retains every execution of the run."""
        job = self.max_job_id()
        info = self.sc.statusTracker().getJobInfo(job) if job >= 0 else None
        return {
            "job": job,
            "stage": max(info.stageIds) if info and len(info.stageIds) else -1,
            "execution": int(self._sql.executionsCount()),
            "codegen": int(self._codegen.METRIC_COMPILATION_TIME().getCount()),
            "t": time.perf_counter(),
        }

    def _json(self, obj):
        return json.loads(self._mapper.writeValueAsString(obj))

    def window_delta(self, windows: list[tuple[dict, dict]], cores: int) -> dict[str, float]:
        """Deltas summed over ``(mark, mark)`` windows: scheduler,
        executor, shuffle and codegen counters from the status store,
        plan shape and Python-boundary bytes from the SQL store. Work
        between windows (for example traced component calls) is not
        counted."""
        stages = self._json(self._app.stageList(None, True, False, self._no_quantiles, None))
        execs = self._json(self._sql.executionsList())
        inside = [s for s in stages if any(a["stage"] < s["stageId"] <= b["stage"] for a, b in windows)]
        out = aggregate_stages(inside)
        out["jobs"] = sum(b["job"] - a["job"] for a, b in windows)
        out["driver_gap_s"] = sum(b["t"] - a["t"] for a, b in windows) - out["executor_run_s"] / cores
        out["empty_task_share"] = out["empty_tasks"] / out["tasks"] if out["tasks"] else 0.0
        out["codegen_compiles"] = sum(b["codegen"] - a["codegen"] for a, b in windows)
        plan = {"exchanges": 0, "scans": 0, "python_nodes": 0}
        sent = received = 0.0
        for e in execs:
            if not any(a["execution"] <= e["executionId"] < b["execution"] for a, b in windows):
                continue
            for k, v in plan_counts(e.get("physicalPlanDescription") or "").items():
                plan[k] += v
            values = e.get("metricValues") or {}
            for m in e.get("metrics") or []:
                if m["name"] == "data sent to Python workers":
                    sent += parse_size(values.get(str(m["accumulatorId"]), ""))
                elif m["name"] == "data returned from Python workers":
                    received += parse_size(values.get(str(m["accumulatorId"]), ""))
        out.update({f"plan_{k}": v for k, v in plan.items()})
        out["python_bytes_sent"] = sent
        out["python_bytes_received"] = received
        return out


# ---------------------------------------------------------------------------
# Resident memory of the JVM and its Python workers
# ---------------------------------------------------------------------------


def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(d))
    return kids


def descendants(pid: int) -> list[int]:
    kids = _children_map()
    out, todo = [], [pid]
    while todo:
        p = todo.pop()
        out.append(p)
        todo.extend(kids.get(p, []))
    return out


def rss_bytes(pids: list[int]) -> int:
    total = 0
    for p in pids:
        try:
            with open(f"/proc/{p}/statm") as f:
                total += int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
        except OSError:
            continue
    return total


class RssSampler:
    """Samples the summed RSS of a process tree on a background
    thread; :attr:`peak` is the largest sum seen while running."""

    def __init__(self, root_pid: int, interval_s: float = 0.1):
        self.root_pid = root_pid
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        while not self._stop.is_set():
            self.peak = max(self.peak, rss_bytes(descendants(self.root_pid)))
            self._stop.wait(self.interval_s)

    def __enter__(self):
        self._thread.start()
        return self

    def __exit__(self, *exc):
        self._stop.set()
        self._thread.join(timeout=10)
        return False
