"""Metric definitions: names, units, direction, and how each is
computed from a run. ``BENCHMARK.json`` lists the same names; a test
keeps the two in step.
"""

from __future__ import annotations

from .trace import median, self_time

#: (name, unit, better, bound) — every workload reports each of these
#: with tracing off.
END_TO_END = (
    ("docs_per_s", "1/s", "higher", 0.25),
    ("setup_s", "s", "lower", 0.25),
    ("peak_rss_mb", "MB", "lower", 0.15),
)

#: Printed beside the gated metrics but not gated: ``pass_s`` is the
#: input size over ``docs_per_s``, and ``fail_share`` is 0 on a correct
#: run (the result line carries it as ``failed`` / ``attempted``).
PRINTED_ONLY = (("pass_s", "s"), ("fail_share", "share"))

_SPARK = (
    ("spark.jobs", "count", "lower", "jobs"),
    ("spark.stages", "count", "lower", "stages"),
    ("spark.tasks", "count", "lower", "tasks"),
    ("spark.empty_task_share", "share", "lower", "empty_task_share"),
    ("spark.driver_gap_s", "s", "lower", "driver_gap_s"),
    ("spark.executor_cpu_s", "s", "lower", "executor_cpu_s"),
    ("spark.executor_run_s", "s", "lower", "executor_run_s"),
    ("spark.gc_s", "s", "lower", "gc_s"),
    ("spark.spill_bytes", "B", "lower", "spill_bytes"),
    ("spark.shuffle_write_bytes", "B", "lower", "shuffle_write_bytes"),
    ("spark.shuffle_read_bytes", "B", "lower", "shuffle_read_bytes"),
    ("spark.codegen_compiles", "count", "lower", "codegen_compiles"),
    ("plan.exchanges", "count", "lower", "plan_exchanges"),
    ("plan.scans", "count", "lower", "plan_scans"),
    ("plan.python_nodes", "count", "lower", "plan_python_nodes"),
    ("python.bytes_sent", "B", "lower", "python_bytes_sent"),
    ("python.bytes_received", "B", "lower", "python_bytes_received"),
)

#: Curation components, timed over the same input as the facade.
_CURATE_COMPONENTS = (
    "quality_plans.gopher_flags",
    "corpus_scores.trigram_nll",
    "corpus_scores.dsir_logweights",
    "selection_plans.capped_by_key",
    "text.fingerprint_md5",
)
#: Certified queries of the traced extra steps.
_QUERIES = ("form1008_extraction_e2e", "ivfpq_trained_topk", "dedup_cluster_star")

#: Span name → per-layer metric (seconds per traced pass, or per run
#: for the extra steps).
_SPANS = (
    "api.ingest_documents",
    "api.classify_documents",
    "api.extract_documents",
    "api.confirm_documents",
    "api.evaluate_extraction",
    "api.curate_corpus",
    *_CURATE_COMPONENTS,
    "api.classify_documents.lsh",
    "streaming.curate.start_curated_ingest",
    "streaming.dedup.start_neardup_ingest",
    "streaming.curate.final_corpus",
    *[f"query.{q}" for q in _QUERIES],
)

#: Read from the two streaming queries' ``recentProgress``.
_STREAM = (
    ("stream.batches", "count", "lower"),
    ("stream.batch_p50_ms", "ms", "lower"),
    ("stream.add_batch_ms_p50", "ms", "lower"),
    ("stream.source_ms_p50", "ms", "lower"),
    ("stream.checkpoint_ms_p50", "ms", "lower"),
    ("stream.state_commit_ms_p50", "ms", "lower"),
    ("stream.state_rows", "count", "lower"),
    ("stream.state_bytes", "B", "lower"),
    ("stream.admitted_share", "share", "higher"),
    ("neardup.batches", "count", "lower"),
    ("neardup.trigger_ms_p50", "ms", "lower"),
    ("neardup.flagged", "count", "higher"),
)

#: (name, unit, better) — every workload reports each of these with
#: tracing on; a layer the workload does not load reads 0.
PER_LAYER = (
    *[(n, u, b) for n, u, b, _ in _SPARK],
    *[(f"{s}_s", "s", "lower") for s in _SPANS],
    *[(f"query.{q}.jobs", "count", "lower") for q in _QUERIES],
    ("api.curate_corpus.self_s", "s", "lower"),
    *_STREAM,
    ("trace.unattributed_s", "s", "lower"),
    ("trace.overhead_share", "share", "lower"),
)


def end_to_end(w, loop, setup_s: float, peak_rss: int) -> dict:
    p = median(loop.pass_s)
    values = {
        "pass_s": p,
        "setup_s": setup_s,
        "peak_rss_mb": peak_rss / 2**20,
        "docs_per_s": w.n_docs / p if p else 0.0,
        "fail_share": loop.failed / max(1, loop.attempted),
    }
    units = {n: u for n, u, *_ in END_TO_END} | dict(PRINTED_ONLY)
    return {n: (values[n], units[n]) for n in units}


def _per_root(spans: list[dict], name: str) -> list[float]:
    """Summed duration of ``name`` spans under each root span that
    holds at least one (one root per traced pass)."""
    sums: dict[int, float] = {}
    for s in spans:
        if s["name"] == name and s["parent"] is not None:
            sums[s["parent"]] = sums.get(s["parent"], 0.0) + s["end"] - s["start"]
    return list(sums.values())


def layer_metrics(w, untraced, traced, tr, delta: dict) -> dict:
    """Per-layer metrics of one traced run: status-store deltas per
    traced pass, span times per pass (medians over passes), the part
    of a pass outside every public-call span, and the tracing overhead
    on ``pass_s``."""
    n = max(1, len(traced.pass_s))
    values: dict[str, float] = {name: 0.0 for name, _, _ in PER_LAYER}
    for name, _, _, key in _SPARK:
        values[name] = delta[key] / n
    values["spark.empty_task_share"] = delta["empty_task_share"]
    for s in _SPANS:
        values[f"{s}_s"] = median(_per_root(tr.spans, s))
    if values["api.curate_corpus_s"]:
        values["api.curate_corpus.self_s"] = values["api.curate_corpus_s"] - sum(
            values[f"{c}_s"] for c in _CURATE_COMPONENTS
        )
    for q in _QUERIES:
        values[f"query.{q}.jobs"] = sum(s.get("jobs", 0) for s in tr.spans if s["name"] == f"query.{q}")
    if getattr(w, "progress", None):
        values.update(stream_metrics(w.progress))
    values["trace.unattributed_s"] = median(
        [self_time(tr.spans, s["id"]) for s in tr.spans if s["name"] == "pass"]
    )
    base = median(untraced.pass_s)
    values["trace.overhead_share"] = median(traced.pass_s) / base - 1 if base else 0.0
    units = {name: unit for name, unit, _ in PER_LAYER}
    return {name: (values[name], units[name]) for name in units}


def stream_metrics(res: dict) -> dict[str, float]:
    """Per-batch figures of the curated-ingest and near-dup queries
    from their progress events (``durationMs``, ``stateOperators``)."""

    def dur(p: dict, *keys: str) -> float:
        d = p.get("durationMs") or {}
        return float(sum(d.get(k, 0) for k in keys))

    def state(p: dict, key: str) -> float:
        return float(sum(op.get(key, 0) for op in p.get("stateOperators") or []))

    cur = [p for p in res["curated"] if p.get("numInputRows", 0) > 0]
    nd = [p for p in res["neardup"] if p.get("numInputRows", 0) > 0]
    n_in = sum(p["numInputRows"] for p in cur)
    last = cur[-1] if cur else {}
    return {
        "stream.batches": len(cur),
        "stream.batch_p50_ms": median([dur(p, "triggerExecution") for p in cur]),
        "stream.add_batch_ms_p50": median([dur(p, "addBatch") for p in cur]),
        "stream.source_ms_p50": median([dur(p, "latestOffset", "getBatch") for p in cur]),
        "stream.checkpoint_ms_p50": median([dur(p, "walCommit", "commitOffsets") for p in cur]),
        "stream.state_commit_ms_p50": median([state(p, "commitTimeMs") for p in cur]),
        "stream.state_rows": state(last, "numRowsTotal"),
        "stream.state_bytes": state(last, "memoryUsedBytes"),
        "stream.admitted_share": len(res["admitted"]) / n_in if n_in else 0.0,
        "neardup.batches": len(nd),
        "neardup.trigger_ms_p50": median([dur(p, "triggerExecution") for p in nd]),
        "neardup.flagged": sum(1 for _, flagged in res["verdicts"] if flagged),
    }
