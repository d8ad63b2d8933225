"""Tests of the benchmark itself: seeded inputs, span arithmetic,
status-store deltas, and that every workload's check catches a
corrupted result.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import sys

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER, stream_metrics  # noqa: E402
from perfbench.trace import Tracer, aggregate_stages, parse_size, plan_counts, self_time  # noqa: E402
from perfbench.workloads import (  # noqa: E402
    WORKLOADS,
    CorpusCuration,
    DocPipeline,
    _split_is_test,
)


# ---------------------------------------------------------------------------
# Seeded inputs
# ---------------------------------------------------------------------------


@pytest.mark.parametrize(
    "make",
    [
        lambda s: gen.corpus(s, 300),
        lambda s: gen.pages(s, 60)["docs"],
        lambda s: gen.pages(s, 60)["sor"],
        lambda s: gen.supplier(s, 50),
        lambda s: gen.embeddings(s, 50),
    ],
)
def test_same_seed_same_inputs_other_seed_other_inputs(make):
    assert make(7).equals(make(7))
    assert not make(7).equals(make(8))


def test_corpus_traffic_dimensions_follow_the_measured_table():
    n = 4000
    t = gen.corpus(11, n).to_pandas()
    assert len(t) - t["text"].nunique() == round(n * gen.DUP_SHARE)
    near = t["text"].str.endswith(" " + gen.NEAR_WORD)
    assert near.sum() == round(n * gen.NEAR_SHARE)
    assert t["text"][near].str[: -len(gen.NEAR_WORD) - 1].isin(set(t["text"][~near])).all()
    lang = t["lang"].value_counts()
    want = dict(zip(gen.LANGS, gen.LANG_WEIGHTS))
    for code, count in lang.items():
        assert abs(count / n - want[code] / sum(gen.LANG_WEIGHTS)) < 1e-3
    assert set(t["source"].value_counts()) == {n // gen.N_SOURCES}
    words = t["text"].str.split().str.len()
    assert words.min() >= gen.WORDS_MIN and words.max() <= gen.WORDS_MAX + 1


# ---------------------------------------------------------------------------
# Spans
# ---------------------------------------------------------------------------


def _span(sid, parent, start, end):
    return {"id": sid, "name": f"s{sid}", "parent": parent, "run_id": "r", "start": start, "end": end}


def test_self_time_subtracts_children_once():
    spans = [
        _span(0, None, 0.0, 10.0),
        _span(1, 0, 1.0, 3.0),
        _span(2, 0, 2.0, 5.0),  # overlaps child 1: covered 1..5 once
        _span(3, 0, 7.0, 8.0),
        _span(4, 3, 7.2, 7.8),  # grandchild: not subtracted from the root
        _span(5, 0, 9.5, 12.0),  # clipped to the parent's interval
    ]
    assert self_time(spans, 0) == pytest.approx(10.0 - 4.0 - 1.0 - 0.5)
    assert self_time(spans, 3) == pytest.approx(0.4)
    assert self_time(spans, 4) == pytest.approx(0.6)


def test_tracer_records_parents_and_run_id():
    jobs = iter(range(100))
    tr = Tracer("run-1", True, job_id_fn=lambda: next(jobs))
    with tr.span("pass"):
        with tr.span("a"):
            pass
        with tr.span("b"):
            pass
    assert [(s["name"], s["parent"]) for s in tr.spans] == [("pass", None), ("a", 0), ("b", 0)]
    assert {s["run_id"] for s in tr.spans} == {"run-1"}
    assert all(s["start"] <= s["end"] for s in tr.spans)
    assert tr.spans[1]["jobs"] == 1
    off = Tracer("run-2", False)
    with off.span("pass"):
        pass
    assert off.spans == []


def test_plan_and_metric_parsing():
    desc = (
        "== Physical Plan ==\nAdaptiveSparkPlan (9)\n+- == Final Plan ==\n"
        "   Exchange (4)\n   +- MapInPandas (3)\n      +- Scan parquet  (1)\n"
        "   ReusedExchange (5)\n+- == Initial Plan ==\n   Exchange (6)\n\n\n(1) Scan parquet\n"
    )
    assert plan_counts(desc) == {"exchanges": 1, "scans": 1, "python_nodes": 1}
    assert parse_size("total (min, med, max (stageId: taskId))\n1.5 KiB (1.0 B, ...)") == 1536.0


def test_stage_aggregation_counts_empty_tasks():
    def task(status, rows):
        return {"status": status, "taskMetrics": {"inputMetrics": {"recordsRead": rows}}}

    stage = {
        "status": "COMPLETE", "numCompleteTasks": 3, "executorRunTime": 1500,
        "executorCpuTime": 2_000_000_000, "jvmGcTime": 10, "memoryBytesSpilled": 1,
        "diskBytesSpilled": 2, "shuffleReadBytes": 5, "shuffleWriteBytes": 7,
        "tasks": {"1": task("SUCCESS", 0), "2": task("SUCCESS", 4), "3": task("SUCCESS", 0)},
    }
    skipped = dict(stage, status="SKIPPED")
    out = aggregate_stages([stage, skipped])
    assert out["stages"] == 1 and out["tasks"] == 3 and out["empty_tasks"] == 2
    assert out["executor_run_s"] == 1.5 and out["executor_cpu_s"] == 2.0
    assert out["spill_bytes"] == 3


@pytest.fixture(scope="module")
def spark(tmp_path_factory):
    from perfbench import run

    work = str(tmp_path_factory.mktemp("perfbench"))
    run.pin_env(work)
    s = run.start_session(work)
    yield s
    run.stop_session(s)


def test_status_store_deltas_repeat_across_two_runs(spark):
    from pyspark.sql import functions as F

    from perfbench.trace import SparkStore

    store = SparkStore(spark)

    def one_run():
        spark.range(2000).repartition(3).groupBy((F.col("id") % 7).alias("k")).count().collect()

    one_run()  # warm
    windows = []
    for _ in range(2):
        m0 = store.mark()
        one_run()
        windows.append((m0, store.mark()))
    cores = spark.sparkContext.defaultParallelism
    a, b = (store.window_delta([w], cores) for w in windows)
    for key in ("jobs", "stages", "tasks", "shuffle_write_bytes", "plan_exchanges"):
        assert a[key] == b[key] > 0, key
    both = store.window_delta(windows, cores)
    assert both["jobs"] == a["jobs"] + b["jobs"]
    assert both["tasks"] == a["tasks"] + b["tasks"]


# ---------------------------------------------------------------------------
# Every workload's check catches a corrupted result
# ---------------------------------------------------------------------------


def _doc_result(w: DocPipeline) -> dict:
    return {
        "preds": [(d, w.want_types[d]) for d in sorted(w.want_queries)],
        "confirm": [(d, n, "yes" if n >= 2 else "no") for d, n in w.want_matches.items()],
        "report": [(f, c, s, round(c / s, 6)) for f, (c, s) in w.want_report.items()],
    }


def test_doc_pipeline_check_catches_corruption(tmp_path):
    w = DocPipeline()
    w.generate(5, str(tmp_path))
    good = _doc_result(w)
    assert w.check(good) == []
    assert w.check(_doc_result(w)) == []  # same predictions on a later pass
    bad = _doc_result(w)
    d, n, _ = bad["confirm"][0]
    bad["confirm"][0] = (d, n, "no" if n >= 2 else "yes")
    assert any("confirm" in e for e in w.check(bad))
    bad = _doc_result(w)
    f, c, s, a = bad["report"][0]
    bad["report"][0] = (f, c + 1, s, a)
    assert any("evaluate" in e for e in w.check(bad))
    bad = _doc_result(w)
    bad["preds"] = bad["preds"][1:]
    assert any("classify" in e for e in w.check(bad))
    flip = {"w2": "pbst", "pbst": "invoice", "invoice": "w2"}
    bad = _doc_result(w)
    d, label = bad["preds"][0]
    bad["preds"][0] = (d, flip[label])
    assert any("changed between passes" in e for e in w.check(bad))
    w.first_preds = None
    bad = _doc_result(w)
    bad["preds"] = [(d, flip[label]) for d, label in bad["preds"]]  # a broken vote
    assert any("true type" in e for e in w.check(bad))
    n_wrong = int(len(bad["preds"]) * (1 - w.MIN_ACCURACY)) + 1
    bad = _doc_result(w)
    bad["preds"][:n_wrong] = [(d, flip[label]) for d, label in bad["preds"][:n_wrong]]
    assert any("true type" in e for e in w.check_preds(bad["preds"]))


def test_split_rule_matches_the_facade_split_share():
    share = sum(_split_is_test(i) for i in range(5000)) / 5000
    assert 0.17 < share < 0.23


def test_corpus_curation_check_catches_a_flipped_keep(tmp_path):
    from data_ingestion_task_spark.plans import registry

    w = CorpusCuration()
    w.N_DOCS = 400
    w.generate(2, str(tmp_path))
    w.oracle_sql = registry.oracle_dict()["curated_corpus_audit"]
    w.expected(None)
    assert 0 < len(w.want) < 400
    good = {"kept": sorted(w.want.items())}
    assert w.check(good) == []
    flipped = {"kept": sorted(w.want.items())[1:]}
    assert w.check(flipped)
    flags = list(good["kept"][0][1])
    flags[-1] = not flags[-1]
    wrong_flag = {"kept": [(good["kept"][0][0], tuple(flags)), *good["kept"][1:]]}
    assert w.check(wrong_flag)


def _stream_result() -> dict:
    return {
        "admitted": [(1, "a"), (2, "b"), (3, "c")],
        "want": {"a", "b", "c"},
        "verdicts": [(1, False), (2, True), (3, False)],
        "final": [1, 3],
        "curated": [],
        "neardup": [],
    }


def test_stream_check_catches_corruption():
    assert CorpusCuration.check_stream(_stream_result()) == []
    bad = _stream_result()
    bad["admitted"].append((4, "a"))  # a duplicate admitted twice
    bad["verdicts"].append((4, False))
    bad["final"].append(4)
    assert any("admitted" in e for e in CorpusCuration.check_stream(bad))
    bad = _stream_result()
    bad["verdicts"].append((3, True))  # two verdicts for one document
    assert any("verdicts" in e for e in CorpusCuration.check_stream(bad))
    bad = _stream_result()
    bad["final"] = [1, 2, 3]  # a flagged document survives
    assert any("final corpus" in e for e in CorpusCuration.check_stream(bad))


def test_stream_metrics_read_progress_events():
    def event(rows, trigger, add, state_rows):
        return {
            "numInputRows": rows,
            "durationMs": {"triggerExecution": trigger, "addBatch": add, "latestOffset": 2,
                           "getBatch": 1, "walCommit": 3, "commitOffsets": 4},
            "stateOperators": [{"numRowsTotal": state_rows, "memoryUsedBytes": 10, "commitTimeMs": 5}],
        }

    res = _stream_result()
    res["curated"] = [event(4, 100, 80, 4), event(2, 300, 200, 6), event(0, 9, 0, 6)]
    res["neardup"] = [event(3, 50, 40, 3)]
    m = stream_metrics(res)
    assert m["stream.batches"] == 2 and m["stream.batch_p50_ms"] == 200.0
    assert m["stream.add_batch_ms_p50"] == 140.0 and m["stream.source_ms_p50"] == 3.0
    assert m["stream.checkpoint_ms_p50"] == 7.0 and m["stream.state_rows"] == 6.0
    assert m["stream.admitted_share"] == 0.5
    assert m["neardup.batches"] == 1 and m["neardup.flagged"] == 1


# ---------------------------------------------------------------------------
# BENCHMARK.json agrees with the code
# ---------------------------------------------------------------------------


def test_benchmark_json_matches_the_metric_and_workload_definitions():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    assert [w["name"] for w in spec["workloads"]] == list(WORKLOADS)
    assert [(m["name"], m["unit"], m["better"], m["bound"]) for m in spec["end_to_end"]] == list(
        END_TO_END
    )
    assert [(m["name"], m["unit"], m["better"]) for m in spec["per_layer"]] == list(PER_LAYER)
