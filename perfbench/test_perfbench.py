"""Self-tests of the benchmark (no Spark session is started).

Run from the repository root: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import json
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
sys.path.insert(0, HERE)
sys.path.insert(0, ROOT)

import checks  # noqa: E402
import inputs  # noqa: E402
import run  # noqa: E402
import spans  # noqa: E402

with open(os.path.join(ROOT, "BENCHMARK.json")) as _fh:
    BENCH = json.load(_fh)


def _tree_bytes(d: str) -> dict[str, bytes]:
    out = {}
    for dirpath, _, files in os.walk(d):
        for f in files:
            p = os.path.join(dirpath, f)
            with open(p, "rb") as fh:
                out[os.path.relpath(p, d)] = fh.read()
    return out


def test_warehouse_builds_are_byte_identical(tmp_path):
    # the twin warehouse does not depend on the seed (it sets the order)
    a = inputs.ladder_warehouse(str(tmp_path / "a"), run.MART_K)
    inputs.ladder_warehouse(str(tmp_path / "b"), run.MART_K)
    assert _tree_bytes(str(tmp_path / "a")) == _tree_bytes(str(tmp_path / "b"))
    base = inputs.ladder_warehouse(str(tmp_path / "base"), 1)
    assert a["rows"]["lineitem"] == run.MART_K * base["rows"]["lineitem"]


def test_same_seed_gives_identical_news_corpus(tmp_path):
    def build(d, seed):
        inputs.news_corpus(str(d), seed, 50)
        return _tree_bytes(str(d))

    a = build(tmp_path / "a", 7)
    b = build(tmp_path / "b", 7)
    c = build(tmp_path / "c", 8)
    assert a and a == b
    assert a != c


def test_news_corpus_exercises_reject_paths(tmp_path):
    info = inputs.news_corpus(str(tmp_path), 3, 200)
    pages = len(inputs.NEWS_SOURCES) * 200
    exp = info["expected"]
    # some pages fail news_record_rules or have no valid author
    assert 0 < exp["articles"] < pages
    assert exp["article_author_join_table"] >= exp["articles"]
    assert exp["sources"] == len(inputs.NEWS_SOURCES)


def test_end_to_end_names_and_units_match_benchmark_json():
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert declared == run.E2E_UNITS
    setup = next(m for m in BENCH["end_to_end"] if m["name"] == "setup_s")
    assert setup["bound"] == max(m["bound"] for m in BENCH["end_to_end"])


def _fake_result(failed: int = 0) -> dict:
    return {
        "setup_s": [9.0, 1.0, 1.1],
        "cold_pass_s": 20.0,
        "cold_wall_s": 30.0,
        "warm_lat_s": [0.01 * (i + 1) for i in range(100)],
        "memory_mb": {"peak_rss_mb": 1500.0},
        "attempted": 116,
        "failed": failed,
    }


def test_printed_end_to_end_metrics_match_benchmark_json():
    info = {"rows": {"articles": 100}}
    got = run.metrics_of(_fake_result(), "news_ingest", info)
    declared = {m["name"]: m["unit"] for m in BENCH["end_to_end"]}
    assert {k: v["unit"] for k, v in got.items()} == declared
    assert all(v["value"] > 0 for v in got.values())


def test_printed_layer_metrics_match_benchmark_json():
    trace = [
        {"id": "pb0", "name": "run", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "pb1", "name": "session.start", "parent": "pb0", "start": 0.0, "end": 2.0},
        {"id": "pb2", "name": "queries.build", "parent": "pb0", "start": 2.0, "end": 3.0},
        {"id": "pb3", "name": "exec.action", "parent": "pb0", "start": 3.0, "end": 9.0},
    ]
    groups = {"pb3": {"jobs": 2.0, "tasks": 8.0, "task_s": 12.0}}
    got = spans.layer_report(trace, groups, {"analysis": 5.0}, 4, {})
    declared = {m["name"]: m["unit"] for m in BENCH["per_layer"]}
    printed = set(got) | {"trace.cold_pass_s", "trace.query_p50_s"}
    assert {k: run.layer_unit(k) for k in printed} == declared
    assert got["exec.core_busy_ratio"] == pytest.approx(12.0 / 40.0)
    assert got["queries.build_jobs"] == 0
    assert got["trace.unattributed_ratio"] == pytest.approx(0.1)
    assert got["exec.self_s"] == pytest.approx(6.0)


def test_corrupted_result_counts_in_failed_ops(tmp_path):
    import worker

    wh = str(tmp_path / "wh")
    inputs.ladder_warehouse(wh, run.MART_K)
    from canadiannewsdatapipeline_spark.queries import QUERIES

    con = checks.duck_con(wh, inputs.WAREHOUSE_TABLES)
    cold = {}
    for name in inputs.MART_MIX:
        res = con.execute(QUERIES[name].oracle)
        cold[name] = ([d[0] for d in res.description], res.fetchall())
    con.close()
    spec = {"trace": 0, "seed": 5, "workload": "mart_analytics",
            "expected": inputs.mart_expected(wh)}

    clean = worker.Run(spec)
    clean.cold_rows = cold
    clean.mart_checks()
    assert clean.failed == 0 and clean.attempted == len(inputs.MART_MIX)

    cols, rows = cold["q1_pricing_summary"]
    bad_row = list(rows[0])
    i = next(j for j, v in enumerate(bad_row) if isinstance(v, float))
    bad_row[i] += 1.0
    corrupted = dict(cold, q1_pricing_summary=(cols, [tuple(bad_row)] + rows[1:]))
    dirty = worker.Run(spec)
    dirty.cold_rows = corrupted
    dirty.mart_checks()
    assert dirty.failed == 1 and "q1_pricing_summary" in dirty.failures[0]

    result = dict(_fake_result(), attempted=dirty.attempted, failed=dirty.failed)
    got = run.metrics_of(result, "mart_analytics", {"rows": {"lineitem": 10}})
    assert got["ok_ops_ratio"]["value"] == pytest.approx(1 - 1 / len(inputs.MART_MIX))


def test_scrape_rerun_jobs_stay_out_of_exec_totals():
    trace = [
        {"id": "pb0", "name": "run", "parent": None, "start": 0.0, "end": 10.0},
        {"id": "pb1", "name": "sources.scrape", "parent": "pb0", "start": 0.0, "end": 3.0},
        {"id": "pb2", "name": spans.RERUN, "parent": "pb1", "start": 1.0, "end": 3.0},
        {"id": "pb3", "name": "plans.model_run", "parent": "pb0", "start": 3.0, "end": 10.0},
    ]
    groups = {
        "pb2": {"jobs": 4.0, "tasks": 8.0, "task_s": 6.0, "python_bytes": 1e6},
        "pb3": {"jobs": 1.0, "tasks": 4.0, "task_s": 16.0},
    }
    got = spans.layer_report(trace, groups, {}, 4, {})
    assert got["sources.scrape_s"] == pytest.approx(3.0)
    assert got["exec.jobs"] == 1 and got["exec.tasks"] == 4
    assert got["exec.python_mb"] == 0
    assert got["exec.core_busy_ratio"] == pytest.approx(16.0 / (8.0 * 4))


def test_event_log_reader_attributes_tasks_to_groups(tmp_path):
    events = [
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Stage IDs": [0, 1],
         "Properties": {"spark.jobGroup.id": "pb2"}},
        {"Event": "SparkListenerStageCompleted", "Stage Info": {"Stage ID": 0}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0,
         "Task End Reason": {"Reason": "Success"},
         "Task Info": {"Accumulables": [
             {"Name": "data sent to Python workers", "Update": "2048"}]},
         "Task Metrics": {"Executor Run Time": 1500,
                          "Input Metrics": {"Bytes Read": 100},
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 10},
                          "Shuffle Read Metrics": {"Remote Bytes Read": 1,
                                                   "Local Bytes Read": 2},
                          "Disk Bytes Spilled": 5}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1,
         "Task End Reason": {"Reason": "ExceptionFailure"}, "Task Metrics": {}},
    ]
    p = tmp_path / "log"
    p.write_text("\n".join(json.dumps(e) for e in events) + "\n")
    g = spans.read_event_log(str(p))["pb2"]
    assert g["jobs"] == 1 and g["stages"] == 1 and g["tasks"] == 2
    assert g["failed_tasks"] == 1
    assert g["task_s"] == pytest.approx(1.5)
    assert g["python_bytes"] == 2048 and g["python_task_s"] == pytest.approx(1.5)
    assert g["shuffle_read_bytes"] == 3 and g["spill_bytes"] == 5


def test_refuses_to_run_without_the_program(tmp_path, monkeypatch, capsys):
    monkeypatch.setattr(run, "PKG_DIR", str(tmp_path / "missing"))
    code = run.main(["--workload", "news_ingest", "--seed", "1", "--seconds", "1"])
    assert code != 0
    assert capsys.readouterr().out == ""
