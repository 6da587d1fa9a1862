"""Tests of the benchmark's own machinery (not of the engine):

    python -m pytest perfbench/tests -q

Generator determinism, metric naming against BENCHMARK.json, the shape of
the result object, and span-to-job attribution on a synthetic event log
and on a toy Spark run.
"""

from __future__ import annotations

import hashlib
import json
import os
import re
import statistics
import sys
import time

import pytest

ROOT = os.path.dirname(os.path.dirname(os.path.dirname(os.path.abspath(__file__))))
sys.path.insert(0, ROOT)

from perfbench import gen, oracles, run, spans  # noqa: E402
from perfbench.workloads import WORKLOADS, RunOut  # noqa: E402

NAME = re.compile(r"^[A-Za-z0-9][A-Za-z0-9_.-]{0,63}$")
UNIT = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")
SMALL = {
    "lineitem_rows": 500,
    "docs": 60,
    "vectors": 100,
    "queries": 4,
    "table_rows": 300,
    "index_vectors": 80,
    "batches": 2,
    "append_vectors": 5,
    "probe_queries": 2,
}


def _digests(out_dir) -> dict:
    """sha256 of every generated file (inputs and truth.json)."""
    return {
        name: hashlib.sha256((out_dir / name).read_bytes()).hexdigest()
        for name in sorted(os.listdir(out_dir))
    }


@pytest.mark.parametrize("workload", sorted(WORKLOADS))
def test_generator_is_deterministic_per_seed(tmp_path, workload):
    for name, seed in (("a", 7), ("b", 7), ("c", 8)):
        gen.generate(workload, seed, str(tmp_path / name), SMALL)
    da, db, dc = (_digests(tmp_path / n) for n in "abc")
    assert da == db
    assert set(da) == set(dc) and all(da[k] != dc[k] for k in da)


def test_generator_plants_the_truth(tmp_path):
    import pyarrow.parquet as pq

    li = gen.generate("clean_loop", 3, str(tmp_path / "li"), SMALL)
    t = pq.read_table(li["files"]["lineitem"])
    assert t.num_rows == SMALL["lineitem_rows"]
    assert t.column("l_quantity").null_count == li["truth"]["planted_nulls"]["l_quantity"]
    docs = gen.generate("corpus_curate", 3, str(tmp_path / "docs"), SMALL)
    ids = set(pq.read_table(docs["files"]["documents"]).column("doc_id").to_pylist())
    grouped = [i for g in docs["truth"]["groups"] for i in g]
    assert len(grouped) == len(set(grouped)) and set(grouped) <= ids
    assert set(docs["truth"]["low_quality_ids"]) <= ids - set(grouped)


def test_metric_names_match_benchmark_json():
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        bench = json.load(f)
    e2e = {m["name"]: m for m in bench["end_to_end"]}
    layer = {m["name"]: m for m in bench["per_layer"]}
    assert {k: m["unit"] for k, m in e2e.items()} == run.END_TO_END
    assert {k: m["unit"] for k, m in layer.items()} == spans.per_layer_names()
    assert [w["name"] for w in bench["workloads"]] == list(WORKLOADS)
    names = list(e2e) + list(layer) + [w["name"] for w in bench["workloads"]]
    assert len(names) == len(set(names))
    for n in names:
        assert NAME.match(n), n
    for m in list(e2e.values()) + list(layer.values()):
        assert UNIT.match(m["unit"]), m
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25
    assert 1 <= len(layer) <= 128


def test_result_object_shape():
    outs = [RunOut(attempted=5), RunOut(attempted=4, failed=1)]
    values = {k: 1.5 for k in run.END_TO_END}
    res = run.report(values, run.END_TO_END, outs)
    assert set(res) == {"correct", "attempted", "failed", "metrics"}
    assert (res["correct"], res["attempted"], res["failed"]) == (False, 9, 1)
    assert res["metrics"]["run_s"] == {"value": 1.5, "unit": "s"}
    assert set(res["metrics"]) == set(run.END_TO_END)
    json.loads(json.dumps(res))


def test_quantile_matches_statistics_inclusive():
    xs = [3.0, 1.0, 4.0, 1.5, 9.0, 2.6, 5.0]
    qs = statistics.quantiles(xs, n=10, method="inclusive")
    assert run.quantile(xs, 0.5) == pytest.approx(statistics.median(xs))
    assert run.quantile(xs, 0.9) == pytest.approx(qs[8])
    assert run.quantile([2.0], 0.9) == 2.0


def test_pair_f1():
    groups = [[1, 2, 3], [4, 5]]
    keep = {1, 2, 3, 4, 5}
    assert oracles.pair_f1({1: 1, 2: 1, 3: 1, 4: 4, 5: 4}, groups, keep) == 1.0
    # one of three true pairs in cluster 1 found, plus one false pair
    got = oracles.pair_f1({1: 1, 2: 1, 4: 4, 5: 4, 6: 4}, groups, keep | {6})
    assert got == pytest.approx(2 * 2 / (4 + 4))
    assert oracles.true_pair_count(groups, {1, 2, 4}) == 1


# ---------------------------------------------------------------------------
# attribution
# ---------------------------------------------------------------------------


def _write_log(path, events):
    with open(path, "w") as f:
        for e in events:
            f.write(json.dumps(e) + "\n")


def test_attribution_on_synthetic_event_log(tmp_path):
    t0 = 1_700_000_000.0
    ms = lambda s: int((t0 + s) * 1000)  # noqa: E731
    events = [
        # job 0 inside the profile span; two stages, the second re-used by job 1
        {"Event": "SparkListenerJobStart", "Job ID": 0, "Submission Time": ms(0.10), "Stage IDs": [0, 1]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 0, "Submission Time": ms(0.11)}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 0, "Task Info": {"Launch Time": ms(0.13)},
         "Task Metrics": {"Executor Run Time": 200, "JVM GC Time": 10,
                          "Shuffle Write Metrics": {"Shuffle Bytes Written": 1000},
                          "Input Metrics": {"Records Read": 50},
                          "Memory Bytes Spilled": 7, "Disk Bytes Spilled": 3}},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 1, "Submission Time": ms(0.40)}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 1, "Task Info": {"Launch Time": ms(0.40)},
         "Task Metrics": {"Executor Run Time": 100, "JVM GC Time": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 0, "Completion Time": ms(0.60)},
        # job 1 inside the detect span: lists stage 1 (skipped) and runs stage 2
        {"Event": "SparkListenerJobStart", "Job ID": 1, "Submission Time": ms(1.20), "Stage IDs": [1, 2]},
        {"Event": "SparkListenerStageSubmitted", "Stage Info": {"Stage ID": 2, "Submission Time": ms(1.25)}},
        {"Event": "SparkListenerTaskEnd", "Stage ID": 2, "Task Info": {"Launch Time": ms(1.30)},
         "Task Metrics": {"Executor Run Time": 300, "JVM GC Time": 0}},
        {"Event": "SparkListenerJobEnd", "Job ID": 1, "Completion Time": ms(1.50)},
        # job 2 between spans: an orphan
        {"Event": "SparkListenerJobStart", "Job ID": 2, "Submission Time": ms(1.80), "Stage IDs": []},
        {"Event": "SparkListenerJobEnd", "Job ID": 2, "Completion Time": ms(1.85)},
    ]
    path = tmp_path / "log"
    _write_log(path, events)
    jobs, stage_submit, tasks = spans.parse_event_log(str(path))
    sp = [
        spans.Span("profile", "profile_table", t0 + 0.0, t0 + 1.0),
        spans.Span("detect", "detect_missions", t0 + 1.0 + 0.01, t0 + 1.6),
        spans.Span("io", "write_parquet", t0 + 1.9, t0 + 2.0),
    ]
    m, summary = spans.layer_metrics(sp, jobs, stage_submit, tasks)
    assert summary == {"jobs": 3, "attributed": 2, "orphans": 1}
    assert m["profile.jobs"] == 1 and m["detect.jobs"] == 1 and m["io.jobs"] == 0
    assert m["profile.tasks"] == 2 and m["detect.tasks"] == 1
    assert m["profile.task_s"] == pytest.approx(0.3)
    assert m["profile.sched_wait_s"] == pytest.approx(0.02)
    assert m["profile.gc_s"] == pytest.approx(0.01)
    assert m["profile.shuffle_bytes"] == 1000 and m["profile.spill_bytes"] == 10
    assert m["profile.rows_read"] == 50
    # span 1.0 s, job busy 0.10..0.60 -> 0.5 s of driver-only time
    assert m["profile.driver_s"] == pytest.approx(0.5, abs=1e-3)
    assert m["detect.driver_s"] == pytest.approx(0.59 - 0.30, abs=1e-3)
    assert m["io.calls"] == 1 and m["io.driver_s"] == pytest.approx(0.1, abs=1e-3)


def test_attribution_on_toy_spark_run(tmp_path):
    """Jobs submitted from the engine's own worker threads carry no job
    group of the caller; time-based attribution must still find them."""
    pytest.importorskip("pyspark")
    from concurrent.futures import ThreadPoolExecutor

    from pyspark.sql import SparkSession

    log_dir = tmp_path / "events"
    log_dir.mkdir()
    spark = (
        SparkSession.builder.master("local[2]")
        .appName("perfbench-attribution-test")
        .config("spark.ui.enabled", "false")
        .config("spark.sql.adaptive.enabled", "false")  # one job per action
        .config("spark.eventLog.enabled", "true")
        .config("spark.eventLog.dir", f"file://{log_dir}")
        .config("spark.eventLog.compress", "false")
        .config("spark.eventLog.rolling.enabled", "false")
        .getOrCreate()
    )
    tr = spans.Tracer()
    try:
        df = spark.range(1000)
        with tr.span("profile", "two_threads"):
            with ThreadPoolExecutor(max_workers=2) as ex:
                list(ex.map(lambda m: df.filter(df.id % m == 0).count(), [2, 3]))
        time.sleep(0.05)
        df.count()  # outside every span
        time.sleep(0.05)
        with tr.span("detect", "one_job"):
            df.groupBy((df.id % 7).alias("k")).count().collect()
    finally:
        spark.stop()
    jobs, stage_submit, tasks = spans.parse_event_log(spans.find_event_log(str(log_dir)))
    m, summary = spans.layer_metrics(tr.spans, jobs, stage_submit, tasks)
    assert (m["profile.jobs"], m["detect.jobs"], summary["orphans"]) == (2, 1, 1)
    assert m["profile.tasks"] >= 2 and m["detect.tasks"] >= 1
    assert 0 <= m["profile.driver_s"] <= m["profile.call_s"]
