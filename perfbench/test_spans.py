"""Tests of the event-log fold and of metric naming, on a tiny session.

    python3 -m pytest perfbench -q -p no:cacheprovider
"""

from __future__ import annotations

import json
import os
import sys
import threading
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import spans  # noqa: E402
from run import END_TO_END  # noqa: E402
from workloads import per_layer_names  # noqa: E402


@pytest.fixture(scope="module")
def traced(tmp_path_factory):
    """Spans and event log of a local[2] session that ran: a plain job in
    span ``plain``; a mapInPandas job in ``arrow``; a job submitted from
    a thread the caller started, inside ``threaded``; one job in no span."""
    from pyspark import SparkConf, SparkContext
    from pyspark.sql import SparkSession

    events = tmp_path_factory.mktemp("events")
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (str(HERE.parent), os.environ.get("PYTHONPATH")) if p)
    conf = (
        SparkConf().setMaster("local[2]").setAppName("perfbench-test")
        .set("spark.ui.enabled", "false")
        .set("spark.ui.showConsoleProgress", "false")
        .set("spark.sql.shuffle.partitions", "2")
        .set("spark.eventLog.enabled", "true")
        .set("spark.eventLog.dir", str(events))
        .set("spark.eventLog.compress", "false")
        .set("spark.eventLog.rolling.enabled", "false")
    )
    spark = SparkSession(SparkContext(conf=conf))
    try:
        tracer = spans.Tracer(spark.sparkContext)
        spark.range(10).count()
        with tracer.span("root"):
            with tracer.span("plain"):
                spark.range(1000).selectExpr("id % 7 AS k").groupBy("k").count().collect()
            with tracer.span("arrow"):
                def double(batches):
                    for pdf in batches:
                        yield pdf * 2
                spark.range(1000, numPartitions=2).mapInPandas(double, "id long").collect()
            with tracer.span("threaded"):
                worker = threading.Thread(target=lambda: spark.range(50).count())
                worker.start()
                worker.join(timeout=120)
                assert not worker.is_alive()
    finally:
        spark.stop()
    (log,) = list(events.iterdir())
    return tracer.spans, spans.read_event_log(str(log))


def test_named_span_gets_its_jobs(traced):
    span_list, events = traced
    jobs, _ = spans.fold_jobs(events)
    owner = spans.attribute(jobs, span_list)
    names = {s.id: s.name for s in span_list}
    counts = {}
    for sid in owner.values():
        counts[names.get(sid)] = counts.get(names.get(sid), 0) + 1
    assert counts["plain"] >= 1 and counts["arrow"] >= 1
    assert counts[None] >= 1, "the job before the first span belongs to no span"
    grouped = {j.group for j in jobs.values() if owner[j.id] == span_list[1].id}
    assert grouped == {spans.GROUP_PREFIX + str(span_list[1].id)}


def test_thread_job_falls_back_to_submission_time(traced):
    span_list, events = traced
    m = spans.span_metrics(events, span_list)
    assert m["threaded"]["jobs"] >= 1
    assert m["root"]["jobs"] == m["plain"]["jobs"] + m["arrow"]["jobs"] + m["threaded"]["jobs"]
    assert m["root"]["unattributed_exec_s"] == 0.0


def test_arrow_span_measures_the_python_crossing(traced):
    span_list, events = traced
    m = spans.span_metrics(events, span_list)
    assert m["arrow"]["py_bytes_out"] > 0 and m["arrow"]["py_bytes_in"] > 0
    assert m["arrow"]["py_run_s"] > 0
    assert m["plain"]["py_bytes_out"] == 0
    assert m["plain"]["shuffle_write_bytes"] > 0
    assert 0 <= m["root"]["self_s"] < m["root"]["s"]
    assert 0 <= m["root"]["driver_s"] <= m["root"]["s"]


def test_metric_names_are_valid_and_match_benchmark_json():
    bench = json.loads((HERE.parent / "BENCHMARK.json").read_text())
    declared = [(m["name"], m["unit"]) for m in bench["per_layer"]]
    assert declared == per_layer_names()
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == END_TO_END
    names = [n for n, _ in declared] + [m["name"] for m in bench["end_to_end"]]
    assert len(names) == len(set(names))
    assert len(bench["per_layer"]) <= 128
    for name in names:
        assert spans.METRIC_NAME.fullmatch(name), name
