"""The event-log fold on a log written by a local session at sf0.001 scale
(1,000 events): per-group counts, and a driver gap that stays non-negative
when a group's jobs overlap."""

from __future__ import annotations

import threading
import time

import pyarrow.parquet as pq
import pytest

import eventlog
import gen
from spans import Tracer


@pytest.fixture(scope="module")
def traced_log(tmp_path_factory):
    from neomarket_clickhouse_indexer_spark.session import get_spark

    d = tmp_path_factory.mktemp("evlog")
    logs = d / "log"
    logs.mkdir()
    pq.write_table(gen.events_table(1, n_events=1_000, n_users=20), d / "events.parquet")
    spark = get_spark("e2ebench-eventlog", cores=2, extra_conf={
        "spark.eventLog.enabled": "true",
        "spark.eventLog.compress": "false",
        "spark.eventLog.dir": str(logs),
        "spark.ui.showConsoleProgress": "false",
    })
    tracer = Tracer(spark.sparkContext)
    ev = spark.read.parquet(str(d / "events.parquet"))
    with tracer.span("one"):
        ev.groupBy("event_type").count().collect()
    with tracer.span("outer"):
        with tracer.span("inner"):
            ev.count()

    def pooled():
        tracer.thread_on(True)
        with tracer.span("pool"):
            ev.groupBy("user_id").count().collect()

    threads = [threading.Thread(target=pooled) for _ in range(3)]
    for t in threads:
        t.start()
    for t in threads:
        t.join(timeout=300)
    assert not any(t.is_alive() for t in threads)
    time.sleep(0.1)
    spark.stop()
    return eventlog.fold(str(logs)), tracer


def test_fold_reads_the_rolling_log(traced_log):
    jobs, _ = traced_log
    groups = eventlog.by_group(jobs)
    assert {"one", "outer/inner", "pool"} <= set(groups)
    assert groups["one"].jobs >= 1
    assert groups["one"].tasks >= groups["one"].stages >= 1
    assert groups["pool"].jobs >= 3
    assert groups["pool"].exec_cpu_s > 0


def test_overlapping_jobs_never_give_a_negative_gap(traced_log):
    jobs, tracer = traced_log
    pool = [j for j in jobs if j.group == "pool"]
    spans = tracer.intervals("pool")
    figs = eventlog.layer_figures(pool, spans)
    summed = sum(j.end - j.start for j in pool)
    assert summed > eventlog.covered([(j.start, j.end) for j in pool])  # they overlap
    assert 0 <= figs["driver_gap_s"] <= figs["wall_s"]
    assert figs["wall_s"] == pytest.approx(eventlog.covered(spans))


def test_nested_spans_attribute_jobs_to_both_layers(traced_log):
    jobs, tracer = traced_log
    for layer in ("outer", "inner"):
        owned = [j for j in jobs if layer in j.group.split("/")]
        assert eventlog.layer_figures(owned, tracer.intervals(layer))["jobs"] >= 1


def test_union_and_clip():
    assert eventlog.union([(3, 4), (0, 2), (1, 3)]) == [(0, 4)]
    assert eventlog.covered([(0, 1), (0.5, 2), (5, 6)]) == 3
    assert eventlog.clip([(0, 10)], [(2, 3), (5, 6)]) == [(2, 3), (5, 6)]
