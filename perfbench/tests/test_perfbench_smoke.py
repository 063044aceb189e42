"""Tiny-input smoke runs of every workload and of the event-time drains:
each finishes and passes its correctness check (stream sinks against their
batch twins, batch results against their DuckDB oracles).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import copy
import dataclasses
import os
import sys

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)
sys.path.insert(0, os.path.dirname(BENCH))

import batch  # noqa: E402
import streams  # noqa: E402
from harness import Engine  # noqa: E402
from measure import RssSampler, Tracer, tick_percentile  # noqa: E402


@pytest.fixture(scope="module")
def spark():
    engine = Engine(lambda s: None, {})
    engine.setup()
    yield engine.spark
    engine.stop()


def tiny(wl: streams.StreamWorkload) -> streams.StreamWorkload:
    wl = copy.copy(wl)
    wl.load = dataclasses.replace(wl.load, backlog_files=3, backlog_rows_per_file=200,
                                  drain_files_per_trigger=1)
    return wl


def test_absa_stream_smoke(spark, tmp_path):
    wl = tiny(streams.ABSA)
    wl.warm_ticks = 10
    backlog = streams.stage_backlog(wl, 1, str(tmp_path / "backlog"))
    wl.warmup(spark, str(tmp_path / "warm"), 1)
    run = streams.measure(spark, wl, 1, 1.0, str(tmp_path / "m"), RssSampler(),
                          Tracer(wl.name, True), backlog)
    checks = streams.check_queries(spark, wl, [run.open_loop, *run.drains])
    assert [failed for _, failed, _ in checks] == [0] * (1 + streams.DRAINS), checks
    assert all(attempted > 0 for attempted, _, _ in checks)
    samples = wl.latency_samples(run)
    assert samples and all(v > 0 for v, _ in samples)
    assert tick_percentile(samples, 50) > 0
    layer = streams.stream_layer_metrics(run, wl, 1)
    assert layer["sinks.batches_rewritten"] == 0
    assert 0 < layer["streaming.trigger_coverage"] <= 1


def test_event_window_drain_smoke(spark, tmp_path):
    wl = tiny(streams.EVENTS)
    backlog = streams.stage_backlog(wl, 1, str(tmp_path / "backlog"))
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    drains = streams.drains(spark, wl, backlog, str(tmp_path / "d"), Tracer(wl.name, True))
    checks = streams.check_queries(spark, wl, drains)
    assert [failed for _, failed, _ in checks] == [0] * streams.DRAINS, checks
    assert all(attempted > 0 for attempted, _, _ in checks)
    m = wl.event_time_metrics(drains, backlog[1])
    assert m["event_time.dedup.state_rows"] > 0 and m["event_time.window.state_rows"] > 0
    assert m["event_time.dropped_by_watermark"] == 0
    assert m["event_time.dup_removed_ratio"] == pytest.approx(1.0)


def test_batch_smoke(spark, tmp_path):
    wl = batch.BatchWorkload("tiny", ("q05_group_count", "q17_star_join",
                                      "q41_minhash_lsh_neardup"),
                             star_sf=0.001, n_docs=300, n_vecs=100)
    suite = batch.prepare(wl, 1, str(tmp_path))
    batch.run_for(spark, wl, suite, 0.0, "smoke", Tracer("tiny", True))
    assert len(suite.passes) == batch.MIN_PASSES
    timings = [t for p in suite.passes for t in p]
    assert [t.error for t in timings if not t.ok] == []
    assert all(t.jobs >= 1 and t.jobs >= t.build_jobs for t in timings)
