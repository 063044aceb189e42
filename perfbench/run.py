"""Benchmark entry point.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Builds the workload's inputs from the seed,
sets the engine up (median of several cold set-ups, each launching the
JVM), measures for about S seconds, checks every output against its batch
twin or DuckDB oracle, and prints one JSON object as the last line of
stdout:

    {"correct": ..., "attempted": ..., "failed": ..., "metrics": {...}}

With --trace 0 the metrics are the end-to-end ones; with --trace 1 the run
measures again with an event log and spans, once more untraced for the
overhead figure, and reports the per-layer metrics. The result (with the
host load and whether the run was contended), spans and the whole run
directory stay under perfbench/out/runs/<run>/.

Workloads:
  absa_stream      open loop at 3,000 reviews/s on a 1 s trigger for S
                   seconds, then 2 drains of 48,000 rows. The traced run also drains ~33,600 events
                   twice through dedup_within_watermark -> tumbling_counts
                   for the streaming.event_time layer metrics.
  analytics_batch  11 dashboard / TPC-H queries and 4 corpus-operator
                   queries, at least 3 closed-loop passes
"""

from __future__ import annotations

import argparse
import json
import os
import signal
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)
OUT = os.path.join(HERE, "out")
sys.path.insert(0, HERE)

STREAMS = ("absa_stream",)
BATCHES = ("analytics_batch",)

#: Peak memory is not among them: the JVM grows its heap in steps whose
#: timing varies, so one run's peak lands in one of two modes about 30%
#: apart, too wide for a regression bound. It is the per-layer
#: host.peak_rss_mb.
END_TO_END = {
    "setup_s": "s",
    "throughput_rows_per_s": "1/s",
    "latency_p50_ms": "ms",
    "latency_p90_ms": "ms",
    "suite_s": "s",
}

#: every per-layer metric and its unit, besides one `queries.<name>.s` per
#: batch query; a layer a workload does not exercise reports 0 (no time
#: spent, no work done): the streaming layers on analytics_batch, the
#: queries layer on absa_stream
PER_LAYER = {
    "session.start_s": "s", "session.warmup_s": "s",
    "sources.latest_offset_ms": "ms", "sources.get_batch_ms": "ms",
    "sources.backlog_rows_max": "count", "sources.generator_lag_ms_max": "ms",
    "streaming.batches": "count", "streaming.rows_per_batch_p50": "count",
    "streaming.query_planning_ms": "ms", "streaming.wal_commit_ms": "ms",
    "streaming.commit_offsets_ms": "ms", "streaming.add_batch_ms": "ms",
    "streaming.trigger_ms": "ms", "streaming.drain_add_batch_ms": "ms",
    "streaming.trigger_coverage": "ratio",
    **{f"event_time.{op}.{k}": u for op in ("dedup", "window") for k, u in (
        ("state_rows", "count"), ("state_memory_bytes", "bytes"), ("commit_ms", "ms"),
        ("update_ms", "ms"), ("removal_ms", "ms"))},
    "event_time.dropped_by_watermark": "count", "event_time.dup_removed_ratio": "ratio",
    "inference.predict_rows_per_s": "1/s", "inference.python_eval_ms": "ms",
    "inference.arrow_bytes": "bytes",
    "sinks.write_ms": "ms", "sinks.files_written": "count", "sinks.bytes_written": "bytes",
    "sinks.batches_rewritten": "count",
    "queries.build_s": "s", "queries.execute_s": "s", "queries.jobs": "count",
    "queries.build_jobs": "count",
    "engine.shuffle_write_bytes": "bytes", "engine.shuffle_read_bytes": "bytes",
    "engine.spill_bytes": "bytes", "engine.task_skew": "ratio", "engine.executor_cpu_ms": "ms",
    "engine.gc_ms": "ms", "engine.tasks": "count", "engine.tasks_failed": "count",
    "engine.drain_1core_rows_per_s": "1/s",
    "trace.overhead_pct": "%", "trace.spans": "count",
    "host.peak_rss_mb": "MB",
}


class Result:
    def __init__(self) -> None:
        self.attempted = 0
        self.failed = 0
        self.e2e: dict[str, float] = {}
        self.layer: dict[str, float] = {}
        self.detail: dict = {"phases_s": {}}
        self._t = time.perf_counter()

    def phase(self, name: str) -> None:
        """Record the wall time since the previous phase mark under `name`."""
        now = time.perf_counter()
        self.detail["phases_s"][name] = now - self._t
        self._t = now


def count_checks(res: Result, checks: list[tuple[int, int, dict]]) -> None:
    for attempted, failed, detail in checks:
        res.attempted += attempted
        res.failed += failed
        res.detail.setdefault("checks", []).append(detail)


def stream_run(name: str, seed: int, seconds: float, trace: bool, run_dir: str, rss,
               conf: dict[str, str]) -> Result:
    import streams
    from harness import Engine, eventlog_conf, fresh_dir
    from measure import Tracer, median, tick_percentile

    wl = streams.ABSA
    res = Result()
    backlog = streams.stage_backlog(wl, seed, os.path.join(run_dir, "backlog"))
    warm_dir = os.path.join(run_dir, "warm")
    os.makedirs(warm_dir, exist_ok=True)
    engine = Engine(lambda spark: wl.warmup(spark, warm_dir, seed), conf)
    res.phase("inputs")
    try:
        engine.setup_repeatedly()
        res.phase("setup")
        if not trace:
            run = streams.measure(engine.spark, wl, seed, seconds, os.path.join(run_dir, "m"),
                                  rss, Tracer(name, False), backlog)
            res.phase("measure")
            count_checks(res, streams.check_queries(engine.spark, wl, [run.open_loop, *run.drains]))
            res.phase("check")
            samples = wl.latency_samples(run)
            res.phase("latency")
            drain_s = streams.drain_seconds(run.drains)
            res.e2e = {
                "throughput_rows_per_s": backlog[1] / drain_s,
                "latency_p50_ms": tick_percentile(samples, 50),
                "latency_p90_ms": tick_percentile(samples, 90),
                "suite_s": drain_s,
            }
            res.detail["drain_s"] = [q.t_end - q.t_start for q in run.drains]
            res.detail["latency_samples"] = len(samples)
            res.detail["generator_lag_ms_max"] = max(run.gen_lag_ms)
            return finish_setup(res, engine)

        # the whole measurement with an event log and spans, then the same
        # drains untraced in a fresh session as the reference for the
        # tracing overhead (both after a warm JVM, the reference later)
        log_dir = fresh_dir(os.path.join(run_dir, "eventlog"))
        engine.restart(eventlog_conf(log_dir))
        wl.warmup(engine.spark, warm_dir, seed)
        tracer = Tracer(f"{name}-{seed}", True)
        traced = streams.measure(engine.spark, wl, seed, seconds, os.path.join(run_dir, "t"), rss,
                                 tracer, backlog)
        res.phase("measure")
        count_checks(res, streams.check_queries(engine.spark, wl,
                                                [traced.open_loop, *traced.drains]))
        res.phase("check")
        # the event-time pipeline, drained in the same traced session
        events = streams.stage_backlog(streams.EVENTS, seed, os.path.join(run_dir, "events"))
        ev = streams.drains(engine.spark, streams.EVENTS, events,
                            fresh_dir(os.path.join(run_dir, "ev")), tracer)
        count_checks(res, streams.check_queries(engine.spark, streams.EVENTS, ev))
        res.phase("events")
        engine.restart()  # also completes the event log
        wl.warmup(engine.spark, warm_dir, seed)
        ref = streams.drains(engine.spark, wl, backlog, fresh_dir(os.path.join(run_dir, "m")),
                             Tracer(name, False))
        count_checks(res, streams.check_queries(engine.spark, wl, ref))
        res.phase("reference")
        res.layer = streams.stream_layer_metrics(traced, wl, seed)
        res.layer.update(streams.EVENTS.event_time_metrics(ev, events[1]))
        res.layer["streaming.trigger_coverage"] = min(
            res.layer["streaming.trigger_coverage"], *map(streams.trigger_coverage, ev))
        ref_s = streams.drain_seconds(ref)
        res.layer["trace.overhead_pct"] = (
            100.0 * (streams.drain_seconds(traced.drains) - ref_s) / ref_s)
        groups = {q.run_id for q in [traced.open_loop, *traced.drains]}
        # one core: the single-threaded baseline of the same drain
        cpus = os.environ["SPARK_GRAFT_CPUS"]
        os.environ["SPARK_GRAFT_CPUS"] = "1"
        try:
            engine.restart()
            wl.warmup(engine.spark, warm_dir, seed)
            one = streams.drain(engine.spark, wl, backlog[0], backlog[1],
                                fresh_dir(os.path.join(run_dir, "one")), "drain")
            res.layer["engine.drain_1core_rows_per_s"] = backlog[1] / streams.drain_seconds([one])
            count_checks(res, streams.check_queries(engine.spark, wl, [one]))
        finally:
            os.environ["SPARK_GRAFT_CPUS"] = cpus
        res.phase("one_core")
        add_engine_metrics(res, log_dir, lambda job: job.group in groups, tracer,
                           {"streaming.trigger"})
        finish_trace(res, tracer, run_dir)
        res.layer["session.start_s"] = median(engine.times.start_s)
        res.layer["session.warmup_s"] = median(engine.times.warmup_s)
        return res
    finally:
        engine.stop()


def finish_setup(res: Result, engine) -> Result:
    res.e2e["setup_s"] = engine.times.total_median()
    res.detail["setup"] = {"start_s": engine.times.start_s, "warmup_s": engine.times.warmup_s}
    return res


def batch_run(name: str, seed: int, seconds: float, trace: bool, run_dir: str,
              conf: dict[str, str]) -> Result:
    import batch
    from harness import Engine, eventlog_conf, fresh_dir
    from measure import Tracer, median, nearest_rank

    wl = batch.WORKLOADS[name]
    res = Result()
    suite = batch.prepare(wl, seed, os.path.join(OUT, "data"))
    engine = Engine(lambda spark: batch.warmup(spark, suite), conf)
    res.phase("inputs")
    try:
        engine.setup_repeatedly()
        res.phase("setup")
        if trace:
            # traced passes with an event log, then untraced passes in a
            # fresh session as the reference for the tracing overhead
            log_dir = fresh_dir(os.path.join(run_dir, "eventlog"))
            engine.restart(eventlog_conf(log_dir))
            batch.warmup(engine.spark, suite)
            tracer = Tracer(f"{name}-{seed}", True)
            batch.run_for(engine.spark, wl, suite, seconds, "t", tracer)
            traced, traced_s = suite.passes, median(suite.pass_s)
            engine.restart()  # also completes the event log
            batch.warmup(engine.spark, suite)
        batch.run_for(engine.spark, wl, suite, seconds, "m", Tracer(name, False))
        res.phase("measure")
        suite_s = median(suite.pass_s)
        for timing in (t for p in suite.passes + (traced if trace else []) for t in p):
            res.attempted += 1
            if not timing.ok:
                res.failed += 1
                res.detail.setdefault("failures", []).append([timing.name, timing.error])
        if not trace:
            per_query = batch.query_medians(wl.queries, suite.passes)
            # percentiles over the per-query medians: one sample per query
            lat = [v * 1000.0 for v in per_query.values()]
            res.e2e = {
                "throughput_rows_per_s": batch.input_rows_per_pass(wl, suite) / suite_s,
                "latency_p50_ms": nearest_rank(lat, 50),
                "latency_p90_ms": nearest_rank(lat, 90),
                "suite_s": suite_s,
            }
            res.detail["passes_s"] = suite.pass_s
            res.detail["query_s"] = per_query
            res.detail["latency_samples"] = len(lat)
            return finish_setup(res, engine)
        for q, v in batch.query_medians(wl.queries, traced).items():
            res.layer[f"queries.{q}.s"] = v
        for key, attr in (("queries.build_s", "build_s"), ("queries.execute_s", "execute_s"),
                          ("queries.jobs", "jobs"), ("queries.build_jobs", "build_jobs")):
            res.layer[key] = median([sum(getattr(t, attr) for t in p) for p in traced])
        res.layer["trace.overhead_pct"] = 100.0 * (traced_s - suite_s) / suite_s
        add_engine_metrics(res, log_dir, lambda job: job.group.startswith("pb:t-"), tracer,
                           {"queries.build", "queries.execute"})
        finish_trace(res, tracer, run_dir)
        res.layer["session.start_s"] = median(engine.times.start_s)
        res.layer["session.warmup_s"] = median(engine.times.warmup_s)
        return res
    finally:
        engine.stop()


def finish_trace(res: Result, tracer, run_dir: str) -> None:
    res.layer["trace.spans"] = len(tracer.spans)
    tracer.write(os.path.join(run_dir, "spans.json"))


def add_engine_metrics(res: Result, log_dir: str, in_scope, tracer, parents: set[str]) -> None:
    """Engine totals over the event-log jobs `in_scope` selects; the jobs and
    their stages also become spans under the benchmark's own spans."""
    import eventlog

    log = eventlog.parse(eventlog.find_log(log_dir))
    eventlog.add_job_spans(tracer, log, in_scope, parents)
    m = eventlog.engine_metrics(log, in_scope)
    for k in ("shuffle_write_bytes", "shuffle_read_bytes", "spill_bytes", "task_skew",
              "executor_cpu_ms", "gc_ms", "tasks", "tasks_failed"):
        res.layer[f"engine.{k}"] = m[k]
    res.layer["inference.python_eval_ms"] = m["python_eval_ms"]
    res.layer["inference.arrow_bytes"] = m["arrow_bytes"]


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=STREAMS + BATCHES)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = ap.parse_args(argv)

    sys.path.insert(0, ROOT)
    try:
        import bigdata_streaming_absa_vehicle_spark  # noqa: F401
    except ImportError as e:
        print(f"engine package not importable from {ROOT}: {e}", file=sys.stderr)
        return 2
    from harness import Engine, adopt_orphans, isolate
    from measure import RssSampler, contended, loadavg_1m

    # every process the run starts is stopped and waited for on the way
    # out, a termination request included
    adopt_orphans()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    run_id = f"{args.workload}-{args.seed}-{'trace' if args.trace else 'e2e'}-{os.getpid()}"
    run_dir = os.path.join(OUT, "runs", run_id)
    os.makedirs(run_dir)
    conf = isolate(run_dir)
    load_before = loadavg_1m()
    t = time.time()
    try:
        with RssSampler() as rss:
            if args.workload in STREAMS:
                res = stream_run(args.workload, args.seed, args.seconds, bool(args.trace),
                                 run_dir, rss, conf)
            else:
                res = batch_run(args.workload, args.seed, args.seconds, bool(args.trace),
                                run_dir, conf)
    finally:
        t_teardown = time.time()
        # The run directory (inputs, sinks, checkpoints, event log, engine
        # scratch) is kept: the state store fsyncs its files, and unlinking
        # synced files can take seconds per hundred on discard-mounted disks.
        Engine.shutdown_jvm()
    load_time, load_after = time.time(), loadavg_1m()
    res.layer["host.peak_rss_mb"] = rss.peak / 2**20
    if args.trace:
        import batch

        units = {**PER_LAYER, **{f"queries.{q}.s": "s" for w in batch.WORKLOADS.values()
                                 for q in w.queries}}
        metrics = {k: {"value": float(res.layer.get(k, 0.0)), "unit": u} for k, u in units.items()}
    else:
        metrics = {k: {"value": float(res.e2e[k]), "unit": u} for k, u in END_TO_END.items()}
    out = {"correct": res.failed == 0 and res.attempted > 0, "attempted": res.attempted,
           "failed": res.failed, "metrics": metrics}
    res.detail["peak_rss_mb"] = res.layer["host.peak_rss_mb"]
    res.detail["peak_mb_by_pid"] = {p: b / 2**20 for p, b in rss.peak_by_pid.items()}
    record = {**out, "workload": args.workload, "seed": args.seed, "trace": args.trace,
              "wall_s": time.time() - t, "teardown_s": load_time - t_teardown,
              "loadavg_1m": [load_before, load_after], "contended": contended(load_before),
              "detail": res.detail}
    with open(os.path.join(run_dir, "result.json"), "w", encoding="utf-8") as f:
        json.dump(record, f, indent=1)
    if record["contended"]:
        print(f"contended run (1-minute load {load_before:.2f} before start); "
              f"flagged in {run_dir}/result.json", file=sys.stderr)
    print(json.dumps(out))
    return 0


if __name__ == "__main__":
    sys.exit(main())
