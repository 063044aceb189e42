"""The streaming pipelines.

absa_stream   Kafka-envelope reviews -> streaming.pipelines.absa_stream ->
              foreachBatch(idempotent_parquet_writer). Stateless; bound by
              the Python inference UDF and the sink. The workload: an
              open-loop phase at a fixed rate, then drains of a pre-staged
              backlog by fresh queries.
event_window  events -> event_time.dedup_within_watermark ->
              tumbling_counts(watermark=None) -> the same sink, update mode.
              All JVM: state store, watermark, shuffle; no inference. Only
              drained, inside absa_stream's traced run, for the
              streaming.event_time layer metrics: its drains wait on the
              state store's file syncs and move by more than 20% from run
              to run, too much for a gated end-to-end figure.

Both read JSON-lines files with the file source; the `value` column of the
text source is the Kafka value the ABSA pipeline parses.
"""

from __future__ import annotations

import datetime as dt
import json
import os
import subprocess
import sys
import time
from dataclasses import dataclass

import pandas as pd
import pyarrow.parquet as pq

from bigdata_streaming_absa_vehicle_spark.operators.inference import load_model
from bigdata_streaming_absa_vehicle_spark.schemas import EVENT_ENVELOPE
from bigdata_streaming_absa_vehicle_spark.streaming.event_time import (
    dedup_within_watermark,
    tumbling_counts,
)
from bigdata_streaming_absa_vehicle_spark.streaming.pipelines import absa_stream
from bigdata_streaming_absa_vehicle_spark.streaming.sinks import idempotent_parquet_writer

import datagen
from harness import fresh_dir
from measure import Tracer, median, union_length

BACKLOG_FIRST_TICK = 1_000_000  # backlog ticks never overlap open-loop ticks
#: drains of the same backlog per run; for event_window the first also loads
#: the state store's native library
DRAINS = 2
WAIT_TIMEOUT_S = 90
GENERATOR = os.path.join(os.path.dirname(os.path.abspath(__file__)), "generator.py")


class StreamFailure(RuntimeError):
    """A query died or did not finish its input in time."""


@dataclass(frozen=True)
class StreamLoad:
    backlog_files: int
    backlog_rows_per_file: int
    drain_files_per_trigger: int


class TimedSink:
    """Wraps a foreachBatch sink callable and records (batch id, start, end)
    of every call; the end of the last call for a batch is its commit."""

    def __init__(self, inner) -> None:
        self.inner = inner
        self.calls: list[tuple[int, float, float]] = []

    def __call__(self, df, batch_id: int) -> None:
        t0 = time.time()
        self.inner(df, batch_id)
        self.calls.append((batch_id, t0, time.time()))

    def commit_times(self) -> dict[int, float]:
        return {b: end for b, _, end in self.calls}

    def rewritten(self) -> int:
        ids = [b for b, _, _ in self.calls]
        return len(ids) - len(set(ids))


@dataclass
class QueryRun:
    """What one streaming query did."""
    sink: TimedSink
    progress: list[dict]
    run_id: str
    out_dir: str
    src_dir: str
    t_start: float
    query: object  # the StreamingQuery
    t_end: float = 0.0


@dataclass
class StreamRun:
    open_loop: QueryRun
    drains: list[QueryRun]
    t0: float  # wall time of tick 0
    n_ticks: int
    gen_lag_ms: list[float]


def progress_time(p: dict) -> float:
    return dt.datetime.fromisoformat(p["timestamp"].replace("Z", "+00:00")).timestamp()


class StreamWorkload:
    name = ""
    kind = ""
    output_mode = "append"
    load: StreamLoad

    def source(self, spark, path: str, max_files: int | None = None):
        raise NotImplementedError

    def pipeline(self, df):
        raise NotImplementedError

    def twin(self, spark, path: str) -> pd.DataFrame:
        """The same transform over the same files as a batch DataFrame."""
        return self.pipeline(self.batch_source(spark, path)).toPandas()

    def tick_lines(self, seed: int, tick: int, rows: int, first_tick: int) -> list[str]:
        return datagen.tick_lines(self.kind, seed, tick, rows, first_tick)

    def batch_source(self, spark, path: str):
        raise NotImplementedError

    # -- checks -----------------------------------------------------------

    def check(self, got: pd.DataFrame, want: pd.DataFrame) -> tuple[int, int, dict]:
        """(attempted, failed, detail) for one query's sink rows `got` vs
        the twin's rows `want` over the same files."""
        raise NotImplementedError


class AbsaStream(StreamWorkload):
    name = "absa_stream"
    kind = "reviews"
    #: first ticks of the open loop, excluded from latency: they cover the
    #: query's first triggers (planning, first batches through the UDF) and
    #: the following seconds in which trigger times still fall as the JVM
    #: and the Python workers warm up
    warm_ticks = 120
    rows_per_tick = 150  # open-loop rate = rows_per_tick / TICK_S
    #: open-loop trigger interval, as the reference pipeline runs on a fixed
    #: trigger. With back-to-back triggers a record waits about two trigger
    #: durations, and per-trigger cost moves with host load several times
    #: more than per-row cost, so latency spread across runs by more than
    #: any regression bound. Drains run back to back.
    trigger_s = 1.0
    load = StreamLoad(backlog_files=48, backlog_rows_per_file=1000, drain_files_per_trigger=8)

    def source(self, spark, path, max_files=None):
        reader = spark.readStream
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        return reader.text(path)

    def batch_source(self, spark, path):
        return spark.read.text(path)

    def pipeline(self, df):
        return absa_stream(df)

    def check(self, got, want):
        dups = int(got["review_id"].duplicated().sum())
        got1 = got.drop_duplicates("review_id").drop(columns="batch_id")
        merged = want.merge(got1, on="review_id", how="left", suffixes=("", "_sink"),
                            indicator=True)
        missing = int((merged["_merge"] == "left_only").sum())
        cols = [c for c in want.columns if c != "review_id"]
        present = merged[merged["_merge"] == "both"]
        wrong = 0
        if len(present):
            diff = pd.Series(False, index=present.index)
            for c in cols:
                diff |= present[c].astype(str) != present[f"{c}_sink"].astype(str)
            wrong = int(diff.sum())
        extra = len(set(got1["review_id"]) - set(want["review_id"]))
        return len(want), missing + dups + wrong + extra, {
            "rows": len(want), "missing": missing, "duplicated": dups, "wrong": wrong,
            "unexpected": extra}

    def warmup(self, spark, run_dir: str, seed: int) -> None:
        """Push two ticks through the batch form of the pipeline into the
        sink, so Python workers, codegen and the parquet writer are live.
        (A streaming warm-up query would cost each set-up two triggers; the
        open loop's first `warm_ticks` cover the streaming path instead.)"""
        src = os.path.join(run_dir, "warm_src")
        if not os.path.isdir(src):
            fresh_dir(src)
            for t in range(2):
                lines = self.tick_lines(seed + 7919, t, self.rows_per_tick, 0)
                with open(os.path.join(src, datagen.tick_file_name(t)), "w", encoding="utf-8") as f:
                    f.write("\n".join(lines) + "\n")
        df = self.pipeline(self.batch_source(spark, src))
        idempotent_parquet_writer(os.path.join(run_dir, "warm_out"))(df, 0)

    def latency_samples(self, run: StreamRun) -> list[tuple[float, int]]:
        """(latency ms, tick) samples over the measured open-loop ticks."""
        q = run.open_loop
        commits = q.sink.commit_times()
        tbl = read_sink(q.out_dir, ["review_id", "batch_id"])
        ticks = tbl["review_id"].map(datagen.review_tick_of)
        done = tbl["batch_id"].map(commits)
        lat = (done - (run.t0 + ticks * datagen.TICK_S)) * 1000.0
        keep = ticks >= self.warm_ticks
        return list(zip(lat[keep].tolist(), ticks[keep].tolist()))

    def inference_metrics(self, run: StreamRun) -> dict[str, float]:
        texts = read_sink(run.drains[0].out_dir, ["review_text"])["review_text"].head(3000)
        norm = texts.str.lower().str.replace(r"\s+", " ", regex=True).str.strip()
        model = load_model("v0")
        t = time.perf_counter()
        model.predict(norm)
        return {"inference.predict_rows_per_s": len(norm) / (time.perf_counter() - t)}


class EventWindow(StreamWorkload):
    name = "event_window"
    kind = "events"
    output_mode = "update"
    load = StreamLoad(backlog_files=8, backlog_rows_per_file=4000, drain_files_per_trigger=4)
    KEY = "user_id"

    def source(self, spark, path, max_files=None):
        reader = spark.readStream.schema(EVENT_ENVELOPE)
        if max_files:
            reader = reader.option("maxFilesPerTrigger", max_files)
        return reader.json(path)

    def batch_source(self, spark, path):
        return spark.read.schema(EVENT_ENVELOPE).json(path)

    def pipeline(self, df):
        return tumbling_counts(dedup_within_watermark(df), watermark=None, key=self.KEY)

    def check(self, got, want):
        keys = ["window_start", self.KEY]
        dups = int(got.duplicated(keys + ["batch_id"]).sum())
        final = got.sort_values("batch_id").drop_duplicates(keys, keep="last").drop(columns="batch_id")
        merged = want.merge(final, on=keys, how="outer", suffixes=("", "_sink"), indicator=True)
        missing = int((merged["_merge"] == "left_only").sum())
        extra = int((merged["_merge"] == "right_only").sum())
        both = merged[merged["_merge"] == "both"]
        wrong = int(((both["n_events"] != both["n_events_sink"])
                     | ((both["total_value"] - both["total_value_sink"]).abs() > 1e-6)
                     | (both["window_end"] != both["window_end_sink"])).sum())
        return len(want), missing + extra + wrong + dups, {
            "windows": len(want), "missing": missing, "unexpected": extra, "wrong": wrong,
            "duplicated": dups}

    def event_time_metrics(self, drains: list[QueryRun], backlog_rows: int) -> dict[str, float]:
        """State-store figures of the last drain (the first also loads the
        state store's library); the watermark and dedup counts of all."""
        m: dict[str, float] = {}
        ops = {"dedupeWithinWatermark": "dedup", "stateStoreSave": "window"}
        for op_name, short in ops.items():
            states = [s for p in drains[-1].progress for s in p.get("stateOperators", [])
                      if s.get("operatorName") == op_name]
            m[f"event_time.{short}.state_rows"] = max((s["numRowsTotal"] for s in states), default=0)
            m[f"event_time.{short}.state_memory_bytes"] = max(
                (s["memoryUsedBytes"] for s in states), default=0)
            m[f"event_time.{short}.commit_ms"] = sum(s.get("commitTimeMs", 0) for s in states)
            m[f"event_time.{short}.update_ms"] = sum(s.get("allUpdatesTimeMs", 0) for s in states)
            m[f"event_time.{short}.removal_ms"] = sum(s.get("allRemovalsTimeMs", 0) for s in states)
        all_states = [s for d in drains for p in d.progress for s in p.get("stateOperators", [])]
        m["event_time.dropped_by_watermark"] = sum(s.get("numRowsDroppedByWatermark", 0)
                                                   for s in all_states)
        removed = sum(s.get("customMetrics", {}).get("numDroppedDuplicateRows", 0)
                      for s in all_states if s.get("operatorName") == "dedupeWithinWatermark")
        # resends are the backlog rows beyond the originals, read once per drain
        resent = backlog_rows - self.load.backlog_files * self.load.backlog_rows_per_file
        m["event_time.dup_removed_ratio"] = removed / (resent * len(drains))
        return m


ABSA, EVENTS = AbsaStream(), EventWindow()


def read_sink(out_dir: str, columns: list[str] | None = None) -> pd.DataFrame:
    """The sink's rows. pyarrow reads the `batch_id` partition column as a
    categorical ordered by directory name (10 before 9), so it is made an
    integer here before anything sorts by it."""
    df = pq.read_table(out_dir, columns=columns).to_pandas()
    if "batch_id" in df.columns:
        df["batch_id"] = df["batch_id"].astype("int64")
    return df


def check_queries(spark, wl: StreamWorkload, queries: list[QueryRun]) -> list[tuple[int, int, dict]]:
    """Each query's sink against the batch twin over the files it read; the
    twin of the backlog is computed once for all drains."""
    twins: dict[str, pd.DataFrame] = {}
    out = []
    for q in queries:
        if q.src_dir not in twins:
            twins[q.src_dir] = wl.twin(spark, q.src_dir)
        out.append(wl.check(read_sink(q.out_dir), twins[q.src_dir]))
    return out


# ---------------------------------------------------------------------------
# running a query
# ---------------------------------------------------------------------------


def start_query(spark, wl: StreamWorkload, src: str, out: str, ck: str,
                max_files: int | None = None, trigger_s: float | None = None) -> QueryRun:
    """Start the workload's query; with `trigger_s` on a processing-time
    trigger, else with each trigger starting as soon as the last ends."""
    sink = TimedSink(idempotent_parquet_writer(out))
    t = time.time()
    w = (wl.pipeline(wl.source(spark, src, max_files)).writeStream
         .foreachBatch(sink).outputMode(wl.output_mode)
         .option("checkpointLocation", ck))
    if trigger_s:
        w = w.trigger(processingTime=f"{trigger_s} seconds")
    q = w.start()
    return QueryRun(sink=sink, progress=[], run_id=str(q.runId), out_dir=out, src_dir=src,
                    t_start=t, query=q)


def processed_rows(q) -> int:
    return sum(p["numInputRows"] for p in q.recentProgress)


def wait_for_rows(q, rows: int, timeout_s: float = WAIT_TIMEOUT_S) -> None:
    deadline = time.time() + timeout_s
    while processed_rows(q) < rows:
        if q.exception() is not None or not q.isActive:
            raise StreamFailure(f"query stopped: {q.exception()}")
        if time.time() > deadline:
            raise StreamFailure(f"only {processed_rows(q)} of {rows} rows in {timeout_s}s")
        time.sleep(0.1)


def wait_idle(q, timeout_s: float = 30.0) -> None:
    """Until the query has started and waits for its first data."""
    deadline = time.time() + timeout_s
    while q.status["message"] != "Waiting for data to arrive":
        if q.exception() is not None or time.time() > deadline:
            raise StreamFailure(f"query did not start: {q.exception()}")
        time.sleep(0.05)


def last_data_commit(run: QueryRun) -> float:
    """Wall time of the sink commit of the last batch that carried rows: a
    no-data batch that only advances the watermark afterwards is not part
    of ingesting the input."""
    last = max(p["batchId"] for p in run.query.recentProgress if p["numInputRows"] > 0)
    return run.sink.commit_times()[last]


def finish(run: QueryRun) -> None:
    """Stop the query once it idles, so no trigger (such as a no-data batch
    that evicts state past the watermark) is interrupted mid-commit."""
    try:
        wait_idle(run.query)
    finally:
        run.progress = list(run.query.recentProgress)
        run.query.stop()


def stage_backlog(wl: StreamWorkload, seed: int, run_dir: str) -> tuple[str, int]:
    src = fresh_dir(os.path.join(run_dir, "backlog_src"))
    tmp = fresh_dir(os.path.join(run_dir, "backlog_tmp"))
    rows = 0
    for i in range(wl.load.backlog_files):
        tick = BACKLOG_FIRST_TICK + i
        lines = wl.tick_lines(seed, tick, wl.load.backlog_rows_per_file, BACKLOG_FIRST_TICK)
        datagen.write_atomic(lines, tmp, src, datagen.tick_file_name(tick))
        rows += len(lines)
    return src, rows


def open_loop(spark, wl: AbsaStream, seed: int, seconds: float, run_dir: str, rss) -> tuple:
    src = fresh_dir(os.path.join(run_dir, "open_src"))
    tmp = fresh_dir(os.path.join(run_dir, "open_tmp"))
    n_ticks = wl.warm_ticks + int(round(seconds / datagen.TICK_S))
    total = sum(len(wl.tick_lines(seed, t, wl.rows_per_tick, 0)) for t in range(n_ticks))
    q = start_query(spark, wl, src, os.path.join(run_dir, "open_out"), os.path.join(run_dir, "open_ck"),
                    trigger_s=wl.trigger_s)
    wait_idle(q.query)
    t0 = time.time() + 0.3
    plan = {"kind": wl.kind, "seed": seed, "first_tick": 0, "n_ticks": n_ticks,
            "rows_per_tick": wl.rows_per_tick, "t0": t0, "src_dir": src, "tmp_dir": tmp,
            "log": os.path.join(run_dir, "generator_log.json")}
    plan_path = os.path.join(run_dir, "generator_plan.json")
    with open(plan_path, "w", encoding="utf-8") as f:
        json.dump(plan, f)
    gen = subprocess.Popen([sys.executable, GENERATOR, plan_path])
    rss.exclude.add(gen.pid)
    try:
        if gen.wait(timeout=n_ticks * datagen.TICK_S + 60) != 0:
            raise StreamFailure("generator failed")
    finally:
        if gen.poll() is None:
            gen.kill()
            gen.wait()
    try:
        wait_for_rows(q.query, total)
        q.t_end = last_data_commit(q)
    finally:
        finish(q)
    with open(plan["log"], encoding="utf-8") as f:
        lag_ms = json.load(f)["lag_ms"]
    return q, t0, n_ticks, lag_ms


def drain(spark, wl: StreamWorkload, src: str, rows: int, run_dir: str, tag: str) -> QueryRun:
    q = start_query(spark, wl, src, os.path.join(run_dir, f"{tag}_out"),
                    os.path.join(run_dir, f"{tag}_ck"), wl.load.drain_files_per_trigger)
    try:
        wait_for_rows(q.query, rows)
        q.t_end = last_data_commit(q)
    finally:
        finish(q)
    return q


def drains(spark, wl: StreamWorkload, backlog: tuple[str, int], run_dir: str, tracer: Tracer,
           parent: int | None = None) -> list[QueryRun]:
    """DRAINS fresh queries over the same pre-staged backlog, one
    after another; each has its own checkpoint and sink."""
    out = []
    for i in range(DRAINS):
        with tracer.span(f"phase.drain.{wl.name}", parent) as sp:
            d = drain(spark, wl, backlog[0], backlog[1], run_dir, f"drain{i}")
        add_trigger_spans(tracer, d, sp.sid)
        out.append(d)
    return out


def measure(spark, wl: AbsaStream, seed: int, seconds: float, run_dir: str, rss,
            tracer: Tracer, backlog: tuple[str, int]) -> StreamRun:
    fresh_dir(run_dir)
    spark.conf.set("spark.sql.streaming.numRecentProgressUpdates", "100000")
    with tracer.span("phase.open_loop") as ph:
        q, t0, n_ticks, lag_ms = open_loop(spark, wl, seed, seconds, run_dir, rss)
    add_trigger_spans(tracer, q, ph.sid)
    for k, lag in enumerate(lag_ms):
        due = t0 + k * datagen.TICK_S
        tracer.add("generator.tick", due, due + lag / 1000.0, ph.sid)
    return StreamRun(q, drains(spark, wl, backlog, run_dir, tracer), t0, n_ticks, lag_ms)


def add_trigger_spans(tracer: Tracer, q: QueryRun, parent: int | None) -> None:
    if not tracer.enabled:
        return
    by_batch: dict[int, int] = {}
    for p in q.progress:
        start = progress_time(p)
        sid = tracer.add("streaming.trigger", start,
                         start + p["durationMs"].get("triggerExecution", 0) / 1000.0, parent)
        by_batch[p["batchId"]] = sid
    for b, s, e in q.sink.calls:
        tracer.add("sinks.write", s, e, by_batch.get(b, parent))


# ---------------------------------------------------------------------------
# metrics
# ---------------------------------------------------------------------------


def trigger_coverage(q: QueryRun) -> float:
    """Share of [start(), last commit] covered by trigger intervals."""
    iv = []
    for p in q.progress:
        s = progress_time(p)
        e = s + p["durationMs"].get("triggerExecution", 0) / 1000.0
        iv.append((max(s, q.t_start), min(e, q.t_end)))
    return union_length([i for i in iv if i[1] > i[0]]) / (q.t_end - q.t_start)


def measured_progress(run: StreamRun, wl: AbsaStream) -> list[dict]:
    start = run.t0 + wl.warm_ticks * datagen.TICK_S
    return [p for p in run.open_loop.progress
            if p["numInputRows"] > 0 and progress_time(p) >= start]


def backlog_rows_max(run: StreamRun, wl: AbsaStream, seed: int) -> int:
    """Max over tick writes of rows generated minus rows committed."""
    q = run.open_loop
    rows_of = {p["batchId"]: p["numInputRows"] for p in q.progress}
    commits = sorted((end, rows_of.get(b, 0)) for b, _, end in q.sink.calls)
    ticks_rows = [len(wl.tick_lines(seed, t, wl.rows_per_tick, 0)) for t in range(run.n_ticks)]
    worst, generated, ci, committed = 0, 0, 0, 0
    for k, lag in enumerate(run.gen_lag_ms):
        written = run.t0 + k * datagen.TICK_S + lag / 1000.0
        generated += ticks_rows[k]
        while ci < len(commits) and commits[ci][0] <= written:
            committed += commits[ci][1]
            ci += 1
        worst = max(worst, generated - committed)
    return worst


def stream_layer_metrics(run: StreamRun, wl: AbsaStream, seed: int) -> dict[str, float]:
    mp = measured_progress(run, wl)

    def p50(key: str) -> float:
        return median([p["durationMs"].get(key, 0) for p in mp]) if mp else 0.0

    queries = [run.open_loop, *run.drains]
    calls = [c for q in queries for c in q.sink.calls]
    files = [os.path.join(dp, f) for q in queries
             for dp, _, fs in os.walk(q.out_dir) for f in fs if f.endswith(".parquet")]
    m = {
        "sources.latest_offset_ms": p50("latestOffset"),
        "sources.get_batch_ms": p50("getBatch"),
        "sources.backlog_rows_max": backlog_rows_max(run, wl, seed),
        "sources.generator_lag_ms_max": max(run.gen_lag_ms),
        "streaming.batches": len(mp),
        "streaming.rows_per_batch_p50": median([p["numInputRows"] for p in mp]) if mp else 0.0,
        "streaming.query_planning_ms": p50("queryPlanning"),
        "streaming.wal_commit_ms": p50("walCommit"),
        "streaming.commit_offsets_ms": p50("commitOffsets"),
        "streaming.add_batch_ms": p50("addBatch"),
        "streaming.trigger_ms": p50("triggerExecution"),
        "streaming.drain_add_batch_ms": median([sum(p["durationMs"].get("addBatch", 0)
                                                    for p in d.progress) for d in run.drains]),
        "streaming.trigger_coverage": min(trigger_coverage(q) for q in run.drains),
        "sinks.write_ms": median([(e - s) * 1000.0 for _, s, e in calls]),
        "sinks.files_written": len(files),
        "sinks.bytes_written": sum(os.path.getsize(f) for f in files),
        "sinks.batches_rewritten": sum(q.sink.rewritten() for q in queries),
    }
    m.update(wl.inference_metrics(run))
    return m


def drain_seconds(runs: list[QueryRun]) -> float:
    """Median time from start() to the commit of the last data batch."""
    return median([q.t_end - q.t_start for q in runs])

