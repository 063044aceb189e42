"""Self-tests of the benchmark's measurement helpers and input generators.

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import os
import subprocess
import sys
import time

import pytest

HERE = os.path.dirname(os.path.abspath(__file__))
BENCH = os.path.dirname(HERE)
sys.path.insert(0, BENCH)

import datagen  # noqa: E402
from measure import (  # noqa: E402
    TooFewSamples,
    Tracer,
    nearest_rank,
    self_time,
    tick_percentile,
    union_length,
)


def test_percentile_refuses_fewer_than_ten_ticks_beyond():
    # 100 samples, one per tick: p90 has exactly 10 ticks above it
    samples = [(float(v), v) for v in range(100)]
    assert tick_percentile(samples, 90) == 89.0
    # 95 samples: p90 has 9 ticks above it
    with pytest.raises(TooFewSamples):
        tick_percentile(samples[:95], 90)


def test_percentile_counts_ticks_not_samples():
    # many samples beyond p90, but all from 5 ticks: refused
    samples = [(float(v), 0) for v in range(90)] + [(100.0 + v, v % 5) for v in range(50)]
    with pytest.raises(TooFewSamples):
        tick_percentile(samples, 90)


def test_nearest_rank():
    assert nearest_rank([5.0, 1.0, 3.0], 50) == 3.0
    assert nearest_rank([1.0, 2.0, 3.0, 4.0], 100) == 4.0
    with pytest.raises(TooFewSamples):
        nearest_rank([], 50)


def test_self_time_is_duration_minus_union_of_children():
    # children overlap each other and one sticks out of the parent
    assert self_time((0.0, 10.0), [(1.0, 3.0), (2.0, 4.0), (9.0, 12.0)]) == pytest.approx(6.0)
    assert self_time((0.0, 10.0), []) == pytest.approx(10.0)
    assert union_length([(0.0, 1.0), (0.5, 2.0), (3.0, 4.0)]) == pytest.approx(3.0)


def test_tracer_self_times_by_name():
    tr = Tracer("t", True)
    root = tr.add("pass", 0.0, 10.0)
    q = tr.add("query", 1.0, 5.0, root)
    tr.add("build", 1.0, 2.0, q)
    tr.add("execute", 2.0, 5.0, q)
    tr.add("query", 6.0, 8.0, root)
    st = tr.self_times()
    assert st["pass"] == pytest.approx(4.0)
    assert st["query"] == pytest.approx(2.0)  # 0 + 2
    assert st["build"] == pytest.approx(1.0)
    assert Tracer("off", False).add("x", 0.0, 1.0) is None


def _run_generator(tmp, seed: int, kind: str) -> dict[str, bytes]:
    src, staging = os.path.join(tmp, "src"), os.path.join(tmp, "tmp")
    os.makedirs(src)
    os.makedirs(staging)
    plan = {"kind": kind, "seed": seed, "first_tick": 0, "n_ticks": 6, "rows_per_tick": 20,
            "t0": time.time(), "src_dir": src, "tmp_dir": staging,
            "log": os.path.join(tmp, "log.json")}
    plan_path = os.path.join(tmp, "plan.json")
    with open(plan_path, "w", encoding="utf-8") as f:
        json.dump(plan, f)
    subprocess.run([sys.executable, os.path.join(BENCH, "generator.py"), plan_path],
                   check=True, timeout=60)
    with open(plan["log"], encoding="utf-8") as f:
        assert len(json.load(f)["lag_ms"]) == 6
    assert os.listdir(staging) == []  # every tick was renamed into place
    out = {}
    for name in sorted(os.listdir(src)):
        with open(os.path.join(src, name), "rb") as f:
            out[name] = f.read()
    return out


@pytest.mark.parametrize("kind", ["reviews", "events"])
def test_generator_is_deterministic_per_seed(tmp_path, kind):
    a = _run_generator(str(tmp_path / "a"), 7, kind)
    b = _run_generator(str(tmp_path / "b"), 7, kind)
    c = _run_generator(str(tmp_path / "c"), 8, kind)
    assert len(a) == 6
    assert a == b
    assert a != c


def test_review_ids_carry_the_scheduled_send_time():
    lines = datagen.review_tick(3, 41, 5)
    ids = [json.loads(line)["id"] for line in lines]
    assert all(datagen.review_tick_of(i) == 41 for i in ids)
    assert all(i.endswith(f"-{int(round(41 * datagen.TICK_S * 1000))}") for i in ids)


def test_event_resends_repeat_earlier_events_of_the_same_stream():
    earlier = {e["event_id"]: e for t in range(3) for e in datagen.event_tick(5, t, 40)}
    tick = datagen.event_tick(5, 3, 40)
    resends = tick[40:]
    assert len(resends) == int(40 * datagen.DUP_SHARE)
    assert all(earlier[e["event_id"]] == e for e in resends)


def test_corpus_tables_are_seeded(tmp_path):
    import pyarrow.parquet as pq

    for d in ("a", "b"):
        os.makedirs(tmp_path / d)
        datagen.corpus_tables(str(tmp_path / d), 4, 50, 20)
    for t in ("documents", "embeddings"):
        assert pq.read_table(tmp_path / "a" / f"{t}.parquet").equals(
            pq.read_table(tmp_path / "b" / f"{t}.parquet"))


def test_job_spans_nest_under_the_innermost_containing_span():
    from eventlog import EventLog, Job, add_job_spans

    tr = Tracer("t", True)
    q = tr.add("queries.q1", 0.0, 10.0)
    build = tr.add("queries.build", 0.0, 4.0, q)
    execute = tr.add("queries.execute", 4.0, 10.0, q)
    log = EventLog(jobs={1: Job(1, "pb:t-0:q1:build", 1.0, 2.0, [7]),
                         2: Job(2, "pb:t-0:q1:exec", 5.0, 9.0, [8]),
                         3: Job(3, "other", 5.0, 6.0, [9])},
                   stage_times={7: (1.1, 1.9), 8: (5.0, 8.5)})
    add_job_spans(tr, log, lambda j: j.group.startswith("pb:t-"),
                  {"queries.build", "queries.execute"})
    jobs = [s for s in tr.spans if s.name == "engine.job"]
    assert [s.parent for s in jobs] == [build, execute]
    stages = [s for s in tr.spans if s.name == "engine.stage"]
    assert [s.parent for s in stages] == [jobs[0].sid, jobs[1].sid]
    assert tr.self_times()["queries.build"] == pytest.approx(3.0)


def test_reaper_waits_for_orphaned_grandchildren():
    """A grandchild whose parent has already exited, as a Python worker of a
    killed JVM, is still stopped and waited for before the run exits."""
    script = "\n".join([
        "import os, subprocess, sys",
        f"sys.path[:0] = [{BENCH!r}, {os.path.dirname(BENCH)!r}]",
        "from harness import adopt_orphans, reap_descendants",
        "adopt_orphans()",
        "out = subprocess.run(['sh', '-c', 'sleep 60 >/dev/null 2>&1 & echo $!'],",
        "                     capture_output=True, text=True, check=True).stdout",
        "orphan = int(out)",
        "reap_descendants()",
        "print(orphan, os.path.exists(f'/proc/{orphan}'))",
    ])
    t = time.perf_counter()
    out = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         check=True, timeout=60).stdout.split()
    assert out[1] == "False", out
    assert time.perf_counter() - t < 30
