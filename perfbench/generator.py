"""Open-loop load generator: one process, one thread.

Writes tick k's file at `t0 + k * TICK_S` (wall clock) whether or not the
engine kept up, so a stall shows as latency instead of as less load.
Each tick's content is rebuilt from the seed, written under a temporary
name and renamed into the watched directory. How late each rename ran is
written to the log as JSON once the schedule ends.

    python3 perfbench/generator.py PLAN_JSON

PLAN_JSON keys: kind ("reviews" | "events"), seed, first_tick, n_ticks,
rows_per_tick, t0 (epoch seconds of tick 0), src_dir, tmp_dir, log.
"""

from __future__ import annotations

import json
import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import datagen  # noqa: E402


def run(plan: dict) -> list[float]:
    lag_ms = []
    first = plan["first_tick"]
    for tick in range(first, first + plan["n_ticks"]):
        lines = datagen.tick_lines(plan["kind"], plan["seed"], tick, plan["rows_per_tick"], first)
        due = plan["t0"] + (tick - first) * datagen.TICK_S
        wait = due - time.time()
        if wait > 0:
            time.sleep(wait)
        datagen.write_atomic(lines, plan["tmp_dir"], plan["src_dir"], datagen.tick_file_name(tick))
        lag_ms.append((time.time() - due) * 1000.0)
    return lag_ms


def main(plan_path: str) -> None:
    with open(plan_path, encoding="utf-8") as f:
        plan = json.load(f)
    lag_ms = run(plan)
    with open(plan["log"], "w", encoding="utf-8") as f:
        json.dump({"lag_ms": lag_ms}, f)


if __name__ == "__main__":
    main(sys.argv[1])
