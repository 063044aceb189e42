"""Measurement helpers: percentiles, spans with self time, process-tree RSS
from /proc, load average, and the order-insensitive result hash."""

from __future__ import annotations

import hashlib
import json
import math
import os
import threading
import time
from dataclasses import asdict, dataclass


#: distinct ticks a percentile needs above it to be reported
MIN_TICKS_BEYOND = 10
#: seconds between memory samples
RSS_PERIOD_S = 0.2


class TooFewSamples(ValueError):
    """A percentile was asked for with too few samples beyond it."""


def nearest_rank(values: list[float], q: float) -> float:
    """The q-th percentile (0 < q <= 100) by the nearest-rank rule."""
    if not values:
        raise TooFewSamples("no samples")
    s = sorted(values)
    return s[max(math.ceil(q / 100.0 * len(s)), 1) - 1]


def tick_percentile(samples: list[tuple[float, int]], q: float) -> float:
    """Percentile of (value, tick) samples that refuses to answer unless at
    least MIN_TICKS_BEYOND distinct ticks have a sample above it: a
    percentile needs that many independent cases beyond it to mean more
    than its single worst tick."""
    p = nearest_rank([v for v, _ in samples], q)
    beyond = {t for v, t in samples if v > p}
    if len(beyond) < MIN_TICKS_BEYOND:
        raise TooFewSamples(f"p{q:g} has {len(beyond)} ticks beyond it, need {MIN_TICKS_BEYOND}")
    return p


def median(values: list[float]) -> float:
    s = sorted(values)
    n = len(s)
    if n == 0:
        raise TooFewSamples("no samples")
    return s[n // 2] if n % 2 else (s[n // 2 - 1] + s[n // 2]) / 2.0


# ---------------------------------------------------------------------------
# spans
# ---------------------------------------------------------------------------


@dataclass
class Span:
    sid: int
    name: str
    start: float
    end: float
    parent: int | None
    run_id: str


class Tracer:
    """In-memory span recorder; a disabled tracer records nothing."""

    def __init__(self, run_id: str, enabled: bool) -> None:
        self.run_id = run_id
        self.enabled = enabled
        self.spans: list[Span] = []

    def add(self, name: str, start: float, end: float, parent: int | None = None) -> int | None:
        if not self.enabled:
            return None
        sid = len(self.spans)
        self.spans.append(Span(sid, name, start, end, parent, self.run_id))
        return sid

    def span(self, name: str, parent: int | None = None) -> "_Open":
        return _Open(self, name, parent)

    def self_times(self) -> dict[str, float]:
        """Total self time (s) per span name."""
        children: dict[int, list[Span]] = {}
        for s in self.spans:
            if s.parent is not None:
                children.setdefault(s.parent, []).append(s)
        out: dict[str, float] = {}
        for s in self.spans:
            kids = [(c.start, c.end) for c in children.get(s.sid, [])]
            out[s.name] = out.get(s.name, 0.0) + self_time((s.start, s.end), kids)
        return out

    def write(self, path: str) -> None:
        with open(path, "w", encoding="utf-8") as f:
            json.dump({"spans": [asdict(s) for s in self.spans],
                       "self_time_s": self.self_times()}, f)


class _Open:
    def __init__(self, tracer: Tracer, name: str, parent: int | None) -> None:
        self.tracer, self.name, self.parent = tracer, name, parent
        self.sid: int | None = None

    def __enter__(self) -> "_Open":
        self.start = time.time()
        if self.tracer.enabled:
            # reserve the id now so children opened inside can point at it
            self.sid = self.tracer.add(self.name, self.start, self.start, self.parent)
        return self

    def __exit__(self, *exc) -> None:
        if self.sid is not None:
            self.tracer.spans[self.sid].end = time.time()


def union_length(intervals: list[tuple[float, float]]) -> float:
    total, cur_s, cur_e = 0.0, None, None
    for s, e in sorted(intervals):
        if cur_e is None or s > cur_e:
            if cur_e is not None:
                total += cur_e - cur_s
            cur_s, cur_e = s, e
        else:
            cur_e = max(cur_e, e)
    if cur_e is not None:
        total += cur_e - cur_s
    return total


def self_time(span: tuple[float, float], children: list[tuple[float, float]]) -> float:
    """Duration minus the union of the children's intervals clipped to the span."""
    s, e = span
    clipped = [(max(a, s), min(b, e)) for a, b in children if min(b, e) > max(a, s)]
    return (e - s) - union_length(clipped)


# ---------------------------------------------------------------------------
# host telemetry
# ---------------------------------------------------------------------------

def _proc_parents() -> dict[int, int]:
    """pid -> ppid for every visible process."""
    out = {}
    for d in os.listdir("/proc"):
        if not d.isdigit():
            continue
        try:
            with open(f"/proc/{d}/stat", "rb") as f:
                stat = f.read()
        except OSError:
            continue  # the process ended between listdir and open
        # comm may contain spaces or parentheses: ppid follows the last ')'
        out[int(d)] = int(stat[stat.rindex(b")") + 2:].split()[1])
    return out


def _pss_bytes(pid: int) -> int:
    """Proportional set size: resident pages, shared ones divided among the
    processes sharing them, so forked Python workers are not counted once
    per fork."""
    try:
        with open(f"/proc/{pid}/smaps_rollup", "rb") as f:
            for line in f:
                if line.startswith(b"Pss:"):
                    return int(line.split()[1]) * 1024
    except OSError:
        pass
    return 0


def tree(root: int, exclude: frozenset[int] | set[int] = frozenset()) -> list[int]:
    """`root` and its descendants, skipping the subtrees rooted at `exclude`."""
    kids: dict[int, list[int]] = {}
    for pid, ppid in _proc_parents().items():
        kids.setdefault(ppid, []).append(pid)
    out, stack = [], [root]
    while stack:
        pid = stack.pop()
        if pid in exclude:
            continue
        out.append(pid)
        stack.extend(kids.get(pid, ()))
    return out


def tree_memory(root: int, exclude: set[int]) -> dict[int, int]:
    """pid -> PSS bytes for `root` and its descendants, skipping the
    subtrees rooted at `exclude`."""
    return {pid: _pss_bytes(pid) for pid in tree(root, exclude)}


class RssSampler:
    """Samples the resident memory (PSS) of this process's tree — the
    driver, the JVM it launched and the Python workers under it — on a
    background thread and keeps the peak of the sum. Load-generator
    processes are excluded."""

    def __init__(self) -> None:
        self.exclude: set[int] = set()
        self.peak = 0
        self.peak_by_pid: dict[int, int] = {}
        self._stop = threading.Event()
        self._thread: threading.Thread | None = None

    def sample(self) -> None:
        by_pid = tree_memory(os.getpid(), self.exclude)
        total = sum(by_pid.values())
        if total > self.peak:
            self.peak, self.peak_by_pid = total, by_pid

    def _loop(self) -> None:
        while not self._stop.wait(RSS_PERIOD_S):
            self.sample()

    def __enter__(self) -> "RssSampler":
        self._thread = threading.Thread(target=self._loop, name="rss-sampler", daemon=True)
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)
        self.sample()


def loadavg_1m() -> float:
    return os.getloadavg()[0]


def contended(load_before: float) -> bool:
    """A run is contended when the 1-minute load average before it started
    exceeded 1.5x the core count: more than a preceding run of this
    benchmark leaves behind (the engine keeps at most one task thread per
    core busy), so other work was competing for the cores."""
    return load_before > 1.5 * (os.cpu_count() or 1)


# ---------------------------------------------------------------------------
# result hashing (floats at 6 dp, order-insensitive)
# ---------------------------------------------------------------------------


def canon(df) -> tuple[str, list[str], int]:
    """(md5, sorted column names, rows) of a pandas frame: columns sorted by
    name, floats rounded to 6 dp, timestamps in ISO form, rows sorted."""
    cols = sorted(df.columns)
    rows = []
    for t in df[cols].itertuples(index=False):
        parts = []
        for v in t:
            if v is None or (isinstance(v, float) and math.isnan(v)):
                parts.append("<null>")
            elif isinstance(v, float):
                parts.append(f"{round(v, 6):.6f}")
            elif hasattr(v, "isoformat"):
                parts.append(v.isoformat())
            elif isinstance(v, (list, tuple)) or type(v).__name__ == "ndarray":
                parts.append(str(list(v)))
            else:
                parts.append(str(v))
        rows.append("|".join(parts))
    rows.sort()
    return hashlib.md5("\n".join(rows).encode()).hexdigest(), cols, len(rows)
