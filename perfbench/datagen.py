"""Seeded input generators for the benchmark workloads.

Every generator is a pure function of its seed (and, for streams, of the
tick index), so the open-loop generator process and the correctness
checker in the benchmark process rebuild byte-identical inputs without
sharing state. Tables are written as parquet in the engine's testdata
schemas (FIXTURES.md section C); stream ticks are JSON lines.
"""

from __future__ import annotations

import json
import os

import numpy as np
import pyarrow as pa
import pyarrow.parquet as pq

# ---------------------------------------------------------------------------
# streams
# ---------------------------------------------------------------------------

#: Vietnamese-style review vocabulary (the reference corpus is Vietnamese
#: product reviews); accented words exercise lower() on non-ASCII text.
REVIEW_WORDS = (
    "san pham dep gia re giao hang nhanh chat luong tot shop phuc vu kem size vua "
    "mau sac dong goi can than hai long se ung ho tiep khong giong hinh hoi dat "
    "Sản Phẩm Tốt Giá Rẻ Giao Hàng Nhanh Chất Lượng Kém Đóng Gói Cẩn Thận"
).split()

#: review-length mixture (words): short, medium and long reviews. The mix is
#: fixed; the seed draws which component and length each record gets.
LENGTH_MIX = ((0.5, 4, 16), (0.35, 16, 60), (0.15, 60, 200))

TICK_S = 0.05  # generator tick period
REVIEW_STREAM, EVENT_STREAM = 1, 2

EVENT_TYPES = ("click", "view", "purchase", "signup", "error")
N_USERS = 2000
ZIPF_S = 1.2
#: event time advances EVENT_SPEEDUP times faster than wall time, so a run
#: crosses many 1-minute windows and the 10-minute watermark evicts state
EVENT_SPEEDUP = 60
EVENT_T0_MS = 1_704_067_200_000  # 2024-01-01T00:00:00Z
MAX_DISORDER_MS = 120_000  # stays well inside the 10-minute watermark
DUP_SHARE = 0.05  # share of each tick that re-sends events of earlier ticks
DUP_MAX_LAG = 3  # resends come from at most this many ticks back
CORPUS_DUP_SHARE = 0.08  # planted near-duplicate share of documents and vectors


def _rng(seed: int, *key: int) -> np.random.Generator:
    return np.random.default_rng([seed, *key])


def review_tick(seed: int, tick: int, rows: int) -> list[str]:
    """Kafka-envelope JSON lines {id, review} for one tick. The id carries
    the tick and its scheduled send offset (ms from the stream start), so a
    sink row alone says when its record was due."""
    rng = _rng(seed, REVIEW_STREAM, tick)
    probs = np.array([w for w, _, _ in LENGTH_MIX])
    comp = rng.choice(len(LENGTH_MIX), size=rows, p=probs / probs.sum())
    offset_ms = int(round(tick * TICK_S * 1000))
    lines = []
    for j, c in enumerate(comp):
        _, lo, hi = LENGTH_MIX[c]
        n = int(rng.integers(lo, hi + 1))
        words = rng.choice(len(REVIEW_WORDS), size=n)
        text = " ".join(REVIEW_WORDS[w] for w in words)
        if rng.random() < 0.1:  # irregular whitespace for the normalizer
            text = "  " + text.replace(" ", "   ", 2) + " "
        lines.append(
            json.dumps({"id": f"{tick:06d}-{j:05d}-{offset_ms}", "review": text},
                       ensure_ascii=False)
        )
    return lines


def review_tick_of(record_id: str) -> int:
    return int(record_id.split("-", 1)[0])


def _pmf(n: int) -> np.ndarray:
    """Zipf(ZIPF_S) over n keys."""
    w = 1.0 / np.arange(1, n + 1) ** ZIPF_S
    return w / w.sum()


def _fresh_events(seed: int, tick: int, rows: int) -> list[dict]:
    """The originals of one tick: ids are tick * rows + j, event time
    follows the tick clock minus a bounded disorder."""
    rng = _rng(seed, EVENT_STREAM, tick)
    base_ms = EVENT_T0_MS + int(tick * TICK_S * 1000) * EVENT_SPEEDUP
    users = rng.choice(N_USERS, size=rows, p=_pmf(N_USERS))
    disorder = rng.integers(0, MAX_DISORDER_MS, size=rows)
    types = rng.integers(0, len(EVENT_TYPES), size=rows)
    cents = rng.integers(1, 49_002, size=rows)
    ks = rng.integers(0, 100, size=rows)
    out = []
    for j in range(rows):
        ts = np.datetime64(int(base_ms - disorder[j]), "ms")
        out.append(
            {
                "event_id": tick * rows + j,
                "ts": f"{np.datetime_as_string(ts, unit='ms')}Z",
                "user_id": int(users[j]),
                "event_type": EVENT_TYPES[types[j]],
                "value": int(cents[j]) / 100.0,
                "props": json.dumps({"k": int(ks[j])}),
            }
        )
    return out


def event_tick(seed: int, tick: int, rows: int, first_tick: int = 0) -> list[dict]:
    """One tick of the events stream: `rows` originals plus DUP_SHARE of
    resends (identical records) drawn from the previous DUP_MAX_LAG ticks
    no earlier than `first_tick` — at-least-once producer retries."""
    events = _fresh_events(seed, tick, rows)
    lags = [d for d in range(1, DUP_MAX_LAG + 1) if tick - d >= first_tick]
    if lags:
        rng = _rng(seed, EVENT_STREAM, tick, 1)
        n_dup = int(rows * DUP_SHARE)
        earlier = {d: _fresh_events(seed, tick - d, rows) for d in lags}
        for d, j in zip(rng.choice(lags, size=n_dup), rng.integers(0, rows, size=n_dup)):
            events.append(earlier[int(d)][int(j)])
    return events


def event_lines(events: list[dict]) -> list[str]:
    return [json.dumps(e) for e in events]


def tick_lines(kind: str, seed: int, tick: int, rows: int, first_tick: int) -> list[str]:
    """The JSON lines of one tick of the `kind` ("reviews" | "events") stream."""
    if kind == "reviews":
        return review_tick(seed, tick, rows)
    return event_lines(event_tick(seed, tick, rows, first_tick))


def write_atomic(lines: list[str], tmp_dir: str, dest_dir: str, name: str) -> None:
    """Write a tick file under a temporary name, then rename it into the
    watched directory, so the source never lists a half-written file."""
    tmp = os.path.join(tmp_dir, name)
    with open(tmp, "w", encoding="utf-8") as f:
        f.write("\n".join(lines))
        f.write("\n")
    os.rename(tmp, os.path.join(dest_dir, name))


def tick_file_name(tick: int) -> str:
    return f"tick-{tick:06d}.json"


# ---------------------------------------------------------------------------
# batch tables (testdata schemas)
# ---------------------------------------------------------------------------

CORPUS_WORDS = (
    "spark window merge table column vector stream value data small join filter big "
    "group hash customer sort order slow line part fast row the agg key query a scan batch"
).split()


def _write(out_dir: str, name: str, table: pa.Table) -> int:
    pq.write_table(table, os.path.join(out_dir, f"{name}.parquet"))
    return table.num_rows


def _cents(rng: np.random.Generator, lo: float, hi: float, n: int) -> np.ndarray:
    return rng.integers(int(lo * 100), int(hi * 100) + 1, size=n) / 100.0


def _days(rng: np.random.Generator, start: str, span_days: int, n: int) -> pa.Array:
    d = np.datetime64(start, "D") + rng.integers(0, span_days, size=n)
    return pa.array(d.astype("datetime64[us]"), type=pa.timestamp("us"))


def star_tables(out_dir: str, seed: int, sf: float) -> dict[str, int]:
    """region/nation/customer/supplier/part/orders/lineitem/events at scale
    factor `sf` (lineitem = 6M * sf rows), value domains as in testdata."""
    rows: dict[str, int] = {}
    rng = _rng(seed, 10)
    regions = ["AFRICA", "AMERICA", "ASIA", "EUROPE", "MIDDLE EAST"]
    rows["region"] = _write(out_dir, "region", pa.table({
        "r_regionkey": pa.array(range(5), pa.int32()), "r_name": regions}))
    rows["nation"] = _write(out_dir, "nation", pa.table({
        "n_nationkey": pa.array(range(25), pa.int32()),
        "n_name": [f"NATION_{i}" for i in range(25)],
        "n_regionkey": pa.array([i % 5 for i in range(25)], pa.int32())}))

    n_cust, n_supp, n_part = int(150_000 * sf), max(int(10_000 * sf), 10), int(200_000 * sf)
    n_ord, n_line = int(1_500_000 * sf), int(6_000_000 * sf)
    segs = np.array(["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"])
    rows["customer"] = _write(out_dir, "customer", pa.table({
        "c_custkey": pa.array(np.arange(n_cust), pa.int64()),
        "c_name": [f"Customer#{i:09d}" for i in range(n_cust)],
        "c_nationkey": pa.array(rng.integers(0, 25, n_cust), pa.int32()),
        "c_acctbal": _cents(rng, -999.99, 9999.99, n_cust),
        "c_mktsegment": segs[rng.integers(0, 5, n_cust)]}))
    rows["supplier"] = _write(out_dir, "supplier", pa.table({
        "s_suppkey": pa.array(np.arange(n_supp), pa.int64()),
        "s_name": [f"Supplier#{i:09d}" for i in range(n_supp)],
        "s_nationkey": pa.array(rng.integers(0, 25, n_supp), pa.int32()),
        "s_acctbal": _cents(rng, -999.99, 9999.99, n_supp)}))
    adj = np.array("small red hot old large blue cold new".split())
    noun = np.array("ring widget bolt plate rod gizmo gear anvil".split())
    types = np.array(["ECONOMY", "STANDARD", "LARGE", "SMALL", "MEDIUM", "PROMO"])
    price = np.round(900.0 + (np.arange(n_part) % 1000) * 0.1, 2)
    rows["part"] = _write(out_dir, "part", pa.table({
        "p_partkey": pa.array(np.arange(n_part), pa.int64()),
        "p_name": np.char.add(np.char.add(adj[rng.integers(0, 8, n_part)], " "),
                              noun[rng.integers(0, 8, n_part)]),
        "p_brand": [f"Brand#{b}" for b in rng.integers(1, 26, n_part)],
        "p_type": types[rng.integers(0, 6, n_part)],
        "p_size": pa.array(rng.integers(1, 51, n_part), pa.int32()),
        "p_retailprice": price}))
    prio = np.array(["1-URGENT", "2-HIGH", "3-MEDIUM", "4-NOT SPECIFIED", "5-LOW"])
    rows["orders"] = _write(out_dir, "orders", pa.table({
        "o_orderkey": pa.array(np.arange(n_ord), pa.int64()),
        "o_custkey": pa.array(rng.integers(0, n_cust, n_ord), pa.int64()),
        "o_orderstatus": np.array(["F", "O", "P"])[rng.integers(0, 3, n_ord)],
        "o_totalprice": _cents(rng, 1000, 499_999.99, n_ord),
        "o_orderdate": _days(rng, "1995-01-01", 2404, n_ord),
        "o_orderpriority": prio[rng.integers(0, 5, n_ord)]}))
    partkey = rng.integers(0, n_part, n_line)
    qty = rng.integers(1, 51, n_line).astype(np.float64)
    rows["lineitem"] = _write(out_dir, "lineitem", pa.table({
        "l_orderkey": pa.array(rng.integers(0, n_ord, n_line), pa.int64()),
        "l_partkey": pa.array(partkey, pa.int64()),
        "l_suppkey": pa.array(rng.integers(0, n_supp, n_line), pa.int64()),
        "l_linenumber": pa.array(rng.integers(1, 8, n_line), pa.int32()),
        "l_quantity": qty,
        "l_extendedprice": np.round(qty * price[partkey], 2),
        "l_discount": rng.integers(0, 11, n_line) / 100.0,
        "l_tax": rng.integers(0, 9, n_line) / 100.0,
        "l_returnflag": np.array(["A", "N", "R"])[rng.integers(0, 3, n_line)],
        "l_linestatus": np.array(["F", "O"])[rng.integers(0, 2, n_line)],
        "l_shipdate": _days(rng, "1995-01-02", 2498, n_line)}))

    n_ev = int(1_000_000 * sf)
    ev_ts = np.datetime64("2024-01-01", "us") + rng.integers(0, 30 * 86_400_000_000, n_ev)
    rows["events"] = _write(out_dir, "events", pa.table({
        "event_id": pa.array(np.arange(n_ev), pa.int64()),
        "ts": pa.array(ev_ts, pa.timestamp("us")),
        "user_id": pa.array(rng.choice(1500, size=n_ev, p=_pmf(1500)), pa.int64()),
        "event_type": np.array(EVENT_TYPES)[rng.integers(0, 5, n_ev)],
        "value": _cents(rng, 0.01, 490.02, n_ev),
        "props": [f'{{"k": {k}}}' for k in rng.integers(0, 100, n_ev)]}))
    return rows


def corpus_tables(out_dir: str, seed: int, n_docs: int, n_vecs: int) -> dict[str, int]:
    """documents + embeddings with a planted near-duplicate share: a
    CORPUS_DUP_SHARE of documents copy an earlier one (a quarter verbatim, the
    rest with one word appended), and the same share of vectors are small
    perturbations of an earlier vector."""
    rng = _rng(seed, 20)
    texts: list[str] = []
    for i in range(n_docs):
        if i > 10 and rng.random() < CORPUS_DUP_SHARE:
            src = texts[int(rng.integers(0, i))]
            texts.append(src if rng.random() < 0.25 else src + " dup")
        else:
            n = int(rng.integers(10, 101))
            texts.append(" ".join(CORPUS_WORDS[w] for w in rng.integers(0, len(CORPUS_WORDS), n)))
    langs = np.array(["en", "en", "en", "zh", "es", "fr", "de"])
    rows = {"documents": _write(out_dir, "documents", pa.table({
        "doc_id": pa.array(np.arange(n_docs), pa.int64()),
        "text": texts,
        "lang": langs[rng.integers(0, len(langs), n_docs)],
        "source": [f"src{i % 20}" for i in range(n_docs)],
        "n_chars": pa.array([len(t) for t in texts], pa.int64())}))}

    vecs = rng.standard_normal((n_vecs, 64))
    for i in range(11, n_vecs):
        if rng.random() < CORPUS_DUP_SHARE:
            vecs[i] = vecs[int(rng.integers(0, i))] + 0.15 * rng.standard_normal(64)
    vecs = (vecs / np.linalg.norm(vecs, axis=1, keepdims=True)).astype(np.float32)
    rows["embeddings"] = _write(out_dir, "embeddings", pa.table({
        "vec_id": pa.array(np.arange(n_vecs), pa.int64()),
        "embedding": pa.array(list(vecs), pa.list_(pa.float32())),
        "label": pa.array(rng.integers(0, 10, n_vecs), pa.int32())}))
    return rows
