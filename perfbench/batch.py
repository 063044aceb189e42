"""Closed-loop batch suites: one client runs the query list one query at a
time. Each query is timed from the registry call `fn(spark, data_dir)`
through the action that fetches its result, with the jobs of each phase
counted through status-tracker job groups; every result is hashed and
compared with its DuckDB oracle over the same parquet."""

from __future__ import annotations

import hashlib
import json
import os
import re
import time
from dataclasses import dataclass, field

import duckdb

from bigdata_streaming_absa_vehicle_spark.queries import all_queries
from bigdata_streaming_absa_vehicle_spark.tables import TABLE_NAMES

import datagen
from harness import fresh_dir, jobs_in_group
from measure import Tracer, canon, median

#: the reference dashboards' group-by / count-distinct / top-N / time-bucket
#: / window / session shapes and the TPC-H join shapes (star join, Q3, Q18);
#: one query per shape, so a run fits the benchmark's time budget
DASHBOARD_QUERIES = (
    "q04_group_sum_multikey q07_count_distinct q08_time_bucket "
    "q09_pricing_summary q12_latest_topn q13_grouped_topk q17_star_join "
    "q63_tumbling_window_batch q91_sessionize "
    "q96_tpch_q3_shipping_priority q158_tpch_q18_large_orders"
).split()

#: one corpus query per operator module: dedup (MinHash LSH), similarity
#: (quantized all-pairs kernel), text_analysis (quality and token stats),
#: multimodal (baseline-JPEG decode)
OPERATOR_QUERIES = (
    "q41_minhash_lsh_neardup q44_embedding_neardup q48_quality_and_tokens q416_jpeg_decode"
).split()

#: measured passes per run, at the least: the first also compiles each
#: query's plan, and per-query medians are taken over the others
MIN_PASSES = 3


@dataclass(frozen=True)
class BatchWorkload:
    name: str
    queries: tuple[str, ...]
    star_sf: float
    n_docs: int
    n_vecs: int

    def make_data(self, data_dir: str, seed: int) -> dict[str, int]:
        rows = datagen.star_tables(data_dir, seed, self.star_sf)
        rows.update(datagen.corpus_tables(data_dir, seed, self.n_docs, self.n_vecs))
        return rows


WORKLOADS = {w.name: w for w in (
    BatchWorkload("analytics_batch", tuple(DASHBOARD_QUERIES + OPERATOR_QUERIES),
                  star_sf=0.02, n_docs=3000, n_vecs=1000),
)}


@dataclass
class QueryTiming:
    name: str
    build_s: float
    execute_s: float
    build_jobs: int
    jobs: int
    ok: bool
    error: str = ""

    @property
    def total_s(self) -> float:
        return self.build_s + self.execute_s


@dataclass
class Suite:
    data_dir: str
    table_rows: dict[str, int]
    oracle: dict[str, tuple]
    passes: list[list[QueryTiming]] = field(default_factory=list)
    pass_s: list[float] = field(default_factory=list)


def data_version() -> str:
    with open(datagen.__file__, "rb") as f:
        return hashlib.md5(f.read()).hexdigest()[:10]


def prepare(wl: BatchWorkload, seed: int, cache_root: str) -> Suite:
    """Generate (or reuse) the seeded tables, and hash every query's DuckDB
    oracle over them. Only the tables are cached, keyed on the generator's
    source; the oracle hashes are computed on every run, so they always
    follow the current query registry."""
    data_dir = os.path.join(cache_root, f"{wl.name}-{seed}-{data_version()}")
    rows_path = os.path.join(data_dir, "rows.json")
    if not os.path.exists(rows_path):
        tmp = fresh_dir(data_dir + ".tmp")
        rows = wl.make_data(tmp, seed)
        with open(os.path.join(tmp, "rows.json"), "w", encoding="utf-8") as f:
            json.dump(rows, f)
        os.rename(tmp, data_dir)
    with open(rows_path, encoding="utf-8") as f:
        rows = json.load(f)
    return Suite(data_dir, rows, oracle_hashes(wl.queries, data_dir))


def oracle_hashes(names, data_dir: str) -> dict[str, tuple]:
    specs = all_queries()
    con = duckdb.connect()
    try:
        for t in TABLE_NAMES:
            path = os.path.join(data_dir, f"{t}.parquet")
            if os.path.exists(path):
                con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{path}')")
        return {n: canon(con.execute(specs[n].oracle).df()) for n in names}
    finally:
        con.close()


def tables_read(name: str) -> list[str]:
    """Tables a query reads, from the table names its oracle SQL mentions."""
    sql = all_queries()[name].oracle
    return [t for t in TABLE_NAMES if re.search(rf"\b{t}\b", sql)]


def input_rows_per_pass(wl: BatchWorkload, suite: Suite) -> int:
    return sum(suite.table_rows.get(t, 0) for q in wl.queries for t in tables_read(q))


def run_query(spark, name: str, fn, data_dir: str, group: str, tracer: Tracer,
              parent: int | None) -> tuple[QueryTiming, object]:
    """Time fn() and the action that fetches the result; returns the timing
    and the result frame (None when the query raised)."""
    sc = spark.sparkContext
    try:
        with tracer.span(f"queries.{name}", parent) as qs:
            sc.setJobGroup(f"{group}:build", name)
            with tracer.span("queries.build", qs.sid):
                t0 = time.perf_counter()
                df = fn(spark, data_dir)
                t1 = time.perf_counter()
            sc.setJobGroup(f"{group}:exec", name)
            with tracer.span("queries.execute", qs.sid):
                result = df.toPandas()
                t2 = time.perf_counter()
    except Exception as e:  # a failing query is a counted failure, not a crash
        return QueryTiming(name, 0.0, 0.0, 0, 0, False, f"{type(e).__name__}: {e}"[:300]), None
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return QueryTiming(name, t1 - t0, t2 - t1, 0, 0, True), result


def run_pass(spark, wl: BatchWorkload, suite: Suite, tag: str, tracer: Tracer) -> list[QueryTiming]:
    """One closed-loop pass. Job counts and result hashes are taken after
    the pass, so the pass's wall time holds only the queries."""
    specs = all_queries()
    done = []
    with tracer.span("queries.pass") as ps:
        t = time.perf_counter()
        for name in wl.queries:
            done.append(run_query(spark, name, specs[name].fn, suite.data_dir,
                                  f"pb:{tag}:{name}", tracer, ps.sid))
        suite.pass_s.append(time.perf_counter() - t)
    out = []
    for timing, result in done:
        if result is not None:
            group = f"pb:{tag}:{timing.name}"
            timing.build_jobs = jobs_in_group(spark, f"{group}:build")
            timing.jobs = timing.build_jobs + jobs_in_group(spark, f"{group}:exec")
            if canon(result) != suite.oracle[timing.name]:
                timing.ok, timing.error = False, "result hash differs from oracle"
        out.append(timing)
    suite.passes.append(out)
    return out


def run_for(spark, wl: BatchWorkload, suite: Suite, seconds: float, tag: str,
            tracer: Tracer) -> None:
    """Whole passes while the next one is expected to end within `seconds`,
    at least MIN_PASSES."""
    suite.passes, suite.pass_s = [], []
    start = time.perf_counter()
    while (len(suite.passes) < MIN_PASSES
           or time.perf_counter() - start + suite.pass_s[-1] <= seconds):
        run_pass(spark, wl, suite, f"{tag}-{len(suite.passes)}", tracer)


def query_medians(names, passes: list[list[QueryTiming]]) -> dict[str, float]:
    """Each query's median time (s) over the passes after the first, which
    also compiled its plan. (A median over all passes is in effect the
    slower of the warm passes, the noisiest figure of them.)"""
    return {q: median([t.total_s for p in passes[1:] for t in p if t.name == q]) for q in names}


def warmup(spark, suite: Suite) -> None:
    """A small aggregate over the largest table and a pandas UDF call, so
    the scan, shuffle and Python-worker paths are live."""
    from pyspark.sql import functions as F

    from bigdata_streaming_absa_vehicle_spark.tables import load

    table = max(suite.table_rows, key=suite.table_rows.get)
    df = load(spark, suite.data_dir, table)

    @F.pandas_udf("long")
    def one(s):
        return s * 0 + 1

    df.groupBy(F.spark_partition_id()).agg(F.sum(one(F.lit(1)))).collect()
