"""batch_headline: headline builders run in-process, one query at a time.

Each query is built, collected with ``toPandas()`` (the repository
checker's action), compared with its DuckDB oracle answer on the same
parquet files, and followed by ``cachereg.release()``; its time covers
all three steps but the comparison. Oracle answers are
computed on a side thread during the untimed warm pass.
"""

from __future__ import annotations

import statistics
import sys
import threading
import time

import duckdb

import __spark_entry__ as entry
from sap_sql_engine_spark import cachereg
from sap_sql_engine_spark.session import get_spark
from sap_sql_engine_spark.sources.loader import TESTDATA_TABLES, load_tables

import tracer as tracing

# bench.HEADLINE lanes that fit the run budget: two iterating lanes bound
# by their driver-side build (reported one by one in the traced run) and
# six relational and text lanes bound by their action
LANES = ["copurchase_kcore_profile", "bpe_shard_assignment"]
QUERIES = LANES + [
    "pricing_summary", "top_customers_by_spend", "cheapest_supplier_per_part",
    "kn_bigram_smoothing", "dedup_ngram_jaccard", "events_sessionize",
]
ROUND_S = 12.0  # time of one timed round on 4 cores


def _normalize_df():
    saved = list(sys.path)
    try:
        from tools.check_correctness import normalize_df
    finally:
        sys.path[:] = saved
    return normalize_df


normalize_df = _normalize_df()


def oracle_answers(data_dir: str, tmp_dir: str, out: dict) -> None:
    con = duckdb.connect()
    con.execute("SET threads=1")
    con.execute(f"SET temp_directory='{tmp_dir}'")
    for t in TESTDATA_TABLES:
        con.execute(f"CREATE VIEW {t} AS SELECT * FROM read_parquet('{data_dir}/{t}.parquet')")
    sqls = entry.oracle_sql()
    for name in QUERIES:
        out[name] = normalize_df(con.execute(sqls[name]).fetchdf())
    con.close()


class Batch:
    def __init__(self, data_dir: str, work: str, tr: tracing.Tracer):
        self.data_dir, self.work, self.tr = data_dir, work, tr
        self.spark = None
        self.answers: dict[str, list] = {}
        self.failures: list[str] = []
        self.attempted = 0

    def set_up(self) -> float:
        """Session start, table mounts and the query registry."""
        t0 = time.perf_counter()
        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench-batch")
        load_tables(self.spark, self.data_dir)
        self.queries = entry.queries()
        return time.perf_counter() - t0

    def run_one(self, name: str, rid: str, job_group: bool = False) -> tuple[float, float, float]:
        """Build, collect and release one query; returns (build_s, action_s,
        release_s). The query's time is their sum: the blocking unpersist in
        ``cachereg.release()`` is part of what one query costs."""
        self.attempted += 1
        if job_group:
            self.spark.sparkContext.setJobGroup(rid, name)
        with self.tr.root("query", rid, query=name):
            t0 = time.perf_counter()
            try:
                df = self.queries[name](self.spark, self.data_dir)
                t1 = time.perf_counter()
                with self.tr.span("spark.action"):
                    pdf = df.toPandas()
                t2 = time.perf_counter()
                self.answers.setdefault(name, []).append(normalize_df(pdf))
            except Exception as e:
                self.failures.append(f"{name}: {str(e).splitlines()[0][:200]}")
                t1 = t2 = time.perf_counter()
            finally:
                t3 = time.perf_counter()
                cachereg.release()
                t4 = time.perf_counter()
        return t1 - t0, t2 - t1, t4 - t3

    def check(self, expected: dict) -> None:
        for name, got in self.answers.items():
            for ans in got:
                if ans != expected[name]:
                    self.failures.append(f"{name}: rows differ from the DuckDB oracle")
        self.answers.clear()


def run(data_dir: str, work: str, seconds: float, trace: bool, setups: int,
        spans_path: str) -> dict:
    tr = tracing.Tracer()
    b = Batch(data_dir, work, tr)
    try:
        return _measure(b, tr, seconds, trace, setups, spans_path)
    finally:
        if b.spark is not None:
            b.spark.stop()


def _measure(b: Batch, tr: tracing.Tracer, seconds: float, trace: bool, setups: int,
             spans_path: str) -> dict:
    setup = [b.set_up() for _ in range(setups)]

    expected: dict = {}
    oracle = threading.Thread(target=oracle_answers, args=(b.data_dir, b.work, expected))
    oracle.start()
    for name in QUERIES:  # warm pass: JIT, codegen and footer caches
        b.run_one(name, f"warm-{name}")
    oracle.join()
    if len(expected) != len(QUERIES):
        raise RuntimeError("oracle answers incomplete")
    b.check(expected)

    out = {"setup_s": setup}
    if trace:  # end-to-end figures come from untraced runs only
        out["layers"] = traced_pass(b, tr, expected, spans_path)
    else:
        out.update(timed_rounds(b, expected, seconds))
    out["attempted"], out["failures"] = b.attempted, b.failures
    return out


def timed_rounds(b: Batch, expected: dict, seconds: float) -> dict:
    """Run every query once a round, for as many whole rounds as take
    ``seconds`` on 4 cores (``ROUND_S``), at least one. The count does not
    follow the host's speed: queries keep getting faster over the first
    rounds, so a run that fit a second round in read a fifth faster."""
    times: dict[str, list[float]] = {n: [] for n in QUERIES}
    t0 = time.perf_counter()
    i = 0
    for _ in range(max(1, round(seconds / ROUND_S))):
        for name in QUERIES:
            times[name].append(sum(b.run_one(name, f"t{i}-{name}")))
            i += 1
    end = time.perf_counter()
    b.check(expected)
    per_query = {n: statistics.median(ts) for n, ts in times.items()}
    vals = list(per_query.values())
    return {
        "e2e": {
            "query_geomean_ms": statistics.geometric_mean(vals) * 1000.0,
            "query_mean_ms": statistics.fmean(vals) * 1000.0,
            "throughput_per_s": i / (end - t0),
        },
        "per_query_s": per_query,
    }


def traced_pass(b: Batch, tr: tracing.Tracer, expected: dict, spans_path: str) -> dict:
    """Run each query twice back to back, traced and untraced in
    alternating order, so the overhead is free of warm-up drift."""
    tr.wrap_builders()
    b.queries = entry.queries()
    untraced = 0.0
    for i, name in enumerate(QUERIES):
        for traced in (i % 2 == 0, i % 2 == 1):
            tr.enabled = traced
            times = b.run_one(name, f"{'traced' if traced else 'plain'}-{name}", job_group=True)
            if not traced:
                untraced += sum(times)
    tr.enabled = False
    b.check(expected)
    tr.dump(spans_path)
    units = tr.units()
    for u in units:
        u["jobs"], u["tasks"] = tracing.job_counts(b.spark, u["rid"])
    traced_s = sum(u["total"].get(n, 0.0) for u in units
                   for n in ("operators.build", "spark.action", "cachereg.release")) / 1000.0
    return {
        "units": units,
        "overhead_pct": (traced_s / untraced - 1.0) * 100.0,
        "persistent_rdds": tracing.persistent_rdds(b.spark),
        "storage_mb": tracing.storage_mb(b.spark),
    }
