"""Server process of the serve workloads.

    python3 perfbench/serve_host.py DATA_DIR SAP_DIR SETUPS TRACE

Sets the server up ``SETUPS`` times, each time from a fresh SparkSession:
load the semantic model, mount the SAP fixture parquet under ``SAP_DIR``
and the tables under ``DATA_DIR`` with ``loader.load_tables`` (model tables
without fixtures stay ``register_empty_views``), build the engine context
(knowledge graph, catalog) and accept a first request. It then prints one
JSON line (port, set-up times) and obeys commands read on
stdin, one per line:

- ``trace on`` / ``trace off``: start or stop recording spans,
- ``expect SQL_LIST``: given a JSON list of SQL texts, print one JSON
  line mapping each to its reference answer (see :func:`reference`),
- ``stats``: print one JSON line with the traced units and Spark state,
- ``dump PATH``: write the recorded spans to PATH, one JSON object a line,
- ``quit``: stop the server and Spark, then exit.

With ``TRACE`` = 1 the layer functions are wrapped (see ``tracer.py``).
While tracing is on, each request that carries the ``X-Trace: 1`` header
is traced under a Spark job group of its own; the others pass through the
same wrappers without recording.
"""

from __future__ import annotations

import datetime
import decimal
import itertools
import json
import os
import sys
import time
import urllib.request
from concurrent.futures import ThreadPoolExecutor

HERE = os.path.dirname(os.path.abspath(__file__))
sys.path[:0] = [os.path.dirname(HERE), HERE]

import tracer as tracing  # noqa: E402
from serve_load import row_hash  # noqa: E402
from pyspark.sql import SparkSession  # noqa: E402
from sap_sql_engine_spark import nl, results, server  # noqa: E402
from sap_sql_engine_spark.kg import KnowledgeGraph  # noqa: E402
from sap_sql_engine_spark.plans import dialect, executor, governance, lineage  # noqa: E402
from sap_sql_engine_spark.session import get_spark  # noqa: E402
from sap_sql_engine_spark.sources.loader import load_tables  # noqa: E402
from sap_sql_engine_spark.sources.registry import SemanticModel  # noqa: E402


def set_up(data_dir: str, sap_dir: str, sap_tables: list[str]):
    """Session start to first accepted request; returns the live objects
    and the elapsed seconds."""
    t0 = time.perf_counter()
    spark = get_spark("perfbench-serve")
    model = SemanticModel.load()
    model.register_empty_views(spark)
    load_tables(spark, sap_dir, names=tuple(sap_tables))
    load_tables(spark, data_dir)
    srv = server.create_server(spark, model)
    server.start_background(srv)
    with urllib.request.urlopen(f"http://127.0.0.1:{srv.server_port}/api/status") as r:
        r.read()
    return spark, model, srv, time.perf_counter() - t0


def _plain(v):
    """A collected value in the form the API's result contract gives it."""
    if isinstance(v, decimal.Decimal):
        return float(v)
    if isinstance(v, (datetime.date, datetime.datetime)):
        return v.isoformat()
    if isinstance(v, (bytes, bytearray)):
        return bytes(v).hex()
    return v


def reference(spark: SparkSession, sql: str) -> dict:
    """The expected answer to ``sql``, worked out without the server and
    the executor: the governance block type if the analyzed plan is
    blocked, else the column names and the hash of every row of a full
    collect (the API returns at most ``DEFAULT_MAX_ROWS`` of them)."""
    try:
        df = spark.sql(dialect.transpile(sql))
        block = governance.check(df)
        if block is not None:
            return {"type": block.type}
        return {"columns": df.schema.names,
                "rows": [row_hash([_plain(v) for v in r]) for r in df.collect()]}
    except Exception as e:
        return {"error": str(e).splitlines()[0][:200]}


def instrument(tr: tracing.Tracer, spark: SparkSession) -> None:
    """Wrap the request handler (root span + job group) and each layer."""
    handler = server._Handler
    do_post = handler.do_POST
    rids = itertools.count(1)

    def traced_post(self):
        rid, sampled = f"req-{next(rids)}", self.headers.get("X-Trace") == "1"
        with tr.root("server", rid, sampled, endpoint=self.path) as rec:
            if rec is not None:
                spark.sparkContext.setJobGroup(rid, self.path)
            do_post(self)

    handler.do_POST = traced_post
    tr.wrap(nl, "answer", "nl.answer",
            on_return=lambda rec, out: rec.update(template_hit="template" in out))
    tr.wrap(nl, "classify", "nl.classify")
    tr.wrap(dialect, "transpile", "dialect.transpile")
    tr.wrap(SparkSession, "sql", "catalyst.analyze")
    tr.wrap(governance, "check", "governance.check",
            on_return=lambda rec, out: rec.update(blocked=out is not None))
    tr.wrap(executor, "collect_result", "executor.collect_result")
    tr.wrap(results, "infer_chart", "results.infer_chart")
    tr.wrap(lineage, "column_lineage", "lineage.column_lineage")
    for method in ("find_join_path", "all_join_paths", "resolve_question", "resolve_term"):
        tr.wrap(KnowledgeGraph, method, f"kg.{method}")


def stats(tr: tracing.Tracer, spark: SparkSession) -> dict:
    units = tr.units()
    for u in units:
        u["jobs"], u["tasks"] = tracing.job_counts(spark, u["rid"])
    return {
        "units": units,
        "persistent_rdds": tracing.persistent_rdds(spark),
        "storage_mb": tracing.storage_mb(spark),
    }


def main() -> int:
    data_dir, sap_dir, setups, trace = sys.argv[1:5]
    sap_tables = sorted(f[: -len(".parquet")] for f in os.listdir(sap_dir))
    times = []
    srv = spark = None
    for _ in range(int(setups)):
        if srv is not None:
            srv.shutdown()
            srv.server_close()
            spark.stop()
        spark, model, srv, dt = set_up(data_dir, sap_dir, sap_tables)
        times.append(dt)
    tr = tracing.Tracer()
    if trace == "1":
        instrument(tr, spark)
    print(json.dumps({
        "port": srv.server_port,
        "setup_s": times,
        "spark_version": spark.version,
    }), flush=True)
    for line in sys.stdin:
        cmd = line.strip()
        if cmd in ("trace on", "trace off"):
            tr.enabled = cmd == "trace on"
            print(json.dumps({"ok": cmd}), flush=True)
        elif cmd.startswith("expect "):
            sqls = json.loads(cmd[7:])
            with ThreadPoolExecutor(len(os.sched_getaffinity(0))) as pool:
                refs = dict(zip(sqls, pool.map(lambda q: reference(spark, q), sqls)))
            print(json.dumps(refs), flush=True)
        elif cmd == "stats":
            print(json.dumps(stats(tr, spark)), flush=True)
        elif cmd.startswith("dump "):
            tr.dump(cmd[5:])
            print(json.dumps({"ok": "dump"}), flush=True)
        elif cmd == "quit":
            break
    srv.shutdown()
    srv.server_close()
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
