"""Load generator of the serve workloads: the request mix, closed-loop
clients, and the output checks that feed ``failed``.

Clients replay the web UI's request flows (``sap_sql_engine_spark/webui.py``):

- ``chat``: one ``/api/generate`` (``ask()``);
- ``run``: one ``/api/execute`` of a template's SQL (``devRun()``);
- ``inspect``: ``/api/execute``, then ``/api/lineage`` and ``/api/explain``
  on the same SQL (``devRun()`` and the two buttons it offers);
- ``blocked``: ``/api/execute`` of a row-level HR query that must come back
  403 with the expected governance type (``devRun()``'s shield);
- ``kg``: one ``/api/kg/join_path`` or ``/api/kg/resolve_question``; the UI
  does not send these, API clients do.

A pass sends every flow of every pool once, in an order drawn per seed,
so how often each flow occurs follows the pool sizes. Those sizes are an
assumption: the repository has no usage data. The timed window runs
whole passes (see :func:`passes`), so every run measures the same
requests whatever their order.

Answers are checked against references the server process computes before
the run, outside the server and the executor (``serve_host.reference``).
"""

from __future__ import annotations

import collections
import datetime
import hashlib
import http.client
import json
import os
import random
import statistics
import threading
import time
from dataclasses import dataclass, field

import pyarrow.parquet as pq

from sap_sql_engine_spark import nl
from sap_sql_engine_spark.cli import EXAMPLES
from sap_sql_engine_spark.plans.executor import DEFAULT_MAX_ROWS
from sap_sql_engine_spark.sources.registry import SemanticModel
from sap_sql_engine_spark.templates import TemplateCatalog

# row-level HR requests and the governance block each must draw
BLOCKED = [
    ("SELECT PERNR, NACHN FROM PA0002", "missing_group_by"),
    ("SELECT PERNR, VORNA, GBDAT FROM PA0002 WHERE ENDDA = '9999-12-31'", "missing_group_by"),
    ("SELECT ORGEH FROM PA0001 GROUP BY ORGEH", "missing_aggregate_function"),
    ("SELECT PERNR, COUNT(*) AS n FROM PA0001 GROUP BY PERNR", "pii_column_exposed"),
    ("SELECT p.ORGEH, COUNT(*) AS n FROM PA0001 p JOIN PA0002 q ON p.PERNR = q.PERNR "
     "GROUP BY p.ORGEH, q.NACHN", "pii_column_exposed"),
]

RUN_POOL = 8  # templates the run flow executes
GENERATE_POOL = 12
INSPECT_POOL = 3  # of the run pool's templates
KG_POOL = 2  # of each KG request
PASS_S = 6.0  # time of one pass on 4 cores


def passes(seconds: float) -> int:
    """Timed passes for a window of ``seconds``: as many as take that long on
    4 cores, at least three, so each request's median drops a pass that a
    burst of load slowed down. The count does not follow the host's speed:
    requests keep getting faster over the first passes, so a run that fit
    more passes in read up to a third faster."""
    return max(3, round(seconds / PASS_S))

@dataclass
class Request:
    kind: str  # execute, generate, metadata or blocked
    path: str
    body: dict
    expect_type: str | None = None  # governance block type, blocked kind only

    @property
    def key(self) -> str:
        return self.path + json.dumps(self.body, sort_keys=True)


@dataclass
class Sample:
    kind: str
    key: str
    ms: float
    phase: str
    traced: bool = False


class References:
    """Reference answer per SQL text, fetched from the server process on
    first use until :meth:`freeze`; ``fetch`` maps a list of SQL to
    ``{sql: reference}``."""

    def __init__(self, fetch):
        self.fetch = fetch
        self.known: dict[str, dict] = {}
        self.frozen = False
        self.lock = threading.Lock()

    def prefetch(self, sqls: list[str]) -> None:
        with self.lock:
            self.known.update(self.fetch(sorted(set(sqls) - set(self.known))))

    def get(self, sql: str) -> dict | None:
        with self.lock:
            if sql not in self.known and not self.frozen:
                self.known.update(self.fetch([sql]))
            return self.known.get(sql)

    def freeze(self) -> None:
        self.frozen = True


@dataclass
class Recorder:
    """Every sample, the first answer's shape per request, and failures."""
    refs: References
    samples: list[Sample] = field(default_factory=list)
    first: dict[str, str] = field(default_factory=dict)
    errors: list[str] = field(default_factory=list)
    lock: threading.Lock = field(default_factory=threading.Lock)


def _template_params(sap_dir: str) -> dict[str, list[str]]:
    def col(table: str, name: str) -> list[str]:
        vals = pq.read_table(os.path.join(sap_dir, f"{table}.parquet"), columns=[name])
        return sorted({v for v in vals.column(0).to_pylist() if v})

    year = datetime.date.today().year
    return {
        "company_code": ["1000"],
        "fiscal_year": [str(year), str(year - 1)],
        "cost_center_id": col("BSEG", "KOSTL"),
        "customer_number": col("KNA1", "KUNNR"),
        "equipment_number": col("EQKT", "EQUNR"),
    }


def build_pools(seed: int, sap_dir: str, refs: References) -> dict[str, list]:
    """One pool per flow; a pool entry is the list of requests of one flow.
    The seed draws the template parameters. The run pool holds the first
    ``RUN_POOL`` templates, in an order drawn once, whose rendered SQL the
    engine analyzes, as ``TemplateCatalog.validate`` would mark them; their
    references, which the analysis comes with, are fetched here. Which
    templates, questions, inspected templates and KG requests make the pools
    is drawn once for all seeds: those requests differ widely in cost (a
    question that resolves to a template runs a query, one that does not
    answers in milliseconds), so a per-seed draw would move the figures
    with the seed."""
    rng, fixed = random.Random(seed), random.Random(0)
    model = SemanticModel.load()
    catalog = TemplateCatalog(model)
    choices = _template_params(sap_dir)
    rendered = {}
    for name in catalog.names():
        tpl = catalog.get(name)
        if set(tpl.params()) <= set(choices):
            rendered[name] = tpl.render(**{p: rng.choice(choices[p]) for p in tpl.params()})
    names = sorted(rendered)
    fixed.shuffle(names)
    refs.prefetch([s for s, _ in BLOCKED])
    sqls: dict[str, str] = {}
    while names and len(sqls) < RUN_POOL:
        batch, names = names[:RUN_POOL], names[RUN_POOL:]
        refs.prefetch([rendered[n] for n in batch])
        valid = [n for n in batch if "error" not in refs.get(rendered[n])]
        sqls.update((n, rendered[n]) for n in valid[:RUN_POOL - len(sqls)])
    questions = [q["question"] for q in nl.extract_catalog(model)["all_business_questions"]]
    questions += EXAMPLES
    pairs = sorted({(r["from_table"], r["to_table"]) for r in model.relationships
                    if r.get("from_table") and r.get("to_table")})

    def execute(sql):
        return Request("execute", "/api/execute", {"sql": sql})

    return {
        "chat": [[Request("generate", "/api/generate", {"question": q})]
                 for q in fixed.sample(questions, GENERATE_POOL)],
        "run": [[execute(s)] for s in sqls.values()],
        "inspect": [[execute(sqls[n]), Request("metadata", "/api/lineage", {"sql": sqls[n]}),
                     Request("metadata", "/api/explain", {"sql": sqls[n]})]
                    for n in fixed.sample(sorted(sqls), INSPECT_POOL)],
        "blocked": [[Request("blocked", "/api/execute", {"sql": s}, t)] for s, t in BLOCKED],
        "kg": (
            [[Request("metadata", "/api/kg/join_path", {"table1": a, "table2": b})]
             for a, b in fixed.sample(pairs, KG_POOL)]
            + [[Request("metadata", "/api/kg/resolve_question", {"question": q})]
               for q in fixed.sample(questions, KG_POOL)]
        ),
    }


def pass_order(pools: dict[str, list], seed: int) -> list:
    """Every flow of every pool once, in a seeded order."""
    flows = [flow for pool in pools.values() for flow in pool]
    random.Random(seed).shuffle(flows)
    return flows


def _digest(obj) -> str:
    return hashlib.sha1(json.dumps(obj, sort_keys=True, default=str).encode()).hexdigest()


def row_hash(row: list) -> str:
    """Hash of one result row in the JSON form the API returns."""
    return hashlib.sha1(json.dumps(row, default=str).encode()).hexdigest()[:16]


def check_result(res: dict, ref: dict | None) -> str | None:
    """Why an executor result contract differs from its reference, or None.
    Past the row cap any ``DEFAULT_MAX_ROWS`` of the reference rows will do."""
    if ref is None:
        return "no reference"
    if "error" in ref:
        return f"reference failed: {ref['error']}"
    if "type" in ref:
        ok = res.get("governance_block") and res.get("type") == ref["type"]
        return None if ok else f"expected block {ref['type']}, got {res.get('type')}"
    if res.get("governance_block") or "rows" not in res:
        return f"expected rows, got {str(res)[:80]}"
    n = len(ref["rows"])
    if res.get("columns") != ref["columns"]:
        return f"columns {res.get('columns')}"
    if res["row_count"] != min(n, DEFAULT_MAX_ROWS) or res["has_more"] != (n > DEFAULT_MAX_ROWS):
        return f"{res['row_count']} rows (has_more {res['has_more']}), reference has {n}"
    got = collections.Counter(row_hash(r) for r in res["rows"])
    if got - collections.Counter(ref["rows"]):
        return "rows differ from the reference"
    return None


def outcome(req: Request, status: int, out: dict, refs: References) -> tuple[str | None, str]:
    """(why the answer is wrong or None, digest of its shape, compared with
    the first answer to the same request)."""
    if req.kind == "blocked":
        ok = status == 403 and out.get("type") == req.expect_type
        return (None if ok else f"status {status} type {out.get('type')}"), str(status)
    if req.kind == "execute":
        why = check_result(out, refs.get(req.body["sql"]))
        expected = 403 if out.get("governance_block") else 200
        return why or (None if status == expected else f"status {status}"), str(status)
    if req.kind == "generate":
        why = None if status == 200 else f"status {status}"
        if "result" in out:
            why = why or check_result(out["result"], refs.get(out.get("sql", "")))
        elif out.get("clarification_needed") is not True:
            why = why or "neither result nor clarification"
        shape = [out.get("template"), out.get("sql"), out.get("clarification_needed"),
                 [s.get("prompt") for s in out.get("suggestions", [])]]
        return why, _digest(shape)
    if req.path == "/api/explain":
        return (None if status == 200 and out.get("plan") else f"status {status}"), "plan"
    return (None if status == 200 and "error" not in out else f"status {status}"), _digest(out)


def send(port: int, req: Request, rec: Recorder, phase: str, traced: bool = False) -> None:
    """One request; ``traced`` asks the server to trace it."""
    headers = {"Content-Type": "application/json", "X-Trace": str(int(traced))}
    t0 = time.perf_counter()
    try:
        conn = http.client.HTTPConnection("127.0.0.1", port, timeout=150)
        conn.request("POST", req.path, json.dumps(req.body), headers)
        resp = conn.getresponse()
        status, out = resp.status, json.loads(resp.read())
        conn.close()
        ms = (time.perf_counter() - t0) * 1000.0
        why, digest = outcome(req, status, out, rec.refs)
    except Exception as e:  # connection failure or unparseable reply
        ms, why, digest = (time.perf_counter() - t0) * 1000.0, f"exception {e}", "exception"
    with rec.lock:
        first = rec.first.setdefault(req.key, digest)
        if why is None and first != digest:
            why = "answer differs from the first answer"
        if why is not None:
            rec.errors.append(f"{req.kind} {req.key[:120]} -> {why[:120]}")
        rec.samples.append(Sample(req.kind, req.key, ms, phase, traced))


def run_parallel(jobs: list) -> None:
    threads = [threading.Thread(target=j) for j in jobs]
    for t in threads:
        t.start()
    for t in threads:
        t.join()


def run_flows(port: int, flows: list, rec: Recorder, clients: int, phase: str,
              traced=lambda req: False) -> None:
    """Send ``flows`` from ``clients`` closed-loop clients sharing one queue;
    the requests for which ``traced(req)`` holds ask to be traced."""
    todo = list(reversed(flows))
    lock = threading.Lock()

    def client():
        while True:
            with lock:
                if not todo:
                    return
                flow = todo.pop()
            for req in flow:
                send(port, req, rec, phase, traced(req))

    run_parallel([client] * clients)


def warm_up(port: int, order: list, pools: dict[str, list], rec: Recorder, clients: int) -> None:
    """Send one pass, then the run pool once more. The first answers fix
    each request's shape, and the SQL the generate answers ran gets its
    reference. With the reference collects before it, each template's
    query runs three times before timing: the engine's latency falls over
    the first repeats while the JVM compiles the hot paths (on 4 cores the
    last of these three runs took a fifth off the timed execute latency).
    References are frozen afterwards, so the timed window never waits on
    one."""
    run_flows(port, order + pools["run"], rec, clients, "warm")
    rec.refs.freeze()


def traced_loop(port: int, order: list, rec: Recorder, clients: int) -> None:
    """Two passes; each request is traced in one of them and not in the
    other, half of them in the first pass, so comparing each request's
    two times gives the trace overhead free of drift between the passes."""
    def half(req):
        return int(hashlib.sha1(req.key.encode()).hexdigest(), 16) % 2

    for p in (0, 1):
        run_flows(port, order, rec, clients, "timed", lambda req, p=p: half(req) == p)


def trace_overhead_pct(samples: list[Sample]) -> float:
    """Extra time of the traced over the untraced sends of the same
    requests, relative to the untraced time."""
    by: dict[tuple[str, bool], list[float]] = {}
    for s in samples:
        by.setdefault((s.key, s.traced), []).append(s.ms)
    traced = untraced = 0.0
    for (key, is_traced), ms in by.items():
        if is_traced and (key, False) in by:
            traced += statistics.fmean(ms)
            untraced += statistics.fmean(by[(key, False)])
    return (traced / untraced - 1.0) * 100.0 if untraced else 0.0


def closed_loop(port: int, order: list, rec: Recorder, clients: int, seconds: float) -> float:
    """Run ``passes(seconds)`` whole passes of ``order``; returns the
    seconds taken."""
    t0 = time.perf_counter()
    for _ in range(passes(seconds)):
        run_flows(port, order, rec, clients, "timed")
    return time.perf_counter() - t0
