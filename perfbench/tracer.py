"""In-memory span tracer for the traced benchmark run.

The engine has no instrumentation of its own, so the benchmark wraps the
public functions of each layer from the outside: the wrapper replaces the
function on its module (and on every engine module that imported it by
name), records a span around each call and passes the call through. A span
is ``{id, rid, name, start, end, parent}``; the spans of one request or
query share its ``rid``. Spans stay in memory until :meth:`Tracer.dump`.

Recording only happens while ``enabled`` is set and a sampled root span
(one request or one query) is open on the calling thread, so traced and
untraced work can run side by side through the same wrappers.
"""

from __future__ import annotations

import itertools
import json
import sys
import threading
import time
from contextlib import contextmanager

PACKAGE = "sap_sql_engine_spark"


class Tracer:
    def __init__(self) -> None:
        self.enabled = False
        self.spans: list[dict] = []
        self._local = threading.local()
        self._ids = itertools.count(1)
        self._lock = threading.Lock()

    # -- spans --------------------------------------------------------------

    @contextmanager
    def root(self, name: str, rid: str, sampled: bool = True, **attrs):
        """Open the span of one request or query; children nest under it.
        An unsampled root records nothing below it."""
        if not (self.enabled and sampled):
            yield None
            return
        self._local.stack = []
        rec = self._open(name, rid, **attrs)
        try:
            yield rec
        finally:
            self._close(rec)
            self._local.stack = None

    @contextmanager
    def span(self, name: str):
        stack = getattr(self._local, "stack", None)
        if not self.enabled or not stack:
            yield None
            return
        rec = self._open(name, stack[0]["rid"])
        try:
            yield rec
        finally:
            self._close(rec)

    def _open(self, name: str, rid: str, **attrs) -> dict:
        stack = self._local.stack
        rec = {
            "id": next(self._ids),
            "rid": rid,
            "name": name,
            "parent": stack[-1]["id"] if stack else None,
            "start": time.perf_counter(),
            **attrs,
        }
        stack.append(rec)
        return rec

    def _close(self, rec: dict) -> None:
        rec["end"] = time.perf_counter()
        self._local.stack.pop()
        with self._lock:
            self.spans.append(rec)

    # -- wrapping -----------------------------------------------------------

    def wrap(self, owner, attr: str, name: str, on_return=None) -> None:
        """Replace ``owner.attr`` by a span-recording pass-through. For a
        module-level function the replacement is also rebound in every
        loaded engine module that imported the function by name.
        ``on_return(span, result)`` may annotate the span."""
        fn = getattr(owner, attr)
        tracer = self

        def traced(*args, **kwargs):
            with tracer.span(name) as rec:
                out = fn(*args, **kwargs)
                if rec is not None and on_return is not None:
                    on_return(rec, out)
                return out

        traced.__wrapped__ = fn
        if isinstance(owner, type):
            setattr(owner, attr, traced)
            return
        for mod in list(sys.modules.values()):
            if mod is None or not (
                mod.__name__.startswith(PACKAGE) or mod.__name__ == "__spark_entry__"
            ):
                continue
            for key, val in list(vars(mod).items()):
                if val is fn:
                    setattr(mod, key, traced)

    def wrap_registry(self, queries: dict, name: str) -> None:
        """Wrap every builder callable of a ``QUERIES`` dict in place."""
        for qname, fn in list(queries.items()):
            def traced(*args, _fn=fn, **kwargs):
                with self.span(name):
                    return _fn(*args, **kwargs)

            queries[qname] = traced

    def wrap_builders(self) -> None:
        """Wrap ``cachereg``'s registration and release functions and every
        registered query builder (``operators.build`` spans)."""
        import __spark_entry__ as entry
        from sap_sql_engine_spark import cachereg

        for fn in ("track", "materialize_cut", "materialize_local"):
            self.wrap(cachereg, fn, f"cachereg.{fn}")
        self.wrap(cachereg, "release", "cachereg.release",
                  on_return=lambda rec, out: rec.update(released=out))
        for mod in entry._MODULES:
            self.wrap_registry(mod.QUERIES, "operators.build")

    # -- results ------------------------------------------------------------

    def units(self) -> list[dict]:
        """One record per root span: its duration, self time, and the total
        and self time of every span name below it (milliseconds)."""
        with self._lock:
            spans = list(self.spans)
        child_ms: dict[int, float] = {}
        for s in spans:
            if s["parent"] is not None:
                child_ms[s["parent"]] = child_ms.get(s["parent"], 0.0) + _ms(s)
        units: dict[str, dict] = {}
        for s in spans:
            if s["parent"] is None:
                units[s["rid"]] = {
                    **{k: v for k, v in s.items() if k not in ("id", "parent", "start", "end")},
                    "ms": _ms(s),
                    "self_ms": _ms(s) - child_ms.get(s["id"], 0.0),
                    "total": {},
                    "self": {},
                    "count": {},
                    "flags": {},
                }
        for s in spans:
            if s["parent"] is None or s["rid"] not in units:
                continue
            u = units[s["rid"]]
            n = s["name"]
            u["total"][n] = u["total"].get(n, 0.0) + _ms(s)
            u["self"][n] = u["self"].get(n, 0.0) + _ms(s) - child_ms.get(s["id"], 0.0)
            u["count"][n] = u["count"].get(n, 0) + 1
            for k, v in s.items():
                if k not in ("id", "rid", "name", "parent", "start", "end"):
                    u["flags"][f"{n}.{k}"] = u["flags"].get(f"{n}.{k}", 0) + int(v)
        return list(units.values())

    def dump(self, path: str) -> None:
        with self._lock, open(path, "w") as f:
            for s in self.spans:
                f.write(json.dumps(s) + "\n")


def _ms(span: dict) -> float:
    return (span["end"] - span["start"]) * 1000.0


def job_counts(spark, group: str) -> tuple[int, int]:
    """Jobs and tasks Spark ran under one job group (``statusTracker``)."""
    tracker = spark.sparkContext.statusTracker()
    jobs = tasks = 0
    for jid in tracker.getJobIdsForGroup(group):
        jobs += 1
        info = tracker.getJobInfo(jid)
        for sid in info.stageIds if info else ():
            stage = tracker.getStageInfo(sid)
            tasks += stage.numTasks if stage else 0
    return jobs, tasks


def storage_mb(spark) -> float:
    """Executor storage held by persisted RDDs, in MB."""
    infos = spark.sparkContext._jsc.sc().getRDDStorageInfo()
    return sum(i.memSize() + i.diskSize() for i in infos) / 1e6


def persistent_rdds(spark) -> int:
    return spark.sparkContext._jsc.getPersistentRDDs().size()
