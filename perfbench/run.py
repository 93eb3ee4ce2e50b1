"""Benchmark of the engine's serving and batch surfaces.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run from the repository root. Workloads and metrics are those
``BENCHMARK.json`` lists (see perfbench/README.md). Inputs are
generated from ``--seed`` under ``.bench_run/`` before any timing and
removed afterwards. The last line of stdout is one JSON object
``{correct, attempted, failed, metrics}``: the end-to-end metrics with
``--trace 0``, the per-layer metrics with ``--trace 1``. The line before it
gives the run's details (host size, versions, sample counts, errors). A
traced run also writes its spans to ``.bench_run/spans-<workload>-<seed>.jsonl``.
"""

from __future__ import annotations

import argparse
import ctypes
import json
import os
import select
import shutil
import signal
import statistics
import subprocess
import sys
import tempfile
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROOT = os.path.dirname(HERE)

SF = 0.01  # generated table scale (sf0.01 = 60k lineitems)
# set-ups per run, the first of which starts the JVM; setup_s is their median
SETUPS = {"serve_interactive": 3, "batch_headline": 5}
CLIENTS = 1  # closed-loop clients of the serve workload
BATCH_LANES = ("copurchase_kcore_profile", "bpe_shard_assignment")


def declared() -> dict:
    """Workloads and metric units as ``BENCHMARK.json`` declares them."""
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        spec = json.load(f)
    return {
        "workloads": [w["name"] for w in spec["workloads"]],
        "end_to_end": {m["name"]: m["unit"] for m in spec["end_to_end"]},
        "per_layer": {m["name"]: m["unit"] for m in spec["per_layer"]},
    }


def configure(work: str) -> int:
    """Pin the engine to the host's cores and keep every temporary file in ``work``.
    Must run before the engine is imported: ``session`` reads
    ``SPARK_GRAFT_CPUS`` at import time."""
    cpus = len(os.sched_getaffinity(0))
    tmp = os.path.join(work, "tmp")
    os.makedirs(tmp, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpus)
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "spark-local")
    os.environ["TMPDIR"] = tmp
    os.environ["JAVA_TOOL_OPTIONS"] = f"-Djava.io.tmpdir={tmp}"
    tempfile.tempdir = tmp
    sys.path[:0] = [ROOT, HERE]
    return cpus


def _median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def tail_percentile(xs: list[float]) -> dict:
    """The highest whole percentile with at least ten samples beyond it."""
    n = len(xs)
    pct = max((p for p in range(50, 100) if n * (100 - p) / 100 >= 10), default=None)
    if pct is None:
        return {"samples": n}
    return {"samples": n, "percentile": pct, "ms": statistics.quantiles(xs, n=100)[pct - 1]}


def layer_metrics(units: list[dict], state: dict) -> dict:
    """Per-layer metrics from the traced units (one per request or query)."""
    def of(endpoint):
        return [u for u in units if u.get("endpoint") == endpoint]

    def med(us, *names, part="total"):
        return _median([sum(u[part].get(n, 0.0) for n in names)
                        for u in us if any(n in u[part] for n in names)])

    def total(name, key="total", us=units):
        return sum(u[key].get(name, 0) for u in us)

    ex, gen = of("/api/execute"), of("/api/generate")
    checks, answers = total("governance.check", "count"), total("nl.answer", "count")
    m = {
        "executor.collect_ms": med(ex, "executor.collect_result"),
        "executor.jobs_per_request": statistics.fmean([u["jobs"] for u in ex]) if ex else 0.0,
        "executor.tasks_per_request": statistics.fmean([u["tasks"] for u in ex]) if ex else 0.0,
        "catalyst.analyze_ms": med(ex, "catalyst.analyze"),
        "governance.check_ms": med(ex, "governance.check"),
        "dialect.transpile_ms": med(ex, "dialect.transpile"),
        "server.self_ms": _median([u["self_ms"] for u in ex]),
        "nl.classify_ms": med(gen, "nl.classify"),
        "nl.self_ms": med(gen, "nl.answer", part="self"),
        "results.infer_chart_ms": med(gen, "results.infer_chart"),
        "lineage.column_lineage_ms": med(of("/api/lineage"), "lineage.column_lineage"),
        "kg.join_path_ms": med(of("/api/kg/join_path"), "kg.find_join_path", "kg.all_join_paths"),
        "governance.blocked_ratio": total("governance.check.blocked", "flags") / max(checks, 1),
        "governance.checks": checks,
        "nl.template_hit_ratio": total("nl.answer.template_hit", "flags") / max(answers, 1),
        "nl.answers": answers,
        "spark.persistent_rdds_end": state["persistent_rdds"],
        "spark.storage_mb_end": state["storage_mb"],
        "cachereg.caches_created": total("cachereg.track", "count")
        + total("cachereg.materialize_cut", "count"),
        "cachereg.release_s": total("cachereg.release") / 1000.0,
        "cachereg.released": total("cachereg.release.released", "flags"),
        "operators.build_s": total("operators.build") / 1000.0,
        "spark.action_s": total("spark.action") / 1000.0,
        "spark.jobs": sum(u["jobs"] for u in units),
        "spark.tasks": sum(u["tasks"] for u in units),
        "trace.overhead_pct": state["overhead_pct"],
    }
    for q in BATCH_LANES:
        lane = [u for u in units if u.get("query") == q]
        m[f"operators.build_s.{q}"] = total("operators.build", us=lane) / 1000.0
        m[f"spark.action_s.{q}"] = total("spark.action", us=lane) / 1000.0
    return m


# -- serve workloads ---------------------------------------------------------


def _reply(proc: subprocess.Popen, log: str, timeout: float = 150.0) -> dict:
    ready, _, _ = select.select([proc.stdout], [], [], timeout)
    line = proc.stdout.readline() if ready else ""
    if not line:
        with open(log) as f:
            tail = f.read()[-2000:]
        raise RuntimeError(f"server process gave no reply; log tail:\n{tail}")
    return json.loads(line)


def _command(proc: subprocess.Popen, log: str, cmd: str) -> dict:
    proc.stdin.write(cmd + "\n")
    proc.stdin.flush()
    return _reply(proc, log)


def run_serve(args, work: str, spans_path: str) -> dict:
    import datagen
    import serve_load as load

    data_dir = datagen.write(os.path.join(work, "data"), SF, args.seed)
    sap_dir = os.path.join(work, "sap")
    datagen.write_sap_fixtures(sap_dir, args.seed)
    log = os.path.join(work, "serve_host.log")
    with open(log, "w") as log_f:
        proc = subprocess.Popen(
            [sys.executable, os.path.join(HERE, "serve_host.py"), data_dir, sap_dir,
             str(SETUPS[args.workload]), str(args.trace)],
            stdin=subprocess.PIPE, stdout=subprocess.PIPE, stderr=log_f, text=True, cwd=ROOT,
        )
    phases = {"start": time.perf_counter()}
    try:
        ready = _reply(proc, log)
        phases["ready"] = time.perf_counter()
        port = ready["port"]
        refs = load.References(lambda sqls: _command(proc, log, "expect " + json.dumps(sqls)))
        pools = load.build_pools(args.seed, sap_dir, refs)
        order = load.pass_order(pools, args.seed)
        phases["references"] = time.perf_counter()
        rec = load.Recorder(refs)
        load.warm_up(port, order, pools, rec, len(os.sched_getaffinity(0)))
        phases["warm"] = time.perf_counter()
        if args.trace:
            _command(proc, log, "trace on")
            load.traced_loop(port, order, rec, CLIENTS)
            _command(proc, log, "trace off")
            traced = _command(proc, log, "stats")
            _command(proc, log, f"dump {spans_path}")
        else:
            window_s = load.closed_loop(port, order, rec, CLIENTS, args.seconds)
    finally:
        try:
            proc.stdin.write("quit\n")
            proc.stdin.close()
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()

    phases["end"] = time.perf_counter()
    timed = [s for s in rec.samples if s.phase == "timed"]

    def lat(kind):
        return [s.ms for s in timed if s.kind == kind]

    kinds = ("execute", "generate", "metadata", "blocked")
    out = {
        "spark_version": ready["spark_version"],
        "execute_tail": tail_percentile(lat("execute")),
        "setup_s": ready["setup_s"],
        "templates": len(pools["run"]),
        "attempted": len(rec.samples),
        "failures": rec.errors,
        "phase_s": {k: round(phases[k] - phases["start"], 2) for k in phases},
        "passes": len(timed) // sum(len(f) for f in order),
        "samples": {k: len(lat(k)) for k in kinds},
        "p50_by_kind_ms": {k: _median(lat(k)) for k in kinds},
    }
    if args.trace:
        traced["overhead_pct"] = load.trace_overhead_pct(timed)
        out["layers"] = layer_metrics(traced["units"], traced)
        return out
    # each distinct request's median, then over requests, so which requests
    # a short run happens to repeat does not move the figures
    by_key: dict[str, list[float]] = {}
    for smp in timed:
        by_key.setdefault(smp.key, []).append(smp.ms)
    q = [statistics.median(v) for v in by_key.values()]
    out["distinct_requests"] = len(q)
    out["e2e"] = {
        "query_geomean_ms": statistics.geometric_mean(q),
        "query_mean_ms": statistics.fmean(q),
        "throughput_per_s": len(timed) / window_s,
    }
    return out


def host_cpu() -> list[int]:
    """The host's CPU time counters (user, nice, system, idle, iowait, irq,
    softirq, steal, ...), in clock ticks."""
    with open("/proc/stat") as f:
        return [int(x) for x in f.readline().split()[1:]]


# -- processes -------------------------------------------------------------


def become_subreaper() -> None:
    """Make processes orphaned below this one (the JVM once its Python
    parent exits, PySpark's worker daemon, which leaves the process group)
    this process's children, so that :func:`stop_descendants` can wait for
    them."""
    PR_SET_CHILD_SUBREAPER = 36
    prctl = ctypes.CDLL(None, use_errno=True).prctl
    prctl.argtypes = [ctypes.c_int] + [ctypes.c_ulong] * 4
    prctl.restype = ctypes.c_int
    if prctl(PR_SET_CHILD_SUBREAPER, 1, 0, 0, 0) != 0:
        raise OSError(ctypes.get_errno(), "prctl(PR_SET_CHILD_SUBREAPER)")


def _descendants() -> list[int]:
    children: dict[int, list[int]] = {}
    for name in os.listdir("/proc"):
        if name.isdigit():
            try:
                with open(f"/proc/{name}/stat") as f:
                    ppid = int(f.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
            children.setdefault(ppid, []).append(int(name))
    out, todo = [], [os.getpid()]
    while todo:
        kids = children.get(todo.pop(), [])
        out += kids
        todo += kids
    return out


def _children_left() -> bool:
    """Reap every child that has ended; whether any is still running."""
    while True:
        try:
            pid, _ = os.waitpid(-1, os.WNOHANG)
        except ChildProcessError:
            return False
        if pid == 0:
            return True


def stop_descendants(grace_s: float = 20.0) -> None:
    """Stop every process this run started, directly or not, and wait until
    each has ended: let them exit by themselves (an in-process JVM is told
    to by closing its stdin), then SIGTERM, then SIGKILL."""
    context = sys.modules.get("pyspark.core.context") or sys.modules.get("pyspark.context")
    gateway = getattr(getattr(context, "SparkContext", None), "_gateway", None)
    if getattr(gateway, "proc", None) is not None:
        gateway.shutdown()
        gateway.proc.stdin.close()
    for sig in (None, signal.SIGTERM, signal.SIGKILL):
        if sig is not None:
            for pid in _descendants():
                try:
                    os.kill(pid, sig)
                except ProcessLookupError:
                    pass
        end = time.monotonic() + grace_s
        while _children_left():
            if sig != signal.SIGKILL and time.monotonic() > end:
                break
            time.sleep(0.05)
        else:
            return


# -- entry point -------------------------------------------------------------


def main() -> int:
    spec = declared()
    p = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    p.add_argument("--workload", required=True, choices=spec["workloads"])
    p.add_argument("--seed", type=int, required=True)
    p.add_argument("--seconds", type=float, required=True)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    args = p.parse_args()

    base = os.path.join(ROOT, ".bench_run")
    work = os.path.join(base, f"{args.workload}-{args.seed}-{os.getpid()}")
    spans_path = os.path.join(base, f"spans-{args.workload}-{args.seed}.jsonl")
    cpus = configure(work)
    become_subreaper()
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    t0, cpu0 = time.perf_counter(), host_cpu()
    try:
        import pyspark

        if args.workload == "batch_headline":
            import datagen
            import batch

            data_dir = datagen.write(os.path.join(work, "data"), SF, args.seed)
            res = batch.run(data_dir, work, args.seconds, bool(args.trace),
                            SETUPS[args.workload], spans_path)
            res["spark_version"] = pyspark.__version__
            if args.trace:
                raw = res["layers"]
                res["layers"] = layer_metrics(raw["units"], raw)
        else:
            res = run_serve(args, work, spans_path)
    finally:
        stop_descendants()
        shutil.rmtree(work, ignore_errors=True)

    failed = len(res["failures"])
    if args.trace:
        metrics = {k: {"value": res["layers"][k], "unit": u} for k, u in spec["per_layer"].items()}
    else:
        values = {**res["e2e"], "setup_s": statistics.median(res["setup_s"])}
        metrics = {k: {"value": values[k], "unit": u} for k, u in spec["end_to_end"].items()}
    detail = {k: v for k, v in res.items() if k not in ("e2e", "layers")}
    detail.update(workload=args.workload, seed=args.seed, nproc=cpus,
                  clients=CLIENTS if args.workload != "batch_headline" else 0,
                  wall_s=time.perf_counter() - t0, failures=res["failures"][:5])
    # CPU time the hypervisor gave to other guests while this run waited for
    # it: the figures of runs with much of it are slower throughout
    ticks = [b - a for a, b in zip(cpu0, host_cpu())]
    detail["host_steal_pct"] = 100.0 * ticks[7] / max(sum(ticks), 1)
    print(json.dumps(detail, default=str))
    print(json.dumps({
        "correct": failed == 0,
        "attempted": max(res["attempted"], 1),
        "failed": failed,
        "metrics": metrics,
    }))
    return 0


if __name__ == "__main__":
    sys.exit(main())
