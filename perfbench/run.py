"""Benchmark of the engine: whole-answer query latency and
refresh-to-visible latency, closed loop, one client.

Usage (from the repository root)::

    python3 perfbench/run.py --workload queries --seed 1 --seconds 10 --trace 0

Workloads (see ``workloads.py`` and ``README.md``): ``queries`` and
``catalog-refresh``. A run checks its fixture files against
``fixtures/SHA256SUMS``, sets the workload up three times, checks every
op once against its oracle outside the timed window, then runs whole
passes until ``--seconds`` have elapsed.

With ``--trace 0`` the last stdout line carries the end-to-end metrics;
with ``--trace 1`` each traced pass sits between two untraced passes of
the same order, and the line carries the per-layer metrics of the
traced passes (the untraced twins give the tracing overhead).
Everything the run writes stays under ``.perfbench_work/`` in the
checkout.
"""

from __future__ import annotations

import argparse
import json
import os
import shlex
import shutil
import signal
import statistics
import subprocess
import sys
import time
from pathlib import Path

import numpy as np

ROOT = Path(__file__).resolve().parent.parent
WORK = ROOT / ".perfbench_work"
SETUP_REPS = 3
JVM_HEAP = "4g"

END_TO_END_UNITS = {
    "setup_s": "s",
    "ops_per_s": "1/s",
    "latency_geomean_s": "s",
    "refresh_wall_ms": "ms",
}


def log(msg: str) -> None:
    print(f"perfbench: {msg}", file=sys.stderr, flush=True)


def cpu_count() -> int:
    return len(os.sched_getaffinity(0))


def isolate(run_dir: Path, trace: bool) -> Path:
    """Point every Spark/JVM/Python scratch location into ``run_dir``
    before pyspark is imported; returns the event-log directory."""
    for sub in ("local", "warehouse", "tmp", "eventlog"):
        (run_dir / sub).mkdir(parents=True, exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(cpu_count())
    os.environ["SPARK_GRAFT_DRIVER_MEM"] = JVM_HEAP
    os.environ["SPARK_LOCAL_DIRS"] = str(run_dir / "local")
    os.environ["TMPDIR"] = str(run_dir / "tmp")
    confs = {
        "spark.sql.warehouse.dir": str(run_dir / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={run_dir / 'tmp'}",
        "spark.ui.showConsoleProgress": "false",
    }
    eventlog = run_dir / "eventlog"
    if trace:
        confs |= {
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": eventlog.as_uri(),
            "spark.eventLog.compress": "false",
        }
    args = " ".join(f"--conf {shlex.quote(f'{k}={v}')}" for k, v in confs.items())
    os.environ["PYSPARK_SUBMIT_ARGS"] = f"{args} pyspark-shell"
    return eventlog


# ---------------------------------------------------------------------------
# Processes: peak RSS and orderly shutdown
# ---------------------------------------------------------------------------


def _children() -> dict[int, list[int]]:
    out: dict[int, list[int]] = {}
    for d in Path("/proc").iterdir():
        if not d.name.isdigit():
            continue
        try:
            stat = (d / "stat").read_text()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        out.setdefault(ppid, []).append(int(d.name))
    return out


def descendants(pid: int) -> list[int]:
    kids, out, todo = _children(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            out.append(c)
            todo.append(c)
    return out


def _status(pid: int, key: str) -> str:
    try:
        for line in Path(f"/proc/{pid}/status").read_text().splitlines():
            if line.startswith(key + ":"):
                return line.split(":", 1)[1].strip()
    except OSError:
        pass
    return ""


def rss_peak_mb() -> dict[str, float]:
    """Peak RSS (VmHWM) of this client process and of its JVM."""
    jvm = [p for p in descendants(os.getpid()) if _status(p, "Name") == "java"]

    def mb(pids: list[int]) -> float:
        return sum(int(_status(p, "VmHWM").split()[0]) for p in pids) / 1024

    return {"client.rss_peak_mb": mb([os.getpid()]), "jvm.rss_peak_mb": mb(jvm)}


def shutdown(spark) -> None:
    """Stop the session, end the JVM and wait for every process this
    run started (the JVM and its Python workers) to exit."""
    from pyspark import SparkContext

    kids = descendants(os.getpid())
    if spark is not None:
        spark.stop()
    gw = SparkContext._gateway
    proc = getattr(gw, "proc", None)
    if proc is not None:
        proc.stdin.close()  # the gateway JVM exits at EOF on its stdin
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=30)
    deadline = time.monotonic() + 30
    while time.monotonic() < deadline:
        alive = [p for p in kids if Path(f"/proc/{p}").exists() and _status(p, "State")[:1] != "Z"]
        if not alive:
            break
        time.sleep(0.1)
    else:
        for p in alive:
            try:
                os.kill(p, signal.SIGKILL)
            except ProcessLookupError:
                pass


# ---------------------------------------------------------------------------
# The run
# ---------------------------------------------------------------------------


class Counts:
    """Ops attempted and failed over the whole run, checks included."""

    def __init__(self) -> None:
        self.attempted = self.failed = 0

    def fail(self, what: str, why: str) -> None:
        self.failed += 1
        log(f"{what} FAILED: {why}")


def run_pass(wl, env, order: list[str], counts: Counts, tracer=None) -> list[float]:
    """Run every op of ``order`` once, closed loop; return the latency
    of each op that succeeded. A failed op is counted, never retried."""
    lat = []
    if tracer is not None:
        env.tracer, tracer.sc, tracer.active = tracer, env.spark.sparkContext, True
    try:
        for name in order:
            counts.attempted += 1
            if tracer is not None:
                tracer.op += 1
            t0 = time.perf_counter()
            try:
                if tracer is None:
                    wl.run_op(env, name)
                else:
                    with tracer.span("op", op_name=name):
                        wl.run_op(env, name)
                lat.append(time.perf_counter() - t0)
            except Exception as exc:  # counted against attempts
                counts.fail(f"op {name}", f"{type(exc).__name__}: {str(exc)[:300]}")
            if tracer is not None:
                tracer.resolve_jobs(tracer.op)
    finally:
        if tracer is not None:
            env.tracer, tracer.active = None, False
    return lat


def run(args, run_dir: Path, eventlog: Path) -> dict:
    import spans as tracing
    import workloads

    tracer = None
    if args.trace:
        import impala_refresher_spark.concurrency as concurrency_mod
        import impala_refresher_spark.sources.tables as tables_mod

        tracer = tracing.Tracer()
        tracer.install(tables_mod, concurrency_mod)
    import impala_refresher_spark.queries  # noqa: F401  (registers every query)

    wl = workloads.WORKLOADS[args.workload]
    env = workloads.Env(
        run_dir=run_dir,
        rng=np.random.default_rng(args.seed),
        smoke=args.smoke,
    )
    report: dict = {"workload": args.workload, "seed": args.seed, "trace": args.trace}
    counts = Counts()
    try:
        workloads.verify_fixtures()
        wl.prepare(env)
        setups = []
        for _ in range(SETUP_REPS):
            t0 = time.perf_counter()
            wl.setup(env)
            setups.append(time.perf_counter() - t0)
        log(f"set-up times {[round(s, 3) for s in setups]}")

        order = wl.pass_order(env)
        checks = wl.check(env, order)
        counts.attempted += len(checks)
        for k, v in checks.items():
            if v.startswith("FAILED"):
                counts.fail(f"check {k}", v.removeprefix("FAILED: "))
        report |= {"check_order": order, "answers": checks, "check_s": env.check_s}

        # Whole passes until the window is spent. A traced run wraps each
        # traced pass between two untraced passes of the same order; the
        # traced/untraced ratio is the tracing overhead.
        env.refresh_ms.clear()
        lat, orders, walls, twins = [], [], [], []
        t_start = time.perf_counter()
        while True:
            order = wl.pass_order(env)
            orders.append(order)
            wl.before_pass(env)
            t0 = time.perf_counter()
            before = run_pass(wl, env, order, counts)
            walls.append(time.perf_counter() - t0)
            lat += before
            if tracer is not None:
                traced = run_pass(wl, env, order, counts, tracer)
                after = run_pass(wl, env, order, counts)
                twins.append((sum(traced), (sum(before) + sum(after)) / 2))
            if time.perf_counter() - t_start >= args.seconds:
                break
        report |= {
            "setup_s": setups,
            "pass_orders": orders,
            "appended": env.appended,
            "latencies": lat,
            "refresh_ms": env.refresh_ms,
            "pass_walls": walls,
        }

        if tracer is None:
            metrics = {
                "setup_s": statistics.median(setups),
                "ops_per_s": len(lat) / sum(walls),
                "latency_geomean_s": statistics.geometric_mean(lat) if lat else 0.0,
                "refresh_wall_ms": statistics.median(env.refresh_ms),
            }
            report["memory"] = rss_peak_mb()
            units = END_TO_END_UNITS
        else:
            overhead = sum(t for t, _ in twins) / sum(u for _, u in twins) - 1
            app_id = env.spark.sparkContext.applicationId
            memory = rss_peak_mb()
            shutdown(env.spark)
            env.spark = None
            jobs, tasks = tracing.parse_event_log(eventlog, app_id)
            traced_ops = sorted({s.op for s in tracer.spans if s.name == "op"})
            metrics = tracing.layer_metrics(
                tracer.spans, traced_ops, jobs, tasks, cpu_count(), overhead
            ) | memory
            units = tracing.UNITS
            tracer.dump(WORK / "reports" / f"{_tag(args)}-spans.jsonl")
        report["metrics"] = metrics
    finally:
        if env.spark is not None:
            shutdown(env.spark)
        (WORK / "reports" / f"{_tag(args)}.json").write_text(json.dumps(report, indent=1))
    return {
        "correct": counts.failed == 0,
        "attempted": counts.attempted,
        "failed": counts.failed,
        "metrics": {k: {"value": float(v), "unit": units[k]} for k, v in metrics.items()},
    }


def _tag(args) -> str:
    return f"{args.workload}-seed{args.seed}-trace{args.trace}" + ("-smoke" if args.smoke else "")


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--workload", required=True, choices=["queries", "catalog-refresh"])
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=[0, 1], default=0)
    ap.add_argument(
        "--smoke", action="store_true", help="run every workload on the sf0.001 fixtures (self-test)"
    )
    args = ap.parse_args(argv)

    for need in ("impala_refresher_spark/__init__.py", "tests/oracle_util.py"):
        if not (ROOT / need).is_file():
            log(f"engine source {need} not found under {ROOT}; nothing to benchmark")
            return 2
    run_dir = WORK / "run"
    shutil.rmtree(run_dir, ignore_errors=True)
    (WORK / "reports").mkdir(parents=True, exist_ok=True)
    eventlog = isolate(run_dir, bool(args.trace))
    sys.path.insert(0, str(ROOT))
    try:
        result = run(args, run_dir, eventlog)
    finally:
        shutil.rmtree(run_dir, ignore_errors=True)
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
