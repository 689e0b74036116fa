"""Layer tracing for the benchmark's traced runs.

Spans are recorded from the benchmark's side of each layer boundary:

- ``sources.tables.load_table`` and ``concurrency.run_branches`` are
  wrapped (each branch callable too) before the query registry is
  imported, so every operator module binds the wrappers;
- ``refresh_table`` is timed through ``refresh_many``'s public
  ``refresh_fn=`` hook;
- the benchmark's own phases (refresh, build, plan, exec, write, read)
  open spans directly.

A span that may launch Spark jobs runs under its own job group; its
job ids come from ``statusTracker().getJobIdsForGroup`` once the op
has ended. Task, shuffle and Python-runner metrics of those jobs come
from the Spark event log, parsed after the session stops. Spans stay in
memory and are written out when the run ends.
"""

from __future__ import annotations

import contextlib
import itertools
import json
import statistics
import threading
import time
from collections import defaultdict
from dataclasses import asdict, dataclass, field
from pathlib import Path

_GROUP = "spark.jobGroup.id"
# Spark SQL metric names of the Python runners (ArrowEvalPython,
# BatchEvalPython, MapInArrow, ...), summed over the tasks of a phase.
_PY_SENT = "data sent to Python workers"
_PY_RETURNED = "data returned from Python workers"


@dataclass
class Span:
    id: int
    name: str
    op: int
    parent: int | None
    start: float
    end: float = 0.0
    group: str | None = None
    jobs: list[int] = field(default_factory=list)
    attrs: dict = field(default_factory=dict)

    @property
    def dur(self) -> float:
        return self.end - self.start


class Tracer:
    """Collects spans for one run. Thread-safe: refresh targets and
    ``run_branches`` branches record from worker threads."""

    def __init__(self) -> None:
        self.spans: list[Span] = []
        self.sc = None
        self._ids = itertools.count(1)
        self._lock = threading.Lock()
        self._local = threading.local()
        self.op = 0
        self.active = False

    # -- span recording ---------------------------------------------------
    def _parent(self) -> int | None:
        stack = getattr(self._local, "stack", None)
        return stack[-1] if stack else None

    @contextlib.contextmanager
    def span(self, name: str, *, group: bool = False, parent: int | None = None, **attrs):
        """Record one span; with ``group`` its Spark jobs run under a
        job group of their own (restored on exit)."""
        sp = Span(next(self._ids), name, self.op, parent or self._parent(), time.time())
        sp.attrs.update(attrs)
        with self._lock:
            self.spans.append(sp)
        stack = self._local.__dict__.setdefault("stack", [])
        stack.append(sp.id)
        prev = None
        if group:
            sp.group = f"pb-{sp.id}"
            prev = self.sc.getLocalProperty(_GROUP)
            self.sc.setLocalProperty(_GROUP, sp.group)
        try:
            yield sp
        finally:
            if group:
                self.sc.setLocalProperty(_GROUP, prev)
            stack.pop()
            sp.end = time.time()

    def resolve_jobs(self, op: int) -> None:
        """Attach job ids to the op's grouped spans (all jobs done)."""
        tracker = self.sc.statusTracker()
        for sp in self.spans:
            if sp.op == op and sp.group:
                sp.jobs = sorted(tracker.getJobIdsForGroup(sp.group))

    # -- wrappers installed before the registry import ----------------------
    def install(self, tables_mod, concurrency_mod) -> None:
        orig_load = tables_mod.load_table
        orig_branches = concurrency_mod.run_branches

        def load_table(spark, sf_dir, name):
            if not self.active:
                return orig_load(spark, sf_dir, name)
            with self.span("load_table", group=True, table=name):
                return orig_load(spark, sf_dir, name)

        def run_branches(spark, label, branches):
            if not self.active:
                return orig_branches(spark, label, branches)
            with self.span("run_branches", label=label) as rb:
                wrapped = {n: self._branch(rb.id, n, fn) for n, fn in branches.items()}
                return orig_branches(spark, label, wrapped)

        tables_mod.load_table = load_table
        concurrency_mod.run_branches = run_branches

    def _branch(self, parent: int, name: str, fn):
        def run():
            # Runs in the branch's own thread. The job group is left set
            # so it also covers the checkpoint job run_branches launches
            # after the callable returns: the group carries the branch's
            # whole materialization.
            with self.span("branch", parent=parent, branch=name) as sp:
                sp.group = f"pb-{sp.id}"
                self.sc.setLocalProperty(_GROUP, sp.group)
                return fn()

        return run

    def refresh_fn(self, refresh_table, parent: int):
        """A ``refresh_many(refresh_fn=...)`` hook timing each target."""

        def fn(spark, name):
            with self.span("refresh_target", parent=parent, table=name) as sp:
                res = refresh_table(spark, name)
                sp.attrs["ok"] = res.refreshed
                return res

        return fn

    def dump(self, path: Path) -> None:
        with open(path, "w") as f:
            for sp in self.spans:
                f.write(json.dumps(asdict(sp)) + "\n")


# ---------------------------------------------------------------------------
# Event log
# ---------------------------------------------------------------------------


@dataclass
class JobInfo:
    end_ms: int = 0
    stages: list[int] = field(default_factory=list)


def parse_event_log(log_dir: Path, app_id: str):
    """Return ({job_id: JobInfo}, {stage_id: [task summary dicts]}) for
    one application's event log (rolling ``eventlog_v2_<app>`` layout
    or a single file)."""
    base = log_dir / f"eventlog_v2_{app_id}"
    files = sorted(base.glob("events_*")) if base.is_dir() else [log_dir / app_id]
    jobs: dict[int, JobInfo] = defaultdict(JobInfo)
    tasks: dict[int, list[dict]] = defaultdict(list)
    for path in files:
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    jobs[ev["Job ID"]].stages = ev["Stage IDs"]
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]].end_ms = ev["Completion Time"]
                elif kind == "SparkListenerTaskEnd":
                    tasks[ev["Stage ID"]].append(_task_summary(ev))
    return jobs, tasks


def _task_summary(ev: dict) -> dict:
    info, m = ev["Task Info"], ev.get("Task Metrics") or {}
    acc = defaultdict(int)
    for a in info.get("Accumulables", []):
        if a.get("Name") in (_PY_SENT, _PY_RETURNED):
            acc[a["Name"]] += int(a.get("Update") or 0)
    sr, sw = m.get("Shuffle Read Metrics", {}), m.get("Shuffle Write Metrics", {})
    dur = info["Finish Time"] - info["Launch Time"]
    run = m.get("Executor Run Time", 0)
    return {
        "failed": bool(info.get("Failed")),
        "dur_ms": dur,
        "run_ms": run,
        "cpu_ms": m.get("Executor CPU Time", 0) / 1e6,
        "gc_ms": m.get("JVM GC Time", 0),
        "wait_ms": max(dur - run, 0) + sr.get("Fetch Wait Time", 0),
        "shuffle_read": sr.get("Remote Bytes Read", 0) + sr.get("Local Bytes Read", 0),
        "shuffle_write": sw.get("Shuffle Bytes Written", 0),
        "spill": m.get("Disk Bytes Spilled", 0),
        "py_sent": acc[_PY_SENT],
        "py_returned": acc[_PY_RETURNED],
    }


# ---------------------------------------------------------------------------
# Per-layer aggregation
# ---------------------------------------------------------------------------

UNITS = {
    "tables.load_table_calls": "count",
    "tables.load_table_s": "s",
    "tables.load_table_jobs": "count",
    "build.s": "s",
    "build.jobs": "count",
    "build.self_s": "s",
    "concurrency.run_branches_s": "s",
    "concurrency.branch_busy_s": "s",
    "concurrency.overlap": "ratio",
    "plan.s": "s",
    "plan.analysis_ms": "ms",
    "plan.optimization_ms": "ms",
    "plan.planning_ms": "ms",
    "exec.s": "s",
    "exec.jobs": "count",
    "exec.stages": "count",
    "exec.tasks": "count",
    "exec.failed_tasks": "count",
    "exec.executor_run_ms": "ms",
    "exec.executor_cpu_ms": "ms",
    "exec.gc_ms": "ms",
    "exec.task_wait_ms": "ms",
    "exec.shuffle_read_bytes": "bytes",
    "exec.shuffle_write_bytes": "bytes",
    "exec.spill_bytes": "bytes",
    "exec.busy_frac": "ratio",
    "exec.python_bytes_sent": "bytes",
    "exec.python_bytes_returned": "bytes",
    "refresh.many_ms": "ms",
    "refresh.target_ms_p50": "ms",
    "refresh.target_ms_max": "ms",
    "refresh.window_wait_ms": "ms",
    "refresh.reap_ms": "ms",
    "refresh.ok_frac": "ratio",
    "read.s": "s",
    "read.jobs": "count",
    "write.s": "s",
    "op.s": "s",
    "trace.unattributed_frac": "ratio",
    "trace.overhead_frac": "ratio",
    "client.rss_peak_mb": "MB",
    "jvm.rss_peak_mb": "MB",
}


def _union(intervals: list[tuple[float, float]]) -> float:
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


def self_time(sp: Span, children: list[Span]) -> float:
    """Span duration minus the part of it its children cover."""
    covered = [(max(c.start, sp.start), min(c.end, sp.end)) for c in children]
    return sp.dur - _union([(s, e) for s, e in covered if e > s])


def layer_metrics(
    spans: list[Span],
    ops: list[int],
    jobs: dict[int, JobInfo],
    tasks: dict[int, list[dict]],
    cores: int,
    overhead_frac: float,
) -> dict[str, float]:
    """Per-op means (sums over the traced ops divided by their count)
    of every per-layer metric; layers an op never reaches read 0."""
    n = max(len(ops), 1)
    want = set(ops)
    spans = [s for s in spans if s.op in want]
    by_id = {s.id: s for s in spans}
    kids: dict[int, list[Span]] = defaultdict(list)
    for s in spans:
        if s.parent in by_id:
            kids[s.parent].append(s)
    named: dict[str, list[Span]] = defaultdict(list)
    for s in spans:
        named[s.name].append(s)

    def subtree_jobs(sp: Span) -> list[int]:
        out = list(sp.jobs)
        for c in kids[sp.id]:
            out += subtree_jobs(c)
        return out

    def ran_stages(job_ids: list[int]) -> set[int]:
        # A job also lists the parent stages it skipped because an
        # earlier job already ran them; count each stage that ran once.
        return {st for j in job_ids for st in jobs[j].stages if st in tasks}

    def total(name: str, fn) -> float:
        return sum(fn(s) for s in named[name])

    def per_op(x: float) -> float:
        return x / n

    # Branch busy time runs from the callable's start to the end of the
    # last job of its group (the checkpoint that materializes it).
    def branch_busy(sp: Span) -> float:
        end = max([sp.end] + [jobs[j].end_ms / 1000 for j in sp.jobs if jobs[j].end_ms])
        return end - sp.start

    rb_wall = total("run_branches", lambda s: s.dur)
    busy = total("branch", branch_busy)
    exec_spans = named["exec"] + named["read"]
    exec_jobs = [j for s in exec_spans for j in subtree_jobs(s)]
    exec_stages = ran_stages(exec_jobs)
    ex_tasks = [t for st in exec_stages for t in tasks[st]]
    exec_wall = sum(s.dur for s in exec_spans)

    def tsum(key: str) -> float:
        return sum(t[key] for t in ex_tasks)

    targets = named["refresh_target"]
    target_ms = [t.dur * 1000 for t in targets]
    refresh = named["refresh"]
    # The phases of an op are its direct children; what they leave
    # uncovered is time the trace cannot attribute.
    op_wall = sum(s.dur for s in named["op"])
    phased = sum(c.dur for o in named["op"] for c in kids[o.id])

    def wait_ms(r: Span) -> float:
        return sum(max(c.start - r.start, 0) for c in kids[r.id]) * 1000

    def reap_ms(r: Span) -> float:
        ends = [c.end for c in kids[r.id]]
        return (r.end - max(ends)) * 1000 if ends else 0.0

    m = {
        "tables.load_table_calls": per_op(len(named["load_table"])),
        "tables.load_table_s": per_op(total("load_table", lambda s: s.dur)),
        "tables.load_table_jobs": per_op(total("load_table", lambda s: len(s.jobs))),
        "build.s": per_op(total("build", lambda s: s.dur)),
        "build.jobs": per_op(total("build", lambda s: len(subtree_jobs(s)))),
        "build.self_s": per_op(total("build", lambda s: self_time(s, kids[s.id]))),
        "concurrency.run_branches_s": per_op(rb_wall),
        "concurrency.branch_busy_s": per_op(busy),
        "concurrency.overlap": busy / rb_wall if rb_wall else 0.0,
        "plan.s": per_op(total("plan", lambda s: s.dur)),
        "plan.analysis_ms": per_op(total("plan", lambda s: s.attrs.get("analysis_ms", 0))),
        "plan.optimization_ms": per_op(
            total("plan", lambda s: s.attrs.get("optimization_ms", 0))
        ),
        "plan.planning_ms": per_op(total("plan", lambda s: s.attrs.get("planning_ms", 0))),
        "exec.s": per_op(exec_wall),
        "exec.jobs": per_op(len(exec_jobs)),
        "exec.stages": per_op(len(exec_stages)),
        "exec.tasks": per_op(len(ex_tasks)),
        "exec.failed_tasks": per_op(sum(t["failed"] for t in ex_tasks)),
        "exec.executor_run_ms": per_op(tsum("run_ms")),
        "exec.executor_cpu_ms": per_op(tsum("cpu_ms")),
        "exec.gc_ms": per_op(tsum("gc_ms")),
        "exec.task_wait_ms": per_op(tsum("wait_ms")),
        "exec.shuffle_read_bytes": per_op(tsum("shuffle_read")),
        "exec.shuffle_write_bytes": per_op(tsum("shuffle_write")),
        "exec.spill_bytes": per_op(tsum("spill")),
        "exec.busy_frac": tsum("dur_ms") / 1000 / (exec_wall * cores) if exec_wall else 0.0,
        "exec.python_bytes_sent": per_op(tsum("py_sent")),
        "exec.python_bytes_returned": per_op(tsum("py_returned")),
        "refresh.many_ms": per_op(total("refresh", lambda s: s.dur * 1000)),
        "refresh.target_ms_p50": statistics.median(target_ms) if target_ms else 0.0,
        "refresh.target_ms_max": max(target_ms, default=0.0),
        "refresh.window_wait_ms": per_op(sum(wait_ms(r) for r in refresh)),
        "refresh.reap_ms": per_op(sum(reap_ms(r) for r in refresh)),
        "refresh.ok_frac": (
            sum(bool(t.attrs.get("ok")) for t in targets) / len(targets) if targets else 0.0
        ),
        "read.s": per_op(total("read", lambda s: s.dur)),
        "read.jobs": per_op(total("read", lambda s: len(subtree_jobs(s)))),
        "write.s": per_op(total("write", lambda s: s.dur)),
        "op.s": per_op(op_wall),
        "trace.unattributed_frac": (op_wall - phased) / op_wall if op_wall else 0.0,
        "trace.overhead_frac": overhead_frac,
    }
    return m
