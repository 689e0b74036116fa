"""One bounded, cancellable fan-out for the engine's concurrent work.

``run_tasks`` runs named callables on ``min(window, n)`` workers that
drain one shared list. Each task runs under its own Spark job group and
its clock starts when a worker picks it up; a task still running
``timeout`` seconds later has its group cancelled (``interruptOnCancel``)
and is abandoned — the reference's bounded window and per-target kill
(``impala-refresher.go:81-86, 108-135``), used by ``refresh_many``.
``run_branches`` overlaps the independent branches of a composite query
(guide §2.6), so one branch's eager action does not serialize the rest.

Workers are daemon ``pyspark.InheritableThread``s: under py4j's pinned
thread mode (the default) Spark local properties live per thread, and
``InheritableThread`` copies the caller's into each worker. py4j closes
a worker's JVM connection when it exits; no JVM threads leak (measured,
PySpark 4.1.2). Daemon workers let the process exit while an abandoned
task still runs.
"""

from __future__ import annotations

import threading
import time
import uuid
from collections.abc import Callable, Sequence
from dataclasses import dataclass
from typing import Any

from pyspark import InheritableThread
from pyspark.sql import DataFrame, SparkSession


@dataclass
class Outcome:
    """A task's value or error, run time from its own start, and timeout flag."""

    name: str
    value: Any = None
    error: BaseException | None = None
    elapsed_s: float = 0.0
    timed_out: bool = False


def run_tasks(
    spark: SparkSession,
    label: str,
    tasks: Sequence[tuple[str, Callable[[], Any]]],
    *,
    window: int = 0,
    timeout: float | None = None,
) -> list[Outcome]:
    """Run ``(name, fn)`` tasks on at most ``window`` workers (0 = one
    per task); one ``Outcome`` per task, in task order. A task's
    ``Exception`` stays in its outcome; an interrupt or exit is
    re-raised here."""
    sc = spark.sparkContext
    n = len(tasks)
    groups = [f"{label}-{uuid.uuid4().hex}" for _ in tasks]
    starts: list[float | None] = [None] * n
    outcomes: list[Outcome | None] = [None] * n
    pending = iter(range(n))
    cond = threading.Condition()

    def settle(i: int, **result: Any) -> None:  # holding cond; the first settle wins
        if outcomes[i] is None:
            outcomes[i] = Outcome(tasks[i][0], elapsed_s=time.monotonic() - starts[i], **result)
            cond.notify_all()

    def work() -> None:
        while True:
            with cond:
                i = next(pending, None)
                if i is None:
                    return
                starts[i] = time.monotonic()
                cond.notify_all()  # the caller's timeout clock for i starts now
            name, fn = tasks[i]
            try:
                sc.setJobGroup(groups[i], f"{label}: {name}", interruptOnCancel=True)
                result = {"value": fn()}
            except BaseException as e:  # to the caller, which re-raises non-Exceptions
                result = {"error": e}
            with cond:
                settle(i, **result)

    for _ in range(window if 0 < window < n else n):
        InheritableThread(target=work, daemon=True).start()
    with cond:
        while None in outcomes:
            running = [
                (t, i) for i, t in enumerate(starts) if t is not None and outcomes[i] is None
            ]
            if timeout is None or not running:
                cond.wait()
                continue
            t0, i = min(running)  # the earliest start has the earliest deadline
            left = t0 + timeout - time.monotonic()
            if left > 0:
                cond.wait(left)
            else:
                settle(i, timed_out=True)
                sc.cancelJobGroup(groups[i])
    for o in outcomes:
        if o.error is not None and not isinstance(o.error, Exception):
            raise o.error
    return outcomes


def run_branches(
    spark: SparkSession,
    label: str,
    branches: dict[str, Callable[[], DataFrame]],
) -> dict[str, DataFrame]:
    """Materialize each branch concurrently (localCheckpoint, then a
    narrow coalesce(1) over the checkpointed blocks — every caller's
    branch output is pair/topk-sized) and return {name: DataFrame}.
    The first failed branch, in branch order, is re-raised."""
    tasks = [(n, lambda fn=fn: fn().localCheckpoint().coalesce(1)) for n, fn in branches.items()]
    outcomes = run_tasks(spark, label, tasks)
    failed = [o for o in outcomes if o.error is not None]
    if failed:
        others = ", ".join(o.name for o in failed[1:])
        suffix = f" (further failed branches: {others})" if others else ""
        first = failed[0]
        raise RuntimeError(f"{label}: branch {first.name!r} failed{suffix}") from first.error
    return {o.name: o.value for o in outcomes}
