"""The one fan-out runner (``concurrency.run_tasks``) and its composite-
query caller ``run_branches``; ``refresh_many``'s window, timeout and
cancel semantics are covered in test_refresh.py."""

from __future__ import annotations

import sys
import threading
from collections import Counter

import pytest

from impala_refresher_spark.concurrency import run_branches, run_tasks

_GROUP = "spark.jobGroup.id"


def test_run_branches_materializes_each_branch(spark):
    got = run_branches(
        spark, "t", {"a": lambda: spark.range(3), "b": lambda: spark.range(5, numPartitions=3)}
    )
    assert {k: v.count() for k, v in got.items()} == {"a": 3, "b": 5}
    assert all(v.rdd.getNumPartitions() == 1 for v in got.values())


def test_run_branches_reraises_first_failed_branch_in_order(spark):
    def bad():
        raise ValueError("bad branch")

    branches = {"ok": lambda: spark.range(1), "b1": bad, "b2": bad}
    with pytest.raises(RuntimeError, match=r"'b1' failed \(further failed branches: b2\)") as ei:
        run_branches(spark, "t", branches)
    assert isinstance(ei.value.__cause__, ValueError)


def test_run_tasks_gives_each_task_its_own_job_group(spark):
    """Every task runs under a job group of its own (what a timeout
    cancels), set in the worker, never in the caller's thread."""
    sc = spark.sparkContext
    caller_group = sc.getLocalProperty(_GROUP)
    tasks = [(n, lambda: sc.getLocalProperty(_GROUP)) for n in "abcd"]
    outcomes = run_tasks(spark, "grp", tasks, window=2)
    groups = [o.value for o in outcomes]
    assert [o.name for o in outcomes] == list("abcd")
    assert len(set(groups)) == 4 and all(g.startswith("grp-") for g in groups), groups
    assert sc.getLocalProperty(_GROUP) == caller_group


def test_run_tasks_stress_each_task_runs_and_settles_once(spark):
    """More workers than cores and a tiny switch interval: a task taken
    by two workers, or a result lost between them, breaks the counts."""
    calls: Counter[int] = Counter()
    lock = threading.Lock()

    def task(k):
        def fn():
            with lock:
                calls[k] += 1
            if k % 7 == 0:
                raise ValueError(k)
            return k * k

        return fn

    prev = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        outcomes = run_tasks(
            spark, "stress", [(str(k), task(k)) for k in range(200)], window=16, timeout=60
        )
    finally:
        sys.setswitchinterval(prev)
    assert calls == Counter(range(200))
    assert [o.name for o in outcomes] == [str(k) for k in range(200)]
    for k, o in enumerate(outcomes):
        assert not o.timed_out
        if k % 7 == 0:
            assert isinstance(o.error, ValueError) and o.value is None
        else:
            assert o.error is None and o.value == k * k


def test_run_tasks_reraises_an_interrupt_in_the_caller(spark):
    """A worker catches every exception to hand it over; anything that
    is not an ``Exception`` (interrupt, exit) must not become a row."""

    def interrupted():
        raise KeyboardInterrupt

    with pytest.raises(KeyboardInterrupt):
        run_tasks(spark, "t", [("ok", lambda: 1), ("stop", interrupted)])
