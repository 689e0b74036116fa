"""Plan-fidelity self-check of the benchmark's timed action.

The benchmark times ``df.write.format("noop").mode("overwrite").save()``
so that every row and column of a query's answer is computed. This
test holds it to that: for every op of the ``queries`` workload, the noop
write's optimized logical plan keeps every logical operator of the
query's own optimized plan. A timed action that let Catalyst prune
(``.count()`` drops joins, windows and aggregate expressions) fails it,
as the negative control shows.

Run: ``python3 -m pytest perfbench/test_plan_fidelity.py -q``.
"""

from __future__ import annotations

import re
import sys
from collections import Counter
from pathlib import Path

import pytest

HERE = Path(__file__).resolve().parent
sys.path[:0] = [str(HERE), str(HERE.parent)]

import run  # noqa: E402
import workloads  # noqa: E402

SF = 0.001
OPS = tuple(workloads.WORKLOADS["queries"].ops)
_OP = re.compile(r"^[\s:|+\-]*([A-Za-z][A-Za-z0-9]*)")


def operators(plan: str) -> Counter:
    """Multiset of logical operator names in a plan tree string."""
    return Counter(m.group(1) for m in map(_OP.match, plan.splitlines()) if m)


def missing(query_plan: str, timed_plan: str) -> Counter:
    return operators(query_plan) - operators(timed_plan)


@pytest.fixture(scope="module")
def spark():
    run_dir = run.WORK / "selftest"
    run.isolate(run_dir, trace=False)
    from impala_refresher_spark.session import get_spark

    import impala_refresher_spark.queries  # noqa: F401

    s = get_spark("perfbench-selftest")
    s.conf.set("spark.sql.ui.explainMode", "extended")
    yield s
    run.shutdown(s)


@pytest.fixture(scope="module")
def sf_dir():
    return str(workloads.FIXTURES / f"sf{SF:g}")


def noop_write_plan(spark, df) -> str:
    """Run the timed action and return the optimized logical plan of
    its own SQL execution."""
    jss = spark._jsparkSession
    df.write.format("noop").mode("overwrite").save()
    spark.sparkContext._jsc.sc().listenerBus().waitUntilEmpty(30_000)
    execs = jss.sharedState().statusStore().executionsList()
    for i in reversed(range(execs.size())):
        desc = execs.apply(i).physicalPlanDescription()
        parsed = desc.split("== Analyzed Logical Plan ==")[0]
        if "OverwriteByExpression" in parsed and "noop" in parsed:
            return desc.split("== Optimized Logical Plan ==")[1].split("== Physical Plan ==")[0]
    raise AssertionError("noop write execution not found")


@pytest.mark.parametrize("name", OPS)
def test_noop_write_keeps_every_operator(spark, sf_dir, name):
    from impala_refresher_spark.queries import QUERIES

    df = QUERIES[name](spark, sf_dir)
    own = df._jdf.queryExecution().optimizedPlan().toString()
    lost = missing(own, noop_write_plan(spark, df))
    assert not lost, f"{name}: the timed write dropped {dict(lost)}"


def test_count_action_would_fail_the_check(spark, sf_dir):
    """Negative control: under ``.count()`` Catalyst prunes whole
    operators from some op's plan, and the check sees it."""
    from impala_refresher_spark.queries import QUERIES

    pruned = {}
    for name in OPS:
        df = QUERIES[name](spark, sf_dir)
        own = df._jdf.queryExecution().optimizedPlan().toString()
        counted = df.groupBy().count()._jdf.queryExecution().optimizedPlan().toString()
        lost = missing(own, counted)
        if lost:
            pruned[name] = dict(lost)
    assert pruned, "expected .count() to prune operators from at least one op"
