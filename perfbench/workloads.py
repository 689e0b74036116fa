"""The benchmark's workloads and their closed-loop clients.

- ``queries`` ops: build the query's DataFrame over the fixture tables,
  then drive its whole answer with a ``noop`` write. Before each pass,
  outside the timed ops, the ten fixture tables registered as catalog
  tables are refreshed ``REFRESH_REPS`` times: nothing changes or reads
  them, so this times ``refresh_many`` alone.
- ``catalog-refresh`` rounds: land one seed-chosen file in two tables
  (and drop the previous round's), refresh all eight tables, and read
  every table back against its expected row count and key sum.

Every refresh goes through ``operators.refresh.refresh_many`` (timeout
60 s, window 4). The inputs are the repository's seed-42 test fixtures,
carried byte for byte under ``fixtures/`` (checked against
``fixtures/SHA256SUMS``).
"""

from __future__ import annotations

import contextlib
import hashlib
import os
import shutil
import statistics
import time
from dataclasses import dataclass, field
from pathlib import Path

import numpy as np
import pyarrow.compute as pc
import pyarrow.parquet as pq

FIXTURES = Path(__file__).resolve().parent / "fixtures"

# Relational and TPC-H queries at sf0.1: per-query fixed cost (DataFrame
# build, schema inference, planning) dominates.
OLAP_SHORT = (
    "filter_compound",
    "agg_count_distinct",
    "agg_pricing_summary",
    "tpch_q6_forecast_revenue",
    "join_broadcast_dim",
    "topk_per_group",
    "window_ranking",
    "union_distinct",
    "tpch_q3_shipping_priority",
    "tpch_q5_local_supplier_volume",
    "tpch_q21_suppliers_who_kept_waiting",
    "star_join_revenue",
)
# LLM-pipeline queries at sf0.01 (500 documents), one per layer they
# stress: the Python/Arrow boundary, run_branches fan-out, and the
# Gopher battery whose per-row cost grows with document length.
LLM_DEDUP = (
    "udf_pandas_token_count",
    "dedup_quality_scoreboard",
    "quality_gopher_rules",
)

REFRESH_TIMEOUT_S = 60.0
REFRESH_WINDOW = 4
REFRESH_REPS = 16
WARMUP_ROUNDS = 2


def verify_fixtures() -> None:
    """Raise unless every fixture file matches ``fixtures/SHA256SUMS``."""
    for line in (FIXTURES / "SHA256SUMS").read_text().splitlines():
        digest, name = line.split(maxsplit=1)
        if hashlib.sha256((FIXTURES / name).read_bytes()).hexdigest() != digest:
            raise RuntimeError(f"fixture {name} does not match fixtures/SHA256SUMS")


@dataclass
class Env:
    """What every workload needs: the session factory, scale-resolved
    fixture directories, the run's scratch directory and the seed RNG."""

    run_dir: Path
    rng: np.random.Generator
    smoke: bool
    tracer: object | None = None
    spark: object | None = None
    refresh_ms: list[float] = field(default_factory=list)
    appended: list[tuple[int, list[int]]] = field(default_factory=list)
    check_s: dict[str, float] = field(default_factory=dict)

    def sf_dir(self, sf: float) -> str:
        return str(FIXTURES / f"sf{0.001 if self.smoke else sf:g}")

    def restart_session(self):
        """Stop any running session and start the engine's own."""
        from impala_refresher_spark.session import get_spark

        if self.spark is not None:
            self.spark.stop()
        self.spark = get_spark("perfbench")
        self.spark.range(1).count()
        return self.spark

    def refresh(self, tables: list[str]) -> None:
        """Refresh ``tables``; raise unless every target refreshed."""
        from impala_refresher_spark.operators.refresh import (
            all_refreshed,
            refresh_many,
            refresh_table,
        )

        t0 = time.perf_counter()
        with _phase(self, "refresh", group=False) as sp:
            hook = self.tracer.refresh_fn(refresh_table, sp.id) if self.tracer else None
            res = refresh_many(
                self.spark,
                tables,
                timeout=REFRESH_TIMEOUT_S,
                concurrency=REFRESH_WINDOW,
                refresh_fn=hook,
            )
        self.refresh_ms.append((time.perf_counter() - t0) * 1000)
        if not all_refreshed(res):
            raise RuntimeError(f"refresh failed: {[r.error for r in res if not r.refreshed]}")


def _phase(env: Env, name: str, group: bool = True):
    """A span around one phase of an op in a traced pass, else nothing."""
    return env.tracer.span(name, group=group) if env.tracer else contextlib.nullcontext()


def answer_hash(df, con, sql: str) -> str:
    """Check ``df`` against its DuckDB oracle with the comparison rules
    of ``tests/oracle_util.py`` and return the hash of the canonical
    answer. Raises AssertionError on any mismatch."""
    from tests.oracle_util import _canon_rows, _gate_shapes

    _gate_shapes(df, con, sql)
    cols = list(df.columns)
    got = _canon_rows(cols, list(df.toPandas().itertuples(index=False, name=None)))
    res = con.execute(sql)
    duck_cols = [d[0] for d in res.description]
    want = _canon_rows(duck_cols, list(res.fetchdf().itertuples(index=False, name=None)))
    if sorted(cols) != sorted(duck_cols):
        raise AssertionError(f"column mismatch: spark={sorted(cols)} duckdb={sorted(duck_cols)}")
    if got != want:
        raise AssertionError(f"answer mismatch: {len(got)} rows vs oracle {len(want)}")
    return hashlib.sha256(repr(got).encode()).hexdigest()[:16]


class QueryWorkload:
    """Declared queries driven to their whole answer, one client."""

    def __init__(self, ops: dict[str, float]):
        self.ops = ops  # query name -> scale factor

    def _main_sf(self) -> float:
        return statistics.mode(self.ops.values())

    def prepare(self, env: Env) -> None:
        pass

    def setup(self, env: Env) -> None:
        """Start the session and register the fixture tables of the
        workload's main scale as external catalog tables."""
        from impala_refresher_spark.sources.tables import TABLES

        spark = env.restart_session()
        sf_dir = env.sf_dir(self._main_sf())
        self.tables = []
        for t in TABLES:
            spark.sql(
                f"CREATE TABLE fx_{t} USING PARQUET LOCATION '{sf_dir}/{t}.parquet'"
            )
            self.tables.append(f"fx_{t}")

    def before_pass(self, env: Env) -> None:
        """Refresh the registered tables, outside the timed ops."""
        for _ in range(REFRESH_REPS):
            env.refresh(self.tables)

    def pass_order(self, env: Env) -> list[str]:
        return [str(x) for x in env.rng.permutation(list(self.ops))]

    def check(self, env: Env, order: list[str]) -> dict[str, str]:
        """Check every op once against its oracle at the op's scale.
        Returns {op: answer hash or 'FAILED: ...'}."""
        from impala_refresher_spark.queries import ORACLES, QUERIES
        from tests.oracle_util import duckdb_conn

        out, cons = {}, {}
        try:
            for name in order:
                sf_dir = env.sf_dir(self.ops[name])
                con = cons.get(sf_dir) or cons.setdefault(sf_dir, duckdb_conn(sf_dir))
                t0 = time.perf_counter()
                try:
                    out[name] = answer_hash(QUERIES[name](env.spark, sf_dir), con, ORACLES[name])
                except Exception as exc:  # counted as a failed op
                    out[name] = f"FAILED: {type(exc).__name__}: {str(exc)[:300]}"
                env.check_s[name] = time.perf_counter() - t0
        finally:
            for c in cons.values():
                c.close()
        return out

    def run_op(self, env: Env, name: str) -> None:
        from impala_refresher_spark.queries import QUERIES

        spark, sf_dir = env.spark, env.sf_dir(self.ops[name])
        tr = env.tracer
        with _phase(env, "build"):
            df = QUERIES[name](spark, sf_dir)
        if tr is not None:
            with tr.span("plan", group=True) as sp:
                qe = df._jdf.queryExecution()
                qe.executedPlan()
                phases = qe.tracker().phases()
                for ph in ("analysis", "optimization", "planning"):
                    if phases.contains(ph):
                        sp.attrs[f"{ph}_ms"] = phases.apply(ph).durationMs()
        with _phase(env, "exec"):
            df.write.format("noop").mode("overwrite").save()


class CatalogRefreshWorkload:
    """External parquet tables that receive files between refreshes."""

    def __init__(self, sf: float, n_tables: int, files: int, pool: int, appends: int):
        self.sf, self.n_tables, self.files = sf, n_tables, files
        self.pool, self.appends = pool, appends
        self.tables = [f"cat_t{k}" for k in range(n_tables)]

    def prepare(self, env: Env) -> None:
        """Split the fixture ``lineitem`` into the tables' base files
        plus a pool of files to append (varying sizes, so a stale read
        shows in the count), under the run directory."""
        base = self.base = env.run_dir / "catalog-base"
        li = pq.read_table(Path(env.sf_dir(self.sf)) / "lineitem.parquet")
        idx = np.arange(li.num_rows)
        manifest: dict = {"tables": {}, "pool": []}
        for k in range(self.n_tables):
            part = li.take(idx[idx % self.n_tables == k])
            d = base / f"t{k}"
            d.mkdir(parents=True)
            for j, chunk in enumerate(np.array_split(np.arange(part.num_rows), self.files)):
                pq.write_table(part.take(chunk), d / f"part-{j:03d}.parquet")
            manifest["tables"][f"t{k}"] = _stats(part)
        per_file = max(li.num_rows // (self.n_tables * self.files), 2)
        off = 0
        for m in range(self.pool):
            n = per_file // 2 + (per_file * m) // self.pool + 1
            chunk = li.slice(off, n)
            off += n
            pq.write_table(chunk, base / f"pool-{m:02d}.parquet")
            manifest["pool"].append(_stats(chunk))
        self.manifest = manifest

    def setup(self, env: Env) -> None:
        """Lay out fresh table directories (hard links to the base
        files), start the session and register the external tables."""
        self.root = env.run_dir / "tables"
        shutil.rmtree(self.root, ignore_errors=True)
        for k in range(self.n_tables):
            dst = self.root / f"t{k}"
            dst.mkdir(parents=True)
            for f in sorted((self.base / f"t{k}").iterdir()):
                os.link(f, dst / f.name)
        self.landed: list[Path] = []
        self.round = 0
        spark = env.restart_session()
        for k, name in enumerate(self.tables):
            spark.sql(f"CREATE TABLE {name} USING PARQUET LOCATION '{self.root / f't{k}'}'")

    def pass_order(self, env: Env) -> list[str]:
        return ["round"]

    def before_pass(self, env: Env) -> None:
        pass

    def check(self, env: Env, order: list[str]) -> dict[str, str]:
        """Verify the first read of every table (rows, key sum) and hash
        it, then run untimed warm-up rounds, each verified like a timed
        one."""
        out = {}
        try:
            got = self._read(env)
            if got != self._expected():
                raise AssertionError(f"first read {got} != {self._expected()}")
            out["tables"] = hashlib.sha256(repr(sorted(got.items())).encode()).hexdigest()[:16]
        except Exception as exc:
            out["tables"] = f"FAILED: {type(exc).__name__}: {str(exc)[:300]}"
        for i in range(WARMUP_ROUNDS):
            try:
                self.run_op(env, "round")
                out[f"warm-up round {i}"] = "ok"
            except Exception as exc:
                out[f"warm-up round {i}"] = f"FAILED: {type(exc).__name__}: {str(exc)[:300]}"
        return out

    def _expected(self, chosen: list[int] = (), m: int = 0) -> dict[str, tuple[int, int]]:
        """Rows and key sum of every table, with pool file ``m`` landed
        in the ``chosen`` tables."""
        add = self.manifest["pool"][m]
        want = {}
        for k, name in enumerate(self.tables):
            rows, keys = self.manifest["tables"][f"t{k}"]
            if k in chosen:
                rows, keys = rows + add[0], keys + add[1]
            want[name] = (rows, keys)
        return want

    def _read(self, env: Env) -> dict[str, tuple[int, int]]:
        """Read every table back in one query: its row count and the
        sum of its keys."""
        sql = " UNION ALL ".join(
            f"SELECT '{t}' AS t, COUNT(*) AS n, SUM(l_orderkey) AS k FROM {t}" for t in self.tables
        )
        return {r["t"]: (int(r["n"]), int(r["k"] or 0)) for r in env.spark.sql(sql).collect()}

    def run_op(self, env: Env, name: str) -> None:
        """One round: write, refresh, verified read."""
        self.round += 1
        chosen = sorted(int(k) for k in env.rng.choice(self.n_tables, self.appends, replace=False))
        m = int(env.rng.integers(0, self.pool))
        env.appended.append((m, chosen))
        with _phase(env, "write", group=False):
            for path in self.landed:
                path.unlink()
            self.landed = []
            for k in chosen:
                dst = self.root / f"t{k}" / f"append-r{self.round:05d}.parquet"
                os.link(self.base / f"pool-{m:02d}.parquet", dst)
                self.landed.append(dst)
        env.refresh(self.tables)
        want = self._expected(chosen, m)
        with _phase(env, "read"):
            got = self._read(env)
        if got != want:
            stale = sorted(n for n in want if got[n] != want[n])
            raise AssertionError(f"round {self.round}: stale or wrong read of {stale}")


def _stats(table) -> tuple[int, int]:
    return (table.num_rows, int(pc.sum(table["l_orderkey"]).as_py() or 0))


WORKLOADS = {
    "queries": QueryWorkload(
        {**{name: 0.1 for name in OLAP_SHORT}, **{name: 0.01 for name in LLM_DEDUP}}
    ),
    "catalog-refresh": CatalogRefreshWorkload(sf=0.1, n_tables=8, files=48, pool=16, appends=2),
}
