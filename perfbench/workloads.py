"""The three benchmark workloads.

Each workload is a closed loop with one client: the next op starts only
when the previous one has returned its result. A *pass* is one round
of the workload's ops; ``run_pass`` returns one ``OpRecord`` per timed
op, ``check`` compares every recorded output with its expected value
outside the timed window.

- ``sql_interactive``: ten relational corpus queries, submitted as
  Snowflake SQL through ``IcebreakerEngine.execute``.
- ``xops_batch``: four X-op and MATCH_RECOGNIZE callables from
  ``queries.queries()``, in a fixed order, like a batch pipeline.
- ``dbt_build``: a dbt project built through ``ProjectRunner`` into a
  fresh schema, plus an incremental batch, a second snapshot run and a
  literal ``MERGE INTO``.
"""

from __future__ import annotations

import contextlib
import os
import shutil
import threading
import time
from dataclasses import dataclass, field

from checks import Oracle, fingerprint

SQL_OPS = (
    "q01_pricing_summary", "q02_top1_per_group", "q03_shipping_priority",
    "q04_region_volume", "q05_order_priority", "q08_rollup",
    "q12_json_extract", "q22_having", "q25_cte_decile",
    "q28_merge_semantics",
)
XOPS = (
    "x01_dedup_exact", "x06_ann_topk", "x14_dedup_clusters",
    "x61_match_recognize",
)


@dataclass
class OpRecord:
    op: str
    kind: str
    pass_no: int
    start: float  # epoch seconds, comparable with Spark's job timestamps
    build_s: float = 0.0
    action_s: float = 0.0
    ok: bool = True
    error: str = ""
    tag: str = ""
    rows: int = -1
    out: object = None  # (cols, rows) until checked
    extra: dict = field(default_factory=dict)

    @property
    def latency_s(self) -> float:
        return self.build_s + self.action_s


@dataclass
class Ctx:
    spark: object
    engine: object
    data_dir: str
    work_dir: str
    seed: int
    tracer: object = None  # tracing.Tracer in a traced run

    def tagged(self, tag: str):
        if self.tracer is None:
            return contextlib.nullcontext()
        return self.tracer.tagged(tag)

    def op_tag(self, rec: OpRecord) -> str:
        if self.tracer is not None:
            rec.tag = self.tracer.new_tag(rec.op)
        return rec.tag


class _ReadWorkload:
    """Ops that build a DataFrame, then collect it; checked by oracle."""

    names: tuple = ()
    kind = ""
    nominal_pass_s: float  # warm pass time on local[4]; sets the pass count
    check_each_pass = False  # outputs stay in memory; checked after the run

    def __init__(self, ctx: Ctx) -> None:
        self.ctx = ctx
        self._expected: dict[str, tuple[int, str]] = {}

    def setup(self) -> None:
        from dbt_icebreaker_spark import queries

        self.queries = queries

    def build(self, name: str):
        raise NotImplementedError

    def plan(self, oracle: Oracle) -> None:
        pass

    def order(self, pass_no: int) -> list[str]:
        return list(self.names)

    def run_pass(self, pass_no: int) -> list[OpRecord]:
        out = []
        for name in self.order(pass_no):
            rec = OpRecord(name, self.kind, pass_no, time.time())
            tag = self.ctx.op_tag(rec)
            t0 = time.perf_counter()
            try:
                with self.ctx.tagged(tag):
                    with self.ctx.tagged(tag + ".build"):
                        df = self.build(name)
                    t1 = time.perf_counter()
                    rows = df.collect()
                t2 = time.perf_counter()
                rec.build_s, rec.action_s = t1 - t0, t2 - t1
                rec.out = (list(df.columns), rows)
                rec.rows = len(rows)
            except Exception as e:  # an op that raises counts as failed
                rec.build_s = time.perf_counter() - t0
                rec.ok, rec.error = False, f"{type(e).__name__}: {str(e)[:300]}"
            out.append(rec)
        return out

    def check(self, records: list[OpRecord], oracle: Oracle) -> None:
        oracles = self.queries.oracle_sql()
        for rec in records:
            if rec.out is None:
                continue
            if rec.op not in self._expected:
                self._expected[rec.op] = oracle.fingerprint(oracles[rec.op])
            got = fingerprint(*rec.out)
            if got != self._expected[rec.op]:
                rec.ok = False
                rec.error = f"output {got} != oracle {self._expected[rec.op]}"
            rec.out = None

    def end_pass(self, pass_no: int) -> None:
        pass


class SqlInteractive(_ReadWorkload):
    names = SQL_OPS
    kind = "sql"
    nominal_pass_s = 2.7
    tables = ("region", "nation", "customer", "supplier", "orders",
              "lineitem", "events")

    def order(self, pass_no: int) -> list[str]:
        """Seed-permuted per pass: interactive queries arrive in no
        fixed order."""
        import numpy as np

        rng = np.random.default_rng([self.ctx.seed, pass_no])
        return [self.names[i] for i in rng.permutation(len(self.names))]

    def build(self, name: str):
        return self.ctx.engine.execute(self.queries.SQL_QUERIES[name][0])


class XopsBatch(_ReadWorkload):
    names = XOPS
    kind = "xop"
    nominal_pass_s = 4.5
    tables = ("events", "documents", "embeddings")

    def setup(self) -> None:
        super().setup()
        self.fns = self.queries.queries()

    def build(self, name: str):
        return self.fns[name](self.ctx.spark, self.ctx.data_dir)


# ---------------------------------------------------------------- dbt
SRC_DB = "pb_src"
THREADS = 4


def _timed_engine_class():
    from dbt_icebreaker_spark import IcebreakerEngine

    class TimedEngine(IcebreakerEngine):
        """Records one OpRecord per model run, from the caller's thread
        (ProjectRunner's pool threads included); tags its jobs when
        traced."""

        def bind(self, ctx: Ctx, sink: list, pass_no: int) -> None:
            self._ctx, self._sink, self._pass_no = ctx, sink, pass_no
            self._lock = threading.Lock()

        def _timed(self, name, kind, fn, *a, **kw):
            rec = OpRecord(name, kind, self._pass_no, time.time())
            tag = self._ctx.op_tag(rec)
            t0 = time.perf_counter()
            try:
                with self._ctx.tagged(tag):
                    res = fn(*a, **kw)
                rec.rows = res.rows
                return res
            except Exception as e:
                rec.ok, rec.error = False, f"{type(e).__name__}: {str(e)[:300]}"
                raise
            finally:
                rec.build_s = time.perf_counter() - t0
                with self._lock:
                    self._sink.append(rec)

        def run_model(self, name, sql, materialization="table", **kw):
            kind = materialization
            if materialization == "incremental":
                strategy = kw.get("incremental_strategy", "merge")
                kind = "incremental_" + strategy.replace("+", "_")
            return self._timed(name, kind, super().run_model, name, sql, materialization, **kw)

        def run_snapshot(self, name, sql, **kw):
            return self._timed(name, "snapshot", super().run_snapshot, name, sql, **kw)

        def seed_csv(self, name, path, **kw):
            return self._timed(name, "seed", super().seed_csv, name, path, **kw)

    return TimedEngine


class _LockedWal:
    """Serialises ProjectRunner's CrashWal calls. CrashWal._save dumps a
    dict that other pool threads mutate, so with threads > 1 it
    intermittently raises "dictionary changed size during iteration"
    before the model runs, failing the model and skipping its subtree.
    The models themselves still run in parallel."""

    def __init__(self, wal) -> None:
        self._wal, self._lock = wal, threading.Lock()

    def pre_execute(self, model: str) -> None:
        with self._lock:
            self._wal.pre_execute(model)

    def post_execute(self, model: str, success: bool = True) -> None:
        with self._lock:
            self._wal.post_execute(model, success)


class DbtBuild:
    """One pass = seed load, project build, one incremental batch with a
    second snapshot run, and a MERGE INTO, all into a fresh schema."""

    kind = "dbt"
    nominal_pass_s = 7.0
    check_each_pass = True  # a pass's schema is dropped after its check
    tables = ("orders", "lineitem", "customer")  # see setup()

    def __init__(self, ctx: Ctx) -> None:
        import numpy as np

        self.ctx = ctx
        self.rng = np.random.default_rng([ctx.seed, 7])
        self.engine_cls = _timed_engine_class()
        self.runs: list[dict] = []  # ProjectRunner.run spans, per pass
        self.table_stats: dict = {}  # (pass, table) -> (bytes, rows), traced

    # persistent source tables: a view model over register_dir's temp
    # views fails with INVALID_TEMP_OBJ_REFERENCE
    def setup(self) -> None:
        spark = self.ctx.spark
        spark.sql(f"CREATE DATABASE IF NOT EXISTS {SRC_DB}")
        for t in self.tables:
            path = os.path.join(self.ctx.data_dir, f"{t}.parquet")
            spark.sql(
                f"CREATE TABLE IF NOT EXISTS {SRC_DB}.{t} USING parquet "
                f"LOCATION '{path}'"
            )

    def plan(self, oracle: Oracle) -> None:
        """Seed-chosen batch and changed rows, with expected results
        computed by DuckDB (outside every timed window)."""
        rng = self.rng
        n_ord = oracle.scalar("SELECT COUNT(*) FROM orders")
        n_cust = oracle.scalar("SELECT COUNT(*) FROM customer")
        width = n_ord // 4
        first = (0, width)
        lo = int(rng.integers(width // 2, n_ord - width))
        batch = (lo, lo + width // 2)
        lo = int(rng.integers(0, n_ord - width // 4))
        merge_rng = (lo, lo + width // 4)
        self.first, self.batch, self.merge_rng = first, batch, merge_rng
        mod = int(rng.integers(15, 25))
        self.change_pred = f"c_custkey % {mod} = {int(rng.integers(0, mod))}"
        tiers = rng.permutation(["gold", "silver", "bronze", "gold", "silver"])
        segs = ["AUTOMOBILE", "BUILDING", "FURNITURE", "HOUSEHOLD", "MACHINERY"]
        self.seed_path = os.path.join(self.ctx.work_dir, "seed_segments.csv")
        with open(self.seed_path, "w") as f:
            f.write("segment,tier,weight\n")
            for i, (s, t) in enumerate(zip(segs, tiers)):
                f.write(f"{s},{t},{i + 1}\n")

        def keys(ranges):
            s = set()
            for a, b in ranges:
                s.update(range(a, min(b, n_ord)))
            return len(s)

        def lines(a, b):
            return oracle.scalar(
                "SELECT COUNT(DISTINCT l_orderkey) FROM lineitem "
                f"WHERE l_orderkey >= {a} AND l_orderkey < {b}"
            )

        a, b = batch
        self.changed = {"inc_orders_merge": b - a, "inc_orders_di": b - a,
                        "inc_lines_append": lines(a, b)}
        n_changed = oracle.scalar(
            f"SELECT COUNT(*) FROM customer WHERE {self.change_pred}"
        )
        self.expected = {
            "seed_segments": 5,
            "stg_orders": n_ord,
            "inc_orders_merge": keys([first, batch, merge_rng]),
            "inc_orders_di": keys([first, batch]),
            "inc_lines_append": lines(*first) + lines(*batch),
            "mart_top_customers": oracle.scalar(
                "SELECT COUNT(*) FROM (SELECT c_mktsegment, ROW_NUMBER() OVER "
                "(PARTITION BY c_mktsegment ORDER BY c_custkey) rn FROM "
                "(SELECT DISTINCT c_custkey, c_mktsegment FROM customer "
                "JOIN orders ON o_custkey = c_custkey)) WHERE rn <= 10"
            ),
            "snap_customer": (n_cust, n_changed),
        }

    def _models(self, schema: str, batch: int):
        from dbt_icebreaker_spark.project import ModelDef

        s = schema
        lo, hi = self.batch if batch else self.first
        rng_pred = f"o_orderkey >= {lo} AND o_orderkey < {hi}"
        inc = [
            ModelDef(
                "inc_orders_merge",
                "SELECT o_orderkey, o_custkey, o_orderstatus, "
                f"o_totalprice + {batch} AS o_totalprice, o_orderdate "
                f"FROM {s}.stg_orders WHERE {rng_pred}",
                "incremental", unique_key="o_orderkey",
                incremental_strategy="merge", depends_on=["stg_orders"],
            ),
            ModelDef(
                "inc_orders_di",
                "SELECT o_orderkey, o_orderstatus, "
                "IFF(o_totalprice > 250000, 'big', 'small') AS size_class, "
                f"{batch} AS batch_no FROM {s}.stg_orders WHERE {rng_pred}",
                "incremental", unique_key="o_orderkey",
                incremental_strategy="delete+insert", depends_on=["stg_orders"],
            ),
            ModelDef(
                "inc_lines_append",
                f"SELECT l_orderkey, {batch} AS batch_no, COUNT(*) AS n_lines, "
                "CAST(SUM(l_extendedprice * (1 - l_discount)) AS DOUBLE) AS revenue "
                f"FROM {SRC_DB}.lineitem "
                f"WHERE l_orderkey >= {lo} AND l_orderkey < {hi} GROUP BY l_orderkey",
                "incremental", incremental_strategy="append",
            ),
        ]
        if batch:
            return inc
        return [
            ModelDef(
                "stg_orders",
                "SELECT o_orderkey, o_custkey, o_orderstatus, o_totalprice, "
                f"o_orderdate, o_orderpriority FROM {SRC_DB}.orders",
            ),
            ModelDef(
                "stg_customer",
                "SELECT c_custkey, c_name, c_nationkey, c_mktsegment, c_acctbal "
                f"FROM {SRC_DB}.customer",
                "view",
            ),
            self._snapshot(0),
            *inc,
            ModelDef(
                "customer_orders",
                "SELECT c.c_custkey, c.c_mktsegment, sd.tier, "
                "COUNT(*) AS n_orders, SUM(o.o_totalprice) AS total_spend "
                f"FROM {SRC_DB}.orders o JOIN {SRC_DB}.customer c "
                "ON o.o_custkey = c.c_custkey "
                f"JOIN {s}.seed_segments sd ON sd.segment = c.c_mktsegment "
                "GROUP BY c.c_custkey, c.c_mktsegment, sd.tier",
                "view",
            ),
            ModelDef(
                "mart_top_customers",
                "SELECT c_mktsegment, tier, c_custkey, n_orders, "
                f"CAST(total_spend AS DOUBLE) AS total_spend FROM {s}.customer_orders "
                "QUALIFY ROW_NUMBER() OVER (PARTITION BY c_mktsegment "
                "ORDER BY total_spend DESC, c_custkey) <= 10",
                depends_on=["customer_orders"],
            ),
        ]

    def _snapshot(self, run: int):
        from dbt_icebreaker_spark.project import ModelDef

        bal = "c_acctbal"
        if run:
            bal = f"IFF({self.change_pred}, c_acctbal + 1, c_acctbal)"
        return ModelDef(
            "snap_customer",
            f"SELECT c_custkey, {bal} AS c_acctbal, c_mktsegment "
            f"FROM {SRC_DB}.customer",
            "snapshot", unique_key="c_custkey", strategy="check",
            check_cols=["c_acctbal", "c_mktsegment"],
        )

    def run_pass(self, pass_no: int) -> list[OpRecord]:
        from dbt_icebreaker_spark.project import ProjectRunner

        ctx = self.ctx
        schema = f"pb_build_{pass_no}"
        pass_dir = os.path.join(ctx.work_dir, schema)
        os.makedirs(pass_dir, exist_ok=True)
        sink: list[OpRecord] = []
        eng = self.engine_cls(ctx.spark, schema=schema)
        eng.bind(ctx, sink, pass_no)
        runner = ProjectRunner(eng, threads=THREADS, state_dir=pass_dir)
        runner.wal = _LockedWal(runner.wal)
        self._schema, self._pass_dir, self._runner = schema, pass_dir, runner

        def project_run(models, label, changed=None):
            t0, first = time.time(), len(sink)
            session = runner.run(models)
            for rec in sink[first:]:
                if changed and rec.op in changed:
                    rec.extra.update(target=rec.op, changed_rows=changed[rec.op])
            self.runs.append({
                "pass": pass_no, "label": label, "start": t0, "end": time.time(),
                "models": [m.name for m in models],
                "deps": {m.name: list(m.depends_on) for m in models},
            })
            return session

        with contextlib.suppress(Exception):
            eng.seed_csv("seed_segments", self.seed_path)
        project_run(self._models(schema, 0), "build")
        # the batch and the second snapshot run are independent models,
        # so one run lets the pool overlap them
        project_run([*self._models(schema, 1), self._snapshot(1)], "batch1",
                    self.changed)

        lo, hi = self.merge_rng
        rec = OpRecord("merge_into", "merge_stmt", pass_no, time.time())
        tag = ctx.op_tag(rec)
        t0 = time.perf_counter()
        try:
            with ctx.tagged(tag):
                with ctx.tagged(tag + ".build"):
                    df = eng.execute(
                        f"MERGE INTO {schema}.inc_orders_merge t USING ("
                        "SELECT o_orderkey, o_custkey, o_orderstatus, "
                        "o_totalprice * 2 AS o_totalprice, o_orderdate "
                        f"FROM {SRC_DB}.orders WHERE o_orderkey >= {lo} "
                        f"AND o_orderkey < {hi}) s "
                        "ON t.o_orderkey = s.o_orderkey "
                        "WHEN MATCHED THEN UPDATE SET * "
                        "WHEN NOT MATCHED THEN INSERT *"
                    )
                t1 = time.perf_counter()
                rec.rows = len(df.collect())
            rec.build_s, rec.action_s = t1 - t0, time.perf_counter() - t1
        except Exception as e:
            rec.build_s = time.perf_counter() - t0
            rec.ok, rec.error = False, f"{type(e).__name__}: {str(e)[:300]}"
        rec.extra.update(target="inc_orders_merge", changed_rows=hi - lo)
        sink.append(rec)
        return sorted(sink, key=lambda r: r.start)

    def check(self, records: list[OpRecord], oracle: Oracle) -> None:
        """Final row counts of the pass just run (call before end_pass)."""
        spark, s = self.ctx.spark, self._schema
        got: dict[str, object] = {}
        for name, want in self.expected.items():
            try:
                if name == "snap_customer":
                    row = spark.sql(
                        "SELECT COUNT_IF(dbt_valid_to IS NULL), "
                        f"COUNT_IF(dbt_valid_to IS NOT NULL) FROM {s}.{name}"
                    ).collect()[0]
                    got[name] = (row[0], row[1])
                else:
                    got[name] = spark.table(f"{s}.{name}").count()
            except Exception as e:
                got[name] = f"{type(e).__name__}: {str(e)[:200]}"
        # the last run of a model carries its final state; a model the
        # runner skipped has no record and fails as a synthetic one
        last: dict[str, OpRecord] = {}
        for rec in records:
            last[rec.op] = rec
        pass_no = records[0].pass_no if records else -1
        for name, want in self.expected.items():
            key = "merge_into" if name == "inc_orders_merge" else name
            owner = last.get(key)
            if owner is None:
                owner = OpRecord(key, "missing", pass_no, time.time())
                records.append(owner)
                got[name] = "not run"
            if got[name] != want:
                owner.ok = False
                owner.error = f"{name}: got {got[name]}, expected {want}"
        if self.ctx.tracer is not None:
            for t in ("inc_orders_merge", "inc_orders_di", "inc_lines_append"):
                if isinstance(got.get(t), int):
                    self.table_stats[(pass_no, t)] = (self._table_bytes(t), got[t])

    def _table_bytes(self, table: str) -> int:
        rows = self.ctx.spark.sql(
            f"DESCRIBE TABLE EXTENDED {self._schema}.{table}").collect()
        loc = next(r[1] for r in rows if r[0] == "Location")
        path = loc.split(":", 1)[1] if loc.startswith("file:") else loc
        total = 0
        for root, _dirs, files in os.walk(path):
            total += sum(os.path.getsize(os.path.join(root, f)) for f in files
                         if not f.startswith((".", "_")))
        return total

    def end_pass(self, pass_no: int) -> None:
        """Drop the pass schema and its state directory (untimed)."""
        self.ctx.spark.sql(f"DROP DATABASE IF EXISTS {self._schema} CASCADE")
        shutil.rmtree(self._pass_dir, ignore_errors=True)


WORKLOADS = {
    "sql_interactive": SqlInteractive,
    "xops_batch": XopsBatch,
    "dbt_build": DbtBuild,
}
