"""The benchmark's workloads.

Each workload turns the run seed into statements (``plan_pass``, pure and
Spark-free), runs one statement at a time (``run``) and checks the outputs
against DuckDB (``check``). The seed sets statement order, the DML keys
and values, and the stream's chunk boundaries; the base tables are fixed.

- ``sql_analytics``: 15 SQL-family registry entries, each built fresh.
- ``llm_curation``: 6 pipeline entries, each built fresh, with no cache
  clearing between statements (a long-lived session).
- ``analytics_curation``: the entries of both, in one seeded order, in one
  long-lived session.
- ``engine_dml``: a managed-table lifecycle through ``Engine.sql``.
- ``stream_refresh``: chunked appends to the events stream, each followed
  by an AvailableNow drain of two streaming queries.
"""

from __future__ import annotations

import os
import random
from dataclasses import dataclass
from datetime import date, timedelta

import duckdb

SQL_ANALYTICS = (
    "q1_pricing_summary", "q3_shipping_priority", "q5_local_supplier_volume",
    "q6_forecast_revenue", "q9_product_profit", "q10_returned_items",
    "q18_large_volume_customer", "agg_count_distinct", "agg_rollup",
    "win_topk_per_group", "win_running_agg", "subq_correlated",
    "setop_union_distinct", "json_filter_agg", "expr_time_bucket_agg",
)
LLM_CURATION = (
    "dedup_minhash_lsh", "dedup_ngram_jaccard", "decontam_ngram_overlap",
    "text_repetition_filter", "sim_topk_bruteforce", "jpeg_decode_real",
)
# registry entries whose result rows are verified pairs
PAIR_STATEMENTS = ("dedup_minhash_lsh", "dedup_ngram_jaccard",
                   "decontam_ngram_overlap")

DML_TABLE = "orders_t"
DML_COLUMNS = ("o_orderkey", "o_custkey", "o_orderstatus", "o_totalprice",
               "o_orderdate", "o_orderpriority")
DML_KINDS = ("create", "insert_select", "insert_values", "update", "delete",
             "upsert", "select_agg", "select_join", "select_point", "vacuum",
             "drop")
# statements of one engine_dml pass between the seed insert and VACUUM
DML_MIX = ("insert_values", "update", "delete", "upsert", "select_agg",
           "select_join", "select_point")
ORDER_KEYS = 15_000     # orders table key space (datagen.SIZES["orders"])
INSERT_BLOCK = 2_500    # keys per INSERT ... SELECT
STREAM_CHUNKS = 24      # chunk files the events table is cut into
STREAM_PER_PASS = 1     # refreshes per stream_refresh pass

REGISTRY_WORKLOADS = {
    "sql_analytics": SQL_ANALYTICS,
    "llm_curation": LLM_CURATION,
    "analytics_curation": SQL_ANALYTICS + LLM_CURATION,
}
WORKLOADS = tuple(REGISTRY_WORKLOADS) + ("engine_dml", "stream_refresh")
# Measured passes in a run of PASSES_SECONDS; a run of another length
# scales them (at least one). A count, not a clock, ends the measurement,
# so every run of a workload takes the same number of samples and its tail
# percentile stays put when the box runs faster or slower. On a 4-core box
# a warm pass takes about 4, 2, 6.5, 4.5 and 4.5 s respectively.
PASSES_SECONDS = 10
PASSES = {"sql_analytics": 3, "llm_curation": 5, "analytics_curation": 2,
          "engine_dml": 2, "stream_refresh": 1}
# Warm-up passes before measuring. The pipeline entries keep getting faster
# for several passes after the first (JIT compilation of their larger
# plans), so they warm up longer alone. In analytics_curation a second
# warm-up pass would cost 7 s a run, which the time budget lacks.
WARMUP_PASSES = {"sql_analytics": 1, "llm_curation": 2, "analytics_curation": 1,
                 "engine_dml": 1, "stream_refresh": 1}


@dataclass(frozen=True)
class Stmt:
    kind: str   # registry name, DML kind, or "refresh"
    text: str   # registry name, SQL text, or "<chunk index>"


def _rng(workload: str, seed: int, pass_no: int) -> random.Random:
    return random.Random(f"{workload}:{seed}:{pass_no}")


def plan_pass(workload: str, seed: int, pass_no: int) -> list[Stmt]:
    """Statements of one pass. Negative passes are warm-up passes."""
    rng = _rng(workload, seed, pass_no)
    if workload in REGISTRY_WORKLOADS:
        names = list(REGISTRY_WORKLOADS[workload])
        rng.shuffle(names)
        return [Stmt(n, n) for n in names]
    if workload == "engine_dml":
        return _dml_pass(rng)
    if workload == "stream_refresh":
        # warm-up passes -k..-1 take chunks 0..k-1; measured passes follow
        first = WARMUP_PASSES[workload] + pass_no * STREAM_PER_PASS
        return [Stmt("refresh", str(i)) for i in range(first, first + STREAM_PER_PASS)]
    raise ValueError(f"unknown workload: {workload}")


def chunk_bounds(seed: int, n_rows: int) -> list[tuple[int, int]]:
    """Seeded cut of ``n_rows`` (event-time order) into STREAM_CHUNKS
    contiguous chunks, each between half and one and a half of the mean."""
    rng = random.Random(f"stream_refresh:chunks:{seed}")
    weights = [rng.uniform(0.5, 1.5) for _ in range(STREAM_CHUNKS)]
    total = sum(weights)
    cuts, acc = [0], 0.0
    for w in weights[:-1]:
        acc += w
        cuts.append(round(n_rows * acc / total))
    cuts.append(n_rows)
    return list(zip(cuts[:-1], cuts[1:]))


def _order_row(rng: random.Random, key: int) -> str:
    day = date(1995, 1, 1) + timedelta(days=rng.randrange(0, 2400))
    return (
        f"({key}, {rng.randrange(0, 1500)}, '{rng.choice('FOP')}', "
        f"{rng.randrange(100_000, 50_000_000) / 100:.2f}, "
        f"TIMESTAMP '{day} 00:00:00', '{rng.randrange(1, 6)}-SEEDED')"
    )


def _dml_pass(rng: random.Random) -> list[Stmt]:
    t = DML_TABLE
    lo = rng.randrange(ORDER_KEYS // INSERT_BLOCK) * INSERT_BLOCK
    seeded = range(lo, lo + INSERT_BLOCK)
    fresh = iter(range(1_000_000, 2_000_000))

    def make(kind: str) -> Stmt:
        if kind == "insert_values":
            rows = [_order_row(rng, next(fresh)) for _ in range(rng.randint(1, 10))]
            return Stmt(kind, f"INSERT INTO {t} VALUES {', '.join(rows)}")
        if kind == "update":
            lo = rng.randrange(0, ORDER_KEYS - 400)
            return Stmt(kind, f"UPDATE {t} SET o_totalprice = o_totalprice + 1.25, "
                              f"o_orderstatus = 'U' WHERE o_orderkey >= {lo} "
                              f"AND o_orderkey < {lo + 400}")
        if kind == "delete":
            lo = rng.randrange(0, ORDER_KEYS - 200)
            return Stmt(kind, f"DELETE FROM {t} WHERE o_orderkey >= {lo} "
                              f"AND o_orderkey < {lo + 200}")
        if kind == "upsert":
            # keys of the seed insert (updated unless deleted) mixed with
            # fresh ones (inserted); no later insert reuses either
            keys = rng.sample(seeded, 3) + [next(fresh) for _ in range(2)]
            rows = [_order_row(rng, k) for k in keys]
            return Stmt(kind, f"INSERT INTO {t} VALUES {', '.join(rows)} "
                              "ON CONFLICT (o_orderkey) DO UPDATE SET "
                              "o_totalprice = excluded.o_totalprice, "
                              "o_orderpriority = excluded.o_orderpriority")
        if kind == "select_agg":
            return Stmt(kind, f"SELECT o_orderstatus, COUNT(*) AS n, "
                              "CAST(SUM(CAST(FLOOR(o_totalprice * 100 + 0.5) AS BIGINT)) "
                              f"AS DOUBLE) / 100 AS total FROM {t} GROUP BY o_orderstatus")
        if kind == "select_join":
            return Stmt(kind, f"SELECT c_mktsegment, COUNT(*) AS n FROM {t} "
                              "JOIN customer ON o_custkey = c_custkey "
                              f"WHERE o_orderdate >= TIMESTAMP '199{rng.randrange(5, 9)}"
                              "-01-01 00:00:00' GROUP BY c_mktsegment")
        if kind == "select_point":
            return Stmt(kind, f"SELECT * FROM {t} WHERE o_orderkey = "
                              f"{rng.randrange(0, ORDER_KEYS)}")
        raise ValueError(kind)

    create = Stmt("create", f"CREATE TABLE {t} (o_orderkey BIGINT PRIMARY KEY, "
                            "o_custkey BIGINT, o_orderstatus TEXT, o_totalprice DOUBLE, "
                            "o_orderdate TIMESTAMP, o_orderpriority TEXT)")
    seed_insert = Stmt("insert_select",
                       f"INSERT INTO {t} SELECT {', '.join(DML_COLUMNS)} FROM orders "
                       f"WHERE o_orderkey >= {lo} AND o_orderkey < {lo + INSERT_BLOCK}")
    middle = list(DML_MIX)
    rng.shuffle(middle)
    return ([create, seed_insert] + [make(k) for k in middle]
            + [Stmt("vacuum", f"VACUUM {t}"), Stmt("drop", f"DROP TABLE {t}")])


# ------------------------------------------------------------- execution

@dataclass
class Result:
    rows: int = 0          # result rows the action produced
    plan: object = None    # forced physical plan (JVM object) of a query
    df: object = None      # the fresh DataFrame, for tracker phases
    collected: list | None = None
    columns: list | None = None


def run_query(df, tracer, collect: bool) -> Result:
    """Plan and execute a fresh DataFrame: force its physical plan, then
    run that plan, dropping rows (or collecting them, for the check)."""
    with tracer.span("catalyst.plan"):
        plan = df._jdf.queryExecution().executedPlan()
    with tracer.span("exec.action"):
        if collect:
            rows = df.collect()
            n = len(rows)
        else:
            rows, n = None, plan.execute().count()
    return Result(n, plan, df, rows, df.columns if collect else None)


class Workload:
    """Hooks the runner calls around each statement, outside its timing:
    ``before`` with the pass clock paused, ``after`` on traced statements."""

    def before(self, stmt: Stmt, traced: bool) -> None:
        pass

    def after(self, stmt: Stmt) -> None:
        pass

    def verify(self, stmt: Stmt, res: Result) -> bool:
        """Cheap check of one measured execution; False counts it failed."""
        return True


class RegistryWorkload(Workload):
    """Registry entries built fresh through ``REGISTRY[name].fn``."""

    def __init__(self, name: str) -> None:
        self.name = name
        self.results: dict[str, Result] = {}

    def open(self, spark, data_dir: str, work_dir: str) -> None:
        self.spark, self.data_dir = spark, data_dir

    def run(self, stmt: Stmt, tracer, collect: bool) -> Result:
        from cassandra_sql_spark.queries import REGISTRY

        with tracer.span("queries.construct"):
            df = REGISTRY[stmt.text].fn(self.spark, self.data_dir)
        res = run_query(df, tracer, collect)
        if collect:
            self.results[stmt.kind] = res
        return res

    def verify(self, stmt: Stmt, res: Result) -> bool:
        """The measured path (the plan run as an RDD) yields as many rows
        as the collected result that ``check`` compares with the oracle."""
        checked = self.results.get(stmt.kind)
        return checked is not None and res.rows == len(checked.collected)

    def check(self, duck) -> dict[str, list[str]]:
        from cassandra_sql_spark.queries import REGISTRY
        from cassandra_sql_spark.testing import compare

        problems = {}
        for name in REGISTRY_WORKLOADS[self.name]:
            res = self.results.get(name)
            if res is None:
                problems[name] = ["no collected result"]
                continue
            try:
                rel = duck.sql(REGISTRY[name].oracle)
                found = compare([tuple(r) for r in res.collected], res.columns,
                                rel.fetchall(), rel.columns)
            except duckdb.Error as exc:
                found = [f"oracle failed: {exc}"]
            if found:
                problems[name] = found
        return problems


class EngineWorkload(Workload):
    """A managed-table lifecycle through ``Engine.sql``."""

    name = "engine_dml"

    def __init__(self) -> None:
        # per pass: the statements that succeeded (with the rows each
        # returned), and the final table rows and columns
        self.snapshots: list[tuple[list[tuple[Stmt, int]], list, list]] = []
        self._stmts: list[tuple[Stmt, int]] = []
        self.storage: list[dict] = []

    def open(self, spark, data_dir: str, work_dir: str) -> None:
        from cassandra_sql_spark.engine import Engine
        from cassandra_sql_spark.io import register

        self.spark, self.data_dir = spark, data_dir
        self.warehouse = os.path.join(work_dir, "engine")
        self.engine = Engine(spark, warehouse=self.warehouse)
        register(spark, data_dir, "orders", "customer")

    def before(self, stmt: Stmt, traced: bool) -> None:
        if stmt.kind == "create":
            # files the pass writes are those not under the warehouse now
            # (the last pass's table is dropped, so inode numbers recur)
            self._stmts, self._written = [], [0, 0]
            self._inodes = set(_files(self.warehouse))
        if stmt.kind == "vacuum":
            # the pass's final table state, for the DuckDB replay check
            df = self.spark.sql(f"SELECT * FROM {DML_TABLE}")
            self.snapshots.append(
                (list(self._stmts), [tuple(r) for r in df.collect()], df.columns))
            if traced:
                self.storage.append(self._storage())

    def after(self, stmt: Stmt | None) -> None:
        """Record the bytes and files written since the last call."""
        for ino, size in _files(self.warehouse).items():
            if ino not in self._inodes:
                self._inodes.add(ino)
                self._written[0] += size
                self._written[1] += 1

    def _storage(self) -> dict:
        self.after(None)
        meta = self.engine.catalog.tables[DML_TABLE]
        live = sum(_files(meta.path).values())
        base = os.path.dirname(meta.path)
        versions = sum(1 for d in os.listdir(base) if d.startswith("v"))
        return {
            "written_b": self._written[0], "files": self._written[1],
            "live_b": live, "unique_b": sum(_files(self.warehouse).values()),
            "versions": versions,
        }

    def run(self, stmt: Stmt, tracer, collect: bool) -> Result:
        df = self.engine.sql(stmt.text)
        res = (run_query(df, tracer, collect) if stmt.kind.startswith("select")
               else Result())
        self._stmts.append((stmt, res.rows))  # replayed in DuckDB if it succeeded
        return res

    def check(self, duck) -> dict[str, list[str]]:
        from cassandra_sql_spark.testing import compare

        problems = {}
        for i, (stmts, rows, cols) in enumerate(self.snapshots):
            duck.execute(f"DROP TABLE IF EXISTS {DML_TABLE}")
            try:
                found = []
                for s, n in stmts:
                    if not s.kind.startswith("select"):
                        duck.execute(s.text)
                    elif len(duck.sql(s.text).fetchall()) != n:
                        found.append(f"{s.kind} returned {n} rows: {s.text}")
                rel = duck.sql(f"SELECT * FROM {DML_TABLE}")
                found += compare(rows, cols, rel.fetchall(), rel.columns)
            except duckdb.Error as exc:
                found = [f"replay failed: {exc}"]
            if found:
                problems[f"pass{i}"] = found
        duck.execute(f"DROP TABLE IF EXISTS {DML_TABLE}")
        return problems


def _files(root: str) -> dict[int, int]:
    """inode -> size of the regular files under ``root`` (hardlinks once)."""
    out = {}
    for d, _dirs, files in os.walk(root):
        for f in files:
            st = os.stat(os.path.join(d, f))
            out[st.st_ino] = st.st_size
    return out


class StreamWorkload(Workload):
    """Chunked appends to a file stream, each drained by two queries whose
    checkpoints persist across drains."""

    name = "stream_refresh"
    WINDOW_SINK = "perfbench_windows"

    def __init__(self, seed: int) -> None:
        self.seed = seed

    def open(self, spark, data_dir: str, work_dir: str) -> None:
        import pyarrow.parquet as pq

        self.spark = spark
        self.root = os.path.join(work_dir, "stream")
        self.src = os.path.join(self.root, "src", "events.parquet")
        os.makedirs(self.src, exist_ok=True)
        self.events = pq.read_table(os.path.join(data_dir, "events.parquet"))
        self.bounds = chunk_bounds(self.seed, self.events.num_rows)

    def run(self, stmt: Stmt, tracer, collect: bool) -> Result:
        import pyarrow.parquet as pq
        from cassandra_sql_spark.streaming import events as ev

        lo, hi = self.bounds[int(stmt.text)]
        with tracer.span("source.append"):
            pq.write_table(self.events.slice(lo, hi - lo),
                           os.path.join(self.src, f"part-{int(stmt.text):05d}.parquet"))
        src_root = os.path.dirname(self.src)
        with tracer.span("queries.construct"):
            sessions = ev.sessionize(ev.read_events_stream(self.spark, src_root),
                                     gap_minutes=30, watermark="1 minute")
        ev.run_foreach_batch_parquet(sessions, os.path.join(self.root, "sessions"),
                                     os.path.join(self.root, "ckpt_sessions"))
        with tracer.span("queries.construct"):
            windows = ev.windowed_counts(ev.read_events_stream(self.spark, src_root))
        ev.run_available_now(windows, self.WINDOW_SINK,
                             os.path.join(self.root, "ckpt_windows"))
        return Result()

    def check(self, duck) -> dict[str, list[str]]:
        from cassandra_sql_spark.queries import REGISTRY
        from cassandra_sql_spark.testing import compare

        duck.execute(f"CREATE OR REPLACE VIEW events AS SELECT * FROM "
                     f"read_parquet('{self.src}/*.parquet')")
        sessions = self.spark.read.parquet(os.path.join(self.root, "sessions"))
        windows = self.spark.table(self.WINDOW_SINK)
        problems = {}
        for oracle, df in (("stream_sessionize", sessions),
                           ("stream_window_agg", windows)):
            cols = [c for c in df.columns if c != "batch"]
            try:
                rel = duck.sql(REGISTRY[oracle].oracle)
                found = compare([tuple(r) for r in df.select(*cols).collect()],
                                cols, rel.fetchall(), rel.columns)
            except duckdb.Error as exc:
                found = [f"oracle failed: {exc}"]
            if found:
                problems[oracle] = found
        return problems


def make(workload: str, seed: int):
    if workload in REGISTRY_WORKLOADS:
        return RegistryWorkload(workload)
    if workload == "engine_dml":
        return EngineWorkload()
    if workload == "stream_refresh":
        return StreamWorkload(seed)
    raise ValueError(f"unknown workload: {workload}")
