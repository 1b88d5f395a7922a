"""Run one benchmark workload and print its metrics.

    python3 perfbench/run.py --workload NAME --seed N --seconds S --trace 0|1

Run it from the root of a checkout. One client issues one statement at a
time (closed loop) on a ``local[nproc]`` session. With ``--trace 0`` the
last stdout line carries the end-to-end metrics; with ``--trace 1`` it
carries the per-layer metrics of traced statements, interleaved with
untraced ones so the tracing overhead is measured too. Everything the run
writes goes under a temporary directory in the checkout that is removed at
exit.
See perfbench/README.md.
"""

from __future__ import annotations

import argparse
import json
import math
import os
import shutil
import signal
import statistics
import sys
import tempfile
import time
import traceback
import zlib

ROOT = os.getcwd()
BENCH_DIR = os.path.dirname(os.path.abspath(__file__))

END_TO_END = {
    "setup_s": "s",
    "pass_s": "s",
    "stmt_p50_ms": "ms",
    "stmt_tail_ms": "ms",
    "peak_rss_mb": "MB",
}
SPAN_LAYERS = (
    "stmt", "io.register", "io.load", "queries.construct", "catalyst.plan",
    "exec.action", "engine.sql", "sqlfront.preprocess", "catalog.save",
    "streaming.drain", "streaming.batch", "source.append",
)


def _per_layer_units() -> dict[str, str]:
    from workloads import DML_KINDS

    units = {
        "session.start_s": "s", "sources.optimize_layout_s": "s",
        "io.load_calls": "count", "io.load_hit_ratio": "ratio",
        "io.register_ms": "ms",
        "queries.construct_ms": "ms", "queries.eager_jobs": "count",
        "queries.eager_task_s": "s",
        "catalyst.analysis_ms": "ms", "catalyst.plan_ms": "ms",
        "exec.wall_ms": "ms", "exec.jobs": "count", "exec.stages": "count",
        "exec.tasks": "count", "exec.task_s": "s", "exec.core_util": "ratio",
        "exec.gc_s": "s", "exec.shuffle_write_mb": "MB",
        "exec.shuffle_read_mb": "MB", "exec.spill_mb": "MB",
        "exec.task_skew": "ratio", "exec.rows_per_result": "ratio",
        "pipeline.python_total_ms": "ms", "pipeline.python_init_ms": "ms",
        "pipeline.arrow_mb": "MB", "pipeline.candidate_pairs": "count",
        "pipeline.verified_pairs": "count", "pipeline.pair_yield": "ratio",
        "pipeline.retained_cache_entries": "count",
        "pipeline.retained_cache_mb": "MB",
    }
    units.update({f"engine.stmt_ms.{k}": "ms" for k in DML_KINDS})
    units.update({
        "engine.jobs_per_stmt": "count", "engine.bytes_written_mb": "MB",
        "engine.files_written": "count", "engine.live_versions": "count",
        "engine.write_amp": "ratio", "engine.space_amp": "ratio",
        "sqlfront.preprocess_ms": "ms", "catalog.save_calls": "count",
        "catalog.save_ms": "ms",
        "streaming.batches": "count", "streaming.batch_ms": "ms",
        "streaming.add_batch_ms": "ms", "streaming.wal_commit_ms": "ms",
        "streaming.state_rows": "count", "streaming.state_mem_mb": "MB",
        "streaming.state_commit_ms": "ms",
    })
    units.update({f"self_ms.{layer}": "ms" for layer in SPAN_LAYERS})
    units.update({
        "trace.coverage_min": "ratio", "trace.overhead": "ratio",
        "stmt.samples": "count", "stmt.tail_pct": "%",
    })
    return units


SETUPS = 3           # set-ups per run; setup_s takes their median


def traced_in(kind: str, pass_no: int) -> bool:
    """Whether a traced run traces this statement kind in this pass. Each
    kind alternates between traced and untraced passes, and half the kinds
    start traced, so the speed-up of later passes (the JVM still compiling)
    falls on both sides of the tracing overhead alike."""
    return (zlib.crc32(kind.encode()) + pass_no) % 2 == 1


def _betainc(a: float, b: float, x: float) -> float:
    """Regularized incomplete beta function I_x(a, b), by its continued
    fraction (Numerical Recipes, 6.4)."""
    if x <= 0.0 or x >= 1.0:
        return min(max(x, 0.0), 1.0)
    if x > (a + 1.0) / (a + b + 2.0):
        return 1.0 - _betainc(b, a, 1.0 - x)
    front = math.exp(math.lgamma(a + b) - math.lgamma(a) - math.lgamma(b)
                     + a * math.log(x) + b * math.log1p(-x)) / a
    tiny = 1e-300
    c, d = 1.0, 1.0 - (a + b) * x / (a + 1.0)
    d = 1.0 / (d if abs(d) > tiny else tiny)
    h = d
    for m in range(1, 300):
        for num in (m * (b - m) * x / ((a + 2 * m - 1) * (a + 2 * m)),
                    -(a + m) * (a + b + m) * x / ((a + 2 * m) * (a + 2 * m + 1))):
            d = 1.0 + num * d
            d = 1.0 / (d if abs(d) > tiny else tiny)
            c = 1.0 + num / c
            c = c if abs(c) > tiny else tiny
            h *= d * c
        if abs(d * c - 1.0) < 1e-12:
            break
    return front * h


def quantile(values: list[float], q: float) -> float:
    """Harrell-Davis estimate of the q-quantile: a Beta-weighted average of
    all order statistics. Latencies here mix a few statement kinds; a
    single order statistic jumps across the gap between two kinds from run
    to run, the weighted average moves smoothly."""
    v = sorted(values)
    n = len(v)
    a, b = q * (n + 1), (1 - q) * (n + 1)
    cdf = [_betainc(a, b, i / n) for i in range(n + 1)]
    return sum((cdf[i + 1] - cdf[i]) * x for i, x in enumerate(v))


def tail(values: list[float]) -> tuple[float, float]:
    """The highest percentile with at least ten samples beyond it, and that
    percentile. Below 20 samples that percentile would not lie above the
    median, so the maximum (100%) is reported instead."""
    n = len(values)
    if n < 20:
        return max(values), 100.0
    q = (n - 10) / n
    return quantile(values, q), 100.0 * q


def process_tree_peak_rss_mb() -> dict[str, float]:
    """Peak resident size (VmHWM, MB) of this process and of each of its
    descendants (the JVM and the Python workers), keyed by command name."""
    parents: dict[int, int] = {}
    for pid in os.listdir("/proc"):
        if pid.isdigit():
            try:
                with open(f"/proc/{pid}/stat") as fh:
                    parents[int(pid)] = int(fh.read().rsplit(")", 1)[1].split()[1])
            except (OSError, IndexError, ValueError):
                continue
    tree, frontier = set(), [os.getpid()]
    while frontier:
        p = frontier.pop()
        tree.add(p)
        frontier.extend(c for c, pp in parents.items() if pp == p and c not in tree)
    out: dict[str, float] = {}
    for pid in tree:
        try:
            with open(f"/proc/{pid}/status") as fh:
                fields = dict(line.split(":", 1) for line in fh if ":" in line)
        except OSError:
            continue
        name = f"{fields['Name'].strip()}-{pid}"
        out[name] = int(fields.get("VmHWM", "0 kB").split()[0]) / 1024.0
    return out


def git_commit() -> str:
    """HEAD of the checkout when it is a git work tree, else 'unknown'."""
    try:
        with open(os.path.join(ROOT, ".git", "HEAD")) as fh:
            head = fh.read().strip()
        if head.startswith("ref: "):
            with open(os.path.join(ROOT, ".git", head[5:])) as fh:
                return fh.read().strip()
        return head
    except OSError:
        return "unknown"


class Bench:
    def __init__(self, args, work: str) -> None:
        import workloads
        from tracing import Tracer

        self.args, self.work = args, work
        self.workload = workloads.make(args.workload, args.seed)
        self.tracer = Tracer()
        self.spark = None
        self.probe = None
        self.attempted = 0
        self.errors: list[str] = []
        self.kind_runs: dict[str, int] = {}   # measured executions per kind
        self.kind_bad: dict[str, int] = {}    # of which raised or failed verify
        self.stmt_records: list[tuple[bool, dict]] = []  # (traced, record)
        self.passes: list[float] = []
        self.setups: list[dict] = []
        self.cache_state = (0, 0.0)
        self.rss: dict[str, float] = {}

    # ------------------------------------------------------------ session
    def start_session(self):
        from cassandra_sql_spark.session import get_spark

        # A fixed initial heap and young generation keep the JVM's resident
        # size from depending on when G1 decides to grow the heap: without
        # -Xmn, peak RSS of analytics_curation ranged 3.65-4.60 GB over
        # three runs of the same code.
        conf = {
            "spark.ui.showConsoleProgress": "false",
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={self.work}/tmp -Xms2g -Xmn512m",
        }
        if self.args.trace:
            conf.update({"spark.ui.retainedJobs": "100000",
                         "spark.ui.retainedStages": "100000"})
        spark = get_spark("perfbench", extra_conf=conf)
        spark.sparkContext.setLogLevel("ERROR")
        return spark

    def setup(self, src_dir: str) -> None:
        """Set up SETUPS times (session, layout, workload state); the last
        set-up is the one measured. Warm-up follows the last set-up."""
        from cassandra_sql_spark import sources

        for i in range(SETUPS):
            if self.spark is not None:
                self.spark.stop()
            t0 = time.perf_counter()
            self.spark = self.start_session()
            t1 = time.perf_counter()
            data = sources.optimize_layout(
                src_dir, cache_dir=os.path.join(self.work, f"layout-{i}"))
            t2 = time.perf_counter()
            self.workload.open(self.spark, data, os.path.join(self.work, f"state-{i}"))
            t3 = time.perf_counter()
            self.setups.append({"session": t1 - t0, "layout": t2 - t1,
                                "total": t3 - t0})
        self.data_dir = data
        if self.args.trace:
            from tracing import SparkProbe, instrument

            instrument(self.tracer)
            self.probe = SparkProbe(self.spark)
            self.tracer.on_enter = self.probe.enter
            self.tracer.on_exit = self.probe.exit
        import workloads

        t0 = time.perf_counter()
        warmups = workloads.WARMUP_PASSES[self.args.workload]
        for pass_no in range(-warmups, 0):
            # the first warm-up pass collects every result for the check
            self.run_pass(pass_no, warmup=True, collect=pass_no == -warmups)
        self.warmup_s = time.perf_counter() - t0

    # ------------------------------------------------------------ passes
    def run_pass(self, pass_no: int, warmup: bool = False,
                 collect: bool = False) -> float:
        import workloads

        stmts = workloads.plan_pass(self.args.workload, self.args.seed, pass_no)
        paused = 0.0
        t_pass = time.perf_counter()
        for stmt in stmts:
            traced = (bool(self.args.trace) and not warmup
                      and traced_in(stmt.kind, pass_no))
            self.tracer.active = traced
            p0 = time.perf_counter()
            self.workload.before(stmt, traced)
            paused += time.perf_counter() - p0
            if not warmup:
                self.attempted += 1
                self.kind_runs[stmt.kind] = self.kind_runs.get(stmt.kind, 0) + 1
            first_span = len(self.tracer.spans)
            s0 = time.perf_counter()
            res = root = None
            try:
                with self.tracer.statement(stmt.kind) as root:
                    res = self.workload.run(stmt, self.tracer, collect=collect)
            except Exception as exc:  # a failed statement stays in the mix
                self.errors.append(f"{stmt.kind}: {type(exc).__name__}: "
                                   f"{str(exc).splitlines()[0][:200]}")
                traceback.print_exc(file=sys.stderr)
            latency = time.perf_counter() - s0
            if not warmup and (res is None or not self.workload.verify(stmt, res)):
                self.kind_bad[stmt.kind] = self.kind_bad.get(stmt.kind, 0) + 1
                if res is not None:
                    self.errors.append(f"{stmt.kind}: {res.rows} rows on the "
                                       "measured path, not those checked")
            if not warmup:
                rec = {"kind": stmt.kind, "ms": latency * 1000.0}
                if traced and root is not None:
                    r0 = time.perf_counter()
                    rec.update(self.resolve(self.tracer.spans[first_span:], res, stmt))
                    paused += time.perf_counter() - r0
                self.stmt_records.append((traced, rec))
        self.tracer.active = False
        elapsed = time.perf_counter() - t_pass - paused
        if not warmup:
            self.passes.append(elapsed)
            if self.args.trace:
                self.cache_state = self.probe.cache_state()
        return elapsed

    def resolve(self, spans, res, stmt) -> dict:
        """Attach Spark's records to the spans of a traced statement."""
        from tracing import JOB_SPANS, tracker_phases

        self.probe.drain_bus()
        for s in spans:
            if s.name in JOB_SPANS:
                s.counts.update(self.probe.group_stats(s))
        rec = {}
        if res is not None and res.plan is not None:
            rec["plan"] = self.probe.plan_metrics(res.plan)
            rec["phases"] = tracker_phases(res.df)
            rec["rows"] = res.rows
        if stmt.kind == "refresh":
            self.probe.stream.wait_terminated()
            drains = [s for s in spans if s.name == "streaming.drain"]
            for p in self.probe.stream.take():
                t1 = p["t0"] + p["dur"].get("triggerExecution", 0) / 1000.0
                parent = next((d for d in drains if d.t0 <= p["t0"] <= d.t1),
                              None)
                if parent is not None:
                    self.tracer.add_child(parent, "streaming.batch", p["t0"], t1, p)
        self.workload.after(stmt)
        return rec

    def measure(self) -> None:
        """Run the measured passes: the workload's count, scaled to
        ``--seconds`` (at least one; two when tracing, so every statement
        kind runs both traced and untraced)."""
        import workloads

        count = round(workloads.PASSES[self.args.workload] * self.args.seconds
                      / workloads.PASSES_SECONDS)
        for pass_no in range(max(count, 2 if self.args.trace else 1)):
            self.run_pass(pass_no)

    # ------------------------------------------------------------ checks
    def check(self) -> tuple[int, dict[str, list[str]]]:
        """Run the workload's output check; returns (failed executions,
        problems). An execution fails if it raised or failed its own
        verification; a check mismatch fails every execution of that
        statement, and a pass-level mismatch (keyed by pass) every
        statement measured."""
        import duckdb
        from cassandra_sql_spark.io import TABLES

        duck = duckdb.connect()
        try:
            for t in TABLES:
                duck.execute(f"CREATE VIEW {t} AS SELECT * FROM "
                             f"'{self.data_dir}/{t}.parquet'")
            problems = self.workload.check(duck)
        finally:
            duck.close()
        if any(key not in self.kind_runs for key in problems):
            return self.attempted, problems
        failed = sum(n if k in problems else self.kind_bad.get(k, 0)
                     for k, n in self.kind_runs.items())
        return failed, problems

    # ------------------------------------------------------------ metrics
    def end_to_end(self) -> dict[str, float]:
        lat = [r["ms"] for traced, r in self.stmt_records if not traced]
        tail_ms, _ = tail(lat)
        return {
            "setup_s": statistics.median(s["total"] for s in self.setups)
            + self.warmup_s,
            "pass_s": statistics.median(self.passes),
            "stmt_p50_ms": quantile(lat, 0.5),
            "stmt_tail_ms": tail_ms,
            "peak_rss_mb": sum(self.rss.values()),
        }

    def per_layer(self) -> dict[str, float]:
        from tracing import self_times
        import workloads

        spans = self.tracer.spans
        selfs = self_times(spans)
        recs = [r for traced, r in self.stmt_records if traced]
        n = max(len(recs), 1)
        by_name: dict[str, list] = {}
        for s in spans:
            by_name.setdefault(s.name, []).append(s)

        def dur(name):
            return sum(s.t1 - s.t0 for s in by_name.get(name, ())) * 1000.0

        def count(name, key):
            return sum(s.counts.get(key, 0) for s in by_name.get(name, ()))

        m = {k: 0.0 for k in _per_layer_units()}
        m["session.start_s"] = statistics.median(s["session"] for s in self.setups)
        m["sources.optimize_layout_s"] = statistics.median(
            s["layout"] for s in self.setups)
        loads = by_name.get("io.load", [])
        m["io.load_calls"] = len(loads) / n
        m["io.load_hit_ratio"] = (sum(s.counts.get("hit", 0) for s in loads)
                                  / len(loads)) if loads else 0.0
        m["io.register_ms"] = dur("io.register") / n
        m["queries.construct_ms"] = dur("queries.construct") / n
        m["queries.eager_jobs"] = count("queries.construct", "jobs") / n
        m["queries.eager_task_s"] = count("queries.construct", "task_s") / n
        m["catalyst.analysis_ms"] = sum(
            r.get("phases", {}).get("analysis", 0.0) for r in recs) / n
        m["catalyst.plan_ms"] = dur("catalyst.plan") / n
        exec_wall = dur("exec.action")
        m["exec.wall_ms"] = exec_wall / n
        for key, name in (("jobs", "exec.jobs"), ("stages", "exec.stages"),
                          ("tasks", "exec.tasks"), ("task_s", "exec.task_s"),
                          ("gc_s", "exec.gc_s")):
            m[name] = count("exec.action", key) / n
        for key, name in (("shuffle_write_b", "exec.shuffle_write_mb"),
                          ("shuffle_read_b", "exec.shuffle_read_mb"),
                          ("spill_b", "exec.spill_mb")):
            m[name] = count("exec.action", key) / n / 1e6
        cores = self.spark.sparkContext.defaultParallelism
        if exec_wall > 0:
            m["exec.core_util"] = (count("exec.action", "task_s") * 1000.0
                                   / (exec_wall * cores))
        m["exec.task_skew"] = max(
            [s.counts.get("skew", 1.0) for s in by_name.get("exec.action", [])]
            or [0.0])
        plans = [r for r in recs if "plan" in r]
        result_rows = sum(r["rows"] for r in plans)
        if plans:
            m["exec.rows_per_result"] = (sum(r["plan"]["scan_rows"] for r in plans)
                                         / max(result_rows, 1))
        m["pipeline.python_total_ms"] = sum(
            r["plan"]["python_total_ms"] for r in plans) / n
        m["pipeline.python_init_ms"] = sum(
            r["plan"]["python_init_ms"] for r in plans) / n
        m["pipeline.arrow_mb"] = sum(r["plan"]["arrow_b"] for r in plans) / n / 1e6
        pairs = [r for r in plans if r["kind"] in workloads.PAIR_STATEMENTS]
        if pairs:
            cand = sum(r["plan"]["filter_in_rows"] for r in pairs)
            ver = sum(r["rows"] for r in pairs)
            m["pipeline.candidate_pairs"] = cand / len(pairs)
            m["pipeline.verified_pairs"] = ver / len(pairs)
            m["pipeline.pair_yield"] = ver / cand if cand else 0.0
        m["pipeline.retained_cache_entries"] = float(self.cache_state[0])
        m["pipeline.retained_cache_mb"] = self.cache_state[1]

        roots = {s.sid: s for s in by_name.get("stmt", [])}
        for kind in workloads.DML_KINDS:
            ds = [(s.t1 - s.t0) * 1000.0 for s in roots.values()
                  if s.counts.get("kind") == kind]
            if ds:
                m[f"engine.stmt_ms.{kind}"] = statistics.mean(ds)
        eng = by_name.get("engine.sql", [])
        if eng:
            m["engine.jobs_per_stmt"] = count("engine.sql", "jobs") / len(eng)
        storage = getattr(self.workload, "storage", [])
        if storage:
            mid = sorted(storage, key=lambda s: s["written_b"])[len(storage) // 2]
            live = max(mid["live_b"], 1)
            m["engine.bytes_written_mb"] = mid["written_b"] / 1e6
            m["engine.files_written"] = float(mid["files"])
            m["engine.live_versions"] = float(mid["versions"])
            m["engine.write_amp"] = mid["written_b"] / live
            m["engine.space_amp"] = mid["unique_b"] / live
        m["sqlfront.preprocess_ms"] = dur("sqlfront.preprocess") / n
        m["catalog.save_calls"] = len(by_name.get("catalog.save", [])) / n
        m["catalog.save_ms"] = dur("catalog.save") / n

        batches = [s.counts for s in by_name.get("streaming.batch", [])]
        if batches:
            m["streaming.batches"] = len(batches) / n
            m["streaming.batch_ms"] = statistics.mean(
                b["dur"].get("triggerExecution", 0) for b in batches)
            m["streaming.add_batch_ms"] = statistics.mean(
                b["dur"].get("addBatch", 0) for b in batches)
            m["streaming.wal_commit_ms"] = statistics.mean(
                b["dur"].get("walCommit", 0) for b in batches)
            stateful = [b for b in batches if b["stateful"]]
            if stateful:
                m["streaming.state_rows"] = float(stateful[-1]["state_rows"])
                m["streaming.state_mem_mb"] = stateful[-1]["state_mem"] / 1e6
                m["streaming.state_commit_ms"] = statistics.mean(
                    b["state_commit_ms"] for b in stateful)

        for layer in SPAN_LAYERS:
            m[f"self_ms.{layer}"] = sum(
                selfs[s.sid] for s in by_name.get(layer, ())) * 1000.0 / n
        m["trace.coverage_min"] = min(
            [1.0 - selfs[s.sid] / (s.t1 - s.t0) for s in roots.values()
             if s.t1 > s.t0] or [0.0])
        lat_by: dict[tuple[str, bool], list[float]] = {}
        for traced, r in self.stmt_records:
            lat_by.setdefault((r["kind"], traced), []).append(r["ms"])
        ratios = [statistics.median(lat_by[k, True]) / statistics.median(lat_by[k, False])
                  for k, traced in lat_by if traced and (k, False) in lat_by]
        m["trace.overhead"] = statistics.median(ratios) if ratios else 0.0
        # the statements an untraced run of the same length measures
        lat = [r["ms"] for _, r in self.stmt_records]
        _, pct = tail(lat)
        m["stmt.samples"] = float(len(lat))
        m["stmt.tail_pct"] = pct
        return m


def _configure_env(work: str) -> None:
    """Point every writer at the run directory; put the library on the
    Python workers' path (they import it to run pandas UDFs)."""
    for d in ("tmp", "local", "warehouse"):
        os.makedirs(os.path.join(work, d), exist_ok=True)
    os.environ["TMPDIR"] = os.path.join(work, "tmp")
    tempfile.tempdir = os.environ["TMPDIR"]
    # every JVM, spark-submit's launcher too, would else write /tmp/hsperfdata_*
    os.environ["JAVA_TOOL_OPTIONS"] = "-XX:-UsePerfData"
    os.environ["SPARK_LOCAL_DIRS"] = os.path.join(work, "local")
    os.environ["SPARK_GRAFT_WAREHOUSE"] = os.path.join(work, "warehouse")
    os.environ["SPARK_GRAFT_CPUS"] = str(len(os.sched_getaffinity(0)))
    os.environ["PYTHONPATH"] = os.pathsep.join(
        p for p in (ROOT, os.environ.get("PYTHONPATH")) if p)


def _shutdown(spark) -> None:
    """Stop the session and the JVM, and wait for the JVM to exit."""
    if spark is None:
        return
    from pyspark import SparkContext

    gateway = SparkContext._gateway
    spark.stop()
    if gateway is None:
        return
    proc = getattr(gateway, "proc", None)
    gateway.shutdown()
    if proc is not None:
        proc.stdin.close()  # the gateway server exits on EOF
        try:
            proc.wait(timeout=60)
        except Exception:
            proc.kill()
            proc.wait()


def main(argv: list[str] | None = None) -> int:
    ap = argparse.ArgumentParser(description=__doc__.splitlines()[0])
    ap.add_argument("--workload", required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--spans", help="write the traced spans here (JSON lines)")
    args = ap.parse_args(argv)

    if not os.path.isfile(os.path.join(ROOT, "cassandra_sql_spark", "__init__.py")):
        print("perfbench: run from the root of a checkout holding "
              "cassandra_sql_spark/", file=sys.stderr)
        return 2
    sys.path[:0] = [BENCH_DIR, ROOT]
    import workloads

    if args.workload not in workloads.WORKLOADS:
        print(f"perfbench: unknown workload {args.workload!r}; choose from "
              f"{', '.join(workloads.WORKLOADS)}", file=sys.stderr)
        return 2

    # a terminated run still stops its JVM and removes its directory
    signal.signal(signal.SIGTERM, lambda *_: sys.exit(128 + signal.SIGTERM))
    scratch = os.path.join(ROOT, ".perfbench-tmp")
    os.makedirs(scratch, exist_ok=True)
    work = tempfile.mkdtemp(prefix="run-", dir=scratch)
    bench = None
    try:
        _configure_env(work)
        import datagen

        clock = [time.perf_counter()]

        def lap() -> float:
            clock.append(time.perf_counter())
            return round(clock[-1] - clock[-2], 3)

        src = datagen.write_tables(os.path.join(work, "data"))
        phases = {"data": lap()}
        bench = Bench(args, work)
        bench.setup(src)
        phases["setup"] = lap()
        bench.measure()
        phases["measure"] = lap()
        bench.rss = process_tree_peak_rss_mb()
        failed, problems = bench.check()
        phases["check"] = lap()
        metrics = bench.per_layer() if args.trace else bench.end_to_end()
        units = _per_layer_units() if args.trace else END_TO_END
        lat = [r["ms"] for _, r in bench.stmt_records]
        _, pct = tail(lat) if lat else (0.0, 0.0)
        by_kind: dict[str, list[float]] = {}
        for traced, r in bench.stmt_records:
            by_kind.setdefault(r["kind"], []).append(r["ms"])
        meta = {
            "workload": args.workload, "seed": args.seed, "trace": args.trace,
            "commit": git_commit(), "nproc": len(os.sched_getaffinity(0)),
            "spark": bench.spark.version, "loadavg": os.getloadavg(),
            "phase_s": phases,
            "setups_s": [round(x["total"], 3) for x in bench.setups],
            "warmup_s": round(bench.warmup_s, 3),
            "passes": [round(p, 3) for p in bench.passes],
            "tail_percentile": pct,
            "tail_samples": len(lat), "peak_rss_mb": bench.rss,
            "kind_median_ms": {k: round(statistics.median(v), 1)
                               for k, v in by_kind.items()},
            "errors": bench.errors[:20],
            "check_problems": problems,
        }
        print("perfbench-meta " + json.dumps(meta, default=str))
        if args.spans:
            with open(args.spans, "w") as fh:
                for s in bench.tracer.spans:
                    fh.write(json.dumps(s.to_json(), default=str) + "\n")
        result = {
            "correct": failed == 0,
            "attempted": bench.attempted,
            "failed": failed,
            "metrics": {k: {"value": metrics[k], "unit": u} for k, u in units.items()},
        }
    finally:
        if bench is not None:
            _shutdown(bench.spark)
        shutil.rmtree(work, ignore_errors=True)
        try:
            os.rmdir(scratch)
        except OSError:
            pass
    print(json.dumps(result))
    return 0


if __name__ == "__main__":
    sys.exit(main())
