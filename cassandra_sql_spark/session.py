"""SparkSession factory tuned for the analytics engine.

Design notes (100 TB target, tested on local[N]):
- AQE on: runtime coalescing of shuffle partitions, skew-join splitting and
  broadcast-join demotion are what keep a fixed plan healthy at 1000x data.
- spark.sql.shuffle.partitions is only the pre-AQE upper bound; AQE coalesces.
  On a real cluster this would be ~2-3x total cores; locally we match cores.
- Session timezone pinned to UTC so timestamp semantics are deterministic and
  match the DuckDB oracle (naive timestamps).
- Arrow on for the pandas-UDF extension operators (vectorized Python exchange).
- Python workers fork from ``cassandra_sql_spark.worker_daemon``. On CPython
  < 3.13 every task's ``importlib.invalidate_caches()`` re-reads the whole
  central directory of pyspark.zip, once per zipimporter over it: 0.15-0.2 s
  of worker CPU per task, about half of a streaming micro-batch. The daemon
  re-reads an archive only when it changed on disk. The daemon module is a
  static conf, so ``tune()`` cannot apply it to an externally provided
  session: such a session keeps the per-task cost.
- The library root goes on the workers' PYTHONPATH, so the daemon and every
  UDF that references library code import from any working directory.
"""

from __future__ import annotations

import os

from pyspark.sql import SparkSession

LIBRARY_ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


def default_parallelism() -> int:
    return int(os.environ.get("SPARK_GRAFT_CPUS", os.cpu_count() or 8))


def tune(spark: SparkSession) -> SparkSession:
    """Apply runtime-settable conf to an externally provided session.

    The correctness driver hands us its own SparkSession; these settings are
    the subset of our tuning that can be applied after session start. The
    worker daemon and the workers' PYTHONPATH are static and stay unset.
    """
    conf = spark.conf
    conf.set("spark.sql.session.timeZone", "UTC")
    conf.set("spark.sql.adaptive.enabled", "true")
    conf.set("spark.sql.adaptive.coalescePartitions.enabled", "true")
    conf.set("spark.sql.execution.arrow.pyspark.enabled", "true")
    return spark


def get_spark(
    app_name: str = "cassandra-sql-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    cpus = default_parallelism()
    master = master or f"local[{cpus}]"
    shuffle_partitions = shuffle_partitions or max(cpus, 8)

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        .config("spark.sql.autoBroadcastJoinThreshold", str(64 * 1024 * 1024))
        # single-file testdata: split scans at 16 MB so local cores engage;
        # on a real cluster file count provides this parallelism naturally
        .config("spark.sql.files.maxPartitionBytes", str(16 * 1024 * 1024))
        .config("spark.sql.cbo.enabled", "true")
        .config("spark.sql.cbo.joinReorder.enabled", "true")
        .config("spark.driver.memory", os.environ.get("SPARK_GRAFT_DRIVER_MEM", "8g"))
        .config("spark.ui.enabled", "false")
        .config("spark.sql.warehouse.dir", os.environ.get(
            "SPARK_GRAFT_WAREHOUSE", "/root/repo/.warehouse"))
        .config("spark.python.daemon.module", "cassandra_sql_spark.worker_daemon")
    )
    conf = dict(extra_conf or {})
    key = "spark.executorEnv.PYTHONPATH"
    conf[key] = os.pathsep.join(p for p in (LIBRARY_ROOT, conf.get(key)) if p)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()
