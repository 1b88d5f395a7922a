"""Python worker daemon: the stamp-checked zip refresh, its wiring into
every ``get_spark`` session, and library imports from any working
directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport

import pytest

from cassandra_sql_spark import worker_daemon
from cassandra_sql_spark.session import LIBRARY_ROOT


def _write_zip(path, modules: list[str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name in modules:
            zf.writestr(f"{name}.py", f"NAME = {name!r}\n")


def test_directory_reread_only_when_archive_changes(tmp_path, monkeypatch):
    # importing the module leaves the process alone; only __main__ patches
    assert zipimport.zipimporter.invalidate_caches is worker_daemon._reread

    archive = str(tmp_path / "lib.zip")
    _write_zip(archive, ["m1"])
    monkeypatch.syspath_prepend(archive)
    for name in ("m1", "m2"):  # the undo drops what the test imports
        monkeypatch.setitem(sys.modules, name, None)
        del sys.modules[name]
    assert importlib.import_module("m1").NAME == "m1"

    reads = []
    read_directory = zipimport._read_directory

    def counting(path):
        if path == archive:
            reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    for _ in range(3):  # unpatched, every invalidation re-reads
        importlib.invalidate_caches()
    assert len(reads) == 3

    reads.clear()
    monkeypatch.setattr(worker_daemon, "_stamps", {})
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        worker_daemon.invalidate_caches)
    for _ in range(20):
        importlib.invalidate_caches()
    assert len(reads) <= 1

    reads.clear()
    before = os.stat(archive)
    _write_zip(archive, ["m1", "m2"])
    os.utime(archive, ns=(before.st_atime_ns, before.st_mtime_ns + 10**9))
    importlib.invalidate_caches()
    assert len(reads) == 1
    assert importlib.import_module("m2").NAME == "m2"


def test_session_workers_run_the_daemon(spark):
    def report(batches):
        import zipimport

        import pandas as pd

        for _ in batches:
            yield pd.DataFrame(
                {"m": [zipimport.zipimporter.invalidate_caches.__module__]})

    got = spark.range(1, numPartitions=1).mapInPandas(report, "m string").collect()
    assert [r.m for r in got] == ["cassandra_sql_spark.worker_daemon"]


@pytest.mark.slow
def test_workers_import_library_from_any_cwd(tmp_path):
    """A session started outside the checkout still runs Python UDFs that
    call library code: the workers' path does not rely on their cwd."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {LIBRARY_ROOT!r})
        from cassandra_sql_spark.session import get_spark
        from cassandra_sql_spark.testing import norm

        spark = get_spark("cwd-test", master="local[1]")

        def rounded(batches):
            for pdf in batches:
                yield pdf.assign(x=pdf.x.map(norm))

        df = spark.createDataFrame([(1.23456789012,)], "x double")
        print("ROWS", [r.x for r in df.mapInPandas(rounded, "x double").collect()])
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env.update(SPARK_GRAFT_WAREHOUSE=str(tmp_path / "warehouse"),
               SPARK_GRAFT_DRIVER_MEM="1g")
    out = subprocess.run([sys.executable, "-c", script], cwd=tmp_path, env=env,
                         capture_output=True, text=True, timeout=300)
    assert out.returncode == 0, out.stderr[-3000:]
    assert "ROWS [1.23456789]" in out.stdout
