"""The Python worker daemon ``get_spark`` configures: its zipimport guard
skips re-reading an unchanged archive, re-reads a changed one, is
installed in every worker, and the daemon imports from any directory."""

import importlib.util
import os
import subprocess
import sys
import zipfile
import zipimport

import pytest

from one_one_one_rule_spark import worker_daemon

REPO = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
EAGER = not hasattr(zipimport.zipimporter, "_get_files")


def _write_zip(path, modules):
    tmp = path.with_suffix(".tmp")
    with zipfile.ZipFile(tmp, "w") as zf:
        for name, src in modules.items():
            zf.writestr(f"{name}.py", src)
    os.replace(tmp, path)  # a new file under the same name


@pytest.mark.skipif(not EAGER, reason="lazy zipimport re-reads nothing")
def test_guard_skips_unchanged_archive_and_rereads_changed(
    tmp_path, monkeypatch
):
    # restore the class method and the module caches after the test
    monkeypatch.setattr(
        zipimport.zipimporter, "invalidate_caches",
        zipimport.zipimporter.invalidate_caches,
    )
    monkeypatch.setattr(zipimport, "_zip_directory_cache", {})
    monkeypatch.setattr(worker_daemon, "_read_at", {})
    assert worker_daemon.install()
    assert worker_daemon.install()  # idempotent
    assert worker_daemon.installed()

    archive = tmp_path / "pyfiles.zip"
    _write_zip(archive, {"mod_a": "X = 1\n"})
    first = zipimport.zipimporter(str(archive))
    second = zipimport.zipimporter(str(archive))

    reads = []
    read_directory = zipimport._read_directory

    def counted(path):
        reads.append(path)
        return read_directory(path)

    monkeypatch.setattr(zipimport, "_read_directory", counted)

    first.invalidate_caches()  # no stamp yet: one read
    assert len(reads) == 1
    first.invalidate_caches()
    second.invalidate_caches()
    assert len(reads) == 1, "an unchanged archive was re-read"
    assert second.find_spec("mod_b") is None

    _write_zip(archive, {"mod_a": "X = 1\n", "mod_b": "Y = 2\n"})
    second.invalidate_caches()
    assert len(reads) == 2, "a replaced archive was not re-read"
    first.invalidate_caches()
    assert len(reads) == 2
    spec = first.find_spec("mod_b")
    assert spec is not None
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    assert mod.Y == 2


def test_workers_run_with_the_guard(spark):
    # defined here so cloudpickle ships it by value: workers cannot import
    # the test module
    def _guard_report(batches):
        import importlib
        import os
        import zipimport

        import pandas as pd

        from one_one_one_rule_spark.worker_daemon import installed

        reads = []
        read_directory = zipimport._read_directory

        def counted(path):
            reads.append(path)
            return read_directory(path)

        zipimport._read_directory = counted
        try:
            importlib.invalidate_caches()  # what PySpark runs at each task
        finally:
            zipimport._read_directory = read_directory
        for _ in batches:
            pass
        yield pd.DataFrame({
            "pid": [os.getpid()],
            "guard": [installed()],
            "reads": [len(reads)],
        })

    slots = spark.sparkContext.defaultParallelism
    rows = (
        spark.range(0, 4 * slots, 1, 2 * slots)
        .mapInPandas(_guard_report, "pid long, guard boolean, reads long")
        .collect()
    )
    assert len(rows) == 2 * slots
    assert all(r.guard == EAGER for r in rows)
    if EAGER:
        assert all(r.reads == 0 for r in rows), rows


_PROBE = """
import sys
sys.path.insert(0, sys.argv[1])
from pyspark.sql import functions as F
from one_one_one_rule_spark.session import get_spark

spark = get_spark("worker_daemon_probe", master="local[1]")
spark.sparkContext.setLogLevel("ERROR")

@F.udf("boolean")
def guarded(_):
    from one_one_one_rule_spark.worker_daemon import installed
    return installed()

print("GUARD", spark.range(1).select(guarded("id")).first()[0])
spark.stop()
"""


def test_daemon_imports_from_any_working_directory(tmp_path):
    probe = tmp_path / "probe.py"
    probe.write_text(_PROBE)
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["SPARK_GRAFT_DRIVER_MEM"] = "1g"
    proc = subprocess.run(
        [sys.executable, str(probe), REPO],
        cwd=tmp_path, env=env, capture_output=True, text=True, timeout=600,
    )
    assert proc.returncode == 0, proc.stderr[-3000:]
    assert f"GUARD {EAGER}" in proc.stdout.splitlines()
