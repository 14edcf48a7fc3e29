"""The Python-worker daemon of engine sessions (``pydaemon``): unchanged
zip archives keep their import caches across ``importlib.invalidate_caches()``,
a rewritten one is re-read, and ``get_spark`` runs local workers under it,
importable from any working directory."""

from __future__ import annotations

import importlib
import os
import subprocess
import sys
import textwrap
import zipfile
import zipimport
from pathlib import Path

import pytest

from apache_flink_datastream_api_spark import pydaemon, session

from .conftest import SF_DIR

ROOT = Path(__file__).resolve().parents[1]
DAEMON = "apache_flink_datastream_api_spark.pydaemon"


@pytest.fixture
def zip_reads(monkeypatch):
    """The patch installed on a restorable ``zipimporter``, with a record of
    the archives whose directory ``zipimport._read_directory`` reads."""
    monkeypatch.setattr(zipimport.zipimporter, "invalidate_caches",
                        zipimport.zipimporter.invalidate_caches)
    monkeypatch.setattr(pydaemon, "_read_at", {})
    reads = []
    read = zipimport._read_directory

    def counting(archive):
        reads.append(archive)
        return read(archive)

    monkeypatch.setattr(zipimport, "_read_directory", counting)
    pydaemon.keep_unchanged_zip_caches()
    return reads


def _write_zip(path: Path, members: dict[str, str]) -> None:
    with zipfile.ZipFile(path, "w") as zf:
        for name, src in members.items():
            zf.writestr(name, src)


@pytest.mark.skipif(sys.version_info >= (3, 13),
                    reason="CPython 3.13 re-reads zip directories lazily")
def test_unchanged_archive_is_not_reread_and_a_rewritten_one_is(
        zip_reads, tmp_path, monkeypatch):
    archive = tmp_path / "lib.zip"
    _write_zip(archive, {"pydaemon_probe_a.py": "A = 1\n"})
    monkeypatch.syspath_prepend(str(archive))
    assert importlib.import_module("pydaemon_probe_a").A == 1
    zip_reads.clear()
    # The first call reads the archive once to record its key.
    importlib.invalidate_caches()
    assert zip_reads.count(str(archive)) == 1
    for _ in range(3):
        importlib.invalidate_caches()
    assert zip_reads.count(str(archive)) == 1

    _write_zip(archive, {"pydaemon_probe_a.py": "A = 1\n", "pydaemon_probe_b.py": "B = 2\n"})
    importlib.invalidate_caches()
    assert zip_reads.count(str(archive)) == 2
    assert importlib.import_module("pydaemon_probe_b").B == 2
    importlib.invalidate_caches()
    assert zip_reads.count(str(archive)) == 2


# --- session confs -----------------------------------------------------------

def test_session_conf_runs_local_workers_under_the_daemon(spark):
    """Other masters keep ``pyspark.daemon``: ``test_localfs`` checks that
    ``_session_conf`` leaves their confs as given."""
    for master in ("local", "local[2]", "local[*]"):
        conf = session._session_conf(master, {})
        assert conf["spark.python.daemon.module"] == DAEMON
        assert conf["spark.executorEnv.PYTHONPATH"] == str(ROOT)
    assert session.PACKAGE_PARENT == str(ROOT)


def test_session_conf_keeps_a_callers_daemon_and_pythonpath(spark):
    conf = session._session_conf("local[2]", {
        "spark.python.daemon.module": "my.daemon",
        "spark.executorEnv.PYTHONPATH": "lib/extra"})
    assert conf["spark.python.daemon.module"] == "my.daemon"
    assert conf["spark.executorEnv.PYTHONPATH"] == f"lib/extra{os.pathsep}{ROOT}"


# --- engine sessions ------------------------------------------------------------

def test_engine_workers_run_under_the_daemon_and_reread_nothing(spark):
    """A ``mapInPandas`` worker of the engine session: its parent is the
    engine daemon, and ``importlib.invalidate_caches()`` (which every task
    runs) reads no zip directory."""

    def probe(batches):
        import importlib
        import os
        import time
        import zipimport

        import pandas as pd

        reads = []
        read = zipimport._read_directory

        def counting(archive):
            reads.append(archive)
            return read(archive)

        zipimport._read_directory = counting
        try:
            t0 = time.perf_counter()
            importlib.invalidate_caches()
            ms = (time.perf_counter() - t0) * 1e3
        finally:
            zipimport._read_directory = read
        with open(f"/proc/{os.getppid()}/cmdline", "rb") as f:
            parent = f.read().replace(b"\0", b" ").decode()
        for _ in batches:
            pass
        yield pd.DataFrame({"reads": [len(reads)], "ms": [ms], "parent": [parent]})

    rows = (spark.range(8, numPartitions=4)
            .mapInPandas(probe, "reads int, ms double, parent string").collect())
    assert len(rows) == 4
    assert all(f"-m {DAEMON} " in r.parent for r in rows), rows
    assert [r.reads for r in rows] == [0] * 4, rows


def test_python_worker_query_runs_from_any_directory(tmp_path):
    """A driver script started outside the repo, with no ``PYTHONPATH``,
    puts the repo on its own ``sys.path`` only; its Python workers still
    import the package."""
    script = textwrap.dedent(f"""
        import sys
        sys.path.insert(0, {str(ROOT)!r})
        from apache_flink_datastream_api_spark.operators.similarity import knn_bruteforce_arrow
        from apache_flink_datastream_api_spark.session import get_spark
        spark = get_spark(master="local[2]", shuffle_partitions=2)
        print("rows", knn_bruteforce_arrow(spark, {SF_DIR!r}).count())
        spark.stop()
    """)
    env = {k: v for k, v in os.environ.items()
           if k not in ("PYTHONPATH", "PYSPARK_SUBMIT_ARGS")}
    env["SPARK_DRIVER_MEMORY"] = "1g"
    res = subprocess.run([sys.executable, "-c", script], capture_output=True, text=True,
                         env=env, cwd=tmp_path, timeout=300)
    assert res.returncode == 0, res.stderr[-3000:]
    n = int(res.stdout.split("rows")[-1])
    assert n > 0
