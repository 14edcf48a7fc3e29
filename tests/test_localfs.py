"""The local filesystem that ``session.get_spark`` installs for ``file:``
paths (``jvm/localfs.jar``): it starts no process, it behaves as stock
Hadoop's ``LocalFileSystem``/``LocalFs`` do, it keeps every checksum, and the
committed jar is built from the committed sources."""

from __future__ import annotations

import os
import shutil
import stat
import subprocess
import sys
import textwrap
import zipfile
from pathlib import Path

import pytest
from py4j.protocol import Py4JJavaError

from apache_flink_datastream_api_spark import session
from apache_flink_datastream_api_spark.examples.windowing import sliding_counts
from apache_flink_datastream_api_spark.functions.parse import parse_audit_trail
from apache_flink_datastream_api_spark.sources.fixtures import write_audit_fixture

ROOT = Path(__file__).resolve().parents[1]
SHELL_OUTS = {"chmod", "readlink", "ls", "stat"}


def _process_starts(spark, tmp_path: Path, work) -> list[str]:
    """Commands the JVM started while ``work()`` ran (JFR ``jdk.ProcessStart``)."""
    jvm = spark._jvm
    rec = jvm.jdk.jfr.Recording()
    rec.enable("jdk.ProcessStart")
    rec.start()
    try:
        work()
    finally:
        rec.stop()
    dump = jvm.java.io.File(str(tmp_path / "starts.jfr")).toPath()
    rec.dump(dump)
    rec.close()
    return [e.getString("command") for e in jvm.jdk.jfr.consumer.RecordingFile.readAllEvents(dump)]


def test_checkpoints_and_parquet_start_no_shell(spark, tmp_path):
    """A 4-batch stateful drain with a checkpoint and a parquet write start
    no chmod/readlink/ls/stat (stock Hadoop without libhadoop: several
    hundred), and still write every checksum file."""
    spool = write_audit_fixture(str(tmp_path / "spool"), n=38, per_file=10)  # 4 files
    ckpt = tmp_path / "ckpt"
    batches = []

    def work():
        parsed = parse_audit_trail(spark.readStream.option("maxFilesPerTrigger", 1).text(spool))
        q = (sliding_counts(parsed).writeStream.format("noop").outputMode("update")
             .option("checkpointLocation", str(ckpt)).trigger(availableNow=True).start())
        q.awaitTermination(120)
        batches.extend(p["batchId"] for p in q.recentProgress if p["numInputRows"])
        spark.range(10).coalesce(1).write.parquet(str(tmp_path / "out"))

    starts = _process_starts(spark, tmp_path, work)
    assert [c for c in starts if os.path.basename(c.split()[0]) in SHELL_OUTS] == []
    assert batches == [0, 1, 2, 3]
    for log in ("offsets", "commits"):
        assert all((ckpt / log / f".{b}.crc").is_file() for b in batches)
    # Each state delta has Hadoop's .crc and Spark's own checksum file.
    deltas = list((ckpt / "state").rglob("*.delta"))
    assert deltas and all((d.parent / f".{d.name}.crc").is_file() for d in deltas)
    assert all((d.parent / f"{d.name}.crc").is_file() for d in deltas)
    assert list((tmp_path / "out").glob(".part-*.parquet.crc"))


# --- equivalence with stock Hadoop ------------------------------------------

@pytest.fixture(scope="module")
def pair(spark):
    """(stock, engine) FileSystem and FileContext pairs for ``file:``."""
    jvm = spark._jvm
    hconf = spark.sparkContext._jsc.hadoopConfiguration()
    uri = jvm.java.net.URI("file:///")
    stock_fs = jvm.org.apache.hadoop.fs.LocalFileSystem()
    stock_fs.initialize(uri, jvm.org.apache.hadoop.conf.Configuration())
    stock_fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(
        jvm.org.apache.hadoop.conf.Configuration())
    nio_fs = jvm.org.apache.hadoop.fs.FileSystem.newInstance(uri, hconf)
    nio_fc = jvm.org.apache.hadoop.fs.FileContext.getFileContext(hconf)
    assert stock_fc.getDefaultFileSystem().getClass().getName() == "org.apache.hadoop.fs.local.LocalFs"
    assert nio_fs.getClass().getName() == "graft.fs.NioLocalFileSystem"
    assert nio_fc.getDefaultFileSystem().getClass().getName() == "graft.fs.NioLocalFs"
    yield {"stock": (stock_fs, stock_fc), "nio": (nio_fs, nio_fc)}
    stock_fs.close()
    nio_fs.close()


def _hpath(spark, p) -> object:
    return spark._jvm.org.apache.hadoop.fs.Path(str(p))


def _fc_create(spark, fc, path):
    jvm = spark._jvm
    flags = jvm.java.util.EnumSet.of(jvm.org.apache.hadoop.fs.CreateFlag.CREATE)
    opts = spark.sparkContext._gateway.new_array(jvm.org.apache.hadoop.fs.Options.CreateOpts, 0)
    return fc.create(path, flags, opts)


def _mode(p: Path) -> str:
    return oct(stat.S_IMODE(os.lstat(p).st_mode))


def _trees(tmp_path: Path) -> dict[str, Path]:
    out = {}
    for side in ("stock", "nio"):
        out[side] = tmp_path / side
        out[side].mkdir()
    return out


def test_created_modes_match_stock(spark, pair, tmp_path):
    """Files and directories created through either API get stock's modes,
    including a directory that inherits setgid from its parent."""
    roots = _trees(tmp_path)
    for side, root in roots.items():
        fs, fc = pair[side]
        fs.create(_hpath(spark, root / "fs_file")).close()
        _fc_create(spark, fc, _hpath(spark, root / "fc_file")).close()
        fs.mkdirs(_hpath(spark, root / "fs_dir" / "sub"))
        fc.mkdir(_hpath(spark, root / "fc_dir"),
                 spark._jvm.org.apache.hadoop.fs.permission.FsPermission.getDirDefault(), True)
        (root / "sgid").mkdir()
        os.chmod(root / "sgid", 0o2775)
        fs.mkdirs(_hpath(spark, root / "sgid" / "child"))
    names = ["fs_file", ".fs_file.crc", "fc_file", ".fc_file.crc", "fs_dir", "fs_dir/sub",
             "fc_dir", "sgid/child"]
    got = {side: [_mode(root / n) for n in names] for side, root in roots.items()}
    assert got["nio"] == got["stock"]
    assert got["nio"][-1] == "0o2755"


@pytest.mark.parametrize("mode", [0o600, 0o750, 0o1777, 0o2750])
def test_set_permission_matches_stock(spark, pair, tmp_path, mode):
    """setPermission on a file, a plain directory and a setgid directory,
    with and without the sticky, setgid bits; and on a missing path."""
    roots = _trees(tmp_path)
    perm = spark._jvm.org.apache.hadoop.fs.permission.FsPermission(mode)
    errors = {}
    for side, root in roots.items():
        fs, _ = pair[side]
        (root / "f").write_text("x")
        (root / "d").mkdir()
        (root / "g").mkdir()
        os.chmod(root / "g", 0o2755)
        for n in ("f", "d", "g"):
            fs.setPermission(_hpath(spark, root / n), perm)
        with pytest.raises(Py4JJavaError) as err:
            fs.setPermission(_hpath(spark, root / "missing"), perm)
        errors[side] = err.value.java_exception
    got = {side: [_mode(root / n) for n in ("f", "d", "g")] for side, root in roots.items()}
    assert got["nio"] == got["stock"]
    io_error = spark._jvm.java.lang.Class.forName("java.io.IOException")
    assert all(io_error.isInstance(e) for e in errors.values())


def _link_view(call):
    """A comparable summary of a link lookup, or of the exception it raised."""
    try:
        r = call()
    except Py4JJavaError as e:
        return ("raises", e.java_exception.getClass().getName())
    if r.getClass().getName() == "org.apache.hadoop.fs.Path":
        return ("target", r.toString())
    return ("status", r.getPath().toString(), r.isSymlink(),
            r.getSymlink().toString() if r.isSymlink() else None,
            r.isDirectory(), r.getLen(), r.getModificationTime(),
            r.getPermission().toString(), r.getOwner(), r.getGroup())


def test_link_lookups_match_stock(spark, pair, tmp_path):
    """getFileLinkStatus/getLinkTarget through both APIs agree with stock on a
    file, a symlink, a dangling symlink and a missing path, each given
    qualified and unqualified (stock's qualified lookup does not see links)."""
    roots = _trees(tmp_path)
    for root in roots.values():
        (root / "file").write_text("abc")
        os.utime(root / "file", (1_000_000_000, 1_000_000_000))
        (root / "link").symlink_to(root / "file")
        (root / "dangling").symlink_to(root / "gone")
    views = {}
    for side, root in roots.items():
        fs, fc = pair[side]
        out = []
        for name in ("file", "link", "dangling", "missing"):
            for p in (str(root / name), f"file:{root / name}"):
                hp = _hpath(spark, p)
                for api in (fs, fc):
                    out.append(_link_view(lambda: api.getFileLinkStatus(hp)))
                    out.append(_link_view(lambda: api.getLinkTarget(hp)))
        views[side] = [str(v).replace(str(root), "<root>") for v in out]
    assert views["nio"] == views["stock"]
    assert any("True" in v for v in views["nio"]), "no symlink was seen"


def test_corrupted_bytes_still_fail_the_checksum(spark, pair, tmp_path):
    """Through FileContext, the API of Spark's checkpoint files, both
    ``open(path, bufferSize)`` and the one-argument ``open(path)`` that
    Spark's checkpoint file manager calls verify. (Stock Hadoop 3.4.2's
    one-argument ``open`` reaches the raw filesystem unverified.) The
    FileSystem API is not exercised: its failure handler moves the bad file
    to a ``bad_files`` directory at the top of the mount."""
    _, fc = pair["nio"]
    path = tmp_path / "data"
    hp = _hpath(spark, path)
    out = _fc_create(spark, fc, hp)
    out.write(bytearray(b"checkpoint bytes"))
    out.close()
    assert (tmp_path / ".data.crc").is_file()
    raw = bytearray(path.read_bytes())
    raw[0] ^= 0xFF
    path.write_bytes(bytes(raw))
    for stream in (fc.open(hp, 4096), fc.open(hp)):
        with pytest.raises(Py4JJavaError) as err:
            stream.read()
        stream.close()
        assert err.value.java_exception.getClass().getName() == "org.apache.hadoop.fs.ChecksumException"


def test_rename_keeps_an_existing_file_as_the_default_file_scheme_did(spark, pair, tmp_path):
    """Hive's ProxyLocalFileSystem (the ServiceLoader default for ``file:``
    with pyspark's jars) refuses to rename onto an existing file; so does
    the engine's, while a rename to a new name still moves the file."""
    jvm = spark._jvm
    proxy = jvm.org.apache.hadoop.hive.ql.io.ProxyLocalFileSystem()
    proxy.initialize(jvm.java.net.URI("file:///"), jvm.org.apache.hadoop.conf.Configuration())
    got = {}
    for side, fs in (("proxy", proxy), ("nio", pair["nio"][0])):
        root = tmp_path / side
        root.mkdir()
        (root / "a").write_text("a")
        (root / "b").write_text("b")
        got[side] = (fs.rename(_hpath(spark, root / "a"), _hpath(spark, root / "b")),
                     (root / "b").read_text(),
                     fs.rename(_hpath(spark, root / "a"), _hpath(spark, root / "c")),
                     sorted(p.name for p in root.iterdir()))
    proxy.close()
    assert got["nio"] == got["proxy"] == (False, "b", True, ["b", "c"])


# --- the jar and its installation -------------------------------------------

@pytest.mark.skipif(shutil.which("javac") is None, reason="needs javac")
def test_committed_jar_matches_sources(tmp_path):
    """Every class in the committed jar is byte-identical to a fresh
    compile of ``jvm/src`` (rebuild with scripts/build_localfs_jar.py)."""
    from scripts.build_localfs_jar import compile_classes

    fresh = compile_classes(tmp_path)
    with zipfile.ZipFile(session.LOCALFS_JAR) as jar:
        committed = {n: jar.read(n) for n in jar.namelist()}
    assert sorted(committed) == sorted(fresh)
    assert [n for n in fresh if committed[n] != fresh[n]] == []


def test_session_conf_appends_the_jar_to_a_callers_class_path(spark):
    jar = str(session.LOCALFS_JAR)
    conf = session._session_conf("local[2]", {"spark.driver.extraClassPath": "lib/extra.jar",
                                              "spark.sql.foo": "1"})
    assert conf["spark.driver.extraClassPath"] == f"lib/extra.jar{os.pathsep}{jar}"
    assert conf["spark.sql.foo"] == "1"
    assert conf["spark.hadoop.fs.file.impl"] == "graft.fs.NioLocalFileSystem"
    assert session._session_conf("local", {})["spark.driver.extraClassPath"] == jar


@pytest.mark.parametrize("master", ["spark://host:7077", "yarn", "local-cluster[2,1,1024]"])
def test_session_conf_keeps_stock_hadoop_off_local(master):
    extra = {"spark.driver.extraClassPath": "lib/extra.jar",
             "spark.executorEnv.PYTHONPATH": "lib/extra"}
    assert session._session_conf(master, extra) == extra


def test_session_conf_names_a_missing_jar(monkeypatch, tmp_path):
    missing = tmp_path / "localfs.jar"
    monkeypatch.setattr(session, "LOCALFS_JAR", missing)
    with pytest.raises(FileNotFoundError, match=str(missing)):
        session._session_conf("local[2]", {})


def _run_python(script: str, cwd: Path, submit_args: str | None = None):
    """Run ``script`` in a fresh interpreter (and so a fresh JVM)."""
    env = {**os.environ, "PYTHONPATH": str(ROOT)}
    env.pop("PYSPARK_SUBMIT_ARGS", None)
    if submit_args:
        env["PYSPARK_SUBMIT_ARGS"] = submit_args
    return subprocess.run([sys.executable, "-c", textwrap.dedent(script)], capture_output=True,
                          text=True, env=env, cwd=cwd, timeout=300)


def test_vanilla_session_keeps_stock_hadoop(tmp_path):
    """In a process whose JVM was launched without the jar (a driver's
    vanilla session), get_spark leaves ``file:`` on stock Hadoop and works."""
    out = str(tmp_path / "out")
    res = _run_python(f"""
        from pyspark.sql import SparkSession
        from apache_flink_datastream_api_spark.session import get_spark
        SparkSession.builder.master("local[1]").getOrCreate()
        spark = get_spark(master="local[1]")
        hconf = spark.sparkContext._jsc.hadoopConfiguration()
        fs = spark._jvm.org.apache.hadoop.fs.FileSystem.get(spark._jvm.java.net.URI("file:///"), hconf)
        spark.range(3).write.parquet({out!r})
        print(fs.getClass().getName(), spark.read.parquet({out!r}).count())
    """, tmp_path)
    assert res.returncode == 0, res.stderr[-2000:]
    fs_class, rows = res.stdout.split()[-2:]
    assert rows == "3" and not fs_class.startswith("graft."), fs_class


def test_replaced_class_path_is_refused(tmp_path):
    """``--driver-class-path`` replaces the class path get_spark asks for;
    get_spark then raises instead of returning a session whose every file
    operation would fail on the missing class."""
    res = _run_python("""
        from apache_flink_datastream_api_spark.session import get_spark
        try:
            get_spark(master="local[1]")
        except RuntimeError as e:
            print("refused:", e)
    """, tmp_path, submit_args="--driver-class-path /nonexistent.jar pyspark-shell")
    assert res.returncode == 0, res.stderr[-2000:]
    assert "refused:" in res.stdout and "localfs.jar" in res.stdout, res.stdout
