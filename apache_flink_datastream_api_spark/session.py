r"""SparkSession factory (SURVEY.md §2.10 E1/E2).

The reference obtains a ``StreamExecutionEnvironment`` and occasionally forces
``setParallelism(1)`` for output ordering
(``chapter2/BasicStreamingOperations.java:37-42``). Our equivalent is a
SparkSession tuned for *scale-out* execution instead:

- AQE on (runtime coalescing of shuffle partitions, skew-join splitting,
  dynamic join-strategy switch) — on a 1000-executor cluster this is what
  keeps a 100 TB shuffle from dying on one hot key.
- Arrow execution enabled so any Pandas-UDF path is batch-columnar, never
  row-at-a-time pickling.
- UTC session timezone so window bucketing / epoch arithmetic is
  deterministic across driver and oracle.
- ``shuffle_partitions`` defaults to the local core count for tests; on a
  real cluster leave it to AQE's coalescing from a high initial value.

Checkpoint I/O: every streaming trigger writes an offset-log file, a
commit-log file, a file-source log file and one state delta per partition,
each as a temp file renamed into place with a ``.crc`` sibling. Without
``libhadoop`` (not shipped with pyspark), Hadoop's ``RawLocalFileSystem``
starts a ``chmod`` process for every file it creates and a ``readlink``
process for every link lookup, several per ``FileContext`` rename: about a
hundred process starts per trigger of a two-query stateful stream, and
most of its commit time. When ``get_spark`` launches a ``local[...]`` JVM it
therefore puts ``jvm/localfs.jar`` on the driver class path and names its
classes for ``file:`` paths (``fs.file.impl`` and
``fs.AbstractFileSystem.file.impl``). They are Hadoop's own
``LocalFileSystem``/``LocalFs`` (checksums, ``.crc`` files and atomic
renames unchanged) over a raw filesystem that does those two calls through
``java.nio`` with the same results. One difference is stricter than stock:
the ``FileContext`` side verifies checksums on the one-argument ``open``
that Spark's checkpoint file manager calls, where stock ``LocalFs`` reads
the raw file, so a corrupted offset, commit or source log raises
``ChecksumException`` instead of being read back silently. The
``FileSystem`` side also keeps the
no-replace rename of Hive's ``ProxyLocalFileSystem``, which pyspark's jars
otherwise make the ``file:`` default (sources in ``jvm/src``, rebuilt by
``scripts/build_localfs_jar.py``). Other masters run executors in other
JVMs and keep stock Hadoop, as does a session created by someone else, for
example a driver's vanilla one; there it can be turned on at submit time:

    spark-submit --driver-class-path <package>/jvm/localfs.jar \
      --conf spark.hadoop.fs.file.impl=graft.fs.NioLocalFileSystem \
      --conf spark.hadoop.fs.AbstractFileSystem.file.impl=graft.fs.NioLocalFs ...

Python workers: every Python-worker task (pandas and Arrow UDFs,
``applyInPandasWithState``) calls ``importlib.invalidate_caches()``, and
before CPython 3.13 that re-reads the whole directory of every zip archive a
worker imports from: ``pyspark.zip`` 13 times, the ``spark-core`` jar twice
and py4j once, 137-171 ms per task on a 4-core host. For the same
``local[...]`` JVMs, ``get_spark`` therefore names ``pydaemon`` in
``spark.python.daemon.module``. It is ``pyspark.daemon`` with zip import
caches that are kept while their archive is unchanged, which brings the call
under 1 ms. It also appends the directory that holds this package to
``spark.executorEnv.PYTHONPATH``, so the daemon and the workers import the
package from any working directory. A caller's daemon module is kept, and a
caller's ``PYTHONPATH`` is kept with that directory appended. Other masters
start workers on hosts where this checkout's path may not exist, so they keep
``pyspark.daemon``. A vanilla session can opt in at submit time when the
package is importable on its workers:

    spark-submit --conf spark.python.daemon.module=apache_flink_datastream_api_spark.pydaemon \
      --conf spark.executorEnv.PYTHONPATH=<directory holding the package> ...
"""

from __future__ import annotations

import os
import re
from pathlib import Path

from py4j.java_gateway import JavaClass
from pyspark import SparkContext
from pyspark.sql import SparkSession

from apache_flink_datastream_api_spark import pydaemon

LOCALFS_JAR = Path(__file__).with_name("jvm") / "localfs.jar"
_CLASSPATH = "spark.driver.extraClassPath"
_DAEMON = "spark.python.daemon.module"
_PYTHONPATH = "spark.executorEnv.PYTHONPATH"
# The directory that holds this package, so that workers import it (and the
# daemon) from any working directory.
PACKAGE_PARENT = str(Path(__file__).resolve().parents[1])
_LOCALFS_CONF = {
    "spark.hadoop.fs.file.impl": "graft.fs.NioLocalFileSystem",
    "spark.hadoop.fs.AbstractFileSystem.file.impl": "graft.fs.NioLocalFs",
}


def _session_conf(master: str, extra_conf: dict[str, str]) -> dict[str, str]:
    """``extra_conf`` plus, for a ``local[...]`` master whose JVM can load
    ``LOCALFS_JAR`` (one this call launches, or one already running with it
    on its class path), the confs that serve ``file:`` paths through the jar
    and run Python workers under ``pydaemon``. A caller's class path and
    worker ``PYTHONPATH`` are kept, with the jar and ``PACKAGE_PARENT``
    appended; a caller's daemon module is kept."""
    conf = dict(extra_conf)
    if not re.fullmatch(r"local(\[.*\])?", master):
        return conf
    if not LOCALFS_JAR.is_file():
        raise FileNotFoundError(
            f"{LOCALFS_JAR} is missing; build it with scripts/build_localfs_jar.py")
    gateway = SparkContext._gateway
    if gateway is not None and not _loads_localfs(gateway.jvm):
        return conf
    conf[_CLASSPATH] = os.pathsep.join(filter(None, (conf.get(_CLASSPATH), str(LOCALFS_JAR))))
    conf[_PYTHONPATH] = os.pathsep.join(filter(None, (conf.get(_PYTHONPATH), PACKAGE_PARENT)))
    return {**_LOCALFS_CONF, _DAEMON: pydaemon.__name__, **conf}


def _loads_localfs(jvm) -> bool:
    return isinstance(jvm.graft.fs.NioLocalFileSystem, JavaClass)


def get_spark(
    app_name: str = "flink-datastream-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Create (or reuse) a SparkSession with scale-minded defaults."""
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "*")
    master = master or os.environ.get("SPARK_MASTER", f"local[{cpus}]")
    if shuffle_partitions is None:
        env_sp = os.environ.get("SPARK_SHUFFLE_PARTITIONS")
        shuffle_partitions = int(env_sp) if env_sp else (32 if cpus == "*" else int(cpus))

    builder = (
        SparkSession.builder.appName(app_name)
        .master(master)
        .config("spark.sql.session.timeZone", "UTC")
        .config("spark.sql.shuffle.partitions", str(shuffle_partitions))
        # AQE: coalesce post-shuffle partitions, split skewed ones, switch
        # sort-merge -> broadcast when runtime stats allow.
        .config("spark.sql.adaptive.enabled", "true")
        .config("spark.sql.adaptive.coalescePartitions.enabled", "true")
        .config("spark.sql.adaptive.skewJoin.enabled", "true")
        # Arrow for every pandas_udf / applyInPandas boundary.
        .config("spark.sql.execution.arrow.pyspark.enabled", "true")
        # Parquet scan sizing: 128 MiB splits keep ~1 task per HDFS-ish block
        # at 100 TB without tiny-task overhead at test scale.
        .config("spark.sql.files.maxPartitionBytes", "134217728")
        # Broadcast threshold: dims like region/nation/supplier always fit.
        .config("spark.sql.autoBroadcastJoinThreshold", "64m")
        .config("spark.sql.parquet.filterPushdown", "true")
        .config("spark.ui.showConsoleProgress", "false")
        .config("spark.ui.enabled", os.environ.get("SPARK_UI", "false"))
        .config("spark.driver.memory", os.environ.get("SPARK_DRIVER_MEMORY", "8g"))
    )
    conf = _session_conf(master, extra_conf or {})
    for k, v in conf.items():
        builder = builder.config(k, v)
    spark = builder.getOrCreate()
    if _LOCALFS_CONF.items() <= conf.items() and not _loads_localfs(spark._jvm):
        spark.stop()
        raise RuntimeError(
            f"the Spark JVM did not load {LOCALFS_JAR}, which spark.hadoop.fs.file.impl "
            f"names; was {_CLASSPATH} replaced, e.g. by --driver-class-path?")
    spark.sparkContext.setLogLevel("ERROR")
    return spark
