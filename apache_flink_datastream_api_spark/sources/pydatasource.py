"""The reference's synthetic audit-trail generator (S3) as a first-class
Spark data source (PySpark 4 ``pyspark.sql.datasource`` API).

The reference runs its generator as a side thread writing one-record CSV
files that a file monitor then re-reads
(``datasource/FileStreamDataGenerator.java:32-107``). Spark-first, the
generator IS a source: ``spark.read.format("audit_trail_gen")`` (batch) or
``spark.readStream`` (streaming) with no filesystem hand-off, no extra
thread, and partition-parallel generation.

Determinism: row ``i`` is pure integer arithmetic on ``i`` (an LCG-style
mix, ``(1103515245 * (8i + k) + 12345) mod 2^31``), so any engine can
reproduce the stream exactly — the DuckDB oracle regenerates it with
``generate_series`` and hash-matches. No wall clock, no RNG state.

Scale: ``numRows`` splits evenly across ``partitions`` input splits; each
task generates its own range independently (no driver materialization, no
shuffle). At 100 TB-scale you'd raise ``partitions`` to the cluster's
core count; generation stays embarrassingly parallel.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import SparkSession
from pyspark.sql.datasource import (
    DataSource,
    DataSourceReader,
    DataSourceStreamReader,
    DataSourceStreamWriter,
    DataSourceWriter,
    InputPartition,
    SimpleDataSourceStreamReader,
    WriterCommitMessage,
)
from pyspark.sql.types import (
    IntegerType,
    LongType,
    StringType,
    StructField,
    StructType,
)

from .fixtures import BASE_TS, ENTITIES, OPERATIONS, USERS
from ..streaming.sinks import drain, drain_to_memory

_A, _C, _M = 1103515245, 12345, 2**31

AUDIT_GEN_SCHEMA = StructType(
    [
        StructField("id", LongType()),
        StructField("user", StringType()),
        StructField("entity", StringType()),
        StructField("operation", StringType()),
        StructField("ts_ms", LongType()),
        StructField("duration", IntegerType()),
        StructField("change_count", IntegerType()),
    ]
)


def _mix(i: int, k: int) -> int:
    # High bits only: the low bits of a power-of-two-modulus LCG have tiny
    # periods (mod 4 is constant), which would collapse the field domains.
    return ((_A * (i * 8 + k) + _C) % _M) // 65536


def gen_row(i: int) -> tuple:
    """Deterministic audit-trail record i (field domains per SURVEY §1)."""
    return (
        i,
        USERS[_mix(i, 1) % 3],
        ENTITIES[_mix(i, 2) % 2],
        OPERATIONS[_mix(i, 3) % 4],
        BASE_TS + i * 1000 + _mix(i, 4) % 1000,
        1 + _mix(i, 5) % 10,
        1 + _mix(i, 6) % 4,
    )


@dataclass
class _RangePartition(InputPartition):
    start: int
    end: int


class AuditTrailReader(DataSourceReader):
    def __init__(self, options):
        self.num_rows = int(options.get("numrows", 100))
        self.num_partitions = int(options.get("partitions", 8))

    def partitions(self):
        step = max(1, -(-self.num_rows // self.num_partitions))
        return [
            _RangePartition(lo, min(lo + step, self.num_rows))
            for lo in range(0, self.num_rows, step)
        ]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield gen_row(i)


class AuditTrailStreamReader(DataSourceStreamReader):
    """Micro-batch stream of the same rows: offset = next row index.

    Replaces the reference's sleep-loop thread (1–2 s per record,
    ``FileStreamDataGenerator.java:99``) with ``rowsPerBatch`` per
    micro-batch — rate is trigger-driven, replay is offset-driven (a
    restarted query regenerates identical rows from its checkpoint).
    """

    def __init__(self, options):
        self.num_rows = int(options.get("numrows", 100))
        self.rows_per_batch = int(options.get("rowsperbatch", 10))

    def initialOffset(self):
        return {"index": 0}

    def latestOffset(self):
        # Unbounded source capped at numRows so AvailableNow terminates.
        self._latest = getattr(self, "_latest", 0)
        self._latest = min(self._latest + self.rows_per_batch, self.num_rows)
        return {"index": self._latest}

    def partitions(self, start: dict, end: dict):
        return [_RangePartition(start["index"], end["index"])]

    def read(self, partition: _RangePartition):
        for i in range(partition.start, partition.end):
            yield gen_row(i)

    def commit(self, end: dict):
        pass


class AuditTrailSimpleStreamReader(SimpleDataSourceStreamReader):
    """The THIRD Python source API variant: the driver-side simple
    stream reader (``read(start) -> (rows, nextOffset)``). Spark
    PREFETCHES on the driver and caches each range; after a restart it
    replays uncommitted ranges through ``readBetweenOffsets`` — which
    must regenerate the identical rows, trivially true here because row
    i is a pure function of i. The partition-parallel
    ``AuditTrailStreamReader`` above is the scale path; this variant
    pins the low-volume/driver-side contract of the same source."""

    def __init__(self, options):
        self.num_rows = int(options.get("numrows", 100))
        self.rows_per_batch = int(options.get("rowsperbatch", 10))

    def initialOffset(self) -> dict:
        return {"index": 0}

    def read(self, start: dict):
        i = start["index"]
        end = min(i + self.rows_per_batch, self.num_rows)
        return iter([gen_row(j) for j in range(i, end)]), {"index": end}

    def readBetweenOffsets(self, start: dict, end: dict):
        return iter([gen_row(j) for j in range(start["index"], end["index"])])


class AuditTrailDataSource(DataSource):
    @classmethod
    def name(cls) -> str:
        return "audit_trail_gen"

    def schema(self) -> StructType:
        return AUDIT_GEN_SCHEMA

    def reader(self, schema: StructType) -> AuditTrailReader:
        return AuditTrailReader(self.options)

    def streamReader(self, schema: StructType) -> AuditTrailStreamReader:
        return AuditTrailStreamReader(self.options)


class AuditTrailSimpleDataSource(DataSource):
    """Same generator exposed through ``simpleStreamReader`` (a
    DataSource may define streamReader OR simpleStreamReader; the
    engine prefers the partitioned one when both exist, so the simple
    variant gets its own format name)."""

    @classmethod
    def name(cls) -> str:
        return "audit_trail_gen_simple"

    def schema(self) -> StructType:
        return AUDIT_GEN_SCHEMA

    def simpleStreamReader(self, schema: StructType):
        return AuditTrailSimpleStreamReader(self.options)


def register(spark: SparkSession) -> None:
    """Idempotent registration of the generator source."""
    spark.dataSource.register(AuditTrailDataSource)
    spark.dataSource.register(AuditTrailSimpleDataSource)


# --- custom Python SINK (DataSourceWriter, two-phase commit) -----------------
# The writer half of the custom-connector surface (the K-family parity
# the gated Kafka sink can't execute in this sandbox): each task writes
# its partition to a DOT-PREFIXED temp file (invisible to every Spark
# file reader by convention), and only the driver-side commit() renames
# temp files to their final part names — so a failed/aborted job
# publishes NOTHING and a re-run can't double-publish (rename is the
# atomic publish). Same protocol shape as the JVM FileCommitProtocol; on
# a cluster `path` is a shared filesystem. abort() removes the temps.

@dataclass
class _SinkCommit(WriterCommitMessage):
    tmp_path: str
    n_rows: int


class AuditTrailSinkWriter(DataSourceWriter):
    def __init__(self, options, field_names):
        import uuid

        self.path = options["path"]
        self.field_names = field_names
        # Job-scoped temp prefix (the writer instance is pickled to every
        # task, so all of this job's temps share it): abort() can then
        # sweep the job's OWN temps by glob — commit messages only cover
        # tasks that finished write(), never the one that failed mid-way,
        # and a task that wrote its temp but whose JOB failed must not
        # leave litter either.
        self.job_id = uuid.uuid4().hex

    def write(self, rows):
        import json
        import os
        import uuid

        tmp = os.path.join(
            self.path, f".tmp-{self.job_id}-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(self.field_names, r))) + "\n")
                n += 1
        return _SinkCommit(tmp, n)

    def commit(self, messages):
        import glob
        import os

        for m in messages:
            d, base = os.path.split(m.tmp_path)
            os.rename(m.tmp_path, os.path.join(d, base.replace(".tmp-", "part-", 1)))
        # Sweep this job's leftover temps on the SUCCESS path too: a
        # failed-then-retried or speculative task attempt wrote a temp
        # that no commit message names — without this it would sit in
        # the output directory forever (abort() already sweeps).
        for leftover in glob.glob(
            os.path.join(self.path, f".tmp-{self.job_id}-*")
        ):
            try:
                os.remove(leftover)
            except OSError:
                pass

    def abort(self, messages):
        import glob
        import os

        # Remove reported temps AND sweep this job's prefix: messages may
        # contain None for failed tasks, and written-but-unreported temps
        # must go too. The dot prefix means readers never saw any of them.
        for m in messages:
            if m is not None:
                try:
                    os.remove(m.tmp_path)
                except OSError:
                    pass
        for leftover in glob.glob(
            os.path.join(self.path, f".tmp-{self.job_id}-*")
        ):
            try:
                os.remove(leftover)
            except OSError:
                pass


class AuditTrailStreamSinkWriter(DataSourceStreamWriter):
    """STREAMING half of the custom sink (k6): per-micro-batch two-phase
    commit with an idempotent batch ledger. Tasks write dot-prefixed
    temp files; the driver's ``commit(messages, batchId)`` atomically
    renames them into ``part-{batchId}-...`` visibility UNLESS the
    ``_committed/{batchId}`` ledger marker already exists — a batch
    REPLAYED after failure/restart publishes nothing twice. This is the
    per-checkpoint exactly-once publish contract Flink's 2PC Kafka
    producer provides (``chapter4/EventTimeOperations.java:178-216``),
    executed end-to-end on the connector the sandbox allows; the batch
    half of the protocol is ``AuditTrailSinkWriter`` above."""

    def __init__(self, options, field_names):
        import uuid

        self.path = options["path"]
        self.field_names = field_names
        self.job_id = uuid.uuid4().hex

    def write(self, rows):
        import json
        import os
        import uuid

        tmp = os.path.join(
            self.path, f".stmp-{self.job_id}-{uuid.uuid4().hex}.jsonl")
        n = 0
        with open(tmp, "w") as f:
            for r in rows:
                f.write(json.dumps(dict(zip(self.field_names, r))) + "\n")
                n += 1
        return _SinkCommit(tmp, n)

    def _sweep(self):
        # NB: the engine may re-instantiate the writer between write()
        # and commit() (fresh job_id), so sweep every STREAM temp in the
        # dir. Stream temps are namespaced ``.stmp-`` precisely so this
        # sweep can never delete an in-flight BATCH writer's ``.tmp-``
        # files if a batch job shares the directory (ADVICE r7).
        import glob
        import os

        for leftover in glob.glob(os.path.join(self.path, ".stmp-*")):
            try:
                os.remove(leftover)
            except OSError:
                pass

    def commit(self, messages, batchId) -> None:
        import glob
        import os

        ledger = os.path.join(self.path, "_committed")
        os.makedirs(ledger, exist_ok=True)
        marker = os.path.join(ledger, str(batchId))
        if os.path.exists(marker):
            # replayed batch after restart: its outputs are already
            # published — drop this attempt's temps, publish nothing
            self._sweep()
            return
        fresh = set()
        for m in messages:
            if m is None:
                continue
            d, base = os.path.split(m.tmp_path)
            new_base = base.replace(".stmp-", f"part-{batchId:05d}-", 1)
            os.rename(m.tmp_path, os.path.join(d, new_base))
            fresh.add(new_base)
        # Crash-window repair: a prior attempt may have renamed its parts
        # for this batch and died BEFORE writing the marker. Stale = this
        # batch's parts not named by THIS commit's messages. (Identified
        # by message paths, not job_id — the engine re-instantiates the
        # writer for the driver-side commit, so self.job_id differs from
        # the one the task temps were named under.)
        for p in glob.glob(os.path.join(self.path, f"part-{batchId:05d}-*")):
            if os.path.basename(p) not in fresh:
                try:
                    os.remove(p)
                except OSError:
                    pass
        # Marker last, via temp+atomic-rename: once it exists, every
        # replay of this batch drops its temps and publishes nothing.
        tmp_marker = marker + ".tmp"
        with open(tmp_marker, "w") as f:
            f.write("committed")
        os.replace(tmp_marker, marker)

    def abort(self, messages, batchId) -> None:
        import os

        for m in messages:
            if m is not None:
                try:
                    os.remove(m.tmp_path)
                except OSError:
                    pass
        self._sweep()


class AuditTrailSink(DataSource):
    """JSONL sink exposing BOTH write paths under one format name:
    the batch 2PC writer (k5) and the streaming ledger writer (k6).

    Directory contract: batch jobs may safely SHARE an output directory
    (batch temps are ``.tmp-{job_id}-*`` and each job only sweeps its
    own job_id); a STREAMING query replay sweeps every ``.stmp-*`` in
    the directory, so stream temps are namespaced ``.stmp-`` — a batch
    write running concurrently with a streaming query in the same
    directory cannot have its in-flight temps deleted by the stream
    sweep. Two streaming queries must NOT share one directory (their
    sweeps and batch ledgers would interleave)."""

    @classmethod
    def name(cls) -> str:
        return "audit_trail_sink"

    def writer(self, schema: StructType, overwrite: bool) -> AuditTrailSinkWriter:
        return AuditTrailSinkWriter(self.options, schema.fieldNames())

    def streamWriter(self, schema: StructType, overwrite: bool):
        return AuditTrailStreamSinkWriter(self.options, schema.fieldNames())


def register_sink(spark: SparkSession) -> None:
    """Idempotent registration of the JSONL sink."""
    spark.dataSource.register(AuditTrailSink)


# --- registry queries -------------------------------------------------------
#
# The oracle regenerates the LCG stream in pure SQL, so the custom source
# is hash-checked end-to-end (not rows-only).

from pyspark.sql import DataFrame, functions as F  # noqa: E402

from ..registry import QuerySpec  # noqa: E402


def _gen_cte(n: int) -> str:
    mix = "(((1103515245 * (i * 8 + {k}) + 12345) % 2147483648) // 65536)"
    return f"""
WITH r AS (
  SELECT i,
    CASE {mix.format(k=1)} % 3 WHEN 0 THEN 'Tom' WHEN 1 THEN 'Harry' ELSE 'Bob' END AS gen_user,
    CASE {mix.format(k=3)} % 4 WHEN 0 THEN 'Create' WHEN 1 THEN 'Modify' WHEN 2 THEN 'Query' ELSE 'Delete' END AS operation,
    {BASE_TS} + i * 1000 + {mix.format(k=4)} % 1000 AS ts_ms,
    1 + {mix.format(k=5)} % 10 AS duration,
    1 + {mix.format(k=6)} % 4 AS change_count
  FROM generate_series(0, {n - 1}) t(i)
)
"""


def _gen_agg(df: DataFrame) -> DataFrame:
    return df.groupBy(F.col("user").alias("gen_user"), "operation").agg(
        F.count("*").alias("cnt"),
        F.sum("duration").alias("sum_duration"),
        F.sum("change_count").alias("sum_change"),
        F.sum("ts_ms").alias("sum_ts_ms"),
    )


def _gen_oracle(n: int) -> str:
    return _gen_cte(n) + """
SELECT gen_user, operation, COUNT(*) AS cnt,
       CAST(SUM(duration) AS BIGINT) AS sum_duration,
       CAST(SUM(change_count) AS BIGINT) AS sum_change,
       CAST(SUM(ts_ms) AS BIGINT) AS sum_ts_ms
FROM r GROUP BY 1, 2
"""


def s3_generator_source(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 as a batch source: partition-parallel deterministic generation
    (``datasource/FileStreamDataGenerator.java:32-107`` re-expressed as a
    Spark DataSource instead of a generator thread + file monitor)."""
    register(spark)
    df = (
        spark.read.format("audit_trail_gen")
        .option("numRows", 10_000)
        .option("partitions", 8)
        .load()
    )
    return _gen_agg(df)


def s3_generator_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 as a micro-batch stream: offset-tracked generation drained over
    several real micro-batches, complete-mode aggregation (batching-
    invariant final table == batch oracle)."""
    register(spark)
    n = 3000
    stream = (
        spark.readStream.format("audit_trail_gen")
        .option("numRows", n)
        .option("rowsPerBatch", 1000)
        .load()
    )
    out, _ = drain_to_memory(
        _gen_agg(stream), spark, "complete", cap=4, available_now=False)
    done = out.agg(F.sum("cnt")).collect()[0][0]
    if done != n:
        raise RuntimeError(f"generator stream drained {done}/{n} rows")
    return out


def s3_generator_simple_stream(spark: SparkSession, sf_dir: str) -> DataFrame:
    """S3 through the SIMPLE stream-reader API (driver-side prefetch,
    readBetweenOffsets replay) — same bounded drain and regeneration
    oracle as the partitioned stream variant."""
    register(spark)
    n = 2000
    stream = (
        spark.readStream.format("audit_trail_gen_simple")
        .option("numRows", n)
        .option("rowsPerBatch", 500)
        .load()
    )
    out, _ = drain_to_memory(
        _gen_agg(stream), spark, "complete", cap=4, available_now=False)
    done = out.agg(F.sum("cnt")).collect()[0][0]
    if done != n:
        raise RuntimeError(f"simple stream drained {done}/{n} rows")
    return out


def k5_python_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-connector WRITE path: generator source -> custom Python
    JSONL sink (task-level temp files + driver-side atomic rename on
    commit) -> read the PUBLISHED files back -> aggregate. Hash-matching
    the regeneration oracle proves the full write/commit/read loop loses
    and duplicates nothing — the exactly-once publish contract executed
    (streaming/exactly_once.py covers the replay side)."""
    import shutil
    import tempfile

    register(spark)
    register_sink(spark)
    n = 10_000
    d = tempfile.mkdtemp(prefix="pyds_sink_")
    try:
        src = (
            spark.read.format("audit_trail_gen")
            .option("numRows", n)
            .option("partitions", 8)
            .load()
        )
        src.write.format("audit_trail_sink").option("path", d).mode("append").save()
        back = spark.read.schema(AUDIT_GEN_SCHEMA).json(d)
        # Materialize the (tiny) aggregate off the published files so the
        # scratch dir can be removed NOW — without this every invocation
        # (bench warm + measured runs, each sim) leaks a 10k-row JSONL
        # directory in /tmp for the machine's lifetime (ADVICE r6).
        return _gen_agg(back).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


def k6_python_stream_sink_roundtrip(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Custom-connector STREAMING write path: offset-tracked generator
    stream -> custom Python ``DataSourceStreamWriter`` (per-micro-batch
    two-phase commit with an idempotent batch ledger) -> read the
    published files back -> aggregate. Hash-matching the regeneration
    oracle proves the multi-batch write/commit/read loop loses and
    duplicates nothing; the ledger's replay idempotence (a re-committed
    batchId publishes nothing twice) is failure-injection-tested in
    tests/test_pydatasource.py."""
    import glob
    import os
    import shutil
    import tempfile

    register(spark)
    register_sink(spark)
    n = 3000
    d = tempfile.mkdtemp(prefix="pyds_ssink_")
    try:
        stream = (
            spark.readStream.format("audit_trail_gen")
            .option("numRows", n)
            .option("rowsPerBatch", 1000)
            .load()
        )
        # Processing-time drain, not availableNow: the Python stream
        # source's availableNow end offset is computed once, which would
        # collapse the capped generator to one batch — this query exists
        # to exercise the MULTI-batch commit ledger. The drain stops
        # between batches, after every available offset is COMMITTED (the
        # driver-side sink commit — rename + ledger marker — is part of
        # the batch); stopping mid-epoch aborted the in-flight
        # PythonStreamingWrite after its Python runner was torn down.
        with drain(
            stream.writeStream.format("audit_trail_sink").option("path", d),
            spark, available_now=False,
        ):
            pass
        published = 0
        for part in glob.glob(os.path.join(d, "part-*")):
            with open(part) as f:
                published += sum(1 for _ in f)
        if published != n:
            raise RuntimeError(f"stream sink published {published}/{n} rows")
        back = spark.read.schema(AUDIT_GEN_SCHEMA).json(d)
        return _gen_agg(back).localCheckpoint(eager=True)
    finally:
        shutil.rmtree(d, ignore_errors=True)


SPECS = [
    QuerySpec(
        "k6_python_stream_sink_roundtrip", k6_python_stream_sink_roundtrip,
        _gen_oracle(3000),
        "custom Python DataSourceStreamWriter sink: per-micro-batch "
        "two-phase commit + idempotent batch ledger, multi-batch "
        "write/read-back loop hash-checked against the regeneration oracle",
        ("sink", "streaming", "spark4"),
    ),
    QuerySpec(
        "k5_python_sink_roundtrip", k5_python_sink_roundtrip, _gen_oracle(10_000),
        "custom Python DataSourceWriter sink (two-phase temp-file commit), "
        "write/read-back loop hash-checked against the regeneration oracle",
        ("sink", "spark4"),
    ),
    QuerySpec(
        "s3_generator_source", s3_generator_source, _gen_oracle(10_000),
        "S3 synthetic generator as a custom Python DataSource (batch), "
        "LCG-deterministic so the oracle regenerates it in SQL",
        ("source", "spark4"),
    ),
    QuerySpec(
        "s3_generator_simple_stream", s3_generator_simple_stream,
        _gen_oracle(2000),
        "S3 generator via SimpleDataSourceStreamReader (driver-side "
        "prefetch + readBetweenOffsets replay), multi-batch drain "
        "hash-checked against the regeneration oracle",
        ("source", "streaming", "spark4"),
    ),
    QuerySpec(
        "s3_generator_stream", s3_generator_stream, _gen_oracle(3000),
        "S3 generator as an offset-tracked streaming DataSource drained "
        "over multiple micro-batches (complete-mode agg)",
        ("source", "streaming", "spark4"),
    ),
]
