"""Shared pieces of the benchmark: paths, percentiles, provenance, memory
sampling, the per-run scratch directory and the engine set-up/tear-down.

Nothing here starts a thread, a process or a JVM at import time; the
workload modules call these helpers from ``run.py``.
"""

from __future__ import annotations

import bisect
import hashlib
import math
import os
import platform
import shutil
import statistics
import subprocess
import sys
import threading
import time
from dataclasses import dataclass, field
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
BENCH = ROOT / "perfbench"
PACKAGE = "apache_flink_datastream_api_spark"
FLOOR_DATA = BENCH / "data" / "sf0.01"
TABLES = ("region nation customer supplier part orders lineitem events "
          "documents embeddings").split()

# The vendored sf0.01 tables are a byte copy of the sf0.01 test tables
# (TESTDATA.md); the digest pins that copy so an edited or partial table
# fails loudly.
FLOOR_SHA256 = "5e9c8548805a0dbf1dede7b12bcab9bf470c365b11a2eabab7ca5ce36a6e06dd"

# A tail percentile is reported only when at least this many samples lie
# beyond it (choosing-metrics: "at least ten samples beyond it").
MIN_BEYOND = 10
TAIL_LEVELS = (0.99, 0.9, 0.75, 0.5)


class BenchError(RuntimeError):
    """A condition that makes the run meaningless (missing data, missing
    package, wrong checksum): the run exits non-zero without a result."""


# --- statistics ------------------------------------------------------------

def supported(n: int, q: float) -> bool:
    """True when at least MIN_BEYOND of n samples lie beyond quantile q."""
    return n * (1.0 - q) >= MIN_BEYOND - 1e-9


def quantile(values, q: float) -> float:
    """Nearest-rank quantile (q in (0, 1]); the median is the usual one."""
    xs = sorted(values)
    if not xs:
        raise ValueError("no samples")
    if q == 0.5:
        return float(statistics.median(xs))
    return float(xs[max(0, math.ceil(q * len(xs)) - 1)])


def hd_median(values) -> float:
    """Harrell-Davis estimate of the median: a weighted mean of all order
    statistics, with Beta((n+1)/2, (n+1)/2) weights. A plain median of a
    small sample jumps when two values near the middle swap places; this
    estimate moves smoothly with them (Harrell and Davis, 1982)."""
    xs = sorted(values)
    n = len(xs)
    if n < 3:
        return quantile(xs, 0.5)
    a = (n + 1) / 2.0
    lognorm = math.lgamma(2 * a) - 2 * math.lgamma(a)

    def pdf(t: float) -> float:
        if t <= 0.0 or t >= 1.0:
            return 0.0
        return math.exp(lognorm + (a - 1) * (math.log(t) + math.log1p(-t)))

    steps = max(8, 2 * (2000 // n))    # even: composite Simpson per cell
    weights = []
    for k in range(n):
        lo, h = k / n, 1.0 / (n * steps)
        inner = sum((4 if j % 2 else 2) * pdf(lo + j * h) for j in range(1, steps))
        weights.append((pdf(lo) + pdf(lo + steps * h) + inner) * h / 3)
    return sum(w * x for w, x in zip(weights, xs)) / sum(weights)


def tail(values) -> tuple[float, float]:
    """(level, value) of the highest TAIL_LEVELS quantile the samples
    support; (0.5, median) when even the median has fewer than ten beyond."""
    n = len(values)
    for q in TAIL_LEVELS:
        if supported(n, q):
            return q, quantile(values, q)
    return 0.5, quantile(values, 0.5)


def geomean(values) -> float:
    values = list(values)
    return math.exp(sum(math.log(v) for v in values) / len(values))


# --- files and provenance -------------------------------------------------

def tree_sha256(root: Path) -> str:
    """Digest of every regular file under root: relative path and bytes."""
    h = hashlib.sha256()
    files = sorted(p for p in root.rglob("*") if p.is_file())
    if not files:
        raise BenchError(f"input data missing: no files under {root}")
    for p in files:
        h.update(str(p.relative_to(root)).encode())
        h.update(b"\0")
        with open(p, "rb") as f:
            for chunk in iter(lambda: f.read(1 << 20), b""):
                h.update(chunk)
    return h.hexdigest()


def check_tables(data: Path) -> None:
    missing = [t for t in TABLES if not (data / f"{t}.parquet").exists()]
    if missing:
        raise BenchError(f"input data missing under {data}: {missing}")


def git_commit() -> str | None:
    """HEAD commit read from .git without running git; None outside a
    git checkout (the benchmark also records a digest of the sources)."""
    head = ROOT / ".git" / "HEAD"
    try:
        ref = head.read_text().strip()
        if not ref.startswith("ref: "):
            return ref
        name = ref[5:]
        loose = ROOT / ".git" / name
        if loose.exists():
            return loose.read_text().strip()
        for line in (ROOT / ".git" / "packed-refs").read_text().splitlines():
            if line.endswith(" " + name):
                return line.split()[0]
    except OSError:
        pass
    return None


def source_sha256() -> str:
    return tree_sha256(ROOT / PACKAGE)


# Fields that must agree before two results may be compared; the commit,
# the source digest and the seed are what a comparison is meant to vary.
COMPARABLE = ("workload", "seconds", "trace", "nproc", "master", "python",
              "pyspark", "numpy", "java", "data_sha256")


def provenance(workload: str, seed: int, seconds: int, trace: bool,
               data_sha: dict[str, str], java: str) -> dict:
    import numpy
    import pyspark

    return {
        "workload": workload, "seed": seed, "seconds": seconds,
        "trace": trace, "nproc": nproc(), "master": f"local[{nproc()}]",
        "python": platform.python_version(), "pyspark": pyspark.__version__,
        "numpy": numpy.__version__, "java": java, "data_sha256": data_sha,
        "git_commit": git_commit(), "source_sha256": source_sha256(),
    }


def nproc() -> int:
    return len(os.sched_getaffinity(0))


# --- host interference --------------------------------------------------------

# The benchmark host is a virtual machine on a shared server, which takes
# CPU time from it in episodes of tens of seconds (``steal`` in
# /proc/stat). Work that lost 10-40% of the CPU time it wanted ran
# 1.2-2.4x slower; work on an idle host loses under 2%. The end-to-end
# figures take each timed unit of work as it would have run on an idle
# host (``unstolen``); the raw times stay in the per-layer metrics.

def cpu_ticks() -> tuple[int, int]:
    """(busy, stolen) CPU ticks of the whole machine from /proc/stat.
    Stolen ticks are time a virtual CPU wanted to run while the host ran
    something else; (0, 0) where /proc/stat is missing."""
    try:
        with open("/proc/stat") as f:
            v = [int(x) for x in f.readline().split()[1:9]]
    except (OSError, ValueError):
        return 0, 0
    user, nice, system, _idle, _iowait, irq, softirq, steal = v
    return user + nice + system + irq + softirq, steal


def tree_cpu_s() -> float:
    """User plus system CPU seconds of this process and its live
    descendants (driver JVM, Python workers), with their reaped children."""
    pid, total = os.getpid(), 0
    for p in [pid] + descendants(pid):
        try:
            with open(f"/proc/{p}/stat") as f:
                v = f.read().rsplit(")", 1)[1].split()
        except OSError:
            continue
        total += sum(int(x) for x in v[11:15])
    return total / os.sysconf("SC_CLK_TCK")


def steal_share(a: tuple[int, int], b: tuple[int, int]) -> float:
    """Share of the CPU time wanted between ticks ``a`` and ``b`` that the
    host took away."""
    busy, steal = b[0] - a[0], b[1] - a[1]
    return steal / (busy + steal) if busy + steal > 0 else 0.0


# Work that lost share s of the CPU time it wanted took about
# (1 + STEAL_COST * s) times as long as on an idle host. Stolen time costs
# more than itself: a descheduled core stalls the threads that wait on it
# and comes back to cold caches, and a host that steals is busy in other
# ways too. Over 41 batch_floor runs on a 4-core host (820 calls, s up to
# 0.64) the least-squares slope was 2.9; over 8 stream_audit runs the
# factor that made the runs' median latencies agree best was 3 to 4.
STEAL_COST = 3.0


def unstolen(value: float, share: float) -> float:
    """``value`` (a time) as it would have been on an idle host, for work
    that lost ``share`` of its CPU time to the host (``STEAL_COST``)."""
    return value / (1.0 + STEAL_COST * share)


# --- processes and memory --------------------------------------------------

def _children_map() -> dict[int, list[int]]:
    kids: dict[int, list[int]] = {}
    for entry in os.listdir("/proc"):
        if not entry.isdigit():
            continue
        try:
            with open(f"/proc/{entry}/stat") as f:
                stat = f.read()
        except OSError:
            continue
        ppid = int(stat.rsplit(")", 1)[1].split()[1])
        kids.setdefault(ppid, []).append(int(entry))
    return kids


def descendants(pid: int, exclude: frozenset[int] = frozenset()) -> list[int]:
    """All live descendants of pid, skipping the subtrees rooted at
    ``exclude``."""
    kids, out, todo = _children_map(), [], [pid]
    while todo:
        for c in kids.get(todo.pop(), []):
            if c not in exclude:
                out.append(c)
                todo.append(c)
    return out


def rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as f:
            return int(f.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except OSError:
        return 0


class RssSampler:
    """Peak summed RSS of this process and its descendants (driver JVM,
    Python workers), polled from /proc on a daemon thread, and the
    machine's CPU ticks at each poll (``steal_between``). Subtrees
    listed in ``exclude`` (the load generator) are not counted. The
    process tree is re-listed every ``RESCAN`` polls only: listing all of
    /proc holds the GIL long enough to delay the stream sink's callbacks."""

    RESCAN = 5

    def __init__(self, interval_s: float = 0.25):
        self.interval_s = interval_s
        self.exclude: set[int] = set()
        self.peak = 0
        self.ticks: list[tuple[float, tuple[int, int]]] = []
        self._pids: list[int] = []
        self._polls = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _sample(self) -> None:
        if self._polls % self.RESCAN == 0:
            me = os.getpid()
            self._pids = [me] + descendants(me, frozenset(self.exclude))
        self._polls += 1
        self.peak = max(self.peak, sum(rss_bytes(p) for p in self._pids))
        self.ticks.append((time.time(), cpu_ticks()))

    def steal_between(self, t0: float, t1: float) -> float:
        """Steal share from the last poll at or before wall time t0 to the
        first poll at or after t1."""
        ticks = list(self.ticks)
        times = [t for t, _ in ticks]
        a = max(0, bisect.bisect_right(times, t0) - 1)
        b = min(len(ticks) - 1, bisect.bisect_left(times, t1))
        return steal_share(ticks[a][1], ticks[b][1])

    def _loop(self) -> None:
        while not self._stop.wait(self.interval_s):
            self._sample()

    def __enter__(self) -> "RssSampler":
        self._sample()
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join()

    @property
    def peak_mib(self) -> float:
        return self.peak / (1 << 20)


def wait_gone(pids, timeout_s: float) -> list[int]:
    """Wait until none of pids is alive; return those still alive."""
    deadline = time.monotonic() + timeout_s
    alive = list(pids)
    while alive and time.monotonic() < deadline:
        time.sleep(0.05)
        alive = [p for p in alive if os.path.exists(f"/proc/{p}")
                 and _state(p) != "Z"]
    return alive


def _state(pid: int) -> str:
    try:
        with open(f"/proc/{pid}/stat") as f:
            return f.read().rsplit(")", 1)[1].split()[0]
    except OSError:
        return "X"


def process_age_s() -> float:
    """Seconds since this process was created (from /proc, 10 ms ticks)."""
    with open("/proc/self/stat") as f:
        start_ticks = int(f.read().rsplit(")", 1)[1].split()[19])
    with open("/proc/uptime") as f:
        uptime = float(f.read().split()[0])
    return uptime - start_ticks / os.sysconf("SC_CLK_TCK")


# --- per-run scratch directory ------------------------------------------------

def make_scratch() -> Path:
    """A fresh directory inside the checkout for everything the run writes
    (Spark local dirs, checkpoints, spools); removed by ``drop_scratch``."""
    path = ROOT / ".perfbench_tmp" / f"run-{os.getpid()}"
    shutil.rmtree(path, ignore_errors=True)
    path.mkdir(parents=True)
    return path


def drop_scratch(path: Path) -> None:
    shutil.rmtree(path, ignore_errors=True)
    try:
        path.parent.rmdir()
    except OSError:
        pass  # another run still owns a sibling directory


# --- engine set-up and tear-down --------------------------------------------

@dataclass
class Outcome:
    """What a workload hands back: its counts, its two end-to-end figures,
    the latency samples (ms) for the tail, its layer metrics, and the job
    groups (span ids, stream run ids) whose Spark work it caused."""
    attempted: int
    failed: int
    latency_p50_ms: float
    throughput_per_s: float
    samples: list[float]
    layer: dict[str, float]
    groups: dict[str, list[str]]
    per_module: dict = field(default_factory=dict)


@dataclass
class Engine:
    spark: object
    specs: dict
    scratch: Path
    timings: dict[str, float] = field(default_factory=dict)
    digests: dict[str, str] = field(default_factory=dict)
    ready_s: float = 0.0
    start_ticks: tuple[int, int] = (0, 0)

    def warmed(self, since: float) -> None:
        """Mark the end of set-up: the workload's warm-up, begun at
        perf_counter() ``since``, is done and its first timed operation
        starts now. ``ready_s`` is the process age at that point, as on an
        idle host (``unstolen``, by the steal share since ``start_ticks``)."""
        self.timings["setup.warmup_s"] = time.perf_counter() - since
        age, share = process_age_s(), steal_share(self.start_ticks, cpu_ticks())
        self.ready_s = unstolen(age, share)
        log(f"set-up {age:.2f} s, stolen {share:.3f}")


def prepare_env(scratch: Path) -> None:
    """Environment for the engine: the host's cores, every temp file in the
    scratch directory, and the package importable by Python workers."""
    local = scratch / "local"
    local.mkdir(exist_ok=True)
    os.environ["SPARK_GRAFT_CPUS"] = str(nproc())
    os.environ["SPARK_LOCAL_DIRS"] = str(local)
    os.environ["TMPDIR"] = str(local)
    path = os.environ.get("PYTHONPATH", "")
    os.environ["PYTHONPATH"] = str(ROOT) + (os.pathsep + path if path else "")
    if str(ROOT) not in sys.path:
        sys.path.insert(0, str(ROOT))


def import_package() -> None:
    try:
        __import__(PACKAGE)
    except ImportError as ex:
        raise BenchError(f"engine package {PACKAGE!r} not importable from "
                         f"{ROOT}: {ex}") from ex


def setup_engine(scratch: Path, tracer, start_ticks: tuple[int, int]) -> Engine:
    """Session, registry and data fingerprint; each workload then warms
    the engine up and calls ``Engine.warmed``. ``start_ticks`` are the
    machine's CPU ticks when the run started."""
    import_package()
    from apache_flink_datastream_api_spark.session import get_spark

    t0 = time.perf_counter()
    with tracer.span("get_spark"):
        spark = get_spark(app_name="perfbench", extra_conf={
            "spark.sql.warehouse.dir": str(scratch / "warehouse"),
            "spark.driver.extraJavaOptions":
                f"-Djava.io.tmpdir={scratch / 'local'}",
        })
    t1 = time.perf_counter()
    tracer.attach(spark)
    from apache_flink_datastream_api_spark.registry import all_queries

    with tracer.span("all_queries"):
        specs = all_queries()
    t2 = time.perf_counter()
    with tracer.span("fingerprint"):
        digests = fingerprint()
    t3 = time.perf_counter()
    timings = {"session.get_spark_s": t1 - t0,
               "registry.all_queries_s": t2 - t1,
               "data.fingerprint_s": t3 - t2}
    return Engine(spark, specs, scratch, timings, digests, start_ticks=start_ticks)


def fingerprint() -> dict[str, str]:
    """SHA-256 of the vendored sf0.01 tables, by path in the checkout;
    refuse to run on an altered copy."""
    check_tables(FLOOR_DATA)
    digest = tree_sha256(FLOOR_DATA)
    if digest != FLOOR_SHA256:
        raise BenchError(f"{FLOOR_DATA} does not match its pinned digest")
    return {str(FLOOR_DATA.relative_to(ROOT)): digest}


def stop_engine(spark) -> None:
    """Stop the session and the driver JVM, then wait for the JVM and the
    Python workers it started to exit."""
    from pyspark import SparkContext

    me = os.getpid()
    spark.stop()
    gateway = SparkContext._gateway
    proc = getattr(gateway, "proc", None)
    if gateway is not None:
        gateway.shutdown()
    SparkContext._gateway = None
    SparkContext._jvm = None
    if proc is not None:
        proc.stdin.close()
        try:
            proc.wait(timeout=60)
        except subprocess.TimeoutExpired:
            proc.kill()
            proc.wait(timeout=10)
    left = wait_gone(descendants(me), 20)
    for pid in left:
        try:
            os.kill(pid, 9)
        except OSError:
            pass
    wait_gone(left, 5)


def log(msg: str) -> None:
    """Progress line on stderr, stamped with the process age."""
    print(f"[perfbench {process_age_s():6.1f}s] {msg}", file=sys.stderr, flush=True)


