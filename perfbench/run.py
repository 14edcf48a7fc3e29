"""Benchmark entry point.

    python3 perfbench/run.py --workload batch_floor --seed 1 --seconds 20 --trace 0

Runs one workload in this process and a fresh driver JVM on
``local[<cores>]`` with the engine's own defaults, checks the outputs,
and prints as its last stdout line one JSON object with ``correct``,
``attempted``, ``failed`` and ``metrics`` (every end-to-end metric with
``--trace 0``, every per-layer metric with ``--trace 1``). The line
before it is the run's provenance. Everything the run writes goes into
``.perfbench_tmp/`` in the checkout and is removed before exit.

Workloads: ``batch_floor``, ``stream_audit`` (see
``perfbench/README.md``). ``--trace-out FILE`` also writes the spans.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import threading
import traceback
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench import common  # noqa: E402
from perfbench.common import (  # noqa: E402
    BenchError, Outcome, RssSampler, tail,
)
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402
from perfbench.trace import EXEC_KEYS, Tracer, exec_counters  # noqa: E402

WORKLOADS = ("batch_floor", "stream_audit")
HARD_LIMIT_S = 170.0   # give up (non-zero exit, no result) past this


def watchdog(scratch: Path) -> threading.Timer:
    def expire():
        print(f"[perfbench] run exceeded {HARD_LIMIT_S:.0f} s; aborting",
              file=sys.stderr, flush=True)
        pids = common.descendants(os.getpid())
        for pid in pids:
            try:
                os.kill(pid, 9)
            except OSError:
                pass
        common.wait_gone(pids, 10)
        common.drop_scratch(scratch)
        os._exit(3)

    t = threading.Timer(HARD_LIMIT_S, expire)
    t.daemon = True
    t.start()
    return t


def run(args, scratch: Path, start_ticks: tuple[int, int]) -> tuple[dict, dict]:
    common.check_tables(common.FLOOR_DATA)
    common.import_package()
    common.prepare_env(scratch)
    tracer = Tracer(bool(args.trace), f"{args.workload}-{args.seed}")
    layer = dict.fromkeys(PER_LAYER, 0.0)

    with RssSampler() as sampler:
        engine = common.setup_engine(scratch, tracer, start_ticks)
        spark = engine.spark
        java = spark._jvm.System.getProperty("java.version")
        try:
            work = run_workload(args, engine, tracer, sampler)
            layer.update(engine.timings)
            layer.update(work.layer)
            if tracer.enabled:
                layer.update(trace_counters(spark, work.groups))
        finally:
            common.stop_engine(spark)
    peak_mib = sampler.peak_mib
    common.log("engine stopped")

    e2e = {"setup_s": engine.ready_s, "latency_p50_ms": work.latency_p50_ms}
    layer["throughput_per_s"] = work.throughput_per_s
    layer["mem.peak_rss_mb"] = peak_mib
    level, tail_ms = tail(work.samples)
    layer.update({"latency.tail_ms": tail_ms, "latency.tail_level": level,
                  "latency.samples": float(len(work.samples))})
    if tracer.enabled:
        layer["trace.spans"] = float(len(tracer.spans))
        layer.update({f"traced.{k}": v for k, v in e2e.items()})
        layer["traced.throughput_per_s"] = work.throughput_per_s
        report_trace(tracer, work, args.trace_out)

    attempted, failed = work.attempted, work.failed
    if not all(v > 0 for v in (*e2e.values(), work.throughput_per_s)):
        failed = max(failed, 1)
    names = PER_LAYER if tracer.enabled else END_TO_END
    values = layer if tracer.enabled else e2e
    result = {
        "correct": failed == 0,
        "attempted": attempted,
        "failed": failed,
        "metrics": {k: {"value": float(values[k]), "unit": u}
                    for k, u in names.items()},
    }
    prov = common.provenance(args.workload, args.seed, args.seconds,
                             bool(args.trace), engine.digests, java)
    return prov, result


def run_workload(args, engine, tracer, sampler) -> Outcome:
    if args.workload == "stream_audit":
        from perfbench.stream import StreamRun

        return StreamRun(engine, tracer, sampler, args.seed, args.seconds).run()
    from perfbench.batch import batch_floor

    return batch_floor(engine, tracer, args.seed, args.seconds)


def trace_counters(spark, groups: dict) -> dict:
    out = {"query.construct_jobs": exec_counters(spark, groups["construct"])["jobs"],
           "query.action_jobs": exec_counters(spark, groups["action"])["jobs"]}
    every = [g for gs in groups.values() for g in gs]
    tot = exec_counters(spark, every)
    out.update({f"exec.{k}": tot[k] for k in EXEC_KEYS + ("task_skew",)})
    return out


def report_trace(tracer: Tracer, work, path: str | None) -> None:
    """Self time per span name and the per-module split, on stderr; the
    spans themselves to ``path`` when given."""
    for name, s in sorted(tracer.self_times().items()):
        print(f"[perfbench] self {name:20s} {s:9.3f} s", file=sys.stderr)
    for mod, m in sorted(work.per_module.items()):
        print(f"[perfbench] {mod:24s} calls {m['calls']:3d} "
              f"construct {m['construct_s']:7.3f} s action {m['action_s']:7.3f} s",
              file=sys.stderr)
    if path:
        tracer.dump(path)


def main() -> int:
    ap = argparse.ArgumentParser(description="pyspark-stream-engine benchmark")
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=int, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    ap.add_argument("--trace-out", default=None)
    args = ap.parse_args()
    start_ticks = common.cpu_ticks()

    scratch = common.make_scratch()
    dog = watchdog(scratch)
    try:
        prov, result = run(args, scratch, start_ticks)
    except BenchError as ex:
        print(f"[perfbench] error: {ex}", file=sys.stderr)
        return 2
    except Exception:
        traceback.print_exc()
        return 1
    finally:
        dog.cancel()
        common.drop_scratch(scratch)
    print(json.dumps({"provenance": prov}))
    print(json.dumps(result), flush=True)
    return 0


if __name__ == "__main__":
    sys.exit(main())
