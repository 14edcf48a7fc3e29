"""Audit-trail load generator for the stream workload.

Writes CSV files in the reference's quoted record shape
(``"id","user","entity","operation","timestamp_ms","duration","change_count"``,
FIXTURES.md §1) into a spool directory. Users are Zipf-skewed over
``USERS`` keys; every other field is uniform as in the reference
generator. All choices come from the seed, so a seed fixes the records
except their time stamps.

Live mode is an open loop: file k is due at ``t0 + k * tick`` and is
written then, whatever the consumer is doing, with ``timestamp_ms`` set
to its creation time. How late each file was written is logged.

Run as a separate process:

    python3 perfbench/gen.py --out SPOOL --stage STAGE --seed 1 \
        --rate 1000 --tick-ms 100 --seconds 20 --first-id 0 --log LOG.json
"""

from __future__ import annotations

import argparse
import bisect
import json
import os
import random
import time
from pathlib import Path

USERS = 10_000
ZIPF_S = 1.1
ENTITIES = ("Customer", "SalesRep")
OPERATIONS = ("Create", "Modify", "Query", "Delete")


class AuditSource:
    """Seeded audit records with sequential ids."""

    def __init__(self, seed: int, first_id: int = 0, users: int = USERS):
        self.rng = random.Random(seed)
        self.next_id = first_id
        weights = [1.0 / (r ** ZIPF_S) for r in range(1, users + 1)]
        total, acc = sum(weights), 0.0
        self.cdf = []
        for w in weights:
            acc += w / total
            self.cdf.append(acc)

    def lines(self, n: int, stamp_ms: int) -> list[str]:
        r, out = self.rng, []
        for _ in range(n):
            rank = min(bisect.bisect_left(self.cdf, r.random()), len(self.cdf) - 1)
            fields = (self.next_id, f"u{rank:05d}", r.choice(ENTITIES),
                      r.choice(OPERATIONS), stamp_ms, r.randint(1, 10),
                      r.randint(1, 4))
            out.append(",".join(f'"{v}"' for v in fields))
            self.next_id += 1
        return out


def write_file(out: Path, stage: Path, name: str, lines: list[str],
               mtime_s: float | None = None) -> None:
    """Write into ``stage`` and rename into ``out``, so the stream source
    never lists a half-written file."""
    tmp = stage / name
    tmp.write_text("\n".join(lines) + "\n")
    if mtime_s is not None:
        os.utime(tmp, (mtime_s, mtime_s))
    os.rename(tmp, out / name)


def write_backlog(out: Path, stage: Path, source: AuditSource, files: int,
                  rows_per_file: int, rate: float, end_ms: int) -> None:
    """A pre-written backlog stamped as if produced at ``rate`` rows/s and
    finished at ``end_ms``; file modification times follow the stamps so
    the source reads the files in the order they were produced."""
    step_ms = rows_per_file / rate * 1000.0
    for k in range(files):
        stamp = int(end_ms - (files - k) * step_ms)
        write_file(out, stage, f"backlog-{k:05d}.csv",
                   source.lines(rows_per_file, stamp), mtime_s=stamp / 1000.0)


def due_times(t0: float, tick_s: float, seconds: float) -> list[float]:
    """Due time of each live file. Depends only on the schedule, never on
    when earlier files were actually written."""
    return [t0 + k * tick_s for k in range(int(round(seconds / tick_s)))]


def run_live(out: Path, stage: Path, source: AuditSource, rate: float,
             tick_s: float, seconds: float, t0: float, clock=time.time,
             sleep=time.sleep) -> list[dict]:
    """Write one file per tick on the wall-clock schedule; return one log
    entry per file with its due and written time and row count."""
    rows = max(1, int(round(rate * tick_s)))
    log = []
    for k, due in enumerate(due_times(t0, tick_s, seconds)):
        wait = due - clock()
        if wait > 0:
            sleep(wait)
        stamp_ms = int(clock() * 1000)
        write_file(out, stage, f"live-{k:05d}.csv", source.lines(rows, stamp_ms))
        log.append({"k": k, "due": due, "written": clock(), "rows": rows,
                    "stamp_ms": stamp_ms})
    return log


def main() -> None:
    ap = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    ap.add_argument("--out", type=Path, required=True)
    ap.add_argument("--stage", type=Path, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--rate", type=float, required=True)
    ap.add_argument("--tick-ms", type=float, default=100.0)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--first-id", type=int, default=0)
    ap.add_argument("--log", type=Path, required=True)
    a = ap.parse_args()

    source = AuditSource(a.seed, a.first_id)
    log = run_live(a.out, a.stage, source, a.rate, a.tick_ms / 1000.0,
                   a.seconds, time.time())
    tmp = a.log.with_suffix(".tmp")
    tmp.write_text(json.dumps(log))
    os.rename(tmp, a.log)


if __name__ == "__main__":
    main()
