"""Compare two sets of benchmark results.

    python3 perfbench/compare.py base1.out base2.out -- head1.out head2.out

Each file is the captured stdout of one ``run.py`` run (its provenance
line and its result line). The comparison is refused when the two sides
differ in any provenance field other than the commit, the source digest
and the seed: a different host, toolchain, data set, workload or run
length makes the numbers incomparable.

When one side was traced and the other not, the report is the tracing
overhead: each ``traced.*`` end-to-end value minus the untraced value.
"""

from __future__ import annotations

import json
import statistics
import sys
from pathlib import Path

sys.path.insert(0, str(Path(__file__).resolve().parent.parent))

from perfbench.common import COMPARABLE  # noqa: E402


def load(path: str) -> tuple[dict, dict]:
    prov = result = None
    for line in Path(path).read_text().splitlines():
        if line.startswith("{"):
            obj = json.loads(line)
            if "provenance" in obj:
                prov = obj["provenance"]
            else:
                result = obj
    if prov is None or result is None:
        raise SystemExit(f"{path}: no provenance or result line")
    return prov, result


def key(prov: dict, ignore=()) -> dict:
    return {k: prov[k] for k in COMPARABLE if k not in ignore}


def medians(results: list[dict]) -> dict[str, float]:
    names = results[0]["metrics"]
    return {n: statistics.median(r["metrics"][n]["value"] for r in results)
            for n in names}


def main(argv: list[str]) -> int:
    if "--" not in argv:
        raise SystemExit(__doc__)
    cut = argv.index("--")
    sides = [[load(p) for p in argv[:cut]], [load(p) for p in argv[cut + 1:]]]
    if not sides[0] or not sides[1]:
        raise SystemExit("both sides need at least one result file")
    overhead = sides[0][0][0]["trace"] != sides[1][0][0]["trace"]
    ignore = ("trace",) if overhead else ()
    ref = key(sides[0][0][0], ignore)
    for side in sides:
        for prov, _ in side:
            if key(prov, ignore) != ref:
                diff = {k: (ref[k], prov[k]) for k in ref if ref[k] != prov[k]}
                print(f"refused: provenance differs: {diff}", file=sys.stderr)
                return 2
    base, head = (medians([r for _, r in side]) for side in sides)
    if overhead:
        traced, plain = (head, base) if sides[1][0][0]["trace"] else (base, head)
        print(f"{'metric':24s} {'untraced':>12s} {'traced':>12s} {'overhead':>9s}")
        for n, v in plain.items():
            t = traced.get(f"traced.{n}")
            if t is not None:
                print(f"{n:24s} {v:12.4f} {t:12.4f} {(t - v) / v:+9.1%}")
        return 0
    print(f"{'metric':32s} {'base':>12s} {'head':>12s} {'change':>9s}")
    for n, v in base.items():
        h = head[n]
        change = (h - v) / v if v else float("nan")
        print(f"{n:32s} {v:12.4f} {h:12.4f} {change:+9.1%}")
    return 0


if __name__ == "__main__":
    sys.exit(main(sys.argv[1:]))
