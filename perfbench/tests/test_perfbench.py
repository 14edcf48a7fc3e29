"""Fast checks of the benchmark's own logic (no Spark session, no JVM).

    python3 -m pytest perfbench/tests -q
"""

from __future__ import annotations

import json
import sys
from pathlib import Path

import pandas as pd
import pytest

ROOT = Path(__file__).resolve().parents[2]
sys.path.insert(0, str(ROOT))

from perfbench import batch, common, gen, stream  # noqa: E402
from perfbench.metrics import END_TO_END, PER_LAYER  # noqa: E402


# --- percentiles: at least ten samples beyond ---------------------------------

def test_percentile_needs_ten_samples_beyond():
    assert not common.supported(99, 0.9)
    assert common.supported(100, 0.9)
    assert not common.supported(999, 0.99)
    assert common.supported(1000, 0.99)
    assert common.supported(20, 0.5) and not common.supported(19, 0.5)


def test_tail_reports_highest_supported_level():
    assert common.tail(list(range(1000)))[0] == 0.99
    assert common.tail(list(range(100)))[0] == 0.9
    assert common.tail(list(range(40)))[0] == 0.75
    level, value = common.tail(list(range(1, 11)))
    assert level == 0.5 and value == 5.5


def test_hd_median_matches_median_and_moves_smoothly():
    xs = [0.4, 0.5, 0.6, 0.7, 0.8, 0.9, 1.0, 1.1, 1.2, 1.3, 1.4]
    assert common.hd_median(xs) == pytest.approx(0.9, abs=1e-6)
    a = [0.3] * 9 + [0.60, 0.70] + [1.0] * 9
    b = [0.3] * 9 + [0.70, 0.60] + [1.0] * 9    # the middle pair swapped
    c = [0.3] * 9 + [0.64, 0.70] + [1.0] * 9    # one middle value moved
    assert common.hd_median(a) == pytest.approx(common.hd_median(b))
    assert abs(common.hd_median(c) - common.hd_median(a)) < 0.02


# --- stratified sampling -----------------------------------------------------------

def test_stratified_sample_is_deterministic_and_covers_every_module():
    groups = batch.strata()
    assert len(groups) == 20, sorted(groups)
    a = batch.stratified_sample(groups, 1, 7, exclude=batch.FLOOR_OUTLIERS)
    b = batch.stratified_sample(groups, 1, 7, exclude=batch.FLOOR_OUTLIERS)
    assert a == b
    assert {m for m, _ in a} == set(groups)
    assert not {n for _, n in a} & batch.FLOOR_OUTLIERS


def test_pinned_sample_is_the_seeded_draw():
    groups = batch.strata()
    drawn = batch.stratified_sample(
        groups, 1, batch.FLOOR_SAMPLE_SEED,
        exclude=batch.FLOOR_OUTLIERS | set(batch.FLOOR_WARMUP))
    assert [n for _, n in drawn] == list(batch.FLOOR_SAMPLE_MS)
    module = batch.floor_module(groups)
    assert sorted(module.values()) == sorted(groups)


# --- figures with host steal taken out ----------------------------------------

def _calls(scale=1.0, steal=0.0, slowed=(), slow=2.0):
    return [(n, ms / 1e3 * scale * (slow if n in slowed else 1.0),
             0.2 if n in slowed else steal)
            for n, ms in batch.FLOOR_SAMPLE_MS.items()]


def test_floor_figures_at_reference_and_uniformly_slower():
    lat, per_s = batch.floor_figures(_calls())
    ref = list(batch.FLOOR_SAMPLE_MS.values())
    assert lat == pytest.approx(sorted(ref)[9] / 2 + sorted(ref)[10] / 2, rel=1e-6)
    assert per_s == pytest.approx(len(ref) / sum(ref) * 1e3)
    lat2, per_s2 = batch.floor_figures(_calls(scale=1.3))
    assert lat2 == pytest.approx(1.3 * lat) and per_s2 == pytest.approx(per_s / 1.3)


def test_floor_figures_take_out_host_steal():
    names = list(batch.FLOOR_SAMPLE_MS)
    base = batch.floor_figures(_calls())
    slow = 1.0 + common.STEAL_COST * 0.2
    assert batch.floor_figures(_calls(slowed=names[:14], slow=slow)) == pytest.approx(base)
    # A call the program itself made slower still counts in full.
    calls = [(n, lat * (3.0 if n == names[0] else 1.0), s) for n, lat, s in _calls()]
    assert batch.floor_figures(calls)[1] < base[1]


def test_stratified_sample_changes_with_seed():
    groups = {f"m{i}": [f"q{i}_{j}" for j in range(30)] for i in range(5)}
    assert (batch.stratified_sample(groups, 2, 1)
            != batch.stratified_sample(groups, 2, 2))


# --- generator schedule -------------------------------------------------------------

class FakeClock:
    def __init__(self, t0: float):
        self.now = t0

    def time(self) -> float:
        return self.now

    def sleep(self, s: float) -> None:
        self.now += s


def test_generator_due_times_do_not_depend_on_consumer_speed(tmp_path):
    out, stage = tmp_path / "out", tmp_path / "stage"
    out.mkdir()
    stage.mkdir()
    logs = []
    for stall_s in (0.0, 0.35):   # a slow consumer stalls the writer's disk
        clock = FakeClock(1000.0)
        real_write = gen.write_file

        def slow_write(*a, **k):
            clock.now += stall_s
            real_write(*a, **k)

        gen.write_file = slow_write
        try:
            logs.append(gen.run_live(out, stage, gen.AuditSource(1), 100.0, 0.1,
                                     1.0, 1000.0, clock=clock.time,
                                     sleep=clock.sleep))
        finally:
            gen.write_file = real_write
        for p in out.iterdir():
            p.unlink()
    fast, slow = logs
    assert [e["due"] for e in fast] == [e["due"] for e in slow]
    assert [e["due"] for e in fast] == gen.due_times(1000.0, 0.1, 1.0)
    assert max(e["written"] - e["due"] for e in fast) == 0.0
    # the stalled writer falls behind, and the lateness is recorded
    assert max(e["written"] - e["due"] for e in slow) > 0.3


def test_generator_records_are_seeded():
    a = gen.AuditSource(5).lines(50, 123)
    assert a == gen.AuditSource(5).lines(50, 123)
    assert a != gen.AuditSource(6).lines(50, 123)
    assert a[0].startswith('"0","u') and a[0].count('","') == 6


# --- correctness comparators -------------------------------------------------------

def test_frame_comparator_catches_injected_wrong_row():
    want = pd.DataFrame({"k": [1, 2, 3], "v": [10, 20, 30]})
    got = want.iloc[::-1][["v", "k"]].copy()
    assert batch.compare_frames(got, want) is None
    got.iloc[0, 0] = 31
    assert batch.compare_frames(got, want) is not None
    assert batch.compare_frames(want.astype({"v": float}), want) is not None
    assert batch.compare_frames(want.iloc[:2], want) is not None


def _events():
    return [(0, "u1", "Delete", 1_000), (1, "u1", "Delete", 4_000),
            (2, "u2", "Delete", 4_500), (3, "u1", "Modify", 6_000),
            (4, "u2", "Delete", 20_000), (5, "u1", "Delete", 12_000)]


def test_stream_comparators_catch_injected_wrong_row():
    events = _events()
    windows = stream.expected_windows(events)
    assert windows[0] == (4, 1_000, 6_000)       # [0, 10 s)
    assert windows[-5_000] == (3, 1_000, 4_500)  # [-5 s, 5 s)
    sink = stream.Sink("max_ts_ms")
    for start, (cnt, lo, hi) in windows.items():
        sink.rows.append((0, {"window_start_ms": start, "cnt": cnt,
                              "min_ts_ms": lo, "max_ts_ms": hi}))
    assert stream.window_mismatch(sink, events) is None
    bad = dict(sink.rows[0][1], cnt=sink.rows[0][1]["cnt"] + 1)
    sink.rows.append((1, bad))
    assert stream.window_mismatch(sink, events) is not None

    alerts = stream.expected_alerts(events)
    assert alerts == [("u1", 4_000, 3_000), ("u1", 12_000, 8_000)]
    sink = stream.Sink("ts_ms")
    sink.rows = [(0, {"user_key": u, "ts_ms": t, "diff_ms": d}) for u, t, d in alerts]
    assert stream.alert_mismatch(sink, events) is None
    sink.rows.append((1, {"user_key": "u2", "ts_ms": 20_000, "diff_ms": 15_500}))
    assert stream.alert_mismatch(sink, events) is not None


def test_backlog_series_counts_files_not_yet_taken():
    log = [{"written": 10.0 + 0.1 * k} for k in range(10)]
    prog = [{"timestamp": "1970-01-01T00:00:10.250Z", "numInputRows": 30},
            {"timestamp": "1970-01-01T00:00:10.950Z", "numInputRows": 70}]
    assert [b for _, b in stream.backlog_series(prog, log, 10)] == [3, 7]


# --- the metric lists and BENCHMARK.json agree ----------------------------------------

def test_benchmark_json_lists_the_printed_metrics():
    spec = json.loads((ROOT / "BENCHMARK.json").read_text())
    assert {m["name"]: m["unit"] for m in spec["end_to_end"]} == END_TO_END
    assert {m["name"]: m["unit"] for m in spec["per_layer"]} == PER_LAYER
    assert len(PER_LAYER) <= 128
    assert [w["name"] for w in spec["workloads"]] == ["batch_floor", "stream_audit"]


@pytest.mark.parametrize("missing", ["perfbench/data/sf0.01"])
def test_missing_input_fails_loudly(tmp_path, missing):
    with pytest.raises(common.BenchError):
        common.check_tables(tmp_path / missing)
