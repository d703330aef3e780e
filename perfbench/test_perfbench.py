"""Tests of the benchmark itself (no Spark needed).

Run from the root of a checkout: ``python3 -m pytest perfbench -q``.
"""

from __future__ import annotations

import time

import pytest

import datagen
import model
import run
import stats
import workloads
from spans import NullTracer, Tracer

SPEC = run.SPEC


def test_same_seed_same_inputs_other_seed_other_inputs():
    def inputs(seed):
        return (
            datagen.ship_windows(seed, 64, 4),
            datagen.change_sets(seed, 16, 500, new_leaves=5, renames=4),
            datagen.lineitem_table(seed, 2_000, 100),
            datagen.part_table(seed, 100),
            datagen.geo_tables(seed, 500)["customer"],
        )

    a, b, c = inputs(7), inputs(7), inputs(8)
    assert a[0] == b[0] and a[1] == b[1]
    assert all(x.equals(y) for x, y in zip(a[2:], b[2:]))
    assert a[0] != c[0] and a[1] != c[1]
    assert not any(x.equals(y) for x, y in zip(a[2:], c[2:]))


def test_every_round_of_windows_spans_5_to_100_percent():
    w = datagen.ship_windows(3, 30, 3)
    for r in range(10):
        shares = sorted((hi - lo).days / datagen.SHIP_DAYS for lo, hi in w[3 * r : 3 * r + 3])
        assert shares == pytest.approx([0.20833, 0.525, 0.84167], abs=0.001)


def test_tail_needs_ten_samples_beyond_it():
    assert stats.min_samples_for_tail(90) == 100
    assert stats.min_samples_for_tail(75) == 40
    assert stats.tail_percentile([float(x) for x in range(99)], 90) is None
    xs = [float(x) for x in range(100)]
    p90 = stats.tail_percentile(xs, 90)
    assert p90 == 89.0 and sum(x > p90 for x in xs) == 10


def test_closure_model_and_diff():
    rows = [
        ("r", None, "R", "T", None),
        ("a", None, "A", "L", "r"),
        ("b", 1, "B", "L", "a"),
        ("o", 2, "O", "L", "missing"),
    ]
    c = model.closure(rows)
    assert set(c) == {("r", "r"), ("a", "a"), ("b", "b"), ("r", "a"), ("r", "b"), ("a", "b")}
    assert c[("r", "b")] == (2, 1, 3, False, True, "R", "B")
    got = [k + v for k, v in c.items()]
    assert model.diff(c, got) is None
    assert "duplicate" in model.diff(c, got + got[:1])
    assert model.diff(c, got[1:]).startswith("pair sets differ")
    moved = model.closure(model.moved(rows, "b", "r"))
    assert ("a", "b") not in moved and moved[("r", "b")][0] == 1
    assert set(model.closure(model.removed(rows, "a"))) == {("r", "r")}


class _FakeWorkload:
    """Op 1 raises, op 2 returns a wrong result; the rest are fine."""

    round_ops = 1

    def op(self, i):
        if i == 1:
            raise RuntimeError("injected")
        return 0.5, {"collect": 0.5}, ["wrong" if i == 2 else "ok"]

    def check(self, i, out):
        return None if out == ["ok"] else "injected mismatch"

    def rows(self, i, out):
        return 10


def _loop(seconds, round_ops=1):
    """Run the timed and check phases on a clock that ticks once per read,
    so the loop runs one op per "second"."""
    clock = iter(range(10_000))
    wl = _FakeWorkload()
    wl.round_ops = round_ops
    with pytest.MonkeyPatch.context() as mp:
        mp.setattr(run.time, "perf_counter", lambda: float(next(clock)))
        records, wall = run.timed_phase(wl, seconds, NullTracer(), lambda: None)
    run.check_phase(wl, records, NullTracer())
    return records, wall


def test_timed_phase_ends_on_whole_rounds():
    assert len(_loop(5)[0]) == 5
    assert len(_loop(5, round_ops=4)[0]) == 8


def test_injected_failures_count_in_failed_frac():
    records, wall = _loop(5)
    assert len(records) == 5
    metrics, extra = run.end_to_end(records, wall, 1.0, 100.0)
    assert extra["failed_frac"] == pytest.approx(2 / 5)
    assert extra["samples"] == 3
    assert metrics["ops_per_s"][0] == pytest.approx(3 / wall)
    assert [r["i"] for r in records if "error" in r] == [1, 2]


def test_printed_metrics_match_benchmark_json():
    records, wall = _loop(5)
    metrics, _ = run.end_to_end(records, wall, 1.0, 100.0)
    assert {k: u for k, (_, u) in metrics.items()} == {
        m["name"]: m["unit"] for m in SPEC["end_to_end"]
    }
    reps = [{"start": 1.0, "load": 1.0, "build": 1.0, "materialize": 1.0}]
    counters = {"probes": 0, "hits": 0, "memo": 0, "py_cpu": 0.0, "jvm_cpu": 0.0,
                "gc": 0.0, "rdds": 0}
    layer = run.per_layer(records, reps, counters, counters, Tracer(), 0.0)
    assert {k: u for k, (_, u) in layer.items()} == {
        m["name"]: m["unit"] for m in SPEC["per_layer"]
    }
    assert {w["name"] for w in SPEC["workloads"]} == set(workloads.WORKLOADS)


def test_self_time_subtracts_children():
    t = Tracer()
    with t.span("op", "bench"):
        with t.span("call", "rollup"):
            time.sleep(0.01)
    s = t.self_time(t.spans)
    assert s["rollup"] >= 0.01
    assert 0 <= s["bench"] < s["rollup"]
