"""The benchmark's own tests: printed metric names and units match
BENCHMARK.json, the generators are deterministic per seed, and the
correctness checks flag a planted wrong row. No Spark session needed.

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import time

import pandas as pd
import pyarrow.parquet as pq
import pytest

from perfbench import run
from perfbench.gen import EventSchedule, make_tables
from perfbench.measure import Outcome, percentile
from perfbench.oracle import fold_emissions, pane_mismatches, reference_panes, same_result
from perfbench.streamwl import Generator

ROOT = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))


@pytest.fixture(scope="module")
def spec() -> dict:
    with open(os.path.join(ROOT, "BENCHMARK.json")) as f:
        return json.load(f)


def _printed(units: dict) -> dict:
    out = Outcome()
    out.ok()
    lines = run.report({k: 1.5 for k in units}, units, out, {"n": 1})
    return json.loads(lines[-1])


@pytest.mark.parametrize("trace,section", [(0, "end_to_end"), (1, "per_layer")])
def test_printed_metrics_match_benchmark_json(spec, trace, section):
    units = run.PER_LAYER if trace else run.END_TO_END
    result = _printed(units)
    assert set(result) == {"correct", "attempted", "failed", "metrics"}
    printed = {k: v["unit"] for k, v in result["metrics"].items()}
    declared = {m["name"]: m["unit"] for m in spec[section]}
    assert printed == declared


def test_missing_layer_prints_zero():
    out = Outcome()
    out.ok()
    result = json.loads(run.report({}, run.PER_LAYER, out, {})[-1])
    assert all(v["value"] == 0.0 for v in result["metrics"].values())


def test_workloads_match_benchmark_json(spec):
    assert [w["name"] for w in spec["workloads"]] == list(run.WORKLOADS)
    assert spec["command"] == ["python3", "perfbench/run.py"]


def test_tables_deterministic_per_seed():
    a, b, c = make_tables(3, 0.0005), make_tables(3, 0.0005), make_tables(4, 0.0005)
    for name in a:
        pd.testing.assert_frame_equal(a[name], b[name])
    assert not a["lineitem"].equals(c["lineitem"])


def test_event_schedule_deterministic_per_seed():
    s = EventSchedule(seed=5, rate=2_000)
    pd.testing.assert_frame_equal(s.tick(7, 1_000), EventSchedule(seed=5, rate=2_000).tick(7, 1_000))
    assert not s.tick(7, 1_000).equals(EventSchedule(seed=6, rate=2_000).tick(7, 1_000))
    # the origin only shifts timestamps
    shifted = s.tick(7, 1_500)
    assert (shifted["created_ms"] - s.tick(7, 1_000)["created_ms"] == 500).all()
    assert (shifted["user"] == s.tick(7, 1_000)["user"]).all()


def test_event_disorder_stays_inside_watermark():
    df = EventSchedule(seed=1, rate=50_000).tick(0, 0)
    lag_ms = df["created_ms"] - df["ts"].astype("int64") // 1_000
    assert lag_ms.min() >= 0
    assert lag_ms.max() < 2_000  # the stream's watermark delay
    assert (lag_ms > 0).mean() > 0.1


def test_generator_writes_what_it_counts(tmp_path):
    """The generator thread's counters match the files it wrote, and a
    pause writes nothing until resume."""
    gen = Generator(EventSchedule(seed=1, rate=10_000), str(tmp_path), time.time_ns() // 10**6)
    gen.start()
    try:
        time.sleep(0.4)
        gen.pause()
        paused = gen.written()
        time.sleep(0.3)
        assert gen.written() == paused
        gen.resume()
        time.sleep(0.3)
    finally:
        gen.stop()
    assert not gen.is_alive()
    assert gen.error is None
    files = sorted(tmp_path.glob("t*.parquet"))
    assert sum(pq.read_metadata(f).num_rows for f in files) == gen.written() > paused > 0
    assert len(files) == len(gen.ticks) == len(set(gen.ticks))


def _emissions(events: pd.DataFrame) -> pd.DataFrame:
    """What an update-mode sink emits for ``events`` in two batches, with
    the second batch replayed as after a restart."""
    half = len(events) // 2
    first = reference_panes(events.iloc[:half], 1_000)
    both = reference_panes(events, 1_000)
    return pd.concat([first, both, both], ignore_index=True)


def test_fold_matches_reference_under_replay():
    events = pd.concat([EventSchedule(seed=2, rate=5_000).tick(k, 0) for k in range(20)])
    emitted = _emissions(events)
    assert pane_mismatches(fold_emissions(emitted), reference_panes(events, 1_000)) == 0


@pytest.mark.parametrize("plant", ["wrong_value", "missing_pane", "extra_pane"])
def test_fold_flags_planted_wrong_row(plant):
    events = pd.concat([EventSchedule(seed=2, rate=5_000).tick(k, 0) for k in range(20)])
    folded = fold_emissions(_emissions(events))
    if plant == "wrong_value":
        folded.loc[3, "total"] += 1
    elif plant == "missing_pane":
        folded = folded.drop(index=3)
    else:
        extra = folded.iloc[[0]].assign(user=10_000)
        folded = pd.concat([folded, extra], ignore_index=True)
    assert pane_mismatches(folded, reference_panes(events, 1_000)) == 1


def test_oracle_hash_is_order_insensitive_and_flags_planted_row():
    t = make_tables(1, 0.0005)["lineitem"]
    shuffled = t.sample(frac=1.0, random_state=0)[list(reversed(t.columns))]
    assert same_result(shuffled, t)
    planted = t.copy()
    planted.loc[5, "l_extendedprice"] += 0.01
    assert not same_result(planted, t)
    assert not same_result(t.iloc[1:], t)


def test_percentile_nearest_rank():
    xs = list(range(1, 101))
    assert percentile(xs, 50) == 50
    assert percentile(xs, 99) == 99
    assert percentile([7.0], 99) == 7.0
    assert percentile([], 99) == 0.0
