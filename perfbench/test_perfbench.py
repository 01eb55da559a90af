"""Unit tests of the benchmark's own helpers (no Spark session needed).

    python3 -m pytest perfbench -q
"""

from __future__ import annotations

import json
import os
import re

import numpy as np
import pytest

import common as c

SPEC = c.load_spec(os.path.join(os.path.dirname(os.path.dirname(os.path.abspath(__file__))), "BENCHMARK.json"))
UNIT_RE = re.compile(r"^[A-Za-z0-9_/%.-]{1,16}$")


# -- tail percentile ----------------------------------------------------------

@pytest.mark.parametrize(
    "n, expected",
    [(19, None), (20, 50.0), (39, 50.0), (40, 75.0), (99, 75.0), (100, 90.0),
     (199, 90.0), (200, 95.0), (1000, 99.0), (10_000, 99.9)],
)
def test_tail_is_highest_percentile_with_ten_samples_beyond(n, expected):
    tail = c.tail_percentile(list(range(n)))
    if expected is None:
        assert tail is None
        return
    p, value = tail
    assert p == expected
    assert sum(1 for x in range(n) if x > value) >= 10
    # the next rung up the ladder would leave fewer than ten beyond it
    higher = [q for q in c.TAIL_LADDER if q > p]
    if higher:
        assert n * (100 - min(higher)) / 100 < 10


def test_percentile_interpolates_and_matches_numpy():
    xs = [5.0, 1.0, 9.0, 3.0, 7.0]
    for p in (0, 25, 50, 90, 100):
        assert c.percentile(xs, p) == pytest.approx(np.percentile(xs, p))


# -- generated inputs ---------------------------------------------------------

def _events(seed):
    return c.events_table(c.rng_for(seed, "t"), 0, 2_000, c.EVENT_EPOCH_S, 60, 0.05, 300)


def _wire(seed):
    return c.ride_wire_table(c.rng_for(seed, "w"), 2_000, c.EVENT_EPOCH_S, 3_600)


@pytest.mark.parametrize("make", [_events, _wire])
def test_inputs_repeat_for_a_seed_and_differ_across_seeds(make):
    assert make(7).equals(make(7))
    assert not make(7).equals(make(8))


def test_streams_of_one_seed_are_independent():
    a = c.rng_for(3, "stream_ingest").integers(0, 1 << 30, 8)
    b = c.rng_for(3, "table_reads").integers(0, 1 << 30, 8)
    assert not np.array_equal(a, b)


def test_wire_rows_are_valid_json_of_the_reference_schema():
    fields = {"trip_id", "driver_id", "customer_id", "pickup_datetime", "dropoff_datetime",
              "pickup_location", "dropoff_location", "fare_amount", "tip_amount", "city",
              "event_timestamp"}
    for raw in _wire(1)["value"].to_pylist()[:200]:
        row = json.loads(raw)
        assert set(row) == fields
        assert row["city"] in c.CITIES


def test_late_events_stay_inside_the_watermark():
    t = c.events_table(c.rng_for(1, "late"), 0, 10_000, c.EVENT_EPOCH_S + 600, 15, 0.05, 300)
    secs = t["ts"].cast("int64").to_numpy() / 1e6 - c.EVENT_EPOCH_S
    assert secs.min() >= 600 - 300
    assert 0.03 < (secs < 600).mean() < 0.07


def test_reference_uses_exact_half_up_cents():
    import pyarrow as pa

    t = pa.table({
        "ts": pa.array([0, 1, 2], pa.timestamp("us")),
        "event_type": ["a", "a", "a"],
        "value": [0.01, 0.02, 0.02],
    })
    # 5 cents / 3 rides = 1.666.. cents -> 0.02
    assert c.city_metrics_reference(t) == {("a", 0): (3, 0.02)}


# -- open-loop schedule ------------------------------------------------------

@pytest.mark.parametrize("wall", [1_700_000_000.0, 1_700_000_003.99, 1_700_000_001.7])
def test_first_measured_file_is_due_half_a_file_after_a_trigger(wall):
    first = c.first_due(wall, 2.0, 4, 0.25)
    assert first - 2.0 >= wall + 0.2
    assert first - 2.0 < wall + 0.2 + 4
    assert (first - 0.125) % 4 == pytest.approx(0.0)


# -- metric names -------------------------------------------------------------

def test_declared_names_are_unique_and_well_formed():
    names = [m["name"] for m in SPEC["end_to_end"] + SPEC["per_layer"]]
    names += [w["name"] for w in SPEC["workloads"]]
    assert len(names) == len(set(names))
    assert all(re.fullmatch(r"[A-Za-z0-9][A-Za-z0-9_.-]{0,63}", n) for n in names)
    assert all(UNIT_RE.match(m["unit"]) for m in SPEC["end_to_end"] + SPEC["per_layer"])


def test_end_to_end_contract():
    e2e = {m["name"]: m for m in SPEC["end_to_end"]}
    assert e2e["setup_s"]["unit"] == "s" and e2e["setup_s"]["better"] == "lower"
    assert max(m["bound"] for m in e2e.values()) == e2e["setup_s"]["bound"] <= 0.25
    assert all(set(m) == {"name", "unit", "better", "bound"} for m in e2e.values())
    assert all(set(m) == {"name", "unit", "better"} for m in SPEC["per_layer"])


@pytest.mark.parametrize("traced", [False, True])
def test_result_line_carries_exactly_the_declared_metrics(traced):
    declared = SPEC["per_layer"] if traced else SPEC["end_to_end"]
    measured = {declared[0]["name"]: 1.5}
    out = c.result_metrics(SPEC, measured, traced)
    assert list(out) == [m["name"] for m in declared]
    assert out[declared[0]["name"]] == {"value": 1.5, "unit": declared[0]["unit"]}


def test_result_line_refuses_undeclared_metrics():
    with pytest.raises(KeyError):
        c.result_metrics(SPEC, {"no.such_metric": 1.0}, traced=True)


def test_workloads_emit_only_declared_layer_names():
    """Every per-layer name written in the workload code is declared."""
    here = os.path.dirname(os.path.abspath(__file__))
    src = open(os.path.join(here, "workloads.py")).read() + open(os.path.join(here, "run.py")).read()
    literal = set(re.findall(r'(?:layers\[|_layer_stats\(res, )"([a-z_.]+)"', src))
    kinds = re.search(r"READ_KINDS = \(([^)]*)\)", src).group(1)
    for kind in re.findall(r'"([a-z]+)"', kinds):
        literal |= {f"sink.{kind}_plan_ms", f"sink.{kind}_exec_ms"}
    declared = {m["name"] for m in SPEC["per_layer"]}
    assert literal and literal <= declared
