"""Pure helpers of the benchmark: statistics, input generation from a
seed, reference results, metric naming and process memory.

Nothing here imports Spark, so the unit tests run without a JVM.
"""

from __future__ import annotations

import json
import math
import os
import statistics
import threading
import time

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
import pyarrow.parquet as pq

CITIES = [
    "Bangalore", "Chennai", "Delhi", "Hyderabad", "Kolkata",
    "Mumbai", "Pune", "Ahmedabad", "Jaipur", "Lucknow",
]
# Event clock of the generated rides: 2024-01-01T00:00:00Z.
EVENT_EPOCH_S = 1_704_067_200
TAIL_LADDER = (99.9, 99.0, 95.0, 90.0, 75.0, 50.0)


# -- statistics ---------------------------------------------------------------

def percentile(values, p: float) -> float:
    """Linear-interpolated percentile ``p`` (0-100) of ``values``."""
    xs = sorted(values)
    if not xs:
        raise ValueError("percentile of no samples")
    pos = (len(xs) - 1) * p / 100.0
    lo = math.floor(pos)
    hi = min(lo + 1, len(xs) - 1)
    return xs[lo] + (xs[hi] - xs[lo]) * (pos - lo)


def tail_percentile(values, min_beyond: int = 10):
    """The highest percentile of ``TAIL_LADDER`` that has at least
    ``min_beyond`` samples above it, as ``(percentile, value)``; None
    when the sample is too small for any of them."""
    n = len(values)
    for p in TAIL_LADDER:
        if round(n * (100.0 - p) / 100.0, 9) >= min_beyond:
            return p, percentile(values, p)
    return None


def median(values) -> float:
    return statistics.median(values)


def first_due(wall_s: float, lead_s: float, trigger_s: float, file_s: float) -> float:
    """Wall time at which the first measured file of an open-loop stream
    is due: at least ``lead_s`` (plus 0.2 s to start the producer) after
    ``wall_s``, and half a file interval ``file_s`` after a multiple of
    ``trigger_s``, when a processingTime trigger lists the directory.
    Files due every ``file_s`` from then on never race a trigger."""
    return math.ceil((wall_s + 0.2 + lead_s) / trigger_s) * trigger_s + file_s / 2


# -- metric naming ------------------------------------------------------------

def load_spec(path: str) -> dict:
    with open(path) as fh:
        return json.load(fh)


def result_metrics(spec: dict, values: dict, traced: bool) -> dict:
    """The result line's ``metrics``: every per-layer metric of ``spec``
    when ``traced`` (0 for a layer the workload does not run), else
    every end-to-end metric. A measured name the spec does not declare
    is an error, never dropped silently."""
    declared = spec["per_layer"] if traced else spec["end_to_end"]
    names = {m["name"] for m in declared}
    unknown = sorted(set(values) - names)
    if unknown:
        raise KeyError(f"metrics not declared in BENCHMARK.json: {unknown}")
    return {
        m["name"]: {"value": float(values.get(m["name"], 0.0)), "unit": m["unit"]}
        for m in declared
    }


# -- machine ------------------------------------------------------------------

def cpu_steal() -> tuple[int, int]:
    """(steal, total) CPU ticks of the machine so far, from /proc/stat."""
    with open("/proc/stat") as fh:
        ticks = [int(x) for x in fh.readline().split()[1:]]
    return ticks[7], sum(ticks)


def _rss_bytes(pid: int) -> int:
    try:
        with open(f"/proc/{pid}/statm") as fh:
            return int(fh.read().split()[1]) * os.sysconf("SC_PAGE_SIZE")
    except (FileNotFoundError, ProcessLookupError, IndexError):
        return 0


def _self_and_children(root: int) -> list[int]:
    out = [root]
    for name in os.listdir("/proc"):
        if not name.isdigit():
            continue
        try:
            with open(f"/proc/{name}/stat") as fh:
                stat = fh.read()
        except (FileNotFoundError, ProcessLookupError):
            continue
        if int(stat[stat.rindex(")") + 2 :].split()[1]) == root:
            out.append(int(name))
    return out


class PeakRss:
    """Samples the resident memory of this process plus its direct
    children (the Spark JVM) every ``interval_s``; ``peak_mb`` is the
    largest sum seen. Python workers forked by the JVM are left out:
    they share most pages with their parent, and RSS would count those
    pages once per worker. Used as a context manager."""

    def __init__(self, interval_s: float = 0.1) -> None:
        self.interval_s = interval_s
        self.peak = 0
        self._stop = threading.Event()
        self._thread = threading.Thread(target=self._loop, daemon=True)

    def _loop(self) -> None:
        pids: list[int] = []
        last_scan = 0.0
        while not self._stop.is_set():
            now = time.monotonic()
            if now - last_scan > 1.0:
                pids = _self_and_children(os.getpid())
                last_scan = now
            self.peak = max(self.peak, sum(_rss_bytes(p) for p in pids))
            self._stop.wait(self.interval_s)

    def __enter__(self) -> "PeakRss":
        self._thread.start()
        return self

    def __exit__(self, *exc) -> None:
        self._stop.set()
        self._thread.join(timeout=5)

    @property
    def peak_mb(self) -> float:
        return self.peak / 2**20


# -- generated inputs ---------------------------------------------------------

def rng_for(seed: int, stream: str) -> np.random.Generator:
    """Independent, reproducible random stream per (seed, purpose)."""
    return np.random.default_rng([seed, sum(map(ord, stream)) * 7919 + len(stream)])


def events_table(
    rng: np.random.Generator,
    first_id: int,
    n: int,
    start_s: float,
    span_s: float,
    late_share: float = 0.0,
    max_late_s: float = 0.0,
) -> pa.Table:
    """``n`` ride events in the engine's ``events`` schema (``event_type``
    carries the city, ``value`` the fare) with millisecond event times
    spread over ``[start_s, start_s + span_s)``. A ``late_share`` of the
    rows is moved up to ``max_late_s`` earlier, i.e. out of order."""
    ms = rng.integers(0, int(span_s * 1000), n) + int(start_s * 1000)
    if late_share:
        late = rng.random(n) < late_share
        ms = ms - late * rng.integers(0, int(max_late_s * 1000) + 1, n)
    return pa.table(
        {
            "event_id": pa.array(np.arange(first_id, first_id + n, dtype=np.int64)),
            "ts": pa.array(ms * 1000, pa.timestamp("us")),
            "user_id": pa.array(rng.integers(0, 50_000, n)),
            "event_type": pa.array(np.array(CITIES)[rng.integers(0, len(CITIES), n)]),
            "value": pa.array(rng.integers(250, 12_000, n) / 100.0),
        }
    )


def city_metrics_reference(events: pa.Table) -> dict:
    """Exact batch result of the streaming aggregation over ``events``:
    (city, window_start µs) -> (total_trips, average_fare) with the
    engine's exact-cents half-up average."""
    us = events["ts"].cast(pa.int64()).to_numpy()
    frame = pd.DataFrame(
        {
            "c": events["event_type"].to_numpy(zero_copy_only=False),
            "w": us // 60_000_000 * 60_000_000,
            "cents": np.round(events["value"].to_numpy() * 100).astype(np.int64),
        }
    )
    agg = frame.groupby(["c", "w"])["cents"].agg(["count", "sum"])
    out = {}
    for (c, w), n, s in zip(agg.index, agg["count"], agg["sum"]):
        out[(c, int(w))] = (int(n), ((2 * int(s) + int(n)) // (2 * int(n))) / 100.0)
    return out


def ride_wire_table(rng: np.random.Generator, n: int, start_s: float, span_s: float) -> pa.Table:
    """``n`` ride events in the reference producer's Kafka wire format:
    one binary ``value`` column holding the ride JSON."""
    ms = rng.integers(0, int(span_s * 1000), n) + int(start_s * 1000)
    secs = ms // 1000
    fmt = "%Y-%m-%dT%H:%M:%S"

    def iso(seconds: np.ndarray) -> pa.Array:
        # format each distinct second once; rides share seconds heavily
        uniq, idx = np.unique(seconds, return_inverse=True)
        return pc.take(pc.strftime(pa.array(uniq, pa.timestamp("s")), fmt), pa.array(idx))

    fare = rng.integers(250, 12_000, n)

    def text(values) -> pa.Array:
        return pc.cast(pa.array(values), pa.string())

    def coord(scale: int) -> pa.Array:
        return text(rng.integers(0, scale * 1000, n) / 1000)

    parts = [
        '{"trip_id":"t-', text(np.arange(n)),
        '","driver_id":"d-', text(rng.integers(0, 5_000, n)),
        '","customer_id":"c-', text(rng.integers(0, 50_000, n)),
        '","pickup_datetime":"', iso(secs),
        '","dropoff_datetime":"', iso(secs + 300 + np.arange(n) % 3600),
        '","pickup_location":{"latitude":"', coord(90),
        '","longitude":"', coord(180),
        '"},"dropoff_location":{"latitude":"', coord(90),
        '","longitude":"', coord(180),
        '"},"fare_amount":', text(fare / 100),
        ',"tip_amount":', text(fare // 10 / 100),
        ',"city":"', pa.array(np.array(CITIES)[rng.integers(0, len(CITIES), n)]),
        '","event_timestamp":', text(ms / 1000),
        "}",
    ]
    json_col = pc.binary_join_element_wise(*parts, "")
    return pa.table({"value": pc.cast(json_col, pa.binary())})


def write_parts(table: pa.Table, directory: str, parts: int, prefix: str = "part") -> list[str]:
    """Split ``table`` into ``parts`` parquet files under ``directory``."""
    os.makedirs(directory, exist_ok=True)
    step = math.ceil(table.num_rows / parts)
    paths = []
    for i in range(parts):
        path = os.path.join(directory, f"{prefix}-{i:04d}.parquet")
        pq.write_table(table.slice(i * step, step), path)
        paths.append(path)
    return paths
