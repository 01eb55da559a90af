"""The benchmark's workloads. Each drives the engine only through its
public functions, generates its inputs from the seed, checks every
output and returns a ``Result``."""

from __future__ import annotations

import datetime as dt
import math
import os
import threading
import time
from dataclasses import dataclass, field

import duckdb
import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq
from pyspark.sql import functions as F
from pyspark.sql import types as T

from real_time_ride_hailing_data_pipeline_spark import catalog
from real_time_ride_hailing_data_pipeline_spark.operators import ride_pipeline as rp
from real_time_ride_hailing_data_pipeline_spark.streaming import job as sj
from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import ParquetUpsertSink

import common as c

SETUP_REPS = 3


@dataclass
class Result:
    attempted: int = 0
    failed: int = 0
    wrong: int = 0
    setup_s: list = field(default_factory=list)
    # printed metric name -> (value, unit, samples, note)
    report: dict = field(default_factory=dict)
    # gated end-to-end metric name -> value
    e2e: dict = field(default_factory=dict)
    # per-layer metric name -> value
    layers: dict = field(default_factory=dict)

    def timing(self, name: str, samples_ms: list, note: str = "") -> float:
        """Report the median and tail of ``samples_ms`` under ``name``."""
        p50 = c.median(samples_ms)
        self.report[f"{name}_p50_ms"] = (p50, "ms", len(samples_ms), note)
        tail = c.tail_percentile(samples_ms)
        if tail is not None:
            self.report[f"{name}_tail_ms"] = (tail[1], "ms", len(samples_ms), f"p{tail[0]:g}")
        return p50


def _timed_setup(engine, res: Result, prepare) -> object:
    """Set up ``SETUP_REPS`` times from a fresh session; each rep is
    timed from session start until ``prepare(rep)`` returns. The last
    rep's state is what the workload measures."""
    state = None
    for rep in range(SETUP_REPS):
        t0 = time.perf_counter()
        with engine.tracer.span("setup", group=f"setup-{rep}"):
            engine.start()
            state = prepare(rep)
        res.setup_s.append(time.perf_counter() - t0)
    return state


def _layer_stats(res: Result, prefix: str, samples: list, tail: bool = False) -> None:
    res.layers[prefix] = c.median(samples) if samples else 0.0
    if tail:
        t = c.tail_percentile(samples) if samples else None
        res.layers[prefix.replace("_ms", "_tail_ms")] = (
            t[1] if t else (max(samples) if samples else 0.0)
        )


def _parquet_files(path: str) -> dict[str, int]:
    out = {}
    for root, _, files in os.walk(path):
        for f in files:
            if f.endswith(".parquet"):
                p = os.path.join(root, f)
                out[p] = os.path.getsize(p)
    return out


class _CommitRecorder:
    """The ``foreachBatch`` function of a measured query: calls
    ``ParquetUpsertSink.write_batch`` and records when each epoch's
    commit ended. Traced, it also records the commit's span, Spark
    jobs/stages and the files it wrote."""

    def __init__(self, engine, sink: ParquetUpsertSink) -> None:
        self.engine = engine
        self.sink = sink
        self.commit_end: dict[int, float] = {}
        self.write_ms: dict[int, float] = {}
        self.per_commit: dict[int, dict] = {}
        self.committed = threading.Condition()

    def __call__(self, batch_df, epoch_id: int) -> None:
        traced = self.engine.traced
        tag = f"perfbench-commit-{epoch_id}"
        before = _parquet_files(self.sink.path) if traced else None
        t0 = time.perf_counter()
        if traced:
            with self.engine.tracer.span("sink.write_batch", group=f"batch-{epoch_id}"):
                with self.engine.jobs.tagged(tag):
                    self.sink.write_batch(batch_df, epoch_id)
        else:
            self.sink.write_batch(batch_df, epoch_id)
        t1 = time.perf_counter()
        if traced:
            after = _parquet_files(self.sink.path)
            new = {p: s for p, s in after.items() if p not in before}
            jobs, stages, _ = self.engine.jobs.counts(tag)
            self.per_commit[epoch_id] = {
                "jobs": jobs,
                "stages": stages,
                "files": len(new),
                "bytes": sum(new.values()),
                "table_files": len(after),
            }
        with self.committed:
            self.write_ms[epoch_id] = (t1 - t0) * 1000
            self.commit_end[epoch_id] = t1
            self.committed.notify_all()

    def wait_for(self, epoch_id: int, timeout_s: float) -> bool:
        with self.committed:
            return self.committed.wait_for(lambda: epoch_id in self.commit_end, timeout_s)


# -- stream_ingest ------------------------------------------------------------

FILES_PER_S = 4
EVENTS_PER_FILE = 5_000
# processingTime trigger interval. Spark fires it at wall-clock
# multiples of the interval, and the producer is phased so that every
# trigger takes exactly the files due in the interval before it: each
# micro-batch has the same size, whatever the last one cost.
TRIGGER_S = 4
FILES_PER_TRIGGER = TRIGGER_S * FILES_PER_S
# Files (two seconds of them) the query takes, checked but unmeasured,
# between set-up and measurement, so the JIT has compiled its path.
WARMUP_FILES = 2 * FILES_PER_S
EVENT_CLOCK_SPEEDUP = 60
LATE_SHARE = 0.05
MAX_LATE_S = 300  # event-time seconds; inside the 10-minute watermark
FRESHNESS_LIMIT_MS = 10_000


def stream_ingest(engine, seed: int, seconds: float) -> Result:
    res = Result()
    rng = c.rng_for(seed, "stream_ingest")
    n_warm = WARMUP_FILES
    n_files = n_warm + math.ceil(seconds / TRIGGER_S) * FILES_PER_TRIGGER
    span = EVENT_CLOCK_SPEEDUP / FILES_PER_S
    files = [
        c.events_table(rng, i * EVENTS_PER_FILE, EVENTS_PER_FILE,
                       c.EVENT_EPOCH_S + i * span, span, LATE_SHARE, MAX_LATE_S)
        for i in range(n_files + 1)  # file 0 seeds the schema and the setup
    ]
    reference = c.city_metrics_reference(pa.concat_tables(files))

    def release(table: pa.Table, src: str, name: str) -> None:
        stamped = table.append_column("created_s", pa.array(np.full(table.num_rows, time.time())))
        tmp = os.path.join(src, f".{name}.tmp")
        pq.write_table(stamped, tmp)
        os.rename(tmp, os.path.join(src, name))  # the file source skips dot files

    def prepare(rep: int):
        base = os.path.join(engine.work, f"stream-{rep}")
        src = os.path.join(base, "src")
        os.makedirs(src)
        release(files[0], src, "f-000000.parquet")
        spark = engine.spark
        sink = ParquetUpsertSink(os.path.join(base, "sink"), key_cols=("event_type", "window_start"))
        recorder = _CommitRecorder(engine, sink)
        metrics = sj.city_metrics_update_stream(sj.events_parquet_stream(spark, src))
        prev = spark.conf.get("spark.sql.shuffle.partitions")
        # the state-partition pin of run_city_metrics_replay
        spark.conf.set("spark.sql.shuffle.partitions", sj._STREAM_SHUFFLE_PARTITIONS)
        try:
            query = (
                metrics.writeStream.outputMode("update")
                .foreachBatch(recorder)
                .option("checkpointLocation", os.path.join(base, "checkpoint"))
                .trigger(processingTime=f"{TRIGGER_S} seconds")
                .start()
            )
        finally:
            spark.conf.set("spark.sql.shuffle.partitions", prev)
        if not recorder.wait_for(0, 120):
            raise RuntimeError("the stream did not commit its first batch")
        return src, sink, recorder, query

    src, sink, recorder, query = _timed_setup(engine, res, prepare)

    # Open loop: file i is due at t0 + (i-1)/rate whatever the query
    # does. The first measured file is due half a file interval after a
    # trigger time, so each measured trigger takes exactly the files due
    # in the interval before it and none is due as it lists the
    # directory. The WARMUP_FILES files due before it warm the query up.
    due = {}
    released = {}
    wall = time.time()
    warm_s = n_warm / FILES_PER_S
    first = c.first_due(wall, warm_s, TRIGGER_S, 1 / FILES_PER_S)
    t0 = time.perf_counter() + (first - wall) - warm_s

    def producer() -> None:
        for i in range(1, n_files + 1):
            due[i] = t0 + (i - 1) / FILES_PER_S
            wait = due[i] - time.perf_counter()
            if wait > 0:
                time.sleep(wait)
            release(files[i], src, f"f-{i:06d}.parquet")
            released[i] = time.perf_counter()

    with engine.tracer.span("producer"):
        thread = threading.Thread(target=producer, daemon=True)
        thread.start()
        thread.join(timeout=(n_files / FILES_PER_S) + 60)
    total_rows = (n_files + 1) * EVENTS_PER_FILE
    deadline = time.perf_counter() + 60
    while time.perf_counter() < deadline:
        batches = engine.progress.batches()
        done = sum(b["rows"] for b in batches)
        if done >= total_rows and all(b["batch"] in recorder.commit_end for b in batches):
            break
        time.sleep(0.05)
    query.stop()
    batches = [b for b in engine.progress.batches() if b["batch"] in recorder.commit_end]

    # Map each file to the batch that committed it: batches take files
    # in arrival order, so cumulative input rows locate every file.
    file_batch = {}
    cum = 0
    for b in batches:
        cum += b["rows"]
        for i in range(len(file_batch), min(cum // EVENTS_PER_FILE, n_files + 1)):
            file_batch[i] = b["batch"]
    fresh = []
    late = [(released[i] - due[i]) * 1000 for i in released]
    for i in range(1, n_files + 1):
        res.attempted += 1
        if i not in file_batch:
            res.failed += 1
            continue
        ms = (recorder.commit_end[file_batch[i]] - due[i]) * 1000
        if ms > FRESHNESS_LIMIT_MS:
            res.failed += 1
        if i > n_warm:
            fresh.append(ms)

    dropped = sum(b["dropped"] for b in batches)
    res.attempted += 1
    if _city_metrics(sink.read(engine.spark).collect()) != reference or dropped:
        res.wrong += 1
        res.failed += 1

    first = file_batch.get(n_warm + 1)
    measured = [b for b in batches if first is not None and b["batch"] >= first]
    committed = sum(1 for i in file_batch if i > n_warm) * EVENTS_PER_FILE
    events_per_s = committed / (max(recorder.commit_end.values()) - due[n_warm + 1])
    res.e2e["latency_p50_ms"] = res.timing("freshness", fresh, f"limit {FRESHNESS_LIMIT_MS} ms")
    res.timing("trigger", [b["duration"]["triggerExecution"] for b in measured])
    res.report["events_per_s"] = (events_per_s, "1/s", len(fresh),
                                  "committed events / span from first due file to last commit")
    res.layers["sources.generator_late_ms"] = max(late)
    backlog = []
    for b in measured:
        end = recorder.commit_end[b["batch"]]
        consumed = sum(1 for bb in file_batch.values() if bb <= b["batch"])
        backlog.append(sum(1 for t in released.values() if t <= end) + 1 - consumed)
    res.layers["sources.backlog_files"] = max(backlog) if backlog else 0
    _stream_layers(res, measured, recorder)
    if engine.traced:
        _replay_layers(engine, res, src, reference)
    return res


def _city_metrics(rows) -> dict:
    return {
        (r["event_type"], _us(r["window_start"])): (r["total_trips"], r["average_fare"])
        for r in rows
    }


def _replay_layers(engine, res: Result, src: str, reference: dict) -> None:
    """The job module's own entry point, ``run_city_metrics_replay``,
    over every file the stream consumed (one availableNow micro-batch on
    a fresh checkpoint and sink), against the same aggregation run as a
    batch job. Both results are checked."""
    spark = engine.spark
    base = os.path.join(engine.work, "replay")
    t0 = time.perf_counter()
    with engine.tracer.span("streaming.replay", group="replay"):
        sink = sj.run_city_metrics_replay(
            spark, src, os.path.join(base, "sink"), os.path.join(base, "checkpoint")
        )
    t1 = time.perf_counter()
    with engine.tracer.span("streaming.batch_equivalent", group="replay"):
        events = catalog.normalize_event_time(spark.read.parquet(src))
        batch = sj.city_metrics_update_stream(events).collect()
    t2 = time.perf_counter()
    for rows in (sink.read(spark).collect(), batch):
        res.attempted += 1
        if _city_metrics(rows) != reference:
            res.failed += 1
            res.wrong += 1
    res.layers["streaming.replay_ms"] = (t1 - t0) * 1000
    res.layers["streaming.batch_equivalent_ms"] = (t2 - t1) * 1000


def _stream_layers(res: Result, batches: list, recorder: _CommitRecorder) -> None:
    def dur(key: str) -> list:
        return [b["duration"].get(key, 0) for b in batches]

    trig, add = dur("triggerExecution"), dur("addBatch")
    _layer_stats(res, "sources.latest_offset_ms", dur("latestOffset"))
    _layer_stats(res, "sources.get_batch_ms", dur("getBatch"))
    _layer_stats(res, "sources.input_rows_per_batch", [b["rows"] for b in batches])
    _layer_stats(res, "streaming.trigger_ms", trig)
    _layer_stats(res, "streaming.add_batch_ms", add)
    _layer_stats(res, "streaming.machinery_ms", [t - a for t, a in zip(trig, add)])
    _layer_stats(res, "streaming.query_planning_ms", dur("queryPlanning"))
    _layer_stats(res, "streaming.wal_commit_ms", dur("walCommit"))
    _layer_stats(res, "streaming.commit_offsets_ms", dur("commitOffsets"))
    named = ("latestOffset", "getBatch", "queryPlanning", "walCommit", "addBatch", "commitOffsets")
    ratios = [sum(b["duration"].get(k, 0) for k in named) / b["duration"]["triggerExecution"]
              for b in batches if b["duration"].get("triggerExecution")]
    _layer_stats(res, "streaming.trigger_accounted_ratio", ratios)
    _layer_stats(res, "streaming.state_rows_total", [b["state_rows"] for b in batches])
    _layer_stats(res, "streaming.state_memory_bytes", [b["state_bytes"] for b in batches])
    _layer_stats(res, "streaming.state_commit_ms", [b["state_commit_ms"] for b in batches])
    res.layers["streaming.rows_dropped_by_watermark"] = sum(b["dropped"] for b in batches)
    res.layers["streaming.batches"] = len(batches)
    ids = [b["batch"] for b in batches]
    _layer_stats(res, "sink.write_batch_ms", [recorder.write_ms[i] for i in ids], tail=True)
    _layer_stats(res, "sink.add_batch_accounted_ratio",
                 [recorder.write_ms[b["batch"]] / b["duration"]["addBatch"]
                  for b in batches if b["duration"].get("addBatch")])
    commits = [(b, recorder.per_commit[b["batch"]]) for b in batches if b["batch"] in recorder.per_commit]
    if commits:
        _layer_stats(res, "sink.jobs_per_commit", [m["jobs"] for _, m in commits])
        _layer_stats(res, "sink.stages_per_commit", [m["stages"] for _, m in commits])
        _layer_stats(res, "sink.files_written_per_commit", [m["files"] for _, m in commits])
        changed = sum(b["updated"] for b, _ in commits)
        res.layers["sink.bytes_written_per_row"] = sum(m["bytes"] for _, m in commits) / max(changed, 1)
        res.layers["sink.table_files"] = commits[-1][1]["table_files"]


def _us(value: dt.datetime) -> int:
    """Microseconds since the epoch of a naive UTC datetime."""
    return (value - dt.datetime(1970, 1, 1)) // dt.timedelta(microseconds=1)


# -- table_reads --------------------------------------------------------------

HISTORY_DAYS = 30
HISTORY_EVENTS = 100_000
HISTORY_FILES = 8
UPDATE_COMMITS = 2
UPDATED_MINUTES = 120  # each update commit rewrites the newest windows...
NEW_MINUTES = 30  # ...and appends this many new ones
METRICS_SCHEMA = T.StructType([
    T.StructField("city", T.StringType()),
    T.StructField("window_start", T.TimestampType()),
    T.StructField("last_updated", T.TimestampType()),
    T.StructField("total_trips", T.LongType()),
    T.StructField("average_fare", T.DoubleType()),
])
READ_KINDS = ("point", "range", "scan", "travel")
# Unmeasured, checked refreshes between set-up and measurement, so the
# JIT has compiled the read path. Counted, not timed: the JIT compiles
# after a number of calls, and the first refreshes after set-up run up
# to 40% slower.
WARMUP_REFRESHES = 8
# The pipeline rounds a float average to cents, which DuckDB's unrounded
# average may differ from by half a cent plus float summation noise.
FARE_TOLERANCE = 0.005 + 1e-6


def _metrics_rows(rng, minutes: np.ndarray) -> dict:
    """city_metrics rows for every city x window starting at ``minutes``
    (minutes since the event epoch): key -> (last_updated µs, trips, fare)."""
    rows = {}
    n = len(minutes) * len(c.CITIES)
    trips = rng.integers(5, 80, n)
    fares = rng.integers(400, 6_000, n) / 100.0
    k = 0
    for m in minutes:
        ws = (c.EVENT_EPOCH_S + int(m) * 60) * 1_000_000
        for city in c.CITIES:
            rows[(city, ws)] = (ws + 60_000_000, int(trips[k]), float(fares[k]))
            k += 1
    return rows


def _rows_frame(spark, rows: dict):
    keys, values = zip(*rows.items())
    frame = pd.DataFrame(
        {
            "city": [k[0] for k in keys],
            "window_start": pd.to_datetime([k[1] for k in keys], unit="us"),
            "last_updated": pd.to_datetime([v[0] for v in values], unit="us"),
            "total_trips": np.array([v[1] for v in values], dtype=np.int64),
            "average_fare": np.array([v[2] for v in values]),
        }
    )
    return spark.createDataFrame(frame, METRICS_SCHEMA)


def _totals(state: dict) -> dict:
    out: dict = {}
    for (city, _), (lu, n, _) in state.items():
        t, last = out.get(city, (0, 0))
        out[city] = (t + n, max(last, lu))
    return out


def _duckdb_reference(src: str) -> dict:
    """The batch pipeline's result computed by DuckDB over the same
    parquet: (city, window start s) -> (trips, unrounded average fare)."""
    con = duckdb.connect()
    try:
        rows = con.execute(
            f"""
            SELECT json_extract_string(j, '$.city'),
                   CAST(floor(CAST(json_extract(j, '$.event_timestamp') AS DOUBLE) / 60) AS BIGINT) * 60,
                   count(json_extract_string(j, '$.trip_id')),
                   avg(CAST(json_extract(j, '$.fare_amount') AS DOUBLE))
            FROM (SELECT decode(value) AS j FROM read_parquet('{src}/*.parquet'))
            GROUP BY 1, 2
            """
        ).fetchall()
    finally:
        con.close()
    return {(city, ws): (n, avg) for city, ws, n, avg in rows}


def _backfill_ok(rows, reference: dict) -> bool:
    got = {}
    for r in rows:
        ws = _us(r["window_start"]) // 1_000_000
        if _us(r["last_updated"]) // 1_000_000 != ws + 60:
            return False
        got[(r["city"], ws)] = (r["total_trips"], r["average_fare"])
    if got.keys() != reference.keys():
        return False
    return all(
        got[k][0] == n and abs(got[k][1] - avg) <= FARE_TOLERANCE
        for k, (n, avg) in reference.items()
    )


def table_reads(engine, seed: int, seconds: float) -> Result:
    """Dashboard reads of a city_metrics table. Set-up backfills the
    history from ride JSON through ``ride_pipeline_batch`` (epoch 0),
    compacts it sorted by window, then applies ``UPDATE_COMMITS``
    upserts of the newest windows."""
    res = Result()
    rng = c.rng_for(seed, "table_reads")
    wire = os.path.join(engine.work, "wire")
    c.write_parts(c.ride_wire_table(rng, HISTORY_EVENTS, c.EVENT_EPOCH_S, HISTORY_DAYS * 86400),
                  wire, HISTORY_FILES)
    reference = _duckdb_reference(wire)
    updates = []
    end = HISTORY_DAYS * 1440
    for _ in range(UPDATE_COMMITS):
        updates.append(_metrics_rows(rng, np.arange(end - UPDATED_MINUTES, end + NEW_MINUTES)))
        end += NEW_MINUTES

    def prepare(rep: int):
        spark = engine.spark
        base = os.path.join(engine.work, f"table-{rep}")
        sink = ParquetUpsertSink(
            os.path.join(base, "city_metrics"),
            key_cols=("city", "window_start"),
            snapshot_dir=os.path.join(base, "snapshots"),
        )
        with engine.tracer.span("ride_pipeline.backfill", group=f"setup-{rep}"):
            sink.write_batch(rp.ride_pipeline_batch(spark.read.parquet(wire)), 0)
        with engine.tracer.span("sink.compact", group=f"setup-{rep}"):
            sink.compact(spark, sort_by="window_start")
        for epoch, rows in enumerate(updates, start=1):
            with engine.tracer.span("sink.write_batch", group=f"setup-{rep}-epoch-{epoch}"):
                sink.write_batch(_rows_frame(spark, rows), epoch)
        return sink

    sink = _timed_setup(engine, res, prepare)
    res.layers["sink.table_files"] = len(_parquet_files(sink.path))
    spark = engine.spark
    # The backfilled epoch, checked against DuckDB, is the base of the
    # generator's bookkeeping of what each epoch holds.
    backfilled = sink.read_at(spark, 0).collect()
    res.attempted += 1
    if not _backfill_ok(backfilled, reference):
        res.failed += 1
        res.wrong += 1
    states = [{
        (r["city"], _us(r["window_start"])): (_us(r["last_updated"]), r["total_trips"], r["average_fare"])
        for r in backfilled
    }]
    for rows in updates:
        states.append({**states[-1], **rows})
    latest = states[-1]
    last_ws = max(ws for _, ws in latest)
    windows = sorted({ws for _, ws in latest})

    def rows_of(df_rows) -> set:
        return {
            (r["city"], _us(r["window_start"]), _us(r["last_updated"]),
             r["total_trips"], r["average_fare"])
            for r in df_rows
        }

    def expect_rows(pred) -> set:
        return {(city, ws, lu, n, f) for (city, ws), (lu, n, f) in latest.items() if pred(ws)}

    def totals_of(df_rows) -> dict:
        return {r["city"]: (r["total_trips"], _us(r["last_updated"])) for r in df_rows}

    def read(kind: str, group: str):
        """One dashboard read: returns (plan s, exec s, files kept ratio, ok)."""
        kept = None
        t0 = time.perf_counter()
        with engine.tracer.span(f"sink.{kind}_plan", group=group):
            if kind == "point":
                ws = windows[int(rng.integers(0, len(windows)))]
                df, sel, tot = sink.read_point(spark, "window_start", [dt.datetime.utcfromtimestamp(ws / 1e6)])
                kept, want = sel / tot, expect_rows(lambda w: w == ws)
            elif kind == "range":
                lo_us = last_ws - 3_600_000_000
                lo = dt.datetime.utcfromtimestamp(lo_us / 1e6)
                hi = dt.datetime.utcfromtimestamp(last_ws / 1e6)
                df, sel, tot = sink.read_pruned(spark, "window_start", lower=lo, upper=hi,
                                                source_lower=lo, source_upper=hi)
                kept, want = sel / tot, expect_rows(lambda w: lo_us <= w <= last_ws)
            elif kind == "scan":
                df = rp.city_running_totals(sink.read(spark))
                want = _totals(latest)
            else:
                epoch = int(rng.integers(0, len(states) - 1))
                df = rp.city_running_totals(sink.read_at(spark, epoch))
                want = _totals(states[epoch])
        t1 = time.perf_counter()
        with engine.tracer.span(f"sink.{kind}_exec", group=group):
            got = df.collect()
        t2 = time.perf_counter()
        ok = (rows_of(got) if kind in ("point", "range") else totals_of(got)) == want
        return t1 - t0, t2 - t1, kept, ok

    per_kind = {k: {"plan": [], "exec": [], "kept": []} for k in READ_KINDS}
    rounds = []

    def refresh(group: str, record: bool) -> None:
        """One dashboard refresh: a read of each kind in seeded order."""
        order = list(READ_KINDS)
        rng.shuffle(order)
        total = 0.0
        with engine.tracer.span("refresh", group=group):
            for kind in order:
                plan, exe, kept, ok = read(kind, group)
                res.attempted += 1
                if not ok:
                    res.failed += 1
                    res.wrong += 1
                total += plan + exe
                if record:
                    per_kind[kind]["plan"].append(plan * 1000)
                    per_kind[kind]["exec"].append(exe * 1000)
                    if kept is not None:
                        per_kind[kind]["kept"].append(kept)
        if record:
            rounds.append(total * 1000)

    for _ in range(WARMUP_REFRESHES):
        refresh("warmup", record=False)
    t_start = time.perf_counter()
    while len(rounds) < 3 or time.perf_counter() - t_start < seconds:
        refresh(f"round-{len(rounds)}", record=True)
    elapsed = time.perf_counter() - t_start

    for kind in READ_KINDS:
        k = per_kind[kind]
        res.timing(f"{kind}_read", [p + e for p, e in zip(k["plan"], k["exec"])])
        _layer_stats(res, f"sink.{kind}_plan_ms", k["plan"])
        _layer_stats(res, f"sink.{kind}_exec_ms", k["exec"])
        if k["kept"]:
            res.layers[f"sink.{kind}_files_kept_ratio"] = c.median(k["kept"])
    res.e2e["latency_p50_ms"] = res.timing("refresh", rounds, "one read of each kind")
    reads = len(rounds) * len(READ_KINDS)
    res.report["reads_per_s"] = (reads / elapsed, "1/s", reads, "closed loop, one client")
    if engine.traced:
        _backfill_layers(engine, res, wire, reference)
    return res


def _backfill_layers(engine, res: Result, wire: str, reference: dict, jobs: int = 3) -> None:
    """Per-layer split of the backfill job. Each round runs the whole
    job, whose result is checked, then a scan-only and a parse-only
    prefix of the same plan (parse is the prefix minus the scan), then
    the window aggregation alone over the parsed rows cached in memory.
    ``job_accounted_ratio`` is scan + parse + aggregation over the job."""
    spark = engine.spark
    walls, scans, prefixes, aggs, shuffles = [], [], [], [], []
    for i in range(jobs):
        tag = f"perfbench-backfill-{i}"
        t0 = time.perf_counter()
        with engine.tracer.span("ride_pipeline.job", group=tag), engine.jobs.tagged(tag):
            rows = rp.ride_pipeline_batch(spark.read.parquet(wire)).collect()
        walls.append((time.perf_counter() - t0) * 1000)
        res.attempted += 1
        if not _backfill_ok(rows, reference):
            res.failed += 1
            res.wrong += 1
        t0 = time.perf_counter()
        with engine.tracer.span("sources.scan", group=tag):
            spark.read.parquet(wire).select(F.sum(F.length("value"))).collect()
        scans.append((time.perf_counter() - t0) * 1000)
        t0 = time.perf_counter()
        with engine.tracer.span("ride_pipeline.parse", group=tag):
            parsed = rp.with_event_time(rp.parse_ride_events(spark.read.parquet(wire)))
            parsed.select(F.count("trip_id"), F.sum("fare_amount"),
                          F.max("event_timestamp"), F.count("city")).collect()
        prefixes.append((time.perf_counter() - t0) * 1000)
        parsed = parsed.cache()
        parsed.count()
        t0 = time.perf_counter()
        with engine.tracer.span("ride_pipeline.window_agg", group=tag):
            rp.to_city_metrics_output(rp.city_window_metrics(parsed)).collect()
        aggs.append((time.perf_counter() - t0) * 1000)
        parsed.unpersist(blocking=True)
        shuffles.append(engine.jobs.counts(tag)[2])
    job, scan, prefix, agg = c.median(walls), c.median(scans), c.median(prefixes), c.median(aggs)
    res.layers["ride_pipeline.job_ms"] = job
    res.layers["sources.scan_ms"] = scan
    res.layers["ride_pipeline.parse_ms"] = prefix - scan
    res.layers["ride_pipeline.window_agg_ms"] = agg
    res.layers["ride_pipeline.job_accounted_ratio"] = (prefix + agg) / job
    res.layers["ride_pipeline.shuffle_bytes"] = c.median(shuffles)
    res.report["backfill_events_per_s"] = (HISTORY_EVENTS / (job / 1000), "1/s", jobs,
                                           "events / median backfill job wall")
