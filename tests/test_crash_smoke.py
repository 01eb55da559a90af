"""Fast-tier smoke case of the crash matrix.

``tests/test_crash_matrix.py`` sweeps every orchestration-layer
filesystem op and runs in the slow tier only. This file keeps ONE
fixed crash point in the default run: inside the ``delete_keys`` step
of the matrix's write sequence, after the emptied partition has left
the live table and before the version's manifest publishes. The
checkpointed-restart replay must then land the matrix's exact
no-crash state: the live read, every ``read_at`` across the
schema-evolution boundary, and ``read_changes_typed``.
"""

from __future__ import annotations

import os

import pytest
from test_crash_matrix import (
    SimulatedCrash,
    _assert_final_state,
    _FaultInjector,
    _steps,
)

from real_time_ride_hailing_data_pipeline_spark.streaming.sinks import (
    ParquetUpsertSink,
)

# Instrumented ops of the delete step, in order: staged schema (1),
# _TOUCHED (2) and _EPOCH (3) markers, the emptied partition's rmtree
# (4), the consolidated-cache write (5), the epoch schema (6), the
# manifest publish (7), the staging drop (8). Op 5 crashes between the
# live-table change and the commit point.
CRASH_AT_OP = 5


def test_crash_in_delete_step_recovers(spark, tmp_path, monkeypatch):
    injector = _FaultInjector(monkeypatch)
    injector.install()
    sink = ParquetUpsertSink(
        str(tmp_path / "t"),
        key_cols=("k", "window_start"),
        snapshot_dir=str(tmp_path / "s"),
        schema_evolution=True,
        retries=0,
    )
    steps = _steps(spark, sink)
    injector.arm(None)
    for step in steps[:2]:
        step()
    injector.arm(CRASH_AT_OP)
    with pytest.raises(SimulatedCrash):
        steps[2]()  # delete_keys, epoch 2
    injector.arm(None)
    # the crash landed inside the window: the emptied partition is gone
    # from the live table, but version 2 is not committed yet
    assert sink.snapshots() == [0, 1]
    assert "part_date=2024-01-15" not in os.listdir(sink.path)
    for step in steps[2:]:  # checkpointed-restart replay
        step()
    _assert_final_state(spark, sink)
