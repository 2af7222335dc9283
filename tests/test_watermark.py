"""The watermark cursor store: one JSON document per store, replaced
atomically (temp file, fsync, ``os.replace``). Spark-free — the file store
ignores its ``spark`` argument."""

from __future__ import annotations

import json
from datetime import datetime
from unittest import mock

import pytest

from airflow_courier_payout_ledger_pipeline_spark.operators.watermark import (
    WatermarkStore,
)
from airflow_courier_payout_ledger_pipeline_spark.sources import lakehouse

D0 = datetime(2022, 1, 1)
T1 = datetime(2023, 5, 10, 12, 0, 0)
T2 = datetime(2023, 5, 11, 9, 0, 0)


def test_cursor_round_trip_per_key(tmp_path):
    store = WatermarkStore(str(tmp_path / "dds" / "srv_wf_settings.json"))
    assert store.read_last_loaded_ts(None, "wf_a", D0) == D0  # coalesce default
    store.write_last_loaded_ts(None, "wf_a", T1)
    store.write_last_loaded_ts(None, "wf_b", T2)
    store.write_last_loaded_ts(None, "wf_a", None)  # empty increment: no-op
    assert store.read_last_loaded_ts(None, "wf_a", D0) == T1
    assert store.read_last_loaded_ts(None, "wf_b", D0) == T2
    assert json.loads(store.path.read_text()) == {
        "wf_a": {"last_loaded_ts": "2023-05-10 12:00:00"},
        "wf_b": {"last_loaded_ts": "2023-05-11 09:00:00"},
    }


@pytest.mark.parametrize("crash_at", ["fsync", "replace"])
def test_crash_in_cursor_write_keeps_previous_cursor(tmp_path, crash_at):
    """A crash before the rename publishes the new document leaves the old
    cursor readable — never missing, never torn — and the stray temp file is
    ignored by reads and by the next write."""
    store = WatermarkStore(str(tmp_path / "srv_wf_settings.json"))
    store.write_last_loaded_ts(None, "wf", T1)
    with pytest.raises(RuntimeError, match="kill"), mock.patch.object(
        lakehouse.os, crash_at, side_effect=RuntimeError("kill")
    ):
        store.write_last_loaded_ts(None, "wf", T2)
    assert store.read_last_loaded_ts(None, "wf", D0) == T1
    assert len(list(tmp_path.glob("srv_wf_settings.json.__tmp_*"))) == 1
    store.write_last_loaded_ts(None, "wf", T2)
    assert store.read_last_loaded_ts(None, "wf", D0) == T2
