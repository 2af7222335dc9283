"""Watermark state store (S5/S6): the reference's ``srv_wf_settings`` key→JSON
document table (``modules/load_deliveries.py:28-38,66-79``,
``sql/deliveries_stg_to_dds.sql:13-16,44-56``), re-expressed as one JSON
document per store.

The document maps each workflow key to its settings,
``{"<workflow_key>": {"last_loaded_ts": "..."}}``, like the reference's jsonb
column. A read is a plain file read on the driver (no Spark job); the cursor
binds as a literal, which keeps the watermark predicate constant-foldable and
pushdown-able into the parquet scan (SURVEY.md §4). A write rewrites the whole
document (a few bytes) through ``atomic_write_text``: temp file, fsync,
``os.replace``. A crash at any point leaves the previous document or the new
one, never a torn or missing cursor. Writes happen *after* the data writes
they describe: a crash between data-write and cursor-write causes
reprocessing, which the SCD0/SCD1 merges absorb idempotently (SURVEY.md §3.3 —
facts first, watermark last).

Upgrade note: cursors that earlier versions kept in a parquet directory
(``<layer>/srv_wf_settings/``) are not read. The first run after an upgrade
extracts from the 7-day cold-start window and re-promotes bronze from
``DDS_WM_DEFAULT``; SCD0 insert-ignore makes that re-promotion idempotent.
"""

from __future__ import annotations

import json
from datetime import datetime
from pathlib import Path

from pyspark.sql import SparkSession

from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import (
    atomic_write_text,
)

TS_FMT = "%Y-%m-%d %H:%M:%S"


class WatermarkStore:
    """Key→JSON state in one JSON file. ``spark`` is accepted for interface
    parity with ``JdbcWatermarkStore`` and not used."""

    def __init__(self, path: str) -> None:
        self.path = Path(path)

    def _read_all(self) -> dict[str, dict]:
        try:
            return json.loads(self.path.read_text())
        except FileNotFoundError:
            return {}

    def read_last_loaded_ts(
        self, spark: SparkSession, workflow_key: str, default: datetime
    ) -> datetime:
        """``coalesce((settings->>'last_loaded_ts')::timestamp, default)`` —
        modules/load_deliveries.py:30-36 / sql/deliveries_stg_to_dds.sql:13-16."""
        raw = self._read_all().get(workflow_key, {}).get("last_loaded_ts")
        if raw is None:
            return default
        return datetime.strptime(raw[:19], TS_FMT)

    def write_last_loaded_ts(
        self, spark: SparkSession, workflow_key: str, ts: datetime | None
    ) -> None:
        """Upsert the cursor (``ON CONFLICT (workflow_key) DO UPDATE``); skipped when
        the increment was empty (``where last_loaded_ts is not null``,
        sql/deliveries_stg_to_dds.sql:54)."""
        if ts is None:
            return
        state = self._read_all()
        state[workflow_key] = {"last_loaded_ts": ts.strftime(TS_FMT)}
        self.path.parent.mkdir(parents=True, exist_ok=True)
        atomic_write_text(self.path, json.dumps(state, sort_keys=True))
