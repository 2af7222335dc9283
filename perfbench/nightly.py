"""The nightly DAG workloads: back-to-back ``promotions.run_daily`` days against
the seeded delivery API, closed loop (each day starts when the previous one
ends), one client.

- ``nightly_cold`` starts from an empty lakehouse and lands large increments.
  Extraction, STG landing and the ~50 small Spark jobs of a day dominate; the
  mart stays tiny, so per-job fixed overhead shows here.
- ``nightly_history`` seeds the DDS layer with a two-year history first and
  then lands small increments, so the O(history) steps dominate: the full mart
  recompute and its SCD1 upsert, the SCD0 anti-joins against the growing
  ``fct_deliveries``, and the small-file reads. Incremental-mart or layout
  changes show here, not in ``nightly_cold``.
"""

from __future__ import annotations

import json
import shutil
import time
from datetime import datetime, timedelta
from pathlib import Path

import gen
import numpy as np
import oracle
import pyarrow as pa
import pyarrow.parquet as pq
from spans import count_exchanges, dir_bytes, parquet_files
from xxh64 import xxhash64

from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

#: sizes per workload. Daily volume stays under the 10 000-record extraction
#: cap (200 pages of 50); the history stays well under the ~3M facts at which
#: a broadcast of ``dm_orders`` exhausts the default driver heap.
SIZES = {
    "nightly_cold": {"couriers": 500, "per_day": 2000, "history": 0},
    "nightly_history": {"couriers": 1000, "per_day": 500, "history": 30_000},
}

JOBS = [
    "load_couriers_job",
    "load_deliveries_job",
    "couriers_stg_to_dds_job",
    "timestamps_stg_to_dds_job",
    "orders_stg_to_dds_job",
    "deliveries_stg_to_dds_job",
    "courier_ledger_update_job",
]


def seed_history(lake: Lakehouse, h: dict) -> datetime:
    """Write ``h`` (``gen.history_frames``) as the DDS layer a two-year
    back-fill of the DAG would have left: one fact / order file per month, the
    calendar and courier dims. Returns the last delivery time, the DDS cursor.

    The files are written with pyarrow, not Spark, so seeding costs seconds;
    surrogate keys follow the program's convention (``xxhash64`` of the
    natural key as a string), so the DAG's later days join the seeded dims."""
    names = h["names"]
    keys = np.array(sorted(names))
    n = len(h["d_sec"])
    idx = np.arange(n)
    d_key, o_key = np.char.add("h", _zfill(idx, 7)), np.char.add("oh", _zfill(idx, 7))
    ts_sec, ts_of = np.unique(np.concatenate([h["d_sec"], h["o_sec"]]), return_inverse=True)
    ts = ts_sec.astype("datetime64[s]")
    ts_str = np.char.replace(np.datetime_as_string(ts, unit="s"), "T", " ")
    ts_id = xxhash64(ts_str)

    def write(table: str, part: str, cols: dict) -> None:
        path = Path(lake.path("dds", table))
        path.mkdir(parents=True, exist_ok=True)
        pq.write_table(pa.table(cols), path / f"part-{part}.parquet")

    write("dm_couriers", "history", {
        "id": xxhash64(keys), "courier_key": keys, "courier_name": [names[k] for k in keys],
    })
    days = ts.astype("datetime64[D]")
    write("dm_timestamps", "history", {
        "id": ts_id,
        "ts": pa.array(ts_sec * 1_000_000).cast(pa.timestamp("us", tz="UTC")),
        "year": (ts.astype("datetime64[Y]").astype(np.int16) + 1970).astype(np.int16),
        "month": (ts.astype("datetime64[M]").astype(np.int64) % 12 + 1).astype(np.int16),
        "day": ((days - days.astype("datetime64[M]")).astype(np.int64) + 1).astype(np.int16),
        "time": np.char.partition(ts_str, " ")[:, 2],
        "date": pa.array(days.astype(np.int32), pa.date32()),
    })
    d_tid, o_tid = ts_id[ts_of[:n]], ts_id[ts_of[n:]]
    o_id, courier_id = xxhash64(o_key), xxhash64(keys)[h["courier"]]
    month = h["d_sec"].astype("datetime64[s]").astype("datetime64[M]")
    for i, m in enumerate(np.unique(month)):
        rows = month == m
        write("dm_orders", f"h{i:03d}", {
            "id": o_id[rows], "order_key": o_key[rows], "timestamp_id": o_tid[rows],
        })
        write("fct_deliveries", f"h{i:03d}", {
            "id": xxhash64(d_key[rows]), "delivery_key": d_key[rows],
            "order_id": o_id[rows], "timestamp_id": d_tid[rows],
            "order_sum": _money(h["sum_cents"][rows]), "courier_id": courier_id[rows],
            "rating": h["rating"][rows], "tips": _money(h["tip_cents"][rows]),
        })
    return datetime(1970, 1, 1) + timedelta(seconds=int(h["d_sec"].max()))


def _zfill(values: np.ndarray, width: int) -> np.ndarray:
    return np.char.zfill(values.astype(str), width)


def _money(cents: np.ndarray) -> pa.Array:
    """decimal(14,2) from non-negative integer cents (the unscaled value)."""
    unscaled = np.zeros((len(cents), 2), dtype=np.int64)
    unscaled[:, 0] = cents
    return pa.Array.from_buffers(pa.decimal128(14, 2), len(cents),
                                 [None, pa.py_buffer(unscaled.tobytes())])


class Nightly:
    """One run of a nightly workload. ``setup`` (repeatable) makes a fresh
    lakehouse and API; ``op`` runs one DAG day; ``check`` compares the final
    lakehouse with the independent oracle."""

    def __init__(self, spark, name: str, seed: int, workdir: Path, tracer, layer_s: dict):
        self.spark, self.seed, self.workdir, self.tracer = spark, seed, workdir, tracer
        self.sizes = SIZES[name]
        self.layer_s = layer_s  # per-layer set-up timings, reported in traced runs
        self.lake: Lakehouse | None = None
        self.history: dict | None = None
        self.dds_wm: str | None = None
        self.run = 0
        self.reps = 0

    # -- set-up ---------------------------------------------------------------------

    def setup_once(self) -> None:
        """Generate the history (pure numpy, seconds at most)."""
        if self.sizes["history"]:
            names = gen.DeliveryAPI(self.seed, self.sizes["couriers"], 1).names
            self.history = gen.history_frames(self.seed, self.sizes["history"], names)

    def setup(self) -> None:
        """A fresh lakehouse (with the history seeded) and a fresh API."""
        if self.lake is not None:
            shutil.rmtree(self.lake.root, ignore_errors=True)
        self.reps += 1
        self.lake = Lakehouse(str(self.workdir / f"lake{self.reps}"))
        self.api = gen.DeliveryAPI(self.seed, self.sizes["couriers"], self.sizes["per_day"])
        self.run = 0
        if self.history is not None:
            t0 = time.perf_counter()
            wm = seed_history(self.lake, self.history)
            self.lake.wm_store("dds").write_last_loaded_ts(self.spark, P.DDS_WM_KEY, wm)
            self.dds_wm = wm.strftime(gen.TS_FMT)
            self.layer_s.setdefault("setup.history_seed_s", []).append(time.perf_counter() - t0)

    def instrument(self) -> None:
        """Wrap the layer calls for traced ops: the promotions jobs and the
        extraction / mart functions they look up in their module, this run's
        ``Lakehouse`` methods, the watermark store it hands out, and the API's
        ``FetchPage`` callables."""
        tr, lake = self.tracer, self.lake
        for job in JOBS:
            tr.patch(P, job, f"plans.promotions.{job}", jobs=True)
        tr.patch(P, "paginate", "sources.rest.paginate")
        tr.patch(P, "records_to_bronze", "sources.rest.records_to_bronze")
        ledger = P.courier_ledger

        def courier_ledger(*args, **kwargs):
            with tr.span("plans.ledger.courier_ledger"):
                mart = ledger(*args, **kwargs)
            if tr.enabled:
                tr.count("plans.ledger.mart_exchanges", count_exchanges(mart))
            return mart

        P.courier_ledger = courier_ledger

        for method in ("read", "append", "overwrite", "upsert_scd1"):
            fn = getattr(lake, method)
            name = f"sources.lakehouse.{method}"

            def traced(*args, _fn=fn, _name=name, _method=method, **kwargs):
                if not tr.enabled:
                    return _fn(*args, **kwargs)
                tr.count(f"{_name}.calls")
                if _method not in ("append", "overwrite"):
                    with tr.span(_name):
                        return _fn(*args, **kwargs)
                path = lake.path(args[1], args[2])
                before = dir_bytes(path) if _method == "append" else 0
                with tr.span(_name):
                    out = _fn(*args, **kwargs)
                tr.count("sources.lakehouse.bytes_written", dir_bytes(path) - before)
                return out

            setattr(lake, method, traced)

        wm_store = lake.wm_store

        def traced_store(*args, **kwargs):
            store = wm_store(*args, **kwargs)
            tr.patch(store, "read_last_loaded_ts", "operators.watermark.cursor")
            tr.patch(store, "write_last_loaded_ts", "operators.watermark.cursor")
            return store

        lake.wm_store = traced_store

        api = self.api
        for attr in ("couriers_fetch", "deliveries_fetch"):
            fetch = getattr(api, attr)

            def traced_fetch(params, _fetch=fetch):
                with tr.span("bench.transport"):
                    page = _fetch(params)
                if tr.enabled:
                    tr.count("sources.rest.pages")
                    tr.count("bench.json_bytes", sum(len(json.dumps(r)) for r in page))
                return page

            setattr(api, attr, traced_fetch)

    # -- the measured operation -----------------------------------------------------

    def prepare(self) -> None:
        """Publish the next day on the API (generator time, outside the op)."""
        self.api.publish(self.run)

    def op(self) -> None:
        try:
            P.run_daily(self.spark, self.lake, self.api.couriers_fetch,
                        self.api.deliveries_fetch, gen.ds_of(self.run))
        finally:  # a failed day is still a published day; the next one follows it
            self.run += 1

    def after_traced_op(self) -> None:
        """Counts read from the lakehouse after a traced day, outside its time."""
        lake, tr = self.lake, self.tracer
        tr.count("plans.ledger.mart_rows", self.spark.read.parquet(
            lake.path("cdm", "dm_courier_ledger")).count())
        tr.count("sources.lakehouse.fct_files", parquet_files(lake.path("dds", "fct_deliveries")))

    def warm_up(self) -> None:
        """One untimed day: the JVM's code paths for a day are compiled by
        its end (the first day runs about twice as long as later ones)."""
        self.prepare()
        self.op()

    def start_window(self) -> None:
        self.run0 = self.run

    def end_window(self, ops: int) -> int:
        """Facts landed in ``fct_deliveries`` by the window's days, as the
        generated records give them (``check`` holds the lakehouse to it)."""
        return (oracle.facts_landed(self.api, self.run - 1, self.dds_wm)
                - oracle.facts_landed(self.api, self.run0 - 1, self.dds_wm))

    # -- correctness ----------------------------------------------------------------

    def check(self) -> list[str]:
        """Mismatches between the lakehouse and the oracle ([] = correct)."""
        want = oracle.expected_state(self.api, self.run - 1, self.history, self.dds_wm)
        got = oracle.observed_state(self.spark, self.lake)
        bad = [f"{k}: want {want[k]} got {got[k]}" for k in ("facts", "quarantine",
                                                             "mart_quarantine")
               if want[k] != got[k]]
        if want["mart"] != got["mart"]:
            bad.append(f"mart: {len(want['mart'] - got['mart'])} rows missing, "
                       f"{len(got['mart'] - want['mart'])} unexpected of {len(want['mart'])}")
        return bad

    def close(self) -> None:
        if self.lake is not None:
            shutil.rmtree(self.lake.root, ignore_errors=True)
