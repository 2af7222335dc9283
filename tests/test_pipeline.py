"""End-to-end lakehouse pipeline test against a fake delivery API (SURVEY.md §5.3,
FIXTURES.md §4): two daily runs exercising watermark incrementality, SCD0 duplicate
suppression, SCD1 courier rename, late-arrival drop, missing-dim drop, and the
golden ledger output; plus re-run idempotency."""

from __future__ import annotations

import json
import os
import shutil
import time
from datetime import datetime, timezone
from decimal import Decimal as D
from pathlib import Path
from unittest import mock

import pytest
from pyspark.sql import functions as F

from airflow_courier_payout_ledger_pipeline_spark import schemas as S
from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
from airflow_courier_payout_ledger_pipeline_spark.sources import lakehouse as L
from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse
from airflow_courier_payout_ledger_pipeline_spark.sources.rest import records_to_bronze


def fake_api(records: list[dict], time_field: str | None = None):
    """Mimics the delivery-system API: from/to window filter, sort, offset/limit."""

    def fetch(params: dict) -> list[dict]:
        rows = records
        if time_field and "from" in params:
            rows = [r for r in rows if params["from"] <= r[time_field] < params["to"]]
        rows = sorted(rows, key=lambda r: r[params["sort_field"]] if params["sort_field"] != "date" else r[time_field])
        off, lim = params.get("offset", 0), params.get("limit", 50)
        return rows[off : off + lim]

    return fetch


def _delivery(did, oid, courier, d_ts, o_ts, rate, total, tip):
    return {
        "order_id": oid,
        "order_ts": o_ts,
        "delivery_id": did,
        "courier_id": courier,
        "address": f"addr-{did}",
        "delivery_ts": d_ts,
        "rate": rate,
        "sum": total,
        "tip_sum": tip,
    }


DAY1_COURIERS = [{"_id": "c1", "name": "Alice"}, {"_id": "c2", "name": "Bob"}]
DAY1_DELIVERIES = [
    _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00),
    _delivery("d2", "o2", "c1", "2023-05-10 11:00:00", "2023-05-10 10:30:00", 5, 2000.00, 0.00),
    _delivery("d3", "o3", "c2", "2023-05-10 12:00:00", "2023-05-10 11:30:00", 3, 500.00, 5.00),
]

DAY2_COURIERS = [{"_id": "c1", "name": "Alice Cooper"}, {"_id": "c2", "name": "Bob"}]
DAY2_DELIVERIES = DAY1_DELIVERIES + [
    # new normal delivery for c1 (June order month!)
    _delivery("d4", "o4", "c1", "2023-05-11 09:00:00", "2023-06-01 08:00:00", 4, 3000.00, 30.00),
    # duplicate resubmission of d1 with altered sum — must be ignored (SCD0)
    _delivery("d1", "o1", "c1", "2023-05-11 10:00:00", "2023-05-10 09:30:00", 1, 9999.00, 99.00),
    # late arrival with ts before the day-1 watermark — silently dropped (§2.8)
    _delivery("d5", "o5", "c2", "2023-05-10 11:59:00", "2023-05-10 11:00:00", 5, 700.00, 7.00),
]


@pytest.fixture()
def lake(tmp_path):
    return Lakehouse(str(tmp_path / "lake"))


def _ledger(spark, lake):
    rows = lake.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA).collect()
    return {(r.courier_name, r.settlement_year, r.settlement_month): r for r in rows}


def test_two_day_pipeline(spark, lake):
    # --- day 1 ---
    P.run_daily(
        spark,
        lake,
        fake_api(DAY1_COURIERS),
        fake_api(DAY1_DELIVERIES, "delivery_ts"),
        "2023-05-11",
    )
    led = _ledger(spark, lake)
    a = led[("Alice", 2023, 5)]
    # Alice: 3000 total, avg 5.0 → 10% = 300 ≥ 2×200? 300 < 400 → floor 400
    assert a.orders_count == 2
    assert a.orders_total_sum == D("3000.00")
    assert a.rate_avg == D("5.00")
    assert a.courier_order_sum == D("400.00")
    assert a.courier_reward_sum == D("409.50")  # 400 + 0.95×10
    b = led[("Bob", 2023, 5)]
    # Bob: 500 total, avg 3.0 → 5% = 25 < 100 → floor 100; reward 100 + 4.75
    assert b.courier_order_sum == D("100.00")
    assert b.courier_reward_sum == D("104.75")

    # --- day 2: rename, new delivery, duplicate, late arrival ---
    P.run_daily(
        spark,
        lake,
        fake_api(DAY2_COURIERS),
        fake_api(DAY2_DELIVERIES, "delivery_ts"),
        "2023-05-12",
    )
    led2 = _ledger(spark, lake)

    # SCD1 rename propagated into the mart
    assert ("Alice", 2023, 5) not in led2
    a_may = led2[("Alice Cooper", 2023, 5)]
    # duplicate d1 ignored: May figures unchanged
    assert a_may.orders_total_sum == D("3000.00")
    assert a_may.orders_count == 2
    # d4 settles in JUNE (order month), despite May delivery date
    a_jun = led2[("Alice Cooper", 2023, 6)]
    assert a_jun.orders_total_sum == D("3000.00")
    assert a_jun.rate_avg == D("4.00")
    assert a_jun.courier_order_sum == D("210.00")  # 7% of 3000 = 210 ≥ 200 floor
    assert a_jun.courier_reward_sum == D("238.50")  # 210 + 0.95×30
    # late d5 dropped by the watermark: Bob unchanged
    assert led2[("Bob", 2023, 5)].orders_total_sum == D("500.00")

    # facts: exactly d1-d4 present, d1 with original sum
    facts = {
        r.delivery_key: r
        for r in lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).collect()
    }
    assert set(facts) == {"d1", "d2", "d3", "d4"}
    assert facts["d1"].order_sum == D("1000.00")

    # both cursors stop at d4, the newest row bronze keeps — not at the
    # ignored d1 resubmit's later 10:00 delivery_ts
    d4_ts = datetime(2023, 5, 11, 9, 0, 0)
    assert lake.wm_store("stg").read_last_loaded_ts(spark, P.STG_WM_KEY, None) == d4_ts
    assert lake.wm_store("dds").read_last_loaded_ts(spark, P.DDS_WM_KEY, None) == d4_ts


def _facts(spark, lake):
    return sorted(
        lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).collect()
    )


def test_dds_cursor_crash_window_rerun_matches_uninterrupted_run(spark, tmp_path):
    """The DDS cursor write is the last step of deliveries_stg_to_dds_job. A
    crash inside its atomic replace (facts already appended) leaves the
    previous cursor readable and a stray temp file that readers ignore;
    rerunning the day gives the same facts and mart as an uninterrupted run
    on a fresh lake."""
    prev = datetime(2023, 5, 1)

    def fresh_lake(name):
        lk = Lakehouse(str(tmp_path / name))
        lk.wm_store("dds").write_last_loaded_ts(spark, P.DDS_WM_KEY, prev)
        return lk

    def day(lk):
        P.run_daily(
            spark, lk, fake_api(DAY1_COURIERS), fake_api(DAY1_DELIVERIES, "delivery_ts"),
            "2023-05-11",
        )

    crashed = fresh_lake("crashed")
    doc = crashed.wm_store("dds").path
    real_replace = os.replace

    def replace(src, dst):
        if Path(dst) == doc:
            raise RuntimeError("kill")
        return real_replace(src, dst)

    with pytest.raises(RuntimeError, match="kill"), mock.patch.object(
        L.os, "replace", side_effect=replace
    ):
        day(crashed)
    assert len(_facts(spark, crashed)) == 3  # the crash came after the facts
    assert crashed.wm_store("dds").read_last_loaded_ts(spark, P.DDS_WM_KEY, None) == prev
    assert len(list(doc.parent.glob(f"{doc.name}.__tmp_*"))) == 1

    day(crashed)
    clean = fresh_lake("clean")
    day(clean)
    assert _facts(spark, crashed) == _facts(spark, clean)
    assert _ledger(spark, crashed) == _ledger(spark, clean)
    assert crashed.wm_store("dds").read_last_loaded_ts(spark, P.DDS_WM_KEY, None) == (
        clean.wm_store("dds").read_last_loaded_ts(spark, P.DDS_WM_KEY, None)
    )


def test_rerun_is_idempotent(spark, lake):
    P.run_daily(
        spark, lake, fake_api(DAY1_COURIERS), fake_api(DAY1_DELIVERIES, "delivery_ts"), "2023-05-11"
    )
    before = sorted(map(tuple, _ledger(spark, lake).values()))
    n_facts = lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count()
    # same day re-run: same API data, watermark already advanced
    P.run_daily(
        spark, lake, fake_api(DAY1_COURIERS), fake_api(DAY1_DELIVERIES, "delivery_ts"), "2023-05-11"
    )
    assert sorted(map(tuple, _ledger(spark, lake).values())) == before
    assert (
        lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count() == n_facts
    )


def test_a_steady_day_reuses_compiled_code(spark, lake, codegen_compiles):
    """A day whose plans match the previous day's reuses their compiled
    classes: the codegen cache holds a whole DAG day. At Spark's default of
    100 entries the third day recompiled ~170 classes; what remains are the
    plans that inline the day's watermark literal."""
    day3 = DAY2_DELIVERIES + [
        _delivery("d6", "o6", "c2", "2023-05-12 09:00:00", "2023-05-12 08:00:00", 4, 800.00, 8.00),
    ]
    for ds, deliveries in (("2023-05-11", DAY1_DELIVERIES), ("2023-05-12", DAY2_DELIVERIES)):
        P.run_daily(
            spark, lake, fake_api(DAY2_COURIERS), fake_api(deliveries, "delivery_ts"), ds
        )
    with codegen_compiles() as compiled:
        P.run_daily(
            spark, lake, fake_api(DAY2_COURIERS), fake_api(day3, "delivery_ts"), "2023-05-13"
        )
    assert compiled() <= 20
    assert _ledger(spark, lake)[("Bob", 2023, 5)].orders_total_sum == D("1300.00")


def _run_day(spark, lk, ds, deliveries):
    P.run_daily(spark, lk, fake_api(DAY2_COURIERS), fake_api(deliveries, "delivery_ts"), ds)


def _couriers(spark, lk):
    dmc = lk.read(spark, "dds", "dm_couriers", S.DM_COURIERS_SCHEMA)
    return sorted((r.courier_key, r.courier_name) for r in dmc.collect())


def _cut_couriers_swap():
    """Patch that kills ``dm_couriers``'s overwrite between its two renames:
    after the live table moved to ``__old_*``, before the staged one moved
    in."""
    real_rename = Path.rename

    def rename(self, target):
        if self.name.startswith("dm_couriers.__tmp_"):
            raise RuntimeError("kill")
        return real_rename(self, target)

    return mock.patch.object(L.Path, "rename", autospec=True, side_effect=rename)


def _assert_rerun_matches_clean_lake(spark, crashed, tmp_path):
    _run_day(spark, crashed, "2023-05-12", DAY2_DELIVERIES)
    clean = Lakehouse(str(tmp_path / "clean"))
    _run_day(spark, clean, "2023-05-11", DAY1_DELIVERIES)
    _run_day(spark, clean, "2023-05-12", DAY2_DELIVERIES)
    assert _couriers(spark, crashed) == _couriers(spark, clean)
    assert _ledger(spark, crashed) == _ledger(spark, clean)


def test_overwrite_cut_between_its_renames_keeps_the_last_state(spark, tmp_path):
    """A crash inside ``Lakehouse.overwrite``'s swap, after the table moved
    to ``__old_*`` and before the staged one took its place, leaves no table
    directory. The next access rolls the old state back, so dm_couriers never
    reads empty and the rerun day keeps yesterday's couriers (Bob has no
    delivery today, so the upsert alone would not bring him back)."""
    crashed = Lakehouse(str(tmp_path / "crashed"))
    _run_day(spark, crashed, "2023-05-11", DAY1_DELIVERIES)
    with pytest.raises(RuntimeError, match="kill"), _cut_couriers_swap():
        _run_day(spark, crashed, "2023-05-12", DAY2_DELIVERIES)
    dds = tmp_path / "crashed" / "dds"
    assert not (dds / "dm_couriers").exists()
    assert _couriers(spark, crashed) == [("c1", "Alice Cooper"), ("c2", "Bob")]
    assert not list(dds.glob("dm_couriers.__old_*"))
    _assert_rerun_matches_clean_lake(spark, crashed, tmp_path)


def test_cut_overwrite_beside_a_stale_old_dir_keeps_the_last_state(spark, tmp_path):
    """A crash after ``overwrite``'s second rename (here: in its removal of
    the old state) leaves a stale ``dm_couriers.__old_*`` beside the live
    table. A later swap cut between its renames must still roll back to the
    last state: were the stale dir kept, two ``__old_*`` dirs would sit
    there, neither could be told to be the last state, and dm_couriers would
    read 0 rows."""
    crashed = Lakehouse(str(tmp_path / "crashed"))
    _run_day(spark, crashed, "2023-05-11", DAY1_DELIVERIES)
    real_rmtree = shutil.rmtree

    def rmtree(path, *args, **kwargs):
        if Path(path).name.startswith("dm_couriers.__old_"):
            raise RuntimeError("kill")
        return real_rmtree(path, *args, **kwargs)

    with pytest.raises(RuntimeError, match="kill"), mock.patch.object(
        L.shutil, "rmtree", side_effect=rmtree
    ):
        _run_day(spark, crashed, "2023-05-12", DAY2_DELIVERIES)
    dds = tmp_path / "crashed" / "dds"
    assert len(list(dds.glob("dm_couriers.__old_*"))) == 1
    last = _couriers(spark, crashed)
    assert last == [("c1", "Alice Cooper"), ("c2", "Bob")]

    with pytest.raises(RuntimeError, match="kill"), _cut_couriers_swap():
        _run_day(spark, crashed, "2023-05-12", DAY2_DELIVERIES)
    assert not (dds / "dm_couriers").exists()
    assert _couriers(spark, crashed) == last
    assert not list(dds.glob("dm_couriers.__old_*"))
    _assert_rerun_matches_clean_lake(spark, crashed, tmp_path)


def test_missing_order_dim_drops_fact(spark, lake, monkeypatch):
    """A delivery whose order never reaches dm_orders is dropped by J2 (inner join),
    exactly like the reference (sql/deliveries_stg_to_dds.sql:33)."""
    deliveries = [
        _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00),
    ]
    # simulate the upstream orders feed missing: skip orders_stg_to_dds_job
    P.load_couriers_job(spark, lake, fake_api(DAY1_COURIERS))
    P.load_deliveries_job(spark, lake, fake_api(deliveries, "delivery_ts"), "2023-05-11")
    P.couriers_stg_to_dds_job(spark, lake)
    P.timestamps_stg_to_dds_job(spark, lake)
    P.deliveries_stg_to_dds_job(spark, lake)
    assert lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count() == 0


def test_dim_feeders_are_single_writer_per_table(spark, lake):
    """The DAG's parallel ``dims`` group is safe only if each dim table has exactly
    ONE feeder task (r15 verdict item 1: two jobs anti-joining dm_timestamps
    against the same pre-state double-insert a timestamp present in both
    increments — an order_ts equal to a delivery_ts, routine for same-second
    events). Pin the single-writer split: orders_stg_to_dds_job never touches
    dm_timestamps, and timestamps_stg_to_dds_job feeds BOTH timestamp kinds,
    so any schedule interleaving of the dims group yields a unique dim."""
    deliveries = [
        # order_ts EXACTLY equals delivery_ts — the hazard case
        _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 10:00:00", 5, 1000.00, 10.00),
        _delivery("d2", "o2", "c2", "2023-05-10 11:00:00", "2023-05-10 10:30:00", 4, 500.00, 0.00),
    ]
    P.load_couriers_job(spark, lake, fake_api(DAY1_COURIERS))
    P.load_deliveries_job(spark, lake, fake_api(deliveries, "delivery_ts"), "2023-05-11")
    # run orders FIRST to prove it no longer feeds the calendar dim
    P.orders_stg_to_dds_job(spark, lake)
    dmt = lake.read(spark, "dds", "dm_timestamps", S.DM_TIMESTAMPS_SCHEMA)
    assert dmt.count() == 0, "orders_stg_to_dds_job must not write dm_timestamps"
    P.timestamps_stg_to_dds_job(spark, lake)
    dmt = lake.read(spark, "dds", "dm_timestamps", S.DM_TIMESTAMPS_SCHEMA)
    rows = {r.ts for r in dmt.collect()}
    # one row per DISTINCT ts across both kinds: the shared 10:00:00, the
    # 11:00:00 delivery ts, and the 10:30:00 order ts
    assert dmt.count() == 3 and len(rows) == 3
    assert dmt.groupBy("ts").count().filter("count > 1").count() == 0
    # the full downstream still works: facts resolve both dims, mart lands
    P.couriers_stg_to_dds_job(spark, lake)
    P.deliveries_stg_to_dds_job(spark, lake)
    P.courier_ledger_update_job(spark, lake)
    assert (
        lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count() == 2
    )
    assert len(_ledger(spark, lake)) == 2


def test_pagination_cap_and_short_page_stop():
    from airflow_courier_payout_ledger_pipeline_spark.sources.rest import paginate

    data = [{"_id": f"c{i}", "name": f"N{i}"} for i in range(120)]
    calls = []

    def fetch(params):
        calls.append(params["offset"])
        return data[params["offset"] : params["offset"] + params["limit"]]

    out = paginate(fetch, {"sort_field": "name", "sort_direction": "asc"})
    assert len(out) == 120
    assert calls == [0, 50, 100]  # stopped on the short page

    # hard cap: an API that never returns a short page stops at max_pages
    def endless(params):
        return [{"_id": "x"}] * params["limit"]

    capped = paginate(endless, {}, max_pages=7)
    assert len(capped) == 7 * 50


def test_distributed_fetch_paces_requests(spark):
    """The distributed fetcher must bound the aggregate API request rate: with one
    partition and a per-page sleep, n pages take >= (n-1) * sleep wall-clock."""
    import time

    from airflow_courier_payout_ledger_pipeline_spark.queries_core import (
        _fake_courier_api_page,
    )
    from airflow_courier_payout_ledger_pipeline_spark.sources.rest import (
        fetch_pages_distributed,
    )

    t0 = time.time()
    df = fetch_pages_distributed(
        spark,
        _fake_courier_api_page,
        {},
        n_pages=4,
        max_concurrency=1,
        sleep_between_pages_s=0.2,
    )
    assert df.count() == 200
    assert time.time() - t0 >= 3 * 0.2


_BRONZE_RECORDS = [
    {"delivery_id": "d1", "delivery_ts": "2023-05-10 10:00:00.123456"},
    {"delivery_id": "d2", "delivery_ts": datetime(2023, 1, 2, 3, 4, 5)},
    {"delivery_id": "d3", "delivery_ts": datetime(2023, 7, 1, 12, tzinfo=timezone.utc)},
    {"delivery_id": "d4", "delivery_ts": datetime(1969, 12, 31, 23, 59, 59, 999999)},
    {"delivery_id": "d5", "delivery_ts": None},
    # a key that is not a string lands as its text, the payload keeps it
    {"delivery_id": 7, "delivery_ts": "2023-05-10 11:00:00"},
    {"delivery_id": True, "delivery_ts": "2023-05-10 12:00:00"},
]


def _bronze(spark, records):
    return records_to_bronze(
        spark, records, "delivery_id", "delivery_key", "delivery_ts", "delivery_ts"
    )


def test_bronze_and_bootstrap_frames_are_local_relations(spark, lake):
    """Driver-built frames scan in the JVM: no RDD of Python rows, whose every
    scan would run Python tasks."""
    for df in (
        _bronze(spark, _BRONZE_RECORDS),
        records_to_bronze(spark, DAY1_COURIERS, "_id", "courier_key"),
        lake.read(spark, "stg", "deliverysystem_deliveries", S.STG_DELIVERIES_SCHEMA),
    ):
        plan = df._jdf.queryExecution().executedPlan().toString()
        assert "LocalTableScan" in plan and "ExistingRDD" not in plan, plan
    assert lake.read(spark, "dds", "dm_couriers", S.DM_COURIERS_SCHEMA).collect() == []


def test_bronze_rows_equal_the_python_rows_path(spark):
    """The bronze rows equal those of ``spark.createDataFrame(rows)``, the
    path they replace: a naive timestamp reads as process-local time (here a
    zone 4-5 hours off UTC), an aware one keeps its instant, NULL stays NULL,
    and a non-string key becomes its text. Compared as epoch micros, so no
    conversion on the way back can hide a shift."""
    zone = os.environ.get("TZ")
    os.environ["TZ"] = "America/New_York"
    time.tzset()
    try:
        rows = [
            (
                r["delivery_id"],
                datetime.fromisoformat(r["delivery_ts"])
                if isinstance(r["delivery_ts"], str)
                else r["delivery_ts"],
                json.dumps(r, ensure_ascii=False, default=str),
            )
            for r in _BRONZE_RECORDS
        ]
        old = spark.createDataFrame(
            rows, "delivery_key string, delivery_ts timestamp, json_response string"
        )
        new = _bronze(spark, _BRONZE_RECORDS)
        assert new.schema == old.schema

        def micros(df):
            return sorted(
                df.select(
                    "delivery_key", F.unix_micros("delivery_ts"), "json_response"
                ).collect()
            )

        assert micros(new) == micros(old)
        rows = {r[0]: r for r in micros(new)}
        assert rows["d1"][1] == 1683727200123456  # 10:00 EDT = 14:00 UTC
        assert json.loads(rows["7"][2])["delivery_id"] == 7
        assert json.loads(rows["true"][2])["delivery_id"] is True
    finally:
        if zone is None:
            del os.environ["TZ"]
        else:
            os.environ["TZ"] = zone
        time.tzset()

