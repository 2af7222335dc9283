"""Constraint validation operators: CHECK/NOT NULL/UNIQUE/FK semantics from the
reference DDLs, plus the mart quarantine path for the NULL-rating hazard."""

from __future__ import annotations

from datetime import datetime

import pytest
from pyspark.sql import functions as F

from airflow_courier_payout_ledger_pipeline_spark.operators.validate import (
    assert_unique,
    between,
    enforce,
    fk_violations,
    ledger_checks,
    non_negative,
    not_null,
    quarantine,
)


def test_quarantine_splits_and_names_reasons(spark):
    df = spark.createDataFrame(
        [(1, 3, None), (2, 7, 5.0), (3, 4, 1.0)],
        "id int, rating int, amount double",
    )
    checks = [*not_null("amount"), between("rating", 0, 5), *non_negative("amount")]
    clean, bad = quarantine(df, checks)
    assert [r.id for r in clean.collect()] == [3]
    reasons = {r.id: set(r.violations) for r in bad.collect()}
    assert reasons[1] == {"amount_not_null"}
    assert reasons[2] == {"rating_between_0_5"}


def test_enforce_raises_with_sample(spark):
    df = spark.createDataFrame([(1, -5.0)], "id int, amount double")
    with pytest.raises(ValueError, match="constraint violations"):
        enforce(df, non_negative("amount"))


def test_assert_unique(spark):
    ok = spark.createDataFrame([(1, 2022, 5), (1, 2022, 6)], "c int, y int, m int")
    assert_unique(ok, ["c", "y", "m"])
    dup = spark.createDataFrame([(1, 2022, 5), (1, 2022, 5)], "c int, y int, m int")
    with pytest.raises(ValueError, match="unique constraint"):
        assert_unique(dup, ["c", "y", "m"])


def test_fk_violations(spark):
    fact = spark.createDataFrame([(1, 10), (2, 99)], "fid int, courier_id int")
    dim = spark.createDataFrame([(10,)], "id int")
    orphans = fk_violations(fact, "courier_id", dim)
    assert [r.fid for r in orphans.collect()] == [2]


def test_mart_null_hazard_goes_to_quarantine(spark, tmp_path):
    """An all-unrated courier-month (NULL rate_avg → NULL payout, SURVEY.md §2.3)
    must land in the quarantine table, not the mart — where the reference would
    have aborted its whole INSERT."""
    from tests.test_pipeline import _delivery, fake_api
    from airflow_courier_payout_ledger_pipeline_spark import schemas as S
    from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path / "lake"))
    couriers = [{"_id": "c1", "name": "Alice"}, {"_id": "c2", "name": "NoRatings"}]
    deliveries = [
        _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00),
        _delivery("d2", "o2", "c2", "2023-05-10 11:00:00", "2023-05-10 10:30:00", 0, 2000.00, 0.00),
    ]
    P.run_daily(spark, lake, fake_api(couriers), fake_api(deliveries, "delivery_ts"), "2023-05-11")

    mart = lake.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA).collect()
    assert [r.courier_name for r in mart] == ["Alice"]
    quarantined = spark.read.parquet(lake.path("cdm", "dm_courier_ledger_quarantine")).collect()
    assert len(quarantined) == 1
    q = quarantined[0]
    assert q.courier_name == "NoRatings"
    assert set(q.violations) == {
        "rate_avg_not_null",
        "courier_order_sum_not_null",
        "courier_reward_sum_not_null",
    }


def test_mart_row_moving_to_quarantine_leaves_the_mart(spark, tmp_path):
    """The mart job recomputes every courier-month, so the mart must hold
    exactly the recompute's clean rows: a courier-month that turns invalid
    (its courier's name arrives NULL on day 2) moves to the quarantine and
    its day-1 mart row goes, rather than surviving next to it."""
    from decimal import Decimal

    from tests.test_pipeline import _delivery, fake_api
    from airflow_courier_payout_ledger_pipeline_spark import schemas as S
    from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path / "lake"))
    d1 = _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00)
    d2 = _delivery("d2", "o2", "c1", "2023-05-11 10:00:00", "2023-05-11 09:30:00", 5, 500.00, 5.00)
    P.run_daily(
        spark, lake, fake_api([{"_id": "c1", "name": "Alice"}]),
        fake_api([d1], "delivery_ts"), "2023-05-11",
    )
    mart = lake.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA).collect()
    assert [(r.courier_name, r.orders_count) for r in mart] == [("Alice", 1)]
    key = mart[0].courier_id

    P.run_daily(
        spark, lake, fake_api([{"_id": "c1", "name": None}]),
        fake_api([d1, d2], "delivery_ts"), "2023-05-12",
    )
    assert lake.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA).collect() == []
    quarantined = spark.read.parquet(lake.path("cdm", "dm_courier_ledger_quarantine")).collect()
    assert [
        (q.courier_id, q.settlement_month, q.orders_count, q.orders_total_sum)
        for q in quarantined
    ] == [(key, 5, 2, Decimal("1500.00"))]
    assert "courier_name_not_null" in quarantined[0].violations


def test_fct_ddl_gate_quarantines_violating_increment(spark, tmp_path):
    """The fct DDL constraints (rating ∈ [0,5], money ≥ 0 —
    sql/DDL_dds.fct_deliveries.sql:14-21) are a MANDATORY gate on the fact
    write path: a violating delivery lands in fct_deliveries_quarantine WITH
    its violation report, never in fct_deliveries (where the reference's
    CHECK would have aborted the whole INSERT), the mart is computed from
    clean facts only, and a re-run does not duplicate the quarantine row."""
    from tests.test_pipeline import _delivery, fake_api
    from airflow_courier_payout_ledger_pipeline_spark import schemas as S
    from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path / "lake"))
    couriers = [{"_id": "c1", "name": "Alice"}]
    deliveries = [
        _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00),
        # rating 9 violates rating_between_0_5; negative tip violates tips_non_negative
        _delivery("d2", "o2", "c1", "2023-05-10 11:00:00", "2023-05-10 10:30:00", 9, 2000.00, -1.00),
    ]
    P.run_daily(spark, lake, fake_api(couriers), fake_api(deliveries, "delivery_ts"), "2023-05-11")

    facts = lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).collect()
    assert [r.delivery_key for r in facts] == ["d1"]
    q = lake.read(
        spark, "dds", "fct_deliveries_quarantine", S.FCT_DELIVERIES_QUARANTINE_SCHEMA
    ).collect()
    assert len(q) == 1 and q[0].delivery_key == "d2"
    assert set(q[0].violations) == {"rating_between_0_5", "tips_non_negative"}
    # the mart saw only the clean fact
    mart = lake.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA).collect()
    assert len(mart) == 1 and mart[0].orders_count == 1
    # replay (same ds, watermark already advanced → empty increment; then a
    # forced full re-run of the promotion) must not duplicate the quarantine
    P.deliveries_stg_to_dds_job(spark, lake)
    q2 = lake.read(
        spark, "dds", "fct_deliveries_quarantine", S.FCT_DELIVERIES_QUARANTINE_SCHEMA
    ).collect()
    assert len(q2) == 1


def test_null_delivery_key_quarantine_is_replay_safe(spark, tmp_path):
    """A delivery missing its _id quarantines with delivery_key NULL — the
    anti-join key can't be delivery_key (NULL never matches), so the table is
    keyed by the payload fingerprint: a replay must not re-append the row,
    while two DISTINCT null-key violations must both land."""
    from tests.test_pipeline import _delivery, fake_api
    from airflow_courier_payout_ledger_pipeline_spark import schemas as S
    from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path / "lake"))
    couriers = [{"_id": "c1", "name": "Alice"}]
    no_id_1 = _delivery(None, "o2", "c1", "2023-05-10 11:00:00", "2023-05-10 10:30:00", 4, 2000.00, 1.00)
    no_id_2 = _delivery(None, "o3", "c1", "2023-05-10 12:00:00", "2023-05-10 11:30:00", 4, 3000.00, 2.00)
    deliveries = [
        _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00),
        no_id_1,
        no_id_2,
    ]
    P.run_daily(spark, lake, fake_api(couriers), fake_api(deliveries, "delivery_ts"), "2023-05-11")

    facts = lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).collect()
    assert [r.delivery_key for r in facts] == ["d1"]
    q = lake.read(
        spark, "dds", "fct_deliveries_quarantine", S.FCT_DELIVERIES_QUARANTINE_SCHEMA
    ).collect()
    assert len(q) == 2  # both distinct null-key violations, not collapsed
    assert all(r.delivery_key is None for r in q)
    assert all("delivery_key_not_null" in r.violations for r in q)
    assert len({r.q_fingerprint for r in q}) == 2  # fingerprints distinguish them
    # forced replay of the promotion: the same violating payloads must dedupe
    P.deliveries_stg_to_dds_job(spark, lake)
    q2 = lake.read(
        spark, "dds", "fct_deliveries_quarantine", S.FCT_DELIVERIES_QUARANTINE_SCHEMA
    ).collect()
    assert len(q2) == 2


def test_legacy_quarantine_rows_backfill_fingerprint_on_read(spark, tmp_path):
    """Quarantine files written BEFORE q_fingerprint existed read back with a
    NULL fingerprint (parquet missing-column) — the anti-join must still
    suppress their replay: the read side backfills the fingerprint the row
    would have carried (same md5 over the same payload), so a post-upgrade
    replay appends nothing (the r13 ADVICE hazard)."""
    from tests.test_pipeline import _delivery, fake_api
    from airflow_courier_payout_ledger_pipeline_spark import schemas as S
    from airflow_courier_payout_ledger_pipeline_spark.plans import promotions as P
    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path / "lake"))
    couriers = [{"_id": "c1", "name": "Alice"}]
    deliveries = [
        _delivery("d1", "o1", "c1", "2023-05-10 10:00:00", "2023-05-10 09:30:00", 5, 1000.00, 10.00),
        _delivery("d2", "o2", "c1", "2023-05-10 11:00:00", "2023-05-10 10:30:00", 9, 2000.00, -1.00),
    ]
    P.run_daily(spark, lake, fake_api(couriers), fake_api(deliveries, "delivery_ts"), "2023-05-11")

    # simulate the pre-upgrade table: rewrite it WITHOUT the fingerprint column
    legacy = spark.read.parquet(
        lake.path("dds", "fct_deliveries_quarantine")
    ).drop("q_fingerprint")
    lake.overwrite(legacy, "dds", "fct_deliveries_quarantine")
    read_back = lake.read(
        spark, "dds", "fct_deliveries_quarantine", S.FCT_DELIVERIES_QUARANTINE_SCHEMA
    ).collect()
    assert len(read_back) == 1 and read_back[0].q_fingerprint is None  # the hazard

    # post-upgrade replay: the backfilled fingerprint suppresses the re-append
    P.deliveries_stg_to_dds_job(spark, lake)
    q = lake.read(
        spark, "dds", "fct_deliveries_quarantine", S.FCT_DELIVERIES_QUARANTINE_SCHEMA
    ).collect()
    assert len(q) == 1
