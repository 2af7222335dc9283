"""Gold-layer settlement mart: ``cdm.dm_courier_ledger``.

Re-expresses the reference's single-statement CTE pipeline
(``sql/courier_ledger_update.sql:2-73``) as one declarative DataFrame plan:

    fct_deliveries ⋈ dm_couriers ⋈ dm_orders ⋈ dm_timestamps   (J3, :13-19)
      → groupBy(courier, year, month) agg                      (A4/A5/A6, :2-25)
      → C1 tier CASE → C2 floor CASE → C3 reward               (:27-72)

Scale notes (100 TB):
- ``dm_couriers`` and ``dm_timestamps`` are small dims → ``F.broadcast`` (no
  shuffle). ``dm_orders`` is order-cardinality → regular shuffle join on the
  equi-key; AQE handles skew.
- Settlement month deliberately comes from the **order's** timestamp
  (``dmo.timestamp_id``, :19), not the delivery's own ``timestamp_id`` in the fact
  (a subtle reference semantic — covered by tests).
- Inner joins silently drop facts with missing dims, exactly like the reference.
- The mart is a full recompute every run (no watermark filter in
  ``courier_ledger_update.sql``), idempotent because the nightly job
  overwrites the mart with it (``Lakehouse.overwrite``) — see
  ``plans/promotions.courier_ledger_update_job``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from airflow_courier_payout_ledger_pipeline_spark.functions.payout import (
    final_reward,
    order_processing_fee,
    rated_avg,
    tier_floor_payout,
    tier_percentage_payout,
)

MONEY = "decimal(14,2)"


def courier_ledger(
    fct_deliveries: DataFrame,
    dm_couriers: DataFrame,
    dm_orders: DataFrame,
    dm_timestamps: DataFrame,
) -> DataFrame:
    """Compute the monthly per-courier settlement mart.

    Output schema mirrors ``sql/DDL_cdm.dm_courier_ledger.sql:5-18`` (Decimal money,
    smallint year/month, courier_id stringified as the DDL's varchar does).
    """
    del_ = fct_deliveries.alias("del")
    dmc = F.broadcast(dm_couriers.alias("dmc"))
    dmo = dm_orders.alias("dmo")
    dmt = F.broadcast(dm_timestamps.alias("dmt"))

    joined = (
        del_.join(dmc, F.col("del.courier_id") == F.col("dmc.id"), "inner")
        .join(dmo, F.col("del.order_id") == F.col("dmo.id"), "inner")
        # month attribution from the ORDER's timestamp (sql/courier_ledger_update.sql:19)
        .join(dmt, F.col("dmo.timestamp_id") == F.col("dmt.id"), "inner")
    )

    main = joined.groupBy(
        F.col("del.courier_id").alias("courier_sk"),
        F.col("dmc.courier_name").alias("courier_name"),
        F.col("dmt.year").alias("settlement_year"),
        F.col("dmt.month").alias("settlement_month"),
    ).agg(
        F.count("del.order_id").alias("orders_count_l"),
        # Decimal(14,2) sums are exact at scale 2 — the narrowing cast is lossless
        # and keeps downstream arithmetic types aligned with the mart DDL.
        F.sum("del.order_sum").cast(MONEY).alias("orders_total_sum_x"),
        rated_avg(F.col("del.rating")).alias("rate_avg_x"),
        F.sum("del.tips").cast(MONEY).alias("courier_tips_sum_x"),
    )

    return _payout_and_select(main)


def _payout_and_select(main: DataFrame) -> DataFrame:
    """C1/C2/C3 payout cascade + the mart's final DDL projection, applied to a
    ``main``-shaped frame (group keys + orders_count_l / orders_total_sum_x /
    rate_avg_x / courier_tips_sum_x) — shared by the full recompute and the
    incremental-state finalizer so both emit byte-identical marts."""
    with_payout = main.withColumn(
        "courier_order_sum_x",
        tier_percentage_payout(F.col("rate_avg_x"), F.col("orders_total_sum_x")),
    ).withColumn(
        "courier_order_sum_x",
        tier_floor_payout(
            F.col("rate_avg_x"), F.col("courier_order_sum_x"), F.col("orders_count_l")
        ),
    )

    # Scale-reducing money casts go through F.round (HALF_UP, away-from-zero) —
    # explicit rounding is engine-portable, bare decimal casts are not.
    return with_payout.select(
        F.col("courier_sk").cast("string").alias("courier_id"),
        F.col("courier_name"),
        F.col("settlement_year").cast("smallint").alias("settlement_year"),
        F.col("settlement_month").cast("smallint").alias("settlement_month"),
        F.col("orders_count_l").cast("int").alias("orders_count"),
        F.col("orders_total_sum_x").alias("orders_total_sum"),
        F.col("rate_avg_x").cast("decimal(3,2)").alias("rate_avg"),
        F.round(order_processing_fee(F.col("orders_total_sum_x")), 2)
        .cast(MONEY)
        .alias("order_processing_fee"),
        F.round(F.col("courier_order_sum_x"), 2).cast(MONEY).alias("courier_order_sum"),
        F.col("courier_tips_sum_x").alias("courier_tips_sum"),
        F.round(final_reward(F.col("courier_order_sum_x"), F.col("courier_tips_sum_x")), 2)
        .cast(MONEY)
        .alias("courier_reward_sum"),
    )


# --- Incremental materialized-view maintenance --------------------------------------
#
# The reference recomputes the whole mart every run (courier_ledger_update.sql is a
# full-table INSERT ... ON CONFLICT). At 100 TB that is the one cost you cannot pay
# nightly — but every aggregate in the mart is algebraic: it decomposes into a
# bounded per-group STATE (counts + exact Decimal sums; the FILTERed avg splits
# into rated_sum/rated_count) that merges by addition. So a run folds only its
# increment into the state table — O(increment + touched groups) instead of
# O(history) — and finalization (one division + the payout cascade) is a map-side
# projection over state rows. This is Spark's own partial-aggregation design
# lifted to cross-run persistence (store the state via operators/merge.scd1_upsert
# keyed by the group columns).

_STATE_KEYS = ["courier_sk", "courier_name", "settlement_year", "settlement_month"]


def ledger_state(
    fct_deliveries: DataFrame,
    dm_couriers: DataFrame,
    dm_orders: DataFrame,
    dm_timestamps: DataFrame,
) -> DataFrame:
    """Mergeable partial-aggregate state of the settlement mart for one slice of
    the fact table: additive counts and exact Decimal(14,2) sums only (the avg is
    carried as rated_sum + rated_count — division does not merge, its terms do)."""
    del_ = fct_deliveries.alias("del")
    dmc = F.broadcast(dm_couriers.alias("dmc"))
    dmo = dm_orders.alias("dmo")
    dmt = F.broadcast(dm_timestamps.alias("dmt"))
    rated = F.when(F.col("del.rating").between(1, 5), F.col("del.rating"))

    joined = (
        del_.join(dmc, F.col("del.courier_id") == F.col("dmc.id"), "inner")
        .join(dmo, F.col("del.order_id") == F.col("dmo.id"), "inner")
        .join(dmt, F.col("dmo.timestamp_id") == F.col("dmt.id"), "inner")
    )
    return joined.groupBy(
        F.col("del.courier_id").alias("courier_sk"),
        F.col("dmc.courier_name").alias("courier_name"),
        F.col("dmt.year").alias("settlement_year"),
        F.col("dmt.month").alias("settlement_month"),
    ).agg(
        F.count("del.order_id").alias("orders_count_l"),
        F.sum("del.order_sum").cast(MONEY).alias("orders_total_sum_x"),
        F.sum(rated).cast("bigint").alias("rated_sum"),
        F.count(rated).alias("rated_count"),
        F.sum("del.tips").cast(MONEY).alias("courier_tips_sum_x"),
    )


def merge_ledger_states(*states: DataFrame) -> DataFrame:
    """Fold state slices by addition — group keys shuffle once; everything is
    associative/commutative, so slices may arrive in any order across any number
    of runs. NULL rated_sum (all-unrated slice) is additive identity via the
    sum's NULL-skipping."""
    merged = states[0]
    for s in states[1:]:
        merged = merged.unionByName(s)
    return merged.groupBy(*_STATE_KEYS).agg(
        F.sum("orders_count_l").alias("orders_count_l"),
        F.sum("orders_total_sum_x").cast(MONEY).alias("orders_total_sum_x"),
        F.sum("rated_sum").cast("bigint").alias("rated_sum"),
        F.sum("rated_count").alias("rated_count"),
        F.sum("courier_tips_sum_x").cast(MONEY).alias("courier_tips_sum_x"),
    )


def finalize_ledger_state(state: DataFrame) -> DataFrame:
    """State → mart: one exact-int division rebuilds the FILTERed avg (identical
    to avg() in any engine: both are a single division of exact integer sums),
    then the shared payout cascade. Pure projection — no shuffle."""
    main = state.select(
        *_STATE_KEYS,
        "orders_count_l",
        "orders_total_sum_x",
        F.when(
            F.col("rated_count") > 0,
            F.col("rated_sum").cast("double") / F.col("rated_count").cast("double"),
        ).alias("rate_avg_x"),
        "courier_tips_sum_x",
    )
    return _payout_and_select(main)
