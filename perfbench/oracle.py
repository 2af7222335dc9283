"""Independent expected state for the nightly workloads, computed with DuckDB
(and plain Python for the extraction walk) from the generated records only.

The walk replays the DAG's contract, not its code: the extraction window
``[watermark, ds 00:00)`` over what the API had published by each run (with the
10 000-record page cap), first-seen SCD0 on ``delivery_id``, the courier name as
of the last run whose increment carried the courier (SCD1), the fact DDL gate
into quarantine, and the mart's payout CASEs from the reference SQL.
"""

from __future__ import annotations

from datetime import datetime, timedelta
from decimal import ROUND_HALF_UP, Decimal

import duckdb
import numpy as np
import pandas as pd

from gen import TS_FMT, ds_of

MAX_RECORDS = 200 * 50  # the API extraction cap: 200 pages of 50


def cents(x: float) -> int:
    return int(round(x * 100))


def landed_records(api, last_run: int, dds_wm: str | None) -> tuple[list, dict]:
    """(landed, names): every delivery that reaches bronze with the run that
    first fetched it, and each courier's dim name."""
    seen: dict[str, tuple[dict, int]] = {}
    visible: list[dict] = []
    stg_wm: str | None = None
    names: dict[str, str] = {}
    for run in range(last_run + 1):
        visible.extend(api.published[run])
        ds = datetime.strptime(ds_of(run), "%Y-%m-%d")
        lo = stg_wm or (ds - timedelta(days=7)).strftime(TS_FMT)
        hi = ds.strftime(TS_FMT)
        window = sorted((r for r in visible if lo <= r["delivery_ts"] < hi),
                        key=lambda r: r["delivery_ts"])[:MAX_RECORDS]
        for rec in window:
            seen.setdefault(rec["delivery_id"], (rec, run))
        if seen:
            stg_wm = max(rec["delivery_ts"] for rec, _ in seen.values())
        increment = [rec for rec, r in seen.values()
                     if r == run and (dds_wm is None or rec["delivery_ts"] > dds_wm)]
        for rec in increment:
            names[rec["courier_id"]] = api.names_by_run[run][rec["courier_id"]]
        if increment:
            dds_wm = max(rec["delivery_ts"] for rec in increment)
    return [rec for rec, _ in seen.values()], names


_MART_SQL = """
WITH main AS (
    SELECT courier_name,
           CAST(year(order_ts) AS SMALLINT) AS y,
           CAST(month(order_ts) AS SMALLINT) AS m,
           COUNT(*) AS n,
           CAST(SUM(CAST(sum_cents AS DECIMAL(18,0)) * 0.01) AS DECIMAL(14,2)) AS total,
           SUM(rating) FILTER (WHERE rating BETWEEN 1 AND 5) AS rs,
           COUNT(*) FILTER (WHERE rating BETWEEN 1 AND 5) AS rc,
           CAST(rs AS DOUBLE) / NULLIF(rc, 0) AS rate,
           CAST(SUM(CAST(tip_cents AS DECIMAL(18,0)) * 0.01) AS DECIMAL(14,2)) AS tips
    FROM facts GROUP BY 1, 2, 3
),
u1 AS (
    SELECT *, CASE
        WHEN rate < 4 THEN total * 0.05
        WHEN rate < 4.5 AND rate >= 4 THEN total * 0.07
        WHEN rate < 4.9 AND rate >= 4.5 THEN total * 0.08
        WHEN rate >= 4.9 THEN total * 0.10
    END AS payout FROM main
),
u2 AS (
    SELECT * REPLACE (CASE
        WHEN rate < 4 AND payout < 100 * n THEN 100 * n
        WHEN rate < 4.5 AND rate >= 4 AND payout < 150 * n THEN 150 * n
        WHEN rate < 4.9 AND rate >= 4.5 AND payout < 175 * n THEN 175 * n
        WHEN rate >= 4.9 AND payout < 200 * n THEN 200 * n
        ELSE payout
    END AS payout) FROM u1
)
SELECT courier_name, y, m, CAST(n AS INTEGER), total, rs, rc,
       CAST(round(total * 0.25, 2) AS DECIMAL(14,2)),
       CAST(round(payout, 2) AS DECIMAL(14,2)),
       tips,
       CAST(round(payout + tips * 0.95, 2) AS DECIMAL(14,2))
FROM u2
"""


def facts_landed(api, last_run: int, dds_wm: str | None) -> int:
    """Facts the DAG lands in ``fct_deliveries`` through run ``last_run``:
    landed deliveries that pass the fact DDL gate."""
    return sum(1 for r in landed_records(api, last_run, dds_wm)[0] if _valid(r))


def _valid(r: dict) -> bool:
    return 0 <= r["rate"] <= 5 and r["sum"] >= 0 and r["tip_sum"] >= 0


def expected_state(api, last_run: int, history: dict | None, dds_wm: str | None) -> dict:
    """{'facts', 'quarantine', 'mart' (set of row tuples), 'mart_quarantine'}."""
    landed, names = landed_records(api, last_run, dds_wm)
    good = [r for r in landed if _valid(r)]
    frames = [pd.DataFrame({
        "courier_key": [r["courier_id"] for r in good],
        "order_ts": pd.to_datetime([r["order_ts"] for r in good], format=TS_FMT),
        "rating": [r["rate"] for r in good],
        "sum_cents": [cents(r["sum"]) for r in good],
        "tip_cents": [cents(r["tip_sum"]) for r in good],
    })]
    dim_names = dict(names)
    if history is not None:
        keys = np.array(sorted(history["names"]))
        frames.append(pd.DataFrame({
            "courier_key": keys[history["courier"]],
            "order_ts": pd.to_datetime(history["o_sec"], unit="s"),
            "rating": history["rating"].astype("int64"),
            "sum_cents": history["sum_cents"],
            "tip_cents": history["tip_cents"],
        }))
        dim_names = {**history["names"], **names}
    facts = pd.concat(frames, ignore_index=True)
    facts["courier_name"] = facts["courier_key"].map(dim_names)
    con = duckdb.connect()
    try:
        con.register("facts", facts)
        rows = con.sql(_MART_SQL).fetchall()
    finally:
        con.close()
    # Spark averages in double and casts HALF_UP through the double's shortest
    # decimal form, which is HALF_UP of the exact ratio at these group sizes
    mart = {
        (*r[:5], (Decimal(r[5]) / r[6]).quantize(Decimal("0.01"), ROUND_HALF_UP), *r[7:])
        for r in rows if r[6]
    }
    return {
        "facts": len(facts),
        "quarantine": len(landed) - len(good),
        "mart": mart,
        "mart_quarantine": len(rows) - len(mart),
    }


def observed_state(spark, lake) -> dict:
    from airflow_courier_payout_ledger_pipeline_spark import schemas as S

    mart = lake.read(spark, "cdm", "dm_courier_ledger", S.DM_COURIER_LEDGER_SCHEMA).collect()
    return {
        "facts": lake.read(spark, "dds", "fct_deliveries", S.FCT_DELIVERIES_SCHEMA).count(),
        "quarantine": lake.read(
            spark, "dds", "fct_deliveries_quarantine", S.FCT_DELIVERIES_QUARANTINE_SCHEMA
        ).count(),
        "mart": {
            (r.courier_name, r.settlement_year, r.settlement_month, r.orders_count,
             r.orders_total_sum, r.rate_avg, r.order_processing_fee, r.courier_order_sum,
             r.courier_tips_sum, r.courier_reward_sum)
            for r in mart
        },
        "mart_quarantine": spark.read.parquet(lake.path("cdm", "dm_courier_ledger_quarantine")).count(),
    }
