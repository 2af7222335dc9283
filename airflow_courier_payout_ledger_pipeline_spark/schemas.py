"""Declared schemas for every layer of the lakehouse.

Mirrors the reference DDLs (see FIXTURES.md):
- API records: ``DWH Design (ENG).md:10-41``
- STG: ``sql/DDL_stg.deliverysystem_couriers.sql:5-9``,
  ``sql/DDL_stg.deliverysystem_deliveries.sql:5-10``
- DDS: ``sql/DDL_dds.dm_couriers.sql:5-9``, ``sql/DDL_dds.fct_deliveries.sql:5-17``,
  ``sql/timestamps_stg_to_dds.sql:12-19``
- CDM: ``sql/DDL_cdm.dm_courier_ledger.sql:5-18``

Money is DecimalType(14,2) end-to-end (never Double — float sums are
order-dependent and would break exact re-aggregation on a cluster). Postgres
``serial`` surrogate keys become deterministic ``xxhash64(business_key)`` BIGINTs
(stable across re-runs and partitions; no driver-side sequence bottleneck).
Postgres ``time`` has no Spark equivalent → 'HH:mm:ss' string.
"""

from __future__ import annotations

from pyspark.sql.types import (
    ArrayType,
    DateType,
    DecimalType,
    IntegerType,
    LongType,
    ShortType,
    StringType,
    StructField,
    StructType,
    TimestampType,
)

MONEY = DecimalType(14, 2)

# --- Raw API records (bronze input) -------------------------------------------------

# GET /couriers — DWH Design (ENG).md:12-20
COURIER_API_SCHEMA = StructType(
    [
        StructField("_id", StringType(), False),
        StructField("name", StringType(), False),
    ]
)

# GET /deliveries — DWH Design (ENG).md:22-37
DELIVERY_API_SCHEMA = StructType(
    [
        StructField("order_id", StringType(), False),
        StructField("order_ts", TimestampType(), False),
        StructField("delivery_id", StringType(), False),
        StructField("courier_id", StringType(), False),
        StructField("address", StringType(), True),
        StructField("delivery_ts", TimestampType(), False),
        StructField("rate", ShortType(), False),  # 0..5; 0 = "not rated"
        StructField("sum", MONEY, False),
        StructField("tip_sum", MONEY, False),
    ]
)

# --- STG (bronze): typed key columns + full JSON payload ----------------------------

STG_COURIERS_SCHEMA = StructType(
    [
        StructField("courier_key", StringType(), False),
        StructField("json_response", StringType(), False),
    ]
)

STG_DELIVERIES_SCHEMA = StructType(
    [
        StructField("delivery_key", StringType(), False),
        StructField("delivery_ts", TimestampType(), False),
        StructField("json_response", StringType(), False),
    ]
)

# --- DDS (silver): snowflake dims + fact --------------------------------------------

DM_COURIERS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("courier_key", StringType(), False),
        StructField("courier_name", StringType(), False),
    ]
)

DM_ORDERS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("order_key", StringType(), False),
        StructField("timestamp_id", LongType(), False),
    ]
)

DM_TIMESTAMPS_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("ts", TimestampType(), False),
        StructField("year", ShortType(), False),
        StructField("month", ShortType(), False),
        StructField("day", ShortType(), False),
        StructField("time", StringType(), False),  # Postgres TIME → 'HH:mm:ss'
        StructField("date", DateType(), False),
    ]
)

FCT_DELIVERIES_SCHEMA = StructType(
    [
        StructField("id", LongType(), False),
        StructField("delivery_key", StringType(), False),
        StructField("order_id", LongType(), False),
        StructField("timestamp_id", LongType(), False),
        StructField("order_sum", MONEY, False),
        StructField("courier_id", LongType(), False),
        StructField("rating", ShortType(), False),
        StructField("tips", MONEY, False),
    ]
)

#: fct rows rejected by the DDL gate (fact_checks), with their violation report —
#: the lakehouse twin of a row the reference's CHECK constraints would abort on
#: (sql/DDL_dds.fct_deliveries.sql:14-21)
FCT_DELIVERIES_QUARANTINE_SCHEMA = StructType(
    [
        *FCT_DELIVERIES_SCHEMA.fields,
        StructField("violations", ArrayType(StringType()), False),
        # replay-safe row identity: md5 of the full violating payload —
        # delivery_key alone cannot key the table (it may be NULL, the very
        # violation the not_null check catches, and NULL never anti-joins)
        StructField("q_fingerprint", StringType(), False),
    ]
)

# --- CDM (gold): monthly settlement mart --------------------------------------------

DM_COURIER_LEDGER_SCHEMA = StructType(
    [
        StructField("courier_id", StringType(), False),
        StructField("courier_name", StringType(), False),
        StructField("settlement_year", ShortType(), False),
        StructField("settlement_month", ShortType(), False),
        StructField("orders_count", IntegerType(), False),
        StructField("orders_total_sum", MONEY, False),
        StructField("rate_avg", DecimalType(3, 2), True),
        StructField("order_processing_fee", MONEY, False),
        StructField("courier_order_sum", MONEY, True),
        StructField("courier_tips_sum", MONEY, False),
        StructField("courier_reward_sum", MONEY, True),
    ]
)
