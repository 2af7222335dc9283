"""SCD0/SCD1 merge semantics — the reference's signature write pattern
(SURVEY.md §2.6), without a mutable database.

The reference relies on Postgres UNIQUE indexes + ``ON CONFLICT`` clauses:
- SCD0 insert-ignore (``modules/load_deliveries.py:59-64``,
  ``sql/timestamps_stg_to_dds.sql:10-22``, ``sql/deliveries_stg_to_dds.sql:38-43``)
- SCD1 upsert (``modules/load_couriers.py:43-49``, ``sql/couriers_stg_to_dds.sql:21-27``,
  ``sql/courier_ledger_update.sql:74-112``)

On a lakehouse these become pure dataframe algebra (Delta MERGE where available;
these helpers are the storage-agnostic core used by both paths):

- SCD0 → **left-anti join** of the increment against existing keys, then append.
- SCD1 → source wins on conflict: target-anti-source ∪ source, then overwrite
  (or Delta MERGE whenMatchedUpdate/whenNotMatchedInsert).

Scale notes: both are single-shuffle equi-joins on the business key; when the
increment is small relative to the target (the daily case), Spark broadcasts the
increment side automatically under AQE. Writes partitioned by date keep the
rewritten data bounded. Within-batch duplicate keys are resolved deterministically
(first by a stable tiebreaker), mirroring the reference's row-at-a-time loop where
the first INSERT wins (SCD0) / the last UPDATE wins (SCD1).
"""

from __future__ import annotations

from collections.abc import Sequence

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window


def _dedup_within_batch(df: DataFrame, keys: Sequence[str], tiebreaker: Column | None, keep_last: bool) -> DataFrame:
    """Deterministically keep one row per key inside a single batch."""
    if tiebreaker is None:
        return df.dropDuplicates(list(keys))
    order = tiebreaker.desc() if keep_last else tiebreaker.asc()
    w = Window.partitionBy(*keys).orderBy(order)
    return (
        df.withColumn("__rn", F.row_number().over(w)).filter(F.col("__rn") == 1).drop("__rn")
    )


def scd0_new_rows(
    increment: DataFrame,
    existing_keys: DataFrame,
    keys: Sequence[str],
    tiebreaker: Column | None = None,
) -> DataFrame:
    """SCD0 ``ON CONFLICT DO NOTHING``: rows of ``increment`` whose key is not
    already present. Append the result to the target; existing rows are never
    touched (modules/load_deliveries.py:62).

    NULL-key semantics mirror Postgres UNIQUE/ON CONFLICT: a key with any NULL
    component never conflicts with anything (NULLs are distinct under UNIQUE),
    so NULL-keyed rows always insert — neither suppressed by the anti-join
    (where a bare left_anti would KEEP them every replay while silently
    colliding them in the within-batch window, which groups NULLs as equal)
    nor collapsed within the batch. Callers that need NULL-keyed rows
    replay-safe must key on a non-NULL surrogate (e.g. the quarantine table's
    payload fingerprint)."""
    null_key = F.lit(False)
    for k in keys:
        null_key = null_key | F.col(k).isNull()
    non_null = increment.filter(~null_key)
    new_rows = non_null.join(
        existing_keys.select(*keys), on=list(keys), how="left_anti"
    )
    deduped = _dedup_within_batch(new_rows, keys, tiebreaker, keep_last=False)
    return deduped.unionByName(increment.filter(null_key))


def scd1_upsert(
    target: DataFrame,
    source: DataFrame,
    keys: Sequence[str],
    tiebreaker: Column | None = None,
) -> DataFrame:
    """SCD1 ``ON CONFLICT DO UPDATE``: source rows win on key conflict; unmatched
    target rows survive (sql/couriers_stg_to_dds.sql:21-27). Returns the new full
    state of the target (caller overwrites / MERGEs)."""
    source = _dedup_within_batch(source, keys, tiebreaker, keep_last=True)
    kept = target.join(source.select(*keys), on=list(keys), how="left_anti")
    return source.unionByName(kept)


def idempotent_append(
    increment: DataFrame, existing: DataFrame, keys: Sequence[str]
) -> DataFrame:
    """Convenience: full new state for an SCD0 target = existing ∪ never-seen rows."""
    return existing.unionByName(scd0_new_rows(increment, existing, keys))


def snapshot_diff(
    old: DataFrame,
    new: DataFrame,
    keys: Sequence[str],
    compare_cols: Sequence[str],
) -> DataFrame:
    """CDC-style reconciliation of two snapshots of one table: which keys were
    ``added``, ``removed``, or ``changed`` between versions (the read side of
    Delta Change-Data-Feed; pairs with two manifest-committed versions read
    back through ``Lakehouse.read_versioned(version=)``).
    Unchanged keys drop out, so the output is the minimal changelog that
    replays old → new through ``scd1_upsert`` + delete.

    One full-outer shuffle join on the key — at 100 TB bucket or co-partition
    both snapshots on the key so the exchange disappears; comparison is
    null-safe (``<=>``) column algebra, zero UDFs."""
    o = old.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"old_{c}") for c in compare_cols],
        F.lit(1).alias("__in_old"),
    )
    n = new.select(
        *[F.col(k) for k in keys],
        *[F.col(c).alias(f"new_{c}") for c in compare_cols],
        F.lit(1).alias("__in_new"),
    )
    j = o.join(n, on=list(keys), how="full_outer")
    changed = F.lit(False)
    for c in compare_cols:
        changed = changed | ~F.col(f"old_{c}").eqNullSafe(F.col(f"new_{c}"))
    change_type = (
        F.when(F.col("__in_old").isNull(), F.lit("added"))
        .when(F.col("__in_new").isNull(), F.lit("removed"))
        .when(changed, F.lit("changed"))
    )
    return (
        j.withColumn("change_type", change_type)
        .filter(F.col("change_type").isNotNull())
        .select(
            *keys,
            "change_type",
            *[f"old_{c}" for c in compare_cols],
            *[f"new_{c}" for c in compare_cols],
        )
    )


def scd2_from_changelog(
    changes: DataFrame,
    keys: Sequence[str],
    attr: str,
    ts_col: str,
    tiebreaker: str | None = None,
) -> DataFrame:
    """SCD2 (type-2 history) built from an attribute changelog: one validity
    interval per *distinct consecutive* attribute value, with
    ``valid_from``/``valid_to``/``is_current`` — the historical-dimension
    pattern the reference's SCD0/SCD1-only design omits
    (``DWH Design (ENG).md`` keeps no history; this is the standard extension).

    Consecutive rows with an unchanged attribute collapse into their interval's
    first row (lag compare), then ``valid_to`` = the next interval's start
    (lead) and the open interval is flagged current. All window algebra over a
    per-key ordered scan — one shuffle on the key, no self-joins, no state
    explosion: output rows = number of value CHANGES, not number of events."""
    order = [F.col(ts_col).asc()] + ([F.col(tiebreaker).asc()] if tiebreaker else [])
    w = Window.partitionBy(*keys).orderBy(*order)
    changed = (
        changes.withColumn("__prev", F.lag(F.col(attr)).over(w))
        # __first distinguishes "no previous row" from "previous value was NULL"
        # (ts is never null in a changelog, so lag(ts) NULL ⇔ first row)
        .withColumn("__first", F.lag(F.col(ts_col)).over(w).isNull())
        # the first row per key always opens an interval; later rows only when
        # the attribute actually changes (null-safe compare)
        .filter(F.col("__first") | ~F.col(attr).eqNullSafe(F.col("__prev")))
        .drop("__prev", "__first")
    )
    w2 = Window.partitionBy(*keys).orderBy(*order)
    return changed.select(
        *keys,
        F.col(attr),
        F.col(ts_col).alias("valid_from"),
        F.lead(F.col(ts_col)).over(w2).alias("valid_to"),
        F.lead(F.col(ts_col)).over(w2).isNull().alias("is_current"),
    )


def apply_changelog(
    snapshot: DataFrame,
    diff: DataFrame,
    keys: Sequence[str],
    value_cols: Sequence[str],
) -> DataFrame:
    """The WRITE side of CDC: replay a ``snapshot_diff`` changelog onto the old
    snapshot — added/changed keys take their ``new_*`` values, removed keys
    drop, untouched keys pass through. By construction
    ``apply_changelog(old, snapshot_diff(old, new), ...)`` ≡ ``new`` (the
    round-trip law, driver-hash-checked by the ``cdc_apply_roundtrip`` query),
    which is what makes ship-the-diff replication correct: a subscriber
    holding ``old`` reaches exactly ``new`` from a changelog of only the
    changed keys.

    Cost: one anti-join (touched keys out) + one union of the changelog's
    new-side — both O(snapshot + diff); with snapshots bucketed on the key the
    anti-join is co-partitioned and exchange-free, so nightly replication
    never pays a full-table shuffle."""
    touched = diff.select(*keys)
    kept = snapshot.join(touched, on=list(keys), how="left_anti")
    upserts = diff.filter(F.col("change_type").isin("added", "changed")).select(
        *[F.col(k) for k in keys],
        *[F.col(f"new_{c}").alias(c) for c in value_cols],
    )
    return kept.select(*keys, *value_cols).unionByName(upserts)
