"""SCD0/SCD1 merge semantics: idempotency, conflict resolution, within-batch dedup
(SURVEY.md §2.6, modules/load_couriers.py:43-49, modules/load_deliveries.py:59-64)."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_courier_payout_ledger_pipeline_spark.operators.merge import (
    idempotent_append,
    scd0_new_rows,
    scd1_upsert,
)


def _df(spark, rows, schema="k string, v string, ts int"):
    return spark.createDataFrame(rows, schema)


def test_scd0_skips_existing_keys(spark):
    existing = _df(spark, [("a", "old", 1)])
    inc = _df(spark, [("a", "new", 2), ("b", "fresh", 2)])
    out = {r.k: r.v for r in scd0_new_rows(inc, existing, ["k"]).collect()}
    assert out == {"b": "fresh"}  # 'a' silently ignored (ON CONFLICT DO NOTHING)


def test_scd0_within_batch_first_wins(spark):
    inc = _df(spark, [("a", "first", 1), ("a", "second", 2)])
    empty = _df(spark, [], "k string, v string, ts int")
    out = scd0_new_rows(inc, empty, ["k"], tiebreaker=F.col("ts")).collect()
    assert [(r.k, r.v) for r in out] == [("a", "first")]


def test_scd0_idempotent(spark):
    """Running the same promotion twice changes nothing (SURVEY.md §5.2)."""
    existing = _df(spark, [("a", "v1", 1)])
    inc = _df(spark, [("b", "v2", 2)])
    once = idempotent_append(inc, existing, ["k"])
    twice = idempotent_append(inc, once, ["k"])
    assert sorted((r.k, r.v) for r in twice.collect()) == [("a", "v1"), ("b", "v2")]


def test_scd1_source_wins_target_survives(spark):
    target = _df(spark, [("a", "stale", 1), ("c", "keep", 1)])
    source = _df(spark, [("a", "fresh", 2), ("b", "new", 2)])
    out = {r.k: r.v for r in scd1_upsert(target, source, ["k"]).collect()}
    assert out == {"a": "fresh", "b": "new", "c": "keep"}


def test_scd1_within_batch_last_wins(spark):
    target = _df(spark, [], "k string, v string, ts int")
    source = _df(spark, [("a", "early", 1), ("a", "late", 2)])
    out = scd1_upsert(target, source, ["k"], tiebreaker=F.col("ts")).collect()
    assert [(r.k, r.v) for r in out] == [("a", "late")]


def test_scd1_idempotent(spark):
    target = _df(spark, [("a", "stale", 1)])
    source = _df(spark, [("a", "fresh", 2)])
    once = scd1_upsert(target, source, ["k"])
    twice = scd1_upsert(once, source, ["k"])
    assert {(r.k, r.v) for r in twice.collect()} == {("a", "fresh")}


def test_partitioned_merge_rewrites_only_affected_partitions(spark, tmp_path):
    """merge_upsert_partitioned = Delta-MERGE-with-pruning on plain parquet:
    the increment's partitions are merged and swapped, every other partition
    directory keeps its exact files (same inodes — never rewritten)."""
    import os

    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, d int")
    seed = _df(spark, [("a", "v1", 1), ("b", "v1", 2), ("c", "v1", 3)], "k string, v string, d int")
    assert sorted(lake.merge_upsert_partitioned(spark, seed, "dds", "t", schema, ["k"], "d")) == [1, 2, 3]

    d1 = tmp_path / "dds" / "t" / "d=1"
    before = {p: os.stat(p).st_ino for p in d1.rglob("*.parquet")}
    assert before

    inc = _df(spark, [("b", "v2", 2), ("x", "new", 4)], "k string, v string, d int")
    assert sorted(lake.merge_upsert_partitioned(spark, inc, "dds", "t", schema, ["k"], "d")) == [2, 4]

    out = {(r.k): (r.v, r.d) for r in lake.read(spark, "dds", "t", schema).collect()}
    assert out == {"a": ("v1", 1), "b": ("v2", 2), "c": ("v1", 3), "x": ("new", 4)}
    after = {p: os.stat(p).st_ino for p in d1.rglob("*.parquet")}
    assert after == before  # untouched partition: identical files, never rewritten

    # idempotent re-run (crash-replay): same increment converges to same state
    lake.merge_upsert_partitioned(spark, inc, "dds", "t", schema, ["k"], "d")
    again = {(r.k): (r.v, r.d) for r in lake.read(spark, "dds", "t", schema).collect()}
    assert again == out


def test_compaction_collapses_small_files_keeps_data(spark, tmp_path):
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k long, v string")
    for i in range(8):  # 8 appends -> >= 8 files
        lake.append(
            spark.createDataFrame([(i * 10 + j, f"v{i}-{j}") for j in range(5)], schema).coalesce(1),
            "stg",
            "small",
        )
    import pathlib

    root = pathlib.Path(lake.path("stg", "small"))
    before_files = len(list(root.rglob("*.parquet")))
    assert before_files >= 8
    before = sorted((r.k, r.v) for r in lake.read(spark, "stg", "small", schema).collect())

    lake.compact(spark, "stg", "small", schema)
    after_files = len(list(root.rglob("*.parquet")))
    after = sorted((r.k, r.v) for r in lake.read(spark, "stg", "small", schema).collect())
    assert after == before
    assert after_files == 1  # tiny table -> single 128MB-target file


def test_write_sorted_orders_rows_within_files(spark, tmp_path):
    import pathlib

    import pyarrow.parquet as pq
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k long, v string")
    df = spark.createDataFrame([( (i * 37) % 100, f"v{i}") for i in range(100)], schema).repartition(4)
    lake.write_sorted(df, "dds", "sorted_t", ["k"])
    files = list(pathlib.Path(lake.path("dds", "sorted_t")).rglob("*.parquet"))
    assert files
    for f in files:
        ks = pq.read_table(str(f), columns=["k"]).column("k").to_pylist()
        assert ks == sorted(ks)  # row-group min/max stats are tight per file
    got = sorted((r.k, r.v) for r in lake.read(spark, "dds", "sorted_t", schema).collect())
    assert len(got) == 100


def test_generic_upsert_autodetects_partitioning_and_prunes(spark, tmp_path):
    """upsert_scd1 is THE generic SCD1 entry point: against a table laid out
    with Hive ``col=value`` dirs it detects the partition column itself and
    routes to the pruned merge — an increment touching 1 month rewrites exactly
    1 partition directory; the others keep their exact files."""
    import os

    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, month int")
    seed = _df(
        spark,
        [("a", "v1", 1), ("b", "v1", 2), ("c", "v1", 3)],
        "k string, v string, month int",
    )
    lake.overwrite(seed, "cdm", "mart", partition_by=["month"])
    assert lake.detect_partition_col("cdm", "mart") == "month"

    untouched = {
        p: os.stat(p).st_ino
        for m in (1, 3)
        for p in (tmp_path / "cdm" / "mart" / f"month={m}").rglob("*.parquet")
    }
    assert untouched

    touched_before = {
        os.stat(p).st_ino
        for p in (tmp_path / "cdm" / "mart" / "month=2").rglob("*.parquet")
    }
    inc = _df(spark, [("b", "v2", 2)], "k string, v string, month int")
    parts = lake.upsert_scd1(spark, inc, "cdm", "mart", schema, ["k", "month"])
    assert parts == [2]  # exactly the touched month

    out = {r.k: (r.v, r.month) for r in lake.read(spark, "cdm", "mart", schema).collect()}
    assert out == {"a": ("v1", 1), "b": ("v2", 2), "c": ("v1", 3)}
    after = {
        p: os.stat(p).st_ino
        for m in (1, 3)
        for p in (tmp_path / "cdm" / "mart" / f"month={m}").rglob("*.parquet")
    }
    assert after == untouched  # months 1 and 3 never rewritten
    # ...and the ONE touched partition dir really was rewritten (fresh inodes):
    # a pruning regression in either direction fails one of these two asserts
    touched_after = {
        os.stat(p).st_ino
        for p in (tmp_path / "cdm" / "mart" / "month=2").rglob("*.parquet")
    }
    assert touched_after and touched_after.isdisjoint(touched_before)


def test_generic_upsert_falls_back_to_full_swap_when_unpartitioned(spark, tmp_path):
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, month int")
    seed = _df(spark, [("a", "v1", 1)], "k string, v string, month int")
    lake.overwrite(seed, "dds", "dim")
    assert lake.detect_partition_col("dds", "dim") is None

    inc = _df(spark, [("a", "v2", 1), ("b", "new", 2)], "k string, v string, month int")
    assert lake.upsert_scd1(spark, inc, "dds", "dim", schema, ["k"]) == []
    out = {r.k: r.v for r in lake.read(spark, "dds", "dim", schema).collect()}
    assert out == {"a": "v2", "b": "new"}


def test_snapshot_diff_changelog(spark):
    from airflow_courier_payout_ledger_pipeline_spark.operators.merge import snapshot_diff

    old = _df(spark, [("a", "same", 1), ("b", "was", 1), ("c", "gone", 1), ("n", None, 1)])
    new = _df(spark, [("a", "same", 1), ("b", "now", 1), ("d", "born", 1), ("n", None, 1)])
    out = {
        r.k: (r.change_type, r.old_v, r.new_v)
        for r in snapshot_diff(old, new, ["k"], ["v"]).collect()
    }
    # unchanged keys (incl. the null-valued one — null-safe compare) drop out
    assert out == {
        "b": ("changed", "was", "now"),
        "c": ("removed", "gone", None),
        "d": ("added", None, "born"),
    }


def test_snapshot_diff_null_transition_is_changed(spark):
    from airflow_courier_payout_ledger_pipeline_spark.operators.merge import snapshot_diff

    old = _df(spark, [("a", None, 1)])
    new = _df(spark, [("a", "filled", 1)])
    [r] = snapshot_diff(old, new, ["k"], ["v"]).collect()
    assert (r.change_type, r.old_v, r.new_v) == ("changed", None, "filled")


def test_schema_evolution_additive_columns(spark, tmp_path):
    """Appending files with a NEW nullable column must not require rewriting
    history: read_evolved unions footer schemas and backfills NULL."""
    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    v1 = spark.createDataFrame([("a", 1)], "k string, v int")
    lake.append(v1, "dds", "evolving")
    v2 = spark.createDataFrame([("b", 2, "fresh")], "k string, v int, note string")
    lake.append(v2, "dds", "evolving")

    out = {r.k: (r.v, r.note) for r in lake.read_evolved(spark, "dds", "evolving").collect()}
    assert out == {"a": (1, None), "b": (2, "fresh")}


def test_scd2_collapses_consecutive_duplicates(spark):
    from airflow_courier_payout_ledger_pipeline_spark.operators.merge import (
        scd2_from_changelog,
    )

    rows = [
        ("u", "a", 1, 10),
        ("u", "a", 2, 11),  # unchanged -> collapses into the first interval
        ("u", "b", 3, 12),
        ("u", None, 4, 13),  # value -> NULL is a real change
        ("u", None, 5, 14),  # NULL -> NULL is not
        ("u", "a", 6, 15),
    ]
    df = spark.createDataFrame(rows, "k string, v string, ts int, eid int")
    out = [
        (r.v, r.valid_from, r.valid_to, r.is_current)
        for r in scd2_from_changelog(df, ["k"], "v", "ts", tiebreaker="eid")
        .orderBy("valid_from")
        .collect()
    ]
    assert out == [
        ("a", 1, 3, False),
        ("b", 3, 4, False),
        (None, 4, 6, False),
        ("a", 6, None, True),
    ]


def test_delete_keys_unpartitioned(spark, tmp_path):
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, month int")
    lake.overwrite(
        _df(spark, [("a", "x", 1), ("b", "y", 1), ("c", "z", 2)], "k string, v string, month int"),
        "dds", "t",
    )
    gone = spark.createDataFrame([("b",), ("nope",)], "k string")
    assert lake.delete_keys(spark, "dds", "t", schema, gone, ["k"]) == 1
    assert {r.k for r in lake.read(spark, "dds", "t", schema).collect()} == {"a", "c"}


def test_delete_keys_partition_pruned(spark, tmp_path):
    """Erasure carrying the partition column rewrites ONLY touched partitions —
    untouched month dirs keep their exact files."""
    import os

    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, month int")
    lake.overwrite(
        _df(spark, [("a", "x", 1), ("b", "y", 2), ("c", "z", 3)], "k string, v string, month int"),
        "dds", "t", partition_by=["month"],
    )
    untouched = {
        p: os.stat(p).st_ino
        for m in (1, 3)
        for p in (tmp_path / "dds" / "t" / f"month={m}").rglob("*.parquet")
    }
    gone = spark.createDataFrame([("b", 2)], "k string, month int")
    assert lake.delete_keys(spark, "dds", "t", schema, gone, ["k"]) == 1
    out = {r.k for r in lake.read(spark, "dds", "t", schema).collect()}
    assert out == {"a", "c"}
    after = {
        p: os.stat(p).st_ino
        for m in (1, 3)
        for p in (tmp_path / "dds" / "t" / f"month={m}").rglob("*.parquet")
    }
    assert after == untouched


def test_delete_keys_hive_escaped_partition_values(spark, tmp_path):
    """Partition values Spark Hive-escapes in dir names (':' -> %3A) must still
    be found and deleted — dir names are derived from what Spark wrote, never
    reconstructed from Python values (a naive f'{col}={val}' would silently
    no-op while reporting a positive removed count)."""
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, hour string")
    lake.overwrite(
        _df(
            spark,
            [("a", "x", "2024-01-01 10:00"), ("b", "y", "2024-01-01 10:00"), ("c", "z", "2024-01-01 11:00")],
            "k string, v string, hour string",
        ),
        "dds", "t", partition_by=["hour"],
    )
    # the ':' really is escaped on disk — the f-string dir name would not exist
    assert not (tmp_path / "dds" / "t" / "hour=2024-01-01 10:00").exists()
    gone = spark.createDataFrame([("b", "2024-01-01 10:00")], "k string, hour string")
    assert lake.delete_keys(spark, "dds", "t", schema, gone, ["k"]) == 1
    out = {r.k for r in lake.read(spark, "dds", "t", schema).collect()}
    assert out == {"a", "c"}


def test_delete_keys_full_partition_erasure_removes_dir(spark, tmp_path):
    """Deleting every row of a partition removes its directory (no stale data),
    and the removed count reflects the post-swap state."""
    import os

    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, month int")
    lake.overwrite(
        _df(spark, [("a", "x", 1), ("b", "y", 1), ("c", "z", 2)], "k string, v string, month int"),
        "dds", "t", partition_by=["month"],
    )
    keep = {
        p: os.stat(p).st_ino
        for p in (tmp_path / "dds" / "t" / "month=2").rglob("*.parquet")
    }
    gone = spark.createDataFrame([("a", 1), ("b", 1)], "k string, month int")
    assert lake.delete_keys(spark, "dds", "t", schema, gone, ["k"]) == 2
    assert not (tmp_path / "dds" / "t" / "month=1").exists()
    assert {r.k for r in lake.read(spark, "dds", "t", schema).collect()} == {"c"}
    after = {
        p: os.stat(p).st_ino
        for p in (tmp_path / "dds" / "t" / "month=2").rglob("*.parquet")
    }
    assert after == keep  # untouched partition never rewritten
    # no stash/tmp litter after a clean run
    assert not list(tmp_path.glob("dds/*__stash*")) and not list(tmp_path.glob("dds/*__tmp*"))


def test_detect_partition_col_ignores_versioned_snapshot_dirs(spark, tmp_path):
    """A manifest-committed table's v=N snapshot dirs look Hive-partitioned;
    detection must return None (routing an upsert to the pruned path would
    corrupt the snapshot layout — especially when the data itself has a
    column named 'v')."""
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, ts int")
    df = _df(spark, [("a", "x", 1)])
    lake.commit_multi([(df, "dds", "snap")])
    assert lake.detect_partition_col("dds", "snap") is None
    # the flat upsert path must REFUSE a versioned table outright (a flat read
    # would union every snapshot; a flat overwrite would destroy the layout)
    inc = _df(spark, [("a", "y", 2)])
    with pytest.raises(ValueError, match="versioned table"):
        lake.upsert_scd1(spark, inc, "dds", "snap", schema, ["k"])
    # a sibling non-versioned table still takes the normal full-swap path
    assert lake.upsert_scd1(spark, inc, "dds", "snap2", schema, ["k"]) == []
    # the versioned-safe upsert shape works and preserves time travel
    merged = spark.createDataFrame([("a", "y", 2)], schema)
    lake.commit_multi(
        [(scd1_upsert(lake.read_committed(spark, "dds", "snap", schema), merged, ["k"]),
          "dds", "snap")]
    )
    assert lake.versions("dds", "snap") == [0, 1]
    assert {r.v for r in lake.read_committed(spark, "dds", "snap", schema).collect()} == {"y"}
    assert {r.v for r in lake.read_versioned(spark, "dds", "snap", schema, version=0).collect()} == {"x"}


@pytest.mark.parametrize("op", ["merge_upsert_partitioned", "delete_keys"])
def test_partition_swap_failure_rolls_back_every_partition(spark, tmp_path, op):
    """The partition swap behind both partition-pruned writers: when the
    second partition's swap-in fails, the partition already swapped is put
    back too, so the table reads its pre-state, no staging or stash dir is
    left, and a rerun converges."""
    from pathlib import Path
    from unittest import mock

    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources import lakehouse as L

    lake = L.Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, month int")
    lake.overwrite(
        _df(spark, [("a", "x", 1), ("b", "y", 1), ("c", "z", 2), ("d", "w", 2)],
            "k string, v string, month int"),
        "dds", "t", partition_by=["month"],
    )

    def rows():
        return sorted(tuple(r) for r in lake.read(spark, "dds", "t", schema).collect())

    pre = rows()

    def run():
        if op == "merge_upsert_partitioned":
            inc = _df(spark, [("a", "x2", 1), ("c", "z2", 2)], "k string, v string, month int")
            lake.merge_upsert_partitioned(spark, inc, "dds", "t", schema, ["k"], "month")
        else:
            gone = spark.createDataFrame([("a", 1), ("c", 2)], "k string, month int")
            lake.delete_keys(spark, "dds", "t", schema, gone, ["k"], partition_col="month")

    real_rename = Path.rename

    def rename(self, target):
        if self.name == "month=2" and "__tmp_" in self.parent.name:
            raise RuntimeError("kill")
        return real_rename(self, target)

    with pytest.raises(RuntimeError, match="kill"), mock.patch.object(
        L.Path, "rename", autospec=True, side_effect=rename
    ):
        run()
    assert rows() == pre
    assert not list(tmp_path.glob("dds/*__stash*")) and not list(tmp_path.glob("dds/*__tmp*"))

    run()
    expected = {
        "merge_upsert_partitioned": [("a", "x2", 1), ("b", "y", 1), ("c", "z2", 2), ("d", "w", 2)],
        "delete_keys": [("b", "y", 1), ("d", "w", 2)],
    }[op]
    assert rows() == expected
    assert not list(tmp_path.glob("dds/*__stash*")) and not list(tmp_path.glob("dds/*__tmp*"))


def test_delete_keys_null_partition_value(spark, tmp_path):
    """Erasure rows whose partition value is NULL must reach the
    __HIVE_DEFAULT_PARTITION__ directory (isin() never matches NULL — a naive
    predicate silently under-deletes)."""
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType.fromDDL("k string, v string, month string")
    lake.overwrite(
        _df(spark, [("a", "x", "m1"), ("b", "y", None), ("c", "z", None)],
            "k string, v string, month string"),
        "dds", "t", partition_by=["month"],
    )
    assert (tmp_path / "dds" / "t" / "month=__HIVE_DEFAULT_PARTITION__").exists()
    gone = spark.createDataFrame([("b", None)], "k string, month string")
    assert lake.delete_keys(spark, "dds", "t", schema, gone, ["k"]) == 1
    out = {r.k for r in lake.read(spark, "dds", "t", schema).collect()}
    assert out == {"a", "c"}
