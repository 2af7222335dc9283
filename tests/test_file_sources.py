"""CSV/JSONL ingest sources: declared schemas, corrupt-record capture, clean
split for quarantine promotion."""

from __future__ import annotations

import pytest
from pyspark.sql.types import StructType

from airflow_courier_payout_ledger_pipeline_spark.sources.files import (
    read_csv,
    read_jsonl,
    split_corrupt,
)

def _schema():
    # fromDDL needs an active session — build lazily inside tests
    return StructType.fromDDL("delivery_key string, sum double")


def test_jsonl_captures_corrupt_lines(spark, tmp_path):
    SCHEMA = _schema()
    p = tmp_path / "feed.jsonl"
    p.write_text(
        '{"delivery_key": "d1", "sum": 10.5}\n'
        "this is not json at all\n"
        '{"delivery_key": "d2", "sum": 7.25}\n'
    )
    df = read_jsonl(spark, str(p), SCHEMA)
    clean, bad = split_corrupt(df)
    assert {(r.delivery_key, r.sum) for r in clean.collect()} == {("d1", 10.5), ("d2", 7.25)}
    assert clean.columns == ["delivery_key", "sum"]
    bad_rows = bad.collect()
    assert len(bad_rows) == 1 and "not json" in bad_rows[0]._corrupt_record


def test_csv_declared_schema_and_corrupt_capture(spark, tmp_path):
    SCHEMA = _schema()
    p = tmp_path / "feed.csv"
    p.write_text("delivery_key,sum\nd1,10.5\nd2,not_a_number\nd3,7.25\n")
    clean, bad = split_corrupt(read_csv(spark, str(p), SCHEMA))
    assert {(r.delivery_key, r.sum) for r in clean.collect()} == {("d1", 10.5), ("d3", 7.25)}
    # collect, not count: corrupt-column-only queries are unsupported by Spark
    assert len(bad.collect()) == 1  # the unparseable 'sum' lands in quarantine


def test_orc_roundtrip_with_pruning(spark, tmp_path):
    """ORC interchange: roundtrip preserves values, and a projection prunes
    columns at the scan (ReadSchema excludes the unused column)."""
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.files import (
        read_orc,
        write_orc,
    )

    schema = StructType.fromDDL("k string, v int, extra string")
    df = spark.createDataFrame(
        [("a", 1, "x"), ("b", 2, "y")], schema
    )
    path = str(tmp_path / "t.orc")
    write_orc(df, path)
    back = read_orc(spark, path, schema)
    assert {(r.k, r.v, r.extra) for r in back.collect()} == {("a", 1, "x"), ("b", 2, "y")}
    phys = back.select("k")._jdf.queryExecution().executedPlan().toString()
    assert "extra" not in phys.split("ReadSchema")[-1]


def test_multi_table_commit_manifest_crash_window(spark, tmp_path):
    """M3 multi-write atomicity (SURVEY §2.6, r11 verdict item 6): facts and
    watermark stage as invisible snapshots and publish via ONE manifest
    pointer flip — a crash ANYWHERE between the two table writes (or after
    both, before the flip) leaves manifest readers on the old CONSISTENT
    pair, never new facts with an old watermark."""
    from pyspark.sql.types import (
        LongType,
        StringType,
        StructField,
        StructType,
    )

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    facts_schema = StructType([StructField("delivery_key", LongType())])
    wm_schema = StructType([StructField("cursor", StringType())])

    def facts(n):
        return spark.createDataFrame([(i,) for i in range(n)], facts_schema)

    def wm(c):
        return spark.createDataFrame([(c,)], wm_schema)

    def read_pair():
        f = lake.read_committed(spark, "dds", "fct", facts_schema).count()
        w = [r.cursor for r in lake.read_committed(spark, "dds", "wm", wm_schema).collect()]
        return f, w

    # tables never committed through a manifest read empty
    assert read_pair() == (0, [])

    # transaction 1 commits atomically
    lake.commit_multi([(facts(3), "dds", "fct"), (wm("day1"), "dds", "wm")])
    assert read_pair() == (3, ["day1"])

    # crash window A: facts for day2 staged, process dies before the
    # watermark write — readers still see the day1 pair
    staged_facts = lake.stage_version(facts(7), "dds", "fct")
    assert read_pair() == (3, ["day1"])

    # crash window B: both tables staged, dies before the manifest flip
    staged_wm = lake.stage_version(wm("day2"), "dds", "wm")
    assert read_pair() == (3, ["day1"])

    # crash window C: manifest FILE written but pointer not flipped (the
    # rename is the commit point) — still the old pair
    import json

    nxt = (lake.current_manifest_id() or 0) + 1
    (tmp_path / "_commits" / f"m={nxt}.json").write_text(
        json.dumps({"dds/fct": staged_facts, "dds/wm": staged_wm})
    )
    assert read_pair() == (3, ["day1"])

    # the replayed job re-commits: one atomic flip publishes the day2 pair
    lake.commit_manifest({("dds", "fct"): staged_facts, ("dds", "wm"): staged_wm})
    assert read_pair() == (7, ["day2"])

    # vacuum never drops a manifest-referenced snapshot, and a new snapshot
    # skips past staged-but-unpublished version numbers (no collision)
    lake.vacuum("dds", "fct", keep_last=1)
    assert read_pair()[0] == 7
    orphan = lake.stage_version(facts(1), "dds", "fct")
    assert lake.stage_version(facts(2), "dds", "fct") > orphan > staged_facts
    assert read_pair()[0] == 7


def test_commit_manifest_concurrent_committer_fails_loudly(spark, tmp_path, monkeypatch):
    """Two concurrent committers must never silently lose a transaction (r15
    verdict item 4): before the guard, both computed ``mid = cur + 1``, the
    second write_text overwrote the first's manifest file, and the pointer
    flip discarded it. Now the LOSING committer withdraws its stale-merged
    file and raises ConcurrentCommitError; a retry against the new current
    manifest lands BOTH transactions' tables."""
    from pyspark.sql.types import LongType, StructField, StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import (
        ConcurrentCommitError,
        Lakehouse,
    )

    schema = StructType([StructField("x", LongType())])

    def df(v):
        return spark.createDataFrame([(v,)], schema)

    # two handles on the same root — stands for two processes
    lake_a, lake_b = Lakehouse(str(tmp_path)), Lakehouse(str(tmp_path))
    lake_a.commit_multi([(df(0), "dds", "a")])  # manifest 0
    v_a = lake_a.stage_version(df(1), "dds", "a")
    v_b = lake_b.stage_version(df(2), "dds", "b")

    # interleave deterministically: B's WHOLE commit lands inside A's commit
    # window, right after A reads its merge base — the lost-update schedule
    real = lake_a.current_manifest_id
    state = {"fired": False}

    def base_read_then_b_commits():
        mid = real()
        if not state["fired"]:
            state["fired"] = True
            lake_b.commit_manifest({("dds", "b"): v_b})
        return mid

    monkeypatch.setattr(lake_a, "current_manifest_id", base_read_then_b_commits)
    with pytest.raises(ConcurrentCommitError, match="pointer moved"):
        lake_a.commit_manifest({("dds", "a"): v_a})

    # B's transaction survived intact; A's stale-merged file was withdrawn
    assert lake_a.current_manifest_id() == 1
    assert lake_b.read_committed(spark, "dds", "b", schema).collect()[0].x == 2
    assert not (tmp_path / "_commits" / "m=2.json").exists()
    # A's staged snapshot is still invisible (not silently published)
    assert lake_b.read_committed(spark, "dds", "a", schema).collect()[0].x == 0

    # the documented recovery: re-commit against the new current manifest —
    # both transactions' tables are present afterwards (no lost tables)
    lake_a.commit_manifest({("dds", "a"): v_a})
    assert lake_a.read_committed(spark, "dds", "a", schema).collect()[0].x == 1
    assert lake_a.read_committed(spark, "dds", "b", schema).collect()[0].x == 2


def test_vacuum_commits_reclaims_aged_orphans_not_published_history(spark, tmp_path):
    """A crashed commit's ``m=N.json`` (file written, pointer never flipped)
    must not collide with the next commit, must never count toward
    keep_last, and must eventually be reclaimed — by VACUUM behind an age
    gate, never by the next commit (r16 advice item 1: the pre-flip sweep
    could unlink a concurrent committer's in-flight manifest and dangle the
    pointer). Published = the __base__ chain from the pointer, so the
    orphan is identifiable structurally even after it lands below newer
    commits' ids."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    schema = StructType([StructField("x", LongType())])
    lake = Lakehouse(str(tmp_path))
    lake.commit_multi([(spark.createDataFrame([(0,)], schema), "dds", "t")])
    # crash debris: manifest file 1 exists, pointer still at 0
    (tmp_path / "_commits" / "m=1.json").write_text(json.dumps({"dds/t": 99}))
    mid = lake.commit_multi([(spark.createDataFrame([(5,)], schema), "dds", "t")])
    assert mid == 2  # skipped past the orphan, never overwrote it
    # the COMMIT deletes nothing — at commit time the debris is
    # indistinguishable from a concurrent committer's in-flight file
    assert (tmp_path / "_commits" / "m=1.json").exists()
    assert lake.read_committed(spark, "dds", "t", schema).collect()[0].x == 5
    assert lake._published_chain() == [0, 2]

    # retention counts only CHAIN manifests toward keep_last: {m=0, m=2, m=3}
    # are the published history, the below-pointer orphan m=1 displaces
    # nothing — and a FRESH orphan survives the sweep (it may be mid-flight)
    lake.commit_multi([(spark.createDataFrame([(7,)], schema), "dds", "t")])
    assert lake.vacuum_commits(keep_last=2) == [0]
    assert sorted(
        int(p.stem[2:]) for p in (tmp_path / "_commits").glob("m=*.json")
    ) == [1, 2, 3]
    # once aged past the threshold it is provably-unpublished debris: gone
    assert lake.vacuum_commits(keep_last=2, orphan_age_s=0.0) == [1]
    assert sorted(
        int(p.stem[2:]) for p in (tmp_path / "_commits").glob("m=*.json")
    ) == [2, 3]
    # and the orphan's aborted staged ref was never pinned by _manifest_refs
    assert 99 not in lake._manifest_refs("dds", "t")


def test_vacuum_commits_sweeps_pre_chain_era_unverifiable_manifests(tmp_path):
    """Transition case (r16 verdict item 5): manifests written before the
    __base__ chain link cannot prove they were pointer-published. The
    current pointer target is trusted (it IS published) and terminates the
    chain; anything below it that the chain cannot reach is treated as
    debris — it never counts toward keep_last, and an aged sweep reclaims
    it. This is the one-time transition sweep, age-gated like any orphan."""
    import json

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    mdir = tmp_path / "_commits"
    mdir.mkdir(parents=True)
    # pre-chain era: two manifests, no __base__ key, pointer at 1
    (mdir / "m=0.json").write_text(json.dumps({"dds/t": 0}))
    (mdir / "m=1.json").write_text(json.dumps({"dds/t": 1}))
    (mdir / "_LATEST").write_text("1")
    assert lake._published_chain() == [1]  # legacy terminator: itself only
    # fresh files survive (the age gate protects any conceivable in-flight
    # writer); keep_last counts only the verifiable chain
    assert lake.vacuum_commits(keep_last=2) == []
    assert lake.vacuum_commits(keep_last=2, orphan_age_s=0.0) == [0]
    assert lake.current_manifest() == {"dds/t": 1}


def test_vacuum_commits_keeps_current_and_newest(spark, tmp_path):
    from pyspark.sql.types import LongType, StructField, StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType([StructField("x", LongType())])
    for i in range(4):
        lake.commit_multi([(spark.createDataFrame([(i,)], schema), "dds", "t")])
    assert lake.current_manifest_id() == 3
    removed = lake.vacuum_commits(keep_last=2)
    assert removed == [0, 1]
    # current manifest still resolves
    assert lake.read_committed(spark, "dds", "t", schema).collect()[0].x == 3


def test_vacuum_ignores_staged_orphans_for_retention(spark, tmp_path):
    """A staged-but-uncommitted snapshot must neither consume the keep_last
    horizon (deleting real committed history) nor be deleted by default
    (it may be a mid-flight commit); drop_staged=True reclaims it."""
    from pyspark.sql.types import LongType, StructField, StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType([StructField("x", LongType())])

    def df(i):
        return spark.createDataFrame([(i,)], schema)

    for i in range(4):  # committed v=0..3 via the manifest
        lake.commit_multi([(df(i), "dds", "t")])
    orphan = lake.stage_version(df(99), "dds", "t")  # crash before the flip
    # every retained manifest (m=0..3) pins its referenced version: nothing
    # to drop until the manifest horizon shrinks (Delta VACUUM-vs-checkpoint
    # coupling)
    assert lake.vacuum("dds", "t", keep_last=2) == []
    lake.vacuum_commits(keep_last=2)  # releases m=0,1 → v=0,1 unpinned
    removed = lake.vacuum("dds", "t", keep_last=2)
    # horizon counts PUBLISHED versions only: v=2,3 kept (and still pinned
    # by the retained m=2,3), v=0,1 dropped, the orphan survives by default
    assert removed == [0, 1]
    assert lake.versions("dds", "t") == [2, 3, orphan]
    assert lake.read_committed(spark, "dds", "t", schema).collect()[0].x == 3
    # explicit reclaim drops the orphan, never published history
    assert lake.vacuum("dds", "t", keep_last=2, drop_staged=True) == [orphan]
    assert lake.versions("dds", "t") == [2, 3]


def test_vacuum_keeps_every_retained_manifest_readable(spark, tmp_path):
    """Per-table vacuum must protect the versions referenced by EVERY
    manifest file still present in _commits (not just the current one) —
    otherwise a retained non-current manifest could reference versions
    vacuum just deleted, and time-travel reads through it would fail even
    though the manifest survived vacuum_commits. A crashed commit's orphan
    m=N.json (id above the pointer) must NOT pin its staged versions."""
    import json

    from pyspark.sql.types import LongType, StructField, StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType([StructField("x", LongType())])

    def df(i):
        return spark.createDataFrame([(i,)], schema)

    for i in range(5):  # manifests m=0..4 referencing v=0..4
        lake.commit_multi([(df(i), "dds", "t")])
    lake.vacuum_commits(keep_last=3)  # keeps m=2,3,4 → refs {2,3,4}
    removed = lake.vacuum("dds", "t", keep_last=1)
    assert removed == [0, 1]  # v=2 survives keep_last=1 because m=2 pins it
    # every retained manifest remains fully readable
    for mid in (2, 3, 4):
        m = json.loads((tmp_path / "_commits" / f"m={mid}.json").read_text())
        v = m["dds/t"]
        assert lake.read_versioned(spark, "dds", "t", schema, version=v).collect()[0].x == mid
    # a vacuumed version errors clearly instead of reading empty
    with pytest.raises(FileNotFoundError, match="not retained"):
        lake.read_versioned(spark, "dds", "t", schema, version=0)
    # a crashed commit's manifest FILE (id above the pointer) pins nothing:
    # its staged version is reclaimed by drop_staged exactly as before
    staged = lake.stage_version(df(99), "dds", "t")
    nxt = lake.current_manifest_id() + 1
    (tmp_path / "_commits" / f"m={nxt}.json").write_text(json.dumps({"dds/t": staged}))
    assert staged not in lake._manifest_refs("dds", "t")
    assert lake.vacuum("dds", "t", keep_last=3, drop_staged=True) == [staged]


def test_retention_sweep_orders_manifests_before_tables(spark, tmp_path):
    """retention_sweep = vacuum_commits THEN per-table vacuum: one call
    reclaims what the two-step contract allows (old manifests release their
    pinned versions in the same sweep), and the returned audit record names
    everything removed. The reversed order (tables first) would reclaim
    nothing — pinned refs still present — which is exactly why the helper
    exists."""
    from pyspark.sql.types import LongType, StructField, StructType

    from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

    lake = Lakehouse(str(tmp_path))
    schema = StructType([StructField("x", LongType())])
    for i in range(5):  # manifests m=0..4 referencing v=0..4 of both tables
        lake.commit_multi(
            [
                (spark.createDataFrame([(i,)], schema), "dds", "a"),
                (spark.createDataFrame([(i * 10,)], schema), "dds", "b"),
            ]
        )
    # a crashed commit's orphan manifest (id above the pointer) neither
    # counts toward keep_manifests nor gets deleted (it may be mid-flight)
    orphan_mid = lake.current_manifest_id() + 1
    (tmp_path / "_commits" / f"m={orphan_mid}.json").write_text("{}")
    # tables-first (the wrong order) reclaims nothing: every manifest pins
    assert lake.vacuum("dds", "a", keep_last=1) == []
    report = lake.retention_sweep(keep_manifests=2, keep_versions=1)
    assert report["manifests"] == [0, 1, 2]
    assert (tmp_path / "_commits" / f"m={orphan_mid}.json").exists()
    # keep_versions=1 keeps v=4 (+ v=3 pinned by retained m=3)
    assert report["versions"] == {"dds/a": [0, 1, 2], "dds/b": [0, 1, 2]}
    assert lake.versions("dds", "a") == [3, 4]
    assert lake.read_committed(spark, "dds", "a", schema).collect()[0].x == 4
    # idempotent: a second sweep finds nothing
    again = lake.retention_sweep(keep_manifests=2, keep_versions=1)
    assert again == {"manifests": [], "versions": {}}
