"""Persisted residual IVF-PQ index: build/publish atomicity and search parity
with the on-the-fly path."""

from __future__ import annotations

import pytest
from pyspark.sql import functions as F

from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
    CENTROIDS,
    CODES,
    LIST_STATE,
    build_residual_ivfpq_index,
    load_index_artifacts,
    search_residual_ivfpq_index,
)
from airflow_courier_payout_ledger_pipeline_spark.operators.similarity import (
    ivf_pq_residual_topk,
    kmeans_centroids_exact,
    pq_codebooks_exact,
    residual_frame,
)
from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse


@pytest.fixture(scope="module")
def corpus(spark):
    rows = []
    for i in range(40):
        base = [10.0, 0.0, 0.0, 0.0] if i % 2 == 0 else [0.0, 10.0, 0.0, 0.0]
        jitter = [((i * 7 + j * 3) % 5) / 10.0 for j in range(4)]
        rows.append((i, [b + d for b, d in zip(base, jitter)]))
    return spark.createDataFrame(rows, "vec_id long, embedding array<float>")


@pytest.fixture(scope="module")
def artifacts(corpus):
    cents = kmeans_centroids_exact(corpus, k=2, iters=1)
    res = residual_frame(corpus, cents).select("vec_id", "__res")
    books = pq_codebooks_exact(res, m=2, kc=2, iters=1, vec_col="__res")
    return cents, books


def test_persisted_search_matches_on_the_fly(spark, corpus, artifacts, tmp_path):
    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", corpus, cents, books)
    # query ids are corpus ids (the self-match filter is exercised); a
    # 1-row frame, nprobe past the cell count, and NULL / NaN / short query
    # vectors are covered too (repr compares NaN distances)
    schema = "vec_id long, embedding array<float>"
    one = spark.createDataFrame([(7, [0.5, 9.5, 0.25, 0.0])], schema)
    odd = spark.createDataFrame(
        [(90, None), (91, [float("nan"), 9.5, 0.25, 0.0]), (92, [1.0, 2.0])], schema
    )
    for q in (corpus.filter(F.col("vec_id") < 4), one, odd):
        for nprobe in (1, 2, 3):
            fly = sorted(map(repr, ivf_pq_residual_topk(
                corpus, q, cents, books, k=3, nprobe=nprobe).collect()))
            idx = sorted(map(repr, search_residual_ivfpq_index(
                lake, "idx", q, k=3, nprobe=nprobe).collect()))
            assert fly == idx and fly
    # round-trip of the driver artifacts is exact
    rc, rb = load_index_artifacts(lake, "idx", spark)
    assert rc == cents and rb == books
    # ids keep their type through the driver-side query tables: a string id
    # with a quote and a non-ASCII letter, and a binary id that is not UTF-8
    for layer, vid in (
        ("s", F.concat(F.lit("v'é"), F.col("vec_id").cast("string"))),
        ("b", F.unhex(F.concat(F.lit("FF"), F.hex("vec_id")))),
    ):
        typed = corpus.withColumn("vec_id", vid)
        build_residual_ivfpq_index(lake, layer, typed, cents, books)
        q = corpus.filter(F.col("vec_id") < 4).withColumn("vec_id", vid)
        fly = sorted(map(repr, ivf_pq_residual_topk(typed, q, cents, books, k=3, nprobe=2).collect()))
        idx = sorted(map(repr, search_residual_ivfpq_index(lake, layer, q, k=3, nprobe=2).collect()))
        assert fly == idx and fly


def test_driver_fold_is_bit_identical_to_spark_fold(spark):
    """The driver-side query tables are exact only if ``_sq_l2`` folds like
    ``_sq_l2_sql``: same operation order, same NULL results. Compared bit for
    bit on cancellation-prone values; the last case tells the sequential fold
    from an exactly rounded sum."""
    import math

    from airflow_courier_payout_ledger_pipeline_spark.operators.similarity import (
        _sq_l2,
        _sq_l2_sql,
    )

    cases = [
        ([1e16, 1.0, -1e16, 1.0], [0.0, 0.0, 0.0, 0.0]),
        ([1e16, 1.0, -1e16, 1.0], [1.0, 1e16, 1.0, -1e16]),
        ([0.1, 0.2, 0.3, 1e-300], [0.3, 0.1, 0.2, -1e-300]),
        ([2.0**27, 1.0, 1.0, 1.0], [0.0, 0.0, 0.0, 0.0]),
        ([1.0, None, 2.0, 3.0], [0.0, 0.0, 0.0, 0.0]),
        ([1.0, 2.0], [0.0, 0.0, 0.0, 0.0]),
        (None, [0.0, 0.0, 0.0, 0.0]),
    ]
    df = spark.createDataFrame(
        [(i, x) for i, (x, _) in enumerate(cases)], "i int, v array<double>"
    )
    folds = [F.expr(_sq_l2_sql("v", 1, 4, y)).alias(f"d{i}") for i, (_, y) in enumerate(cases)]
    got = {r["i"]: r[f"d{r['i']}"] for r in df.select("i", *folds).collect()}
    for i, (x, y) in enumerate(cases):
        mine = _sq_l2(None if x is None else x[:4], y)
        assert (None if mine is None else mine.hex()) == (
            None if got[i] is None else got[i].hex()
        ), (x, y)
    assert _sq_l2(cases[3][0], cases[3][1]) != math.fsum(x * x for x in cases[3][0])


def test_search_with_no_query_rows_is_empty_with_same_schema(
    spark, corpus, artifacts, tmp_path
):
    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", corpus, cents, books)
    full = search_residual_ivfpq_index(lake, "idx", corpus.filter(F.col("vec_id") < 2))
    none = search_residual_ivfpq_index(lake, "idx", corpus.filter(F.col("vec_id") < 0))
    assert none.collect() == []
    assert [(f.name, f.dataType) for f in none.schema.fields] == [
        (f.name, f.dataType) for f in full.schema.fields
    ]


def test_indexed_search_job_budget(spark, spark_jobs, corpus, artifacts, tmp_path):
    """Constructing a 1-row search reads the query frame (one job) and
    nothing else once the index artifacts are cached; the whole search
    stays within four jobs."""
    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", corpus, cents, books)
    schema = "vec_id long, embedding array<float>"
    q = spark.createDataFrame([(100, [9.0, 1.0, 0.5, 0.0])], schema)
    search_residual_ivfpq_index(lake, "idx", q, k=3).collect()  # warm the caches
    q = spark.createDataFrame([(101, [1.0, 9.0, 0.0, 0.5])], schema)
    with spark_jobs() as construct:
        df = search_residual_ivfpq_index(lake, "idx", q, k=3)
    with spark_jobs() as execute:
        assert len(df.collect()) == 3
    assert construct() == 1
    assert construct() + execute() <= 4


def test_committed_list_counts_equal_assignment_counts(spark, corpus, artifacts, tmp_path):
    """committed_list_counts must equal a groupBy over the committed
    assignments — the maintained state IS the count, which is what licenses
    the incremental SemDeDup shard draw to skip the corpus groupBy (r16
    verdict item 2a). Holds across an extend (multi-row state merge)."""
    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        committed_assignments,
        committed_list_counts,
        extend_residual_ivfpq_index,
    )

    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", corpus.filter(F.col("vec_id") < 30), cents, books)
    extend_residual_ivfpq_index(lake, "idx", corpus.filter(F.col("vec_id") >= 30))
    id_field = corpus.select("vec_id").schema.fields[0]
    want = sorted(
        (int(r["cluster"]), int(r["n"]))
        for r in committed_assignments(lake, "idx", spark, id_field)
        .groupBy("cluster")
        .agg(F.count("*").alias("n"))
        .collect()
    )
    assert committed_list_counts(lake, "idx", spark) == want
    assert sum(n for _, n in want) == corpus.count()


def test_index_publish_is_atomic_across_tables(spark, corpus, artifacts, tmp_path):
    """A crash between the codes write and the centroid write must leave
    readers on the OLD index — codes are never searched against centroids
    they weren't encoded with."""
    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", corpus, cents, books)
    q = corpus.filter(F.col("vec_id") < 4)
    before = sorted(map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect()))

    # simulate the crash window: a RETRAINED quantizer's codes staged, process
    # dies before centroids/manifest — searches still serve the old pair
    cents2 = kmeans_centroids_exact(corpus, k=2, iters=3)
    res2 = residual_frame(corpus, cents2).select("vec_id", "__res")
    books2 = pq_codebooks_exact(res2, m=2, kc=2, iters=2, vec_col="__res")
    from airflow_courier_payout_ledger_pipeline_spark.operators.similarity import (
        _pq_codes,
    )

    staged_codes = lake.stage_version(
        residual_frame(corpus, cents2).select(
            "vec_id", "centroid", _pq_codes("__res", books2).alias("pq_codes")
        ),
        "idx",
        CODES,
    )
    assert sorted(
        map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect())
    ) == before

    # replayed build commits everything; the new index serves atomically
    build_residual_ivfpq_index(lake, "idx", corpus, cents2, books2)
    rc, rb = load_index_artifacts(lake, "idx", spark)
    assert rc == cents2 and rb == books2
    after = sorted(map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect()))
    assert after == sorted(
        map(tuple, ivf_pq_residual_topk(corpus, q, cents2, books2, k=3).collect())
    )
    assert staged_codes < lake.current_manifest()[f"idx/{CODES}"]


def test_index_health_state_rides_the_publish(spark, corpus, artifacts, tmp_path):
    from pyspark.sql.types import StructType

    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", corpus, cents, books)
    state = lake.read_committed(
        spark, "idx", LIST_STATE,
        StructType.fromDDL("centroid int, n bigint, err_q decimal(38,0), err_scale int"),
    ).collect()
    assert sum(r.n for r in state) == 40 and {r.centroid for r in state} == {0, 1}
    # empty-index cold start: searching an empty lake returns no rows, no crash
    empty = Lakehouse(str(tmp_path / "empty"))
    out = search_residual_ivfpq_index(empty, "idx", corpus.filter(F.col("vec_id") < 2))
    assert out.count() == 0


def test_incremental_extend_equals_full_build_and_replays_as_noop(spark, corpus, artifacts, tmp_path):
    """extend(build(A), B) must be row-identical to build(A ∪ B) on every
    index table (frozen quantizer ⇒ identical codes; state merge ≡ rebuild),
    replaying the same increment is a no-op (SCD0), and extending an unbuilt
    index raises instead of silently training on the increment."""
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        extend_residual_ivfpq_index,
    )

    cents, books = artifacts
    even = corpus.filter(F.col("vec_id") % 2 == 0)
    odd = corpus.filter(F.col("vec_id") % 2 == 1)

    inc_lake = Lakehouse(str(tmp_path / "inc"))
    build_residual_ivfpq_index(inc_lake, "idx", even, cents, books)
    extend_residual_ivfpq_index(inc_lake, "idx", odd)

    full_lake = Lakehouse(str(tmp_path / "full"))
    build_residual_ivfpq_index(full_lake, "idx", corpus, cents, books)

    codes_schema = "vec_id long, centroid int, pq_codes array<tinyint>"
    state_schema = "centroid int, n bigint, err_q decimal(38,0), err_scale int"
    for table, ddl in ((CODES, codes_schema), (LIST_STATE, state_schema)):
        a = sorted(map(tuple, inc_lake.read_committed(
            spark, "idx", table, StructType.fromDDL(ddl)).collect()))
        b = sorted(map(tuple, full_lake.read_committed(
            spark, "idx", table, StructType.fromDDL(ddl)).collect()))
        assert a == b, table
    # searches agree too
    q = corpus.filter(F.col("vec_id") < 4)
    assert sorted(map(tuple, search_residual_ivfpq_index(inc_lake, "idx", q, k=3).collect())) == sorted(
        map(tuple, search_residual_ivfpq_index(full_lake, "idx", q, k=3).collect())
    )
    # replay: extending with already-indexed rows changes nothing
    before = sorted(map(tuple, inc_lake.read_committed(
        spark, "idx", CODES, StructType.fromDDL(codes_schema)).collect()))
    extend_residual_ivfpq_index(inc_lake, "idx", odd)
    after = sorted(map(tuple, inc_lake.read_committed(
        spark, "idx", CODES, StructType.fromDDL(codes_schema)).collect()))
    assert before == after
    # unbuilt index refuses
    with pytest.raises(ValueError, match="build_residual_ivfpq_index first"):
        extend_residual_ivfpq_index(Lakehouse(str(tmp_path / "none")), "idx", odd)


def test_cold_start_build_and_extend_semantics(spark, corpus, tmp_path):
    """An empty-corpus build commits a consistent EMPTY index (searches
    return no rows); extending it is a no-op for an empty increment and a
    loud error for a real one (rows cannot encode without a quantizer);
    extending a never-built layer still raises 'build first'."""
    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        extend_residual_ivfpq_index,
    )

    lake = Lakehouse(str(tmp_path))
    empty = corpus.filter(F.col("vec_id") < 0)
    mid = build_residual_ivfpq_index(lake, "idx", empty, [], [])
    assert search_residual_ivfpq_index(lake, "idx", corpus.limit(2)).count() == 0
    assert extend_residual_ivfpq_index(lake, "idx", empty) == mid  # no-op
    with pytest.raises(ValueError, match="no quantizer"):
        extend_residual_ivfpq_index(lake, "idx", corpus)


def test_mismatched_id_col_raises_instead_of_null_reads(spark, corpus, artifacts, tmp_path):
    """Reading the committed codes with a different id_col than the index
    was built with must raise — a by-name schema read would silently surface
    NULL ids (every SCD0 anti-join row would re-encode; searches would go
    empty) instead of failing."""
    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        extend_residual_ivfpq_index,
    )

    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", corpus, cents, books)
    renamed = corpus.withColumnRenamed("vec_id", "doc_id")
    with pytest.raises(ValueError, match="BUILT with"):
        search_residual_ivfpq_index(lake, "idx", renamed, id_col="doc_id")
    with pytest.raises(ValueError, match="BUILT with"):
        extend_residual_ivfpq_index(lake, "idx", renamed, id_col="doc_id")


def test_empty_build_cannot_wipe_serving_index(spark, corpus, artifacts, tmp_path):
    """An accidental [] quantizer artifact (training ran over a misconfigured
    or empty read) must not replace a live index in one manifest flip: an
    empty build is accepted only when the corpus is empty AND nothing
    non-empty is serving; force_empty=True is the explicit decommission."""
    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    empty = corpus.filter(F.col("vec_id") < 0)

    # empty quantizer over a NON-empty corpus: mistrained artifact, refuse
    with pytest.raises(ValueError, match="NON-empty corpus"):
        build_residual_ivfpq_index(lake, "idx", corpus, [], [])

    build_residual_ivfpq_index(lake, "idx", corpus, cents, books)
    q = corpus.filter(F.col("vec_id") < 4)
    before = sorted(map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect()))
    assert before

    # empty cold-start build while a non-empty index serves: refuse, index intact
    with pytest.raises(ValueError, match="wipe the serving index"):
        build_residual_ivfpq_index(lake, "idx", empty, [], [])
    assert sorted(
        map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect())
    ) == before

    # explicit decommission still possible
    build_residual_ivfpq_index(lake, "idx", empty, [], [], force_empty=True)
    assert search_residual_ivfpq_index(lake, "idx", q, k=3).count() == 0


def test_extend_crash_window_preserves_old_index(spark, corpus, artifacts, tmp_path):
    """A crash between extend's codes/state staging and the manifest flip
    must leave readers on the OLD consistent index (staged v=N dirs are
    invisible), and the replayed extend converges to build(A ∪ B) — the
    same crash-window guarantee test_index_publish_is_atomic_across_tables
    pins for the initial publish."""
    from unittest import mock

    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        extend_residual_ivfpq_index,
    )

    cents, books = artifacts
    even = corpus.filter(F.col("vec_id") % 2 == 0)
    odd = corpus.filter(F.col("vec_id") % 2 == 1)
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", even, cents, books)
    q = corpus.filter(F.col("vec_id") < 4)
    before = sorted(map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect()))
    mid_before = lake.current_manifest_id()
    codes_v_before = lake.current_manifest()[f"idx/{CODES}"]

    # kill the process between staging and the manifest flip
    with pytest.raises(RuntimeError, match="kill"), mock.patch.object(
        Lakehouse, "commit_manifest", side_effect=RuntimeError("kill")
    ):
        extend_residual_ivfpq_index(lake, "idx", odd)

    # readers: same manifest, same codes version, same search results —
    # the staged codes' snapshot exists on disk but is invisible
    assert lake.current_manifest_id() == mid_before
    assert lake.current_manifest()[f"idx/{CODES}"] == codes_v_before
    assert max(lake.versions("idx", CODES)) > codes_v_before  # orphan staged
    assert sorted(
        map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect())
    ) == before

    # replayed extend converges to the full index
    extend_residual_ivfpq_index(lake, "idx", odd)
    full = Lakehouse(str(tmp_path / "full"))
    build_residual_ivfpq_index(full, "idx", corpus, cents, books)
    assert sorted(
        map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect())
    ) == sorted(map(tuple, search_residual_ivfpq_index(full, "idx", q, k=3).collect()))


def test_refine_search_matches_on_the_fly_two_stage(spark, corpus, artifacts, tmp_path):
    """FAISS-IndexRefine parity: the two-stage search served from the
    persisted index (committed-codes ADC shortlist -> exact re-rank) must be
    byte-identical to the on-the-fly two-stage path over the raw corpus with
    the same frozen artifacts — quantization decides WHICH candidates are
    seen, the exact re-rank decides order, and neither depends on where the
    codes came from."""
    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        refine_search_residual_ivfpq_index,
    )
    from airflow_courier_payout_ledger_pipeline_spark.operators.similarity import (
        ivf_pq_residual_refine_topk,
    )

    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", corpus, cents, books)
    q = corpus.filter(F.col("vec_id") < 4)
    for nprobe, shortlist in ((1, 6), (2, 10)):
        fly = sorted(map(tuple, ivf_pq_residual_refine_topk(
            corpus, q, cents, books, k=3, shortlist=shortlist, nprobe=nprobe
        ).collect()))
        idx = sorted(map(tuple, refine_search_residual_ivfpq_index(
            lake, "idx", corpus, q, k=3, shortlist=shortlist, nprobe=nprobe
        ).collect()))
        assert fly == idx and fly


def test_extend_write_is_o_increment(spark, corpus, artifacts, tmp_path):
    """The extend must stage ONLY the increment's codes dir (rows = |new
    ids|) and leave history's bytes untouched — the manifest's codes entry
    becomes a multi-file version list instead of a restaged corpus."""
    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        extend_residual_ivfpq_index,
    )

    cents, books = artifacts
    even = corpus.filter(F.col("vec_id") % 2 == 0)
    odd = corpus.filter(F.col("vec_id") % 2 == 1)
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", even, cents, books)
    v0 = lake.current_manifest()[f"idx/{CODES}"]
    assert isinstance(v0, int)  # fresh build: one snapshot dir
    d0 = lake.root / "idx" / CODES / f"v={v0}"
    before_files = {p.name: (p.stat().st_size, p.stat().st_mtime_ns)
                    for p in d0.rglob("*.parquet")}

    extend_residual_ivfpq_index(lake, "idx", odd)
    vs = lake.current_manifest()[f"idx/{CODES}"]
    assert isinstance(vs, list) and vs[0] == v0 and len(vs) == 2
    # history bytes untouched
    after_files = {p.name: (p.stat().st_size, p.stat().st_mtime_ns)
                   for p in d0.rglob("*.parquet")}
    assert after_files == before_files
    # the new dir holds exactly the increment's rows — O(increment) bytes
    new_dir = lake.root / "idx" / CODES / f"v={vs[1]}"
    assert spark.read.parquet(str(new_dir)).count() == odd.count()


def test_compact_codes_folds_multifile_to_one(spark, corpus, artifacts, tmp_path):
    """After several extends the codes table is a list of dirs; compaction
    folds it back to ONE dir, row-identically, and searches are unchanged.
    Compacting a single-dir index is a no-op returning the current id."""
    from pyspark.sql.types import StructType

    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        compact_residual_ivfpq_codes,
        extend_residual_ivfpq_index,
    )

    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(
        lake, "idx", corpus.filter(F.col("vec_id") < 14), cents, books
    )
    extend_residual_ivfpq_index(
        lake, "idx", corpus.filter((F.col("vec_id") >= 14) & (F.col("vec_id") < 27))
    )
    extend_residual_ivfpq_index(lake, "idx", corpus.filter(F.col("vec_id") >= 27))
    assert len(Lakehouse.as_versions(lake.current_manifest()[f"idx/{CODES}"])) == 3
    codes_schema = "vec_id long, centroid int, pq_codes array<tinyint>"
    before = sorted(map(tuple, lake.read_committed(
        spark, "idx", CODES, StructType.fromDDL(codes_schema)).collect()))
    q = corpus.filter(F.col("vec_id") < 4)
    search_before = sorted(
        map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect())
    )

    compact_residual_ivfpq_codes(lake, "idx", spark)
    v = lake.current_manifest()[f"idx/{CODES}"]
    assert isinstance(v, int)
    after = sorted(map(tuple, lake.read_committed(
        spark, "idx", CODES, StructType.fromDDL(codes_schema)).collect()))
    assert after == before
    assert sorted(
        map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect())
    ) == search_before
    # no-op on an already-single-dir index
    assert compact_residual_ivfpq_codes(lake, "idx", spark) == lake.current_manifest_id()


def test_full_maintenance_cycle_reclaims_history_and_spares_serving(
    spark, corpus, artifacts, tmp_path
):
    """The ann_index_vacuumed_search contract as a unit law: after build →
    extend → compact, the tightest retention sweep must (a) actually reclaim
    the pre-compaction manifests and the codes dirs they pinned — real
    deletions, not a no-op — and (b) leave the search over the surviving
    snapshot identical to a fresh full build. Retention deletes HISTORY,
    never the serving surface."""
    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        compact_residual_ivfpq_codes,
        extend_residual_ivfpq_index,
    )

    cents, books = artifacts
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(
        lake, "idx", corpus.filter(F.col("vec_id") % 2 == 0), cents, books
    )
    extend_residual_ivfpq_index(lake, "idx", corpus.filter(F.col("vec_id") % 2 == 1))
    pre_sweep_code_dirs = set(lake.versions("idx", CODES))
    compact_residual_ivfpq_codes(lake, "idx", spark)
    compacted_v = lake.current_manifest()[f"idx/{CODES}"]

    audit = lake.retention_sweep(keep_manifests=1, keep_versions=1)
    # real reclamation: the build/extend manifests fell, and with them the
    # pre-compaction codes dirs they pinned
    assert audit["manifests"], "sweep reclaimed no manifests"
    assert set(audit["versions"].get(f"idx/{CODES}", [])) == pre_sweep_code_dirs
    for v in pre_sweep_code_dirs:
        assert not (tmp_path / "idx" / CODES / f"v={v}").exists()
    assert (tmp_path / "idx" / CODES / f"v={compacted_v}").exists()

    # the serving surface is untouched: identical to a fresh full build
    q = corpus.filter(F.col("vec_id") < 4)
    full = Lakehouse(str(tmp_path / "full"))
    build_residual_ivfpq_index(full, "idx", corpus, cents, books)
    assert sorted(
        map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect())
    ) == sorted(map(tuple, search_residual_ivfpq_index(full, "idx", q, k=3).collect()))


def test_retention_sweep_keeps_multifile_members_readable(spark, corpus, artifacts, tmp_path):
    """Every member dir of the committed multi-file version is pinned by the
    manifest refs — the tightest retention sweep must not break the union
    read (the cache-key-vs-vacuum interplay the r13 verdict flagged)."""
    from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
        extend_residual_ivfpq_index,
    )

    cents, books = artifacts
    even = corpus.filter(F.col("vec_id") % 2 == 0)
    odd = corpus.filter(F.col("vec_id") % 2 == 1)
    lake = Lakehouse(str(tmp_path))
    build_residual_ivfpq_index(lake, "idx", even, cents, books)
    extend_residual_ivfpq_index(lake, "idx", odd)
    lake.retention_sweep(keep_manifests=1, keep_versions=1, drop_staged=True)
    q = corpus.filter(F.col("vec_id") < 4)
    full = Lakehouse(str(tmp_path / "full"))
    build_residual_ivfpq_index(full, "idx", corpus, cents, books)
    assert sorted(
        map(tuple, search_residual_ivfpq_index(lake, "idx", q, k=3).collect())
    ) == sorted(map(tuple, search_residual_ivfpq_index(full, "idx", q, k=3).collect()))
