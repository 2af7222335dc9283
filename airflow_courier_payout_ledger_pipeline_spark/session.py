"""SparkSession factory with scale-oriented defaults.

Local testing runs on ``local[$SPARK_GRAFT_CPUS]`` (default 32 threads); the same
conf block is what we would ship to a 1000-executor cluster — AQE for runtime
re-planning (skew joins, coalesced shuffle partitions), broadcast threshold sized for
dimension tables, UTC session time so event-time semantics are deployment-independent.

Two per-run fixed costs of a small nightly day are removed here rather than in
each job: the codegen class cache is sized to hold a DAG day's plans (see the
conf comment), and :func:`local_frame` builds driver rows into a
``LocalRelation`` that the JVM scans without starting a Python worker.
"""

from __future__ import annotations

import os

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql.conversion import LocalDataToArrowConversion
from pyspark.sql.pandas.types import to_arrow_schema
from pyspark.sql.types import StructType


def get_spark(
    app_name: str = "courier-ledger-spark",
    master: str | None = None,
    shuffle_partitions: int | None = None,
    extra_conf: dict[str, str] | None = None,
) -> SparkSession:
    """Build (or fetch) a SparkSession with the engine's standard configuration.

    On a real cluster ``master`` is left to spark-submit; locally we default to
    ``local[$SPARK_GRAFT_CPUS]``.
    """
    cpus = os.environ.get("SPARK_GRAFT_CPUS", "32")
    if shuffle_partitions is None:
        shuffle_partitions = int(cpus) if cpus.isdigit() else 32

    builder = SparkSession.builder.appName(app_name)
    if master is None and not os.environ.get("SPARK_MASTER"):
        master = f"local[{cpus}]"
    if master:
        builder = builder.master(master)

    conf = {
        # AQE: runtime shuffle-partition coalescing + skew-join splitting — the
        # safety net that keeps the watermark/ledger jobs stable at 100 TB.
        "spark.sql.adaptive.enabled": "true",
        "spark.sql.adaptive.coalescePartitions.enabled": "true",
        "spark.sql.adaptive.skewJoin.enabled": "true",
        "spark.sql.shuffle.partitions": str(shuffle_partitions),
        # Dimension tables (couriers/orders dims ≤ a few GB at 100 TB scale) are
        # broadcast; bump the threshold above the 10 MB default.
        "spark.sql.autoBroadcastJoinThreshold": str(64 * 1024 * 1024),
        # Arrow for the few pandas_udf extension operators (similarity, multimodal).
        "spark.sql.execution.arrow.pyspark.enabled": "true",
        # Event-time must not depend on the deployment host's zone.
        "spark.sql.session.timeZone": "UTC",
        # Whole-stage codegen caches its compiled classes, 100 by default. A
        # DAG day's plans need 176 distinct classes, so at the default every
        # day recompiled ~171 of them (~1.8 s of Janino a day on a 4-CPU box,
        # before the JIT compiles them again). The cache is a Guava LRU that
        # evicts per segment, so it needs room above the working set: at 200
        # entries a day still recompiled ~58 classes, at 400 and at 2 000 only
        # the 12 whose code inlines the day's watermark. 1 000 also holds the
        # serving and registry plans. A static conf: a session that is
        # already running keeps the size it started with.
        "spark.sql.codegen.cache.maxEntries": "1000",
        # NB: spark.driver.memory is deliberately absent — it only takes effect
        # before the JVM starts, so it belongs in spark-submit / SPARK_SUBMIT_OPTS,
        # not in a getOrCreate() conf that silently no-ops on a live session.
        "spark.ui.enabled": "false",
    }
    if extra_conf:
        conf.update(extra_conf)
    for k, v in conf.items():
        builder = builder.config(k, v)
    return builder.getOrCreate()


def local_frame(
    spark: SparkSession, rows: list, schema: StructType | str
) -> DataFrame:
    """Driver rows (tuples in ``schema``'s field order, or dicts) as a frame
    over a ``LocalRelation``, built through Arrow. ``schema`` is a
    ``StructType`` or a DDL string, as for ``createDataFrame``.

    ``spark.createDataFrame(rows)`` makes an RDD-backed frame, and every scan
    of it runs Python tasks: a Python worker per task, each spending ~200 ms
    refreshing its import caches, so collecting a 1-row frame took 300-340 ms.
    The Arrow-built relation is data in the plan, scanned in the JVM as a
    ``LocalTableScan`` (23-30 ms). Values convert as ``createDataFrame``
    converts them: a naive ``datetime`` reads as process-local time, an aware
    one keeps its instant, and a non-string value in a string column becomes
    its text. One difference: a naive local time inside a DST switch's
    skipped or repeated hour can land an hour from where ``createDataFrame``
    put it (Arrow resolves it as ``datetime.astimezone`` does, not as
    ``time.mktime``)."""
    if isinstance(schema, str):
        schema = StructType.fromDDL(schema)
    if rows:
        table = LocalDataToArrowConversion.convert(rows, schema, False)
    else:  # ``convert`` refuses empty input
        table = to_arrow_schema(schema).empty_table()
    return spark.createDataFrame(table, schema)
