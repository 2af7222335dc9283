"""The ``retrieval_serve`` workload: one client in a closed loop alternating a
BM25 query (``textindex.bm25_search_indexed``) and an ANN query
(``annindex.search_residual_ivfpq_index``) against indexes committed in a
lakehouse. It is read-only: the lakehouse is used through ``read_committed``.
Query latency is mostly driver-side plan construction plus job scheduling.

The BM25 term stream mixes a hot set of term tuples, which fits the 64-entry
term-statistics cache, with one-off tuples that miss it; a miss costs one more
Spark job at construction. The warm-up comparison runs the hot tuple once.
"""

from __future__ import annotations

import shutil
import time
from pathlib import Path

import gen
import numpy as np

from airflow_courier_payout_ledger_pipeline_spark.operators.annindex import (
    build_residual_ivfpq_index,
    search_residual_ivfpq_index,
)
from airflow_courier_payout_ledger_pipeline_spark.operators.search import bm25_topk
from airflow_courier_payout_ledger_pipeline_spark.operators.similarity import (
    ivf_pq_residual_topk,
    pq_codebooks_from_seeds,
)
from airflow_courier_payout_ledger_pipeline_spark.operators.textindex import (
    build_bm25_index,
    bm25_search_indexed,
)
from airflow_courier_payout_ledger_pipeline_spark.sources.lakehouse import Lakehouse

#: the shapes of the repository's own index queries: 5 000 documents, 2 000
#: 64-d embeddings, 8 coarse cells, 8 PQ subspaces of 4 codewords
SIZES = {"docs": 5000, "vocab": 2000, "vecs": 2000, "dim": 64,
         "clusters": 8, "m": 8, "kc": 4}
K = 10  # BM25 top-k
ANN_K = 5
NPROBE = 1
_EMB_SCHEMA = "vec_id long, embedding array<float>"


class Retrieval:
    """One run of ``retrieval_serve``. ``setup`` (repeatable) trains the
    quantizer and builds both indexes in a fresh lakehouse; ``op`` is one query
    round (a BM25 query, then an ANN query); ``check`` compares indexed results
    with the on-the-fly scorers on a fixed seeded subset."""

    def __init__(self, spark, name: str, seed: int, workdir: Path, tracer, layer_s: dict):
        self.spark, self.seed, self.workdir, self.tracer = spark, seed, workdir, tracer
        self.layer_s = layer_s
        self.lake: Lakehouse | None = None
        self.reps = 0
        z = SIZES
        docs, vectors = gen.corpus(seed, z["docs"], z["vocab"], z["vecs"], z["dim"], z["clusters"])
        self.docs = spark.createDataFrame(docs, "doc_id long, text string").cache()
        self.emb = spark.createDataFrame(vectors, _EMB_SCHEMA).cache()
        self.vectors = vectors
        self.stream = gen.QueryStream(seed, z["vocab"], vectors)

    def setup_once(self) -> None:
        """The quantizer, from seeds in numpy: the first ``clusters`` vectors
        are the coarse centroids, and the residuals of the next ``kc`` vectors
        are the PQ codewords. Training cost is not what this workload measures;
        the index build is."""
        t0 = time.perf_counter()
        z = SIZES
        x = np.array([v for _, v in self.vectors], dtype=np.float64)
        cents = x[: z["clusters"]]
        self.cents = [(i, [float(c) for c in row]) for i, row in enumerate(cents)]
        pts = x[z["clusters"] : z["clusters"] + z["kc"]]
        near = ((pts[:, None, :] - cents[None, :, :]) ** 2).sum(-1).argmin(1)
        res = [(i, [float(c) for c in row]) for i, row in enumerate(pts - cents[near])]
        self.books = pq_codebooks_from_seeds(res, z["m"])
        self.layer_s["setup.quantizer_train_s"] = [time.perf_counter() - t0]

    def setup(self) -> None:
        """Build both indexes in a fresh lakehouse."""
        if self.lake is not None:
            shutil.rmtree(self.lake.root, ignore_errors=True)
        self.reps += 1
        self.lake = Lakehouse(str(self.workdir / f"lake{self.reps}"))
        t0 = time.perf_counter()
        build_bm25_index(self.lake, "text", self.docs)
        build_residual_ivfpq_index(self.lake, "ann", self.emb, self.cents, self.books)
        self.layer_s.setdefault("setup.index_build_s", []).append(time.perf_counter() - t0)

    def instrument(self) -> None:
        self.tracer.patch(self.lake, "read_committed", "sources.lakehouse.read_committed")

    def warm_up(self) -> None:
        """The row-for-row comparison: it runs the hot term tuple, a miss and
        an ANN batch through the query paths."""
        self.mismatches = self._compare()

    def start_window(self) -> None:
        pass

    def end_window(self, ops: int) -> int:
        """Queries answered in the window's ``ops`` untraced rounds."""
        return 2 * ops

    def after_traced_op(self) -> None:
        pass

    def prepare(self) -> None:
        self.terms = list(self.stream.bm25_terms())
        self.qid, self.qvec = self.stream.ann_query()

    def op(self) -> dict[str, float]:
        """One round; returns each query's latency in ms. Raises on a result
        that breaks the top-k contract."""
        tr, spark = self.tracer, self.spark
        t0 = time.perf_counter()
        with tr.span("operators.textindex.bm25_construct", jobs=True):
            df = bm25_search_indexed(self.lake, "text", spark, self.terms, k=K)
        with tr.span("operators.textindex.bm25_execute", jobs=True):
            rows = df.collect()
        t1 = time.perf_counter()
        with tr.span("bench.query_frame"):
            q = spark.createDataFrame([(self.qid, self.qvec)], _EMB_SCHEMA)
        with tr.span("operators.annindex.search_construct", jobs=True):
            df = search_residual_ivfpq_index(self.lake, "ann", q, k=ANN_K, nprobe=NPROBE)
        with tr.span("operators.annindex.search_execute", jobs=True):
            hits = df.collect()
        t2 = time.perf_counter()
        _check_ranked([r["rank"] for r in rows], [-r["bm25"] for r in rows], len(rows))
        _check_ranked([r["rank"] for r in hits], [r["adc_dist"] for r in hits], ANN_K)
        return {"bm25_query_ms": (t1 - t0) * 1e3, "ann_query_ms": (t2 - t1) * 1e3}

    def check(self) -> list[str]:
        """The comparison ran before the window, on the same read-only
        indexes; it also warms the query paths."""
        return self.mismatches

    def _compare(self) -> list[str]:
        """Indexed results must equal the on-the-fly scorers row for row, on a
        hot and a one-off term tuple and on three fresh query vectors."""
        stream = self.stream
        tuples = [stream.hot[0], stream.fresh_tuple()]
        bad = []
        for terms in tuples:
            got = sorted(map(tuple, bm25_search_indexed(
                self.lake, "text", self.spark, list(terms), k=K).collect()))
            want = sorted(map(tuple, bm25_topk(self.docs, list(terms), k=K).collect()))
            if got != want:
                bad.append(f"bm25 {terms}: {len(set(want) - set(got))} rows differ")
        qs = self.spark.createDataFrame([stream.ann_query() for _ in range(3)], _EMB_SCHEMA)
        got = sorted(map(tuple, search_residual_ivfpq_index(
            self.lake, "ann", qs, k=ANN_K, nprobe=NPROBE).collect()))
        want = sorted(map(tuple, ivf_pq_residual_topk(
            self.emb, qs, self.cents, self.books, k=ANN_K, nprobe=NPROBE).collect()))
        if got != want:
            bad.append(f"ann: {len(set(want) - set(got))} of {len(want)} rows differ")
        return bad

    def close(self) -> None:
        if self.lake is not None:
            shutil.rmtree(self.lake.root, ignore_errors=True)
        self.docs.unpersist()
        self.emb.unpersist()


def _check_ranked(ranks: list, keys: list, n: int) -> None:
    if sorted(ranks) != list(range(1, n + 1)):
        raise ValueError(f"ranks {sorted(ranks)} are not 1..{n}")
    by_rank = [k for _, k in sorted(zip(ranks, keys))]
    if by_rank != sorted(by_rank):
        raise ValueError("scores are not ordered by rank")
