"""Seeded inputs for the benchmark: a delivery-system API, a DDS history, and a
retrieval corpus. Everything here is a pure function of the seed.

``DeliveryAPI`` stands in for the courier/delivery REST API the nightly DAG
extracts from. Its transport is O(page): the data is kept sorted once per
published day, and a page call is two bisections plus a slice, never the
sort-per-call of a test fake. The records carry every case the DAG must handle:

- courier renames between days (SCD1 on the courier dim);
- resubmitted ``delivery_id``s with altered sums (SCD0 must keep the first);
- late arrivals whose ``delivery_ts`` falls before the extraction watermark
  (the API window never returns them again);
- DDL-violating rows (rating > 5, negative tip) that must land in quarantine.
"""

from __future__ import annotations

import bisect
import random
from datetime import datetime, timedelta

import numpy as np

TS_FMT = "%Y-%m-%d %H:%M:%S"
FIRST_DAY = datetime(2024, 1, 1)  # the API's first published day
HISTORY_START = datetime(2022, 1, 3)  # after the DAG's DDS watermark default

_FIRST = ["Anna", "Boris", "Chen", "Dana", "Emil", "Farah", "Gita", "Hugo",
          "Ines", "Jonas", "Kira", "Luis", "Mona", "Nils", "Olga", "Pavel"]
_LAST = ["Ivanova", "Smith", "Okafor", "Rossi", "Tanaka", "Novak", "Silva",
         "Berg", "Khan", "Moreau", "Kowalski", "Haddad"]


def courier_key(i: int) -> str:
    return f"c{i:05d}"


def courier_name(rng: random.Random, i: int) -> str:
    # the trailing number keeps names unique, so the couriers page order
    # (sorted by name) is total and the oracle can key the mart by name
    return f"{rng.choice(_FIRST)} {rng.choice(_LAST)} {i}"


def ds_of(run: int) -> str:
    """The DAG's logical date for run ``run``: it extracts the day before."""
    return (FIRST_DAY + timedelta(days=run + 1)).strftime("%Y-%m-%d")


class DeliveryAPI:
    """Seeded courier/delivery API, published one day per DAG run.

    ``publish(run)`` makes day ``run`` visible: its deliveries, resubmissions of
    earlier deliveries, late arrivals for the day before, and the courier renames
    of that day. ``couriers_fetch`` / ``deliveries_fetch`` are the ``FetchPage``
    callables the DAG paginates.
    """

    def __init__(
        self,
        seed: int,
        n_couriers: int,
        per_day: int,
        resubmit_frac: float = 0.01,
        late_frac: float = 0.005,
        invalid_frac: float = 0.002,
        rename_frac: float = 0.01,
    ) -> None:
        self.rng = random.Random(seed)
        self.n_couriers = n_couriers
        self.per_day = per_day
        self.resubmit_frac = resubmit_frac
        self.late_frac = late_frac
        self.invalid_frac = invalid_frac
        self.rename_frac = rename_frac
        self.names = {courier_key(i): courier_name(self.rng, i) for i in range(n_couriers)}
        self.names_by_run: list[dict[str, str]] = []
        self.published: list[list[dict]] = []  # per run, every record it made visible
        self._regular: list[list[dict]] = []  # per run, its on-time deliveries
        self._ts: list[str] = []  # sorted delivery_ts of all visible records
        self._rows: list[dict] = []  # parallel to _ts
        self._couriers: list[dict] = []  # sorted by name
        self._day_max_sec: dict[int, int] = {}
        self._used_secs: dict[int, set[int]] = {}

    # -- publication -------------------------------------------------------------

    def _delivery(self, did: str, oid: str, courier: str, d_ts: datetime) -> dict:
        rng = self.rng
        o_ts = d_ts - timedelta(minutes=rng.randint(5, 180))
        rate = 0 if rng.random() < 0.08 else rng.choices([1, 2, 3, 4, 5], [1, 2, 6, 14, 30])[0]
        tip = 0.0 if rng.random() < 0.3 else round(rng.uniform(1, 300), 2)
        if rng.random() < self.invalid_frac:
            if rng.random() < 0.5:
                rate = rng.choice([6, 7, 9])
            else:
                tip = -round(rng.uniform(1, 50), 2)
        return {
            "order_id": oid,
            "order_ts": o_ts.strftime(TS_FMT),
            "delivery_id": did,
            "courier_id": courier,
            "address": f"{rng.randint(1, 999)} Main St",
            "delivery_ts": d_ts.strftime(TS_FMT),
            "rate": rate,
            "sum": round(rng.uniform(100, 5000), 2),
            "tip_sum": tip,
        }

    def publish(self, run: int) -> None:
        """Make day ``run`` visible (runs are published in order, once each)."""
        assert run == len(self.published), "publish runs in order"
        rng = self.rng
        day = FIRST_DAY + timedelta(days=run)
        keys = sorted(self.names)
        for k in rng.sample(keys, max(1, int(len(keys) * self.rename_frac))) if run else []:
            self.names[k] = f"{rng.choice(_FIRST)}-{rng.choice(_FIRST)} {self.names[k].split(' ', 1)[1]}"
        self.names_by_run.append(dict(self.names))
        self._couriers = sorted(
            ({"_id": k, "name": v} for k, v in self.names.items()), key=lambda r: r["name"]
        )

        n_resub = int(self.per_day * self.resubmit_frac) if run else 0
        secs = rng.sample(range(86400), self.per_day + n_resub)
        self._used_secs[run] = set(secs)
        new = []
        for j in range(self.per_day):
            new.append(
                self._delivery(
                    f"d{run:03d}-{j:05d}", f"o{run:03d}-{j:05d}",
                    courier_key(rng.randrange(self.n_couriers)),
                    day + timedelta(seconds=secs[j]),
                )
            )
        self._day_max_sec[run] = max(secs[: self.per_day])
        self._regular.append(list(new))
        for k in range(n_resub):
            orig = rng.choice(self._regular[rng.randrange(run)])
            dup = dict(orig)
            dup["sum"] = round(orig["sum"] * 2 + 1, 2)
            dup["rate"] = 1
            dup["delivery_ts"] = (day + timedelta(seconds=secs[self.per_day + k])).strftime(TS_FMT)
            new.append(dup)
        new.sort(key=lambda r: r["delivery_ts"])
        late = []
        if run:
            prev = FIRST_DAY + timedelta(days=run - 1)
            free = [s for s in range(self._day_max_sec[run - 1]) if s not in self._used_secs[run - 1]]
            for j, s in enumerate(rng.sample(free, int(self.per_day * self.late_frac))):
                self._used_secs[run - 1].add(s)
                late.append(
                    self._delivery(
                        f"l{run:03d}-{j:05d}", f"ol{run:03d}-{j:05d}",
                        courier_key(rng.randrange(self.n_couriers)),
                        prev + timedelta(seconds=s),
                    )
                )
        # every regular/resubmitted record is later than all visible data, so
        # the day appends as one sorted block; late arrivals go into the past
        self._ts.extend(r["delivery_ts"] for r in new)
        self._rows.extend(new)
        for r in late:
            i = bisect.bisect_right(self._ts, r["delivery_ts"])
            self._ts.insert(i, r["delivery_ts"])
            self._rows.insert(i, r)
        self.published.append(new + late)

    # -- transport ----------------------------------------------------------------

    def couriers_fetch(self, params: dict) -> list[dict]:
        off, lim = params.get("offset", 0), params.get("limit", 50)
        return self._couriers[off : off + lim]

    def deliveries_fetch(self, params: dict) -> list[dict]:
        lo = bisect.bisect_left(self._ts, params["from"])
        hi = bisect.bisect_left(self._ts, params["to"])
        off, lim = params.get("offset", 0), params.get("limit", 50)
        return self._rows[min(lo + off, hi) : min(lo + off + lim, hi)]


# -- DDS history ---------------------------------------------------------------------


def history_frames(seed: int, n_facts: int, names: dict[str, str], days: int = 728) -> dict:
    """A DDS history of ``n_facts`` deliveries over ``days`` days, as numpy
    columns. Fact ``i`` has delivery key ``h{i:07d}`` and order key
    ``oh{i:07d}``; couriers are indexes into ``sorted(names)``, the couriers
    ``DeliveryAPI`` serves, so new days join them. Timestamps are epoch
    seconds on a 5-minute grid, as a batch back-fill would leave them, which
    keeps the calendar dim bounded."""
    rng = np.random.default_rng(seed)
    start = int((HISTORY_START - datetime(1970, 1, 1)).total_seconds())
    d_sec = start + rng.integers(0, days * 288, n_facts) * 300
    return {
        "courier": rng.integers(0, len(names), n_facts),
        "d_sec": d_sec,
        "o_sec": d_sec - rng.integers(1, 36, n_facts) * 300,
        "rating": rng.choice(np.arange(6, dtype=np.int16), n_facts,
                             p=[0.08, 0.02, 0.04, 0.12, 0.26, 0.48]),
        "sum_cents": rng.integers(10_000, 500_000, n_facts),
        "tip_cents": np.where(rng.random(n_facts) < 0.3, 0, rng.integers(100, 30_000, n_facts)),
        "names": dict(names),
    }


# -- retrieval corpus ----------------------------------------------------------------


def corpus(seed: int, n_docs: int, vocab: int, n_vecs: int, dim: int, n_clusters: int):
    """(docs, vectors): ``docs`` is [(doc_id, text)] over a Zipf vocabulary of
    ``vocab`` terms; ``vectors`` is [(vec_id, [float]*dim)] drawn around
    ``n_clusters`` centres."""
    rng = np.random.default_rng(seed)
    p = 1.0 / np.arange(1, vocab + 1) ** 1.05
    p /= p.sum()
    lens = rng.integers(20, 81, n_docs)
    toks = rng.choice(vocab, int(lens.sum()), p=p)
    docs, at = [], 0
    for i, n in enumerate(lens):
        docs.append((i, " ".join(f"w{t}" for t in toks[at : at + n])))
        at += n
    centres = rng.normal(0, 1, (n_clusters, dim))
    lab = rng.integers(0, n_clusters, n_vecs)
    x = (centres[lab] + rng.normal(0, 0.35, (n_vecs, dim))).astype(np.float32)
    vectors = [(i, [float(v) for v in row]) for i, row in enumerate(x)]
    return docs, vectors


class QueryStream:
    """The seeded single-client query stream: each round is one BM25 query and
    one ANN query. Every third BM25 query is a one-off term tuple, never seen
    again, which misses any term cache; the others cycle through a hot set of
    ``n_hot`` tuples, which a 64-entry cache holds once each has been seen
    (the benchmark uses one, so every hot query after the warm-up hits).
    The schedule is fixed, so every run mixes hits and misses alike, and
    every tuple has ``TERMS`` terms, so every BM25 query has one plan shape.
    ANN queries are corpus vectors with noise added, under fresh ids."""

    TERMS = 3

    def __init__(self, seed: int, vocab: int, vectors: list, n_hot: int = 1) -> None:
        self.rng = random.Random(seed ^ 0x5EED)
        self.vocab = vocab
        self.vectors = vectors
        self.hot = [self.fresh_tuple() for _ in range(n_hot)]
        self.rounds = self.hot_rounds = 0
        self.next_qid = 1_000_000

    def fresh_tuple(self) -> tuple[str, ...]:
        # mid-frequency terms: frequent enough to hit postings, rare enough to rank
        return tuple(f"w{t}" for t in self.rng.sample(range(8, min(self.vocab, 1500)), self.TERMS))

    def bm25_terms(self) -> tuple[str, ...]:
        self.rounds += 1
        if self.rounds % 3 == 0:
            return self.fresh_tuple()
        self.hot_rounds += 1
        return self.hot[self.hot_rounds % len(self.hot)]

    def ann_query(self) -> tuple[int, list[float]]:
        _, base = self.rng.choice(self.vectors)
        self.next_qid += 1
        return self.next_qid, [v + self.rng.gauss(0, 0.05) for v in base]
