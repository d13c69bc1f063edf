"""Seeded inputs for the benchmark: the corpus split, the query streams and
the oracle checks.

Everything here is a pure function of the workload seed and the generated
corpus, so one seed always yields the same documents, the same query pool
and the same churn batches.  The engine only ever sees the generated rows
and query strings.
"""

from __future__ import annotations

from collections import Counter
from dataclasses import dataclass

import numpy as np

from strucmotif_search_spark.corpus import HEAD_TERMS
from strucmotif_search_spark.oracle import (
    OracleIndex, bm25_topk, build_oracle, tokenize,
)

# The seven query classes every workload draws from, in pool order.
CLASSES = (
    "rare", "head", "two_mid", "five_or", "rare_and_head", "absent", "k1000",
)
KEY = ("repo", "path", "commit")


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    k: int = 10
    mode: str = "or"

    @property
    def terms(self) -> set[str]:
        return set(tokenize(self.text))


@dataclass
class Corpus:
    """The generated rows, split into the base set, the ADD batch and the
    natural keys the REMOVE batch deletes."""

    base: list[tuple]
    added: list[tuple]
    removed_keys: list[tuple]

    @property
    def base_bytes(self) -> int:
        return sum(len(r[4].encode()) for r in self.base)


def split_corpus(rows: list, n_base: int, n_remove: int, seed: int) -> Corpus:
    """``rows`` in doc_seq order: the first ``n_base`` are the indexed
    corpus, the rest are the fresh ADD batch (their natural keys differ from
    every base key, because the commit hash covers the doc sequence).  The
    REMOVE batch is a seeded sample of base keys."""
    rows = [tuple(r) for r in rows]
    base, added = rows[:n_base], rows[n_base:]
    rng = np.random.default_rng([seed, 3])
    pick = rng.choice(n_base, size=n_remove, replace=False)
    return Corpus(base, added, [base[int(i)][:3] for i in sorted(pick)])


@dataclass
class Oracle:
    """Oracle over a document set; ``doc_ids`` are the sorted rank of the
    natural key, which is how a fresh build mints ids."""

    index: OracleIndex
    keys: list[tuple]  # doc_id -> natural key

    @classmethod
    def over(cls, rows: list[tuple]) -> "Oracle":
        rows = sorted(rows, key=lambda r: r[:3])
        index = build_oracle(list(range(len(rows))), [r[4] for r in rows])
        return cls(index, [r[:3] for r in rows])


class TermTiers:
    """Base-corpus vocabulary split into the tiers the classes draw from."""

    def __init__(self, index: OracleIndex):
        body = sorted(
            (t for t in index.df if t.startswith("v_")),
            key=lambda t: (-index.df[t], t),
        )
        self.mid = body[200:2000]  # below the 200 most frequent
        self.rare = sorted(
            [t for t in index.df if t.startswith("uniq_")]
            + [t for t in body[2000:] if index.df[t] <= 2]
        )


def repeat_pool(tiers: TermTiers, seed: int) -> list[Query]:
    """One query per class, in ``CLASSES`` order (rank r of the Zipf draw
    is pool[r], so the class mix is the same for every seed)."""
    rng = np.random.default_rng([seed, 5])
    mid = list(rng.choice(tiers.mid, size=7, replace=False))
    rare = list(rng.choice(tiers.rare, size=2, replace=False))
    head = list(rng.choice(HEAD_TERMS, size=3, replace=False))
    return [
        Query("rare", rare[0]),
        Query("head", head[0]),
        Query("two_mid", " ".join(mid[:2])),
        Query("five_or", " ".join(mid[2:7])),
        Query("rare_and_head", f"{rare[1]} {head[1]}", mode="and"),
        Query("absent", f"zz_absent_{seed}_a zz_absent_{seed}_b"),
        Query("k1000", head[2], k=1000),
    ]


def zipf_sequence(n_pool: int, s: float = 1.1, slots: int = 8) -> list[int]:
    """One period of pool ranks in Zipf(s) proportions (about ``slots``
    draws, every rank at least once), ordered by smooth weighted
    round-robin.  With the defaults, pool ranks 0..6 get 3, 2, 1, 1, 1, 1, 1
    of the 10 draws.  The exponent and the ranking of the classes (the
    order of ``CLASSES``) are an assumption of this benchmark, not measured
    from any real query log."""
    w = 1.0 / np.power(np.arange(1, n_pool + 1, dtype=np.float64), s)
    weights = np.maximum(1, np.round(w / w.sum() * slots)).astype(int)
    current = np.zeros(n_pool, dtype=int)
    out = []
    for _ in range(int(weights.sum())):
        current += weights
        i = int(np.argmax(current))
        current[i] -= weights.sum()
        out.append(i)
    return out


def fresh_queries(tiers: TermTiers, seed: int, n: int,
                  exclude: set[str]) -> list[Query]:
    """Queries of one shape (OR of a Zipf-body term, a rare term and an
    absent token) whose terms never repeat and avoid ``exclude``: the body
    and rare tiers are drawn without replacement, absent tokens are minted
    per query."""
    rng = np.random.default_rng([seed, 11])
    mid = [t for t in rng.permutation(tiers.mid).tolist() if t not in exclude]
    rare = [t for t in rng.permutation(tiers.rare).tolist()
            if t not in exclude]
    return [Query("fresh", f"{mid[i]} {rare[i]} zz_fresh_{seed}_{i}")
            for i in range(n)]


def effect_probe(corpus: Corpus) -> Query:
    """The rarest terms of one added and one removed document: run on every
    churn generation, it shows ADD and REMOVE taking effect."""
    removed = set(corpus.removed_keys)
    gone = next(r for r in corpus.base if r[:3] in removed)
    return Query("rare", f"{_rarest(corpus.added[0][4])} {_rarest(gone[4])}")


def _rarest(text: str) -> str:
    counts = Counter(tokenize(text))
    uniq = sorted(t for t in counts if t.startswith("uniq_"))
    return uniq[0] if uniq else min(counts, key=lambda t: (counts[t], t))


def expected_ids(oracle: Oracle, q: Query) -> list[tuple[int, float]]:
    return bm25_topk(oracle.index, q.text, k=q.k, mode=q.mode)


def check_ids(rows, want: list[tuple[int, float]]) -> bool:
    """Fresh-build check: the engine's (doc_id, float64 score) list equals
    the oracle's exactly, rank for rank."""
    return [(int(r["doc_id"]), float(r["score"])) for r in rows] == want


def check_keys(rows, oracle: Oracle, q: Query, term_order: dict) -> bool:
    """Churn check at natural-key level: after ADD/REMOVE the engine's
    doc_ids are no longer the sorted key rank, so compare (key, score).
    Scores must match rank for rank; keys must match per score, except that
    the tie group at the k-th score may be any subset of the oracle's."""
    full = bm25_topk(
        oracle.index, q.text, k=len(oracle.keys), mode=q.mode,
        term_order=term_order,
    )
    got = [(tuple(r[c] for c in KEY), float(r["score"])) for r in rows]
    if [s for _, s in got] != [s for _, s in full[: q.k]]:
        return False
    want_by_score: dict[float, set] = {}
    for d, s in full:
        want_by_score.setdefault(s, set()).add(oracle.keys[d])
    got_by_score: dict[float, set] = {}
    for key, s in got:
        got_by_score.setdefault(s, set()).add(key)
    last = got[-1][1] if got else None
    return all(
        keys <= want_by_score[s] if s == last else keys == want_by_score[s]
        for s, keys in got_by_score.items()
    )
