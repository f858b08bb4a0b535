"""Seeded query generator over the datagen vocabulary, and the BM25 oracle check.

Queries draw their terms from the same vocabulary and Zipf law that
``dart_importer_spark.datagen`` writes the corpus with, rebuilt here from the
module's public constants, so every class hits the document frequencies it is
named for: ``stop_*`` and ``phrase`` use the top-ranked stopwords, ``mid_*``
the middle band, ``rare`` planted markers and the tail.
"""

from __future__ import annotations

import importlib.util
import os
from dataclasses import dataclass

import numpy as np
import pandas as pd
from pyspark.sql import functions as F

from dart_importer_spark.datagen import CJK_WORDS, N_MARKERS, STOPWORDS, VOCAB_SIZE, ZIPF_S
from dart_importer_spark.functions.tokenizer import tokenize_text

# datagen plants ``zq{c % N_MARKERS}marker`` in turn 0 of every 997th conversation
MARKER_EVERY = 997
CJK_RANK = 200  # datagen splices the CJK words in at this Zipf rank
BASE_TS = pd.Timestamp("2024-01-01 00:00:00")  # datagen: ts = base + 60 s per conv

SELECTIVE = ("rare", "mid_or", "mid_and", "filtered", "cjk", "dsl_bool")
HEAVY = ("stop_or", "stop_and", "phrase")
CLASSES = SELECTIVE + HEAVY


def vocab_word(rank: int) -> str:
    """The datagen word at 0-based Zipf ``rank``."""
    if rank < len(STOPWORDS):
        return STOPWORDS[rank]
    if CJK_RANK <= rank < CJK_RANK + len(CJK_WORDS):
        return CJK_WORDS[rank - CJK_RANK]
    return f"w{rank - len(STOPWORDS):05d}"


@dataclass(frozen=True)
class Query:
    cls: str
    text: str
    mode: str = "or"
    k: int = 10
    role: str | None = None
    ts_from: pd.Timestamp | None = None
    min_turn: int | None = None

    def body(self) -> dict:
        """The ES ``_search`` body of a ``dsl_bool`` query."""
        return {"query": {"bool": {
            "must": [{"match": {"text": self.text}}],
            "filter": [
                {"term": {"role": self.role}},
                {"range": {"turn_idx": {"gte": self.min_turn}}},
            ],
        }}, "size": self.k}

    def filters(self):
        if self.role is not None:
            return F.col("role") == self.role
        if self.ts_from is not None:
            return F.col("ts") >= F.lit(self.ts_from)
        return None

    def run(self, ix):
        """Call the public engine method for this query; returns the lazy
        DataFrame (any eager work the engine does happens here)."""
        if self.cls == "phrase":
            return ix.match_phrase(self.text, k=self.k)
        if self.cls == "dsl_bool":
            return ix.search(self.body())
        return ix.topk(self.text, self.k, mode=self.mode, filters=self.filters())


class QueryGen:
    """Draws queries of each class from one seeded generator.

    The seed picks the terms; a query's shape (term count, k, filter kind)
    is fixed per class or follows a fixed rotation, so runs on different
    seeds do the same kinds of work in the same order."""

    def __init__(self, seed: int, n_convs: int):
        self.rng = np.random.default_rng(seed)
        self.n_convs = n_convs
        self.markers = sorted(
            {f"zq{c % N_MARKERS}marker" for c in range(0, n_convs, MARKER_EVERY)}
        )
        ranks = np.arange(1, VOCAB_SIZE + 1, dtype=np.float64)
        self._weight = ranks ** (-ZIPF_S)
        self._drawn: dict[str, int] = {}

    def _zipf(self, lo: int, hi: int, n: int) -> list[str]:
        """``n`` words drawn by the Zipf law restricted to ranks [lo, hi)."""
        w = self._weight[lo:hi]
        ranks = lo + self.rng.choice(hi - lo, size=n, p=w / w.sum())
        return [vocab_word(int(r)) for r in ranks]

    def _bands(self, *bands: tuple[int, int]) -> list[str]:
        """One word from each rank band [lo, hi), uniformly, in random order:
        the seed varies the words while their summed document frequency,
        which sets the decode work, stays about the same."""
        words = [vocab_word(int(self.rng.integers(lo, hi))) for lo, hi in bands]
        return [words[j] for j in self.rng.permutation(len(words))]

    def draw(self, cls: str) -> Query:
        i = self._drawn[cls] = self._drawn.get(cls, -1) + 1
        r = self.rng
        if cls == "rare":
            if i % 2 == 0:
                return Query(cls, str(r.choice(self.markers)))
            return Query(cls, self._zipf(2000, VOCAB_SIZE, 1)[0])
        if cls == "mid_or":
            return Query(cls, " ".join(self._zipf(30, 2000, 1 + i % 3)))
        if cls == "mid_and":
            return Query(cls, " ".join(self._zipf(30, 300, 2)), mode="and")
        if cls == "filtered":
            text = " ".join(self._zipf(30, 1000, 1 + i % 2))
            if i % 2 == 0:
                return Query(cls, text, role=("user", "assistant", "tool")[i // 2 % 3])
            cut = BASE_TS + pd.Timedelta(seconds=int(r.integers(0, self.n_convs * 60)))
            return Query(cls, text, ts_from=cut)
        if cls == "cjk":
            return Query(cls, " ".join(r.choice(CJK_WORDS, size=1 + i % 2, replace=False)))
        # the heavy classes keep one shape, so a run's mix does not depend on
        # how many rounds fit in its window
        if cls == "stop_or":  # 6 terms, all stopwords but one; deep k
            terms = self._bands((0, 2), (2, 4), (4, 6), (6, 9), (9, 12)) + self._zipf(30, 2000, 1)
            return Query(cls, " ".join(terms), k=100)
        if cls == "stop_and":
            return Query(cls, " ".join(self._bands((0, 2), (2, 4), (4, 6), (6, 10))), mode="and")
        if cls == "phrase":
            return Query(cls, " ".join(self._bands((0, 2), (2, 6))))
        if cls == "dsl_bool":
            return Query(
                cls, " ".join(self._zipf(30, 1000, 1 + i % 2)),
                role=("user", "assistant")[i % 2], min_turn=i % 4,
            )
        raise ValueError(f"unknown query class {cls!r}")


def load_oracle_class(root: str):
    """``BM25Oracle`` from the repository's ``tests/oracle.py``."""
    path = os.path.join(root, "tests", "oracle.py")
    spec = importlib.util.spec_from_file_location("perfbench_bm25_oracle", path)
    mod = importlib.util.module_from_spec(spec)
    spec.loader.exec_module(mod)
    return mod.BM25Oracle


class OracleCheck:
    """Expected results for the live documents of an index.

    ``docs`` holds one row per live document with ``doc_id``, the key
    columns, ``role``, ``ts`` and ``text``. Ranks must match exactly and
    scores to 1e-6, as in the repository's rank-identity tests."""

    def __init__(self, oracle_cls, docs: pd.DataFrame):
        docs = docs.sort_values("doc_id").reset_index(drop=True)
        self.oracle = oracle_cls(docs)
        self.docs = self.oracle.docs

    def _mask(self, q: Query) -> np.ndarray | None:
        d = self.docs
        if q.cls == "dsl_bool":
            return ((d["role"] == q.role) & (d["turn_idx"] >= q.min_turn)).to_numpy()
        if q.role is not None:
            return (d["role"] == q.role).to_numpy()
        if q.ts_from is not None:
            return (d["ts"] >= q.ts_from).to_numpy()
        return None

    def _phrase(self, q: Query) -> list[tuple[int, float]]:
        """First k live docs (doc_id order) holding the exact phrase."""
        p = tokenize_text(q.text)
        n = len(p)
        hits: list[tuple[int, float]] = []
        for doc_id, toks in zip(self.oracle.doc_ids, self.oracle.tokens):
            if any(toks[i:i + n] == p for i in range(len(toks) - n + 1)):
                hits.append((int(doc_id), 1.0))
                if len(hits) == q.k:
                    break
        return hits

    def _scores(self, q: Query) -> dict[int, float]:
        """Oracle BM25 score of every matching live document."""
        s = self.oracle.scores(q.text, mode=q.mode)
        mask = self._mask(q)
        if mask is not None:
            s = s[s["doc_id"].isin(self.oracle.doc_ids[mask])]
        return dict(zip(s["doc_id"].astype(int), s["score"].astype(float)))

    def mismatch(self, q: Query, got: list[tuple[int, float]]) -> str | None:
        """None when ``got`` is the oracle's answer, else a description.

        A phrase answer must equal the oracle's doc ids exactly. A scored
        answer must hold k distinct documents whose engine scores equal their
        oracle scores and the oracle's top-k score list to 1e-6. Documents
        whose scores tie in exact arithmetic may come in either order and
        either side of the k-th place: the engine and the oracle sum the
        terms in different orders, so float noise breaks such ties."""
        if q.cls == "phrase":
            exp = self._phrase(q)
            if [d for d, _ in got] == [d for d, _ in exp]:
                return None
            return f"{q}: engine {got[:5]}... != oracle {exp[:5]}..."
        scored = self._scores(q)
        want = sorted(scored.values(), reverse=True)[:q.k]
        ids = [d for d, _ in got]
        if (
            len(got) == len(want)
            and len(set(ids)) == len(ids)
            and np.allclose([s for _, s in got], want, rtol=0.0, atol=1e-6)
            and all(abs(scored.get(d, np.inf) - s) <= 1e-6 for d, s in got)
        ):
            return None
        wrong = [(d, s, scored.get(d)) for d, s in got if abs(scored.get(d, np.inf) - s) > 1e-6]
        return f"{q}: {len(got)} hits for {len(want)} expected; wrong scores {wrong[:5]}"
