"""Term-restricted numpy oracle for the engine's top-k results.

The corpus comes from ``generate_rows_local`` (the driver-side twin of
``generate_pages``), tokenized with the engine's tokenizer contract.
Impacts are computed only for the terms a checked query uses, with
``kernel.bm25.impact``; probabilities with ``kernel.transform``.
"""

from __future__ import annotations

from collections import Counter

import numpy as np

from bayesian_bm25_spark.kernel.bm25 import impact, tokenize
from bayesian_bm25_spark.kernel.transform import TransformParams

REL_TOL = 1e-9


class Corpus:
    """Per-doc term counts of a generated page table, doc_id = row index."""

    def __init__(self, rows: list[dict]) -> None:
        tfs = [Counter(tokenize(r["text"])) for r in rows]
        self.doc_len = np.array([sum(c.values()) for c in tfs], dtype=np.float64)
        self.text_bytes = np.array([len(r["text"].encode("utf-8")) for r in rows])
        inv: dict[str, tuple[list[int], list[int]]] = {}
        for doc_id, counts in enumerate(tfs):
            for term, tf in counts.items():
                ids, tf_list = inv.setdefault(term, ([], []))
                ids.append(doc_id)
                tf_list.append(tf)
        self.inverted = {
            t: (np.array(ids, dtype=np.int64), np.array(tf, dtype=np.float64))
            for t, (ids, tf) in inv.items()
        }

    def view(self, n_docs: int, k1: float, b: float, method: str) -> "Oracle":
        return Oracle(self, n_docs, k1, b, method)


class Oracle:
    """BM25 + calibrated probability over the first ``n_docs`` docs."""

    def __init__(self, corpus: Corpus, n_docs: int, k1: float, b: float, method: str) -> None:
        self.corpus = corpus
        self.n_docs = n_docs
        self.avgdl = float(corpus.doc_len[:n_docs].mean())
        self.k1, self.b, self.method = k1, b, method

    def _postings(self, term: str) -> tuple[np.ndarray, np.ndarray]:
        ids, tf = self.corpus.inverted.get(term, (np.zeros(0, np.int64), np.zeros(0)))
        keep = ids < self.n_docs
        return ids[keep], tf[keep]

    def scores(self, terms: list[str]) -> tuple[np.ndarray, np.ndarray]:
        """Dense (score, distinct matched terms) over all docs."""
        score = np.zeros(self.n_docs)
        matched = np.zeros(self.n_docs)
        for term, qtf in Counter(terms).items():
            ids, tf = self._postings(term)
            if len(ids) == 0:
                continue
            imp = impact(tf, self.corpus.doc_len[ids], len(ids), self.n_docs,
                         self.avgdl, self.k1, self.b, self.method)
            score[ids] += imp * qtf
            matched[ids] += 1
        return score, matched

    def probability(self, params: TransformParams, score, matched, doc_ids):
        ratio = self.corpus.doc_len[doc_ids] / self.avgdl
        return np.asarray(params.score_to_probability(score, matched, ratio))


def _close(a: float, b: float) -> bool:
    return abs(a - b) <= REL_TOL * max(abs(a), abs(b), 1e-300)


def check_topk(oracle: Oracle, params: TransformParams, terms: list[str],
               doc_ids: list[int], scores: list[float], probs: list[float],
               k: int = 10) -> str | None:
    """None when the engine's ranked list matches the oracle, else why not.

    Ranks must follow (score desc, doc_id asc).  Two docs may swap only
    when their oracle scores agree to ``REL_TOL`` — summation order makes
    such near-ties a floating-point coin toss on both sides.
    """
    score, matched = oracle.scores(terms)
    hits = np.flatnonzero(matched)
    order = hits[np.lexsort((hits, -score[hits]))][:k]
    if len(doc_ids) != len(order):
        return f"{len(doc_ids)} results, oracle has {len(order)}"
    if len(set(doc_ids)) != len(doc_ids):
        return f"duplicate doc_ids {doc_ids}"
    for rank, (got, want) in enumerate(zip(doc_ids, order)):
        if got < 0 or got >= oracle.n_docs or matched[got] == 0:
            return f"rank {rank + 1}: doc {got} does not match the query"
        if not _close(score[got], score[want]):
            return (f"rank {rank + 1}: doc {got} (score {score[got]!r}) where the "
                    f"oracle ranks doc {want} (score {score[want]!r})")
        if not _close(scores[rank], score[got]):
            return f"rank {rank + 1}: score {scores[rank]!r} vs oracle {score[got]!r}"
        if rank and scores[rank] == scores[rank - 1] and got < doc_ids[rank - 1]:
            return f"rank {rank + 1}: equal scores not ordered by doc_id asc"
    ids = np.asarray(doc_ids, dtype=np.int64)
    want_p = oracle.probability(params, score[ids], matched[ids], ids)
    for rank, (p, q) in enumerate(zip(probs, want_p)):
        if not _close(float(p), float(q)):
            return f"rank {rank + 1}: probability {p!r} vs oracle {float(q)!r}"
    return None
