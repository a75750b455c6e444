"""Exhaustive answers for every query the benchmark sends.

Disjunctive and conjunctive top-k come from ``search/oracle.py``. The
other shapes -- dismax, minShouldMatch, ``-must_not``, ``role:`` filters
and exact phrases with an optional term -- are scored here over the same
oracle postings, with the same float32 cast points
(``functions/bm25.py``): per-term scores in
float32, summed in float64, cast to float32; ties broken by doc id.
"""

from __future__ import annotations

import numpy as np
import pyarrow.parquet as pq

from lucene_solr_spark.analysis.tokenizer import tokenize
from lucene_solr_spark.functions import bm25
from lucene_solr_spark.search.oracle import build_oracle_index, oracle_topk


def load_corpus(corpus_dir: str) -> tuple:
    """(texts, roles) of the staged corpus in doc-id order, i.e. ordered
    by (conv_id, turn_idx); read with pyarrow, independently of Spark."""
    pdf = (
        pq.read_table(corpus_dir, columns=["conv_id", "turn_idx", "role", "text"])
        .to_pandas()
        .sort_values(["conv_id", "turn_idx"], kind="stable")
    )
    return pdf["text"].tolist(), pdf["role"].to_numpy()


class Oracle:
    def __init__(self, texts: list, roles: np.ndarray):
        self.texts = texts
        self.index = build_oracle_index(texts)
        self.user = roles == "user"
        self.max_doc = len(texts)
        self.n_terms = len(self.index.postings)
        avgdl = bm25.avgdl(self.index.sum_total_term_freq, max(self.index.doc_count, 1))
        self._cache = bm25.norm_cache(avgdl)

    def stats(self) -> dict:
        return {
            "doc_count": self.index.doc_count,
            "sum_total_term_freq": self.index.sum_total_term_freq,
            "max_doc": self.max_doc,
            "n_terms": self.n_terms,
        }

    def _idf(self, term: str) -> np.float32:
        return bm25.idf(self.index.df[term], self.index.doc_count)

    def _term(self, term: str):
        """(doc ids, float32 scores) of one term, or None if absent."""
        pl = self.index.postings.get(term)
        if pl is None:
            return None
        docs = pl[:, 0]
        weight = np.float32(np.float32(1.0) * self._idf(term))
        return docs, bm25.score_term(pl[:, 1], self.index.norm_bytes[docs], weight, self._cache)

    def _accumulate(self, terms: list):
        n = self.max_doc
        acc, mx = np.zeros(n), np.zeros(n)
        matched = np.zeros(n, dtype=np.int64)
        for term in terms:
            got = self._term(term)
            if got is None:
                continue
            docs, scores = got
            acc[docs] += scores.astype(np.float64)
            np.maximum.at(mx, docs, scores.astype(np.float64))
            matched[docs] += 1
        return acc, mx, matched

    @staticmethod
    def _rank(docs: np.ndarray, scores: np.ndarray, k: int) -> list:
        s = scores.astype(np.float32)
        order = np.lexsort((docs, -s.astype(np.float64)))[:k]
        return [(int(d), np.float32(v)) for d, v in zip(docs[order], s[order])]

    def _topk(self, hit: np.ndarray, scores: np.ndarray, k: int) -> list:
        docs = np.nonzero(hit)[0]
        return self._rank(docs, scores[docs], k)

    def _with_terms(self, terms: list) -> np.ndarray:
        hit = np.zeros(self.max_doc, dtype=bool)
        for term in terms:
            got = self._term(term)
            if got is not None:
                hit[got[0]] = True
        return hit

    def wand(self, mode: str, terms: list, msm: int | None, k: int) -> list:
        """Top-k of one ``search_wand`` query."""
        if mode in ("disjunctive", "conjunctive") and not msm:
            out = oracle_topk(self.index, terms, mode, k)
            return [(int(d), np.float32(s)) for d, s in zip(out["doc_id"], out["score"])]
        acc, mx, matched = self._accumulate(terms)
        if mode == "dismax":
            return self._topk(matched > 0, mx, k)
        return self._topk(matched >= msm, acc, k)

    def frontdoor(self, spec: dict, k: int) -> list:
        """Top-k of one ``Searcher.search`` query (see queries.py)."""
        shape = spec["shape"]
        if shape == "phrase":
            return self._phrase(spec["terms"], spec["optional"], k)
        if shape in ("term", "must"):
            mode = "conjunctive" if shape == "must" else "disjunctive"
            return self.wand(mode, spec["terms"], None, k)
        acc, _, matched = self._accumulate(spec["terms"])
        hit = matched >= spec["msm"] if shape == "mm" else matched > 0
        if shape == "must_not":
            hit &= ~self._with_terms(spec["exclude"])
        if shape == "role":
            hit &= self.user
        return self._topk(hit, acc, k)

    def _phrase(self, terms: list, optional: list, k: int) -> list:
        """Exact phrase: freq = occurrences of the term sequence, scored
        as one term whose weight is the float32 sum of the term idfs. The
        phrase is required; each optional term's float32 score is added to
        it in float32 where the term occurs (ReqOptSumScorer)."""
        if any(t not in self.index.postings for t in terms):
            return []
        cand = self.index.postings[terms[0]][:, 0]
        for t in terms[1:]:
            cand = np.intersect1d(cand, self.index.postings[t][:, 0])
        docs, freqs = [], []
        n = len(terms)
        for d in cand:
            toks = tokenize(self.texts[d] or "")
            f = sum(
                1 for i in range(len(toks) - n + 1) if toks[i:i + n] == terms
            )
            if f:
                docs.append(d)
                freqs.append(f)
        if not docs:
            return []
        docs = np.asarray(docs, dtype=np.int64)
        w_sum = np.float32(sum(float(self._idf(t)) for t in terms))
        scores = bm25.score_term(
            np.asarray(freqs, dtype=np.int64), self.index.norm_bytes[docs], w_sum, self._cache
        ).astype(np.float32)
        for t in optional:
            got = self._term(t)
            if got is None:
                continue
            opt = np.zeros(self.max_doc, dtype=np.float32)
            opt[got[0]] = got[1]
            scores = scores + opt[docs]
        return self._rank(docs, scores, k)

