"""Output checks, run outside the timed region.

Match results must be rank-identical to ``oracle/bm25.py``. Bool and
filtered results are recomputed from the oracle index's postings, and
phrase results from a plain Python scan of the corpus text, all with the
engine's BM25 arithmetic (idf times the per-posting partial, summed in
sorted-term order). Each check returns a list of error strings; empty
means the output is correct.
"""

from __future__ import annotations

import heapq
import math

import pandas as pd

from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.oracle import bm25 as oracle
from perfbench.inputs import FILTERS

REL_TOL = 1e-9


def by_query(rows) -> tuple[dict[str, list[tuple[int, float]]], list[str]]:
    """Engine rows (query_id, rank, doc_id, score) -> query_id -> ranked
    (doc_id, score), plus errors for ranks that are not 1..n."""
    got: dict[str, list[tuple[int, int, float]]] = {}
    for r in rows:
        got.setdefault(r["query_id"], []).append(
            (int(r["rank"]), int(r["doc_id"]), float(r["score"])))
    out, errs = {}, []
    for qid, lst in got.items():
        lst.sort()
        if [x[0] for x in lst] != list(range(1, len(lst) + 1)):
            errs.append(f"{qid}: ranks {[x[0] for x in lst][:10]} are not 1..n")
        out[qid] = [(d, s) for _, d, s in lst]
    return out, errs


def compare(qid: str, got: list, want: list) -> list[str]:
    same = len(got) == len(want) and all(
        gd == wd and math.isclose(gs, ws, rel_tol=REL_TOL, abs_tol=REL_TOL)
        for (gd, gs), (wd, ws) in zip(got, want)
    )
    return [] if same else [f"{qid}: got {got[:3]} want {want[:3]} "
                            f"({len(got)} vs {len(want)} rows)"]


class Oracle:
    """Oracle index over one corpus state (pandas, with doc_id)."""

    def __init__(self, docs: pd.DataFrame):
        self.docs = docs
        self.idx = oracle.build_index(zip(docs["doc_id"].tolist(), docs["text"].tolist()))
        self._tf: dict[str, dict[int, int]] = {}
        self._tokens: list[tuple[int, list[str]]] | None = None

    def tf(self, term: str) -> dict[int, int]:
        if term not in self._tf:
            self._tf[term] = dict(self.idx.postings.get(term, ()))
        return self._tf[term]

    def score(self, terms: list[str], doc: int) -> float:
        """Engine arithmetic: sum over sorted terms of idf * partial."""
        k1, b = oracle.K1, oracle.B
        dl = self.idx.doc_len[doc]
        s = 0.0
        for t in terms:
            tf = self.tf(t).get(doc)
            if tf:
                s += self.idx.idf(t) * (
                    tf * (k1 + 1.0) / (tf + k1 * (1.0 - b + b * dl / self.idx.avgdl)))
        return s

    def top(self, terms: list[str], docs, k: int) -> list[tuple[int, float]]:
        scored = ((d, self.score(terms, d)) for d in docs)
        return heapq.nsmallest(k, scored, key=lambda x: (-x[1], x[0]))

    # --------------------------------------------------------- per type

    def check(self, kind: str, queries: pd.DataFrame, rows,
              filter_expr: str | None = None) -> list[str]:
        got, errs = by_query(rows)
        stray = set(got) - set(queries["query_id"])
        if stray:
            errs.append(f"rows for unknown query ids {sorted(stray)[:5]}")
        for q in queries.to_dict("records"):
            want = getattr(self, f"_{kind}")(q, filter_expr)
            errs += compare(q["query_id"], got.get(q["query_id"], []), want)
        return errs

    def _match(self, q, _filter_expr) -> list[tuple[int, float]]:
        return oracle.score_query(self.idx, q["query_text"], int(q["k"]))

    def _bool(self, q, _filter_expr) -> list[tuple[int, float]]:
        must = sorted(set(tokenize(q["must"])))
        should = sorted(set(tokenize(q["should"])))
        must_not = sorted(set(tokenize(q["must_not"])))
        # a must clause is present, so should terms only add score
        cand = None
        for t in must:
            docs = set(self.tf(t))
            cand = docs if cand is None else cand & docs
        if not cand:
            return []
        for t in must_not:
            cand -= set(self.tf(t))
        return self.top(sorted(set(must) | set(should)), cand, int(q["k"]))

    def _phrase(self, q, _filter_expr) -> list[tuple[int, float]]:
        toks = tokenize(q["query_text"])
        n = len(toks)
        if self._tokens is None:
            self._tokens = [(d, tokenize(t)) for d, t in
                            zip(self.docs["doc_id"].tolist(), self.docs["text"].tolist())]
        need = set(toks)
        hits = [d for d, dt in self._tokens
                if need <= set(dt)
                and any(dt[i:i + n] == toks for i in range(len(dt) - n + 1))]
        return self.top(sorted(need), hits, int(q["k"]))

    def _filtered(self, q, filter_expr) -> list[tuple[int, float]]:
        terms = sorted(set(tokenize(q["query_text"])))
        allowed = set(self.docs.loc[FILTERS[filter_expr](self.docs), "doc_id"].tolist())
        cand = set()
        for t in terms:
            cand |= set(self.tf(t))
        return self.top(terms, cand & allowed, int(q["k"]))


def check_live(queries: pd.DataFrame, rows, live_docs: set[int]) -> list[str]:
    """Checks for a read while tombstones are pending (df and avgdl are
    stale until compaction, so scores are not oracle-exact): ranks are
    1..n with n <= k, scores do not increase, and every hit is a live
    doc, so no deleted conversation leaks through. (An upserted
    conversation keeps its doc ids, so its old generation cannot be told
    apart here; the exact check after compaction covers it.)"""
    got, errs = by_query(rows)
    ks = dict(zip(queries["query_id"], queries["k"]))
    for qid, lst in got.items():
        if qid not in ks or len(lst) > int(ks[qid]):
            errs.append(f"{qid}: {len(lst)} rows for k={ks.get(qid)}")
        if any(a[1] < b[1] for a, b in zip(lst, lst[1:])):
            errs.append(f"{qid}: scores increase with rank")
        dead = [d for d, _ in lst if d not in live_docs]
        if dead:
            errs.append(f"{qid}: deleted docs returned {dead[:5]}")
    return errs
