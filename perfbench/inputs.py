"""Seeded workload inputs.

Every table and query row is a pure function of the run's seed. The
engine receives only these generated inputs: corpus turns follow
FIXTURES.md §1 (``generate_pandas``) and match queries follow §2
(``generate_queries``: hot, mid-frequency and ~10% absent terms,
k in {1, 10, 100}).
"""

from __future__ import annotations

import numpy as np
import pandas as pd
import pyarrow as pa
import pyarrow.parquet as pq

from data_prepper_spark.data.transcripts import (
    HOT_TERMS, generate_pandas, generate_queries,
)
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE

TRANSCRIPT_COLUMNS = ["conv_id", "turn_idx", "role", "text", "tool", "ts"]
REQUEST_QUERIES = 8
# request types of the search workload, 7:1:1:1 in every block of ten:
# match, and bool, phrase and filtered in a seeded order in the fixed
# "other" slots. Fixed slots give every run the same mix of types over
# its first few requests, so the median of a short run does not move
# with the seed's shuffle.
MIX = ("match", "match", "other", "match", "match", "other", "match", "match", "other", "match")
OTHER = ("bool", "phrase", "filtered")
# filter-context predicates over the corpus store's role/tool columns,
# each with the pandas form the output check evaluates
FILTERS = {
    "role = 'tool' AND tool = 'bash'":
        lambda d: (d["role"] == "tool") & (d["tool"] == "bash"),
    "role = 'user'": lambda d: d["role"] == "user",
    "role = 'assistant'": lambda d: d["role"] == "assistant",
    "tool IN ('search', 'browser')":
        lambda d: d["tool"].isin(["search", "browser"]),
}


def corpus(conv_lo: int, conv_hi: int, seed: int) -> pd.DataFrame:
    """Turns of conversations [conv_lo, conv_hi) plus the doc_id the
    index assigns them (arithmetic conv-N packing)."""
    pdf = generate_pandas(conv_lo, conv_hi, seed=seed)
    serial = pdf["conv_id"].str.slice(5).astype(np.int64)
    pdf["doc_id"] = serial * DOC_ID_STRIDE + pdf["turn_idx"].astype(np.int64)
    return pdf


def serials(docs: pd.DataFrame) -> np.ndarray:
    """Conversation serial of each turn (the conv-N number)."""
    return docs["doc_id"].to_numpy() // DOC_ID_STRIDE


def write_parquet(pdf: pd.DataFrame, path: str, columns: list[str]) -> str:
    pq.write_table(pa.Table.from_pandas(pdf[columns], preserve_index=False), path)
    return path



class Queries:
    """Fresh match queries: each call hands out rows never used before
    in this run, with run-unique query ids."""

    def __init__(self, seed: int, prefix: str, pool: int = 4000):
        self.pool = generate_queries(pool, seed=seed)
        self.prefix = prefix
        self.next = 0

    def take(self, n: int) -> pd.DataFrame:
        idx = [(self.next + i) % len(self.pool) for i in range(n)]
        out = self.pool.iloc[idx].reset_index(drop=True)
        out["query_id"] = [f"{self.prefix}{self.next + i:06d}" for i in range(n)]
        self.next += n
        return out


class SearchRequests:
    """The search workload's request stream: request type, query rows
    and (for filtered requests) the predicate."""

    def __init__(self, seed: int, docs: pd.DataFrame):
        self.rng = np.random.default_rng(seed)
        self.queries = Queries(seed, "s")
        self.texts = docs["text"].to_numpy()
        self.order: list[str] = []
        self.n = 0

    def new_block(self) -> None:
        others = iter(self.rng.permutation(OTHER))
        self.order = [next(others) if kind == "other" else kind for kind in MIX]

    def next(self) -> tuple[str, pd.DataFrame, str | None]:
        if not self.order:
            self.new_block()
        kind = str(self.order.pop(0))
        self.n += 1
        base = self.queries.take(REQUEST_QUERIES)
        if kind == "bool":
            return kind, self._bool(base), None
        if kind == "phrase":
            return kind, self._phrase(base), None
        if kind == "filtered":
            expr = list(FILTERS)[int(self.rng.integers(len(FILTERS)))]
            return kind, base[["query_id", "query_text", "k"]], expr
        return kind, base[["query_id", "query_text", "k"]], None

    def _bool(self, base: pd.DataFrame) -> pd.DataFrame:
        """must = a query's first term, should = the next query's terms
        (at most two), must_not = one hot term."""
        texts = base["query_text"].str.split().tolist()
        rows = []
        for i, r in base.iterrows():
            other = texts[(i + 1) % len(texts)]
            rows.append({
                "query_id": r["query_id"],
                "must": texts[i][0],
                "should": " ".join(other[:2]),
                "must_not": HOT_TERMS[int(self.rng.integers(len(HOT_TERMS)))],
                "k": int(r["k"]),
            })
        return pd.DataFrame(rows)

    def _phrase(self, base: pd.DataFrame) -> pd.DataFrame:
        """Adjacent token pairs sampled from corpus text; the last query
        of each request pairs a hot term with an absent one."""
        rows = []
        for i, r in base.iterrows():
            if i == len(base) - 1:
                text = f"{HOT_TERMS[0]} zzabsent{self.n}"
            else:
                toks = self.texts[int(self.rng.integers(len(self.texts)))].split()
                while len(toks) < 2:
                    toks = self.texts[int(self.rng.integers(len(self.texts)))].split()
                p = int(self.rng.integers(len(toks) - 1))
                text = f"{toks[p]} {toks[p + 1]}"
            rows.append({"query_id": r["query_id"], "query_text": text,
                         "k": int(r["k"])})
        return pd.DataFrame(rows)
