"""Filter-context BM25 top-k (`bool: {must: match, filter: [...]}`) —
the everyday OpenSearch query shape over the reference sink's indexes
(OpenSearchSink.java:132-141 consumers): full-text match restricted by
structured attributes (timestamp range, role) BEFORE the top-k heap,
with full-corpus idf/avgdl (filter context never changes scoring
stats). Verified against a brute-force pandas scorer sharing the
oracle BM25 math, over the north-rule transcript shape (conv_id,
turn_idx, role, text, tool, ts)."""

import numpy as np
import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas
from data_prepper_spark.index import build as ib
from data_prepper_spark.index.tokenizer import tokenize
from data_prepper_spark.query import engine
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE


@pytest.fixture(scope="module")
def corpus_and_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("filt_idx"))
    pdf = generate_pandas(0, 400)
    pdf["doc_id"] = (
        pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx
    )
    # index is conv-sharded: keep conv_id in the build input
    sdf = spark.createDataFrame(pdf[["doc_id", "conv_id", "text"]])
    ib.build_index(spark, sdf, d, n_shards=4, block_size=64, assign_ids=False)
    return pdf, d


def _brute_filtered(pdf, query_terms, allow_mask, k):
    """Reference scorer: BM25 (full-corpus stats) over docs that match
    >=1 query term AND pass the filter; sorted-term accumulation."""
    toks = [tokenize(t) for t in pdf.text]
    n_docs = len(toks)
    avgdl = float(np.mean([len(t) for t in toks]))
    tf = [pd.Series(t).value_counts() for t in toks]
    df_map: dict[str, int] = {}
    for c in tf:
        for term in c.index:
            df_map[term] = df_map.get(term, 0) + 1
    rows = []
    for i, c in enumerate(tf):
        if not allow_mask.iloc[i]:
            continue
        dl = len(toks[i])
        score = 0.0
        for t in sorted(set(query_terms)):
            if t not in c.index:
                continue
            dft = df_map[t]
            idf = np.log(1.0 + (n_docs - dft + 0.5) / (dft + 0.5))
            f = float(c[t])
            score += idf * (f * 2.2) / (f + 1.2 * (0.25 + 0.75 * dl / avgdl))
        if score > 0.0:
            rows.append((int(pdf.doc_id.iloc[i]), score))
    rows.sort(key=lambda r: (-r[1], r[0]))
    return rows[:k]


def _run_filtered(spark, d, pdf, query_text, filter_expr, k):
    qdf = spark.createDataFrame(
        [("q", query_text, k)], "query_id string, query_text string, k int"
    )
    docs = spark.createDataFrame(
        pdf[["doc_id", "conv_id", "role", "ts", "text"]]
    )
    out = engine.filtered_topk(spark, d, qdf, docs, filter_expr).toPandas()
    return list(zip(out.doc_id.astype(int), out.score))


@pytest.mark.parametrize(
    "query_text,filter_py,filter_sql",
    [
        ("error timeout", lambda p: p.role == "user", "role = 'user'"),
        ("error retry connection",
         lambda p: p.turn_idx >= 3, "turn_idx >= 3"),
        ("database index",
         lambda p: (p.role == "assistant") & (p.turn_idx % 2 == 0),
         "role = 'assistant' AND turn_idx % 2 = 0"),
        # empty filter result -> zero rows
        ("error", lambda p: p.role == "nobody", "role = 'nobody'"),
    ],
)
def test_filtered_matches_bruteforce(
    spark, corpus_and_index, query_text, filter_py, filter_sql
):
    pdf, d = corpus_and_index
    pdf2 = pdf.copy()
    if "turn_idx" in filter_sql:
        pass  # turn_idx is a corpus column already
    want = _brute_filtered(pdf2, tokenize(query_text), filter_py(pdf2), k=10)
    qdf = spark.createDataFrame(
        [("q", query_text, 10)], "query_id string, query_text string, k int"
    )
    docs = spark.createDataFrame(
        pdf2[["doc_id", "conv_id", "role", "turn_idx", "ts", "text"]]
    )
    out = engine.filtered_topk(spark, d, qdf, docs, filter_sql).toPandas()
    got = list(zip(out.doc_id.astype(int), out.score))
    assert [g[0] for g in got] == [w[0] for w in want]
    assert np.allclose([g[1] for g in got], [w[1] for w in want], atol=1e-9)


def test_filter_does_not_change_stats(spark, corpus_and_index):
    """A doc's score under a filter equals its score UNFILTERED —
    filter context must not change idf/avgdl (OpenSearch semantics)."""
    pdf, d = corpus_and_index
    qdf = spark.createDataFrame(
        [("q", "error timeout", 400 * 8)],
        "query_id string, query_text string, k int",
    )
    docs = spark.createDataFrame(pdf[["doc_id", "conv_id", "role", "text"]])
    unfiltered = engine.score_topk(spark, d, qdf, algo="exh").toPandas()
    filtered = engine.filtered_topk(
        spark, d, qdf, docs, "role = 'user'"
    ).toPandas()
    base = dict(zip(unfiltered.doc_id.astype(int), unfiltered.score))
    for doc, s in zip(filtered.doc_id.astype(int), filtered.score):
        assert doc in base
        assert abs(base[doc] - s) < 1e-9


def test_filtered_respects_tombstones(spark, corpus_and_index, tmp_path):
    pdf, d = corpus_and_index
    # tombstone one conversation that owns a top result
    qdf = spark.createDataFrame(
        [("q", "error", 5)], "query_id string, query_text string, k int"
    )
    docs = spark.createDataFrame(pdf[["doc_id", "conv_id", "role", "text"]])
    before = engine.filtered_topk(spark, d, qdf, docs, "role = 'user'").toPandas()
    assert len(before) > 0
    from data_prepper_spark.index import tombstones as tomb_mod

    top_conv = int(before.doc_id.iloc[0]) // DOC_ID_STRIDE
    tomb_mod.delete_conversations(spark, d, [top_conv])
    after = engine.filtered_topk(spark, d, qdf, docs, "role = 'user'").toPandas()
    gone = set(
        pdf[pdf.conv_id == f"conv-{top_conv}"].doc_id.astype(int)
    )
    assert not (set(after.doc_id.astype(int)) & gone)


def test_filtered_shard_routing_without_conv_id(spark, tmp_path):
    """A corpus WITHOUT a conv_id column must route allowed docs to the
    same shards the build used — the index's recorded id scheme drives
    derivation (arith: conv_id from doc_id; convmap: join the persisted
    side table), never a doc_id-string guess (which silently drops
    results on conv-sharded indexes)."""
    import uuid

    pdf = generate_pandas(0, 120)
    # UUID conv ids -> convmap scheme
    remap = {c: str(uuid.uuid5(uuid.NAMESPACE_URL, c)) for c in pdf.conv_id.unique()}
    updf = pdf.copy()
    updf["conv_id"] = updf.conv_id.map(remap)
    d = str(tmp_path / "uuid_idx")
    ib.build_index(spark, spark.createDataFrame(updf), d, n_shards=4,
                   block_size=64)
    import json, os
    stats = json.load(open(os.path.join(d, "stats.json")))
    assert stats["id_scheme"] == "convmap"
    # doc_ids as the convmap assigned them
    cm = spark.read.parquet(os.path.join(d, "convmap")).toPandas()
    serial = dict(zip(cm.conv_id, cm.serial))
    updf["doc_id"] = (
        updf.conv_id.map(serial).astype(int) * DOC_ID_STRIDE + updf.turn_idx
    )
    qdf = spark.createDataFrame(
        [("q", "error timeout", 10)],
        "query_id string, query_text string, k int",
    )
    # corpus WITHOUT conv_id: engine must recover routing via convmap
    docs = spark.createDataFrame(updf[["doc_id", "role", "text"]])
    got = engine.filtered_topk(spark, d, qdf, docs, "role = 'user'").toPandas()
    want = _brute_filtered(updf, tokenize("error timeout"),
                           updf.role == "user", k=10)
    assert [int(x) for x in got.doc_id] == [w[0] for w in want]


def test_filtered_external_conv_sharded_requires_conv_id(spark, tmp_path):
    """External-id index sharded by a PROVIDED conv_id column: querying
    with a conv_id-free corpus must raise loudly, not drop results."""
    pdf = generate_pandas(0, 40)
    pdf["doc_id"] = (
        pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx
    )
    d = str(tmp_path / "ext_idx")
    ib.build_index(spark, spark.createDataFrame(pdf[["doc_id", "conv_id", "text"]]),
                   d, n_shards=2, block_size=64, assign_ids=False)
    qdf = spark.createDataFrame(
        [("q", "error", 5)], "query_id string, query_text string, k int"
    )
    docs = spark.createDataFrame(pdf[["doc_id", "role", "text"]])
    with pytest.raises(ValueError, match="conv_id"):
        engine.filtered_topk(spark, d, qdf, docs, "role = 'user'")


def test_filtered_topk_multi(spark, corpus_and_index):
    """Per-query filters: grouped by distinct predicate, unfiltered
    queries ride score_topk; each query's rows equal its single-call
    result."""
    pdf, d = corpus_and_index
    docs = spark.createDataFrame(pdf[["doc_id", "conv_id", "role", "text"]])
    qdf = spark.createDataFrame(
        [("m1", "error timeout", 5, "role = 'user'"),
         ("m2", "error retry", 5, "role = 'user'"),
         ("m3", "error timeout", 5, "role = 'assistant'"),
         ("m4", "error timeout", 5, None)],
        "query_id string, query_text string, k int, filter string",
    )
    got = engine.filtered_topk_multi(spark, d, qdf, docs).toPandas()
    for qid, text, filt in [("m1", "error timeout", "role = 'user'"),
                            ("m2", "error retry", "role = 'user'"),
                            ("m3", "error timeout", "role = 'assistant'")]:
        one = spark.createDataFrame(
            [(qid, text, 5)], "query_id string, query_text string, k int"
        )
        want = engine.filtered_topk(spark, d, one, docs, filt).toPandas()
        sub = got[got.query_id == qid].reset_index(drop=True)
        assert list(sub.doc_id) == list(want.doc_id)
    one = spark.createDataFrame(
        [("m4", "error timeout", 5)], "query_id string, query_text string, k int"
    )
    want = engine.score_topk(spark, d, one).toPandas()
    sub = got[got.query_id == "m4"].reset_index(drop=True)
    assert list(sub.doc_id) == list(want.doc_id)


def _oracle_filtered(pdf, query_text, allow_mask, k):
    """oracle/bm25.py over the whole corpus (filter context keeps full
    corpus stats), restricted to allowed docs, first k."""
    from data_prepper_spark.oracle import bm25 as oracle

    idx = oracle.build_index(list(zip(pdf.doc_id.astype(int), pdf.text)))
    allowed = set(pdf.doc_id[allow_mask].astype(int))
    ranked = oracle.score_query(idx, query_text, k=len(pdf))
    return [(d, s) for d, s in ranked if d in allowed][:k]


@pytest.mark.parametrize("ids,pad", [
    ("padded", 8), ("canonical", 0), ("mixed", None),
])
def test_filtered_arith_ids_route_like_the_build(spark, tmp_path, ids, pad):
    """Engine-assigned arithmetic ids: filter-context docs must hash the
    conv_id string the build hashed. FIXTURES ids are zero-padded
    ('conv-00000123'), so a bare 'conv-' || serial re-derivation routes
    ~7/8 of docs to the wrong shard; the build records the pad width in
    stats.json and routing re-derives with it. Ids no single width
    reproduces record none: docs must carry conv_id, else the call
    raises. Every route ranks like the oracle."""
    pdf = generate_pandas(0, 160)
    serial = pdf.conv_id.str.slice(5).astype(int)
    if ids == "canonical":
        pdf["conv_id"] = "conv-" + serial.astype(str)
    elif ids == "mixed":
        pdf["conv_id"] = pdf.conv_id.where(
            serial % 2 == 0, "conv-" + serial.astype(str))
    d = str(tmp_path / "arith_idx")
    ib.build_index(spark, spark.createDataFrame(pdf), d, n_shards=8,
                   block_size=32)
    stats = engine.load_stats(d)
    assert stats["id_scheme"] == "arith"
    assert stats["conv_id_pad"] == pad
    pdf["doc_id"] = serial * DOC_ID_STRIDE + pdf.turn_idx
    want = _oracle_filtered(pdf, "error timeout", pdf.role == "user", 10)
    assert len(want) == 10
    qdf = spark.createDataFrame(
        [("q", "error timeout", 10)],
        "query_id string, query_text string, k int",
    )
    with_conv = spark.createDataFrame(pdf[["doc_id", "conv_id", "role"]])
    no_conv = spark.createDataFrame(pdf[["doc_id", "role"]])
    if pad is None:
        with pytest.raises(ValueError, match="conv_id"):
            engine.filtered_topk(spark, d, qdf, no_conv, "role = 'user'")
    for docs in [with_conv] + ([no_conv] if pad is not None else []):
        got = engine.filtered_topk(spark, d, qdf, docs,
                                   "role = 'user'").toPandas()
        assert [int(x) for x in got.doc_id] == [w[0] for w in want]
        assert np.allclose(got.score, [w[1] for w in want], atol=1e-9)
