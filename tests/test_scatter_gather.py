"""The query scatter-gather (query/exchange.py): Spark job counts per
interactive call, the closure-shipped query map against the distributed
(term-join) prep path, and the pre-segment block layout.

Job counts are the fixed cost of an interactive request (each job pays
local scheduling and a Python-worker round trip over a few KB), so a
refactor that adds one must show up here, next to the plan-shape pins
in tests/test_plan_shape.py."""

from __future__ import annotations

import glob
import os
import shutil

import pandas as pd
import pytest

from data_prepper_spark.data.transcripts import generate_pandas, generate_queries
from data_prepper_spark.index import build as ib
from data_prepper_spark.query import engine, prep
from data_prepper_spark.query.bm25_df import DOC_ID_STRIDE


def _corpus(lo: int, hi: int) -> pd.DataFrame:
    pdf = generate_pandas(lo, hi)
    pdf["doc_id"] = (
        pdf.conv_id.str.slice(5).astype(int) * DOC_ID_STRIDE + pdf.turn_idx
    )
    return pdf


@pytest.fixture(scope="module")
def corpus_and_index(spark, tmp_path_factory):
    d = str(tmp_path_factory.mktemp("sg_idx"))
    pdf = _corpus(0, 80)
    ib.build_index(
        spark, spark.createDataFrame(pdf[["doc_id", "conv_id", "text"]]), d,
        n_shards=4, block_size=32, assign_ids=False,
    )
    return pdf, d


def _jobs(spark, group: str, fn) -> int:
    sc = spark.sparkContext
    sc.setJobGroup(group, group)
    try:
        fn()
    finally:
        sc.setLocalProperty("spark.jobGroup.id", None)
    return len(sc.statusTracker().getJobIdsForGroup(group))


def test_jobs_per_interactive_call(spark, corpus_and_index):
    """Blocks and dictionary read with the writer's schema (no
    inference job), query map in the kernel closure (no broadcast job),
    k carried by each hit (no rank-join broadcast): what remains is the
    dictionary-slice broadcast, the block scan, the kernel stage and
    the gather."""
    pdf, d = corpus_and_index
    q = pd.DataFrame({"query_id": ["a", "b"],
                      "query_text": ["error timeout", "retry connection"],
                      "k": [5, 5]})
    qb = pd.DataFrame({"query_id": ["a"], "must": ["error"],
                       "should": ["timeout"], "must_not": ["deploy"],
                       "minimum_should_match": ["0"], "k": [5]})
    docs = spark.createDataFrame(pdf[["doc_id", "conv_id", "role"]])
    calls = {
        "score_topk": (4, lambda: engine.score_topk(
            spark, d, spark.createDataFrame(q))),
        "bool_topk": (4, lambda: engine.bool_topk(
            spark, d, spark.createDataFrame(qb))),
        "phrase_topk": (4, lambda: engine.phrase_topk(
            spark, d, spark.createDataFrame(q))),
        # + the shuffle of the allowed-doc cogroup side
        "filtered_topk": (5, lambda: engine.filtered_topk(
            spark, d, spark.createDataFrame(q), docs, "role = 'user'")),
        # no dictionary; zero-fill by union, no broadcast
        "count_matches": (3, lambda: engine.count_matches(
            spark, d, spark.createDataFrame(q[["query_id", "query_text"]]))),
    }
    for name, (most, call) in calls.items():
        n = _jobs(spark, f"sg-{name}", lambda: call().collect())
        assert 0 < n <= most, (name, n)


def test_closure_and_distributed_prep_agree(spark, corpus_and_index,
                                            monkeypatch):
    """A 5,000-query call ships its query map in the kernel closure;
    the same queries above the threshold take the distributed prep and
    term-join path. Both return the same rows."""
    _, d = corpus_and_index
    qpdf = generate_queries(prep.PREP_DISTRIBUTED_THRESHOLD)
    qdf = spark.createDataFrame(qpdf)

    def run():
        return (
            engine.score_topk(spark, d, qdf, "wand").toPandas()
            .sort_values(["query_id", "rank"]).reset_index(drop=True)
        )

    closure = run()
    monkeypatch.setattr(prep, "PREP_DISTRIBUTED_THRESHOLD", 10)
    distributed = run()
    assert len(closure) > 0
    pd.testing.assert_frame_equal(closure, distributed)


def test_pre_segment_layout_reads_as_seg_0(spark, tmp_path):
    """An index written before segments has shard=N/ directories with
    no seg=: the fixed-schema read treats the missing seg as 0, and
    results stay rank-identical."""
    d = str(tmp_path / "idx")
    pdf = _corpus(0, 60)
    ib.build_index(
        spark, spark.createDataFrame(pdf[["doc_id", "conv_id", "text"]]), d,
        n_shards=2, block_size=16, assign_ids=False,
    )
    q = pd.DataFrame({"query_id": ["a", "b", "c"],
                      "query_text": ["error timeout", "retry connection",
                                     "the error"],
                      "k": [10, 10, 10]})

    def results():
        qdf = spark.createDataFrame(q)
        return [
            fn(spark, d, qdf).toPandas()
            .sort_values(["query_id", "rank"]).reset_index(drop=True)
            for fn in (engine.score_topk, engine.phrase_topk)
        ]

    want = results()
    seg_dirs = glob.glob(os.path.join(d, "blocks", "shard=*", "seg=0"))
    assert len(seg_dirs) == 2
    for seg_dir in seg_dirs:
        for f in os.listdir(seg_dir):
            shutil.move(os.path.join(seg_dir, f),
                        os.path.join(os.path.dirname(seg_dir), f))
        os.rmdir(seg_dir)
    assert not glob.glob(os.path.join(d, "blocks", "*", "seg=*"))
    got = results()
    assert len(want[0]) > 0 and len(want[1]) > 0
    for w, g in zip(want, got):
        pd.testing.assert_frame_equal(w, g)
