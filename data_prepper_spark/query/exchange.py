"""Scatter-gather over the sharded index: the one plan every query
kernel runs.

    blocks (parquet, read with the writer's schema: no inference job)
      |> filter term IN (query terms)     <- pushed to the parquet scan:
      |                                      row groups pruned via the
      |                                      per-shard term sort order
      |> broadcast-join the (term, df) dictionary slice
      |> repartition(N, shard)                         [spread_by_shard]
      |> groupBy(shard).applyInPandas(kernel)          [scatter]
      |    the per-term query map rides in the kernel closure; a thin
      |    wrapper attaches each term's `queries` list inside the worker
      |    and emits each hit's `k` next to it
      |> row_number over (score desc, doc_id asc), rank <= k   [gather]

The query map is driver-known (interactive queries are driver-literal
input), so it never becomes a DataFrame: no broadcast job for it, no
`queries` array in the shard exchange, and no (query_id, k) join at the
gather. Large batches (above prep.PREP_DISTRIBUTED_THRESHOLD) pass a
distributed (term, queries) DataFrame instead, which joins on term.

Explicit-width exchange: `groupBy("shard").applyInPandas(...)` alone
inserts an ENSURE_REQUIREMENTS exchange whose width AQE sizes by
SHUFFLE BYTES — and a query's pruned block set is tiny (a few MB even
over a huge index, that's the point of the term In-filter), so AQE
coalesces the kernel stage down to one or two tasks and the CPU-heavy
decode/score kernel runs serially. `spread_by_shard` replaces that
implicit exchange with a user-specified `repartition(N, "shard")`:
HashPartitioning(shard, N) already satisfies the kernel's
ClusteredDistribution, so no second exchange appears, and AQE never
coalesces a repartition with an explicit partition count. Measured:
sf0.01 wand 6.2 s -> 2.5 s on local[32].
"""

from __future__ import annotations

import os
from typing import Callable

import pandas as pd
from pyspark.sql import DataFrame, SparkSession, Window
from pyspark.sql import functions as F

from data_prepper_spark.index import layout
from data_prepper_spark.index.build import BLOCK_SCHEMA

DICTIONARY_SCHEMA = "term string, df long"


def spread_by_shard(df: DataFrame, cols: tuple = ("shard",)) -> DataFrame:
    """Hash-repartition kernel input by its group key at the session's
    shuffle width, immune to AQE byte-based coalescing."""
    n = int(df.sparkSession.conf.get("spark.sql.shuffle.partitions"))
    return df.repartition(n, *cols)


def read_blocks(spark: SparkSession, index_dir: str) -> DataFrame:
    """The posting blocks with the writer's schema. An index written
    before segments existed has no `seg=` directories; its blocks read
    as segment 0."""
    blocks = spark.read.schema(BLOCK_SCHEMA).parquet(
        layout.resolve(index_dir, "blocks"))
    return blocks.withColumn("seg", F.coalesce("seg", F.lit(0).cast("long")))


def read_dictionary(spark: SparkSession, index_dir: str) -> DataFrame:
    return spark.read.schema(DICTIONARY_SCHEMA).parquet(
        layout.resolve(index_dir, "dictionary"))


def has_blocks(index_dir: str) -> bool:
    """False for a local index that never wrote a block (an empty
    corpus); remote (s3://, hdfs://) indexes always attempt the read."""
    return "://" in index_dir or os.path.exists(
        layout.resolve(index_dir, "blocks"))


def _with_queries(kernel: Callable, qmap: dict | None, with_k: bool,
                  cogroup: bool):
    """Kernel wrapper run in the Python worker: attach each block row's
    `queries` list from the closure's query map (the distributed path
    already carries the column), and emit every hit's k. Spark picks
    the cogroup calling convention by argument count, hence two
    signatures."""

    def call(key, left, *right):
        if qmap is not None and len(left):
            left = left.assign(queries=left["term"].map(qmap))
        out = kernel(key, left, *right)
        if not with_k:
            return out
        ks = {q["query_id"]: int(q["k"])
              for qs in left.drop_duplicates("term")["queries"] for q in qs
              } if len(out) else {}
        return out.assign(k=out["query_id"].map(ks).astype("int64"))

    def run(key: tuple, pdf: pd.DataFrame) -> pd.DataFrame:
        return call(key, pdf)

    def run_cogroup(key: tuple, left: pd.DataFrame,
                    right: pd.DataFrame) -> pd.DataFrame:
        return call(key, left, right)

    return run_cogroup if cogroup else run


def scatter(
    spark: SparkSession,
    index_dir: str | DataFrame,
    per_term: dict[str, list[tuple]] | DataFrame,
    fields: str,
    kernel: Callable,
    schema: str,
    cols: tuple[str, ...],
    *,
    dictionary: bool | DataFrame = True,
    right: DataFrame | None = None,
    with_k: bool = False,
) -> DataFrame:
    """Run `kernel` once per shard over the block rows of the query
    terms. -> the kernel's rows (`schema`, plus `k long` with `with_k`);
    empty when there is no query term or no block.

    index_dir: the index, or an already-scanned block frame (several
      sub-indexes unioned, each with its own df column).
    per_term: {term: [entry tuple]} from a prep builder, whose entries
      become dicts named by `fields` (a struct field list); or, for a
      large batch, a distributed (term, queries) DataFrame.
    cols: the block columns the kernel reads (`shard`, `term` included).
    dictionary: join this index's (term, df) slice (True), a given
      (term, df) frame, or none (False).
    right: the cogroup side, keyed by `shard` (filter contexts)."""
    distributed = isinstance(per_term, DataFrame)
    terms = None if distributed else sorted(per_term)
    if terms == [] or (isinstance(index_dir, str) and not has_blocks(index_dir)):
        return spark.createDataFrame(
            [], schema + (", k long" if with_k else ""))
    needed = (read_blocks(spark, index_dir) if isinstance(index_dir, str)
              else index_dir).select(*cols)
    if dictionary is True:
        dictionary = read_dictionary(spark, index_dir)
    if distributed:
        # a batch this size touches most of the vocabulary, so a term
        # In-filter would buy little while bloating the plan: join the
        # query map and the dictionary on term instead
        qmap = None
        needed = needed.join(per_term, "term")
        if dictionary is not False:
            needed = needed.join(dictionary, "term")
    else:
        names = [f.split(":", 1)[0] for f in fields.split(",")]
        qmap = {t: [dict(zip(names, e)) for e in per_term[t]] for t in terms}
        needed = needed.filter(F.col("term").isin(terms))
        if dictionary is not False:
            needed = needed.join(
                F.broadcast(dictionary.filter(F.col("term").isin(terms))),
                "term")
    grouped = spread_by_shard(needed).groupBy("shard")
    if right is not None:
        grouped = grouped.cogroup(spread_by_shard(right).groupBy("shard"))
    return grouped.applyInPandas(
        _with_queries(kernel, qmap, with_k, right is not None),
        schema=schema + (", k long" if with_k else ""))


def gather(per_shard: DataFrame, *tie: str) -> DataFrame:
    """Global top-k over per-shard winners: rank each query's rows by
    (score desc, doc_id asc, *tie asc) and keep rank <= k ->
    (query_id, rank, *tie, doc_id, score)."""
    w = Window.partitionBy("query_id").orderBy(
        F.desc("score"), F.asc("doc_id"), *map(F.asc, tie))
    return (
        per_shard.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= F.col("k"))
        .select("query_id", "rank", *tie, "doc_id", "score")
    )
