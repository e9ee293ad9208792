"""The two workloads. Both are closed loops with one client.

``search`` sends 8-query requests (70% match, 10% bool, 10% phrase,
10% filtered) to a static index built in set-up. Hot terms repeat, so
the per-worker decode cache stays warm.

``ingest`` runs write-then-read cycles on an index built in set-up:
append, read, upsert, read, three rounds of delete and read, compact,
read, where each read is one 8-query match request. Every write changes
``n_docs`` or the tombstone fingerprint in the decode-cache key, so each
read decodes cold: the cache-bypassing counterpart of ``search``.
"""

from __future__ import annotations

import json
import os
import shutil
import statistics
import sys
import time
import traceback
from pathlib import Path

import numpy as np
import pandas as pd

from data_prepper_spark.index import corpus_store, layout, tombstones
from data_prepper_spark.index import build as index_build
from data_prepper_spark.query import engine
from perfbench import checks, inputs, machine

CONVS = 5000            # ~32.5k turns
SHARDS = 8
SHUFFLE_PARTITIONS = 8  # two per core on the 4-core box
BLOCK_SIZE = 128
BATCH_QUERIES = 6000    # above query.prep.PREP_DISTRIBUTED_THRESHOLD

DELETE_ROUNDS = 3       # delete-then-read rounds per ingest cycle

STORE_FILES = ("corpus_store", "corpus_store_meta.json")


class Bench:
    """Shared plumbing: op spans, counters, output-check bookkeeping and
    set-up builds."""

    def __init__(self, spark, tracer, tmp: Path, seed: int, convs: int, rss=None):
        self.spark = spark
        self.rss = rss
        self.tracer = tracer
        self.tmp = tmp
        self.seed = seed
        self.convs = convs
        self.rng = np.random.default_rng(seed)
        self.attempted = 0
        self.failed = 0
        self.errors: list[str] = []
        self.trace_setup = False
        self.op_times: list[tuple[str, float]] = []
        self.op_rss: list[int] = []

    def path(self, name: str) -> str:
        return str(self.tmp / name)

    def op(self, name: str, fn, **attrs):
        """Run fn(attrs) as one timed op inside span ``op.<name>``.
        Returns (result, seconds), or (None, None) if it raised."""
        self.attempted += 1
        if self.rss:
            self.rss.take()
        with self.tracer.span(f"op.{name}", **attrs) as a:
            t0 = time.perf_counter()
            try:
                res = fn(a)
            except Exception:
                self.fail(f"op.{name} raised:\n{traceback.format_exc()}")
                return None, None
            dt = time.perf_counter() - t0
        self.op_times.append((a.get("type", name), dt))
        if self.rss:
            self.op_rss.append(self.rss.take())
        return res, dt

    def fail(self, msg: str) -> None:
        self.failed += 1
        self.errors.append(msg)
        print(f"perfbench: {msg}", file=sys.stderr)

    def verify(self, what: str, errs: list[str]) -> None:
        """An op whose output check failed counts as failed."""
        if errs:
            self.fail(f"{what}: " + "; ".join(errs[:5]))

    def read(self, index_dir: str, kind: str, queries: pd.DataFrame,
             filter_expr: str | None = None, docs=None, **attrs):
        """One request: build the query table, plan, run the action."""
        def call(a):
            qdf = self.spark.createDataFrame(queries)
            if kind == "match":
                lazy = engine.score_topk(self.spark, index_dir, qdf, algo="bmx")
            elif kind == "bool":
                lazy = engine.bool_topk(self.spark, index_dir, qdf)
            elif kind == "phrase":
                lazy = engine.phrase_topk(self.spark, index_dir, qdf)
            else:
                lazy = engine.filtered_topk(self.spark, index_dir, qdf, docs, filter_expr)
            with self.tracer.span("op.exec"):
                rows = lazy.collect()
            a["hits"] = len(rows)
            return rows
        return self.op("request", call, type=kind, **attrs)

    def setup_build(self, parquet: str, index_dir: str, traced: bool, **kwargs) -> float:
        """A fresh build_index of a parquet corpus outside the timed loop,
        as op ``build``; returns turns/s."""
        df = self.spark.read.parquet(parquet)
        n = df.count()

        def call(a):
            index_build.build_index(self.spark, df, index_dir, n_shards=SHARDS,
                                    block_size=BLOCK_SIZE, **kwargs)
            a["blocks_bytes"] = machine.dir_bytes(os.path.join(index_dir, "blocks"))
        was_on, self.tracer.on = self.tracer.on, traced
        _, dt = self.op("build", call)
        self.tracer.on = was_on
        if dt is None:
            raise RuntimeError("index build failed")
        return n / dt

    def warm_query(self, index_dir: str) -> None:
        """One untimed match request, so the timed ops do not pay the
        query path's first-use cost."""
        q = inputs.Queries(self.seed + 1, "w").take(inputs.REQUEST_QUERIES)
        engine.score_topk(self.spark, index_dir, self.spark.createDataFrame(
            q[["query_id", "query_text", "k"]])).collect()


class Search(Bench):
    def setup(self) -> None:
        docs = inputs.corpus(0, self.convs, self.seed)
        src = inputs.write_parquet(docs, self.path("corpus.parquet"),
                                   inputs.TRANSCRIPT_COLUMNS + ["doc_id"])
        self.index = self.path("index")
        self.n_turns = len(docs)
        # external ids (doc_id and conv_id given): with engine-assigned
        # arithmetic ids, engine.sharded_docs re-derives conv_id as
        # 'conv-N' without the corpus's zero padding and routes
        # filter-context docs to the wrong shard (see README.md)
        self.build_tps = full_builds(self, src, self.index, self.trace_setup)
        store_src = inputs.write_parquet(docs, self.path("store.parquet"),
                                         ["doc_id", "conv_id", "role", "tool"])
        corpus_store.write_corpus(self.spark, self.spark.read.parquet(store_src), self.index)
        self.store = corpus_store.load_corpus(self.spark, self.index)
        self.corpus_path = src
        self.warm_query(self.index)
        self.oracle = checks.Oracle(docs)
        self.requests = inputs.SearchRequests(self.seed, docs)
        self.done: list[tuple] = []

    def phase(self, seconds: float, every_type: bool = False) -> list[float]:
        """Requests until `seconds` have passed. With `every_type`, start
        a fresh block of ten and finish it, so each request type runs."""
        lat = []
        deadline = time.perf_counter() + seconds
        n = 0
        if every_type:
            self.requests.new_block()
        while time.perf_counter() < deadline or (every_type and n < len(inputs.MIX)):
            n += 1
            kind, q, expr = self.requests.next()
            rows, dt = self.read(self.index, kind, q, expr, self.store)
            if rows is not None:
                lat.append(dt)
                self.done.append((kind, q, expr, rows))
        self.latencies = lat
        return lat

    def end_to_end(self) -> dict:
        size = machine.dir_bytes(self.index, skip=STORE_FILES)
        return {
            "build_turns_per_s": (self.build_tps, "turns/s"),
            "index_bytes_per_turn": (size / self.n_turns, "B/turn"),
            "search_p50_s": (statistics.median(self.latencies), "s"),
            "peak_rss_mb": (statistics.median(self.op_rss) / 1e6, "MB"),
        }

    def check(self) -> None:
        for kind, q, expr, rows in self.done:
            self.verify(f"{kind} request", self.oracle.check(kind, q, rows, expr))

    def traced_extras(self) -> dict:
        """The set-up build at local[N] against the same pair of builds
        at local[1], in a process pinned to one CPU."""
        cpu = min(os.sched_getaffinity(0))
        out = machine.run_child(
            ["taskset", "-c", str(cpu), sys.executable, str(Path(__file__).with_name("run.py")),
             "--scale-child", self.corpus_path, "--seed", str(self.seed)],
            timeout=170, cwd=str(Path(__file__).parents[1]))
        one = json.loads(out.strip().splitlines()[-1])
        cores = len(os.sched_getaffinity(0))
        return {"index.build.scaling_eff_1to4": (
            self.build_tps / (cores * one["turns_per_s"]), "ratio")}


class Ingest(Bench):
    def setup(self) -> None:
        base = self.convs // 2
        self.live = inputs.corpus(0, base, self.seed)
        src = inputs.write_parquet(self.live, self.path("corpus.parquet"),
                                   inputs.TRANSCRIPT_COLUMNS)
        self.index = self.path("index")
        self.corpus_path = src
        self.setup_build(src, self.index, traced=False)  # cold: not a build sample
        self.warm_query(self.index)
        self.queries = inputs.Queries(self.seed, "i")
        self.next_conv = base
        self.cycle = 0
        self.write_turns = 0
        self.write_s = 0.0
        # per cycle: 2.5k appended, 500 upserted and 250 deleted conversations
        # per 20k of base, scaled to this base; the deletes are split over
        # DELETE_ROUNDS rounds
        self.n_append = max(1, base // 8)
        self.n_upsert = max(1, base // 40)
        self.n_delete = max(1, base // (80 * DELETE_ROUNDS))

    def phase(self, seconds: float, every_type: bool = False) -> list[float]:
        """Whole cycles until `seconds` have passed (at least one). Reads
        are all match requests, so `every_type` changes nothing."""
        lat: list[float] = []
        deadline = time.perf_counter() + seconds
        while True:
            self.run_cycle(lat)
            if time.perf_counter() >= deadline:
                break
        self.latencies = lat
        return lat

    def _sid(self) -> int:
        return int(engine.load_stats(self.index)["snapshot_id"]) + 1

    def _write(self, kind: str, fn, turns: int = 0) -> None:
        """`turns` > 0 marks a build_index write (append, upsert); those
        feed build_turns_per_s."""
        _, dt = self.op(kind, fn)
        if dt is not None and turns:
            self.write_s += dt
            self.write_turns += turns

    def run_cycle(self, lat: list[float]) -> None:
        c = self.cycle
        self.cycle += 1
        # append new conversations as a new segment
        add = inputs.corpus(self.next_conv, self.next_conv + self.n_append, self.seed)
        self.next_conv += self.n_append
        src = inputs.write_parquet(add, self.path(f"append{c}.parquet"), inputs.TRANSCRIPT_COLUMNS)
        sid = self._sid()
        self._write("append", lambda a: index_build.build_index(
            self.spark, self.spark.read.parquet(src), self.index, n_shards=SHARDS,
            block_size=BLOCK_SIZE, incremental=True, snapshot_id=sid), len(add))
        self.live = pd.concat([self.live, add], ignore_index=True)
        self.fresh_read(lat, exact=True)

        # upsert a block of existing conversations with regenerated text
        lo = int(self.rng.integers(0, max(1, self.next_conv - self.n_upsert)))
        up = inputs.corpus(lo, lo + self.n_upsert, self.seed + 7919 * (c + 1))
        src = inputs.write_parquet(up, self.path(f"upsert{c}.parquet"), inputs.TRANSCRIPT_COLUMNS)
        sid = self._sid()
        self._write("upsert", lambda a: index_build.upsert_conversations(
            self.spark, self.spark.read.parquet(src), self.index, snapshot_id=sid), len(up))
        serial = inputs.serials(self.live)
        keep = (serial < lo) | (serial >= lo + self.n_upsert)
        self.live = pd.concat([self.live[keep], up], ignore_index=True)
        self.fresh_read(lat, exact=False)

        # delete live conversations; each delete changes the tombstone
        # fingerprint, so each read after it decodes cold again
        for _ in range(DELETE_ROUNDS):
            serials = np.unique(inputs.serials(self.live))
            gone = sorted(int(s) for s in self.rng.choice(serials, self.n_delete, replace=False))
            self._write("delete", lambda a, gone=gone: tombstones.delete_conversations(
                self.spark, self.index, gone))
            self.live = self.live[~np.isin(inputs.serials(self.live), gone)].reset_index(drop=True)
            self.fresh_read(lat, exact=False)

        # compact: merge segments, drop tombstoned postings
        self._write("compact", self._compact)
        self.fresh_read(lat, exact=True)

    def _compact(self, a) -> None:
        index_build.compact_index(self.spark, self.index)
        a["blocks_bytes"] = machine.dir_bytes(layout.resolve(self.index, "blocks"))

    def fresh_read(self, lat: list[float], exact: bool) -> None:
        """One 8-query match read right after a write. After an append or
        a compaction no tombstones are pending, so the answer must be
        rank-identical to an oracle over the tracked corpus."""
        q = self.queries.take(inputs.REQUEST_QUERIES)[["query_id", "query_text", "k"]]
        attrs = {}
        if self.tracer.on:
            attrs["segments_per_shard"] = segments_per_shard(self.index)
        rows, dt = self.read(self.index, "match", q, **attrs)
        if rows is None:
            return
        lat.append(dt)
        if exact:
            errs = checks.Oracle(self.live).check("match", q, rows)
        else:
            errs = checks.check_live(q, rows, set(self.live["doc_id"].tolist()))
        self.verify(f"read after cycle {self.cycle} write", errs)

    def end_to_end(self) -> dict:
        size = machine.dir_bytes(self.index, skip=STORE_FILES)
        return {
            "build_turns_per_s": (self.write_turns / self.write_s, "turns/s"),
            "index_bytes_per_turn": (size / len(self.live), "B/turn"),
            "search_p50_s": (statistics.median(self.latencies), "s"),
            "peak_rss_mb": (statistics.median(self.op_rss) / 1e6, "MB"),
        }

    def check(self) -> None:
        """Ingest reads are checked as they happen."""

    def traced_extras(self) -> dict:
        """A warm full build of the base corpus (the default, engine-
        assigned id path), then one batch call over the distributed-prep
        path against the compacted index, checked on a fixed 100-query
        sample."""
        self.setup_build(self.corpus_path, self.path("rebuild"), traced=True)
        qs = inputs.Queries(self.seed + 2, "b", pool=BATCH_QUERIES).take(BATCH_QUERIES)
        qs = qs[["query_id", "query_text", "k"]]

        def call(a):
            lazy = engine.score_topk(self.spark, self.index, self.spark.createDataFrame(qs))
            with self.tracer.span("op.exec"):
                return lazy.toPandas()
        res, _ = self.op("batch", call, queries=len(qs))
        if res is not None:
            sample = qs.iloc[:100]
            rows = res[res["query_id"].isin(set(sample["query_id"]))].to_dict("records")
            self.verify("batch sample", checks.Oracle(self.live).check("match", sample, rows))
        return {"index.build.scaling_eff_1to4": (0.0, "ratio")}


def full_builds(bench: Bench, parquet: str, index_dir: str, traced: bool) -> float:
    """Build the corpus twice and time the second build. The first, cold
    build starts the JVM's code paths and the Python workers and warms
    the JIT on this plan and data size."""
    bench.setup_build(parquet, bench.path("first_build"), False, assign_ids=False)
    shutil.rmtree(bench.path("first_build"))
    return bench.setup_build(parquet, index_dir, traced, assign_ids=False)


def segments_per_shard(index_dir: str) -> float:
    blocks = layout.resolve(index_dir, "blocks")
    shards = [d for d in os.listdir(blocks) if d.startswith("shard=")]
    segs = sum(len([s for s in os.listdir(os.path.join(blocks, d)) if s.startswith("seg=")])
               for d in shards)
    return segs / len(shards) if shards else 0.0
