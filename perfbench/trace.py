"""Spans on the driver, folded with Spark's own event log.

A span is opened around every call the benchmark makes into the engine
and, in a traced run, around every public function of the modules in
``TRACED_MODULES`` (so nested calls show up as child spans). Opening a
span sets the Spark job group to ``span-<id>``; after the session stops,
the JSON event log is read back and each job, stage and task is folded
into the innermost span that was open when the job was submitted.
Spans stay in memory until the run ends.
"""

from __future__ import annotations

import contextlib
import functools
import glob
import importlib
import inspect
import json
import os
import statistics
import sys
import time

TRACED_MODULES = (
    "data_prepper_spark.index.build",
    "data_prepper_spark.index.corpus_store",
    "data_prepper_spark.index.layout",
    "data_prepper_spark.index.tombstones",
    "data_prepper_spark.query.engine",
    "data_prepper_spark.query.exchange",
    "data_prepper_spark.query.prep",
)

# RDD scope names that mark a stage as running a Python kernel
KERNEL_SCOPES = {"FlatMapGroupsInPandas", "FlatMapCoGroupsInPandas"}
PY_SENT = "data sent to Python workers"
PY_RETURNED = "data returned from Python workers"


class Tracer:
    """Span recorder. While ``on`` is false, ``span`` only yields a
    scratch dict, so the same benchmark code runs traced and untraced."""

    def __init__(self, sc):
        self.sc = sc
        self.on = False
        self.spans: list[dict] = []
        self._stack: list[dict] = []

    @contextlib.contextmanager
    def span(self, name: str, **attrs):
        if not self.on:
            yield attrs
            return
        rec = {
            "id": len(self.spans),
            "name": name,
            "parent": self._stack[-1]["id"] if self._stack else None,
            "attrs": attrs,
        }
        self.spans.append(rec)
        self._stack.append(rec)
        self.sc.setJobGroup(f"span-{rec['id']}", name)
        rec["t0"] = time.time()
        try:
            yield attrs
        finally:
            rec["t1"] = time.time()
            self._stack.pop()
            if self._stack:
                up = self._stack[-1]
                self.sc.setJobGroup(f"span-{up['id']}", up["name"])
            else:
                self.sc.setLocalProperty("spark.jobGroup.id", None)


def install(tracer: Tracer) -> None:
    """Replace every public function of TRACED_MODULES, in every
    ``data_prepper_spark`` module that holds a reference to it, with a
    wrapper that opens a span named ``<module>.<function>``.

    ``functools.wraps`` keeps ``__module__``/``__qualname__``, and the
    module attribute now *is* the wrapper, so cloudpickle ships any
    wrapper a kernel closure captures by reference: executors import the
    module afresh and run the original function."""
    wrapped = {}
    for modname in TRACED_MODULES:
        mod = importlib.import_module(modname)
        layer = modname.removeprefix("data_prepper_spark.")
        for name, fn in list(vars(mod).items()):
            if (name.startswith("_") or not inspect.isfunction(fn)
                    or fn.__module__ != modname):
                continue
            wrapped[fn] = _wrap(tracer, f"{layer}.{name}", fn)
    for mod in list(sys.modules.values()):
        if not getattr(mod, "__name__", "").startswith("data_prepper_spark"):
            continue
        for name, obj in list(vars(mod).items()):
            if inspect.isfunction(obj) and obj in wrapped:
                setattr(mod, name, wrapped[obj])


def _wrap(tracer: Tracer, span_name: str, fn):
    @functools.wraps(fn)
    def traced(*args, **kwargs):
        if not tracer.on:
            return fn(*args, **kwargs)
        with tracer.span(span_name):
            return fn(*args, **kwargs)

    return traced


# ------------------------------------------------------------ event log

def read_event_log(log_dir: str) -> dict:
    """Jobs (group, submit/complete ms, stage ids) and completed stages
    (RDD scope names, SQL metric totals, per-task metrics)."""
    jobs: dict[int, dict] = {}
    stages: dict[int, dict] = {}
    tasks: dict[int, list[dict]] = {}
    for path in sorted(glob.glob(os.path.join(log_dir, "*"))):
        if not os.path.isfile(path) or path.endswith(".crc"):
            continue
        with open(path) as f:
            for line in f:
                ev = json.loads(line)
                kind = ev["Event"]
                if kind == "SparkListenerJobStart":
                    props = ev.get("Properties") or {}
                    jobs[ev["Job ID"]] = {
                        "group": props.get("spark.jobGroup.id"),
                        "t0": ev["Submission Time"] / 1000.0,
                        "t1": None,
                        "stages": ev["Stage IDs"],
                    }
                elif kind == "SparkListenerJobEnd":
                    jobs[ev["Job ID"]]["t1"] = ev["Completion Time"] / 1000.0
                elif kind == "SparkListenerTaskEnd":
                    m = ev.get("Task Metrics") or {}
                    tasks.setdefault(ev["Stage ID"], []).append({
                        "run_s": m.get("Executor Run Time", 0) / 1000.0,
                        "gc_s": m.get("JVM GC Time", 0) / 1000.0,
                        "spill": m.get("Memory Bytes Spilled", 0)
                        + m.get("Disk Bytes Spilled", 0),
                        "shuffle_write": (m.get("Shuffle Write Metrics") or {})
                        .get("Shuffle Bytes Written", 0),
                        "input_bytes": (m.get("Input Metrics") or {})
                        .get("Bytes Read", 0),
                        "input_rows": (m.get("Input Metrics") or {})
                        .get("Records Read", 0),
                    })
                elif kind == "SparkListenerStageCompleted":
                    si = ev["Stage Info"]
                    scopes = set()
                    for rdd in si.get("RDD Info", ()):
                        if rdd.get("Scope"):
                            scopes.add(json.loads(rdd["Scope"]).get("name", ""))
                    acc: dict[str, float] = {}
                    for a in si.get("Accumulables", ()):
                        if a.get("Name") in (PY_SENT, PY_RETURNED):
                            acc[a["Name"]] = acc.get(a["Name"], 0) + float(a["Value"])
                    stages[si["Stage ID"]] = {"scopes": scopes, "acc": acc}
    for sid, st in stages.items():
        st["tasks"] = tasks.get(sid, [])
    return {"jobs": jobs, "stages": stages}


class Fold:
    """Event-log facts per span subtree."""

    def __init__(self, spans: list[dict], log: dict):
        self.spans = spans
        self.log = log
        self.children: dict[int, list[int]] = {}
        for s in spans:
            if s["parent"] is not None:
                self.children.setdefault(s["parent"], []).append(s["id"])
        self.jobs_by_span: dict[int, list[dict]] = {}
        for job in log["jobs"].values():
            g = job["group"] or ""
            if g.startswith("span-") and job["t1"] is not None:
                self.jobs_by_span.setdefault(int(g[5:]), []).append(job)

    def subtree(self, span: dict) -> list[dict]:
        out, todo = [], [span["id"]]
        while todo:
            sid = todo.pop()
            out.append(self.spans[sid])
            todo.extend(self.children.get(sid, ()))
        return out

    def named(self, span: dict, prefix: str) -> list[dict]:
        return [s for s in self.subtree(span) if s["name"].startswith(prefix)]

    def jobs(self, span: dict) -> list[dict]:
        return [j for s in self.subtree(span) for j in self.jobs_by_span.get(s["id"], ())]

    def stages(self, span: dict) -> list[dict]:
        st = self.log["stages"]
        ids = {i for j in self.jobs(span) for i in j["stages"] if i in st}
        return [st[i] for i in sorted(ids)]

    def job_s(self, span: dict) -> float:
        """Wall time inside the span during which a Spark job ran."""
        iv = sorted(
            (max(j["t0"], span["t0"]), min(j["t1"], span["t1"]))
            for j in self.jobs(span)
        )
        total, end = 0.0, None
        for a, b in iv:
            if end is None or a > end:
                total += max(0.0, b - a)
                end = b
            elif b > end:
                total += b - end
                end = b
        return total


def wall(span: dict) -> float:
    return span["t1"] - span["t0"]


def _tasks(stages) -> list[dict]:
    return [t for st in stages for t in st["tasks"]]


def _kernel(stages) -> list[dict]:
    return [st for st in stages if st["scopes"] & KERNEL_SCOPES]


def _skew(stages) -> float:
    """max / median task run time, averaged over the given stages."""
    ratios = []
    for st in stages:
        runs = [t["run_s"] for t in st["tasks"]]
        med = statistics.median(runs) if runs else 0.0
        if med > 0:
            ratios.append(max(runs) / med)
    return statistics.fmean(ratios) if ratios else 0.0


def _mean(xs) -> float:
    xs = list(xs)
    return statistics.fmean(xs) if xs else 0.0


def _median(xs) -> float:
    xs = list(xs)
    return statistics.median(xs) if xs else 0.0


def layer_metrics(spans: list[dict], log: dict) -> dict[str, tuple[float, str]]:
    """Per-layer metrics over the benchmark's op spans. Each is a mean
    per op of the named kind (0 when the run had no such op)."""
    f = Fold(spans, log)
    ops: dict[str, list[dict]] = {}
    for s in spans:
        if s["name"].startswith("op."):
            ops.setdefault(s["name"][3:], []).append(s)
    builds = ops.get("build", [])
    requests = ops.get("request", [])
    batches = ops.get("batch", [])
    writes = [s for k in ("build", "append", "upsert", "delete", "compact")
              for s in ops.get(k, [])]
    out: dict[str, tuple[float, str]] = {}

    def per_op(name, unit, spans_, fn):
        out[name] = (_mean(fn(s) for s in spans_), unit)

    def task_s(stages):
        return sum(t["run_s"] for t in _tasks(stages))

    def build_map_stage(s):
        # the doc-row exchange into the SPIMI kernel: the build's widest
        # shuffle write (compute_stats and the id-scheme probe write bytes)
        st = [x for x in f.stages(s) if not x["scopes"] & KERNEL_SCOPES]
        return max(st, key=lambda x: sum(t["shuffle_write"] for t in x["tasks"]),
                   default=None)

    # index.build: full builds
    per_op("index.build.wall_s", "s", builds, wall)
    per_op("index.build.job_s", "s", builds, f.job_s)
    per_op("index.build.driver_s", "s", builds, lambda s: wall(s) - f.job_s(s))
    per_op("index.build.stats_s", "s", builds,
           lambda s: sum(map(wall, f.named(s, "index.build.compute_stats"))))
    per_op("index.build.jobs", "count", builds, lambda s: len(f.jobs(s)))
    per_op("index.build.spimi_map_task_s", "s", builds,
           lambda s: task_s([x for x in [build_map_stage(s)] if x]))
    per_op("index.build.spimi_kernel_task_s", "s", builds,
           lambda s: task_s(_kernel(f.stages(s))))
    per_op("index.build.spimi_task_skew", "ratio", builds,
           lambda s: _skew(_kernel(f.stages(s))))
    per_op("index.build.shuffle_write_bytes", "B", builds,
           lambda s: sum(t["shuffle_write"] for t in _tasks(f.stages(s))))
    per_op("index.build.python_bytes_out", "B", builds,
           lambda s: sum(x["acc"].get(PY_SENT, 0) for x in f.stages(s)))
    per_op("index.build.python_bytes_in", "B", builds,
           lambda s: sum(x["acc"].get(PY_RETURNED, 0) for x in f.stages(s)))
    per_op("index.build.gc_s", "s", builds,
           lambda s: sum(t["gc_s"] for t in _tasks(f.stages(s))))
    per_op("index.build.spill_bytes", "B", builds,
           lambda s: sum(t["spill"] for t in _tasks(f.stages(s))))
    per_op("index.build.blocks_bytes", "B", builds,
           lambda s: s["attrs"].get("blocks_bytes", 0))
    per_op("index.build.dictionary_s", "s", builds,
           lambda s: sum(map(wall, f.named(s, "index.layout.publish_dir"))))

    # index write path of the ingest cycle
    for kind in ("append", "upsert", "compact"):
        per_op(f"index.{kind}.wall_s", "s", ops.get(kind, []), wall)
    per_op("index.compact.bytes_rewritten", "B", ops.get("compact", []),
           lambda s: s["attrs"].get("blocks_bytes", 0))
    per_op("index.segments_per_shard", "count", requests,
           lambda s: s["attrs"].get("segments_per_shard", 0))
    per_op("index.tombstones.delete_s", "s", ops.get("delete", []), wall)
    per_op("index.tombstones.load_s", "s", requests,
           lambda s: sum(map(wall, f.named(s, "index.tombstones.load_tombstones"))))
    per_op("index.layout.publish_s", "s", writes,
           lambda s: sum(map(wall, f.named(s, "index.layout.publish_"))))

    # query path, per request
    def plan_spans(s):
        return [c for c in f.subtree(s) if c["name"].startswith("query.engine.")
                and c["name"].endswith("_topk")]

    per_op("query.prep.driver_s", "s", requests,
           lambda s: sum(wall(c) for c in f.subtree(s)
                         if c["name"].startswith("query.prep.")
                         and c["name"].endswith("_entries")))
    per_op("query.engine.plan_s", "s", requests,
           lambda s: sum(map(wall, plan_spans(s))))
    per_op("query.engine.exec_s", "s", requests,
           lambda s: sum(map(wall, f.named(s, "op.exec"))))
    per_op("query.engine.driver_s", "s", requests, lambda s: wall(s) - f.job_s(s))
    per_op("query.engine.jobs_per_request", "count", requests,
           lambda s: len(f.jobs(s)))
    per_op("query.engine.tasks_per_request", "count", requests,
           lambda s: len(_tasks(f.stages(s))))
    per_op("query.engine.scan_bytes", "B", requests,
           lambda s: sum(t["input_bytes"] for t in _tasks(f.stages(s))))
    per_op("query.engine.scan_rows", "count", requests,
           lambda s: sum(t["input_rows"] for t in _tasks(f.stages(s))))
    rows = sum(t["input_rows"] for s in requests for t in _tasks(f.stages(s)))
    hits = sum(s["attrs"].get("hits", 0) for s in requests)
    out["query.engine.rows_per_hit"] = (rows / hits if hits else 0.0, "ratio")
    per_op("query.gather.task_s", "s", requests,
           lambda s: task_s([x for x in f.stages(s) if "Window" in x["scopes"]]))

    def exchange_bytes(s):
        # shuffle written upstream of the kernel (the kernel stage's own
        # shuffle write feeds the rank window)
        return sum(t["shuffle_write"] for x in f.stages(s)
                   if not x["scopes"] & KERNEL_SCOPES for t in x["tasks"])

    per_op("query.exchange.shuffle_bytes", "B", requests, exchange_bytes)
    per_op("query.kernel.task_s", "s", requests, lambda s: task_s(_kernel(f.stages(s))))
    per_op("query.kernel.task_skew", "ratio", requests,
           lambda s: _skew(_kernel(f.stages(s))))
    per_op("query.kernel.python_bytes_out", "B", requests,
           lambda s: sum(x["acc"].get(PY_SENT, 0) for x in _kernel(f.stages(s))))
    per_op("query.kernel.python_bytes_in", "B", requests,
           lambda s: sum(x["acc"].get(PY_RETURNED, 0) for x in _kernel(f.stages(s))))

    # the distributed-prep batch path (one call above the prep threshold)
    per_op("query.prep.dist_task_s", "s", batches,
           lambda s: task_s([x for x in f.stages(s) if "MapInPandas" in x["scopes"]]))
    per_op("query.batch.queries_per_s", "queries/s", batches,
           lambda s: s["attrs"].get("queries", 0) / wall(s))
    per_op("query.batch.kernel_task_s", "s", batches,
           lambda s: task_s(_kernel(f.stages(s))))
    per_op("query.batch.exchange_shuffle_bytes", "B", batches, exchange_bytes)

    for kind in ("match", "bool", "phrase", "filtered"):
        out[f"search.{kind}.p50_s"] = (
            _median(wall(s) for s in requests if s["attrs"].get("type") == kind), "s")
    return out
