#!/usr/bin/env python3
"""The repo benchmark: one workload, one closed-loop client, one run.

    python3 perfbench/run.py --workload search --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run is a fresh process with its own
Spark session on local[<cores>], where <cores> is this process's CPU
affinity. The last line of stdout is one JSON object with the keys
``correct``, ``attempted``, ``failed`` and ``metrics``: the end-to-end
metrics of BENCHMARK.json with ``--trace 0``, the per-layer metrics
with ``--trace 1``. The line before it carries the run context. A failed
output check prints the result and exits 1; a run that cannot start
(for example, no ``data_prepper_spark`` package next to this directory)
exits 2 without a result. Workloads, metrics and sizes are described in
perfbench/README.md.
"""

from __future__ import annotations

import os
import sys

# before numpy loads: one BLAS/OpenMP thread per process, so numpy in
# Spark's Python workers does not oversubscribe the cores
for _var in ("OMP_NUM_THREADS", "OPENBLAS_NUM_THREADS", "MKL_NUM_THREADS"):
    os.environ[_var] = "1"

import argparse
import json
import shutil
import statistics
import subprocess
import time
import traceback
from pathlib import Path

ROOT = Path(__file__).resolve().parent.parent
sys.path.insert(0, str(ROOT))

from perfbench import machine  # noqa: E402

WORKLOADS = ("search", "ingest")
DRIVER_MEM = "2g"
PROBE_S = 2.0


def parse_args(argv=None) -> argparse.Namespace:
    p = argparse.ArgumentParser(description=__doc__.split("\n\n")[0])
    p.add_argument("--workload", choices=WORKLOADS)
    p.add_argument("--seed", type=int, default=1)
    p.add_argument("--seconds", type=float, default=10.0)
    p.add_argument("--trace", type=int, choices=(0, 1), default=0)
    p.add_argument("--convs", type=int,
                   help="corpus conversations (default 5000; smaller for smoke tests)")
    p.add_argument("--scale-child", metavar="PARQUET",
                   help=argparse.SUPPRESS)  # internal: 1-core scaling build
    args = p.parse_args(argv)
    if not args.workload and not args.scale_child:
        p.error("--workload is required")
    return args


def prepare_env(tmp: Path) -> int:
    """Run hygiene; returns the core count for local[N]."""
    (tmp / "local").mkdir(parents=True)
    os.environ["SPARK_LOCAL_DIRS"] = str(tmp / "local")
    os.environ["TMPDIR"] = str(tmp)
    # spark-submit's launcher JVM: no hsperfdata or temp files in /tmp
    os.environ["SPARK_LAUNCHER_OPTS"] = f"-XX:-UsePerfData -Djava.io.tmpdir={tmp}"
    # session.py defaults the driver heap to 48g; this box has 15 GB
    os.environ["SPARK_DRIVER_MEM"] = DRIVER_MEM
    # Spark's Python workers import data_prepper_spark from the repo root
    paths = [str(ROOT)] + [x for x in os.environ.get("PYTHONPATH", "").split(os.pathsep) if x]
    os.environ["PYTHONPATH"] = os.pathsep.join(paths)
    return len(os.sched_getaffinity(0))


def start_spark(tmp: Path, cores: int, traced: bool):
    from data_prepper_spark.session import get_spark
    from perfbench.workloads import SHUFFLE_PARTITIONS

    conf = {
        "spark.ui.showConsoleProgress": "false",
        "spark.sql.warehouse.dir": str(tmp / "warehouse"),
        "spark.driver.extraJavaOptions": f"-Djava.io.tmpdir={tmp} -XX:-UsePerfData",
    }
    if traced:
        (tmp / "eventlog").mkdir()
        conf.update({
            "spark.eventLog.enabled": "true",
            "spark.eventLog.dir": str(tmp / "eventlog"),
            "spark.eventLog.compress": "false",
            "spark.eventLog.rolling.enabled": "false",
        })
    return get_spark(cores=cores, shuffle_partitions=SHUFFLE_PARTITIONS,
                     app_name="perfbench", extra_conf=conf)


def stop_spark(spark) -> None:
    """Stop the session, then the JVM it launched, and wait for both the
    JVM and its Python workers to exit."""
    from pyspark import SparkContext

    gw = SparkContext._gateway
    kids = machine.descendants(os.getpid())
    spark.stop()
    if gw is not None:
        proc = getattr(gw, "proc", None)
        gw.shutdown()
        if proc is not None:
            proc.stdin.close()  # the gateway JVM exits on stdin EOF
            try:
                proc.wait(timeout=60)
            except subprocess.TimeoutExpired:
                proc.kill()
                proc.wait()
        SparkContext._gateway = None
        SparkContext._jvm = None
    machine.reap(kids)


def scale_child(args, tmp: Path) -> None:
    """The search set-up's pair of builds of the given corpus at
    local[<affinity>]; prints the turns/s of the second."""
    from perfbench.trace import Tracer
    from perfbench.workloads import Bench, full_builds

    cores = prepare_env(tmp)
    spark = start_spark(tmp, cores, traced=False)
    try:
        bench = Bench(spark, Tracer(spark.sparkContext), tmp, args.seed, args.convs)
        tps = full_builds(bench, args.scale_child, str(tmp / "index"), traced=False)
    finally:
        stop_spark(spark)
    print(json.dumps({"cores": cores, "turns_per_s": tps}))


def median(xs) -> float:
    return statistics.median(xs) if xs else 0.0


def run(args, tmp: Path) -> dict:
    from perfbench import trace
    from perfbench.workloads import Ingest, Search

    t_start = time.perf_counter()
    steal0 = machine.steal_jiffies()
    membw = machine.membw_probe(PROBE_S)
    with machine.PeakRss() as rss:
        t0 = time.perf_counter()
        cores = prepare_env(tmp)
        spark = start_spark(tmp, cores, traced=bool(args.trace))
        steps = {"jvm_s": time.perf_counter() - t0}
        try:
            tracer = trace.Tracer(spark.sparkContext)
            cls = Search if args.workload == "search" else Ingest
            bench = cls(spark, tracer, tmp, args.seed, args.convs, rss)
            if args.trace:
                trace.install(tracer)
                bench.trace_setup = True
            bench.setup()
            setup_s = time.perf_counter() - t0
            # a traced run splits its time: untraced half, traced half
            lat = bench.phase(args.seconds / (2 if args.trace else 1))
            e2e = bench.end_to_end()
            if args.trace:
                tracer.on = True
                lat_traced = bench.phase(args.seconds / 2, every_type=True)
                extra = bench.traced_extras()
                tracer.on = False
            bench.check()
        finally:
            stop_spark(spark)
    ctx = {
        "workload": args.workload, "seed": args.seed, "cores": cores,
        "machine.steal_jiffies": machine.steal_jiffies() - steal0,
        "machine.membw_probe": membw,
        "setup_steps": steps, "op_s": bench.op_times,
        "peak_rss_mb_by_kind": {k: v / 1e6 for k, v in rss.parts.items()},
        "ops": bench.attempted, "errors": bench.errors[:20],
        "run_s": time.perf_counter() - t_start,
    }
    if args.trace:
        metrics = trace.layer_metrics(tracer.spans, trace.read_event_log(str(tmp / "eventlog")))
        metrics.update(extra)
        metrics["machine.steal_jiffies"] = (ctx["machine.steal_jiffies"], "jiffies")
        metrics["machine.membw_probe"] = (membw, "streams/s")
        base = median(lat)
        metrics["trace.overhead_frac"] = (
            median(lat_traced) / base - 1.0 if base else 0.0, "ratio")
    else:
        metrics = dict(e2e)
        metrics["setup_s"] = (setup_s, "s")
    print(json.dumps({"context": ctx}))
    return {
        "correct": bench.failed == 0,
        "attempted": bench.attempted,
        "failed": bench.failed,
        "metrics": {k: {"value": float(v), "unit": u} for k, (v, u) in sorted(metrics.items())},
    }


def main(argv=None) -> int:
    args = parse_args(argv)
    if not (ROOT / "data_prepper_spark" / "session.py").is_file():
        print(f"perfbench: no data_prepper_spark package under {ROOT}", file=sys.stderr)
        return 2
    if args.convs is None:
        from perfbench.workloads import CONVS
        args.convs = CONVS
    tmp = ROOT / ".bench_tmp" / f"run-{os.getpid()}-{time.time_ns()}"
    try:
        if args.scale_child:
            scale_child(args, tmp)
            return 0
        result = run(args, tmp)
    except Exception:
        traceback.print_exc()
        return 2
    finally:
        shutil.rmtree(tmp, ignore_errors=True)
    print(json.dumps(result))
    return 0 if result["correct"] else 1


if __name__ == "__main__":
    sys.exit(main())
