"""One measured Spark process: set up, run one workload's passes, report.

Started by ``run.py``. It times its own set-up (process start until the
session is built and the inputs are opened), then runs a cold pass,
a fixed number of warm-up passes, and timed warm passes for
``--seconds``; every pass goes through the correctness gate. With ``--trace 1`` it also records spans,
Spark status-store deltas and codegen counters per pass, and times
untraced against traced warm passes to give the tracing overhead.
The result is written as JSON to ``--out``.
"""

from __future__ import annotations

import argparse
import json
import os
import sys
import time
import traceback

from procfs import TreeMeter, steal_s
from tracing import Tracer
import workloads

# JIT keeps lowering CPU per pass by 5-15 % per pass well past the budget
# of one run, so a "stop when levelled" rule stops at a random point and
# the timed passes then sit at different JIT stages from run to run. A
# fixed warm-up count times the same stage every run; how much CPU still
# fell over the last warm-up pass is reported with the result.
WARMUP_PASSES = 2
MIN_TIMED = 3
MIN_TIMED_TRACED = 4  # two untraced, two traced


def _pass(wl, tracer, meter, kind, traced):
    """Run one pass; return its record. A raised error is a failed pass."""
    tracer.enabled = traced
    tracer.begin_pass(kind)
    cpu0, st0, t0 = meter.sample(), steal_s(), time.perf_counter()
    error = None
    try:
        with tracer.span(f"pass.{kind}"):
            out = wl.run_pass(tracer)
    except Exception:  # noqa: BLE001 - a failing pass is counted, not fatal
        out, error = None, traceback.format_exc(limit=4)
    wall = time.perf_counter() - t0
    cpu1, st1 = meter.sample(), steal_s()
    layers = tracer.end_pass(wall) if traced else None
    rec = {"kind": kind, "traced": traced, "wall_s": wall,
           "cpu": {r: cpu1[r] - cpu0[r] for r in cpu1}, "steal_s": st1 - st0}
    rec["cpu_s"] = sum(rec["cpu"].values())
    if error is None:
        try:
            rec["signature"] = wl.signature(out)
            if traced or kind == "cold":
                rec["counts"] = wl.layer_counts(out, rec["signature"])
        except Exception:  # noqa: BLE001
            error = traceback.format_exc(limit=4)
    rec["error"] = error
    rec["layers"] = layers
    tracer.enabled = False
    return rec


def main(argv=None):
    ap = argparse.ArgumentParser()
    ap.add_argument("--workload", required=True)
    ap.add_argument("--corpus", required=True)
    ap.add_argument("--rows", type=int, required=True)
    ap.add_argument("--scratch", required=True)
    ap.add_argument("--seconds", type=float, default=10.0)
    ap.add_argument("--trace", type=int, default=0)
    ap.add_argument("--t0", type=float, required=True)
    ap.add_argument("--cores", type=int, required=True)
    ap.add_argument("--heap", required=True)
    ap.add_argument("--out", required=True)
    a = ap.parse_args(argv)

    os.environ["SPARK_DRIVER_MEM"] = a.heap
    # a heap committed up front keeps GC behaviour and RSS the same from
    # the first pass on; the console progress bar only fills the log
    os.environ["PYSPARK_SUBMIT_ARGS"] = (
        f"--driver-java-options -Xms{a.heap} "
        "--conf spark.ui.showConsoleProgress=false pyspark-shell")
    from deepchecks_spark.session import get_spark

    t_get = time.time()
    spark = get_spark("perfbench", cores=a.cores)
    get_spark_s = time.time() - t_get
    spark.sparkContext.setLogLevel("ERROR")
    wl = workloads.make(a.workload, spark, a.corpus, a.rows, a.scratch)
    setup_s = time.time() - a.t0
    result = {"setup_s": setup_s, "get_spark_s": get_spark_s}

    meter = TreeMeter()
    tracer = Tracer(spark, run_id=f"{a.workload}-{os.getpid()}")
    steal0, t_run0 = steal_s(), time.perf_counter()
    if a.trace:
        result["first_pyudf_s"] = workloads.first_pandas_udf_job(spark)
        wl.install_spans(tracer)

    passes = [_pass(wl, tracer, meter, "cold", bool(a.trace))]
    result["oracle"] = wl.oracle_check(passes[0]) if passes[0]["error"] is None else \
        {"ok": False, "why": "cold pass failed"}

    for _ in range(WARMUP_PASSES):
        passes.append(_pass(wl, tracer, meter, "warmup", False))

    # timed warm passes; a traced run alternates untraced and traced
    t_end = time.perf_counter() + a.seconds
    n = 0
    while n < (MIN_TIMED_TRACED if a.trace else MIN_TIMED) or time.perf_counter() < t_end:
        traced = bool(a.trace) and n % 2 == 1
        passes.append(_pass(wl, tracer, meter, "warm", traced))
        n += 1

    result["host_steal_s"] = steal_s() - steal0
    result["run_wall_s"] = time.perf_counter() - t_run0
    result["peak_rss_mb"] = meter.peak_rss_mb()
    result["passes"] = passes
    result["spans"] = tracer.spans
    spark.stop()
    _dump(a.out, result)


def _dump(path, obj):
    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(obj, f, default=str)
    os.replace(tmp, path)


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    main()
