"""Benchmark entry point for the deepchecks_spark engine.

    python3 perfbench/run.py --workload runner_corpus --seed 1 --seconds 10 --trace 0

Run from the repository root. Each run:

1. stages the seeded webtext corpus once per (rows, seed) under
   ``perfbench/_cache`` (outside every timed interval) and verifies it;
2. starts one fresh measured process and times ``setup_s``: process
   start until the session is built and the inputs are opened;
3. runs a cold pass in it, a fixed number of warm-up passes, then warm
   passes for ``--seconds`` and at least three (closed loop, one client,
   one pass at a time, same inputs every pass);
4. gates every pass: each result must equal the cold pass's, and the
   cold pass must agree with DuckDB on the staged input;
5. prints a table on stderr and, as the last line of stdout, one JSON
   object with ``correct``, ``attempted``, ``failed`` and ``metrics``.

``--trace 0`` reports the end-to-end metrics; ``--trace 1`` runs the
traced variant and reports the per-layer metrics, writing every span and
the per-operator timings to ``perfbench/_out/trace-<workload>-s<seed>.json``.

Noise controls: Spark runs ``local[nproc]`` with a HEAP-sized Spark driver so
nothing is oversubscribed; CPU-seconds of the process tree are reported
next to wall time, and hypervisor steal is recorded per run as
``host.steal_s``. No run or pass is ever discarded.
"""

from __future__ import annotations

import argparse
import json
import os
import shutil
import signal
import statistics
import subprocess
import sys
import time

HERE = os.path.dirname(os.path.abspath(__file__))
ROWS = 4_000           # corpus documents (both workloads read the same corpus)
HEAP = "2g"            # driver heap: the whole local cluster's memory
STAGE_CHUNKS = 4
PROC_TIMEOUT_S = 170
WORKLOADS = ("runner_corpus", "dedup_corpus")


def _spawn(args, log_path, timeout):
    """Run a child in its own process group; reap the whole group."""
    with open(log_path, "ab") as log:
        proc = subprocess.Popen([sys.executable, *args], stdout=log, stderr=log,
                                start_new_session=True)
        try:
            code = proc.wait(timeout=timeout)
        except subprocess.TimeoutExpired:
            code = None
        finally:
            _kill_group(proc.pid)
    return code


def _kill_group(pgid):
    """SIGKILL what is left of a process group and wait until it is gone."""
    deadline = time.time() + 20
    while time.time() < deadline:
        left = [p for p in os.listdir("/proc") if p.isdigit() and _pgid(int(p)) == pgid]
        if not left:
            return
        try:
            os.killpg(pgid, signal.SIGKILL)
        except ProcessLookupError:
            return
        time.sleep(0.2)


def _pgid(pid):
    try:
        with open(f"/proc/{pid}/stat") as f:
            data = f.read()
    except OSError:
        return None
    fields = data[data.rindex(")") + 2:].split()
    return None if fields[0] == "Z" else int(fields[2])


def _median(xs):
    return statistics.median(xs) if xs else float("nan")


def _stage(corpus, seed, log):
    sys.path.insert(0, HERE)
    from stage import verified

    if verified(corpus, ROWS, seed):
        return
    code = _spawn([os.path.join(HERE, "stage.py"), corpus, str(ROWS), str(seed),
                   str(STAGE_CHUNKS)], log, PROC_TIMEOUT_S)
    if code != 0 or not verified(corpus, ROWS, seed):
        raise SystemExit(f"staging the corpus failed (see {log})")


def _gate(res):
    """Failed passes: raised, differed from the cold pass, or (cold) the
    oracle disagreed."""
    passes = res["passes"]
    ref = passes[0].get("signature")
    failed = 0
    cand = set()
    for i, p in enumerate(passes):
        ok = p["error"] is None and p.get("signature") == ref
        if i == 0:
            ok = ok and res["oracle"]["ok"]
        if "pipeline.lsh_candidates" in (p.get("counts") or {}):
            cand.add(p["counts"]["pipeline.lsh_candidates"])
        failed += not ok
    if len(cand) > 1:  # candidate counts must repeat across passes too
        failed += 1
    return len(passes), failed


def _end_to_end(res):
    passes = res["passes"]
    cold = passes[0]
    warm = [p for p in passes if p["kind"] == "warm"]
    warm_s = _median([p["wall_s"] for p in warm])
    return {
        "setup_s": (res["setup_s"], "s"),
        "cold_s": (cold["wall_s"], "s"),
        "warm_s": (warm_s, "s"),
        "cold_cpu_s": (cold["cpu_s"], "s"),
        "warm_cpu_s": (_median([p["cpu_s"] for p in warm]), "s"),
        "warm_rows_per_s": (ROWS / warm_s, "1/s"),
    }


# per-layer metrics reported for every workload; the operator-level
# timings that only one workload reaches go to the trace file
LAYER_KEYS = {
    "spark.jobs": "count", "spark.stages": "count", "spark.tasks": "count",
    "spark.failed_tasks": "count", "spark.executor_cpu_s": "s", "spark.gc_s": "s",
    "spark.driver_gap_s": "s", "spark.slot_busy_frac": "ratio",
    "spark.input_mb": "MB", "spark.output_mb": "MB", "spark.shuffle_read_mb": "MB",
    "spark.shuffle_write_mb": "MB", "spark.spill_mb": "MB",
    "codegen.compiles": "count", "codegen.compile_ms": "ms",
}
CPU_ROLES = ("driver_py", "jvm", "pyworker")


def _per_layer(res):
    passes = res["passes"]
    cold = passes[0]
    traced = [p for p in passes if p["kind"] == "warm" and p["traced"]]
    plain = [p for p in passes if p["kind"] == "warm" and not p["traced"]]
    m = {"session.get_spark_s": (res["get_spark_s"], "s"),
         "session.first_pyudf_s": (res["first_pyudf_s"], "s"),
         "host.steal_s": (res["host_steal_s"], "s"),
         # per-layer, not end-to-end: it did not repeat within a tenth
         "mem.peak_rss_mb": (res["peak_rss_mb"], "MB"),
         "cpu.last_warmup_drop_frac": (_last_warmup_drop(passes), "ratio")}
    for role in CPU_ROLES:
        m[f"cpu.{role}_s.cold"] = (cold["cpu"][role], "s")
        m[f"cpu.{role}_s.warm"] = (_median([p["cpu"][role] for p in traced]), "s")
    for key, unit in LAYER_KEYS.items():
        m[f"{key}.cold"] = (cold["layers"][key], unit)
        if key != "codegen.compile_ms":  # warm passes reuse compiled classes: 0
            m[f"{key}.warm"] = (_median([p["layers"][key] for p in traced]), unit)
    t_warm, u_warm = _median([p["wall_s"] for p in traced]), _median([p["wall_s"] for p in plain])
    m["trace.traced_warm_s"] = (t_warm, "s")
    m["trace.untraced_warm_s"] = (u_warm, "s")
    m["trace.overhead_frac"] = (t_warm / u_warm - 1.0, "ratio")
    return m


def _last_warmup_drop(passes):
    """Share by which CPU per pass still fell over the last warm-up pass."""
    cpu = [p["cpu_s"] for p in passes if p["kind"] == "warmup"]
    return 1.0 - cpu[-1] / cpu[-2] if len(cpu) >= 2 else float("nan")


def _operator_layers(res):
    """Per-operator span times and counts, cold and median over traced warm
    passes: the layers only one workload reaches."""
    passes = res["passes"]
    groups = {}
    for sp in res["spans"]:
        if not sp["name"].startswith("pass."):
            groups.setdefault((sp["pass"], sp["pass_no"]), []).append(sp)

    def totals(spans):
        tot, jobs = {}, {}
        for sp in spans:
            tot[sp["name"]] = tot.get(sp["name"], 0.0) + sp["end"] - sp["start"]
            if "jobs_started" in sp:
                jobs[sp["name"]] = jobs.get(sp["name"], 0) + sp["jobs_started"]
        return tot, jobs

    cold = totals([sp for (kind, _), g in groups.items() if kind == "cold" for sp in g])
    warm = [totals(g) for (kind, _), g in sorted(groups.items()) if kind == "warm"]
    out = {}
    for kind, sets in (("cold", [cold]), ("warm", warm)):
        names = sorted({n for t, _ in sets for n in t})
        for n in names:
            out[f"{n}_s.{kind}"] = _median([t.get(n, 0.0) for t, _ in sets])
        if "pipeline.deduplicate_by_pairs" in names:
            out["pipeline.deduplicate_by_pairs_jobs." + kind] = _median(
                [j["pipeline.deduplicate_by_pairs"] for _, j in sets])
        checks = [n for n in names if n.startswith("checks.")]
        if checks:
            # overlap: summed per-check time over the suite's wall time
            out[f"core.check_overlap.{kind}"] = _median(
                [sum(t.get(c, 0.0) for c in checks) / t["core.suite_run"]
                 for t, _ in sets if t.get("core.suite_run")])
    traced = [p.get("counts") or {} for p in passes if p["traced"] and p["kind"] == "warm"]
    for k, v in sorted((passes[0].get("counts") or {}).items()):
        out[f"{k}.cold"] = v
        out[f"{k}.warm"] = _median([c[k] for c in traced if k in c])
    return out


def main(argv=None):
    ap = argparse.ArgumentParser(description=__doc__.split("\n")[0])
    ap.add_argument("--workload", choices=WORKLOADS, required=True)
    ap.add_argument("--seed", type=int, required=True)
    ap.add_argument("--seconds", type=float, required=True)
    ap.add_argument("--trace", type=int, choices=(0, 1), default=0)
    a = ap.parse_args(argv)

    root = os.getcwd()
    if not os.path.isfile(os.path.join(root, "deepchecks_spark", "__init__.py")):
        print("perfbench: run from the repository root (deepchecks_spark/ not found)",
              file=sys.stderr)
        return 2
    out_dir = os.path.join(HERE, "_out")
    run_dir = os.path.join(out_dir, f"{a.workload}-s{a.seed}-t{a.trace}-{os.getpid()}")
    os.makedirs(run_dir, exist_ok=True)
    log = os.path.join(run_dir, "spark.log")
    corpus = os.path.join(HERE, "_cache", f"corpus-r{ROWS}-s{a.seed}")
    _stage(corpus, a.seed, log)

    cores = os.cpu_count() or 1
    res_path = os.path.join(out_dir, f"result-{a.workload}-s{a.seed}-t{a.trace}.json")
    t0 = time.time()
    code = _spawn([os.path.join(HERE, "worker.py"), "--workload", a.workload,
                   "--corpus", corpus, "--rows", str(ROWS), "--scratch", run_dir,
                   "--seconds", str(a.seconds), "--trace", str(a.trace), "--t0", repr(t0),
                   "--cores", str(cores), "--heap", HEAP, "--out", res_path],
                  log, PROC_TIMEOUT_S)
    if code != 0 or not os.path.exists(res_path):
        print(f"perfbench: the measured process failed (exit {code}); see {log}",
              file=sys.stderr)
        return 1
    with open(res_path) as f:
        res = json.load(f)

    attempted, failed = _gate(res)
    if a.trace:
        metrics = _per_layer(res)
        detail = _operator_layers(res)
        with open(os.path.join(out_dir, f"trace-{a.workload}-s{a.seed}.json"), "w") as f:
            json.dump({"metrics": {k: v for k, (v, _) in metrics.items()},
                       "operators": detail, "spans": res["spans"],
                       "passes": res["passes"]}, f, indent=1, default=str)
    else:
        metrics = _end_to_end(res)
        detail = {}
    if failed == 0:  # a failing run keeps its outputs and log for inspection
        shutil.rmtree(run_dir, ignore_errors=True)

    warm = [p["wall_s"] for p in res["passes"] if p["kind"] == "warm"]
    n_warmup = sum(p["kind"] == "warmup" for p in res["passes"])
    print(f"# {a.workload} seed={a.seed} rows={ROWS} local[{cores}] heap={HEAP} "
          f"warmup_passes={n_warmup} last_warmup_cpu_drop={_last_warmup_drop(res['passes']):.3f} "
          f"warm_passes={len(warm)} "
          f"max_warm_s={max(warm):.3f} steal_s={res['host_steal_s']:.2f} "
          f"failed_frac={failed / attempted:.3f} oracle={res['oracle']}", file=sys.stderr)
    for p in res["passes"]:
        if p["error"]:
            print(f"  failed {p['kind']} pass: {p['error'].strip().splitlines()[-1]}",
                  file=sys.stderr)
    n_traced = sum(p["traced"] for p in res["passes"] if p["kind"] == "warm")
    for k, (v, unit) in metrics.items():
        n = (len(warm) if k.startswith("warm_") else
             n_traced if k.endswith(".warm") or k.startswith("trace.") else 1)
        print(f"  {k:40s} {v:14.4f} {unit:6s} n={n}", file=sys.stderr)
    for k, v in detail.items():
        print(f"  {k:40s} {v if v is None else round(v, 4)}", file=sys.stderr)
    print(json.dumps({"correct": failed == 0, "attempted": attempted, "failed": failed,
                      "metrics": {k: {"value": v, "unit": u} for k, (v, u) in metrics.items()}}))
    return 0


if __name__ == "__main__":
    sys.exit(main())
