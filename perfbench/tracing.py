"""Spans and Spark-side counters for the traced run.

Spans (name, start, end, parent, run id) are recorded from outside the
engine: ``wrap`` replaces the public functions a workload reaches, so no
engine file changes. Spans live in memory and are written out with the
run's result. At each pass boundary the tracer reads the jobs submitted
during the pass from Spark's status store (``jobsList`` and
``lastStageAttempt`` work with ``spark.ui.enabled=false``) before the
store evicts them, and the JVM's Janino compile counters.
"""

from __future__ import annotations

import functools
import itertools
import threading
import time
from contextlib import contextmanager

_MB = 1024.0 * 1024.0


class Tracer:
    def __init__(self, spark, run_id: str):
        self.spark = spark
        self.run_id = run_id
        self.enabled = False
        self.spans: list[dict] = []
        self._ids = itertools.count(1)
        self._local = threading.local()
        self._lock = threading.Lock()
        jvm = spark.sparkContext._jvm
        self._codegen_hist = jvm.org.apache.spark.metrics.source.CodegenMetrics \
            .METRIC_COMPILATION_TIME()
        self._codegen = jvm.org.apache.spark.sql.catalyst.expressions.codegen.CodeGenerator
        self._seen_jobs = self._job_ids()
        self._cg0 = (0, 0)
        self._pass_kind = None
        self._pass_no = 0
        self._root = None

    # -- spans -------------------------------------------------------------
    @contextmanager
    def span(self, name: str, count_jobs: bool = False):
        """Record a span; ``count_jobs`` also counts the Spark jobs started
        inside it (two py4j calls, so only where a metric needs it)."""
        if not self.enabled:
            yield None
            return
        stack = getattr(self._local, "stack", None)
        if not stack:
            # a pool thread inherits no stack: parent it to the pass span
            stack = self._local.stack = [self._root]
        sid = next(self._ids)
        if self._root is None:
            self._root = sid
        rec = {"id": sid, "name": name, "parent": stack[-1], "run_id": self.run_id,
               "pass": self._pass_kind, "pass_no": self._pass_no, "thread": threading.get_ident(),
               "start": time.perf_counter(), "end": None}
        jobs0 = self._max_job() if count_jobs else None
        stack.append(sid)
        try:
            yield rec
        finally:
            stack.pop()
            rec["end"] = time.perf_counter()
            if count_jobs:
                rec["jobs_started"] = self._max_job() - jobs0
            with self._lock:
                self.spans.append(rec)

    def wrap(self, owner, attr: str, name: str):
        fn = getattr(owner, attr)

        @functools.wraps(fn)
        def traced(*args, **kwargs):
            with self.span(name):
                return fn(*args, **kwargs)

        setattr(owner, attr, traced)

    # -- Spark status store and codegen ----------------------------------
    def _job_ids(self) -> set:
        return set(self.spark.sparkContext.statusTracker().getJobIdsForGroup(None))

    def _max_job(self) -> int:
        ids = self._job_ids()
        return max(ids) + 1 if ids else 0

    def _codegen_now(self):
        return int(self._codegen_hist.getCount()), int(self._codegen.compileTime())

    def begin_pass(self, kind: str):
        self._pass_kind = kind
        self._pass_no += 1
        self._local.stack = None
        self._root = None
        self._seen_jobs = self._job_ids()
        self._cg0 = self._codegen_now()

    def end_pass(self, wall_s: float) -> dict:
        """Per-layer counters for the pass that just ended."""
        cg1 = self._codegen_now()
        new = sorted(self._job_ids() - self._seen_jobs)
        self._seen_jobs |= set(new)
        store = self.spark.sparkContext._jsc.sc().statusStore()
        jobs = stages = tasks = failed = 0
        run_ms = cpu_ns = gc_ms = 0
        inb = outb = shr = shw = spill = 0
        intervals = []
        seen_stages = set()
        for jid in new:
            try:
                job = store.job(jid)
            except Exception:  # noqa: BLE001 - evicted from the store
                continue
            jobs += 1
            tasks += job.numTasks()
            failed += job.numFailedTasks()
            sub, comp = job.submissionTime(), job.completionTime()
            if sub.isDefined() and comp.isDefined():
                intervals.append((sub.get().getTime(), comp.get().getTime()))
            ids = job.stageIds()  # a Scala Seq over py4j
            for sid in (ids.apply(i) for i in range(ids.length())):
                if sid in seen_stages:
                    continue
                seen_stages.add(sid)
                try:
                    st = store.lastStageAttempt(sid)
                except Exception:  # noqa: BLE001
                    continue
                if str(st.status()) == "SKIPPED":
                    continue
                stages += 1
                run_ms += st.executorRunTime()
                cpu_ns += st.executorCpuTime()
                gc_ms += st.jvmGcTime()
                inb += st.inputBytes()
                outb += st.outputBytes()
                shr += st.shuffleReadBytes()
                shw += st.shuffleWriteBytes()
                spill += st.memoryBytesSpilled() + st.diskBytesSpilled()
        busy_ms = _union_ms(intervals)
        cores = self.spark.sparkContext.defaultParallelism
        return {
            "spark.jobs": jobs, "spark.stages": stages, "spark.tasks": tasks,
            "spark.failed_tasks": failed,
            "spark.executor_run_s": run_ms / 1e3,
            "spark.executor_cpu_s": cpu_ns / 1e9,
            "spark.gc_s": gc_ms / 1e3,
            "spark.driver_gap_s": max(0.0, wall_s - busy_ms / 1e3),
            "spark.slot_busy_frac": (run_ms / 1e3) / (wall_s * cores),
            "spark.input_mb": inb / _MB, "spark.output_mb": outb / _MB,
            "spark.shuffle_read_mb": shr / _MB, "spark.shuffle_write_mb": shw / _MB,
            "spark.spill_mb": spill / _MB,
            "codegen.compiles": cg1[0] - self._cg0[0],
            "codegen.compile_ms": (cg1[1] - self._cg0[1]) / 1e6,
        }


def _union_ms(intervals) -> float:
    total, end = 0, None
    for a, b in sorted(intervals):
        if end is None or a > end:
            total += b - a
            end = b
        elif b > end:
            total += b - end
            end = b
    return float(total)
