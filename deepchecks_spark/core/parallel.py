"""Driver-side concurrency: one input-spread guard, one job fan-out,
one single-flight memo.

* ``spread_input`` (guide §2.5/§6) repartitions an under-partitioned
  input up to the slot count before CPU-heavy map work, so a sub-128 MB
  table scanned as ONE task does not run on a single core. At real
  scale it is a no-op (checked, never an unconditional shuffle).
* ``run_jobs`` (guide §2.6) submits independent Spark jobs side by
  side, so one job's scheduler ramp-up/tail back-fills the others';
  each carries its caller's job tags (``job_tag``) and job group.
* ``Once`` computes a shared pass (fused stats, the runner's
  per-partition stats and flagged-string table) once per key, however
  many concurrent jobs ask for it, and tags that pass's jobs with the
  key.
"""

from __future__ import annotations

import logging
import threading
from concurrent.futures import ThreadPoolExecutor
from contextlib import contextmanager

from pyspark import SparkContext
from pyspark.sql import DataFrame, SparkSession
from pyspark.util import inheritable_thread_target

logger = logging.getLogger(__name__)

# per-call thread cap; only Suite.run's check list can be wider
MAX_JOBS = 8


def spread_input(df: DataFrame) -> DataFrame:
    """Round-robin repartition ``df`` up to ``defaultParallelism``
    partitions when (and only when) its current plan yields fewer —
    the under-partitioned-scan case. Results are unchanged: callers are
    aggregations/joins keyed on row VALUES (never ``spark_partition_id``
    or scan order), so partition placement is invisible to their output.

    The partition probe (``df.rdd.getNumPartitions()``) is plan-only —
    no job runs; the repartition itself moves at most one slot-count's
    worth of under-sized partitions, which is exactly the regime where
    the shuffle is cheap.
    """
    sc = df.sparkSession.sparkContext
    slots = sc.defaultParallelism
    try:
        n_parts = df.rdd.getNumPartitions()
    except Exception as exc:  # exotic plans that refuse RDD conversion: leave as-is
        logger.debug("spread_input: partition probe failed, input left as is: %r", exc)
        return df
    if n_parts < slots:
        return df.repartition(slots)
    return df


def run_jobs(fns) -> list:
    """Call the independent callables ``fns`` concurrently and return
    their results in submission order.

    Every callable finishes before the first exception (in submission
    order) is raised, so a caller's ``finally`` cleanup — unpersisting
    the shared input — never runs under live stages. Zero or one
    callable runs inline; otherwise each call gets its own pool of
    ``min(len(fns), MAX_JOBS)`` threads, so nested fan-outs (runner
    stage -> suite -> drift legs) never wait on each other's workers.
    """
    fns = list(fns)
    if len(fns) <= 1:
        return [fn() for fn in fns]
    with ThreadPoolExecutor(max_workers=min(len(fns), MAX_JOBS)) as pool:
        futures = [pool.submit(_inheriting(fn)) for fn in fns]
    return [f.result() for f in futures]


def _inheriting(fn):
    """``fn`` under its own copy of the caller's Spark local properties
    (job tags), which a pool thread lacks. Only the copy runs inside
    ``inheritable_thread_target``: PySpark names a job after the caller
    of the outermost pyspark frame, which would otherwise be the pool."""
    if not SparkContext._active_spark_context:
        return fn
    inherit = inheritable_thread_target(SparkSession.active())(lambda: None)

    def run():
        inherit()
        return fn()

    return run


@contextmanager
def job_tag(sc, tag: str):
    """Tag the block's Spark jobs (AQE's stage jobs too) with ``tag``,
    then drop it: run_jobs runs a lone callable in its caller's thread.
    The caller's job group is left alone, so its ``cancelJobGroup``
    still reaches these jobs."""
    sc.addJobTag(tag)
    try:
        yield
    finally:
        sc.removeJobTag(tag)


class Once:
    """Keyed single-flight memo: ``once(key, fn)`` returns the value
    computed by the first caller of ``key``; concurrent callers of the
    same key wait for that result. A failure is not cached — the next
    call retries.

    The jobs ``fn`` runs carry the tag ``<tag>.<key>`` (a tuple key's
    parts joined by dots) as well as the first caller's own tags, so a
    shared pass is named after its key whichever reader built it."""

    def __init__(self, tag: str | None = None):
        self.tag = tag
        self._guard = threading.Lock()
        self._locks: dict = {}
        self._values: dict = {}

    def __call__(self, key, fn):
        with self._guard:
            if key in self._values:
                return self._values[key]
            key_lock = self._locks.setdefault(key, threading.Lock())
        with key_lock:
            with self._guard:
                if key in self._values:
                    return self._values[key]
            value = self._tagged(key, fn)
            with self._guard:
                self._values[key] = value
            return value

    def _tagged(self, key, fn):
        sc = SparkContext._active_spark_context
        if self.tag is None or sc is None:
            return fn()
        parts = key if isinstance(key, tuple) else (key,)
        # a job tag may not hold a comma
        name = ".".join(str(p) for p in parts).replace(",", "_")
        with job_tag(sc, f"{self.tag}.{name}"):
            return fn()

    def done(self) -> dict:
        """Snapshot of the completed entries, taken under the guard."""
        with self._guard:
            return dict(self._values)
