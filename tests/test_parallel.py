"""core/parallel.py: the run_jobs fan-out, the Once single-flight memo,
and the serial-vs-concurrent parity of the paths built on them."""

import functools
import os
import sys
import threading
import time

import pytest

from deepchecks_spark.core.parallel import Once, job_tag, run_jobs


def test_run_jobs_returns_results_in_submission_order():
    # later callables finish first: the order must still be submission order
    fns = [lambda i=i: (time.sleep(0.02 * (5 - i)), i)[1] for i in range(5)]
    assert run_jobs(fns) == [0, 1, 2, 3, 4]
    assert run_jobs([lambda: "one"]) == ["one"]
    assert run_jobs([]) == []


def test_run_jobs_waits_for_every_callable_before_raising():
    finished = threading.Event()

    def fails_fast():
        raise ValueError("boom")

    def sleeper():
        time.sleep(0.3)
        finished.set()
        return "late"

    with pytest.raises(ValueError, match="boom"):
        run_jobs([fails_fast, sleeper])
    assert finished.is_set(), "exception surfaced while a job was still running"


def test_run_jobs_legs_keep_their_own_job_tags(spark):
    # each leg inherits the caller's tag and adds its own; a leg's tag
    # never reaches a concurrent leg's job, and the caller's group stays
    sc = spark.sparkContext
    conv = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava

    def leg(name):
        with job_tag(sc, name):
            spark.range(10).collect()
        return set(sc.getJobTags())

    sc.setJobGroup("legs-caller", "legs-caller")
    try:
        with job_tag(sc, "outer"):
            left = run_jobs([functools.partial(leg, "a"), functools.partial(leg, "b")])
            assert set(sc.getJobTags()) == {"outer"}
    finally:
        sc._jsc.clearJobGroup()
    assert left == [{"outer"}, {"outer"}] and set(sc.getJobTags()) == set()
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    store = sc._jsc.sc().statusStore()
    jobs = [store.job(j) for j in sc.statusTracker().getJobIdsForGroup("legs-caller")]
    # Spark SQL adds its own spark-session-* tags
    tags = {tuple(sorted(t for t in conv(j.jobTags()) if not t.startswith("spark-")))
            for j in jobs}
    assert tags == {("a", "outer"), ("b", "outer")}
    # a leg's job is named after the code that ran it, not after the
    # pool thread's wrapper
    names = [str(j.name()) for j in jobs]
    assert not any(n.startswith("wrapped at ") for n in names), names
    assert any(os.path.basename(n.split(" at ")[-1]).startswith("test_parallel.py:")
               for n in names), names


def test_once_is_single_flight():
    once = Once()
    n_threads = 8
    barrier = threading.Barrier(n_threads)
    calls = []

    def compute():
        calls.append(1)
        time.sleep(0.05)  # keep the first caller in flight while the rest arrive
        return 42

    def caller():
        barrier.wait()
        return once("k", compute)

    assert run_jobs([caller] * n_threads) == [42] * n_threads
    assert len(calls) == 1
    assert once.done() == {"k": 42}


def test_once_does_not_cache_failures():
    once = Once()
    attempts = []

    def flaky():
        attempts.append(1)
        if len(attempts) == 1:
            raise RuntimeError("transient")
        return "ok"

    with pytest.raises(RuntimeError):
        once("k", flaky)
    assert once.done() == {}
    assert once("k", flaky) == "ok"
    assert once("k", flaky) == "ok"
    assert len(attempts) == 2


def test_context_n_rows_concurrent_with_stats(spark, monkeypatch):
    """n_rows reads the stats entry of its side while other checks add
    stats entries; the read must never see the memo change under it,
    and each side's stats are computed once however many threads ask."""
    import deepchecks_spark.core.context as ctx_mod
    from deepchecks_spark import Dataset
    from deepchecks_spark.core.context import Context
    from deepchecks_spark.stats import ColumnStats

    cols = [f"c{i}" for i in range(10)]
    df = spark.createDataFrame([tuple(range(i, i + 10)) for i in range(7)],
                               ", ".join(f"{c} int" for c in cols))
    # the race is in the memo, not in Spark: a driver-only stand-in
    computed = []

    def fake_stats(df, columns):
        computed.append(tuple(columns))
        time.sleep(0.001)  # keep the entry in flight while readers spin
        return ColumnStats(n_rows=7, per_column={})

    monkeypatch.setattr(ctx_mod, "compute_column_stats", fake_stats)

    def one_round():
        computed.clear()
        ctx = Context(Dataset(df, infer_categorical=False),
                      Dataset(df, infer_categorical=False))
        assert ctx.n_rows("train") == 7  # counted up front: readers only look up
        stop = threading.Event()
        all_filled = threading.Barrier(4, action=stop.set, timeout=60)

        def fill(part):
            try:
                for kind in ("test", "train") * 50:
                    ctx.stats(kind)
            finally:
                all_filled.wait()
            return "filled"

        def read():
            seen = set()
            while not stop.is_set():
                seen.add(ctx.n_rows("train"))
                seen.add(ctx.n_rows("test"))
            return seen

        results = run_jobs([lambda p=p: fill(p) for p in range(4)] + [read] * 4)
        assert results[:4] == ["filled"] * 4
        assert all(r <= {7} for r in results[4:])
        assert computed == [tuple(cols)] * 2  # each side once
        assert ctx.n_rows("test") == 7

    # switch threads as often as possible so an unguarded read would be
    # interrupted mid-iteration
    interval = sys.getswitchinterval()
    sys.setswitchinterval(1e-6)
    try:
        for _ in range(5):
            one_round()
    finally:
        sys.setswitchinterval(interval)


def test_run_job_concurrent_matches_serial(spark, tmp_path, monkeypatch):
    """run_job's stages and sections run through run_jobs; every output
    table must equal the serial reference's, row for row."""
    import deepchecks_spark.core.context as context_mod
    import deepchecks_spark.core.parallel as parallel_mod
    import deepchecks_spark.core.suite as suite_mod
    import deepchecks_spark.runner as runner_mod
    from deepchecks_spark.corpus import generate_corpus_spark

    src = str(tmp_path / "src")
    generate_corpus_spark(spark, 200, seed=7, partitions=4).write.parquet(src)
    tables = ("verdicts", "partition_verdicts", "violations", "metrics")

    def run(out):
        runner_mod.run_job(spark, src, out, cat_features=["lang"], resume=False)
        return {t: sorted(map(tuple, spark.read.parquet(os.path.join(out, t)).collect()),
                          key=repr)
                for t in tables}

    concurrent = run(str(tmp_path / "concurrent"))
    serial = lambda fns: [fn() for fn in fns]  # noqa: E731 — the serial reference path
    for mod in (parallel_mod, suite_mod, runner_mod, context_mod):
        monkeypatch.setattr(mod, "run_jobs", serial)
    sequential = run(str(tmp_path / "serial"))
    for t in tables:
        assert concurrent[t], f"{t} is empty"
        assert concurrent[t] == sequential[t], t
