"""Runner job: per-partition verdicts, violations with partition
lineage, metrics table, checkpoint/resume (FIXTURES.md §F3 parity)."""

import functools
import json
import os

import pytest
from pyspark.sql import functions as F

from deepchecks_spark.runner import (
    duplicates_check,
    low_cardinality,
    partition_rows,
    partition_value_counts,
    run_job,
    violation_rows,
)
from deepchecks_spark.stats import compute_column_stats_by_partition


def _new_category(max_ratio=0.0):
    from deepchecks_spark.checks.traintest import NewCategoryTrainTest

    return NewCategoryTrainTest().add_condition_new_category_ratio_less_or_equal(max_ratio)


def _job_ids(sc):
    """Every job id the status store holds, whatever its group."""
    sc._jsc.sc().listenerBus().waitUntilEmpty()
    jobs = sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        sc._jsc.sc().statusStore().jobsList(None))
    return {j.jobId() for j in jobs}


@pytest.fixture(scope="module")
def corpus_parquet(tmp_path_factory, spark):
    from deepchecks_spark.corpus import generate_corpus_spark

    path = str(tmp_path_factory.mktemp("runner") / "webpages")
    df = generate_corpus_spark(spark, 400, seed=42, partitions=4)
    df.write.mode("overwrite").parquet(path)
    return path


def test_run_job_outputs(spark, tmp_path, corpus_parquet):
    out = str(tmp_path / "out")
    manifest = run_job(spark, corpus_parquet, out, cat_features=["lang"])
    assert set(manifest["stages"]) == {"global_verdicts", "partition_verdicts", "violations", "metrics"}

    verdicts = spark.read.parquet(os.path.join(out, "verdicts"))
    assert verdicts.count() >= 4
    assert {r["category"] for r in verdicts.collect()} <= {"PASS", "FAIL", "WARN", "ERROR"}
    assert not [r for r in verdicts.collect() if r["category"] == "ERROR"]

    pv = spark.read.parquet(os.path.join(out, "partition_verdicts"))
    pids = {r["partition_id"] for r in pv.collect()}
    assert len(pids) >= 2  # one verdict set per input partition
    # every partition evaluated every condition
    per_pid = pv.groupBy("partition_id").count().collect()
    assert len({r["count"] for r in per_pid}) == 1

    violations = spark.read.parquet(os.path.join(out, "violations"))
    vrows = violations.collect()
    checks = {r["check"] for r in vrows}
    # the corpus plants string-nulls and lang variants (FIXTURES §F1)
    assert "MixedNulls" in checks
    assert "StringMismatch" in checks
    assert all(r["partition_id"] is not None for r in vrows)
    assert all(r["count"] >= 1 for r in vrows)

    metrics = spark.read.parquet(os.path.join(out, "metrics"))
    mrows = metrics.collect()
    assert {r["stat"] for r in mrows} >= {"n_rows", "null_count", "percent_null", "distinct"}


def _with_mixed_column(spark, corpus_parquet, path):
    """The corpus plus a ``code`` column: one input partition mixes 5%
    number-like values into it (a MixedDataTypes WARN), another 2%
    special-character-only values (a SpecialCharacters WARN), and the
    rest hold a single value."""
    pid, row = F.spark_partition_id(), F.monotonically_increasing_id()
    code = (F.when((pid == 0) & (row % 20 == 0), F.lit("42"))
            .when((pid == 1) & (row % 50 == 0), F.lit("!!"))
            .otherwise(F.lit("x")))
    spark.read.parquet(corpus_parquet).withColumn("code", code).write.parquet(path)
    return path


def test_partition_verdicts_parity(spark, tmp_path, corpus_parquet):
    """North-rule parity: each partition's verdict equals the verdict of
    running the check on that partition's slice alone."""
    src = _with_mixed_column(spark, corpus_parquet, str(tmp_path / "mixed"))
    out = str(tmp_path / "out2")
    run_job(spark, src, out, cat_features=["lang"])
    pv = spark.read.parquet(os.path.join(out, "partition_verdicts"))
    got = {
        (r["partition_id"], r["check"], r["condition"]): r["category"]
        for r in pv.collect()
    }

    # recompute independently: slice by spark_partition_id, run the same
    # checks per slice through the normal (non-partition) path
    from deepchecks_spark import Dataset
    from deepchecks_spark.checks.integrity import (
        IsSingleValue,
        MixedDataTypes,
        MixedNulls,
        PercentOfNulls,
        SpecialCharacters,
    )

    df = spark.read.parquet(src).withColumn("__pid", F.spark_partition_id())
    pids = sorted(r["__pid"] for r in df.select("__pid").distinct().collect())
    seen = set()
    for pid in pids:
        part = df.filter(F.col("__pid") == pid).drop("__pid")
        ds = Dataset(part, cat_features=["lang"], infer_categorical=False)
        for check in (
            IsSingleValue().add_condition_not_single_value(),
            PercentOfNulls().add_condition_percent_of_nulls_not_greater_than(0.05),
            SpecialCharacters().add_condition_ratio_of_special_characters_less_or_equal(0.001),
            MixedDataTypes().add_condition_rare_type_ratio_not_in_range(),
            MixedNulls().add_condition_different_nulls_less_equal_to(1),
        ):
            result = check.run(ds)
            seen.update((check.header(), c.category.value) for c in result.conditions_results)
            for c in result.conditions_results:
                key = (pid, check.header(), c.name)
                assert key in got
                assert got[key] == c.category.value, f"partition {pid}: {key}"
    # the fixture reaches both checks' non-passing verdicts
    assert {("Mixed Data Types", "WARN"), ("Special Characters", "WARN")} <= seen


def test_partition_verdicts_submit_no_spark_job(spark, tmp_path, corpus_parquet):
    # per-partition values come from the held per-partition stats alone,
    # even where MixedDataTypes' compute would fetch example values
    from deepchecks_spark import Dataset
    from deepchecks_spark.checks.integrity import (
        IsSingleValue,
        MixedDataTypes,
        PercentOfNulls,
        SpecialCharacters,
    )
    src = _with_mixed_column(spark, corpus_parquet, str(tmp_path / "mixed"))
    ds = Dataset(spark.read.parquet(src), cat_features=["lang"], infer_categorical=False)
    per_part = compute_column_stats_by_partition(ds.df, ds.columns)
    checks = [
        IsSingleValue().add_condition_not_single_value(),
        PercentOfNulls().add_condition_percent_of_nulls_not_greater_than(0.05),
        SpecialCharacters().add_condition_ratio_of_special_characters_less_or_equal(0.001),
        MixedDataTypes().add_condition_rare_type_ratio_not_in_range(),
    ]
    tracker = spark.sparkContext.statusTracker()
    before = set(tracker.getJobIdsForGroup())
    rows = [r for c in checks
            for r in partition_rows(c, per_part, functools.partial(c.value_from_stats, ds))]
    assert set(tracker.getJobIdsForGroup()) == before
    assert len(rows) == len(per_part) * len(checks)
    assert {r[3] for r in rows if r[1] == "Mixed Data Types"} == {"PASS", "WARN"}


def _flagged_string_values_scan(df, string_cols):
    """flagged_string_values as it was when it melted the input itself:
    (__pid, column, value, count, check) of every MixedNulls /
    SpecialCharacters value per partition."""
    from deepchecks_spark.functions.columns import melt
    from deepchecks_spark.functions.strings import is_null_string_expr, is_special_only_expr

    melted = melt(df.withColumn("__pid", F.spark_partition_id()), string_cols,
                  keep=("__pid",)).filter(F.col("value").isNotNull())
    is_null_repr = is_null_string_expr(F.col("value"))
    is_special = is_special_only_expr(F.col("value"))
    return (
        melted.filter(is_null_repr | is_special)
        .groupBy("__pid", "column", "value")
        .count()
        .withColumn(
            "check",
            F.when(is_null_string_expr(F.col("value")), F.lit("MixedNulls")).otherwise(
                F.lit("SpecialCharacters")
            ),
        )
    )


def _violation_rows_before_held_stats(df, string_cols, mismatch_max_distinct=10_000):
    """violation_rows as it was when it counted the rows and gated
    StringMismatch on an HLL estimate itself: the oracle for the version
    that reads both from the held whole-input stats."""
    from pyspark.sql import Window

    from deepchecks_spark.functions.columns import melt, quote_ident
    from deepchecks_spark.functions.strings import baseform_expr

    n_rows = df.count()
    flagged = _flagged_string_values_scan(df, string_cols)
    base_cols = [
        F.col("check"),
        F.col("column"),
        F.col("value").alias("offending_value"),
        F.col("count"),
        (F.col("count") / F.lit(n_rows)).alias("percent"),
        F.col("__pid").alias("partition_id"),
    ]
    out = flagged.select(*base_cols)
    approx = df.agg(
        *[F.approx_count_distinct(quote_ident(c)).alias(c) for c in string_cols]
    ).first()
    low_card = [c for c in string_cols if (approx[c] or 0) <= mismatch_max_distinct]
    if low_card:
        counted = (
            melt(df.withColumn("__pid", F.spark_partition_id()), low_card,
                 keep=("__pid",))
            .filter(F.col("value").isNotNull())
            .groupBy("__pid", "column", "value")
            .count()
        )
        w = Window.partitionBy("column", "base")
        mismatched = (
            counted.withColumn("base", baseform_expr(F.col("value"), allow_empty_result=False))
            .withColumn("n_variants", F.size(F.collect_set("value").over(w)))
            .filter(F.col("n_variants") > 1)
            .withColumn("check", F.lit("StringMismatch"))
            .select(*base_cols)
        )
        out = out.unionByName(mismatched)
    return out


def test_violation_rows_from_held_stats_match_own_counts(spark, corpus_parquet):
    from deepchecks_spark.stats import compute_column_stats

    df = spark.read.parquet(corpus_parquet)
    cols = [f.name for f in df.schema.fields if f.dataType.simpleString() == "string"]
    stats = compute_column_stats(df, cols)
    counts = partition_value_counts(df, low_cardinality(cols, stats), cols)
    got = violation_rows(counts, cols, stats).collect()
    want = _violation_rows_before_held_stats(df, cols).collect()
    assert {r["check"] for r in got} >= {"MixedNulls", "StringMismatch"}
    assert sorted(map(tuple, got)) == sorted(map(tuple, want))


def _value_counts_fixture(spark):
    """3 partitions: an integer categorical column with nulls, a double
    categorical column holding NaN (its string form reads as a null
    representation, but it is no string column), a low-cardinality
    string column with null representations, special-only values and
    case/space variants, and a high-cardinality string column whose
    offenders are a few of its values."""
    rows = []
    for i in range(600):
        s = ["N/A", "null", "!!", "", "a", "A", "a ", "b%d" % (i % 3)][i % 8]
        t = ["none", "??", "NULL"][i % 3] if i % 10 == 0 else "t%d" % i
        rows.append((i % 7 if i % 11 else None, float("nan") if i % 13 == 0 else float(i % 3),
                     s, t))
    return spark.createDataFrame(spark.sparkContext.parallelize(rows, 3),
                                 "k int, d double, s string, t string")


def _partition_value_scan(df, cols, counted=True):
    """The melted (__pid, column, value[, count]) scan each reader ran
    before the shared table: grouped counts (StringMismatch, drift), or
    one row per value (the new-category test side, count 1 each)."""
    from deepchecks_spark.functions.columns import melt

    melted = (melt(df.withColumn("__pid", F.spark_partition_id()), cols,
                   cast="string", keep=("__pid",))
              .filter(F.col("value").isNotNull()))
    if counted:
        return melted.groupBy("__pid", "column", "value").count()
    return melted.withColumn("count", F.lit(1).cast("long"))


def test_shared_value_counts_match_per_reader_scans(spark):
    # every reader of the one value-count table gets what its own melted
    # scan gave: the flagged view, StringMismatch, drift and new categories
    from deepchecks_spark.runner import (
        drift_partition_rows,
        flagged_string_values,
        new_category_partition_values,
    )
    from deepchecks_spark.stats import compute_column_stats

    df = _value_counts_fixture(spark)
    string_cols, cat_cols = ["s", "t"], ["k", "d", "s"]
    stats = compute_column_stats(df)
    per_part = compute_column_stats_by_partition(df)
    low_card = low_cardinality(string_cols, stats, 20)
    assert low_card == ["s"]
    counts = partition_value_counts(df, low_card + cat_cols, string_cols)

    def rows(frame):
        return sorted((tuple(r) for r in frame.collect()), key=repr)

    flagged = rows(flagged_string_values(counts))
    assert flagged == rows(_flagged_string_values_scan(df, string_cols))
    assert {(r[1], r[4]) for r in flagged} == {
        ("s", "MixedNulls"), ("s", "SpecialCharacters"), ("t", "MixedNulls"),
        ("t", "SpecialCharacters")}

    got = rows(violation_rows(counts, string_cols, stats, mismatch_max_distinct=20))
    assert got == rows(_violation_rows_before_held_stats(df, string_cols, 20))
    assert {r[1] for r in got if r[0] == "StringMismatch"} == {"s"}

    hists = _partition_value_scan(df, cat_cols)
    assert rows(counts.filter(F.col("column").isin(*cat_cols))
                .select("__pid", "column", "value", "count")) == rows(hists)
    drift = drift_partition_rows(counts, cat_cols, per_part)
    assert drift == drift_partition_rows(hists, cat_cols, per_part)
    assert {r[2].split(" ")[2] for r in drift} == set(cat_cols)

    ref = spark.createDataFrame([(1, 1.0, "a"), (2, 2.0, "A")], "k int, d double, s string")
    new_cat = partition_rows(_new_category(), new_category_partition_values(
        counts, ref, cat_cols, per_part))
    assert new_cat == partition_rows(_new_category(), new_category_partition_values(
        _partition_value_scan(df, cat_cols, counted=False), ref, cat_cols, per_part))
    assert len(new_cat) == 3 and {r[3] for r in new_cat} == {"FAIL"}


def test_run_job_fetches_no_mixed_type_examples(spark, tmp_path, corpus_parquet):
    # the global verdicts read MixedDataTypes' ratios from the merged
    # stats; its example scans (checks/integrity.py) never run
    src = _with_mixed_column(spark, corpus_parquet, str(tmp_path / "mixed"))
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    before = _job_ids(sc)
    out = str(tmp_path / "out")
    run_job(spark, src, out, cat_features=["lang"], resume=False)
    names = [store.job(j).name() for j in _job_ids(sc) - before]
    assert names
    assert not [n for n in names if "checks/integrity.py" in n], names
    verdicts = spark.read.parquet(os.path.join(out, "verdicts")).collect()
    assert [r["category"] for r in verdicts if r["check"] == "Mixed Data Types"] == ["WARN"]


def test_resume_skips_completed_stages(spark, tmp_path, corpus_parquet):
    out = str(tmp_path / "out3")
    m1 = run_job(spark, corpus_parquet, out, cat_features=["lang"])
    t1 = m1["stage_seconds"]
    m2 = run_job(spark, corpus_parquet, out, cat_features=["lang"])
    # second run resumes: stages already done, no new timings recorded
    assert m2["stage_seconds"] == t1
    assert m2["fingerprint"] == m1["fingerprint"]


def test_resume_invalidated_by_input_change(spark, tmp_path):
    from deepchecks_spark.corpus import generate_corpus_spark

    path = str(tmp_path / "data")
    generate_corpus_spark(spark, 100, seed=1, partitions=2).write.mode("overwrite").parquet(path)
    out = str(tmp_path / "out4")
    m1 = run_job(spark, path, out, cat_features=["lang"])
    generate_corpus_spark(spark, 120, seed=2, partitions=2).write.mode("overwrite").parquet(path)
    m2 = run_job(spark, path, out, cat_features=["lang"])
    assert m2["fingerprint"] != m1["fingerprint"]  # stale checkpoint invalidated


def test_package_zip(tmp_path):
    from deepchecks_spark.package import build_zip
    import zipfile

    out = build_zip(str(tmp_path))
    assert os.path.exists(out)
    with zipfile.ZipFile(out) as zf:
        names = zf.namelist()
    assert "deepchecks_spark/runner.py" in names
    assert "deepchecks_spark/__init__.py" in names


@pytest.mark.skipif(
    not (os.environ.get("SPARK_HOME")
         and os.path.exists(os.path.join(os.environ["SPARK_HOME"],
                                         "bin", "spark-submit"))),
    reason="spark-submit not on this image")
def test_spark_submit_py_files_end_to_end(tmp_path, corpus_parquet):
    """The north-rule packaging shape, driven for real: a freshly built
    dist zip is the ONLY source of the engine (the job runs from an
    empty cwd with no repo on any path; the main file is the runner.py
    extracted FROM the zip), and the full suite job writes all four
    output tables. Catches anything the zip build misses (a new module
    not matching the *.py walk, an import that only resolves from the
    repo checkout) that import-based tests cannot see."""
    import subprocess
    import sys
    import zipfile

    from deepchecks_spark.package import build_zip

    zip_path = build_zip(str(tmp_path / "dist"))
    workdir = tmp_path / "isolated"
    workdir.mkdir()
    with zipfile.ZipFile(zip_path) as zf:
        zf.extract("deepchecks_spark/runner.py", str(workdir / "job"))
    env = {k: v for k, v in os.environ.items() if k != "PYTHONPATH"}
    env["PYSPARK_PYTHON"] = sys.executable
    out_dir = str(workdir / "out")
    proc = subprocess.run(
        [os.path.join(os.environ["SPARK_HOME"], "bin", "spark-submit"),
         "--master", "local[4]",
         "--py-files", zip_path,
         str(workdir / "job" / "deepchecks_spark" / "runner.py"),
         "--input", corpus_parquet, "--output", out_dir,
         "--cat-features", "lang", "--no-resume"],
        cwd=str(workdir), env=env, capture_output=True, text=True,
        timeout=600)
    assert proc.returncode == 0, proc.stderr[-3000:]
    manifest = json.loads(proc.stdout.strip().splitlines()[-1])
    assert set(manifest["stages"]) == {"global_verdicts", "partition_verdicts",
                                       "violations", "metrics"}
    assert manifest["params"]["cat_features"] == ["lang"]
    for table in ("verdicts", "partition_verdicts", "violations", "metrics"):
        assert os.path.exists(os.path.join(out_dir, table)), table


def test_mixed_nulls_partition_parity(spark, tmp_path, corpus_parquet):
    """Per-partition MixedNulls verdicts equal running the check on each
    partition's slice through the normal path."""
    out = str(tmp_path / "out_mn")
    run_job(spark, corpus_parquet, out, cat_features=["lang"])
    pv = spark.read.parquet(os.path.join(out, "partition_verdicts"))
    got = {
        r["partition_id"]: r["category"]
        for r in pv.filter(F.col("check") == "Mixed Nulls").collect()
    }
    assert got  # rows exist
    from deepchecks_spark import Dataset
    from deepchecks_spark.checks.integrity import MixedNulls

    df = spark.read.parquet(corpus_parquet).withColumn("__pid", F.spark_partition_id())
    for pid in sorted(got):
        part = df.filter(F.col("__pid") == pid).drop("__pid")
        ds = Dataset(part, cat_features=["lang"], infer_categorical=False)
        res = MixedNulls().add_condition_different_nulls_less_equal_to(1).run(ds)
        assert got[pid] == res.conditions_results[0].category.value, f"pid {pid}"


def test_duplicates_partition_rows_exact_parity(spark):
    from deepchecks_spark.runner import duplicates_partition_values

    # 2 real partitions via parallelize slices: first half gets planted
    # duplicates, second half is all-distinct (LocalRelation unions get
    # constant-folded to one partition, so parallelize is load-bearing)
    data = [(i % 10,) for i in range(100)] + [(1000 + i,) for i in range(100)]
    rdd = spark.sparkContext.parallelize(data, 2)
    df = spark.createDataFrame(rdd, "k long")
    rows = partition_rows(duplicates_check(["k"]), duplicates_partition_values(df, ["k"]))
    assert len(rows) == 2
    by_cat = {r[0]: (r[3], r[4]) for r in rows}
    cats = sorted(v[0] for v in by_cat.values())
    assert cats == ["FAIL", "PASS"]  # the duplicate-heavy partition fails
    failing = [v for v in by_cat.values() if v[0] == "FAIL"][0]
    assert "90%" in failing[1]  # 100 rows, 10 distinct → 90% duplicates


def test_drift_partition_rows_flags_anomalous_shard(spark):
    from deepchecks_spark.drift.kernels import psi_from_counts
    from deepchecks_spark.runner import drift_partition_rows

    # 3 partitions: two with balanced a/b, one degenerate (all 'b')
    healthy = [("a" if i % 2 == 0 else "b",) for i in range(200)]
    data = healthy[:100] + healthy[100:] + [("b",)] * 100
    rdd = spark.sparkContext.parallelize(data, 3)
    df = spark.createDataFrame(rdd, "lang string")
    rows = drift_partition_rows(partition_value_counts(df, ["lang"], []), ["lang"],
                                compute_column_stats_by_partition(df, ["lang"]), max_psi=0.2)
    assert len(rows) == 3
    cats = [r[3] for r in sorted(rows)]
    assert cats.count("FAIL") == 1 and cats.count("PASS") == 2
    # PSI values match the kernel on batch-computed per-partition hists
    from pyspark.sql import functions as F

    batch = {
        (r["pid"], r["lang"]): r["count"]
        for r in df.withColumn("pid", F.spark_partition_id())
        .groupBy("pid", "lang").count().collect()
    }
    global_hist = {}
    for (pid, v), n in batch.items():
        global_hist[v] = global_hist.get(v, 0) + n
    pid_fail = [r[0] for r in rows if r[3] == "FAIL"][0]
    hist_fail = {v: n for (p, v), n in batch.items() if p == pid_fail}
    want = psi_from_counts(global_hist, hist_fail, min_category_size_ratio=0.01)
    fail_row = [r for r in rows if r[3] == "FAIL"][0]
    assert f"{want:.2f}"[:4] in fail_row[4] or "PSI" in fail_row[4]
    assert want >= 0.2


def test_drift_partition_rows_external_reference(spark):
    from deepchecks_spark.runner import drift_partition_rows

    rdd = spark.sparkContext.parallelize([("a",)] * 50 + [("b",)] * 50, 2)
    df = spark.createDataFrame(rdd, "lang string")
    # vs a reference where 'a' dominates: the all-'a' partition matches
    # it (PASS), the all-'b' partition drifts hard (FAIL)
    rows = drift_partition_rows(partition_value_counts(df, ["lang"], []), ["lang"],
                                compute_column_stats_by_partition(df, ["lang"]),
                                reference_hists={"lang": {"a": 99, "b": 1}}, max_psi=0.2)
    assert [r[3] for r in sorted(rows)] == ["PASS", "FAIL"]


def test_duplicates_partition_zero_tolerance_is_exact(spark):
    # ADVICE r2 (medium): with max_ratio=0 the distinct count must be
    # EXACT — HLL ±5% on a duplicate-free partition would fabricate a
    # FAIL. 20k distinct rows across partitions: every verdict PASS.
    from deepchecks_spark.runner import duplicates_partition_values

    df = spark.range(0, 20000).selectExpr("id", "cast(id as string) as s").repartition(8)
    rows = partition_rows(duplicates_check(["id", "s"]),
                          duplicates_partition_values(df, ["id", "s"]))
    assert rows and all(r[3] == "PASS" for r in rows)
    assert all("0%" in r[4] for r in rows)


def test_conflicting_labels_partition_rows_parity(spark):
    from deepchecks_spark import Dataset
    from deepchecks_spark.checks.integrity import ConflictingLabels
    from deepchecks_spark.runner import conflicting_labels_partition_values

    # partition 0: feature-key 1 carries two labels; partition 1 clean
    data = ([(1, "a")] * 30 + [(1, "b")] * 10 + [(2, "a")] * 10) + [(i + 10, "a") for i in range(50)]
    rdd = spark.sparkContext.parallelize(data, 2)
    df = spark.createDataFrame(rdd, "f long, label string")
    check = ConflictingLabels().add_condition_ratio_of_conflicting_labels_less_or_equal(0)
    rows = partition_rows(check, conflicting_labels_partition_values(df, ["f"], "label"))
    assert [r[3] for r in sorted(rows)] == ["FAIL", "PASS"]
    # per-partition value equals running the check on each slice
    from pyspark.sql import functions as F

    for pid, _, _, category, details in rows:
        part = (df.withColumn("__pid", F.spark_partition_id())
                .filter(F.col("__pid") == pid).drop("__pid"))
        ds = Dataset(part, label="label", infer_categorical=False)
        res = ConflictingLabels().run(ds)
        want = res.value["percent"]
        got_category = "PASS" if want <= 0.0 else "FAIL"
        assert category == got_category


def test_drift_partition_rows_absolute_collect_cap(spark, monkeypatch):
    # ADVICE r2: the collect guard must hold regardless of partition
    # count — force the absolute cap below the histogram size.
    import deepchecks_spark.runner as runner_mod

    monkeypatch.setattr(runner_mod, "ABS_DRIFT_COLLECT_CAP", 10)
    df = spark.range(0, 5000).selectExpr("cast(id % 97 as string) as c").repartition(4)
    rows = runner_mod.drift_partition_rows(partition_value_counts(df, ["c"], []), ["c"],
                                           compute_column_stats_by_partition(df, ["c"]))
    assert len(rows) == 1 and rows[0][3] == "ERROR"
    assert "cardinality gate" in rows[0][2]


def test_new_category_partition_rows_sliced_parity(spark):
    from deepchecks_spark.runner import new_category_partition_values

    # test side: 2 partitions — partition 0 only train-known categories,
    # partition 1 has 20% novel categories in column 'cat'
    train = spark.createDataFrame([("a",), ("b",), ("c",)] * 30, "cat string")
    part0 = [("a",)] * 50 + [("b",)] * 50
    part1 = [("a",)] * 80 + [("zz%d" % i,) for i in range(20)]
    rdd = spark.sparkContext.parallelize(part0 + part1, 2)
    test = spark.createDataFrame(rdd, "cat string")
    rows = partition_rows(_new_category(0.1), new_category_partition_values(
        partition_value_counts(test, ["cat"], []), train, ["cat"],
        compute_column_stats_by_partition(test, ["cat"])))
    assert len(rows) == 2
    by_pid = {r[0]: r for r in rows}
    # sliced oracle: recompute each partition's ratio from its slice
    from pyspark.sql import functions as F

    slices = {
        r["__pid"]: (r["n_new"], r["n"])
        for r in test.withColumn("__pid", F.spark_partition_id())
        .withColumn("new", (~F.col("cat").isin("a", "b", "c")).cast("long"))
        .groupBy("__pid").agg(F.sum("new").alias("n_new"), F.count(F.lit(1)).alias("n"))
        .collect()
    }
    for pid, (n_new, n) in slices.items():
        expect = "FAIL" if n_new / n > 0.1 else "PASS"
        assert by_pid[pid][3] == expect, (pid, by_pid[pid])
    assert sorted(r[3] for r in rows) == ["FAIL", "PASS"]
    failing = next(r for r in rows if r[3] == "FAIL")
    assert "20%" in failing[4]


def test_new_category_partition_rows_respects_cardinality_gate(spark):
    from deepchecks_spark.runner import new_category_partition_values

    train = spark.range(0, 50_000).selectExpr("cast(id as string) AS cat")
    test = spark.range(0, 100).selectExpr("cast(id + 1000000 as string) AS cat")
    # train cardinality above the gate → column skipped, no rows emitted
    rows = partition_rows(_new_category(), new_category_partition_values(
        partition_value_counts(test, ["cat"], []), train, ["cat"],
        compute_column_stats_by_partition(test, ["cat"]), max_categories=1000))
    assert rows == []


def test_samples_mix_partition_rows_sliced_parity(spark):
    from deepchecks_spark.checks.traintest import TrainTestSamplesMix
    from deepchecks_spark.runner import samples_mix_partition_values

    train = spark.createDataFrame([(i, "u%d" % i) for i in range(100)],
                                  "k long, s string")
    # partition 0: 60% rows copied from train; partition 1: all novel
    part0 = [(i, "u%d" % i) for i in range(60)] + [(10_000 + i, "x%d" % i) for i in range(40)]
    part1 = [(20_000 + i, "y%d" % i) for i in range(100)]
    rdd = spark.sparkContext.parallelize(part0 + part1, 2)
    test = spark.createDataFrame(rdd, "k long, s string")
    rows = partition_rows(
        TrainTestSamplesMix().add_condition_duplicates_ratio_less_or_equal(0.05),
        samples_mix_partition_values(test, train, ["k", "s"]))
    assert len(rows) == 2
    cats = {r[0]: r[3] for r in rows}
    assert sorted(cats.values()) == ["FAIL", "PASS"]
    failing = next(r for r in rows if r[3] == "FAIL")
    assert "60%" in failing[4]
    passing = next(r for r in rows if r[3] == "PASS")
    assert passing[4] == "No samples mix found"


def test_run_job_with_reference_emits_join_partition_verdicts(spark, tmp_path):
    import os

    from deepchecks_spark.runner import run_job

    cur = str(tmp_path / "cur")
    ref = str(tmp_path / "ref")
    out = str(tmp_path / "out")
    spark.createDataFrame(
        [(i, "en" if i % 2 else "fr", "t%d" % i) for i in range(200)],
        "id long, lang string, text string").write.parquet(ref)
    # current snapshot drifts: a new language appears
    spark.createDataFrame(
        [(i, "de" if i % 4 == 0 else ("en" if i % 2 else "fr"), "t%d" % (i + 500))
         for i in range(200)],
        "id long, lang string, text string").write.parquet(cur)
    run_job(spark, cur, out, cat_features=["lang"], reference_input=ref)
    pv = spark.read.parquet(os.path.join(out, "partition_verdicts"))
    checks = {r["check"] for r in pv.collect()}
    assert "New Category Train Test" in checks
    assert "Train Test Samples Mix" in checks
    new_cat = pv.filter(pv.check == "New Category Train Test").collect()
    assert any(r["category"] == "FAIL" for r in new_cat)  # 'de' is new


def test_runner_suite_config_roundtrip_identical_verdicts(spark, tmp_path):
    # VERDICT r3 next-10: the runner's integrity suite survives
    # config() → from_config() with an IDENTICAL verdict table on the
    # same data — locking the config surface against drift end-to-end.
    from deepchecks_spark.checks.integrity import (
        IsSingleValue,
        MixedDataTypes,
        PercentOfNulls,
        SpecialCharacters,
    )
    from deepchecks_spark.core.result import CheckFailure
    from deepchecks_spark.core.suite import Suite
    from deepchecks_spark.dataset import Dataset

    df = spark.createDataFrame(
        [(i, None if i % 7 == 0 else "v%d" % (i % 4), "!!!" if i % 9 == 0 else "ok",
          float(i % 3)) for i in range(300)],
        "id long, a string, b string, x double")
    ds = Dataset(df, infer_categorical=False)
    suite = Suite(
        "runner integrity",
        IsSingleValue().add_condition_not_single_value(),
        PercentOfNulls().add_condition_percent_of_nulls_not_greater_than(0.05),
        SpecialCharacters().add_condition_ratio_of_special_characters_less_or_equal(0.001),
        MixedDataTypes().add_condition_rare_type_ratio_not_in_range(),
    )

    def verdict_table(s):
        rows = []
        for r in s.run(ds).results:
            if isinstance(r, CheckFailure):
                rows.append((r.header, "<failure>", "ERROR", repr(r.exception)))
                continue
            for c in r.conditions_results:
                rows.append((r.header, c.name, c.category.value, c.details))
        return sorted(rows)

    original = verdict_table(suite)
    restored_suite = Suite.from_config(suite.config())
    restored = verdict_table(restored_suite)
    assert restored == original
    assert len(original) >= 4
    # the round-trip also survives a second serialization cycle
    assert verdict_table(Suite.from_config(restored_suite.config())) == original


def test_production_suite_config_roundtrip_with_performance_checks(spark):
    # the round-4 predictions-column checks must survive config round-trip
    from deepchecks_spark.checks.performance import (
        ConfusionMatrixReport,
        SingleDatasetPerformance,
        WeakSegmentsPerformance,
    )
    from deepchecks_spark.core.suite import Suite
    from deepchecks_spark.dataset import Dataset

    df = spark.createDataFrame(
        [(i, "g%d" % (i % 3), i % 2, (1 - i % 2) if i % 10 == 0 else i % 2)
         for i in range(200)],
        "id long, grp string, lbl int, pred int")
    ds = Dataset(df, label="lbl", cat_features=["grp"], infer_categorical=False)
    suite = Suite(
        "perf",
        SingleDatasetPerformance("pred").add_condition_greater_than(0.7),
        ConfusionMatrixReport("pred").add_condition_misclassified_samples_lower_than(0.2),
        WeakSegmentsPerformance("pred", columns=["grp"])
        .add_condition_segments_relative_performance_greater_than(0.5),
    )
    restored = Suite.from_config(suite.config())

    def summary(s):
        out = []
        for r in s.run(ds).results:
            for c in r.conditions_results:
                out.append((r.header, c.name, c.category.value))
        return sorted(out)

    assert summary(restored) == summary(suite)


def test_production_suite_regression_uses_regression_scorers(spark):
    # regression (r4 ADVICE): task_type='regression' used to compose the
    # comparative TrainTestPerformance with per-class classification
    # defaults — on continuous labels that check always errored out
    from deepchecks_spark.suites import production_suite
    from deepchecks_spark.checks.performance import TrainTestPerformance
    from deepchecks_spark.dataset import Dataset

    suite = production_suite(is_comparative=True, prediction_column="pred",
                             task_type="regression")
    ttp = [c for c in suite.checks if isinstance(c, TrainTestPerformance)]
    assert len(ttp) == 1 and ttp[0].scorers == ["rmse", "mae"]

    # continuous labels + predictions must produce a real result row, not
    # a CheckFailure, end-to-end through the suite
    train = spark.createDataFrame(
        [(i, float(i) + 0.25, float(i) + 0.5) for i in range(300)],
        "id long, y double, pred double")
    test = spark.createDataFrame(
        [(i, float(i) + 0.25, float(i) + 0.75) for i in range(300)],
        "id long, y double, pred double")
    ds_tr = Dataset(train, label="y", infer_categorical=False)
    ds_te = Dataset(test, label="y", infer_categorical=False)
    res = suite.run(ds_tr, ds_te)
    ttp_results = [r for r in res.results
                   if getattr(r, "header", "").startswith("Train Test Performance")]
    assert ttp_results, [getattr(r, "header", r) for r in res.results]
    failures = [r for r in res.results if r.__class__.__name__ == "CheckFailure"
                and "Performance" in getattr(r, "header", "")]
    assert not failures, [f.header for f in failures]


@pytest.fixture(scope="module")
def modeled_corpus_parquet(tmp_path_factory, spark):
    """Corpus + deterministic label/prediction/probability columns: the
    model-eval runner surface needs prediction COLUMNS, not a model."""
    from pyspark.sql import functions as F

    from deepchecks_spark.corpus import generate_corpus_spark

    path = str(tmp_path_factory.mktemp("runner_model") / "webpages")
    df = generate_corpus_spark(spark, 400, seed=7, partitions=4)
    lbl = (F.length("text") % 2).cast("int")
    # ~1/8 of rows mispredicted, deterministically; probabilities are
    # exact sixteenths consistent with the prediction
    pred = F.when(F.length("text") % 8 == 0, 1 - lbl).otherwise(lbl)
    p1 = F.when(pred == 1, F.lit(13 / 16)).otherwise(F.lit(3 / 16))
    df = (df.withColumn("lbl", lbl).withColumn("pred", pred)
          .withColumn("p1", p1).withColumn("p0", 1 - F.col("p1")))
    df.write.mode("overwrite").parquet(path)
    return path


def test_run_job_model_eval_surface(spark, tmp_path, modeled_corpus_parquet):
    # VERDICT r4 next-5/7: the §2.10 members produce verdict rows through
    # run_job, and partition_verdicts carries per-partition accuracy
    out = str(tmp_path / "out_model")
    run_job(spark, modeled_corpus_parquet, out, label="lbl",
            cat_features=["lang"], prediction_column="pred",
            probability_columns={0: "p0", 1: "p1"})

    verdicts = spark.read.parquet(os.path.join(out, "verdicts")).collect()
    checks = {r["check"] for r in verdicts}
    for want in ("Single Dataset Performance", "Weak Segments Performance",
                 "Confusion Matrix Report", "Roc Report", "Calibration Score"):
        assert any(want in c for c in checks), (want, sorted(checks))
    assert not [r for r in verdicts if r["category"] == "ERROR"]

    pv = spark.read.parquet(os.path.join(out, "partition_verdicts")).collect()
    perf_rows = [r for r in pv if r["check"] == "Single Dataset Performance"]
    assert len(perf_rows) >= 2  # one per input partition
    assert {r["category"] for r in perf_rows} == {"PASS"}  # accuracy ≈ 7/8


def test_resume_invalidated_by_param_change(spark, tmp_path):
    """Adding --prediction-column to a completed output dir must re-run
    the done stages: the resume identity includes the parameterization,
    not just the input fingerprint."""
    src = str(tmp_path / "in_params")
    spark.range(0, 400).selectExpr(
        "id", "CAST(id % 2 AS INT) AS lbl",
        "CAST(CASE WHEN id % 10 = 0 THEN 1 - id % 2 ELSE id % 2 END AS INT) AS pred",
    ).repartition(4).write.parquet(src)
    out = str(tmp_path / "out_params")
    run_job(spark, src, out, label="lbl")
    v1 = spark.read.parquet(os.path.join(out, "verdicts")).collect()
    assert not [r for r in v1 if r["check"] == "Single Dataset Performance"]
    run_job(spark, src, out, label="lbl", prediction_column="pred")
    v2 = spark.read.parquet(os.path.join(out, "verdicts")).collect()
    assert [r for r in v2 if r["check"] == "Single Dataset Performance"]
    # and with identical params the stages ARE skipped (manifest reused)
    m3 = run_job(spark, src, out, label="lbl", prediction_column="pred")
    assert all(v == "done" for v in m3["stages"].values())


def test_performance_partition_rows_sliced_oracle_parity(spark):
    # per-partition verdicts == running the batch check on each
    # partition's own slice (the sliced-oracle parity convention)
    from pyspark.sql import functions as F

    from deepchecks_spark.checks.performance import SingleDatasetPerformance
    from deepchecks_spark.dataset import Dataset
    from deepchecks_spark.runner import performance_partition_counts, performance_value_step

    data = [(i, i % 2, (1 - i % 2) if i % (3 + p) == 0 else i % 2, p)
            for p in range(3) for i in range(120)]
    df = spark.sparkContext.parallelize(
        [tuple(r) for r in data], 3).toDF("id long, lbl int, pred int, part int")
    df.persist(); df.count()
    batch = (SingleDatasetPerformance("pred", scorers=["accuracy"])
             .add_condition_greater_than(0.8))
    counts = performance_partition_counts(df, "lbl", "pred")
    got = partition_rows(batch, counts, performance_value_step(counts))
    pids = [r[0] for r in got]
    with_pid = df.withColumn("__pid", F.spark_partition_id())
    for pid, _, cond_name, category, details in got:
        part = with_pid.filter(F.col("__pid") == pid).drop("__pid")
        check = SingleDatasetPerformance("pred", scorers=["accuracy"])
        check.add_condition_greater_than(0.8)
        res = check.run(Dataset(part, label="lbl", infer_categorical=False))
        cr = res.conditions_results[0]
        assert cr.name == cond_name
        assert cr.category.value == category
        assert cr.details == details
    assert len(set(pids)) == 3
    df.unpersist()


def test_performance_partition_rows_regression_and_unscored(spark, tmp_path):
    """Regression verdicts flag a partition whose MAE exceeds 2x global;
    a partition with zero scored rows gets an ERROR row instead of
    silently vanishing from the table."""
    from deepchecks_spark.runner import (
        performance_check,
        performance_partition_counts,
        performance_value_step,
    )

    def performance_partition_rows(df, label_col, prediction_column, task=None):
        # run_job's performance section on its own
        counts = performance_partition_counts(df, label_col, prediction_column, task)
        return partition_rows(performance_check(prediction_column, task), counts,
                              performance_value_step(counts, task))

    src = str(tmp_path / "ppr_in")
    a = spark.createDataFrame([(0.0, 0.1)] * 150, "y double, pred double").coalesce(1)
    b = spark.createDataFrame([(0.0, 10.0)] * 10, "y double, pred double").coalesce(1)
    c = spark.createDataFrame([(0.0, None)] * 20, "y double, pred double").coalesce(1)
    # three parquet files → three physical scan partitions (a union of
    # local relations would be collapsed into one by Catalyst)
    a.write.parquet(src)
    b.write.mode("append").parquet(src)
    c.write.mode("append").parquet(src)
    df = spark.read.parquet(src)
    rows = performance_partition_rows(df, "y", "pred", task="regression")
    assert len(rows) == 3
    cats = sorted(r[3] for r in rows)
    assert cats == ["ERROR", "FAIL", "PASS"]  # MAE 0.1 / MAE 10 vs
    # global ~0.72 / no scored rows — file→partition order is not pinned
    err = next(r for r in rows if r[3] == "ERROR")
    assert "null label or prediction" in err[4]
    # classification path: the unscored partition also gets the ERROR row
    cls = performance_partition_rows(
        df.selectExpr("CAST(y AS INT) y", "CAST(pred AS INT) pred"),
        "y", "pred")
    assert len(cls) == 3
    assert [r for r in cls if r[3] == "ERROR"]


def test_run_job_regression_task_type(spark, tmp_path):
    """task_type='regression' composes the regression scorer family: the
    verdicts table carries the performance rows with zero ERROR rows,
    and partition verdicts use the MAE-vs-global condition."""
    src = str(tmp_path / "in_regr")
    spark.range(0, 400).selectExpr(
        "id", "CAST(id % 7 AS DOUBLE) AS lbl",
        "CAST(id % 7 AS DOUBLE) + (id % 5 - 2) * 0.1 AS pred",
    ).repartition(4).write.parquet(src)
    out = str(tmp_path / "out_regr")
    run_job(spark, src, out, label="lbl", prediction_column="pred",
            task_type="regression")
    v = spark.read.parquet(os.path.join(out, "verdicts")).collect()
    assert [r for r in v if r["check"] == "Single Dataset Performance"]
    assert not [r for r in v if r["category"] == "ERROR"], \
        [r for r in v if r["category"] == "ERROR"]
    pv = spark.read.parquet(os.path.join(out, "partition_verdicts")).collect()
    perf = [r for r in pv if r["check"] == "Single Dataset Performance"]
    assert perf and all("MAE" in r["condition"] for r in perf)


def test_run_job_domain_profile_stage(spark, tmp_path, corpus_parquet):
    """--domain-profile-col adds a domain_profile output table: one row
    per distinct host with the within-domain duplicate-text rate."""
    out = str(tmp_path / "out_dp")
    manifest = run_job(spark, corpus_parquet, out, cat_features=["lang"],
                       domain_profile_col="url")
    assert manifest["stages"].get("domain_profile") == "done"
    dp = spark.read.parquet(os.path.join(out, "domain_profile"))
    rows = dp.collect()
    assert len(rows) >= 1
    assert set(dp.columns) == {"domain", "n_docs", "n_unique_texts",
                               "dup_ratio", "n_tokens", "avg_chars"}
    src = spark.read.parquet(corpus_parquet)
    assert sum(r["n_docs"] for r in rows) == src.count()
    for r in rows:
        assert 0.0 <= r["dup_ratio"] <= 1.0
        assert r["n_unique_texts"] <= r["n_docs"]
    # the stage is part of the resume identity: same params resume skips
    # it, a run WITHOUT the flag must not inherit the done marker
    manifest2 = run_job(spark, corpus_parquet, out, cat_features=["lang"])
    assert "domain_profile" not in manifest2["stages"]


def test_run_job_script_profile_stage(spark, tmp_path, corpus_parquet):
    """--script-profile-col adds a script_profile output table: one row
    per dominant script with doc/mixed counts and per-script char
    totals; sums over the table must cover the whole input."""
    out = str(tmp_path / "out_sp")
    manifest = run_job(spark, corpus_parquet, out, cat_features=["lang"],
                       script_profile_col="text")
    assert manifest["stages"].get("script_profile") == "done"
    sp = spark.read.parquet(os.path.join(out, "script_profile"))
    rows = sp.collect()
    assert {"main_script", "n_docs", "n_mixed", "latin_chars",
            "cyrillic_chars"} <= set(sp.columns)
    src = spark.read.parquet(corpus_parquet)
    assert sum(r["n_docs"] for r in rows) == src.count()
    for r in rows:
        assert 0 <= r["n_mixed"] <= r["n_docs"]
    manifest2 = run_job(spark, corpus_parquet, out, cat_features=["lang"])
    assert "script_profile" not in manifest2["stages"]


def _sections_fixture(spark):
    """3 partitions of (url, lang, s, lbl, pred) and a reference table:
    partition 0 repeats urls, mixes two null representations into
    ``s``, has rows that differ only in their label and rows copied into
    the reference; partition 1 has a ``lang`` the reference lacks, real
    nulls in ``s`` and mostly wrong predictions; partition 2 is clean."""
    rows = []
    for i in range(120):
        p0 = (f"u{i % 30}", ["en", "fr"][i % 2], ["N/A", "null", "x"][i % 3] if i % 5 else "y",
              i % 2 if i % 4 else 1 - i % 2, i % 2)
        p1 = (f"v{i}", ["en", "de"][i % 2], None if i % 7 == 0 else "z", i % 2,
              i % 2 if i % 3 == 0 else 1 - i % 2)
        p2 = (f"w{i}", "en", "w", 1, 1)
        rows.append((0, p0))
        rows.append((1, p1))
        rows.append((2, p2))
    ordered = [r for k in range(3) for p, r in rows if p == k]
    ddl = "url string, lang string, s string, lbl int, pred int"
    df = spark.createDataFrame(spark.sparkContext.parallelize(ordered, 3), ddl)
    ref = spark.createDataFrame(
        [r for p, r in rows if p == 0][:24] + [(f"r{i}", "en", "q", 0, 0) for i in range(10)]
        + [("r-fr", "fr", "q", 1, 1)], ddl)
    return df, ref


def test_partition_sections_sliced_oracle_parity(spark):
    """Every check-backed per-partition section gives, on each input
    partition, the (condition, category, details) rows of running the
    same configured check on that partition's slice alone."""
    from deepchecks_spark import Dataset
    from deepchecks_spark.checks.integrity import ConflictingLabels, MixedNulls
    from deepchecks_spark.checks.traintest import TrainTestSamplesMix
    from deepchecks_spark.runner import (
        conflicting_labels_partition_values,
        duplicates_partition_values,
        mixed_nulls_partition_values,
        new_category_partition_values,
        performance_check,
        performance_partition_counts,
        performance_value_step,
        samples_mix_partition_values,
    )

    df, ref = _sections_fixture(spark)
    df.persist()
    string_cols = ["url", "lang", "s"]
    per_part = compute_column_stats_by_partition(df, df.columns)
    counts = partition_value_counts(df, ["lang"], string_cols)

    def ds(frame):
        return Dataset(frame, label="lbl", cat_features=["lang"], infer_categorical=False)

    features = [c for c in ds(df).features if c != "lbl"]
    mixed_nulls = MixedNulls().add_condition_different_nulls_less_equal_to(1)
    duplicates = duplicates_check(df.columns)
    conflicting = ConflictingLabels().add_condition_ratio_of_conflicting_labels_less_or_equal(0)
    new_category = _new_category()
    samples_mix = TrainTestSamplesMix().add_condition_duplicates_ratio_less_or_equal(0.05)
    performance = performance_check("pred")
    perf_counts = performance_partition_counts(df, "lbl", "pred")
    sections = [
        (mixed_nulls, partition_rows(mixed_nulls, mixed_nulls_partition_values(
            per_part, counts)), lambda part: mixed_nulls.run(ds(part))),
        (duplicates, partition_rows(duplicates, duplicates_partition_values(
            df, duplicates.columns)),
         lambda part: duplicates.run(ds(part))),
        (conflicting, partition_rows(conflicting, conflicting_labels_partition_values(
            df, features, "lbl")), lambda part: conflicting.run(ds(part))),
        (new_category, partition_rows(new_category, new_category_partition_values(
            counts, ref, ["lang"], per_part)),
         lambda part: new_category.run(ds(ref), ds(part))),
        (samples_mix, partition_rows(samples_mix, samples_mix_partition_values(
            df, ref, df.columns)), lambda part: samples_mix.run(ds(ref), ds(part))),
        (performance, partition_rows(performance, perf_counts,
                                     performance_value_step(perf_counts)),
         lambda part: performance.run(ds(part))),
    ]
    with_pid = df.withColumn("__pid", F.spark_partition_id())
    for check, rows, run_on in sections:
        assert sorted(r[0] for r in rows) == [0, 1, 2], check.header()
        for pid, header, *verdict in rows:
            part = with_pid.filter(F.col("__pid") == pid).drop("__pid")
            want = [(c.name, c.category.value, c.details)
                    for c in run_on(part).conditions_results]
            assert header == check.header()
            assert [tuple(verdict)] == want, (check.header(), pid)
        # the fixture reaches both verdicts of every section
        assert {r[3] for r in rows} == {"PASS", "FAIL"}, check.header()
    df.unpersist()


def test_mixed_nulls_collect_caches_every_partition(spark):
    # run_job materialises the persisted value-count table with the
    # collect of its MixedNulls rows, not a count(): the filtered collect
    # must still cache every partition of the table
    from deepchecks_spark.runner import mixed_nulls_partition_values

    df, _ = _sections_fixture(spark)
    sc = spark.sparkContext
    conf = "spark.sql.adaptive.coalescePartitions.enabled"
    prev = spark.conf.get(conf)
    spark.conf.set(conf, "false")
    try:
        before = {i.id() for i in sc._jsc.sc().getRDDStorageInfo()}
        counts = partition_value_counts(df, ["lang"], ["url", "lang", "s"]).persist()
        values = mixed_nulls_partition_values(compute_column_stats_by_partition(df), counts)
        cached = [i for i in sc._jsc.sc().getRDDStorageInfo() if i.id() not in before]
        assert set(values[0]["columns"]["s"]) == {'"N/A"', '"null"'}
        assert len(cached) == 1
        assert cached[0].numPartitions() > 1
        assert cached[0].numCachedPartitions() == cached[0].numPartitions()
        counts.unpersist()
    finally:
        spark.conf.set(conf, prev)


def _job_tags(sc, job_id):
    store = sc._jsc.sc().statusStore()
    return set(sc._jvm.scala.jdk.javaapi.CollectionConverters.asJava(
        store.job(job_id).jobTags()))


def test_run_job_tags_every_job_and_keeps_the_callers_group(spark, tmp_path, corpus_parquet):
    # every job of a pass, the AQE stage jobs and the nested run_jobs
    # legs too, carries the job tag of its runner stage or section. The
    # caller's job group stays on every job (its cancelJobGroup reaches
    # them), and without one they stay ungrouped
    sc = spark.sparkContext
    store = sc._jsc.sc().statusStore()
    before = _job_ids(sc)
    sc.setJobGroup("runner-caller", "runner-caller")
    try:
        run_job(spark, corpus_parquet, str(tmp_path / "out"), cat_features=["lang"],
                resume=False)
        assert sc.getLocalProperty("spark.jobGroup.id") == "runner-caller"
    finally:
        sc._jsc.clearJobGroup()
    jobs = _job_ids(sc) - before
    by_tag = {}
    for j in jobs:
        assert store.job(j).jobGroup().get() == "runner-caller", j
        tags = {t for t in _job_tags(sc, j) if t.startswith("runner.")}
        assert tags, j
        # a section leg's tag never reaches a concurrent leg's jobs
        assert len({t for t in tags if t.startswith("runner.partition_verdicts.")}) <= 1, tags
        by_tag.setdefault(max(tags, key=len), []).append(j)
    assert {"runner.input", "runner.global_verdicts", "runner.violations",
            "runner.partition_verdicts.duplicates"} <= set(by_tag), by_tag
    # a stage's tag does not outlive it on the caller's thread
    assert set(sc.getJobTags()) == set()


def test_run_job_backticked_label_and_prediction(spark, tmp_path):
    # label and prediction names that need quoting give verdicts, not
    # analysis errors, in the global suite and the partition sections
    src = str(tmp_path / "in_quoted")
    spark.range(0, 400).selectExpr(
        "id", "CAST(id % 2 AS INT) AS `y.true`",
        "CAST(CASE WHEN id % 10 = 0 THEN 1 - id % 2 ELSE id % 2 END AS INT) AS `p``red`",
    ).repartition(4).write.parquet(src)
    out = str(tmp_path / "out_quoted")
    run_job(spark, src, out, label="y.true", prediction_column="p`red")
    v = spark.read.parquet(os.path.join(out, "verdicts")).collect()
    assert [r for r in v if r["check"] == "Single Dataset Performance"]
    assert not [r for r in v if r["category"] == "ERROR"], v
    pv = spark.read.parquet(os.path.join(out, "partition_verdicts")).collect()
    perf = [r for r in pv if r["check"] == "Single Dataset Performance"]
    assert perf and {r["category"] for r in perf} == {"PASS"}


def test_runner_verdict_literals_only_in_drift_rows():
    # verdict rows come from the checks' own conditions through one
    # evaluator; only partition drift (no check class) and verdict_rows'
    # fixed <computed>/<failure> rows spell a category out
    import ast

    import deepchecks_spark.runner as runner_mod

    tree = ast.parse(open(runner_mod.__file__, encoding="utf-8").read())
    allowed = {"drift_partition_rows", "verdict_rows"}
    found = []

    def visit(node, owner):
        if isinstance(node, ast.FunctionDef) and owner is None:
            owner = node.name
        if isinstance(node, ast.Constant) and node.value in ("PASS", "FAIL", "ERROR"):
            found.append((owner, node.value, node.lineno))
        for child in ast.iter_child_nodes(node):
            visit(child, owner)

    visit(tree, None)
    assert found and not [f for f in found if f[0] not in allowed], found
