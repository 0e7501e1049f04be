"""Declarative schema/constraint validation: verdict semantics per
constraint kind, NULL conventions, gates, and the single-fused-scan
plan shape."""

import pytest
from pyspark.sql import functions as F

from deepchecks_spark.checks.constraints import (
    fused_constraint_agg,
    has_column,
    has_dtype,
    in_range,
    in_set,
    matches_regex,
    min_rows,
    not_null,
    unique,
    validate_constraints,
)


@pytest.fixture(scope="module")
def contract_df(spark):
    return spark.createDataFrame(
        [(1, "a@x.com", 5, "en"),
         (2, None, 15, "en"),
         (3, "bad", 7, "xx"),
         (3, "c@y.org", None, "fr")],
        "id long, email string, score int, lang string")


def test_constraint_verdicts_hand_computed(spark, contract_df):
    cons = [
        not_null("email"),                      # 1 NULL
        unique("id"),                           # id 3 twice
        in_range("score", 0, 10),               # 15 out; NULL ignored
        in_set("lang", ["en", "fr", "de"]),     # 'xx' out
        matches_regex("email", r"[^@]+@[^@]+\.[a-z]+"),  # 'bad'; NULL ignored
        has_column("id"),
        has_column("nope"),                     # absent -> violation, no raise
        has_dtype("id", "bigint"),
        has_dtype("score", "string"),           # int -> violation
        has_dtype("nope", "string"),            # absent column -> violation
        min_rows(3),
        min_rows(10),
    ]
    rows = validate_constraints(contract_df, cons).collect()
    got = {(r["constraint"], r["column"]): (r["n_violations"], r["passed"])
           for r in rows}
    assert len(rows) == len(cons)  # input order preserved, one row each
    assert got[("not_null", "email")] == (1, False)
    assert got[("unique", "id")] == (1, False)
    assert got[("in_range[0, 10]", "score")] == (1, False)
    assert got[("in_set[3 values]", "lang")] == (1, False)
    assert got[("has_column", "nope")] == (1, False)
    assert got[("has_dtype[bigint]", "id")] == (0, True)
    assert got[("has_dtype[string]", "score")] == (1, False)
    assert got[("has_dtype[string]", "nope")] == (1, False)
    assert got[("min_rows[3]", None)] == (0, True)
    assert got[("min_rows[10]", None)] == (1, False)
    fracs = {(r["constraint"], r["column"]): r["violation_frac"] for r in rows}
    assert fracs[("not_null", "email")] == 0.25
    assert fracs[("min_rows[10]", None)] == 1.0


def test_constraint_null_conventions(spark):
    """NULLs violate not_null but are ignored by value constraints and
    by unique (the SQL UNIQUE/CHECK convention)."""
    df = spark.createDataFrame(
        [(None, None), (None, 1), (1, 2)], "a int, b int")
    rows = {r["constraint"]: r for r in validate_constraints(
        df, [not_null("a"), in_range("a", 0, 0), unique("a")]).collect()}
    assert rows["not_null"]["n_violations"] == 2
    assert rows["in_range[0, 0]"]["n_violations"] == 1  # only the 1
    assert rows["unique"]["n_violations"] == 0          # two NULLs don't collide


def test_constraint_gates(spark, contract_df):
    with pytest.raises(ValueError, match="absent"):
        validate_constraints(contract_df, [not_null("nope")])
    with pytest.raises(ValueError, match="no constraints"):
        validate_constraints(contract_df, [])


def test_big_set_broadcast_path_matches_literal(spark, monkeypatch):
    """Above ISIN_LITERAL_MAX a membership set auto-switches to a
    broadcast join; counts must equal the literal path's, and the
    partition/examples paths (which cannot join) reject oversized sets."""
    from deepchecks_spark.checks import constraints as C

    df = spark.createDataFrame(
        [(i, f"v{i % 40}") for i in range(200)], "id long, tag string")
    allowed = [f"v{i}" for i in range(20)]        # half the tags
    denied = [f"v{i}" for i in range(30, 40)]     # a quarter
    lit_rows = {r["constraint"]: r["n_violations"] for r in
                validate_constraints(
                    df, [in_set("tag", allowed),
                         C.not_in_set("tag", denied)]).collect()}
    monkeypatch.setattr(C, "ISIN_LITERAL_MAX", 5)  # force the join path
    big_rows = {r["constraint"]: r["n_violations"] for r in
                C.validate_constraints(
                    df, [C.in_set("tag", allowed),
                         C.not_in_set("tag", denied)]).collect()}
    assert lit_rows["in_set[20 values]"] == big_rows["in_set[20 values]"] == 100
    assert (lit_rows["not_in_set[10 values]"]
            == big_rows["not_in_set[10 values]"] == 50)
    with pytest.raises(ValueError, match="partition identity"):
        C.validate_constraints_by_partition(df, [C.in_set("tag", allowed)])
    with pytest.raises(ValueError, match="plan literals"):
        C.violation_examples(df, [C.in_set("tag", allowed)], "id")


def test_composite_unique_key(spark):
    """unique(["a","b"]): tuples collide, partial-NULL rows are ignored
    (count_distinct(a,b) semantics)."""
    df = spark.createDataFrame(
        [(1, "x"), (1, "x"), (1, "y"), (2, None), (2, None), (None, "x")],
        "a int, b string")
    collected = validate_constraints(
        df, [unique(["a", "b"]), unique("a")]).collect()
    by_col = {r["column"]: r for r in collected}  # both label 'unique'
    assert by_col["a,b"]["n_violations"] == 1   # (1,x) twice; NULL rows ignored
    assert by_col["a"]["n_violations"] == 3     # a: [1,1,1,2,2] -> 5-2
    with pytest.raises(ValueError):
        unique([])


def test_constraint_fused_plan_single_scan_no_expand(spark):
    """All row-local constraints fuse into ONE scan with NO Expand (the
    count_distinct trap); uniqueness runs separately."""
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    cons = [not_null("o_custkey"), in_range("o_totalprice", 0.0, 1e6),
            in_set("o_orderstatus", ["O", "F", "P"]),
            matches_regex("o_orderpriority", r"[1-5]-[A-Z ]+")]
    plan = fused_constraint_agg(df, cons)._jdf.queryExecution() \
        .executedPlan().toString()
    assert "Expand" not in plan
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    # scan prunes to exactly the constrained columns
    scan = plan[plan.find("ReadSchema"):][:300]
    assert "o_custkey" in scan and "o_orderdate" not in scan


def test_constraints_by_partition_parity_and_plan(spark):
    """Per-partition counts sum to the global counts; single fused
    grouped agg (one scan, no Expand); non-row-local kinds rejected."""
    from deepchecks_spark.checks.constraints import (
        validate_constraints_by_partition)

    df = spark.createDataFrame(
        [(i, None if i % 5 == 0 else f"u{i}", i % 20) for i in range(200)],
        "id long, name string, score int").repartition(8)
    cons = [not_null("name"), in_range("score", 0, 15)]
    per = validate_constraints_by_partition(df, cons)
    # pin the plan BEFORE executing (post-collect AQE plans repeat the
    # Exchange in their Initial Plan section)
    plan = per._jdf.queryExecution().executedPlan().toString()
    rows = per.collect()
    by_con = {}
    for r in rows:
        by_con.setdefault(r["constraint"], 0)
        by_con[r["constraint"]] += r["n_violations"]
    glob = {r["constraint"]: r["n_violations"]
            for r in validate_constraints(df, cons).collect()}
    assert by_con == glob
    assert all(r["passed"] == (r["n_violations"] == 0) for r in rows)
    assert "Expand" not in plan
    # exactly one hash shuffle: the grouped agg on the partition id
    # (map-side partial collapses each partition to one wide row first)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_sum" in plan
    with pytest.raises(ValueError, match="row-local"):
        validate_constraints_by_partition(df, [unique("id")])


def test_run_job_constraint_verdicts_table(spark, tmp_path):
    """run_job(constraints=...) writes the constraint_verdicts table:
    global rows at partition_id -1 plus per-partition rows that sum to
    them."""
    from deepchecks_spark.runner import run_job

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, None if i % 10 == 0 else f"t{i}", "en" if i % 2 else "zz")
         for i in range(100)],
        "id long, text string, lang string"
    ).repartition(4).write.parquet(src)
    out = str(tmp_path / "out")
    cons = [{"kind": "not_null", "column": "text"},
            {"kind": "in_set", "column": "lang", "values": ["en", "fr"]},
            {"kind": "unique", "column": "id"},
            {"kind": "min_rows", "column": None, "n": 50}]
    run_job(spark, src, out, constraints=cons, resume=False)
    t = spark.read.parquet(f"{out}/constraint_verdicts")
    glob = {r["constraint"]: r for r in t.filter("partition_id = -1").collect()}
    assert glob["not_null"]["n_violations"] == 10
    assert glob["in_set[2 values]"]["n_violations"] == 50
    assert glob["unique"]["passed"] is True
    assert glob["min_rows[50]"]["passed"] is True
    per = t.filter("partition_id >= 0").collect()
    sums = {}
    for r in per:
        sums[r["constraint"]] = sums.get(r["constraint"], 0) + r["n_violations"]
    assert sums["not_null"] == 10 and sums["in_set[2 values]"] == 50
    assert "unique" not in sums  # global-only kinds stay global


def test_violation_examples_deterministic_and_label_collision(spark):
    """k smallest ids per (constraint, column); two in_set rules share a
    LABEL but must keep separate example groups; not_null examples carry
    NULL values; two-stage top-k stays bounded."""
    from deepchecks_spark.checks.constraints import violation_examples

    df = spark.createDataFrame(
        [(i, None if i % 4 == 0 else "x", "bad" if i % 2 else "ok",
          "zz" if i % 3 else "en") for i in range(40)],
        "id long, name string, status string, lang string").repartition(8)
    cons = [not_null("name"),
            in_set("status", ["ok"]),
            in_set("lang", ["en"])]
    rows = violation_examples(df, cons, "id", k=3).collect()
    groups = {}
    for r in rows:
        groups.setdefault((r["constraint"], r["column"]), []).append(
            (r["id"], r["value"]))
    for k_ in groups:
        groups[k_].sort()
    assert groups[("not_null", "name")] == [(0, None), (4, None), (8, None)]
    assert groups[("in_set[1 values]", "status")] == [(1, "bad"), (3, "bad"), (5, "bad")]
    assert groups[("in_set[1 values]", "lang")] == [(1, "zz"), (2, "zz"), (4, "zz")]
    with pytest.raises(ValueError, match="row-local"):
        violation_examples(df, [unique("id")], "id")


def test_regex_label_parity_global_vs_partition(spark):
    """Backslashes in regex labels survive the per-partition stack melt
    (Spark's SQL parser consumes string-literal escapes), so global and
    per-partition rows for the same constraint join on equal labels."""
    from deepchecks_spark.checks.constraints import (
        validate_constraints_by_partition)

    df = spark.createDataFrame([(1, "abc123"), (2, "no digits")],
                               "id long, t string")
    cons = [matches_regex("t", r"\w+\d+"), not_null("t")]
    g = {r["constraint"] for r in validate_constraints(df, cons).collect()}
    p = {r["constraint"] for r in
         validate_constraints_by_partition(df, cons).collect()}
    assert g == p == {r"matches_regex[\w+\d+]", "not_null"}


def test_membership_set_rejects_none(spark):
    """None in a value set would silently swallow violations under
    three-valued isin logic — reject at construction."""
    from deepchecks_spark.checks.constraints import not_in_set

    with pytest.raises(ValueError, match="None"):
        in_set("lang", ["en", None])
    with pytest.raises(ValueError, match="None"):
        not_in_set("lang", [None])


def test_metadata_only_contract_launches_no_jobs(spark):
    """has_column/has_dtype contracts must not scan the table: validate
    against a frame whose evaluation would throw."""
    from pyspark.sql import functions as F

    df = spark.range(4).select(
        "id", F.assert_true(F.col("id") < 0).alias("boom"))
    rows = validate_constraints(
        df, [has_column("id"), has_column("nope"),
             has_dtype("id", "bigint")]).collect()
    assert {(r["constraint"], r["passed"]) for r in rows} == {
        ("has_column", True), ("has_column", False),
        ("has_dtype[bigint]", True)}


def test_run_job_big_set_goes_global_only(spark, tmp_path, monkeypatch):
    """An oversized membership set must not crash the runner's
    constraint stage: it evaluates globally (broadcast join) and is
    excluded from the per-partition rows."""
    from deepchecks_spark.checks import constraints as C
    from deepchecks_spark.runner import run_job

    monkeypatch.setattr(C, "ISIN_LITERAL_MAX", 3)
    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"v{i % 10}") for i in range(50)], "id long, tag string"
    ).repartition(4).write.parquet(src)
    out = str(tmp_path / "out")
    cons = [{"kind": "in_set", "column": "tag",
             "values": [f"v{i}" for i in range(5)]},   # > patched max
            {"kind": "not_null", "column": "tag"}]
    run_job(spark, src, out, constraints=cons, resume=False)
    t = spark.read.parquet(f"{out}/constraint_verdicts")
    glob = {r["constraint"]: r["n_violations"]
            for r in t.filter("partition_id = -1").collect()}
    assert glob["in_set[5 values]"] == 25          # v5..v9 rows
    per_cons = {r["constraint"] for r in t.filter("partition_id >= 0").collect()}
    assert per_cons == {"not_null"}                # big set stays global


def test_semantic_decontamination_all_null_benchmark_raises(spark):
    from deepchecks_spark.pipeline.decontam import semantic_decontamination

    corpus = spark.createDataFrame([(1, [1.0])], "id long, embedding array<double>")
    bench = spark.createDataFrame([(9, None), (10, None)],
                                  "id long, embedding array<double>")
    with pytest.raises(ValueError, match="non-NULL embeddings"):
        semantic_decontamination(corpus, bench, "id", "embedding")


def test_suggest_constraints_rule_semantics(spark):
    from deepchecks_spark.checks.constraints import (
        suggest_constraints, suggestions_to_specs)

    df = spark.createDataFrame(
        [(1, "a", "7", 2.5, None),
         (2, "b", "-3", 9.0, "x"),
         (3, "a", "12", 2.5, "y"),
         (4, None, "0", 4.0, "z")],
        "id long, cat string, numstr string, val double, gappy string")
    got = {(r["column"], r["kind"]): r for r in suggest_constraints(
        df, max_set_size=3).collect()}
    assert set(got) == {
        ("id", "not_null"), ("id", "unique"), ("id", "in_range"),
        ("cat", "in_set"),                        # 'a','b' <= 3; has a NULL
        ("numstr", "not_null"), ("numstr", "unique"),
        ("numstr", "integral_string"),  # 4 distinct > max_set_size: no in_set
        ("val", "not_null"), ("val", "in_range"),
        ("gappy", "in_set"),
    }
    assert (got[("id", "in_range")]["lo"], got[("id", "in_range")]["hi"]) == (1.0, 4.0)
    assert got[("cat", "in_set")]["values"] == '["a","b"]'
    assert got[("val", "in_range")]["hi"] == 9.0
    # the suggested contract must validate cleanly on the table it came from
    verdicts = validate_constraints(df, suggestions_to_specs(
        suggest_constraints(df, max_set_size=3)))
    assert all(r["passed"] for r in verdicts.collect())


def test_suggest_constraints_bounds_and_empty(spark):
    from deepchecks_spark.checks.constraints import suggest_constraints

    # high-cardinality string: no in_set suggestion, nothing data-sized
    # ever collected (the value collect is gated by the exact count)
    wide = spark.range(500).select(
        F.col("id"), F.concat(F.lit("v"), F.col("id")).alias("s"))
    kinds = {(r["column"], r["kind"])
             for r in suggest_constraints(wide, max_set_size=5).collect()}
    assert ("s", "in_set") not in kinds
    assert ("s", "not_null") in kinds and ("id", "unique") in kinds
    # empty table: no value-based suggestions at all
    empty = spark.createDataFrame([], "a long, b string")
    assert suggest_constraints(empty).count() == 0
    with pytest.raises(ValueError):
        suggest_constraints(wide, max_set_size=0)


def test_suggest_constraints_profile_plan_single_scan_no_expand(spark, tmp_path):
    from deepchecks_spark.checks.constraints import (
        INTEGRAL_STRING_PATTERN, _NUMERIC_TYPES)

    path = str(tmp_path / "prof")
    spark.range(100).select(
        F.col("id"), (F.col("id") % 5).cast("double").alias("v"),
        F.concat(F.lit("c"), (F.col("id") % 3)).alias("c")).write.parquet(path)
    df = spark.read.parquet(path)
    # rebuild the pass-1 fused profile exactly as suggest_constraints does
    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in df.columns:
        aggs.append(F.sum(F.when(F.col(c).isNull(), 1).otherwise(0))
                    .alias(f"__nulls__{c}"))
        aggs.append(F.approx_count_distinct(c, rsd=0.05).alias(f"__apx__{c}"))
        t = dict((f.name, f.dataType.simpleString()) for f in df.schema.fields)[c]
        if t in _NUMERIC_TYPES:
            aggs.append(F.min(F.col(c).cast("double")).alias(f"__min__{c}"))
            aggs.append(F.max(F.col(c).cast("double")).alias(f"__max__{c}"))
        elif t == "string":
            aggs.append(F.sum(
                F.when(F.col(c).rlike(f"^(?:{INTEGRAL_STRING_PATTERN})$"), 1)
                .otherwise(0)).alias(f"__int__{c}"))
    plan = df.agg(*aggs)._jdf.queryExecution().executedPlan().toString()
    assert plan.count("Scan parquet") == 1, plan
    assert "Expand" not in plan, plan


def test_run_job_suggest_constraints_stage(spark, tmp_path):
    """run_job(suggest=True) writes suggested_constraints, and the
    suggested contract validates cleanly on the table it was profiled
    from (the suggest -> pin -> validate loop)."""
    from deepchecks_spark.checks.constraints import suggestions_to_specs
    from deepchecks_spark.runner import run_job

    src = str(tmp_path / "src")
    spark.createDataFrame(
        [(i, f"t{i}", "en" if i % 2 else "fr", float(i) / 2)
         for i in range(100)],
        "id long, text string, lang string, score double"
    ).repartition(4).write.parquet(src)
    out = str(tmp_path / "out")
    run_job(spark, src, out, resume=False, suggest=True)
    sug = spark.read.parquet(f"{out}/suggested_constraints")
    got = {(r["column"], r["kind"]) for r in sug.collect()}
    assert ("id", "unique") in got and ("lang", "in_set") in got
    assert ("score", "in_range") in got
    verdicts = validate_constraints(
        spark.read.parquet(src), suggestions_to_specs(sug))
    assert all(r["passed"] for r in verdicts.collect())


def test_schema_diff_semantics_and_zero_jobs(spark):
    from deepchecks_spark.checks.constraints import schema_diff

    old = spark.createDataFrame([], "a long, b string, c double")
    new = spark.createDataFrame([], "a int, b string, d timestamp")
    tracker = spark.sparkContext.statusTracker()
    jobs_before = len(tracker.getJobIdsForGroup() or [])
    rows = [tuple(r) for r in schema_diff(old, new).collect()]
    assert rows == [
        ("a", "type_changed", "bigint", "int"),
        ("b", "unchanged", "string", "string"),
        ("c", "removed", "double", None),
        ("d", "added", None, "timestamp"),
    ]
    # the diff itself launches no jobs on the input frames — collect of
    # the 4-row local result is the only work
    assert len(tracker.getJobIdsForGroup() or []) - jobs_before <= 1


def test_dict_specs_with_none_value_rejected(spark):
    """Specs that bypass the constructors (e.g. a --constraints JSON
    file) are re-validated: a None inside a membership set would
    silently swallow every violation via three-valued isin logic, so
    all three row-local entry points must reject it loudly."""
    import pytest

    from deepchecks_spark.checks.constraints import (
        validate_constraints, validate_constraints_by_partition,
        violation_examples)

    df = spark.createDataFrame([(1, "A"), (2, "Z")], "id long, status string")
    spec = {"kind": "in_set", "column": "status", "values": ["A", None]}
    with pytest.raises(ValueError, match="contains None"):
        validate_constraints(df, [spec])
    with pytest.raises(ValueError, match="contains None"):
        validate_constraints_by_partition(df, [spec])
    with pytest.raises(ValueError, match="contains None"):
        violation_examples(df, [spec], id_col="id")
    bad_deny = {"kind": "not_in_set", "column": "status", "values": [None]}
    with pytest.raises(ValueError, match="contains None"):
        validate_constraints(df, [bad_deny])


def test_snapshot_row_diff_statuses_and_detail(spark):
    """Detail mode classes every key; compare_cols restricts the digest
    so non-compared churn does not count as 'changed'; NULL vs '' vs
    the literal sentinel text are three distinct digests."""
    from deepchecks_spark.checks.constraints import snapshot_row_diff

    old = spark.createDataFrame(
        [(1, "a", "x"), (2, None, "x"), (3, "", "x"), (4, "keep", "x")],
        "k long, text string, meta string")
    new = spark.createDataFrame(
        [(1, "a", "CHANGED-META"), (2, "", "x"), (3, None, "x"),
         (5, "new", "x")],
        "k long, text string, meta string")
    rows = {r["k"]: r["status"]
            for r in snapshot_row_diff(old, new, "k",
                                       compare_cols=["text"],
                                       detail=True).collect()}
    # k=1: meta changed but text compared only -> unchanged
    # k=2: NULL -> ''  and  k=3: '' -> NULL are real changes
    assert rows == {1: "unchanged", 2: "changed", 3: "changed",
                    4: "removed", 5: "added"}
    summary = {r["status"]: r["n_rows"]
               for r in snapshot_row_diff(old, new, "k",
                                          compare_cols=["text"]).collect()}
    assert summary == {"added": 1, "removed": 1, "changed": 2,
                       "unchanged": 1}


def test_snapshot_row_diff_shuffles_digests_not_text(spark):
    """The full-outer join must consume (key, digest) projections —
    the text payload never reaches the shuffle."""
    from deepchecks_spark.checks.constraints import snapshot_row_diff

    old = spark.range(100).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("text"))
    new = spark.range(50, 150).select(
        F.col("id").alias("k"), F.col("id").cast("string").alias("text"))
    plan = snapshot_row_diff(
        old, new, "k", detail=True)._jdf.queryExecution().executedPlan().toString()
    # every Exchange row below the join carries k + a digest, not text:
    # the projection happens before the shuffle, so the raw text column
    # must not appear in any Exchange output schema
    for line in plan.splitlines():
        if "Exchange" in line:
            assert "_digest" in line or "text" not in line, line
