"""Suite runner job: the spark-submit entry producing the north rule's
output surface —

  * ``verdicts``            global (check, condition, category, details)
  * ``partition_verdicts``  the SAME conditions evaluated per input
                            partition (pass/fail lineage per partition)
  * ``violations``          offending rows: (check, column,
                            offending_value, count, percent, partition_id)
  * ``metrics``             per-partition per-column statistics table
  * ``constraint_verdicts`` (with --constraints) declarative contract
  * ``anomaly_verdicts``    (with --metrics-history) Deequ-style
                            metric-over-run-history anomaly scores
  * ``suggested_constraints`` (with --suggest-constraints) profiled
                            contract suggestions (pin as --constraints)

with snapshot-pinned checkpoint/resume: a manifest records the input
fingerprint and completed stages; re-running with the same input skips
completed stages, a changed input invalidates them.

Every verdict row but partition drift's comes from one evaluator,
:func:`evaluate`: a check's conditions run over its value through
``CheckResult.process_conditions``, as in a suite, and
:func:`verdict_rows` formats the results. ``run_job`` declares every
check and condition the runner applies in one place (the runner-only
policies through :func:`duplicates_check` and
:func:`performance_check`), so its thresholds and verdict text are the
checks' own. The stats checks' values come from the merged global
stats and from each partition's stats (``value_from_stats``, no Spark
job); each other per-partition section computes only each partition's
value, in its check's value shape, and :func:`partition_rows` turns
those values into rows. The global stats merge the one per-partition
stats pass with the exact distinct counts, and also serve the
violations table (its row count and StringMismatch cardinality gate). The melted (partition, column, value) counts are one
table too, :func:`partition_value_counts`: the flagged view,
MixedNulls, StringMismatch, partition drift and the new-category test
side all read it, so no section melts the input itself. Every Spark
job carries a ``runner.<stage>[.<section>]`` job tag.

Run via:  spark-submit --py-files dist/deepchecks_spark.zip -m ...  or
          python -m deepchecks_spark.runner --input ... --output ...
"""

from __future__ import annotations

import argparse
import functools
import json
import os
import threading
import time

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepchecks_spark.core.checks import format_number, format_percent
from deepchecks_spark.core.parallel import Once, job_tag, run_jobs, spread_input
from deepchecks_spark.core.result import (
    CheckFailure,
    CheckResult,
    ConditionCategory,
    ConditionResult,
)
from deepchecks_spark.dataset import Dataset
from deepchecks_spark.functions.columns import melt, quote_ident
from deepchecks_spark.functions.strings import baseform_expr, string_flag_expr
from deepchecks_spark.io import local_frame, read_table, snapshot_fingerprint, write_table
from deepchecks_spark.stats import (
    compute_column_stats_by_partition,
    distinct_counts,
    merge_column_stats,
)

VALUE_COUNTS_SCHEMA = "__pid int, column string, value string, count long, check string"

# Hard ceiling on rows any per-partition histogram pass may collect to
# the driver, regardless of partition count (ADVICE r2, runner.py:216).
ABS_DRIFT_COLLECT_CAP = 2_000_000


# ---------------------------------------------------------------------------
# global and per-partition verdicts
# ---------------------------------------------------------------------------

def verdict_rows(results: list) -> list:
    """(check, condition, category, details) rows of suite results: a
    :class:`CheckFailure` is one ``<failure>`` ERROR row, and a check
    with no condition still gets a ``<computed>`` row, so the table
    records that it ran."""
    rows = []
    for r in results:
        if isinstance(r, CheckFailure):
            rows.append((r.header, "<failure>", "ERROR", repr(r.exception)))
            continue
        if not r.conditions_results:
            rows.append((r.header, "<computed>", "PASS", "check computed"))
        rows.extend((r.header, c.name, c.category.value, c.details)
                    for c in r.conditions_results)
    return rows


def evaluate(check, value_step, *args):
    """The runner's one evaluator: ``check``'s conditions over the value
    ``value_step(*args)``, as in a suite; a raising step is a
    :class:`CheckFailure`."""
    try:
        result = CheckResult(value_step(*args), check.header(), check)
    except Exception as exc:  # noqa: BLE001 — per-check isolation, as in Suite.run
        return CheckFailure(check, exc, check.header())
    result.process_conditions()
    return result


def partition_rows(check, values: dict, value_step=None) -> list:
    """(partition_id, check, condition, category, details) rows of
    ``check`` on every input partition: ``values`` maps each partition
    id to the check's value there, or to what ``value_step`` turns into
    it (for a stats check: its stats, and ``value_from_stats``). Parity:
    each partition's rows equal the check's run on that partition's
    slice alone (FIXTURES.md §F3). A partition whose step raises gets
    the ``<failure>`` row."""
    step = value_step or (lambda value: value)
    return [(pid, *row) for pid, value in sorted(values.items())
            for row in verdict_rows([evaluate(check, step, value)])]


def duplicate_ratio_at_most(ratio: float, max_ratio: float) -> ConditionResult:
    """DataDuplicates' ratio condition, but FAIL (the builder's is WARN)
    above ``max_ratio``: a partition that breaks key identity fails."""
    category = ConditionCategory.FAIL if ratio > max_ratio else ConditionCategory.PASS
    return ConditionResult(category, f"Found {format_percent(ratio)} duplicate data")


def mae_within(value: dict, factor: float) -> ConditionResult:
    """FAIL when the partition's MAE exceeds ``factor`` × the global MAE:
    regression errors have no natural absolute threshold."""
    mae, global_mae = value["mae"], value["global_mae"]
    if global_mae and mae > factor * global_mae:
        return ConditionResult(ConditionCategory.FAIL,
                               f"partition MAE {format_number(mae)} vs global "
                               f"{format_number(global_mae)}")
    return ConditionResult(ConditionCategory.PASS, f"partition MAE {format_number(mae)}")


def duplicates_check(columns):
    """The runner's Data Duplicates check: rows are identified by the
    ``url`` key (web corpora key on it) when ``columns`` has one, else by
    every column, and any duplicate FAILs."""
    from deepchecks_spark.checks.integrity import DataDuplicates

    keys = [c for c in ("url",) if c in columns] or list(columns)
    return DataDuplicates(columns=keys).add_condition(
        "Duplicate data ratio is less or equal to 0%", duplicate_ratio_at_most, max_ratio=0.0)


def performance_check(prediction_column: str, task_type: str | None = None):
    """The runner's model-performance check: accuracy above 0.5, or for
    ``task_type="regression"`` an MAE within 2x the global MAE."""
    from deepchecks_spark.checks.performance import SingleDatasetPerformance

    if task_type == "regression":
        return SingleDatasetPerformance(prediction_column, scorers=["mae"]).add_condition(
            "Partition MAE not greater than 2.0x the global MAE", mae_within, factor=2.0)
    return (SingleDatasetPerformance(prediction_column, scorers=["accuracy"])
            .add_condition_greater_than(0.5))


def mixed_nulls_partition_values(per_part: dict, counts: DataFrame) -> dict:
    """{partition_id: MixedNulls value} from each partition's stats
    ``per_part`` and the MixedNulls rows of the
    :func:`partition_value_counts` table ``counts``: one row per distinct
    null-representation string per (partition, column). Their collect
    materialises every partition of a persisted ``counts``."""
    from deepchecks_spark.checks.integrity import MixedNulls

    by_pid: dict = {}
    for r in flagged_string_values(counts).filter(F.col("check") == "MixedNulls").collect():
        by_pid.setdefault(r["__pid"], []).append(r)
    return {pid: MixedNulls.value_from_counts(list(stats.per_column), stats, by_pid.get(pid, []))
            for pid, stats in per_part.items()}


def _by_partition(df: DataFrame, *aggs) -> dict:
    """{partition_id: Row of ``aggs``} over ``df``'s input partitions."""
    per = df.withColumn("__pid", F.spark_partition_id()).groupBy("__pid").agg(*aggs).collect()
    return {r["__pid"]: r for r in per}


def duplicates_partition_values(df: DataFrame, cols: list) -> dict:
    """{partition_id: DataDuplicates value}: the duplicate ratio over
    ``cols`` within each input partition (ROADMAP #2).

    Row identity is xxhash64 over the selected columns (the payload-hash
    trick — KB-sized text never shuffles), and the distinct hashes are
    counted EXACTLY: an HLL sketch's ±rsd (5%) could undercount a
    duplicate-free partition → spurious FAIL at zero tolerance, or mask
    up to ~5% real duplicates as PASS (ADVICE r2). countDistinct stays
    map-side local — __pid is in the group key and only 8-byte hashes
    shuffle.
    """
    h = F.xxhash64(*[F.col(quote_ident(c)) for c in cols])
    per = _by_partition(df, F.count(F.lit(1)).alias("n"), F.countDistinct(h).alias("d"))
    return {pid: (1 - r["d"] / r["n"]) if r["n"] else 0.0 for pid, r in per.items()}


def conflicting_labels_partition_values(df: DataFrame, feature_cols: list,
                                        label_col: str) -> dict:
    """{partition_id: ConflictingLabels value}: within each input
    partition, the fraction of rows in feature-groups carrying more than
    one distinct label (ROADMAP #2, last item). The group key contains
    the partition id, so the two-stage aggregation's heavy reduction is
    map-side local; only (pid, features)-level rows shuffle."""
    fcols = [F.col(quote_ident(c)) for c in feature_cols]
    grouped = (
        df.withColumn("__pid", F.spark_partition_id())
        .groupBy(F.col("__pid"), *fcols)
        .agg(F.countDistinct(F.col(quote_ident(label_col))).alias("n_labels"),
             F.count(F.lit(1)).alias("n_rows"))
    )
    per = (
        grouped.groupBy("__pid")
        .agg(
            F.coalesce(F.sum(F.when(F.col("n_labels") > 1, F.col("n_rows"))), F.lit(0))
            .alias("ambiguous"),
            F.coalesce(F.sum("n_rows"), F.lit(0)).alias("total"),
        )
        .collect()
    )
    return {r["__pid"]: {"percent": (r["ambiguous"] / r["total"]) if r["total"] else 0.0}
            for r in per}


def new_category_partition_values(counts: DataFrame, train_df: DataFrame, cat_cols: list,
                                  per_part: dict, max_categories: int = 10_000) -> dict:
    """{partition_id: NewCategoryTrainTest value, holding the
    ``ratio_of_new_categories`` its condition reads} (VERDICT r3 next-8):
    per TEST partition and column, the share of the non-null values that
    the reference/train side never holds.

    Scale shape: the train side reduces to its DISTINCT melted
    (column, value) pairs — bounded by the batch check's cardinality gate
    (columns above ``max_categories`` approx-distinct are skipped) and
    broadcast. The test side is its :func:`partition_value_counts` table
    ``counts`` and its per-partition stats ``per_part``: no scan of the
    test rows, and only (pid, column) counter rows reach the driver.
    """
    if not cat_cols:
        return {}
    approx = train_df.agg(
        *[F.approx_count_distinct(quote_ident(c)).alias(c) for c in cat_cols]).first()
    cols = [c for c in cat_cols if (approx[c] or 0) <= max_categories]
    if not cols:
        return {}
    train_vals = (
        melt(train_df, cols, cast="string")
        .filter(F.col("value").isNotNull()).distinct()
        .withColumn("__seen", F.lit(1))
    )
    per = (
        counts.filter(F.col("column").isin(*cols))
        .join(F.broadcast(train_vals), ["column", "value"], "left")
        .groupBy("__pid", "column")
        .agg(F.sum(F.when(F.col("__seen").isNull(), F.col("count")).otherwise(0))
             .alias("n_new"))
        .collect()
    )
    values = {pid: {c: {"ratio_of_new_categories": 0.0} for c in cols}
              for pid in per_part.keys() | {r["__pid"] for r in per}}
    for r in per:
        # the check's denominator: the column's non-null values
        st = per_part.get(r["__pid"])
        n = st.per_column[r["column"]]["n"] if st is not None else 0
        values[r["__pid"]][r["column"]]["ratio_of_new_categories"] = r["n_new"] / n if n else 0.0
    return values


def performance_partition_counts(df: DataFrame, label_col: str, prediction_column: str,
                                 task: str = "classification") -> dict:
    """{partition_id: Row(n_total, n, s)}: each input partition's rows,
    scored rows (label and prediction non-null) and their correct
    predictions or, for regression, summed absolute error; the input of
    :func:`performance_value_step` (VERDICT r4 next-5).

    Scale shape: one counter row per partition, map-side (accuracy and
    MAE are distributive pairs). The group keys come from the UNFILTERED
    frame, so a fully unscored partition — the corrupt-shard case this
    surface exists to catch — still gets a Row, and a ``<failure>`` row."""
    y = F.col(quote_ident(label_col))
    p = F.col(quote_ident(prediction_column))
    usable = y.isNotNull() & p.isNotNull()
    if task == "regression":
        d = p.cast("double") - y.cast("double")
        score_agg = F.sum(F.when(usable, F.abs(d)).otherwise(F.lit(0.0))).alias("s")
    else:
        score_agg = F.sum(F.when(usable & (y == p), 1).otherwise(0)
                          .cast("long")).alias("s")
    return _by_partition(df, F.count(F.lit(1)).alias("n_total"),
                         F.sum(usable.cast("long")).alias("n"), score_agg)


def performance_value_step(counts: dict, task: str = "classification"):
    """The step from a :func:`performance_partition_counts` Row to the
    partition's SingleDatasetPerformance value: its ``accuracy``, or its
    ``mae`` beside the ``global_mae`` of all ``counts``. It raises for a
    partition with no scored rows."""
    n = sum(r["n"] for r in counts.values())
    global_mae = (sum(r["s"] for r in counts.values()) / n) if n else 0.0

    def step(r):
        if not r["n"]:
            raise ValueError(f"no scored rows: all {r['n_total']} rows have null "
                             "label or prediction")
        if task == "regression":
            return {"mae": r["s"] / r["n"], "global_mae": global_mae}
        return {"accuracy": r["s"] / r["n"]}

    return step


def samples_mix_partition_values(test_df: DataFrame, train_df: DataFrame, cols: list) -> dict:
    """{partition_id: TrainTestSamplesMix value} (VERDICT r3 next-8):
    the fraction of each TEST partition's rows that also occur in the
    reference/train data.

    Scale shape: row identity is xxhash64 over the selected columns
    (the payload-hash trick — KB text never shuffles); the train side
    reduces to distinct 8-byte hashes, the test side tags each hash
    with its partition id, and the equi-join + groupBy(pid) keep the
    shuffle at hash width. AQE skew-join splits Zipf-duplicated keys.
    """
    h = F.xxhash64(*[F.col(quote_ident(c)) for c in cols])
    train_h = train_df.select(h.alias("__h")).distinct().withColumn("__seen", F.lit(1))
    per = (
        test_df.withColumn("__pid", F.spark_partition_id())
        .select("__pid", h.alias("__h"))
        .join(train_h, "__h", "left")
        .groupBy("__pid")
        .agg(F.count(F.lit(1)).alias("n"),
             F.sum(F.when(F.col("__seen").isNotNull(), 1).otherwise(0)).alias("n_mixed"))
        .collect()
    )
    return {r["__pid"]: {"ratio": (r["n_mixed"] / r["n"]) if r["n"] else 0.0} for r in per}


def drift_partition_rows(counts: DataFrame, cat_cols: list, per_part: dict,
                         reference_hists: dict | None = None,
                         max_psi: float = 0.2, max_categories: int = 10_000) -> list:
    """Per-partition categorical drift verdicts (ROADMAP #2), the one
    section with no check class: the
    (partition, column, value) counts of ``cat_cols`` come from
    ``counts``, the input's :func:`partition_value_counts` table, then
    each partition's histogram is PSI-scored against a reference
    histogram — by default the GLOBAL histogram of the same data
    (derived driver-side from the per-partition counts, no second scan),
    which flags anomalous shards: a partition whose distribution
    diverges from the corpus (bad crawl segment, mis-partitioned ingest)
    FAILs while healthy partitions PASS. Pass ``reference_hists`` (e.g.
    the previous snapshot's histograms) for drift-against-history
    semantics.

    Scale shape: mergeable partial counts, output bounded by partitions
    × category cardinality (collect guarded by ``max_categories`` per
    column like categorical_histograms; the partition count is that of
    ``per_part``, the input's per-partition stats).
    """
    from deepchecks_spark.drift.kernels import psi_from_counts

    if not cat_cols:
        return []
    grouped = (counts.filter(F.col("column").isin(*cat_cols))
               .select("__pid", "column", "value", "count"))
    n_parts = len(per_part)
    # Absolute driver-memory bound: the per-partition formula grows
    # linearly with partition count, so at corpus scale (thousands of
    # partitions) it would itself permit a multi-GB collect before the
    # gate trips (ADVICE r2). 2M rows ≈ low hundreds of MB worst case.
    cap_total = min(n_parts * len(cat_cols) * max_categories, ABS_DRIFT_COLLECT_CAP) + 1
    rows_in = grouped.limit(cap_total).collect()
    if len(rows_in) >= cap_total:  # pathological cardinality → gate, don't OOM
        return [(-1, "Partition Drift", "histogram cardinality gate", "ERROR",
                 f"per-partition histograms exceed {max_categories} categories/column "
                 f"(or {ABS_DRIFT_COLLECT_CAP} total rows); pass lower-cardinality cat_cols")]
    per_pid: dict = {}
    global_hists: dict = {c: {} for c in cat_cols}
    for r in rows_in:
        per_pid.setdefault(r["__pid"], {}).setdefault(r["column"], {})[r["value"]] = r["count"]
        global_hists[r["column"]][r["value"]] = (
            global_hists[r["column"]].get(r["value"], 0) + r["count"]
        )
    reference_hists = reference_hists or global_hists
    out = []
    for pid in sorted(per_pid):
        for col in cat_cols:
            hist = per_pid[pid].get(col)
            ref = reference_hists.get(col)
            if not hist or not ref:
                continue
            score = psi_from_counts(ref, hist, min_category_size_ratio=0.01)
            cond = f"PSI of {col} vs reference is less than {format_number(max_psi)}"
            category = "PASS" if score < max_psi else "FAIL"
            out.append((pid, "Partition Drift", cond, category,
                        f"{col}: PSI {format_number(score)} over {sum(hist.values())} samples"))
    return out


# ---------------------------------------------------------------------------
# violation rows with partition lineage
# ---------------------------------------------------------------------------

def low_cardinality(cols: list, stats, max_distinct: int = 10_000) -> list:
    """The columns of ``cols`` with at most ``max_distinct`` distinct
    values, read from the exact ``distinct`` counts of ``stats`` (whole-
    input ``ColumnStats``): the string columns StringMismatch covers,
    whose every value :func:`partition_value_counts` must count."""
    return [c for c in cols if stats.per_column[c]["distinct"] <= max_distinct]


def partition_value_counts(df: DataFrame, count_cols: list, flag_cols: list) -> DataFrame:
    """(__pid, column, value, count, check) from ONE melted pass over
    ``df``: per input partition, the count of every non-null value of
    ``count_cols``, plus the flagged values only of the other
    ``flag_cols`` (the string columns). ``check`` is the value's
    :func:`~deepchecks_spark.functions.strings.string_flag_expr` flag in
    a ``flag_cols`` column (MixedNulls, SpecialCharacters or null), and
    null in any other column. Values are cast to string.

    Scale design: a free-text column outside ``count_cols`` is filtered
    to its offenders BEFORE the aggregation, so its shuffle carries a
    tiny fraction of the input; the flag is evaluated per group, not per
    row, for the counted columns. The runner persists this table once and
    every per-value reader takes its rows from it: the flagged view
    (:func:`flagged_string_values`), MixedNulls, StringMismatch
    (:func:`violation_rows`), the partition-drift histograms and the
    new-category test side."""
    cols = list(dict.fromkeys([*count_cols, *flag_cols]))
    if not cols:
        return local_frame(df.sparkSession, [], VALUE_COUNTS_SCHEMA)
    melted = melt(df.withColumn("__pid", F.spark_partition_id()), cols,
                  cast="string", keep=("__pid",)).filter(F.col("value").isNotNull())
    flag = string_flag_expr(F.col("value"))
    flag_only = [c for c in flag_cols if c not in count_cols]
    if flag_only:
        melted = melted.filter(~F.col("column").isin(*flag_only) | flag.isNotNull())
    in_flag_cols = F.col("column").isin(*flag_cols) if flag_cols else F.lit(False)
    return (melted.groupBy("__pid", "column", "value").count()
            .withColumn("check", F.when(in_flag_cols, flag)))


def flagged_string_values(counts: DataFrame) -> DataFrame:
    """(__pid, column, value, count, check) — every flagged string value
    (MixedNulls null-representations / SpecialCharacters-only values)
    per input partition: the flagged rows of the
    :func:`partition_value_counts` table ``counts``. Read by the
    violations table and the per-partition MixedNulls verdicts."""
    return counts.filter(F.col("check").isNotNull())


def violation_rows(counts: DataFrame, string_cols: list, stats,
                   mismatch_max_distinct: int = 10_000) -> DataFrame:
    """(check, column, offending_value, count, percent, partition_id).

    ``counts`` is the input's :func:`partition_value_counts` table, with
    ``string_cols`` flagged and every value of their
    :func:`low_cardinality` columns counted; ``stats`` is the whole
    input's ``ColumnStats`` (``compute_column_stats``, or the runner's
    merged stats): ``percent``'s denominator is its row count, so no job
    runs here until the frame is read.

    Scale design: the MixedNulls/SpecialCharacters rows are the flagged
    view of ``counts``. StringMismatch needs per-distinct-value counts,
    which is unbounded for free-text columns — so it is restricted to
    columns whose exact distinct count in ``stats`` is ≤
    ``mismatch_max_distinct`` (the reference caps the whole check at 1M
    sampled rows instead, string_mismatch.py:64; a cardinality cap is
    the shuffle-safe analogue).
    """
    base_cols = [
        F.col("check"),
        F.col("column"),
        F.col("value").alias("offending_value"),
        F.col("count"),
        (F.col("count") / F.lit(stats.n_rows)).alias("percent"),
        F.col("__pid").alias("partition_id"),
    ]
    out = flagged_string_values(counts).select(*base_cols)

    # StringMismatch on bounded-cardinality columns only
    low_card = low_cardinality(string_cols, stats, mismatch_max_distinct)
    if low_card:
        from pyspark.sql import Window

        w = Window.partitionBy("column", "base")
        mismatched = (
            counts.filter(F.col("column").isin(*low_card))
            .withColumn("base", baseform_expr(F.col("value"), allow_empty_result=False))
            .withColumn("n_variants", F.size(F.collect_set("value").over(w)))
            .filter(F.col("n_variants") > 1)
            .withColumn("check", F.lit("StringMismatch"))
            .select(*base_cols)
        )
        out = out.unionByName(mismatched)
    return out


def metrics_rows(per_part: dict) -> list:
    """Per-partition per-column metrics table rows:
    (partition_id, column, stat, value_double, value_string)."""
    rows = []
    for pid, stats in sorted(per_part.items()):
        rows.append((pid, "*", "n_rows", float(stats.n_rows), None))
        for col, st in stats.per_column.items():
            for stat, v in st.items():
                if v is None:
                    continue
                if isinstance(v, (int, float)):
                    rows.append((pid, col, stat, float(v), None))
                else:
                    rows.append((pid, col, stat, None, str(v)))
    return rows


def global_metric_rows(per_part: dict) -> list:
    """Run-level metric set for the metrics-history table, merged
    driver-side from the per-partition stats (no extra scan) using only
    exactly-mergeable statistics: row count, per-column null fraction,
    numeric min/max. Floating-point moments and HLL estimates stay in
    the per-run metrics table and out of the history."""
    merged = merge_column_stats(per_part)
    out = [("rows", float(merged.n_rows))]
    for c, st in sorted(merged.per_column.items()):
        out.append((f"{c}.null_frac", st["percent_null"]))
        lo, hi = st.get("min"), st.get("max")
        if isinstance(lo, (int, float)) and not isinstance(lo, bool):
            out.append((f"{c}.min", float(lo)))
            out.append((f"{c}.max", float(hi)))
    return out


# ---------------------------------------------------------------------------
# the job
# ---------------------------------------------------------------------------

def run_job(spark, input_path: str, output_dir: str, fmt: str = "parquet",
            label: str | None = None, cat_features: list | None = None,
            snapshot_id: int | None = None, resume: bool = True,
            reference_input: str | None = None,
            prediction_column: str | None = None,
            probability_columns: dict | None = None,
            task_type: str = "classification",
            constraints: list | None = None,
            metrics_history: str | None = None,
            anomaly_rules: dict | None = None,
            suggest: bool = False,
            domain_profile_col: str | None = None,
            script_profile_col: str | None = None) -> dict:
    """Execute the integrity suite with per-partition lineage and
    checkpointed stage outputs. Returns the manifest dict.

    The input is spread (``spread_input``) and persisted once; the
    stages, and the sections inside ``partition_verdicts``, are
    independent jobs over that cache submitted through ``run_jobs``.
    Their shared passes (per-partition stats, the merged global stats,
    the value-count table) are single-flight through one ``Once``.
    Every stage finishes before a failure propagates, and only then is
    the cache released."""
    os.makedirs(output_dir, exist_ok=True)
    manifest_path = os.path.join(output_dir, "_manifest.json")
    fingerprint = (
        str(snapshot_id) if snapshot_id is not None else snapshot_fingerprint(input_path, fmt)
    )
    # the parameterization is part of the resume identity: re-running the
    # same input with e.g. a newly-added --prediction-column must NOT
    # skip the done stages (their outputs lack the model-eval rows)
    params = {"label": label, "cat_features": sorted(cat_features or []),
              "reference_input": reference_input,
              "prediction_column": prediction_column,
              "probability_columns": probability_columns,
              "task_type": task_type,
              "constraints": constraints,
              "suggest": suggest,
              "domain_profile_col": domain_profile_col,
              "script_profile_col": script_profile_col}
    manifest = {"fingerprint": fingerprint, "input": input_path,
                "params": params, "stages": {}, "run_id": f"run-{fingerprint}"}
    if resume and os.path.exists(manifest_path):
        with open(manifest_path) as f:
            prev = json.load(f)
        if prev.get("fingerprint") == fingerprint and prev.get("params") == params:
            manifest = prev  # resume: completed stages are skipped below
        # different fingerprint or params → fresh manifest, stale stages
        # recompute

    with job_tag(spark.sparkContext, "runner.input"):
        df = read_table(spark, input_path, fmt, snapshot_id)
        # one materialization shared by every stage: repartition up to the
        # cluster's slot count if the source is under-partitioned, cache the
        # decoded columns (the scan + decompress dominates repeated passes)
        df = spread_input(df)
        df.persist()
        ds = Dataset(df, label=label, cat_features=cat_features,
                     infer_categorical=cat_features is None)
    string_cols = [c for c in ds.columns if isinstance(ds.schema_of(c), T.StringType)]
    cat_cols = list(ds.cat_features)

    from deepchecks_spark.checks.integrity import (
        ConflictingLabels,
        IsSingleValue,
        MixedDataTypes,
        MixedNulls,
        PercentOfNulls,
        SpecialCharacters,
    )
    from deepchecks_spark.checks.traintest import NewCategoryTrainTest, TrainTestSamplesMix

    # every condition the runner applies, and so all its thresholds: the
    # stats checks run on the global and on each partition's stats, the
    # others on each partition's value from their section below
    stats_checks = [
        IsSingleValue().add_condition_not_single_value(),
        PercentOfNulls().add_condition_percent_of_nulls_not_greater_than(0.05),
        SpecialCharacters().add_condition_ratio_of_special_characters_less_or_equal(0.001),
        MixedDataTypes().add_condition_rare_type_ratio_not_in_range(),
    ]
    mixed_nulls = MixedNulls().add_condition_different_nulls_less_equal_to(1)
    duplicates = duplicates_check(ds.columns)
    conflicting_labels = (ConflictingLabels()
                          .add_condition_ratio_of_conflicting_labels_less_or_equal(0))
    new_category = NewCategoryTrainTest().add_condition_new_category_ratio_less_or_equal(0)
    samples_mix = TrainTestSamplesMix().add_condition_duplicates_ratio_less_or_equal(0.05)
    performance = performance_check(prediction_column, task_type)

    # shared passes, single-flight across the concurrent stages; an
    # entry's jobs carry runner.shared.<name> whichever stage asked first
    once = Once("runner.shared")
    _manifest_lock = threading.Lock()  # serialises the manifest file writes

    def _per_part():
        # one grouped stats pass shared by partition_verdicts, metrics
        # and the global stats
        return once("per_part", lambda: compute_column_stats_by_partition(
            ds.df, ds.columns))

    def _global_stats():
        # the whole-input stats shared by the global verdicts, the
        # StringMismatch gate and the violations table, merged from the
        # per-partition pass: only the exact distinct counts scan again
        def merged():
            parts, distinct = run_jobs([_per_part, lambda: distinct_counts(ds.df, ds.columns)])
            return merge_column_stats(parts, ds.columns, distinct, ds.df.schema)

        return once("global", merged)

    def _value_counts():
        # (table, per-partition MixedNulls values) of the one melted
        # (partition, column, value) pass: every value of the
        # low-cardinality string columns and the categorical features,
        # plus the other string columns' offenders. Persisted, and
        # materialised here by the collect of its MixedNulls rows, so the
        # stages reading it concurrently never race to build the cache
        def build():
            counts = partition_value_counts(
                ds.df, low_cardinality(string_cols, _global_stats()) + cat_cols,
                string_cols).persist()
            return counts, mixed_nulls_partition_values(_per_part(), counts)

        return once("value_counts", build)

    def stage(name, fn):
        if manifest["stages"].get(name) == "done":
            return
        t0 = time.time()
        with job_tag(spark.sparkContext, f"runner.{name}"):
            fn()
        with _manifest_lock:
            manifest["stages"][name] = "done"
            manifest.setdefault("stage_seconds", {})[name] = round(time.time() - t0, 3)
            with open(manifest_path, "w") as f:
                json.dump(manifest, f, indent=2)

    perf_checks: list = []
    if prediction_column and label:
        # the §2.10 model-eval members, composed the way production_suite
        # does (single-dataset branch): driven entirely by prediction /
        # probability COLUMNS — no model object, every check one bounded
        # aggregation pass
        from deepchecks_spark.suites import production_suite

        psuite = production_suite(is_comparative=False,
                                  prediction_column=prediction_column,
                                  probability_columns=probability_columns,
                                  task_type=task_type)
        perf_checks = [c for c in psuite.checks
                       if c.__class__.__module__.endswith("checks.performance")]

    def _global_verdicts():
        stats = _global_stats()
        rows = verdict_rows([evaluate(c, c.value_from_stats, ds, stats) for c in stats_checks])
        if perf_checks:
            from deepchecks_spark.core.suite import Suite

            rows += verdict_rows(Suite("runner model eval", *perf_checks).run(ds).results)
        out = local_frame(spark, rows, "check string, condition string, category string, details string")
        write_table(out, os.path.join(output_dir, "verdicts"))

    def _performance_rows():
        counts = performance_partition_counts(ds.df, ds.label_name, prediction_column,
                                              task_type)
        return partition_rows(performance, counts, performance_value_step(counts, task_type))

    def _partition_verdicts():
        # the sections are independent Spark jobs over the shared cache:
        # submit them concurrently (each leg's tail back-fills the
        # others' ramp-up — guide §2.6) and concatenate in a FIXED
        # order so the output table is deterministic. Each computes its
        # check's value per partition; partition_rows makes the rows.
        sections = {
            "stats": lambda: [r for c in stats_checks for r in partition_rows(
                c, _per_part(), functools.partial(c.value_from_stats, ds))],
            "mixed_nulls": lambda: partition_rows(mixed_nulls, _value_counts()[1]),
            "duplicates": lambda: partition_rows(duplicates, duplicates_partition_values(
                ds.df, duplicates.columns)),
        }
        # per-partition categorical drift vs the global distribution
        # (flags anomalous shards); cat features only — bounded output
        if cat_cols:
            sections["drift"] = lambda: drift_partition_rows(
                _value_counts()[0], cat_cols, _per_part())
        if ds.label_name:
            sections["conflicting_labels"] = lambda: partition_rows(
                conflicting_labels, conflicting_labels_partition_values(
                    ds.df, [c for c in ds.features if c != ds.label_name], ds.label_name))
        if prediction_column and ds.label_name:
            sections["performance"] = _performance_rows
        if reference_input:
            # join checks vs a reference snapshot, per partition: new
            # categories and train/test samples mix (VERDICT r3 next-8)
            ref_df = read_table(spark, reference_input, fmt)
            if cat_cols:
                sections["new_category"] = lambda: partition_rows(
                    new_category, new_category_partition_values(
                        _value_counts()[0], ref_df, cat_cols, _per_part()))
            sections["samples_mix"] = lambda: partition_rows(
                samples_mix, samples_mix_partition_values(ds.df, ref_df, list(ds.columns)))

        def grouped(name, fn):
            with job_tag(spark.sparkContext, f"runner.partition_verdicts.{name}"):
                return fn()

        parts = run_jobs([functools.partial(grouped, n, fn) for n, fn in sections.items()])
        rows = [r for part in parts for r in part]
        out = local_frame(
            spark, rows, "partition_id int, check string, condition string, category string, details string"
        )
        write_table(out, os.path.join(output_dir, "partition_verdicts"))

    def _violations():
        out = violation_rows(_value_counts()[0], string_cols, _global_stats())
        write_table(out, os.path.join(output_dir, "violations"))

    def _metrics():
        rows = metrics_rows(_per_part())
        out = local_frame(
            spark, rows, "partition_id int, column string, stat string, value_double double, value_string string"
        )
        write_table(out, os.path.join(output_dir, "metrics"))

    def _constraint_verdicts():
        # declarative contract verdicts: one table, partition_id = -1 for
        # the table-global rows; per-partition rows for the row-local
        # subset (the north-rule shard-locating shape)
        from deepchecks_spark.checks.constraints import (
            ROW_LOCAL, _is_big_set, validate_constraints,
            validate_constraints_by_partition)

        glob = validate_constraints(ds.df, constraints) \
            .select(F.lit(-1).alias("partition_id"), "constraint", "column",
                    "n_violations", "violation_frac", "passed")
        # oversized membership sets evaluate globally only (a broadcast
        # join cannot preserve input partition identity)
        row_local = [c for c in constraints
                     if c["kind"] in ROW_LOCAL and not _is_big_set(c)]
        if row_local:
            per = validate_constraints_by_partition(ds.df, row_local)
            glob = glob.unionByName(per)
        write_table(glob, os.path.join(output_dir, "constraint_verdicts"))

    def _anomaly():
        # Deequ-style metric-history anomaly detection: append this run's
        # global metrics to the (cross-run) history table, then score the
        # latest value of every metric against its own trailing history.
        # Resume safety is two-fold: (a) the run's run_ts is pinned into
        # the manifest BEFORE the append, and the append is skipped when
        # rows at that run_ts already exist (a parquet write commits
        # atomically, so presence means the prior attempt's append
        # finished) — a crash between the append and the verdict write
        # can no longer double-append on resume; (b) only a genuinely
        # missing history path means "first run" — any other read error
        # re-raises instead of silently restarting the history at ts 1.
        from pyspark.errors import AnalysisException

        from deepchecks_spark.checks.anomaly import metric_anomalies

        prior = None
        try:
            prior = spark.read.parquet(metrics_history)
        except AnalysisException as e:  # first run: no history yet
            msg = str(e)
            if "PATH_NOT_FOUND" not in msg and "Path does not exist" not in msg:
                raise
        next_ts = manifest.get("anomaly_run_ts")
        if next_ts is None:
            next_ts = 1 if prior is None else (
                (prior.agg(F.max("run_ts")).first()[0] or 0) + 1)
            with _manifest_lock:
                manifest["anomaly_run_ts"] = next_ts
                with open(manifest_path, "w") as f:
                    json.dump(manifest, f, indent=2)
        already = prior is not None and bool(
            prior.filter(F.col("run_ts") == next_ts).take(1))
        if not already:
            rows = [(m, next_ts, v) for m, v in global_metric_rows(_per_part())]
            new = local_frame(
                spark, rows, "metric string, run_ts bigint, value double")
            write_table(new, metrics_history, mode="append")
        rules = anomaly_rules or {"max_relative_change": 0.5, "z_threshold": 3.0}
        out = metric_anomalies(spark.read.parquet(metrics_history), **rules)
        write_table(out, os.path.join(output_dir, "anomaly_verdicts"))

    def _suggest():
        # profile -> suggested contract (checks/constraints.py): the
        # output is O(columns x rules) rows; a user pins the table as
        # next run's --constraints to close the suggest->validate loop
        from deepchecks_spark.checks.constraints import suggest_constraints

        write_table(suggest_constraints(ds.df),
                    os.path.join(output_dir, "suggested_constraints"))

    def _domain_profile():
        # per-domain corpus profile over the cached input: doc counts,
        # within-domain exact-duplicate-text rate, token mass. Text
        # shuffles only as xxhash64 (pipeline/webclean.py); the output
        # is O(domains) rows — written, never collected.
        from deepchecks_spark.pipeline.webclean import domain_profile

        # without a text column the counts/dup-rate remain meaningful
        # (the URL stands in as the "text", so duplicates = repeated URLs)
        text_col = "text" if "text" in ds.df.columns else domain_profile_col
        out = domain_profile(ds.df, domain_profile_col, text_col)
        write_table(out, os.path.join(output_dir, "domain_profile"))

    def _script_profile():
        # Unicode script-mix roll-up over the cached input: per dominant
        # script, doc counts, homoglyph-spam (mixed_script) counts and
        # per-script character totals. The per-doc profile is a
        # shuffle-free projection (pipeline/textstats.py); only the
        # O(#scripts) roll-up rows are written, never per-doc rows.
        from deepchecks_spark.pipeline.textstats import (
            SCRIPT_BLOCKS,
            script_profile,
        )

        prof = script_profile(ds.df, script_profile_col)
        out = prof.groupBy("main_script").agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum(F.col("mixed_script").cast("long")).alias("n_mixed"),
            *[F.sum(f"n_{name}").alias(f"{name}_chars")
              for name in SCRIPT_BLOCKS],
        )
        write_table(out, os.path.join(output_dir, "script_profile"))

    stages = [
        ("global_verdicts", _global_verdicts),
        ("partition_verdicts", _partition_verdicts),
        ("violations", _violations),
        ("metrics", _metrics),
    ]
    if constraints:
        stages.append(("constraint_verdicts", _constraint_verdicts))
    if metrics_history:
        stages.append(("anomaly", _anomaly))
    if suggest:
        stages.append(("suggested_constraints", _suggest))
    if domain_profile_col:
        stages.append(("domain_profile", _domain_profile))
    if script_profile_col:
        stages.append(("script_profile", _script_profile))
    try:
        # the stages are independent reads of the cached input;
        # submitting them concurrently lets the scheduler fill each
        # job's ramp-up/tail gaps — at high core counts the sequential
        # version leaves most slots idle between jobs. Materialize the
        # cache once first so the threads don't race to build it.
        with job_tag(spark.sparkContext, "runner.input"):
            df.count()
        run_jobs([functools.partial(stage, n, fn) for n, fn in stages])
    finally:
        df.unpersist()
        value_counts = once.done().get("value_counts")
        if value_counts is not None:
            value_counts[0].unpersist()
    return manifest


def main(argv=None):
    parser = argparse.ArgumentParser(description="deepchecks_spark suite runner")
    parser.add_argument("--input", required=True)
    parser.add_argument("--output", required=True)
    parser.add_argument("--format", default="parquet")
    parser.add_argument("--cat-features", default=None,
                        help="comma-separated categorical feature columns "
                             "(default: inferred)")
    parser.add_argument("--label", default=None)
    parser.add_argument("--snapshot-id", type=int, default=None)
    parser.add_argument("--no-resume", action="store_true")
    parser.add_argument("--cores", type=int, default=None)
    parser.add_argument("--reference", default=None,
                        help="reference snapshot for per-partition join checks "
                             "(new categories / samples mix)")
    parser.add_argument("--prediction-column", default=None,
                        help="predictions column enabling the model-eval checks "
                             "(requires --label)")
    parser.add_argument("--probability-columns", default=None,
                        help="JSON dict {class: probability_column} for "
                             "RocReport/CalibrationScore")
    parser.add_argument("--task-type", default="classification",
                        choices=("classification", "regression"),
                        help="model-eval scorer family for --prediction-column")
    parser.add_argument("--constraints", default=None,
                        help="path to a JSON list of constraint specs "
                             '(e.g. [{"kind": "not_null", "column": "url"}]) '
                             "evaluated into the constraint_verdicts table")
    parser.add_argument("--metrics-history", default=None,
                        help="path of the cross-run metrics-history table; "
                             "enables the anomaly stage (appends this run's "
                             "global metrics, writes anomaly_verdicts)")
    parser.add_argument("--anomaly-rules", default=None,
                        help='JSON rule dict for the anomaly stage, e.g. '
                             '{"max_relative_change": 0.5, "z_threshold": 3}')
    parser.add_argument("--domain-profile-col", default=None,
                        help="URL column enabling the per-domain corpus "
                             "profile stage (writes a domain_profile table)")
    parser.add_argument("--script-profile-col", default=None,
                        help="text column enabling the Unicode script-mix "
                             "roll-up stage (writes a script_profile table "
                             "with per-dominant-script doc/mixed counts)")
    parser.add_argument("--suggest-constraints", action="store_true",
                        help="profile the input and write a "
                             "suggested_constraints table (pin it as the "
                             "next run's --constraints)")
    args = parser.parse_args(argv)
    from deepchecks_spark.session import get_spark

    spark = get_spark("deepchecks_spark_runner", cores=args.cores)
    manifest = run_job(
        spark, args.input, args.output, fmt=args.format, label=args.label,
        cat_features=(args.cat_features.split(",")
                      if args.cat_features else None),
        snapshot_id=args.snapshot_id, resume=not args.no_resume,
        reference_input=args.reference,
        prediction_column=args.prediction_column,
        probability_columns=(json.loads(args.probability_columns)
                             if args.probability_columns else None),
        task_type=args.task_type,
        constraints=(json.load(open(args.constraints))
                     if args.constraints else None),
        metrics_history=args.metrics_history,
        anomaly_rules=(json.loads(args.anomaly_rules)
                       if args.anomaly_rules else None),
        suggest=args.suggest_constraints,
        domain_profile_col=args.domain_profile_col,
        script_profile_col=args.script_profile_col,
    )
    print(json.dumps(manifest))


if __name__ == "__main__":
    main()
