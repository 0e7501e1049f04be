"""The fused column-stats pass — stage S2 of the suite DAG (SURVEY.md §3.3).

The reference walks columns one-by-one in python loops, re-touching the
frame per check. Here ALL per-column statistics that every stats-driven
check needs are computed in ONE wide ``df.agg(...)`` (Catalyst emits a
single scan + partial/final hash aggregation; every statistic is
algebraic or sketch-mergeable, so no raw-data shuffle ever happens —
only the tiny partial-state merge). Optionally grouped by
``spark_partition_id()`` for the per-partition verdict parity required
by the north rule.

Served checks: IsSingleValue, PercentOfNulls, MixedDataTypes,
SpecialCharacters, DatasetsSizeComparison, plus min/max/avg/stddev and
numeric-parse ratios reused by drift preprocessing and
StringLengthOutOfBounds.
"""

from __future__ import annotations

from dataclasses import dataclass

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepchecks_spark.dataset import is_numeric_type
from deepchecks_spark.functions.columns import quote_ident
from deepchecks_spark.functions.strings import is_special_only_expr, numeric_like_expr


@dataclass
class ColumnStats:
    n_rows: int
    per_column: dict  # col -> dict of statistics


def _agg_exprs(df: DataFrame, columns: list,
               include_approx_distinct: bool = True) -> list:
    """Non-distinct statistics only. Exact distinct counts are a separate
    aggregation (`_distinct_exprs`): mixing N countDistinct aggregates
    with regular ones makes Catalyst plan an Expand that replicates every
    input row N+1 times *and* evaluates every projection on each replica
    — measured 12× slowdown on a 600k-row scan. Two clean jobs (plain agg
    + distinct-only agg, both over the persisted input) are ~10× faster
    and both stay inside WholeStageCodegen.

    ``include_approx_distinct=False`` drops the per-column HLL sketches:
    the global pass runs the exact distinct aggregation anyway, so there
    the sketch is never read (it exists only to SERVE as ``distinct`` in
    the per-partition pass), and it is the single most expensive family
    of the fused pass (measured ~0.9 s warm / ~2 s cold of the pass's
    time on 600k×11 — per-row HLL register updates for every column)."""
    # parsed expression strings wherever the SQL form is unambiguous:
    # the ~8 aggregates per column then cost ~1 py4j round-trip each
    # instead of 4-6 (measured 0.7 s -> ~0.1 s of driver Python on a
    # 16-column table — this builder runs once per suite AND once per
    # runner stage-set). The regex-bearing special_only family stays a
    # Column expression (escaping a \p{L} class through the SQL string
    # parser is fragile); parsed trees for the rest are node-identical.
    def stat(sql, name, c):
        return F.expr(f"{sql} AS {quote_ident(f'{name}::{c}')}")

    exprs = [F.expr("count(1) AS __n_rows")]
    for c in columns:
        dt = df.schema[c].dataType
        q = quote_ident(c)
        col = F.col(q)
        exprs.append(stat(f"count({q})", "n", c))
        if include_approx_distinct:
            # HLL over a raw binary/long-string payload rehashes the full
            # bytes per row; hashing to 8 bytes first gives the same
            # estimate ~20× cheaper on multi-KB payload columns
            approx_in = f"xxhash64({q})" if isinstance(dt, T.BinaryType) else q
            exprs.append(stat(f"approx_count_distinct({approx_in})", "approx_distinct", c))
        if is_numeric_type(dt):
            exprs += [
                stat(f"min({q})", "min", c),
                stat(f"max({q})", "max", c),
                stat(f"avg({q})", "avg", c),
                stat(f"stddev({q})", "stddev", c),
            ]
            if isinstance(dt, (T.FloatType, T.DoubleType)):
                exprs.append(stat(f"sum(CAST(isnan({q}) AS BIGINT))", "nan_count", c))
        elif isinstance(dt, T.StringType):
            exprs += [
                # fraction of values parseable as a number (MixedDataTypes,
                # reference mixed_data_types.py:105-136)
                F.sum(numeric_like_expr(col).cast("long")).alias(f"numeric_like::{c}"),
                # non-empty strings made entirely of special characters
                # (SpecialCharacters, reference special_chars.py:131-139)
                F.sum(is_special_only_expr(col).cast("long")).alias(f"special_only::{c}"),
                stat(f"min(length({q}))", "min_len", c),
                stat(f"max(length({q}))", "max_len", c),
                stat(f"avg(length({q}))", "avg_len", c),
            ]
        elif isinstance(dt, (T.TimestampType, T.DateType)):
            exprs += [stat(f"min({q})", "min", c), stat(f"max({q})", "max", c)]
    return exprs


def _distinct_exprs(df: DataFrame, columns: list) -> list:
    """Exact distinct counts. For payload columns (strings/binary) the
    value is replaced by a 128-bit double-xxhash BEFORE the distinct
    aggregation: countDistinct plans an Expand that funnels every value
    through the hash table, and KB-sized payloads turn that into tens of
    GB of memory traffic. Hashing preserves the count exactly up to a
    2^-128 birthday bound while moving 16 bytes per value. Numeric /
    timestamp columns stay raw."""
    exprs = []
    for c in columns:
        col = F.col(quote_ident(c))
        dt = df.schema[c].dataType
        if isinstance(dt, (T.StringType, T.BinaryType)):
            hashed = F.when(
                col.isNotNull(),
                F.struct(F.xxhash64(col), F.xxhash64(F.lit(1), col)),
            )
            exprs.append(F.countDistinct(hashed).alias(f"distinct::{c}"))
        else:
            exprs.append(F.countDistinct(col).alias(f"distinct::{c}"))
    return exprs


def _rows_to_stats(row_dict: dict, columns: list) -> ColumnStats:
    n_rows = row_dict.pop("__n_rows")
    per_col: dict = {c: {} for c in columns}
    for k, v in row_dict.items():
        stat, _, col = k.partition("::")
        if col in per_col:
            per_col[col][stat] = v
    for c in columns:
        st = per_col[c]
        st["null_count"] = n_rows - (st.get("n") or 0)
        st["percent_null"] = (st["null_count"] / n_rows) if n_rows else 0.0
    return ColumnStats(n_rows=n_rows, per_column=per_col)


def compute_column_stats(df: DataFrame, columns: list | None = None) -> ColumnStats:
    """Fused stats pass: one non-distinct aggregation + one distinct-only
    aggregation, so ``distinct`` is the exact per-column count."""
    columns = columns if columns is not None else df.columns
    # submit both jobs concurrently — they scan the same (cached) input
    # and the scheduler interleaves their tasks, hiding each job's
    # ramp-up/tail behind the other's. Imported here: the core package
    # imports this module.
    from deepchecks_spark.core.parallel import run_jobs

    if df.is_cached:
        df.count()  # materialize once so the two jobs don't race to build the cache
    row, dist = run_jobs([
        lambda: df.agg(*_agg_exprs(df, columns, include_approx_distinct=False))
        .first().asDict(),
        lambda: df.agg(*_distinct_exprs(df, columns)).first().asDict(),
    ])
    row.update(dist)
    return _rows_to_stats(row, columns)


def compute_column_stats_by_partition(df: DataFrame, columns: list | None = None) -> dict:
    """Per-partition variant: groupBy(spark_partition_id()) — the lineage/
    parity surface of the north rule. Returns {partition_id: ColumnStats}.

    ONE job: the HLL sketch (approx_count_distinct, in the main agg)
    serves as ``distinct``. Per-partition exact countDistinct would
    shuffle every distinct payload (text/html) per partition branch; the
    sketch is mergeable per-partition state — the only shape that
    survives 10^12 rows — and is exact at the small cardinalities where
    the IsSingleValue verdict needs exactness. The group count equals
    the partition count, so aggregation state stays tiny regardless of
    data volume."""
    columns = columns if columns is not None else df.columns
    rows = {
        r["__pid"]: r.asDict()
        for r in df.withColumn("__pid", F.spark_partition_id()).groupBy("__pid")
        .agg(*_agg_exprs(df, columns))
        .collect()
    }
    out = {}
    for pid, d in rows.items():
        d.pop("__pid", None)
        for c in columns:
            d[f"distinct::{c}"] = d[f"approx_distinct::{c}"]
        out[pid] = _rows_to_stats(d, columns)
    return out
