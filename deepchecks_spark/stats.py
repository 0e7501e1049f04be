"""The fused column-stats pass — stage S2 of the suite DAG (SURVEY.md §3.3).

The reference walks columns one-by-one in python loops, re-touching the
frame per check. Here ALL per-column statistics that every stats-driven
check needs are computed in ONE wide ``df.agg(...)`` (Catalyst emits a
single scan + partial/final hash aggregation; every statistic is
algebraic or sketch-mergeable, so no raw-data shuffle ever happens —
only the tiny partial-state merge). Optionally grouped by
``spark_partition_id()`` for the per-partition verdict parity required
by the north rule.

Exact distinct counts are a second, separate job over a (column, key)
melt (:func:`column_counts`; array, struct and map columns get a plain
countDistinct aggregation beside it).

The runner already holds the per-partition rows, so its suite's global
stats are not a second scan: :func:`merge_column_stats` merges them
driver-side (sums, exact extremes, Chan's parallel moments), and only
the exact distinct job runs over the whole input.

Served checks: IsSingleValue, PercentOfNulls, MixedDataTypes,
SpecialCharacters, DatasetsSizeComparison, plus min/max/avg/stddev and
numeric-parse ratios reused by drift preprocessing and
StringLengthOutOfBounds.
"""

from __future__ import annotations

import math
from dataclasses import dataclass
from decimal import ROUND_HALF_UP, Decimal, localcontext

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T

from deepchecks_spark.dataset import is_numeric_type
from deepchecks_spark.functions.columns import melt, quote_ident
from deepchecks_spark.functions.strings import is_special_only_expr, numeric_like_expr


@dataclass
class ColumnStats:
    n_rows: int
    per_column: dict  # col -> dict of statistics


def _agg_exprs(df: DataFrame, columns: list,
               include_approx_distinct: bool = True) -> list:
    """Non-distinct statistics only. Exact distinct counts are a separate
    aggregation (:func:`distinct_counts`): mixing N countDistinct aggregates
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
        # HLL over a raw binary/long-string payload rehashes the full
        # bytes per row; hashing to 8 bytes first gives the same
        # estimate ~20x cheaper on multi-KB payload columns
        approx_in = f"xxhash64({q})" if isinstance(dt, T.BinaryType) else q
        sql = {
            "n": f"count({q})",
            "approx_distinct": f"approx_count_distinct({approx_in})",
            "min": f"min({q})",
            "max": f"max({q})",
            "avg": f"avg({q})",
            "stddev": f"stddev({q})",
            "nan_count": f"sum(CAST(isnan({q}) AS BIGINT))",
            "min_len": f"min(length({q}))",
            "max_len": f"max(length({q}))",
            "avg_len": f"avg(length({q}))",
        }
        # the regex-bearing string counters: the fraction of values
        # parseable as a number (MixedDataTypes, reference
        # mixed_data_types.py:105-136) and non-empty strings made
        # entirely of special characters (SpecialCharacters, reference
        # special_chars.py:131-139)
        flags = {"numeric_like": numeric_like_expr, "special_only": is_special_only_expr}
        for name in _stat_names(dt, include_approx_distinct):
            if name in flags:
                exprs.append(F.sum(flags[name](F.col(q)).cast("long")).alias(f"{name}::{c}"))
            else:
                exprs.append(stat(sql[name], name, c))
    return exprs


def _stat_names(dt, include_approx_distinct: bool = True) -> list:
    """The statistics :func:`_agg_exprs` computes for a column of type
    ``dt``, in its order."""
    names = ["n"] + (["approx_distinct"] if include_approx_distinct else [])
    if is_numeric_type(dt):
        names += ["min", "max", "avg", "stddev"]
        if isinstance(dt, (T.FloatType, T.DoubleType)):
            names.append("nan_count")
    elif isinstance(dt, T.StringType):
        names += ["numeric_like", "special_only", "min_len", "max_len", "avg_len"]
    elif isinstance(dt, (T.TimestampType, T.DateType)):
        names += ["min", "max"]
    return names


_KEY_TYPE = "struct<a:bigint,b:bigint,d:double,s:string,w:boolean>"
# nested values keep countDistinct's own equality (see column_counts)
_NESTED = (T.ArrayType, T.StructType, T.MapType)


def _distinct_key(dt, c: str):
    """``c``'s values as one struct type shared by every scalar column,
    so the exact counts of all of them are ONE distinct aggregation over
    a (column, key) melt.

    Each column keeps an exact key: integral, boolean, date and
    timestamp values as one long, floating values as a double (distinct
    grouping normalises NaN and -0.0 the way countDistinct does),
    strings and binary as a 128-bit double-xxhash (the count is exact up
    to a 2^-128 birthday bound, and 16 bytes per value move instead of
    KB-sized text), anything else (decimals, intervals, timestamp_ntz)
    as its string form. ``w`` says whether a floating or decimal value
    is whole; it follows from the value, so it splits no group.

    Why one group: N countDistinct aggregates plan an Expand whose
    projection order follows hashes of per-read expression ids, so
    every fresh read of the same input generates different source and
    recompiles its codegen classes; the melt's ``stack`` order is the
    column order, the same on every pass."""
    q = quote_ident(c)
    a = b = d = s = w = "null"
    if isinstance(dt, (T.StringType, T.BinaryType)):
        a, b = f"xxhash64({q})", f"xxhash64(1, {q})"
    elif isinstance(dt, (T.ByteType, T.ShortType, T.IntegerType, T.LongType,
                         T.BooleanType)):
        a = q
    elif isinstance(dt, T.DateType):
        a = f"unix_date({q})"
    elif isinstance(dt, T.TimestampType):
        a = f"unix_micros({q})"
    elif isinstance(dt, (T.FloatType, T.DoubleType)):
        d = q
    else:
        s = q
    if isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
        w = f"cast({q} as double) = cast(floor({q}) as double)"
    # the cast gives every column the same (all-nullable) struct type
    return F.expr(
        f"CASE WHEN {q} IS NOT NULL THEN cast(named_struct('a', {a}, 'b', {b}, "
        f"'d', {d}, 's', {s}, 'w', {w}) as {_KEY_TYPE}) END")


def column_counts(df: DataFrame, columns: list) -> dict:
    """Exact per-column counts: {column: (non-null count, distinct
    non-null count, whole)}, where ``whole`` says whether every
    floating or decimal value is a whole number (None for other types).

    The scalar columns share one job whose generated code is the same on
    every pass over the same schema (see :func:`_distinct_key`). Array,
    struct and map columns are counted raw by countDistinct in a plain
    aggregation beside it: xxhash skips null elements and fields, so a
    hash would give [1, null] and [1] one key."""
    from deepchecks_spark.core.parallel import run_jobs  # core imports this module

    nested = [c for c in columns if isinstance(df.schema[c].dataType, _NESTED)]
    flat = [c for c in columns if c not in nested]

    def melted():
        keys = df.select(*[_distinct_key(df.schema[c].dataType, c).alias(c) for c in flat])
        return {r["column"]: (r["n"], r["distinct"], r["whole"]) for r in
                melt(keys, flat).groupBy("column").agg(
                    F.count("value").alias("n"),
                    F.countDistinct("value").alias("distinct"),
                    F.min("value.w").alias("whole")).collect()}

    def raw():
        row = df.agg(*[f(quote_ident(c)) for c in nested
                       for f in (F.count, F.countDistinct)]).first()
        return {c: (row[2 * i], row[2 * i + 1], None) for i, c in enumerate(nested)}

    got: dict = {}
    for part in run_jobs([job for job, cols in ((melted, flat), (raw, nested)) if cols]):
        got.update(part)
    # zero input rows yield no group
    return {c: got.get(c, (0, 0, None)) for c in columns}


def distinct_counts(df: DataFrame, columns: list) -> dict:
    """Exact distinct non-null count per column: {column: count}
    (:func:`column_counts`)."""
    return {c: d for c, (_, d, _) in column_counts(df, columns).items()}


def _finish_stats(n_rows: int, per_col: dict) -> ColumnStats:
    for st in per_col.values():
        st["null_count"] = n_rows - (st.get("n") or 0)
        st["percent_null"] = (st["null_count"] / n_rows) if n_rows else 0.0
    return ColumnStats(n_rows=n_rows, per_column=per_col)


def _rows_to_stats(row_dict: dict, columns: list) -> ColumnStats:
    n_rows = row_dict.pop("__n_rows")
    per_col: dict = {c: {} for c in columns}
    for k, v in row_dict.items():
        stat, _, col = k.partition("::")
        if col in per_col:
            per_col[col][stat] = v
    return _finish_stats(n_rows, per_col)


def compute_column_stats(df: DataFrame, columns: list | None = None) -> ColumnStats:
    """Fused stats pass: one non-distinct aggregation + one distinct-only
    aggregation, so ``distinct`` is the exact per-column count."""
    columns = columns if columns is not None else df.columns
    # submit both jobs concurrently — they scan the same input (which
    # Suite.run has cached and materialised) and the scheduler
    # interleaves their tasks, hiding each job's ramp-up/tail behind
    # the other's. Imported here: the core package imports this module.
    from deepchecks_spark.core.parallel import run_jobs

    row, dist = run_jobs([
        lambda: df.agg(*_agg_exprs(df, columns, include_approx_distinct=False))
        .first().asDict(),
        lambda: distinct_counts(df, columns),
    ])
    row.update({f"distinct::{c}": n for c, n in dist.items()})
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


# how each non-distinct statistic combines across partitions; avg and
# stddev combine as moments, the sketches are not merged at all
_SUMMED = frozenset(("nan_count", "numeric_like", "special_only"))
_MERGE_EXTREME = {"min": min, "min_len": min, "max": max, "max_len": max}
_NOT_MERGED = frozenset(("approx_distinct", "distinct", "null_count", "percent_null",
                         "stddev"))


def _nan_last(v):
    # Spark orders NaN above every other value
    return (isinstance(v, float) and math.isnan(v), v)


def _moments(ns: list, means: list, sds: list | None = None):
    """(mean, sample stddev) of the union of groups given as (count,
    mean, sample stddev) triples — Chan et al.'s parallel formula; the
    stddev only when ``sds`` is given. Groups with no values are
    skipped; like Spark, the mean of zero values and the stddev of
    fewer than two are None."""
    groups = [(n, m, sd) for n, m, sd in zip(ns, means, sds or [None] * len(ns)) if n]
    total = sum(n for n, _, _ in groups)
    if not total:
        return None, None
    if isinstance(groups[0][1], Decimal):
        # a decimal column's mean stays a Decimal, rounded half up at
        # the scale of Spark's avg (the column's scale + 4), which the
        # partition means carry
        with localcontext() as ctx:
            ctx.prec = 100
            mean = (sum(n * m for n, m, _ in groups) / total).quantize(
                groups[0][1], rounding=ROUND_HALF_UP)
    else:
        mean = sum(n * m for n, m, _ in groups) / total
    if sds is None or total < 2:
        return mean, None
    m2 = sum((sd * sd * (n - 1) if n > 1 else 0.0) + n * (float(m) - float(mean)) ** 2
             for n, m, sd in groups)
    return mean, math.sqrt(m2 / (total - 1))


def merge_column_stats(parts: dict, columns: list | None = None,
                       distinct: dict | None = None, schema=None) -> ColumnStats:
    """Global :class:`ColumnStats` from :func:`compute_column_stats_by_partition`'s
    rows, with no further scan: the non-distinct statistics of
    :func:`compute_column_stats`, plus ``distinct`` when the exact
    counts are given (:func:`distinct_counts`; the partitions' HLL
    estimates do not merge into an exact count).

    Counts and the number-like / special-only counters are sums; min,
    max and the string-length bounds merge exactly (NaN ordered last, as
    in Spark); avg, stddev and avg_len combine as (count, mean, M2)
    moments, equal to the single-pass values up to floating-point
    rounding. A decimal mean is rounded at Spark's scale from partition
    means Spark already rounded there, so it can sit one unit in that
    last place from the single-pass mean.

    Zero input rows leave no partition row: ``schema`` (the input's
    ``StructType``) then names each of ``columns``' statistics, with
    the values :func:`compute_column_stats` gives over no rows."""
    states = list(parts.values())
    if columns is None:
        columns = list(states[0].per_column) if states else []
    per_col = {}
    for c in columns:
        rows = [s.per_column[c] for s in states]
        names = list(rows[0]) if rows else _stat_names(schema[c].dataType)
        ns = [st["n"] for st in rows]
        merged = {}
        for stat in names:
            if stat in _NOT_MERGED:
                continue
            vals = [st[stat] for st in rows]
            present = [v for v in vals if v is not None]
            if stat == "n":
                merged["n"] = sum(ns)
            elif stat in _SUMMED:
                merged[stat] = sum(present) if present else None
            elif stat in _MERGE_EXTREME:
                merged[stat] = _MERGE_EXTREME[stat](present, key=_nan_last) if present else None
            elif stat == "avg":
                merged["avg"], merged["stddev"] = _moments(
                    ns, vals, [st["stddev"] for st in rows])
            elif stat == "avg_len":
                merged["avg_len"], _ = _moments(ns, vals)
        if distinct is not None:
            merged["distinct"] = distinct[c]
        per_col[c] = merged
    return _finish_stats(sum(s.n_rows for s in states), per_col)
