"""Profile-driven structure DISCOVERY checks — the metadata half of the
validation engine (Deequ's suggestion/profiling pillar, VLDB'18 §3-4 —
public semantics only; the reference deepchecks has no discovery
surface, its Dataset infers dtypes and the integrity checks assume the
user already knows the keys/dependencies).

Four operators, each a bounded-output aggregation over the raw table:

- :func:`functional_dependencies` — exact g3 violation rate for
  candidate A→B dependencies (Kivinen & Mannila's g3: the minimum
  fraction of rows to delete for the FD to hold exactly).
- :func:`discover_keys` — level-wise (apriori) candidate-key discovery
  for single columns and pairs, with an HLL product-bound pruning rule
  for the pair level at corpus scale and an ``exact`` mode whose output
  is fully SQL-reproducible.
- :func:`benford_first_digit` — first-significant-digit distribution of
  a numeric column vs Benford's law (the classic fabricated-data /
  unit-mixup detector for price-like columns).
- :func:`segment_completeness` — per-segment null rates for a set of
  value columns with excess-over-global flagging (completeness that a
  global null count hides: one dead source/language partition).
- :func:`freshness` — per-group data recency (lag of the group's newest
  timestamp behind the table's newest) with a staleness flag; the
  timeliness check for continuously-crawled corpora.

Scale shape (what must survive 10^12 rows):

- ``functional_dependencies`` melts every candidate pair into
  (pair, determinant, dependent) BEFORE aggregating, so the whole
  operator is ONE scan + two shuffles whose width is the distinct
  (pair, a, b) combinations — map-side combine collapses the raw rows;
  the raw values shuffle as strings but only one (a, b) row per
  distinct combination moves. Output is one row per candidate pair.
- ``discover_keys`` runs pass 1 as one fused agg (count, per-column
  nulls + HLL distinct); singles are confirmed exactly only when the
  HLL ratio clears the triage threshold, and pairs are attempted only
  when the HLL PRODUCT bound ``est(dA)·est(dB) ≥ n`` holds (distinct
  of a pair never exceeds the product of the marginals, so a failing
  bound disproves the key without touching the data) and neither side
  is already a key (minimality). Singles are confirmed by
  ``stats.distinct_counts`` (one distinct group over a (column, key)
  melt); pairs by a projection-pruned count_distinct — the documented
  Expand-factor trade from constraints.py, bounded by the candidate
  count.
- ``benford_first_digit`` reduces each value to its first significant
  digit JVM-side (integer/string arithmetic, no float log — bit-stable
  across engines) and aggregates to ≤9 rows.
- ``segment_completeness`` explodes the value columns into
  (segment, column, is_null) and aggregates once; the excess join is a
  broadcast of one row per value column.
- ``freshness`` is one groupBy(max, count) plus an unpartitioned max
  window over the GROUPED result (never a second scan of the raw
  table; the window input is O(groups)).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepchecks_spark.functions.columns import quote_ident
from deepchecks_spark.io import local_frame
from deepchecks_spark.stats import distinct_counts

__all__ = [
    "functional_dependencies",
    "discover_keys",
    "benford_first_digit",
    "segment_completeness",
    "freshness",
]


# ---------------------------------------------------------------------------
# functional dependencies
# ---------------------------------------------------------------------------

def functional_dependencies(df: DataFrame, pairs: list) -> DataFrame:
    """Exact g3 violation measure for candidate functional dependencies.

    ``pairs`` is a list of (determinant, dependent) column-name tuples.
    For each pair A→B the result row reports::

        determinant, dependent, n_rows, n_groups,
        n_violating_groups,   -- determinant groups with >1 distinct B
        g3_error,             -- min fraction of rows to delete so A→B
                              -- holds exactly (Kivinen & Mannila g3)
        holds                 -- g3_error == 0

    NULL is treated as an ordinary value on both sides (SQL GROUP BY
    semantics), so ``NULL → x`` conflicts count like any other; values
    are compared through an injective string cast carried next to an
    is-null flag, so ``NULL`` and the string ``'NULL'`` never collide.
    """
    pairs = [(str(a), str(b)) for a, b in pairs]
    if not pairs:
        raise ValueError("functional_dependencies needs at least one (A, B) pair")
    for a, b in pairs:
        for c in (a, b):
            if c not in df.columns:
                raise ValueError(f"functional_dependencies: no column {c!r}")
    structs = [
        F.struct(
            F.lit(i).alias("pid"),
            F.col(a).cast("string").alias("a"),
            F.col(a).isNull().alias("an"),
            F.col(b).cast("string").alias("b"),
            F.col(b).isNull().alias("bn"),
        )
        for i, (a, b) in enumerate(pairs)
    ]
    melted = df.select(F.explode(F.array(*structs)).alias("s")).select("s.*")
    # distinct (pair, a, b) combination counts — map-side combine does
    # the heavy lifting; the second agg runs over one row per (A, B)
    per_ab = melted.groupBy("pid", "a", "an", "b", "bn").agg(
        F.count(F.lit(1)).alias("n"))
    per_a = per_ab.groupBy("pid", "a", "an").agg(
        F.sum("n").alias("tot"),
        F.max("n").alias("mx"),
        F.count(F.lit(1)).alias("nb"),
    )
    agg = per_a.groupBy("pid").agg(
        F.sum("tot").alias("n_rows"),
        F.count(F.lit(1)).alias("n_groups"),
        F.sum(F.when(F.col("nb") > 1, 1).otherwise(0)).alias("n_violating_groups"),
        F.sum(F.col("tot") - F.col("mx")).alias("n_delete"),
    )
    name = F.create_map(*[
        x for i, (a, b) in enumerate(pairs)
        for x in (F.lit(i), F.struct(F.lit(a).alias("d"), F.lit(b).alias("p")))
    ])
    return (
        agg.select(
            name[F.col("pid")]["d"].alias("determinant"),
            name[F.col("pid")]["p"].alias("dependent"),
            "n_rows", "n_groups", "n_violating_groups",
            (F.col("n_delete") / F.col("n_rows")).alias("g3_error"),
            (F.col("n_violating_groups") == 0).alias("holds"),
        )
    )


# ---------------------------------------------------------------------------
# candidate-key discovery
# ---------------------------------------------------------------------------

def discover_keys(df: DataFrame, columns: list | None = None,
                  max_size: int = 2, triage: str = "hll",
                  unique_triage: float = 0.9, rsd: float = 0.05) -> DataFrame:
    """Level-wise candidate-key discovery (single columns, then pairs).

    A column set is a KEY when it has zero NULLs in every member and its
    exact distinct tuple count equals the row count (SQL PRIMARY KEY
    semantics). Returns one row per examined candidate::

        key            -- comma-joined column list
        size           -- 1 or 2
        n_distinct     -- EXACT distinct count (NULL when pruned without
                          an exact pass — ``triage='hll'`` only)
        n_rows, distinct_ratio, has_nulls, is_key

    ``triage='hll'`` (the corpus-scale default) confirms exactly only
    the candidates the sketch pass cannot rule out: singles whose HLL
    distinct ratio ≥ ``unique_triage`` and NULL-free pairs whose HLL
    product bound ``est(dA)·est(dB)·(1+3·rsd)² ≥ n`` admits a key
    (distinct(A,B) ≤ distinct(A)·distinct(B), so a failing bound
    DISPROVES the key without scanning); pairs containing a confirmed
    single key are skipped (minimality — supersets of keys are keys).
    ``triage='exact'`` confirms every candidate exactly — deterministic,
    fully SQL-reproducible output (the oracle mode); same key verdicts
    as 'hll' whenever the HLL margins hold (property-tested).
    """
    if triage not in ("hll", "exact"):
        raise ValueError("triage must be 'hll' or 'exact'")
    if max_size not in (1, 2):
        raise ValueError("max_size must be 1 or 2 (level-wise pairs only)")
    cols = list(columns) if columns is not None else list(df.columns)
    for c in cols:
        if c not in df.columns:
            raise ValueError(f"discover_keys: no column {c!r}")
    if not cols:
        raise ValueError("discover_keys needs at least one column")

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in cols:
        col = F.col(quote_ident(c))
        aggs.append(F.sum(F.when(col.isNull(), 1).otherwise(0)).alias(f"__nulls__{c}"))
        aggs.append(F.approx_count_distinct(col, rsd=rsd).alias(f"__apx__{c}"))
    prof = df.agg(*aggs).collect()[0]
    n = prof["__n"]
    nulls = {c: int(prof[f"__nulls__{c}"] or 0) for c in cols}
    apx = {c: int(prof[f"__apx__{c}"] or 0) for c in cols}

    if triage == "exact":
        single_cand = list(cols)
    else:
        single_cand = [c for c in cols
                       if n == 0 or apx[c] / n >= unique_triage]
    exact = distinct_counts(df, single_cand) if single_cand and n > 0 else {}

    rows = []
    single_key = {}
    for c in cols:
        d = exact.get(c)
        is_key = d is not None and n > 0 and nulls[c] == 0 and d == n
        single_key[c] = is_key
        rows.append((c, 1, d, n,
                     (d / n) if (d is not None and n) else None,
                     nulls[c] > 0, bool(is_key)))

    if max_size >= 2 and n > 0:
        slack = (1.0 + 3.0 * rsd) ** 2
        pair_cand, pruned = [], []
        for i in range(len(cols)):
            for j in range(i + 1, len(cols)):
                a, b = cols[i], cols[j]
                if single_key[a] or single_key[b]:
                    continue  # minimality: supersets of keys are keys
                if nulls[a] > 0 or nulls[b] > 0:
                    rows.append((f"{a},{b}", 2, None, n, None, True, False))
                    continue
                if triage == "hll" and apx[a] * apx[b] * slack < n:
                    pruned.append((a, b))  # product bound disproves the key
                    continue
                pair_cand.append((a, b))
        for a, b in pruned:
            rows.append((f"{a},{b}", 2, None, n, None, False, False))
        if pair_cand:
            row = df.select(*sorted({c for p in pair_cand for c in p})).agg(*[
                F.count_distinct(F.struct(F.col(a), F.col(b))).alias(f"{a}|{b}")
                for a, b in pair_cand
            ]).collect()[0]
            for a, b in pair_cand:
                d = int(row[f"{a}|{b}"] or 0)
                rows.append((f"{a},{b}", 2, d, n, d / n, False, d == n))

    out = local_frame(
        df.sparkSession, rows,
        "key string, size int, n_distinct bigint, n_rows bigint, "
        "distinct_ratio double, has_nulls boolean, is_key boolean",
    )
    return out.orderBy("size", "key")


# ---------------------------------------------------------------------------
# Benford first-digit distribution
# ---------------------------------------------------------------------------

def benford_first_digit(df: DataFrame, col: str, scale: int = 2) -> DataFrame:
    """First-significant-digit distribution of ``abs(col)`` vs Benford's
    law expectation ``log10(1 + 1/d)``. Values are fixed-point scaled by
    ``10^scale`` and rounded to integers FIRST, so the digit extraction
    is integer/string arithmetic (bit-stable across engines — no float
    log10 whose last-ulp rounding could flip a boundary value); zero and
    NULL values are excluded, as are values the fixed-point grid cannot
    represent (NaN/±Inf and ``|v|·10^scale`` beyond bigint range, which
    would otherwise raise under the default ANSI session). Returns ≤9
    rows::

        digit, n, observed_frac, expected_frac, abs_deviation

    all fractions rounded to 9 dp. The total absolute deviation (sum of
    ``abs_deviation``; MAD × 9) is the usual audit statistic — left to
    the caller, the table is already ≤9 rows.
    """
    if scale < 0:
        raise ValueError("scale must be >= 0")
    scaled = F.col(col).cast("double") * F.lit(float(10 ** scale))
    # representable on the fixed-point grid: finite and within bigint
    # (NaN fails isnan; ±Inf fails the magnitude bound — without this
    # the ANSI double→bigint cast raises CAST_OVERFLOW)
    representable = ~F.isnan(scaled) & (F.abs(scaled) <= F.lit(9.2e18))
    i = F.abs(F.round(scaled, 0).cast("bigint"))
    digit = F.substring(i.cast("string"), 1, 1).cast("int")
    per = (
        df.filter(F.col(col).isNotNull())
        .filter(representable)
        .select(i.alias("__i"), digit.alias("digit"))
        .filter(F.col("__i") > 0)
        .groupBy("digit").agg(F.count(F.lit(1)).alias("n"))
    )
    # ≤9 rows by here: the total is a one-row agg over the aggregated
    # output (broadcast back), never a second pass over the data
    total = per.agg(F.sum("n").alias("__total"))
    expected = F.log10(F.lit(1.0) + F.lit(1.0) / F.col("digit"))
    return (
        per.crossJoin(F.broadcast(total))
        .select(
            "digit", "n",
            F.round(F.col("n") / F.col("__total"), 9).alias("observed_frac"),
            F.round(expected, 9).alias("expected_frac"),
        )
        .withColumn("abs_deviation",
                    F.round(F.abs(F.col("observed_frac") - F.col("expected_frac")), 9))
        .orderBy("digit")
    )


# ---------------------------------------------------------------------------
# per-segment completeness
# ---------------------------------------------------------------------------

def segment_completeness(df: DataFrame, segment_cols: list, value_cols: list,
                         excess_threshold: float = 0.05) -> DataFrame:
    """Null rate of each value column within each segment, flagged when
    it exceeds the column's GLOBAL null rate by more than
    ``excess_threshold`` (absolute). The check a global null count
    hides: one dead source or language partition. One row per
    (segment, value column)::

        <segment_cols...>, column, n, n_null, null_frac,
        global_null_frac, excess, flagged

    Scale shape: value columns are reduced to is-null flags and melted
    BEFORE the aggregation (the wide rows never shuffle); global rates
    come from a second agg over the GROUPED output (one row per column,
    broadcast back). Output is O(segments × value columns).
    """
    segment_cols = list(segment_cols)
    value_cols = list(value_cols)
    if not segment_cols or not value_cols:
        raise ValueError("segment_completeness needs segment and value columns")
    structs = [
        F.struct(F.lit(c).alias("column"),
                 F.col(c).isNull().cast("long").alias("isn"))
        for c in value_cols
    ]
    melted = df.select(*segment_cols, F.explode(F.array(*structs)).alias("s")) \
        .select(*segment_cols, "s.column", "s.isn")
    seg = melted.groupBy(*segment_cols, "column").agg(
        F.count(F.lit(1)).alias("n"), F.sum("isn").alias("n_null"))
    glob = seg.groupBy("column").agg(
        (F.sum("n_null") / F.sum("n")).alias("global_null_frac"))
    return (
        seg.join(F.broadcast(glob), "column")
        .select(
            *segment_cols, "column", "n", "n_null",
            (F.col("n_null") / F.col("n")).alias("null_frac"),
            "global_null_frac",
            (F.col("n_null") / F.col("n") - F.col("global_null_frac"))
            .alias("excess"),
        )
        .withColumn("flagged", F.col("excess") > F.lit(float(excess_threshold)))
    )


# ---------------------------------------------------------------------------
# freshness / timeliness
# ---------------------------------------------------------------------------

def freshness(df: DataFrame, ts_col: str, group_cols: list,
              max_lag_seconds: float = 86_400.0) -> DataFrame:
    """Per-group data recency: how far each group's newest ``ts_col``
    lags the table's newest, with ``is_stale = lag > max_lag_seconds``.
    The timeliness check for continuously-crawled corpora (a source
    whose newest page is a week old has stopped crawling). One row per
    group::

        <group_cols...>, n, max_ts, lag_seconds, is_stale

    NULL timestamps are excluded. The global newest is a one-row
    ``grouped.agg(max)`` broadcast back over the grouped output (the
    same shape as segment_completeness at discovery.py:286) — NOT an
    unpartitioned max window, which would funnel every group row
    through a single window task (at per-URL/per-domain granularity,
    10^7–10^9 groups, that one task is the job). The max deliberately
    references BOTH grouped columns (``when(n >= 0, max_ts)`` — n is a
    count, always ≥ 1, so the value is unchanged): column pruning would
    otherwise rewrite the one-row branch's aggregation without ``n``,
    the two subtrees would stop being canonically equal, and AQE's
    exchange reuse could not fire — the raw table would be scanned
    twice. With the block in place the branch reads the spine's
    shuffle output (ReusedExchange, pin in test_discovery), so the raw
    table is still scanned once.
    """
    group_cols = list(group_cols)
    if not group_cols:
        raise ValueError("freshness needs at least one group column")
    grouped = (
        df.filter(F.col(ts_col).isNotNull())
        .groupBy(*group_cols)
        .agg(F.count(F.lit(1)).alias("n"), F.max(ts_col).alias("max_ts"))
    )
    gmax_row = grouped.agg(
        F.max(F.when(F.col("n") >= 0, F.col("max_ts"))).alias("__gmax"))
    # exact integer microsecond difference, ONE division — bit-stable
    # (a double cast per timestamp would round twice before subtracting);
    # timestamp_diff handles TIMESTAMP and TIMESTAMP_NTZ alike
    lag = (F.timestamp_diff("MICROSECOND", F.col("max_ts"), F.col("__gmax"))
           / F.lit(1_000_000.0))
    return grouped.crossJoin(F.broadcast(gmax_row)).select(
        *group_cols, "n", "max_ts",
        lag.alias("lag_seconds"),
        (lag > F.lit(float(max_lag_seconds))).alias("is_stale"),
    )
