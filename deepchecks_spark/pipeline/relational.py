"""Temporal / relational operators Spark lacks as built-ins: as-of
join, range (interval) join, gap sessionization, Misra-Gries heavy
hitters and a join-skew profiler. The reference (deepchecks/deepchecks)
validates already-joined frames and has none of these; they are the
standard event-log / training-telemetry primitives a corpus-scale
pipeline needs next to the cleaning and dedup stages (kdb+/pandas
``merge_asof`` semantics for the as-of join; Misra & Gries 1982 /
Agarwal et al. 2013 mergeable-summaries for the heavy hitters).

Scale shapes, per operator (what must survive 10^12 rows):

- ``asof_join``: the merge formulation, NOT a range join — both sides
  are tagged and unioned, then ONE window pass partitioned by the join
  keys carries the most recent right payload forward
  (``last(ignorenulls)`` over rows unbounded-preceding). Exactly one
  Exchange of |L|+|R| slim rows; no per-row probe, no interval
  explosion, no driver state. A hot key is AQE-splittable only at the
  sort, so for a single pathological key pre-split by time range.
- ``range_join``: equi-join on (keys, time-bin) after exploding each
  interval into the bins it covers — never a BroadcastNestedLoopJoin
  or CartesianProduct. With ``bin_width`` ≈ the typical interval
  length each interval lands in ≤ 2 bins, so the shuffle is
  O(|points| + 2|intervals|); a (point, interval) pair can only meet
  in the point's single bin, so no post-join dedup is needed.
- ``sessionize``: one window pass partitioned by the entity key
  (gap flag via ``lag``, session id via running sum — both in the same
  window, one Exchange); ``session_stats`` re-aggregates the grouped
  output by (entity, session).
- ``heavy_hitters``: candidate generation is a Misra-Gries summary of
  capacity ``k`` per partition (Arrow-batched ``mapInPandas``,
  O(k) state per task regardless of column cardinality — the case
  where a plain groupBy's hash table would spill), merged by one
  bounded groupBy; the exact recount scans the corpus once more but
  aggregates ONLY the ≤ k·partitions candidate values (broadcast
  semi-join). The MG merge bound (Agarwal et al. 2013) guarantees any
  value with true count > n/(k+1) survives to the candidate set, so
  with ``threshold > n/(k+1)`` the output is EXACT and complete —
  enforced at runtime, raising with the minimal safe ``k``.
- ``skew_profile``: groupBy(count) with map-side combine, then a
  one-row stats agg plus a TakeOrderedAndProject top-k over the
  GROUPED output — the raw table is scanned once.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql.window import Window

__all__ = [
    "asof_join",
    "range_join",
    "sessionize",
    "session_stats",
    "heavy_hitters",
    "skew_profile",
]


def _is_ts(df: DataFrame, col: str) -> bool:
    dt = dict(df.dtypes)[col]
    return dt.startswith("timestamp")


def _us(col) -> F.Column:
    # unix_micros rejects TIMESTAMP_NTZ; the cast is a no-op for
    # TIMESTAMP and a deterministic UTC reinterpretation for NTZ
    # (session tz is pinned to UTC in session.py) — only differences
    # and ordering are ever used, so the offset choice cancels
    return F.unix_micros(F.col(col).cast("timestamp") if isinstance(col, str)
                         else col.cast("timestamp"))


# ---------------------------------------------------------------------------
# as-of join
# ---------------------------------------------------------------------------

def asof_join(left: DataFrame, right: DataFrame, on: list, ts_col: str,
              right_ts_col: str | None = None, payload_cols: list | None = None,
              tolerance_seconds: float | None = None,
              direction: str = "backward", suffix: str = "_right") -> DataFrame:
    """For every left row, attach the single right row with matching
    ``on`` keys whose timestamp is the nearest at-or-before
    (``direction='backward'``) or at-or-after (``'forward'``) the left
    row's ``ts_col`` — pandas ``merge_asof`` / kdb+ ``aj`` semantics,
    left-outer (unmatched left rows keep NULL payloads).

    Output: every left column, then for each right payload column (and
    the right timestamp, aliased ``right_ts_col + suffix``) a column
    suffixed with ``suffix`` whenever the name collides with a left
    column. ``tolerance_seconds`` (timestamp inputs) voids matches
    farther than the tolerance.

    Ties: a left row at exactly the right row's timestamp DOES match
    it. If several right rows share (keys, timestamp) the one with the
    greatest payload struct (Spark struct ordering) wins —
    deterministic, but pre-aggregate the right side if that choice is
    meaningful.

    Scale: the merge formulation — tag, union, one window partitioned
    by the keys that carries the latest non-null payload forward.
    Exactly ONE Exchange of |L|+|R| rows; nothing explodes, nothing
    nested-loops (plan-pinned in tests/test_plans.py).
    """
    if direction not in ("backward", "forward"):
        raise ValueError("direction must be 'backward' or 'forward'")
    on = [str(c) for c in on]
    rts = right_ts_col or ts_col
    if payload_cols is None:
        payload_cols = [c for c in right.columns if c not in on and c != rts]
    for c in on + [ts_col]:
        if c not in left.columns:
            raise ValueError(f"asof_join: left has no column {c!r}")
    for c in on + [rts] + list(payload_cols):
        if c not in right.columns:
            raise ValueError(f"asof_join: right has no column {c!r}")
    if _is_ts(left, ts_col) != _is_ts(right, rts):
        raise ValueError("asof_join: ts_col/right_ts_col types disagree")

    left_cols = list(left.columns)
    out_ts = rts + (suffix if rts in left_cols else "")
    out_payload = {c: c + (suffix if c in left_cols else "") for c in payload_cols}

    pstruct = F.struct(F.col(rts).alias("__ts"),
                       *[F.col(c).alias(c) for c in payload_cols])
    r = right.select(*on, F.col(rts).alias("__t"),
                     F.lit(0).alias("__side"), pstruct.alias("__p"),
                     *[F.lit(None).cast(left.schema[c].dataType).alias(f"__l_{c}")
                       for c in left_cols])
    l = left.select(*on, F.col(ts_col).alias("__t"),
                    F.lit(1).alias("__side"),
                    F.lit(None).cast(r.schema["__p"].dataType).alias("__p"),
                    *[F.col(c).alias(f"__l_{c}") for c in left_cols])
    u = r.unionByName(l)

    asc = direction == "backward"
    order = [F.col("__t").asc() if asc else F.col("__t").desc(),
             # left rows sort AFTER right rows at equal t in both
             # directions, so an exact-timestamp right row is visible
             "__side",
             # within one (keys, t) group the LAST right row wins, so
             # payload ascending makes the greatest struct win in both
             # directions (the t ordering never crosses a t group)
             F.col("__p").asc()]
    w = (Window.partitionBy(*on).orderBy(*order)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    matched = F.last("__p", ignorenulls=True).over(w)

    if tolerance_seconds is not None:
        if not _is_ts(left, ts_col):
            raise ValueError("tolerance_seconds needs timestamp ts columns")
        gap_us = F.abs(_us("__t") - _us(matched["__ts"]))
        matched = F.when(
            gap_us <= F.lit(int(round(tolerance_seconds * 1_000_000))),
            matched)

    return (
        u.select("*", matched.alias("__m"))
        .filter(F.col("__side") == 1)
        .select(
            *[F.col(f"__l_{c}").alias(c) for c in left_cols],
            F.col("__m")["__ts"].alias(out_ts),
            *[F.col("__m")[c].alias(out_payload[c]) for c in payload_cols],
        )
    )


# ---------------------------------------------------------------------------
# range (interval) join
# ---------------------------------------------------------------------------

def range_join(points: DataFrame, intervals: DataFrame, point_col: str,
               start_col: str, end_col: str, on: list | None = None,
               bin_width_seconds: float | None = None,
               max_bins_per_interval: int = 10_000) -> DataFrame:
    """Inner-join every point row to every interval row (same ``on``
    keys) with ``start_col <= point_col <= end_col`` (both ends
    inclusive), without a nested-loop join: each interval is exploded
    into the fixed-width time bins it covers and the join is an
    EQUI-join on (keys, bin), then the exact containment filter. A
    point has exactly one bin, so each qualifying (point, interval)
    pair is produced exactly once — no dedup pass.

    ``bin_width_seconds`` defaults to the longest interval (one tiny
    agg over the intervals side), which caps the explosion at 2 bins
    per interval; pass it explicitly to skip that job. Intervals with
    NULL or inverted bounds are dropped. Columns that exist on both
    sides keep the points side's value; the intervals side's collide
    as ``<name>_interval``.

    Scale: shuffle is O(|points| + bins·|intervals|) slim rows on
    (keys, bin) — a sort-merge/shuffled-hash equi-join Catalyst and AQE
    can split on skew, never a BroadcastNestedLoopJoin (plan-pinned).
    ``max_bins_per_interval`` guards a degenerate bin width.
    """
    on = [str(c) for c in (on or [])]
    ts = _is_ts(points, point_col)
    if ts != _is_ts(intervals, start_col) or ts != _is_ts(intervals, end_col):
        raise ValueError("range_join: point/start/end column types disagree")

    def _num(col):
        return _us(col) if ts else F.col(col).cast("double")

    iv = intervals.filter(
        F.col(start_col).isNotNull() & F.col(end_col).isNotNull()
        & (_num(end_col) >= _num(start_col)))
    if bin_width_seconds is None:
        longest = iv.agg(F.max(_num(end_col) - _num(start_col))).collect()[0][0]
        width = max(int(longest or 0), 1) if ts else max(float(longest or 0.0), 1e-12)
    else:
        width = (int(round(bin_width_seconds * 1_000_000)) if ts
                 else float(bin_width_seconds))
        if width <= 0:
            raise ValueError("bin_width_seconds must be positive")

    b0 = F.floor(_num(start_col) / F.lit(width)).cast("long")
    b1 = F.floor(_num(end_col) / F.lit(width)).cast("long")
    # silently dropping an over-wide interval would under-join, so the
    # guard FAILS the job (JVM-side, no extra action) — widen bin_width
    guard = F.when(
        (b1 - b0) >= F.lit(int(max_bins_per_interval)),
        F.raise_error(F.lit(
            "range_join: an interval spans >= "
            f"{int(max_bins_per_interval)} bins; increase "
            "bin_width_seconds or max_bins_per_interval"))
    ).otherwise(F.lit(True))
    exploded = iv.filter(guard).withColumn(
        "__bin", F.explode(F.sequence(b0, b1)))

    rename = {c: f"{c}_interval" for c in intervals.columns
              if c in points.columns and c not in on}
    exploded = exploded.select(
        "__bin", *on,
        *[F.col(c).alias(rename.get(c, c)) for c in intervals.columns
          if c not in on])
    pts = points.withColumn(
        "__bin", F.floor(_num(point_col) / F.lit(width)).cast("long"))

    s, e = rename.get(start_col, start_col), rename.get(end_col, end_col)
    return (
        pts.join(exploded, on + ["__bin"], "inner")
        .filter((F.col(s) <= F.col(point_col)) & (F.col(point_col) <= F.col(e)))
        .drop("__bin")
    )


# ---------------------------------------------------------------------------
# sessionization
# ---------------------------------------------------------------------------

def sessionize(df: DataFrame, entity_cols: list, ts_col: str,
               gap_seconds: float, session_col: str = "session_id") -> DataFrame:
    """Assign a per-entity gap session id: a new session starts when
    the time since the entity's previous event is STRICTLY greater
    than ``gap_seconds`` (matching Spark's streaming
    ``session_window`` merge rule). Ids are 1-based and consecutive in
    event-time order within each entity. NULL timestamps are dropped
    (a session needs a time). Equal-timestamp events always share a
    session, so the assignment is deterministic under any tie order.

    Scale: ONE window pass partitioned by the entity key — the gap
    flag (``lag``) and the running session counter (``sum``) share the
    same Exchange (plan-pinned: exactly one Exchange, partitioned by
    the entity, never unpartitioned).
    """
    entity_cols = [str(c) for c in entity_cols]
    if not entity_cols:
        raise ValueError("sessionize needs at least one entity column")
    ts = _is_ts(df, ts_col)
    tnum = _us(ts_col) if ts else F.col(ts_col).cast("double")
    gap = int(round(gap_seconds * 1_000_000)) if ts else float(gap_seconds)
    w = Window.partitionBy(*entity_cols).orderBy(tnum)
    new_sess = F.when(
        (tnum - F.lag(tnum).over(w)) > F.lit(gap), 1
    ).otherwise(0)
    run = (Window.partitionBy(*entity_cols).orderBy(tnum)
           .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (
        df.filter(F.col(ts_col).isNotNull())
        .withColumn("__new", new_sess)
        .withColumn(session_col, (F.sum("__new").over(run) + 1).cast("long"))
        .drop("__new")
    )


def session_stats(df: DataFrame, entity_cols: list, ts_col: str,
                  gap_seconds: float) -> DataFrame:
    """One row per (entity, session): start/end timestamps, event
    count and duration in seconds — ``sessionize`` then one grouped
    aggregation on (entity, session id). Duration is exact integer
    microseconds divided once (bit-stable)."""
    entity_cols = [str(c) for c in entity_cols]
    sess = sessionize(df, entity_cols, ts_col, gap_seconds)
    ts = _is_ts(df, ts_col)
    dur = ((_us(F.max(ts_col)) - _us(F.min(ts_col)))
           / F.lit(1_000_000.0)) if ts else \
        (F.max(ts_col).cast("double") - F.min(ts_col).cast("double"))
    return (
        sess.groupBy(*entity_cols, "session_id")
        .agg(F.count(F.lit(1)).alias("n_events"),
             F.min(ts_col).alias("session_start"),
             F.max(ts_col).alias("session_end"),
             dur.alias("duration_seconds"))
    )


# ---------------------------------------------------------------------------
# Misra-Gries heavy hitters
# ---------------------------------------------------------------------------

def _mg_map_factory(col: str, k: int):
    """Per-partition Misra-Gries summary of capacity ``k`` (value kept
    as string; counts are MG lower bounds). Batch merge: add the
    batch's exact counts, then subtract the (k+1)-th largest count
    from everything and drop the non-positives (Agarwal et al. 2013
    mergeable-summaries compress step — undercount telescopes to
    ≤ n/(k+1) across any merge tree). Emits one extra row per
    partition carrying the partition's total row count (is_total)."""
    import pandas as pd

    def mg(batches):
        counts: dict = {}
        total = 0
        for pdf in batches:
            s = pdf[col]
            total += len(s)
            vc = s.dropna().astype(str).value_counts()
            for v, c in vc.items():
                counts[v] = counts.get(v, 0) + int(c)
            if len(counts) > k:
                cut = sorted(counts.values(), reverse=True)[k]
                counts = {v: c - cut for v, c in counts.items() if c > cut}
        out = pd.DataFrame({
            "value": list(counts.keys()) + [None],
            "weight": list(counts.values()) + [0],
            "total": [0] * len(counts) + [total],
        })
        yield out

    return mg


def heavy_hitters(df: DataFrame, col: str, k: int = 1000,
                  threshold: int | None = None) -> DataFrame:
    """EXACT counts of every value of ``col`` occurring at least
    ``threshold`` times (default ``n/k`` rounded up), computed with
    O(k) state per task regardless of the column's cardinality::

        value (string), count (bigint)   -- count exact, >= threshold

    Pass 1 builds a capacity-``k`` Misra-Gries summary per partition
    (Arrow-batched mapInPandas — the hash table never exceeds ~2k
    entries even when the column has billions of distincts and a plain
    groupBy would spill), merges summaries with one bounded groupBy,
    and keeps candidates whose merged lower bound + global undercount
    bound ``(n - surviving_weight)/(k+1)`` reaches the threshold.
    Pass 2 recounts ONLY the
    candidate values exactly (broadcast left-semi join, then groupBy
    over the ≤ k·partitions surviving values).

    Correctness gate: the MG merge bound guarantees completeness only
    when ``threshold > n/(k+1)`` — violating that raises with the
    minimal safe ``k`` instead of silently under-reporting. NULLs are
    ignored; values compare as their Spark string cast.
    """
    if k < 1:
        raise ValueError("k must be >= 1")
    summary = (
        df.select(F.col(col).cast("string").alias(col))
        .mapInPandas(_mg_map_factory(col, int(k)),
                     schema="value string, weight long, total long")
    )
    merged = summary.groupBy("value").agg(
        F.sum("weight").alias("weight"), F.sum("total").alias("total"))
    rows = merged.persist()
    try:
        tot = rows.agg(F.sum("total").alias("n"),
                       F.sum("weight").alias("sw")).collect()[0]
        n, sw = int(tot["n"] or 0), int(tot["sw"] or 0)
        # tighter mergeable-summaries bound: total decrement across the
        # whole merge tree is (n - surviving weight), split over k+1
        slack = max(n - sw, 0) / (k + 1)
        thr = int(threshold) if threshold is not None else max(int(math.ceil(n / k)), 1)
        if thr <= slack:
            raise ValueError(
                f"heavy_hitters: threshold {thr} is not recoverable with k={k} "
                f"over n={n} rows (undercount bound (n-SW)/(k+1)={slack:.1f}); "
                f"use k >= {int(math.ceil(n / thr))}")
        cand = rows.filter(
            F.col("value").isNotNull()
            & ((F.col("weight") + F.lit(float(slack))) >= F.lit(float(thr))))
        exact = (
            df.select(F.col(col).cast("string").alias("value"))
            .join(F.broadcast(cand.select("value")), "value", "left_semi")
            .groupBy("value").agg(F.count(F.lit(1)).alias("count"))
            .filter(F.col("count") >= F.lit(thr))
        )
        # materialize before unpersisting the candidate set
        out = exact.localCheckpoint(eager=True)
    finally:
        rows.unpersist()
    return out


# ---------------------------------------------------------------------------
# skew profiler
# ---------------------------------------------------------------------------

def skew_profile(df: DataFrame, key_cols: list, top_k: int = 20,
                 target_rows_per_task: int = 10_000_000) -> DataFrame:
    """Shuffle-skew diagnosis for a prospective join/groupBy on
    ``key_cols``: the ``top_k`` heaviest keys with their share of the
    table, their ratio to the mean group size, and the salt factor
    that would split each to ``target_rows_per_task`` rows::

        <key_cols...>, count, share, skew_ratio, suggested_salt

    ``suggested_salt`` is 1 when the key already fits a task. Ordering
    is deterministic: count descending, then the key columns ascending
    (NULL keys group and rank like any value). Scale: one groupBy with
    map-side combine; the stats row and the top-k both aggregate the
    GROUPED output (TakeOrderedAndProject for the top-k — the raw
    table is scanned once, plan-pinned)."""
    key_cols = [str(c) for c in key_cols]
    if not key_cols:
        raise ValueError("skew_profile needs at least one key column")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    counts = df.groupBy(*key_cols).agg(F.count(F.lit(1)).alias("count"))
    stats = counts.agg(
        F.sum("count").alias("__n"),
        (F.sum("count") / F.count(F.lit(1))).alias("__mean"))
    top = counts.orderBy(F.col("count").desc(),
                         *[F.col(c).asc_nulls_last() for c in key_cols]) \
        .limit(int(top_k))
    return (
        top.crossJoin(F.broadcast(stats))
        .select(
            *key_cols, "count",
            (F.col("count") / F.col("__n")).alias("share"),
            (F.col("count") / F.col("__mean")).alias("skew_ratio"),
            F.greatest(
                F.lit(1),
                F.ceil(F.col("count") / F.lit(int(target_rows_per_task)))
            ).cast("int").alias("suggested_salt"),
        )
        .orderBy(F.col("count").desc(),
                 *[F.col(c).asc_nulls_last() for c in key_cols])
    )


def _deletion_variants(col):
    """Array of the string + every single-character deletion — the
    SymSpell (symmetric-delete) blocking neighborhood at distance 1."""
    n = F.length(col)
    dels = F.transform(
        F.sequence(F.lit(1), n),
        lambda i: F.concat(F.substring(col, 1, (i - 1).cast("int")),
                           col.substr(i + 1, n)),
    )
    return F.array_distinct(F.concat(F.array(col), dels))


def fuzzy_key_matches(left: DataFrame, right: DataFrame, key_col: str,
                      max_dist: int = 1, max_key_len: int = 512) -> DataFrame:
    """Typo-tolerant key join: all (key_a, key_b) pairs across the two
    key sets within Levenshtein distance ``max_dist`` — the fuzzy-match
    step for near-identical URLs / titles / ids across crawl snapshots
    where exact joins silently miss one-character drift.

    Blocking is SymSpell's symmetric-delete scheme (Garbe's public
    algorithm; the same pigeonhole idea as simhash banding): two
    strings within edit distance 1 ALWAYS share a member of each
    other's {self + single-deletions} neighborhood, so the equi-join on
    deletion variants has PROVABLY full recall at distance 1 — the
    oracle can therefore brute-force the ground truth and demand
    equality. Candidates are then filtered with the exact JVM
    ``levenshtein``. Only ``max_dist=1`` is supported: the distance-d
    neighborhood is C(len, d)-sized, so d=2 on URL-length keys would
    explode ~1000x — chunk-based pigeonhole blocking is the right
    design there, not a bigger neighborhood.

    Scale shape: each side explodes to O(len) 8-byte variant hashes —
    the only shuffle is the variant equi-join (hash, key), text never
    re-scans, no cartesian anywhere; AQE handles hot variants (short
    keys share deletion variants). NULL keys and keys longer than
    ``max_key_len`` are excluded (a multi-KB key would explode its
    length in variants; raise the cap deliberately if you mean it).

    Returns distinct (key_a, key_b, dist), dist <= max_dist, including
    dist=0 exact matches (filter them out for a strict typo report).
    """
    if max_dist != 1:
        raise ValueError(
            "fuzzy_key_matches supports max_dist=1 (symmetric-delete "
            "blocking is exact there); for coarser matching use "
            "minhash/simhash near-dup on the key text")
    def side(df, alias):
        keys = (df.select(F.col(key_col).cast("string").alias(alias))
                .filter(F.col(alias).isNotNull()
                        & (F.length(alias) <= max_key_len))
                .distinct())
        return keys.select(
            alias,
            F.explode(_deletion_variants(F.col(alias))).alias("__v"),
        ).select(alias, F.xxhash64("__v").alias("__h"))

    cand = (
        side(left, "key_a").join(side(right, "key_b"), "__h")
        .select("key_a", "key_b").distinct()
    )
    return (
        cand.withColumn("dist", F.levenshtein("key_a", "key_b"))
        .filter(F.col("dist") <= max_dist)
    )
