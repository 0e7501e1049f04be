"""Sequence packing for LM pre-training: concatenate documents in a
deterministic order and cut the token stream into fixed-length training
sequences (the GPT-2/3 "concat and chunk" convention — documents may
span sequence boundaries). The operator reports, per document, its
global token offset and the range of sequence ids it lands in; the
total sequence count follows from the last row.

Scale shape — a distributed prefix scan, because the naive expression
(one cumulative-sum window over a global ORDER BY) collapses to a
single task in Spark:

1. ``repartitionByRange(order_col)`` puts disjoint, ordered key ranges
   on each partition (persisted once, so the two downstream jobs see
   the SAME partitioning);
2. one ``groupBy(partition_id)`` computes per-partition token totals —
   O(num_partitions) rows to the driver, the classic scan "up-sweep";
3. the exclusive prefix of those totals broadcasts back as a literal
   map and each partition finishes its own cumulative sum with a
   window PARTITIONED by partition id — every stage is parallel, no
   global-order single-task window anywhere.

The result is independent of where the range boundaries fall (prefix
sums compose associatively), so sampled range bounds do not perturb
output — only the total order given by ``order_col`` does, which is
why the order key must be unique.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepchecks_spark.io import local_frame

# above this many range partitions the prefix offsets ship as a
# broadcast-joined DataFrame instead of a create_map literal — a
# 100k-partition corpus would otherwise inline 100k map entries into
# the plan itself (the same plan-size hazard as giant isin lists)
PREFIX_LITERAL_MAX = 256


def _token_count_expr(text_col: str):
    """Whitespace token count (0 for blank text), matching
    pipeline/textstats.py's convention."""
    return F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))


def _with_start_offsets(d: DataFrame, order_cols: list[str]) -> DataFrame:
    """Distributed prefix scan: given a frame with an ``n_tokens``
    column and a total order defined by ``order_cols`` (which must be
    jointly unique), add ``start_offset`` = the exclusive cumulative
    token sum in that order. The three-stage shape (range partition →
    per-partition partials → broadcast prefix + partition-local window)
    is documented at module top; the caller receives a
    ``localCheckpoint``-materialized frame so downstream jobs cannot
    observe re-sampled range boundaries."""
    d = (
        d.repartitionByRange(*[F.col(c) for c in order_cols])
        .withColumn("__pid", F.spark_partition_id())
        .persist()
    )
    try:
        d.count()  # pin the partitioning for both jobs below
        # up-sweep: per-partition totals -> exclusive prefix offsets
        parts = sorted(
            (r["__pid"], r["total"]) for r in
            d.groupBy("__pid").agg(F.sum("n_tokens").alias("total")).collect()
        )
        prefix, acc = {}, 0
        for pid, total in parts:
            prefix[pid] = acc
            acc += total or 0
        # down-sweep: local cumulative sum + broadcast prefix
        w = (Window.partitionBy("__pid").orderBy(*order_cols)
             .rowsBetween(Window.unboundedPreceding, -1))
        local = F.coalesce(F.sum("n_tokens").over(w), F.lit(0))
        if len(prefix) > PREFIX_LITERAL_MAX:
            # plan stays O(1) in partition count; the prefix table is a
            # broadcast hash join on __pid
            pdf = local_frame(
                d.sparkSession, [(pid, off) for pid, off in sorted(prefix.items())],
                "__pid int, __prefix long")
            d = d.join(F.broadcast(pdf), "__pid", "left")
            start = local + F.coalesce(F.col("__prefix"), F.lit(0))
        else:
            pmap = F.create_map(
                *[F.lit(x) for pid in sorted(prefix) for x in (pid, prefix[pid])]
            ) if prefix else F.create_map()
            start = local + F.coalesce(pmap[F.col("__pid")], F.lit(0))
        out = d.withColumn("start_offset", start).drop("__pid", "__prefix")
        # materialize before unpersist so callers get computed rows,
        # not a lineage that re-samples range boundaries
        out = out.localCheckpoint()
    finally:
        d.unpersist()
    return out


def pack_sequences(df: DataFrame, id_col: str, text_col: str, seq_len: int,
                   order_col: str | None = None) -> DataFrame:
    """Assign every document its token offset in the concatenated
    corpus stream and the training sequences it covers::

        id, n_tokens, start_offset, first_seq, last_seq

    ``first_seq``/``last_seq`` are ``floor(start / seq_len)`` and
    ``floor((start + n_tokens - 1) / seq_len)`` (NULL-free; empty
    documents occupy zero tokens and report ``first_seq = last_seq =
    floor(start / seq_len)``). Tokens are whitespace tokens, matching
    pipeline/textstats.py. ``order_col`` (default: ``id_col``) defines
    the deterministic concatenation order and must be unique — equal
    keys straddling a range-partition boundary would otherwise make
    the order, and thus the offsets, ambiguous.

    Materializes the range-partitioned projection once (persist +
    count) so the up-sweep job and the final scan job cannot observe
    different sampled range boundaries; unpersists before returning.
    """
    if seq_len <= 0:
        raise ValueError(f"seq_len must be positive, got {seq_len}")
    order_col = order_col or id_col
    d = df.select(F.col(id_col).alias("__id"),
                  F.col(order_col).alias("__ord"),
                  _token_count_expr(text_col).cast("long").alias("n_tokens"))
    out = _with_start_offsets(d, ["__ord"])
    return out.select(
        F.col("__id").alias(id_col), "n_tokens", "start_offset",
        F.floor(F.col("start_offset") / seq_len).alias("first_seq"),
        F.floor(
            (F.col("start_offset")
             + F.greatest(F.col("n_tokens") - 1, F.lit(0))) / seq_len
        ).alias("last_seq"),
    )


def assign_token_shards(df: DataFrame, id_col: str, text_col: str,
                        n_shards: int, order_col: str | None = None) -> DataFrame:
    """Assign every document to one of ``n_shards`` output shards so
    that (a) shards are CONTIGUOUS in the ``order_col`` concatenation
    order and (b) each shard carries ~``total_tokens / n_shards``
    tokens — the "write the corpus as N balanced training shards" step
    (a hash-modulo shard balances row counts, not token counts, and a
    single skewed-length source can make one shard twice the bytes of
    another). Documents are never split: a document belongs to the
    shard its START offset falls in, so per-shard token sums deviate
    from the ideal by less than one document. Returns the full spine::

        id, n_tokens, start_offset, shard   -- shard in [0, n_shards)

    ``shard = least(floor(start_offset / total_tokens * n_shards),
    n_shards - 1)`` — double arithmetic, exact for any corpus below
    2^53 tokens and mirrored verbatim by the SQL oracle. A zero-token
    corpus lands entirely in shard 0. ``order_col`` (default
    ``id_col``) must be unique, as in :func:`pack_sequences`.

    Scale shape: the same distributed prefix scan as
    :func:`pack_sequences` (no global-order window, no driver sort);
    the grand total is one bounded agg over the materialized scan
    output. Downstream, ``df.write.partitionBy('shard')`` gives one
    balanced directory per shard without any further shuffle ordering.
    """
    if n_shards < 1:
        raise ValueError(f"n_shards must be positive, got {n_shards}")
    order_col = order_col or id_col
    d = df.select(F.col(id_col).alias("__id"),
                  F.col(order_col).alias("__ord"),
                  _token_count_expr(text_col).cast("long").alias("n_tokens"))
    out = _with_start_offsets(d, ["__ord"])
    total = out.agg(F.sum("n_tokens")).collect()[0][0] or 0
    if total <= 0:
        shard = F.lit(0)
    else:
        shard = F.least(
            F.floor(F.col("start_offset") / F.lit(float(total))
                    * F.lit(int(n_shards))),
            F.lit(int(n_shards) - 1))
    return out.select(
        F.col("__id").alias(id_col), "n_tokens", "start_offset",
        shard.cast("int").alias("shard"),
    )


def select_by_token_budget(df: DataFrame, id_col: str, text_col: str,
                           score_col: str, budget: int) -> DataFrame:
    """Quality-ranked corpus selection under a global token budget (the
    FineWeb/DCLM-style "take the best documents until N tokens" step):
    rank documents by ``score_col`` descending (ties broken by
    ``id_col`` ascending, so the order is total and re-runs select the
    identical set), and keep every document whose START offset in that
    ranking's cumulative token stream is below ``budget`` — i.e. the
    greedy prefix, including the one document that straddles the
    boundary.

    Returns the full spine (selection is a verdict column, not a
    filter) as::

        id, score, n_tokens, start_offset, selected

    Scale shape: the same distributed prefix scan as ``pack_sequences``
    (range partition on the rank key → per-partition token partials →
    broadcast exclusive prefix + partition-local window) — no global
    ORDER BY window collapsing to one task, no driver-side sort. The
    scan's up-sweep collects O(num_partitions) rows. Descending rank is
    expressed as range partitioning on the NEGATED score so one
    ascending code path serves both operators."""
    d = df.select(
        F.col(id_col).alias("__id"),
        F.col(score_col).cast("double").alias("__score"),
        # NULL scores rank last (not first, which is where Spark's
        # NULLS-FIRST ascending default would put them after negation)
        (-F.coalesce(F.col(score_col).cast("double"),
                     F.lit(float("-inf")))).alias("__negscore"),
        _token_count_expr(text_col).cast("long").alias("n_tokens"),
    )
    out = _with_start_offsets(d, ["__negscore", "__id"])
    return out.select(
        F.col("__id").alias(id_col),
        F.col("__score").alias(score_col),
        "n_tokens", "start_offset",
        (F.col("start_offset") < F.lit(int(budget))).alias("selected"),
    )
