"""Deduplication operators for large-scale training-data pipelines.

Exact dedup is a two-stage hash aggregation; near-dup is MinHash+LSH
(shingle → minhash signature → band → bucket join), SimHash (bit-vote
fingerprint + banded hamming buckets), and n-gram Jaccard verification —
all built from JVM-side primitives (xxhash64, explode, groupBy,
array_intersect); no Python in the hot path. Designed so only
signature/bucket-level data ever shuffles: at 10^12 docs the shingle
explosion stays map-side local to each partition's aggregation.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepchecks_spark.core.parallel import spread_input
from deepchecks_spark.io import local_frame


def exact_duplicate_stats(df: DataFrame, cols: list) -> dict:
    """Exact-duplicate statistics over selected columns: one
    groupBy(cols).count() (partial agg collapses heavy duplicates before
    the shuffle) + one tiny re-aggregation."""
    grouped = df.groupBy(*cols).count()
    row = grouped.agg(
        F.coalesce(F.sum(F.when(F.col("count") > 1, 1).otherwise(0)), F.lit(0)).alias("n_dup_groups"),
        F.coalesce(F.sum(F.when(F.col("count") > 1, F.col("count") - 1)), F.lit(0)).alias("n_dup_rows"),
        F.coalesce(F.sum("count"), F.lit(0)).alias("total"),
    ).first()
    total = row["total"] or 0
    return {
        "n_dup_groups": row["n_dup_groups"],
        "n_dup_rows": row["n_dup_rows"],
        "total": total,
        "dup_ratio": (row["n_dup_rows"] / total) if total else 0.0,
    }


def dedup_exact(df: DataFrame, cols: list) -> DataFrame:
    """Keep one row per distinct key (dropDuplicates = shuffle on key,
    AQE-coalesced)."""
    return df.dropDuplicates(cols)


def incremental_dedup(batch: DataFrame, seen: DataFrame, id_col: str,
                      text_col: str) -> DataFrame:
    """Exact dedup of a NEW batch against an already-ingested corpus
    snapshot — the incremental-crawl shape (each Common-Crawl dump
    deduped against every prior dump) where re-deduplicating the full
    corpus per batch would be O(corpus) instead of O(batch):

    1. drop batch docs whose exact text already exists in ``seen``
       (left-anti join on ``xxhash64(text)`` — both sides reduce to
       8-byte hashes before any exchange, so the corpus side shuffles
       16 bytes/row, never text), then
    2. keep one representative per duplicated text WITHIN the batch
       (min id per hash — same canonical-min convention as
       deduplicate_by_pairs).

    Returns the surviving batch rows with their original columns.

    Scale shape: two hash-partitioned exchanges (anti-join + within-
    batch min), both on the 8-byte hash. The batch side is typically
    orders of magnitude smaller than the corpus side; AQE plans the
    anti-join accordingly (and converts it to broadcast when the
    BATCH side is small — the corpus side streams). A re-run after
    appending the surviving batch to ``seen`` is idempotent: every
    batch row then anti-joins away. Collision risk is the 64-bit
    birthday bound, the same documented trade as every hash-grouped
    dedup in this module.

    NULL text is null-safe: ``xxhash64(NULL)`` is a constant, so all
    NULL-text rows count as duplicates of each other (one survives a
    NULL-free ``seen``; none survive a ``seen`` containing one) — the
    dropDuplicates/groupBy convention, not SQL ``=`` semantics."""
    h = F.xxhash64(F.col(text_col))
    seen_h = seen.select(h.alias("__h")).dropDuplicates(["__h"])
    fresh = (
        batch.withColumn("__h", h)
        .join(seen_h, "__h", "left_anti")
    )
    keep = Window.partitionBy("__h")
    return (
        fresh.withColumn("__keep", F.min(F.col(id_col)).over(keep))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__h", "__keep")
    )


def _tokens(col: str):
    return F.array_distinct(F.split(F.trim(F.col(col)), r"\s+"))


def jaccard_adjacent(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Jaccard similarity of distinct-token sets between consecutive ids
    (a linear-size verification pattern; the all-pairs version goes
    through LSH buckets below)."""
    toks = df.select(F.col(id_col), _tokens(text_col).alias("t"))
    a = toks.alias("a")
    b = toks.alias("b")
    return (
        a.join(b, F.col(f"b.{id_col}") == F.col(f"a.{id_col}") + 1)
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
            (
                F.size(F.array_intersect("a.t", "b.t"))
                / F.size(F.array_union("a.t", "b.t")).cast("double")
            ).alias("jaccard"),
        )
    )


def containment_adjacent(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """One-sided near-dup between consecutive ids: Broder containment
    C(A,B) = |A∩B| / |A| over distinct-token sets, in both directions.
    Containment catches what resemblance misses — a short document
    quoted whole inside a much longer one has low Jaccard but
    containment ≈ 1 on the short side. Same linear-size adjacent-pair
    verification pattern as :func:`jaccard_adjacent`; the all-pairs
    scale path reuses the LSH bucket candidates below, which bound the
    intersection from the same shingle sets."""
    toks = df.select(F.col(id_col), _tokens(text_col).alias("t"))
    a = toks.alias("a")
    b = toks.alias("b")
    inter = F.size(F.array_intersect("a.t", "b.t"))
    return (
        a.join(b, F.col(f"b.{id_col}") == F.col(f"a.{id_col}") + 1)
        .select(
            F.col(f"a.{id_col}").alias(f"{id_col}_a"),
            F.col(f"b.{id_col}").alias(f"{id_col}_b"),
            (inter / F.size("a.t").cast("double")).alias("containment_a_in_b"),
            (inter / F.size("b.t").cast("double")).alias("containment_b_in_a"),
        )
    )


def shingle_sets(df: DataFrame, id_col: str, text_col: str,
                 shingle_words: int = 3) -> DataFrame:
    """(id, sh array<string>) — distinct word shingles, built JVM-side
    (transform over the token index array). The similarity MinHash
    estimates is Jaccard over exactly these sets."""
    toks = df.select(F.col(id_col), F.split(F.trim(F.col(text_col)), r"\s+").alias("t"))
    n = F.size("t")
    return toks.select(
        F.col(id_col),
        F.array_distinct(
            F.when(
                n >= shingle_words,
                F.transform(
                    F.sequence(F.lit(0), n - F.lit(shingle_words)),
                    lambda i: F.array_join(F.slice(F.col("t"), i + 1, shingle_words), " "),
                ),
            ).otherwise(F.array(F.array_join(F.col("t"), " ")))
        ).alias("sh"),
    )


def minhash_signatures(df: DataFrame, id_col: str, text_col: str,
                       num_hashes: int = 64, shingle_words: int = 3) -> DataFrame:
    """(id, signature array<long>) via word-shingle MinHash.

    Shingles are built JVM-side (transform over token index array);
    each of the ``num_hashes`` permutations is min(xxhash64(seed_i,
    shingle)) — one explode + one groupBy with num_hashes min() aggs,
    i.e. a single two-stage aggregation; signature state is tiny and
    mergeable.
    """
    # the shingle build + num_hashes×xxhash64 is the most expensive
    # per-row work in this module: make sure an under-partitioned scan
    # doesn't serialize it onto one core (no-op at corpus scale)
    shingles = shingle_sets(spread_input(df), id_col, text_col, shingle_words)
    # Generate child must NOT be a bare attribute: Catalyst's
    # InferFiltersFromGenerate fires on attribute children, inferring a
    # size(sh) > 0 pre-filter that projection-pushdown re-expands into
    # the FULL shingle expression below the scan — the whole KB-text
    # shingle build then runs twice per row (~1.9 s, +30% on the dedup
    # bench; found bisecting the r2 regression, BENCH/BASELINE.md r3).
    # Wrapping in an (idempotent) array_distinct makes the child a
    # non-attribute expression, which the rule skips; the array is
    # already distinct so the extra pass is O(|sh|) per row.
    exploded = shingles.select(
        F.col(id_col), F.explode(F.array_distinct("sh")).alias("shingle"))
    # one parsed expression string per permutation instead of ~5 chained
    # Column calls each — the num_hashes aggregates cost num_hashes py4j
    # round-trips (measured 1.5 s -> ~0.1 s of driver Python at 64
    # hashes on this host). Identical Min(XxHash64(int-lit, shingle))
    # trees: a SQL integer literal and F.lit(int) are both IntegerType,
    # so every seed hashes the same bytes.
    aggs = [F.expr(f"min(xxhash64({i}, shingle)) AS h{i}")
            for i in range(num_hashes)]
    sig = exploded.groupBy(id_col).agg(*aggs)
    return sig.select(
        F.col(id_col),
        F.expr("array(" + ", ".join(f"h{i}" for i in range(num_hashes))
               + ") AS signature"),
    )


def signature_band_entries(sig: DataFrame, id_col: str,
                           num_hashes: int = 64, bands: int = 16) -> DataFrame:
    """(id, band, bucket) banded-LSH entries from a (id, signature
    array<long>) table — one map-only explode, no shuffle.

    This is the representation a production near-dup index PERSISTS
    (bucket-partitioned parquet): a 10^12-doc corpus is signed and
    banded ONCE, and every subsequent crawl joins its own (tiny) band
    entries against the stored table instead of re-reading corpus
    text. ``bucket`` hashes the band's signature slice to 8 bytes, so
    a persisted entry is (id, int, long) regardless of shingle width.
    """
    rows_per_band = num_hashes // bands
    return sig.select(
        F.col(id_col),
        F.explode(
            F.transform(
                F.sequence(F.lit(0), F.lit(bands - 1)),
                lambda b: F.struct(
                    b.alias("band"),
                    F.xxhash64(
                        b, F.array_join(F.transform(
                            F.slice(F.col("signature"), b * rows_per_band + 1, rows_per_band),
                            lambda x: x.cast("string")), ",")
                    ).alias("bucket"),
                ),
            )
        ).alias("bb"),
    ).select(F.col(id_col), F.col("bb.band"), F.col("bb.bucket"))


def minhash_lsh_candidates(df: DataFrame, id_col: str, text_col: str,
                           num_hashes: int = 64, bands: int = 16,
                           shingle_words: int = 3) -> DataFrame:
    """Candidate near-duplicate pairs via banded LSH on MinHash signatures.

    rows_per_band = num_hashes / bands; docs sharing any band bucket
    become a candidate pair. The bucket join shuffles only
    (band, bucket_hash, id) tuples; hot buckets (boilerplate pages) are
    the skew risk — AQE skew-join splitting applies on the self-join.
    Returns (id_a, id_b, n_shared_bands).
    """
    sig = minhash_signatures(df, id_col, text_col, num_hashes, shingle_words)
    band_entries = signature_band_entries(sig, id_col, num_hashes, bands)
    a = band_entries.alias("a")
    b = band_entries.alias("b")
    pairs = (
        a.join(b, ["band", "bucket"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .groupBy(F.col(f"a.{id_col}").alias("id_a"), F.col(f"b.{id_col}").alias("id_b"))
        .agg(F.count("*").alias("n_shared_bands"))
    )
    return pairs


def minhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            threshold: float = 0.7, num_hashes: int = 64,
                            bands: int = 16, shingle_words: int = 3,
                            verify: str = "tokens") -> DataFrame:
    """LSH candidates verified by an exact Jaccard.

    ``verify='tokens'`` measures Jaccard over distinct word sets (cheap,
    the historical default); ``verify='shingles'`` measures it over the
    same word-shingle sets the MinHash signatures estimate — the
    coherent choice when recall against a brute-force golden matters.
    Verification joins the candidate pairs back to the (distinct)
    token/shingle sets — only candidate-pair rows are rescanned, not n².
    Returns (id_a, id_b, jaccard) with jaccard >= threshold.
    """
    cands = minhash_lsh_candidates(df, id_col, text_col, num_hashes, bands, shingle_words)
    spread = spread_input(df)  # parallelize the set rebuild (no-op at scale)
    if verify == "shingles":
        sets_df = shingle_sets(spread, id_col, text_col, shingle_words).withColumnRenamed("sh", "t")
    elif verify == "tokens":
        sets_df = spread.select(F.col(id_col), _tokens(text_col).alias("t"))
    else:
        raise ValueError(f"verify must be 'tokens' or 'shingles', got {verify!r}")
    a = sets_df.withColumnRenamed(id_col, "id_a").withColumnRenamed("t", "ta")
    b = sets_df.withColumnRenamed(id_col, "id_b").withColumnRenamed("t", "tb")
    return (
        cands.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            (F.size(F.array_intersect("ta", "tb"))
             / F.size(F.array_union("ta", "tb")).cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def incremental_minhash_candidates(batch: DataFrame, corpus_sigs: DataFrame,
                                   id_col: str, text_col: str,
                                   num_hashes: int = 64, bands: int = 16,
                                   shingle_words: int = 3,
                                   threshold: float = 0.7,
                                   broadcast_batch: bool = False) -> DataFrame:
    """NEAR-duplicate matches of a new crawl batch against an already-
    signed corpus — the incremental twin of minhash_lsh_candidates,
    taking the corpus as its persisted ``(id, signature)`` table (from
    minhash_signatures; see signature_band_entries for why an index
    stores signatures, not text).

    Returns (batch_id, corpus_id, est_jaccard): banded-LSH collisions
    verified by the SIGNATURE-AGREEMENT Jaccard estimate — the fraction
    of equal minhash positions, an unbiased estimator of shingle
    Jaccard (Broder 1997) with std ≤ 1/(2·sqrt(num_hashes)) — filtered
    to ``est_jaccard >= threshold``. Verification never touches corpus
    text: the only corpus bytes read are the 8·num_hashes-byte
    signatures, which is what makes the per-dump cost O(batch), not
    O(corpus).

    Scale shape: the corpus side is banded map-only (explode, no
    shuffle). With ``broadcast_batch=True`` (a daily dump vs a 10^12-doc
    index) the batch band entries AND the candidate set broadcast, so
    the corpus table is only ever SCANNED — zero corpus shuffle; with
    the default, the bucket equi-join shuffles (band, bucket, id)
    tuples, never signatures or text, and AQE picks the strategy.
    """
    bsig = minhash_signatures(batch, id_col, text_col, num_hashes, shingle_words)
    return incremental_candidates_from_signatures(
        bsig, corpus_sigs, id_col, num_hashes, bands, threshold, broadcast_batch)


def incremental_candidates_from_signatures(
        bsig: DataFrame, corpus_sigs: DataFrame, id_col: str,
        num_hashes: int = 64, bands: int = 16, threshold: float = 0.7,
        broadcast_batch: bool = False) -> DataFrame:
    """incremental_minhash_candidates when the batch is ALREADY signed —
    the streaming-monitor path, where the micro-batch's signatures are
    computed once and reused for both matching and index append.

    Signatures whose length differs from ``num_hashes`` (an index built
    with different settings) are DROPPED rather than mis-scored: the
    agreement estimate divides by num_hashes, and zip_with would
    silently truncate to the shorter array."""
    bsig = bsig.filter(F.size("signature") == num_hashes)
    corpus_sigs = corpus_sigs.filter(F.size("signature") == num_hashes)
    b_entries = (signature_band_entries(bsig, id_col, num_hashes, bands)
                 .withColumnRenamed(id_col, "batch_id"))
    c_entries = (signature_band_entries(corpus_sigs, id_col, num_hashes, bands)
                 .withColumnRenamed(id_col, "corpus_id"))
    if broadcast_batch:
        b_entries = F.broadcast(b_entries)
    cand = (
        c_entries.join(b_entries, ["band", "bucket"])
        .select("batch_id", "corpus_id").distinct()
    )
    bs = bsig.select(F.col(id_col).alias("batch_id"), F.col("signature").alias("__sa"))
    cs = corpus_sigs.select(F.col(id_col).alias("corpus_id"),
                            F.col("signature").alias("__sb"))
    if broadcast_batch:
        # candidates descend from the broadcast batch — broadcast them
        # into the corpus-signature scan too, keeping it map-only
        verified = cs.join(F.broadcast(cand), "corpus_id").join(F.broadcast(bs), "batch_id")
    else:
        verified = cand.join(cs, "corpus_id").join(bs, "batch_id")
    est = (
        F.size(F.filter(F.zip_with("__sa", "__sb", lambda x, y: x == y),
                        lambda m: m))
        / F.lit(float(num_hashes))
    )
    return (
        verified.select("batch_id", "corpus_id", est.alias("est_jaccard"))
        .filter(F.col("est_jaccard") >= threshold)
    )


def incremental_minhash_dedup(batch: DataFrame, corpus_sigs: DataFrame,
                              id_col: str, text_col: str,
                              num_hashes: int = 64, bands: int = 16,
                              shingle_words: int = 3,
                              threshold: float = 0.7,
                              broadcast_batch: bool = False) -> DataFrame:
    """Batch rows that are NOT near-duplicates of any already-indexed
    corpus doc (left-anti on incremental_minhash_candidates' flagged
    batch ids). Within-batch near-dups are intentionally left to the
    existing composition (minhash_near_duplicates → connected_components
    → deduplicate_by_pairs) so each stage stays separately testable;
    appending the survivors' signatures to the index then makes the
    next dump's run idempotent."""
    flagged = (
        incremental_minhash_candidates(
            batch, corpus_sigs, id_col, text_col, num_hashes, bands,
            shingle_words, threshold, broadcast_batch)
        .select(F.col("batch_id").alias(id_col)).distinct()
    )
    return batch.join(flagged, id_col, "left_anti")


def neardup_precision_sample(pairs: DataFrame, df: DataFrame, id_col: str,
                             text_col: str, n: int = 1000,
                             shingle_words: int = 3) -> DataFrame:
    """Deterministic precision audit of a CANDIDATE pair list: the n
    pairs with the smallest md5(id_a, id_b) (an engine-portable
    pseudo-random order — the package's standard md5-prefix sampling
    arithmetic) are verified with the exact shingle Jaccard. Returns
    (id_a, id_b, jaccard) for the sample; precision at any threshold
    is then one filter away. The point is cost: banded-LSH candidate
    lists at corpus scale are too large to verify exhaustively, but a
    deterministic 1k-pair sample bounds the false-candidate rate with
    the usual binomial ±3%/95% argument — and the md5 order makes the
    sample reproducible across engines and runs.

    Scale shape: TakeOrderedAndProject over the pair list (per-
    partition top-n + driver merge, never a global sort), then two
    bounded joins back to the shingle sets — only sampled ids rescan
    text."""
    sampled = (
        pairs.select("id_a", "id_b")
        .orderBy(F.md5(F.concat_ws(",", F.col("id_a").cast("string"),
                                   F.col("id_b").cast("string"))),
                 "id_a", "id_b")
        .limit(n)
    )
    sets_df = shingle_sets(df, id_col, text_col, shingle_words)
    a = sets_df.select(F.col(id_col).alias("id_a"), F.col("sh").alias("__sa"))
    b = sets_df.select(F.col(id_col).alias("id_b"), F.col("sh").alias("__sb"))
    return (
        sampled.join(a, "id_a").join(b, "id_b")
        .select(
            "id_a", "id_b",
            F.round(
                F.size(F.array_intersect("__sa", "__sb"))
                / F.size(F.array_union("__sa", "__sb")).cast("double"), 6,
            ).alias("jaccard"),
        )
    )


def brute_force_jaccard_pairs(df: DataFrame, id_col: str, text_col: str,
                              threshold: float = 0.7, shingle_words: int = 3) -> DataFrame:
    """EXACT all-pairs shingle-Jaccard ≥ threshold — O(n²) self-join,
    usable only at fixture/golden scale as the recall oracle for
    minhash_near_duplicates (never on a real corpus; the LSH path above
    is the scale shape). Returns (id_a, id_b, jaccard)."""
    sets_df = shingle_sets(df, id_col, text_col, shingle_words)
    a = sets_df.withColumnRenamed(id_col, "id_a").withColumnRenamed("sh", "ta")
    b = sets_df.withColumnRenamed(id_col, "id_b").withColumnRenamed("sh", "tb")
    return (
        a.join(b, F.col("id_a") < F.col("id_b"))
        .select(
            "id_a", "id_b",
            (F.size(F.array_intersect("ta", "tb"))
             / F.size(F.array_union("ta", "tb")).cast("double")).alias("jaccard"),
        )
        .filter(F.col("jaccard") >= threshold)
    )


def simhash(df: DataFrame, id_col: str, text_col: str, bits: int = 64) -> DataFrame:
    """SimHash fingerprint: per token h = xxhash64(token); bit b of the
    fingerprint is the sign of Σ_tokens (±1 by bit b of h). One explode +
    one groupBy with ``bits`` sum() aggs — all JVM-side.

    The per-bit vote Σ(±1) is computed as 2·Σbit − n (same sign test,
    exact integer arithmetic): each aggregate is then a branch-free
    ``sum(shiftright(h,b)&1)`` and the fingerprint packs the bit
    decisions with one small fold instead of a ``bits``-deep
    when/otherwise Add chain — the generated aggregation code shrinks
    ~4× (cold codegen compile was the dominant cost of this operator
    at bench scale; values are bit-identical)."""
    toks = spread_input(df).select(F.col(id_col), F.explode(_tokens(text_col)).alias("tok"))
    # parsed expression strings: the bits+1 aggregates and the packing
    # fold cost ~bits py4j round-trips instead of ~5x that (measured
    # ~1.0 s -> ~0.1 s of driver Python at 64 bits). Identical
    # Sum(BitwiseAnd(ShiftRight...)) trees — SQL `& 1` and
    # bitwiseAND(lit(1)) coerce the same way.
    aggs = [F.expr("count(1) AS n")] + [
        F.expr(f"sum(shiftright(xxhash64(tok), {b}) & 1) AS c{b}")
        for b in range(bits)
    ]
    votes = toks.groupBy(id_col).agg(*aggs)
    # bit b set ⇔ vote Σ(±1) > 0 ⇔ 2·c_b > n; pack with one linear fold
    bit_set = "array(" + ", ".join(
        f"CAST(c{b} * 2 > n AS BIGINT)" for b in range(bits)) + ")"
    powers = "array(" + ", ".join(
        f"shiftleft(1L, {b})" for b in range(bits)) + ")"
    fp = F.expr(f"aggregate(zip_with({bit_set}, {powers}, (x, p) -> x * p), "
                "0L, (acc, x) -> acc + x) AS simhash")
    return votes.select(F.col(id_col), fp)


def simhash_near_duplicates(df: DataFrame, id_col: str, text_col: str,
                            max_hamming: int = 3, bits: int = 64, chunks: int = 4) -> DataFrame:
    """Near-dup pairs by SimHash: band the fingerprint into ``chunks``
    16-bit pieces (pigeonhole: hamming ≤ 3 ⇒ some chunk equal), bucket-
    join on (chunk_idx, chunk_value), verify hamming via bit_count."""
    fps = simhash(df, id_col, text_col, bits)
    chunk_bits = bits // chunks
    mask = (1 << chunk_bits) - 1
    chunk_structs = [
        F.struct(
            F.lit(i).alias("chunk"),
            F.shiftrightunsigned(F.col("simhash"), i * chunk_bits).bitwiseAND(F.lit(mask)).alias("v"),
        )
        for i in range(chunks)
    ]
    entries = fps.select(
        F.col(id_col), F.col("simhash"), F.explode(F.array(*chunk_structs)).alias("cc")
    ).select(F.col(id_col), "simhash", F.col("cc.chunk"), F.col("cc.v"))
    a = entries.alias("a")
    b = entries.alias("b")
    return (
        a.join(b, ["chunk", "v"])
        .filter(F.col(f"a.{id_col}") < F.col(f"b.{id_col}"))
        .select(
            F.col(f"a.{id_col}").alias("id_a"),
            F.col(f"b.{id_col}").alias("id_b"),
            F.bit_count(F.col("a.simhash").bitwiseXOR(F.col("b.simhash"))).alias("hamming"),
        )
        .filter(F.col("hamming") <= max_hamming)
        .dropDuplicates(["id_a", "id_b"])
    )


def duplicate_chunk_stats(df: DataFrame, id_col: str, text_col: str,
                          chunk_words: int = 10) -> DataFrame:
    """Cross-corpus duplicated-passage detection (the CCNet/RefinedWeb
    shared-paragraph signal): split every document into consecutive
    NON-overlapping ``chunk_words``-word chunks (the trailing partial
    chunk is dropped), find chunks that occur in more than one document,
    and report per document::

        n_chunks, n_shared_chunks, shared_chunk_frac

    where a chunk is *shared* when its content appears in ≥2 distinct
    documents.

    Scale shape: the chunk text never shuffles — each chunk is reduced
    to its ``xxhash64`` before the explode, so every exchange moves
    (8-byte hash, id) rows only. Three narrow shuffles: (hash, id)
    pre-aggregation (map-side combine collapses within-doc repeats),
    hash → distinct-doc count, and the id roll-up; the hash↔count join
    broadcasts nothing and skew on a viral chunk is AQE-splittable.
    Collision risk is the 64-bit birthday bound (≈n²/2^65: ~0.03 at
    10^9 distinct chunks — acceptable for a dedup *signal*; exact
    passage dedup would carry the chunk text at shuffle cost);
    documents shorter than one chunk keep a row with ``n_chunks = 0``."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(F.size(toks))
    n_chunks = F.floor(n / F.lit(chunk_words)).cast("int")
    chunks = F.when(
        n_chunks > 0,
        F.transform(
            F.sequence(F.lit(0), n_chunks - 1),
            lambda i: F.xxhash64(F.array_join(
                F.slice(toks, i * chunk_words + 1, chunk_words), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    ids = df.select(F.col(id_col).alias("__id"))
    exploded = (
        spread_input(df).select(F.col(id_col).alias("__id"), F.explode(chunks).alias("h"))
    )
    per_pair = exploded.groupBy("h", "__id").agg(F.count(F.lit(1)).alias("n_in_doc"))
    per_chunk = per_pair.groupBy("h").agg(F.count(F.lit(1)).alias("n_docs"))
    rolled = (
        per_pair.join(per_chunk, "h")
        .groupBy("__id")
        .agg(
            F.sum("n_in_doc").alias("n_chunks"),
            F.sum(F.when(F.col("n_docs") >= 2, F.col("n_in_doc"))
                  .otherwise(F.lit(0))).alias("n_shared_chunks"),
        )
    )
    return (
        ids.join(rolled, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            F.coalesce("n_chunks", F.lit(0)).cast("long").alias("n_chunks"),
            F.coalesce("n_shared_chunks", F.lit(0)).cast("long").alias("n_shared_chunks"),
            F.when(F.coalesce("n_chunks", F.lit(0)) > 0,
                   F.coalesce("n_shared_chunks", F.lit(0))
                   / F.col("n_chunks").cast("double"))
            .otherwise(F.lit(0.0)).alias("shared_chunk_frac"),
        )
    )


def _window_hash_cols(text_col: str, w: int):
    """The shared stride-1 w-token window hashing used by BOTH
    repeated_span_stats and remove_repeated_spans — one definition so
    the stats pass and the removal pass can never disagree about which
    windows exist (tokenization, blank-text guard, hash input).
    Returns (n_tokens, n_windows, window_hashes) Columns."""
    toks = F.split(F.trim(F.col(text_col)), r"\s+")
    n = F.when(F.length(F.trim(F.col(text_col))) == 0,
               F.lit(0)).otherwise(F.size(toks))
    n_windows = F.greatest(n - F.lit(w - 1), F.lit(0))
    hashes = F.when(
        n_windows > 0,
        F.transform(
            F.sequence(F.lit(0), n_windows - 1),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, w), " ")),
        ),
    ).otherwise(F.array().cast("array<bigint>"))
    return n, n_windows, hashes


def repeated_span_stats(df: DataFrame, id_col: str, text_col: str,
                        window_words: int = 10) -> DataFrame:
    """Exact-substring duplication signal (Lee et al. 2021,
    "Deduplicating Training Data Makes Language Models Better"): slide a
    stride-1 window of ``window_words`` tokens over every document; a
    window is *duplicated* when its exact content occurs ≥2 times
    anywhere in the corpus (other documents OR elsewhere in the same
    one — the suffix-array semantics, unlike duplicate_chunk_stats'
    cross-document-only chunks). Per document reports::

        n_tokens, n_windows, n_dup_windows, dup_tokens, dup_token_frac

    where ``dup_tokens`` is the interval-UNION of duplicated windows
    (overlapping windows are not double-counted — the span accounting
    that makes the fraction meaningful).

    Scale shape: the reference algorithm builds a corpus-wide suffix
    array (single-machine); the distributed re-expression hashes each
    window to 8 bytes BEFORE the explode, so the w× positional blow-up
    shuffles only (id, pos, hash) rows — and the expensive window-hash
    transform runs EXACTLY ONCE (plan-pinned single Generate): the
    per-hash occurrence count is a count() window over the hash
    partition, not a groupBy + self-rejoin that would rebuild the
    explode branch twice. Two shuffles total: hash (occurrence count)
    and document id (interval union, bounded by doc length). A viral
    boilerplate hash concentrates its window partition on one task —
    if that skew ever dominates, swap the count-over-window for the
    groupBy + join shape (AQE-splittable) at the cost of a second
    window build. Collision risk is the 64-bit birthday bound,
    acceptable for a dedup signal.
    """
    w = window_words
    n, n_windows, hashes = _window_hash_cols(text_col, w)
    df = spread_input(df)  # window hashing is the heavy map work here
    base = df.select(
        F.col(id_col).alias("__id"),
        n.cast("long").alias("n_tokens"),
        n_windows.cast("long").alias("n_windows"),
        hashes.alias("hs"),
    )
    # concat() of a single array is an identity wrap that keeps the
    # Generate child a non-attribute expression — otherwise Catalyst's
    # InferFiltersFromGenerate infers a size(hs) > 0 pre-filter that
    # projection pushdown re-expands into the FULL window-hash
    # transform below the scan, doubling the per-row build (the same
    # trap minhash_signatures documents and dodges via array_distinct)
    occ = base.select("__id", F.posexplode(F.concat("hs")).alias("pos", "h"))
    dup = (
        occ.withColumn("n_occ", F.count(F.lit(1)).over(Window.partitionBy("h")))
        .filter(F.col("n_occ") >= 2)
        .select("__id", "pos")
    )
    win = Window.partitionBy("__id").orderBy("pos")
    gaps = dup.withColumn(
        "gap",
        F.coalesce(F.lead("pos").over(win), F.col("pos") + w) - F.col("pos"),
    )
    per_doc = gaps.groupBy("__id").agg(
        F.count(F.lit(1)).alias("n_dup_windows"),
        F.sum(F.least(F.lit(w), F.col("gap"))).alias("dup_tokens"),
    )
    return (
        base.drop("hs")
        .join(per_doc, "__id", "left")
        .select(
            F.col("__id").alias(id_col),
            "n_tokens",
            "n_windows",
            F.coalesce("n_dup_windows", F.lit(0)).cast("long").alias("n_dup_windows"),
            F.coalesce("dup_tokens", F.lit(0)).cast("long").alias("dup_tokens"),
            F.when(F.col("n_tokens") > 0,
                   F.coalesce("dup_tokens", F.lit(0)) / F.col("n_tokens").cast("double"))
            .otherwise(F.lit(0.0)).alias("dup_token_frac"),
        )
    )


def remove_repeated_spans(df: DataFrame, id_col: str, text_col: str,
                          window_words: int = 10) -> DataFrame:
    """Exact-substring dedup REMOVAL (the acting half of
    repeated_span_stats): for every window content occurring ≥2 times
    corpus-wide, keep the canonical occurrence (global min (id, pos))
    and delete the tokens covered only by non-canonical duplicated
    windows. Returns (id, cleaned text) — token positions covered by a
    removed span are dropped, the rest rejoined with single spaces.

    Scale shape: canonical selection and the occurrence count are both
    windows over the hash partition (single Generate — same
    InferFiltersFromGenerate dodge as repeated_span_stats); the removal
    positions roll up per document via collect_list (bounded by doc
    length, the same bound the text row itself already carries); the
    sorted positions then merge into DISJOINT intervals with one
    aggregate() pass, so the rebuild's per-token membership test is
    exists() over the merged-interval list — O(n_tokens × n_merged)
    per row, and n_merged is small precisely when duplication is heavy
    (overlapping spans collapse), the case that matters. All JVM-side
    higher-order functions; no Python in the path."""
    w = window_words
    _n, _nw, hashes = _window_hash_cols(text_col, w)
    df = spread_input(df)  # window hashing + token rebuild both benefit
    base = df.select(F.col(id_col).alias("__id"), F.col(text_col).alias("__text"),
                     hashes.alias("hs"))
    occ = base.select("__id", F.posexplode(F.concat("hs")).alias("pos", "h"))
    hwin = Window.partitionBy("h")
    remove = (
        occ.withColumn("n_occ", F.count(F.lit(1)).over(hwin))
        .withColumn("keep", F.min(F.struct("__id", "pos")).over(hwin))
        .filter(F.col("n_occ") >= 2)
        .filter(~((F.col("__id") == F.col("keep.__id")) & (F.col("pos") == F.col("keep.pos"))))
        .groupBy("__id")
        .agg(F.sort_array(F.collect_list("pos")).alias("rm"))
    )
    # merge sorted span starts into disjoint [s, e) intervals: a span
    # starting at or before the running end extends it, anything else
    # opens a new interval — one linear aggregate() pass per doc
    empty_ivs = F.array().cast("array<struct<s:int,e:int>>")
    merged = F.aggregate(
        F.col("rm"),
        empty_ivs,
        lambda acc, p: F.when(
            (F.size(acc) > 0) & (p <= F.element_at(acc, -1)["e"]),
            F.concat(
                F.slice(acc, 1, F.size(acc) - 1),
                F.array(F.struct(
                    F.element_at(acc, -1)["s"].alias("s"),
                    F.greatest(F.element_at(acc, -1)["e"],
                               (p + F.lit(w)).cast("int")).alias("e"),
                )),
            ),
        ).otherwise(
            F.concat(acc, F.array(F.struct(
                p.cast("int").alias("s"), (p + F.lit(w)).cast("int").alias("e"))))
        ),
    )
    rebuilt = (
        base.drop("hs")
        .join(remove, "__id", "left")
        .withColumn("__ivs", F.when(F.col("rm").isNull(), empty_ivs).otherwise(merged))
        .select(
            F.col("__id").alias(id_col),
            F.when(
                F.size("__ivs") == 0, F.col("__text")
            ).otherwise(
                F.array_join(
                    F.filter(
                        F.split(F.trim("__text"), r"\s+"),
                        lambda tok, j: ~F.exists(
                            F.col("__ivs"),
                            lambda iv: (iv["s"] <= j) & (j < iv["e"]),
                        ),
                    ),
                    " ",
                )
            ).alias(text_col),
        )
    )
    return rebuilt


def connected_components(pairs: DataFrame, id_a: str = "id_a", id_b: str = "id_b",
                         max_iterations: int = 25,
                         small_graph_edges: int = 500_000) -> DataFrame:
    """Transitive duplicate clusters from a pair list: min-label
    propagation until fixpoint. Every near-dup detector in this module
    emits PAIRS; a production dedup pipeline must collapse them into
    clusters (a~b, b~c ⇒ {a,b,c}) before choosing representatives —
    pairwise-only dedup keeps one copy per PAIR, not per cluster.

    Small-graph fast path: when the raw pair list holds at most
    ``small_graph_edges`` rows (ONE bounded limit+collect decides and
    fetches in the same job, with zero shuffles), it is clustered with
    driver-side union-find. A dedup pair list is almost always tiny
    relative to the corpus (bucketed detectors emit candidate pairs,
    not row pairs), and a sub-million-edge graph clusters in
    milliseconds on one core while the distributed iteration pays ~3
    scheduler rounds PER ITERATION in fixed overhead — the same
    small-graph shortcut production graph libraries take. The collect
    is bounded by the threshold — budget ~10-20x the raw 2x8 bytes per
    edge for PySpark Row objects plus the union-find dicts, i.e. on
    the order of 100-200 MB of driver Python heap at the 500k default;
    pass ``small_graph_edges=0`` to force the iterative path. Both
    paths return identical (id, component) labelings.

    Spark shape: edges are symmetrized once; each iteration is one
    equi-join + groupBy(min) over (node, label) — all shuffles on the
    node id, no driver state, convergence detected with a cheap
    empty-check probe. Duplicate clusters have tiny diameter (near-dup
    chains are short), so iterations ≈ a handful; the per-iteration
    persist cuts the lineage so plan size stays constant (at true corpus
    scale swap persist for localCheckpoint every few rounds). Returns
    (id, component) where component = min id of the cluster.

    The reference has no clustering operator (its DataDuplicates works
    on exact groupBy groups); this is the engine's scale extension, same
    role as the alternating-star CC algorithms in the literature but
    with the simple min-propagation that suffices at dedup diameters.
    """
    raw = pairs.select(F.col(id_a).alias("src"), F.col(id_b).alias("dst"))
    if small_graph_edges > 0:
        # union-find needs neither symmetrization nor dedup, so the
        # fast path probes the RAW pair list with one bounded
        # limit+collect — zero shuffles, one job (a separate count +
        # toLocalIterator pays one RPC per shuffle partition; measured
        # 10x slower on a 32-partition frame)
        rows = raw.limit(small_graph_edges + 1).collect()
        if len(rows) <= small_graph_edges:
            return _union_find_components(raw, rows)
        del rows
    edges = raw.union(
        raw.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
    ).distinct()
    edges.persist()
    labels = (
        edges.select(F.col("src").alias("id")).distinct()
        .withColumn("component", F.col("id"))
    )
    labels.persist()
    # Convergence probe must be TYPE-AGNOSTIC: ids may be strings or
    # 64-bit hashes, so Σcomponent (the old probe) would ANSI-crash on
    # strings or overflow on hash ids. Instead carry the previous label
    # through the iteration and count changed rows — still one scalar
    # agg on the already-checkpointed frame, no extra comparison join.
    try:
        for _ in range(max_iterations):
            neighbor_min = (
                edges.join(labels, edges["dst"] == labels["id"])
                .groupBy("src").agg(F.min("component").alias("nb_min"))
            )
            propagated = (
                labels.join(neighbor_min, labels["id"] == neighbor_min["src"], "left")
                .select(
                    labels["id"],
                    labels["component"].alias("prev_component"),
                    F.least(F.col("component"),
                            F.coalesce(F.col("nb_min"), F.col("component")))
                    .alias("component"),
                )
            )
            # pointer jumping: component := component's own label — halves
            # the remaining path length each round, so chains converge in
            # O(log diameter) iterations instead of O(diameter)
            p = propagated.alias("p")
            q = propagated.alias("q")
            new_labels = (
                p.join(q, F.col("p.component") == F.col("q.id"), "left")
                .select(
                    F.col("p.id").alias("id"),
                    F.col("p.prev_component").alias("prev_component"),
                    F.least(F.col("p.component"),
                            F.coalesce(F.col("q.component"), F.col("p.component")))
                    .alias("component"),
                )
            )
            # TRUNCATE the lineage: the pointer-jump self-join references
            # the previous iteration's plan twice, so without truncation
            # the logical plan DOUBLES per iteration and Catalyst analysis
            # goes exponential (hangs ~10 iterations in). localCheckpoint
            # materializes the partitions and cuts the plan to a leaf —
            # at corpus scale use reliable checkpoint(dir) for the same
            # effect with fault tolerance.
            new_labels = new_labels.localCheckpoint(eager=True)
            changed = new_labels.filter(
                ~F.col("component").eqNullSafe(F.col("prev_component"))
            ).limit(1).count()
            labels.unpersist()
            labels = new_labels.drop("prev_component")
            if changed == 0:
                break
        return labels
    finally:
        edges.unpersist()


def _union_find_components(edges: DataFrame, rows: list) -> DataFrame:
    """Driver-side union-find over an already-collected, bounded raw
    pair list (neither symmetrization nor dedup needed); returns the
    same (id, component=min id of cluster) frame as the distributed
    iteration. Path compression + union by attaching the larger root
    under the smaller one, so the representative IS the cluster minimum
    with no second pass. NULL ids match the iterative path exactly: a
    NULL never unions across (equi-joins drop NULL keys), but every
    endpoint of a half-null pair — including the NULL itself, which the
    iterative path's ``select(src).distinct()`` keeps as a node — still
    gets its own singleton row."""
    parent: dict = {}

    def find(x):
        root = x
        while parent[root] != root:
            root = parent[root]
        while parent[x] != root:  # path compression
            parent[x], x = root, parent[x]
        return root

    for row in rows:
        a, b = row[0], row[1]
        if a not in parent:
            parent[a] = a
        if b not in parent:
            parent[b] = b
        if a is None or b is None:
            continue  # registered as singletons above, never unioned
        ra, rb = find(a), find(b)
        if ra != rb:
            # keep the SMALLER id as the root: the final root is then
            # exactly min(cluster), matching the min-propagation path
            if rb < ra:
                ra, rb = rb, ra
            parent[rb] = ra

    out = [(x, find(x)) for x in parent]
    id_type = edges.schema[0].dataType
    from pyspark.sql.types import StructField, StructType

    schema = StructType([
        StructField("id", id_type, True),
        StructField("component", id_type, True),
    ])
    return local_frame(edges.sparkSession, out, schema)


def deduplicate_by_pairs(df: DataFrame, pairs: DataFrame, id_col: str,
                         id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Keep one representative row per duplicate CLUSTER (the min id),
    dropping every other member — the end-to-end dedup step over any
    pair detector's output. Rows that appear in no pair pass through
    untouched (broadcast-friendly: only clustered ids join)."""
    comps = connected_components(pairs, id_a, id_b)
    drop = comps.filter(F.col("id") != F.col("component")).select(
        F.col("id").alias(id_col))
    return df.join(drop, id_col, "left_anti")


# ---------------------------------------------------------------------------
# Bloom-filter pre-filtered incremental dedup
# ---------------------------------------------------------------------------
#
# incremental_dedup's anti-join hash-partitions the CORPUS side on every
# batch: 16 bytes/row, but 16 bytes x 10^12 rows is a 16 TB exchange per
# crawl dump.  The standard production fix (CCNet / RefinedWeb-style
# dedup services) is a Bloom filter over the corpus hashes: built in ONE
# map-only corpus pass (no exchange), reused for every subsequent batch,
# probed with a vectorized Arrow UDF.  Because a Bloom filter has no
# false negatives, rows it rejects are PROVABLY fresh; only the
# candidate set (true duplicates + ~fpp of the fresh rows) needs exact
# verification, and that verification is a broadcast semi-join *into*
# the corpus scan followed by a broadcast anti-join on the batch — the
# corpus is scanned, never shuffled.  Output is bit-identical to
# incremental_dedup (same oracle).

_BLOOM_MAX_BITS = 1 << 36  # 8 GiB bitmap — must fit executor + driver memory


def _bloom_geometry(expected_items: int, fpp: float) -> tuple[int, int]:
    """Textbook Bloom sizing: m = -n·ln(p)/ln(2)² bits, k = (m/n)·ln(2),
    m rounded up to a whole byte and capped at _BLOOM_MAX_BITS (beyond
    ~10^10 items the single-bitmap design stops fitting in memory — at
    full 10^12 corpus scale the extension is P hash-partitioned bitmaps
    built from one amortized corpus shuffle, probed per batch partition;
    the cap keeps this implementation honest about its domain)."""
    import math

    n = max(1, int(expected_items))
    m = int(math.ceil(-n * math.log(fpp) / (math.log(2) ** 2)))
    m = max(64, min(m, _BLOOM_MAX_BITS))
    m = (m + 7) // 8 * 8
    k = max(1, int(round(m / n * math.log(2))))
    return m, min(k, 16)


def _bloom_hash_cols(text_col: str):
    # h1 is the SAME xxhash64(text) the exact path groups on; h2 chains
    # a constant so the pair is independent enough for
    # Kirsch-Mitzenmacher double hashing (pos_i = h1 + i*h2 mod m).
    return (F.xxhash64(F.col(text_col)),
            F.xxhash64(F.col(text_col), F.lit(1)))


def _bloom_positions(h1, h2, i: int, m_bits: int):
    import numpy as np

    a = h1.astype(np.uint64)
    b = h2.astype(np.uint64) | np.uint64(1)  # odd step
    return ((a + np.uint64(i) * b) % np.uint64(m_bits)).astype(np.int64)


class TextBloom:
    """A Bloom filter over xxhash64(text) values: the reusable artifact
    of one map-only corpus pass.  Build once per corpus snapshot with
    build_text_bloom; probe any number of later batches."""

    def __init__(self, bitmap, k: int, m_bits: int):
        self.bitmap = bitmap  # np.uint8 array, m_bits/8 long
        self.k = k
        self.m_bits = m_bits

    def might_contain(self, spark, text_col: str):
        """Boolean Column: True when text MAY be in the corpus (false
        positives at ~fpp), False when it is PROVABLY absent.  The
        bitmap ships to executors once via a Spark broadcast; the probe
        is a vectorized Arrow UDF (numpy gather per batch, no per-row
        Python)."""
        import numpy as np
        import pandas as pd
        from pyspark.sql.functions import pandas_udf

        bc = spark.sparkContext.broadcast(self.bitmap.tobytes())
        k, m_bits = self.k, self.m_bits

        @pandas_udf("boolean")
        def probe(h1: pd.Series, h2: pd.Series) -> pd.Series:
            bm = np.frombuffer(bc.value, dtype=np.uint8)
            a = h1.to_numpy(dtype=np.int64)
            b = h2.to_numpy(dtype=np.int64)
            hit = np.ones(len(a), dtype=bool)
            for i in range(k):
                pos = _bloom_positions(a, b, i, m_bits)
                hit &= ((bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).astype(bool)
            return pd.Series(hit)

        c1, c2 = _bloom_hash_cols(text_col)
        return probe(c1, c2)


def build_text_bloom(df: DataFrame, text_col: str,
                     expected_items: int | None = None,
                     fpp: float = 0.01) -> TextBloom:
    """ONE map-only pass over the corpus: each partition folds its rows
    into a local m-bit numpy bitmap (Arrow batches, k vectorized
    scatter-ORs per batch), partial bitmaps are OR-merged in a single
    executor task, and exactly one bitmap row reaches the driver — no
    corpus exchange, driver memory = m/8 bytes.

    expected_items sizes the filter; pass the snapshot's row count from
    table metadata at scale (None runs a count() job first).  NULL text
    hashes to the xxhash64 null constant — the same convention as the
    exact path, so NULL-duplicate semantics carry over."""
    import numpy as np
    import pandas as pd

    if expected_items is None:
        expected_items = df.count()
    m_bits, k = _bloom_geometry(expected_items, fpp)
    nbytes = m_bits // 8
    c1, c2 = _bloom_hash_cols(text_col)
    hashes = df.select(c1.alias("__h1"), c2.alias("__h2"))

    def _partition_bitmap(batches):
        bm = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            if not len(pdf):
                continue
            any_rows = True
            a = pdf["__h1"].to_numpy(dtype=np.int64)
            b = pdf["__h2"].to_numpy(dtype=np.int64)
            for i in range(k):
                pos = _bloom_positions(a, b, i, m_bits)
                np.bitwise_or.at(
                    bm, pos >> 3,
                    np.left_shift(1, (pos & 7)).astype(np.uint8))
        if any_rows:
            yield pd.DataFrame({"bitmap": [bm.tobytes()]})

    def _or_reduce(batches):
        bm = np.zeros(nbytes, dtype=np.uint8)
        any_rows = False
        for pdf in batches:
            for raw in pdf["bitmap"]:
                any_rows = True
                bm |= np.frombuffer(raw, dtype=np.uint8)
        if any_rows:
            yield pd.DataFrame({"bitmap": [bm.tobytes()]})

    merged = (
        hashes.mapInPandas(_partition_bitmap, schema="bitmap binary")
        .repartition(1)
        .mapInPandas(_or_reduce, schema="bitmap binary")
        .collect()
    )
    bm = np.zeros(nbytes, dtype=np.uint8)
    for row in merged:
        bm |= np.frombuffer(row["bitmap"], dtype=np.uint8)
    return TextBloom(bm, k, m_bits)


def incremental_dedup_bloom(batch: DataFrame, seen: DataFrame, id_col: str,
                            text_col: str, bloom: TextBloom | None = None,
                            expected_items: int | None = None,
                            fpp: float = 0.01,
                            max_candidate_hashes: int = 5_000_000) -> DataFrame:
    """incremental_dedup with a Bloom pre-filter: IDENTICAL output
    (Bloom filters have no false negatives, and every positive is
    exactly verified), different scale shape — the corpus side is
    scanned, never hash-partitioned:

    1. probe the batch against the corpus bloom (map-only Arrow UDF);
       rows the filter rejects are provably fresh and skip verification;
    2. the candidate hash set (true dups + ~fpp of fresh) broadcasts
       INTO a corpus scan as a semi-join filter — corpus branch is
       scan → BroadcastHashJoin(LeftSemi), zero corpus exchange;
    3. the surviving corpus hits (small) broadcast back as a LeftAnti
       filter on the batch; within-batch min-id canonicalization is the
       exact path's window, unchanged.

    Pass a prebuilt ``bloom`` (build_text_bloom, once per corpus
    snapshot) to amortize the corpus pass across every later batch —
    the per-batch corpus cost is then ONE filtered scan.  The batch
    plan is evaluated twice (candidate count/broadcast + final join);
    cache small batches upstream if the batch scan is expensive.

    The verification joins FORCE-broadcast the candidate hash set, so
    its size is gated first (one count job over the batch): a batch
    that is mostly already-seen text (a full re-crawl) can produce a
    candidate set near the batch's own distinct-hash count, far beyond
    broadcastable — above ``max_candidate_hashes`` (40 MB of bigints at
    the default) this falls back to the exact shuffled path, which
    handles that regime with an ordinary anti-join instead of OOMing
    the driver."""
    spark = batch.sparkSession
    if bloom is None:
        bloom = build_text_bloom(seen, text_col, expected_items, fpp)
    h = F.xxhash64(F.col(text_col))
    hb = (batch.withColumn("__h", h)
          .withColumn("__cand", bloom.might_contain(spark, text_col)))
    cand_hashes = (hb.filter(F.col("__cand"))
                   .select("__h").dropDuplicates(["__h"]))
    if cand_hashes.limit(max_candidate_hashes + 1).count() > max_candidate_hashes:
        return incremental_dedup(batch, seen, id_col, text_col)
    seen_hits = (
        seen.select(h.alias("__h"))
        .join(F.broadcast(cand_hashes), "__h", "left_semi")
        .dropDuplicates(["__h"])
    )
    fresh = hb.join(F.broadcast(seen_hits), "__h", "left_anti")
    keep = Window.partitionBy("__h")
    return (
        fresh.withColumn("__keep", F.min(F.col(id_col)).over(keep))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__h", "__cand", "__keep")
    )


class PartitionedTextBloom:
    """The 10^12-document extension of :class:`TextBloom`: ``n_buckets``
    hash-partitioned bitmaps living as a DataFrame ``(bp int, bitmap
    binary)`` — no single bitmap ever has to fit in one JVM or on the
    driver. Build once per corpus snapshot (persist or write the
    DataFrame next to the snapshot); probe any number of later batches.

    Sizing: each bucket's bitmap covers ``expected_items / n_buckets``
    keys at the requested fpp, so the per-task memory during build and
    probe is ``(buckets per task) x m_bucket/8`` bytes — pick
    ``n_buckets`` so that is comfortable (e.g. 10^12 keys at fpp 0.01 =
    ~1.2 TB of bits total; 4096 buckets = ~300 MB/bucket)."""

    def __init__(self, blooms: DataFrame, k: int, m_bits: int, n_buckets: int):
        self.blooms = blooms  # (bp int, bitmap binary), one row per bucket
        self.k = k
        self.m_bits = m_bits  # per-bucket bits
        self.n_buckets = n_buckets


def _bloom_bucket_col(text_col: str, n_buckets: int):
    # bucket key uses a THIRD hash chain so it is independent of the
    # (h1, h2) double-hash positions — bucketing on h1 would correlate
    # the bucket with the bit positions and raise the effective fpp
    return F.pmod(F.xxhash64(F.col(text_col), F.lit(2)),
                  F.lit(n_buckets)).cast("int")


def build_partitioned_text_bloom(df: DataFrame, text_col: str,
                                 n_buckets: int,
                                 expected_items: int | None = None,
                                 fpp: float = 0.01) -> PartitionedTextBloom:
    """ONE corpus pass with ONE 16-bytes/row shuffle (hash pairs
    repartitioned by bucket) — amortized over every later batch, which
    is the trade that beats re-shuffling the corpus per batch. Each
    shuffle partition streams its Arrow batches into the bitmaps of the
    buckets it owns (mapInPandas — no whole-group pandas
    materialization), yielding one ``(bp, bitmap)`` row per bucket."""
    if n_buckets < 1:
        raise ValueError("n_buckets must be >= 1")
    if expected_items is None:
        expected_items = df.count()
    m_bits, k = _bloom_geometry(
        max(1, int(expected_items) // n_buckets), fpp)
    nbytes = m_bits // 8
    c1, c2 = _bloom_hash_cols(text_col)
    hashes = df.select(
        c1.alias("__h1"), c2.alias("__h2"),
        _bloom_bucket_col(text_col, n_buckets).alias("bp"))

    def _bucket_bitmaps(batches):
        bms: dict = {}
        for pdf in batches:
            if not len(pdf):
                continue
            a = pdf["__h1"].to_numpy(dtype=np.int64)
            b = pdf["__h2"].to_numpy(dtype=np.int64)
            bps = pdf["bp"].to_numpy(dtype=np.int64)
            for bp in np.unique(bps):
                sel = bps == bp
                bm = bms.get(bp)
                if bm is None:
                    bm = bms[bp] = np.zeros(nbytes, dtype=np.uint8)
                for i in range(k):
                    pos = _bloom_positions(a[sel], b[sel], i, m_bits)
                    np.bitwise_or.at(
                        bm, pos >> 3,
                        np.left_shift(1, (pos & 7)).astype(np.uint8))
        for bp, bm in bms.items():
            yield pd.DataFrame({"bp": [int(bp)], "bitmap": [bm.tobytes()]})

    blooms = (
        hashes.repartition(n_buckets, "bp")
        .mapInPandas(_bucket_bitmaps, schema="bp int, bitmap binary")
    )
    return PartitionedTextBloom(blooms, k, m_bits, n_buckets)


def incremental_dedup_bloom_partitioned(
        batch: DataFrame, seen: DataFrame, id_col: str, text_col: str,
        bloom: PartitionedTextBloom | None = None,
        n_buckets: int = 64,
        expected_items: int | None = None,
        fpp: float = 0.01,
        max_candidate_hashes: int = 5_000_000) -> DataFrame:
    """incremental_dedup via a PARTITIONED bloom — identical output
    (no false negatives + exact verification, as in
    :func:`incremental_dedup_bloom`), but nothing is ever broadcast
    whole: the batch cogroups with the bitmap table on the bucket key,
    so each task sees its batch slice plus ONE bucket bitmap
    (applyInPandas cogroup — bitmap bytes never replicate per row).
    A batch bucket with no corpus bitmap is provably all-fresh.
    Verification of the surviving candidates is the same gated
    broadcast semi/anti join pair as the single-bitmap path."""
    spark = batch.sparkSession
    if bloom is None:
        bloom = build_partitioned_text_bloom(
            seen, text_col, n_buckets, expected_items, fpp)
    k, m_bits = bloom.k, bloom.m_bits
    c1, c2 = _bloom_hash_cols(text_col)
    hb = batch.select(
        "*", F.xxhash64(F.col(text_col)).alias("__h"),
        c1.alias("__h1"), c2.alias("__h2"),
        _bloom_bucket_col(text_col, bloom.n_buckets).alias("__bp"))

    from pyspark.sql import types as T
    out_fields = [f for f in hb.schema.fields if f.name not in ("__h1", "__h2")]
    out_schema = T.StructType(out_fields + [T.StructField("__cand", T.BooleanType())])

    def _probe(key, batch_pdf, bloom_pdf):
        if not len(batch_pdf):
            return pd.DataFrame(columns=[f.name for f in out_schema.fields])
        if len(bloom_pdf):
            bm = np.frombuffer(bytes(bloom_pdf["bitmap"].iloc[0]), dtype=np.uint8)
            a = batch_pdf["__h1"].to_numpy(dtype=np.int64)
            b = batch_pdf["__h2"].to_numpy(dtype=np.int64)
            hit = np.ones(len(a), dtype=bool)
            for i in range(k):
                pos = _bloom_positions(a, b, i, m_bits)
                hit &= ((bm[pos >> 3] >> (pos & 7).astype(np.uint8)) & 1).astype(bool)
        else:  # no corpus rows hash into this bucket -> provably fresh
            hit = np.zeros(len(batch_pdf), dtype=bool)
        out = batch_pdf.drop(columns=["__h1", "__h2"])
        out["__cand"] = hit
        return out

    probed = (
        hb.groupBy("__bp")
        .cogroup(bloom.blooms.groupBy("bp"))
        .applyInPandas(_probe, schema=out_schema)
    )
    cand_hashes = (probed.filter(F.col("__cand"))
                   .select("__h").dropDuplicates(["__h"]))
    if cand_hashes.limit(max_candidate_hashes + 1).count() > max_candidate_hashes:
        return incremental_dedup(batch, seen, id_col, text_col)
    h = F.xxhash64(F.col(text_col))
    seen_hits = (
        seen.select(h.alias("__h"))
        .join(F.broadcast(cand_hashes), "__h", "left_semi")
        .dropDuplicates(["__h"])
    )
    fresh = probed.join(F.broadcast(seen_hits), "__h", "left_anti")
    keep = Window.partitionBy("__h")
    return (
        fresh.withColumn("__keep", F.min(F.col(id_col)).over(keep))
        .filter(F.col(id_col) == F.col("__keep"))
        .drop("__h", "__bp", "__cand", "__keep")
    )


def cluster_size_profile(df: DataFrame, pairs: DataFrame, id_col: str,
                         id_a: str = "id_a", id_b: str = "id_b") -> DataFrame:
    """Duplication profile of the corpus: the distribution of duplicate
    CLUSTER sizes after transitive closure — the datacard panel that
    says *how* a corpus is duplicated, not just how much (a few giant
    boilerplate clusters vs a long tail of pairs need different fixes).
    One row per observed cluster size::

        cluster_size, n_clusters, n_docs, pct_of_corpus, n_removable

    where ``n_removable = n_docs − n_clusters`` (what
    :func:`deduplicate_by_pairs` would drop). Rows of ``df`` appearing
    in no pair are size-1 singleton clusters, so ``sum(n_docs)`` always
    equals the corpus row count and ``sum(n_removable)`` equals the
    total dedup saving.

    Scale shape: :func:`connected_components` over the PAIR list only
    (near-dup pair sets are tiny relative to the corpus); the corpus
    spine joins the O(clustered) label table on the id (AQE broadcasts
    it when it fits), then two map-side-combined aggregations reduce
    (component → size) → (size → distribution); the final table is
    O(distinct sizes) — a handful of rows. The document payload never
    enters any exchange: the spine is projected to the id column before
    the join."""
    comps = connected_components(pairs, id_a, id_b)
    spine = df.select(F.col(id_col).alias("id"))
    labeled = spine.join(comps, "id", "left").select(
        F.coalesce(F.col("component"), F.col("id")).alias("component")
    )
    sizes = labeled.groupBy("component").agg(F.count(F.lit(1)).alias("sz"))
    prof = sizes.groupBy("sz").agg(
        F.count(F.lit(1)).alias("n_clusters"),
        F.sum("sz").alias("n_docs"),
    )
    total = prof.agg(F.sum("n_docs").alias("__total"))
    return (
        prof.crossJoin(F.broadcast(total))
        .select(
            F.col("sz").cast("long").alias("cluster_size"),
            F.col("n_clusters").cast("long").alias("n_clusters"),
            F.col("n_docs").cast("long").alias("n_docs"),
            F.round(F.col("n_docs") / F.col("__total").cast("double"), 6)
            .alias("pct_of_corpus"),
            (F.col("n_docs") - F.col("n_clusters")).cast("long")
            .alias("n_removable"),
        )
    )
