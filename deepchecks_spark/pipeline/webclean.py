"""Web-corpus cleaning operators: the C4 line/page rule set, PII
redaction, URL normalization, cross-corpus duplicated-line removal and
domain mixture statistics — the standard transformations between a raw
Common-Crawl-style crawl and a training corpus (Raffel et al. 2020 §2.2
for the C4 rules; Wenzek et al. 2020 / Penedo et al. 2023 for line
dedup; Du et al. 2022 for domain mixtures). The reference
(deepchecks/deepchecks) validates corpora but has no cleaning
operators; this module is the engine's training-data pipeline
extension, same family as pipeline/dedup.py.

Scale shapes, per operator:

- ``c4_clean`` / ``pii_redaction`` / ``normalize_urls``: pure per-row
  projections built from higher-order array functions and
  ``regexp_replace`` — zero shuffle, zero Python, full codegen; a
  100 TB corpus maps straight through.
- ``remove_duplicated_lines``: the only cross-document operator. Lines
  never shuffle as text — each line reduces to its ``xxhash64`` before
  the explode, so every exchange moves (8-byte hash, id) pairs; the
  flagged-hash set joins back per document and the rewrite is an
  array filter against that per-doc set. Skew on a viral line is
  AQE-splittable.
- ``domain_mixture``: one groupBy on the domain key (map-side
  combine) plus a one-row totals broadcast.
- ``sample_to_mixture``: zero shuffle — a map-side Bernoulli /
  replication decision from a deterministic (id, seed) hash, fully
  codegen'd; re-runs and retried tasks sample identically.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepchecks_spark.functions.columns import quote_ident
from deepchecks_spark.io import local_frame

# C4 keeps lines that end in a terminal punctuation mark (the closing
# quote counts, matching the paper's "terminal punctuation" footnote)
C4_TERMINAL = (".", "!", "?", '"')


def _line_words(line):
    """Word count of one line (0 for blank lines)."""
    return F.when(
        F.length(F.trim(line)) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(line), r"\s+")))


def c4_clean(
    df: DataFrame,
    text_col: str,
    min_words_per_line: int = 3,
    min_sentences: int = 5,
    cleaned_col: str = "cleaned_text",
) -> DataFrame:
    """The C4 cleaning rule set (Raffel et al. 2020 §2.2) as one
    shuffle-free projection:

    line level — a line survives iff it ends in terminal punctuation
    (``. ! ? "``), has ≥ ``min_words_per_line`` words, and does not
    contain the word "javascript" (case-insensitive);

    page level — the page is dropped when the ORIGINAL text contains
    "lorem ipsum" (case-insensitive) or an opening curly brace (code
    marker), or when
    fewer than ``min_sentences`` sentences survive line filtering
    (sentences counted as terminal-punctuation runs in the kept text).

    Adds ``n_lines`` / ``n_lines_kept`` / ``n_sentences``, the rebuilt
    ``cleaned_text`` (kept lines joined with newlines), the
    comma-joined ``drop_reasons`` (empty = keep) and the ``page_keep``
    verdict. Rule thresholds are the paper's defaults."""
    text = F.col(text_col)
    lines = F.split(text, "\n")
    kept = F.filter(
        lines,
        lambda x: (
            F.substring(F.rtrim(x), -1, 1).isin(*C4_TERMINAL)
            & (_line_words(x) >= min_words_per_line)
            & ~F.lower(x).contains("javascript")
        ),
    )
    cleaned = F.array_join(kept, "\n")
    # sentence count = runs of terminal punctuation in the kept text
    n_sentences = F.when(
        F.length(cleaned) == 0, F.lit(0)
    ).otherwise(F.size(F.regexp_extract_all(cleaned, F.lit(r'[.!?"]+'), 0)))
    out = df.select(
        "*",
        F.size(lines).cast("long").alias("n_lines"),
        F.size(kept).cast("long").alias("n_lines_kept"),
        n_sentences.cast("long").alias("n_sentences"),
        cleaned.alias(cleaned_col),
    )
    reasons = [
        ("lorem_ipsum", F.lower(text).contains("lorem ipsum")),
        ("curly_brace", text.contains("{")),
        ("too_few_sentences", F.col("n_sentences") < min_sentences),
    ]
    drop = F.concat_ws(",", *[F.when(cond, F.lit(name)) for name, cond in reasons])
    return out.withColumn("drop_reasons", drop).withColumn(
        "page_keep", F.col("drop_reasons") == ""
    )


# PII patterns chosen to mean the same thing under Java regex (Spark)
# and RE2 (DuckDB oracle): no backreferences, no lookaround.
PII_PATTERNS = (
    ("email", r"[A-Za-z0-9._%+-]+@[A-Za-z0-9.-]+\.[A-Za-z]{2,}", "<EMAIL>"),
    ("ip", r"\b(?:\d{1,3}\.){3}\d{1,3}\b", "<IP>"),
    ("phone", r"\+?\d[\d\- ]{7,}\d", "<PHONE>"),
)


def pii_redaction(df: DataFrame, text_col: str,
                  redacted_col: str = "redacted_text") -> DataFrame:
    """BigScience-style regex PII pass: replace emails, IPv4 addresses
    and phone-like digit runs with typed placeholder tokens, in that
    order (emails before IPs before phones, so an address inside an
    email is counted once). Adds ``n_email`` / ``n_ip`` / ``n_phone``
    match counts and the rewritten ``redacted_text``. One per-row
    projection — zero shuffle, full codegen; counts come from
    ``regexp_count`` on the text as seen by that stage."""
    out = df
    col = F.col(text_col)
    for name, pat, token in PII_PATTERNS:
        out = out.withColumn(f"n_{name}",
                             F.regexp_count(col, F.lit(pat)).cast("long"))
        col = F.regexp_replace(col, pat, token)
    return out.withColumn(redacted_col, col)


# tracking parameters stripped by URL normalization (the common
# utm_* family plus the click-id parameters ad networks append).
# Anchored to a query-parameter boundary ([?&] then the WHOLE name) so
# 'href=', 'xref=' or a path segment like '/ref=sr_1' never match; the
# captured separator is kept so the gap-cleanup step can collapse it.
TRACKING_PARAM_RE = r"([?&])(utm_[a-z]+|fbclid|gclid|msclkid|ref)=[^&#]*"


def normalize_urls(df: DataFrame, url_col: str,
                   out_col: str = "normalized_url") -> DataFrame:
    """Canonical URL form for URL-level dedup: lower-case the scheme
    and host, drop the fragment, strip tracking query parameters
    (``utm_*``, ``fbclid``, ``gclid``, ``msclkid``, ``ref``), collapse
    a now-empty query string, strip default ports and a trailing slash
    on a bare path. A regexp_replace chain — zero shuffle; the same
    chain is expressible verbatim in ANSI SQL for oracle parity."""
    u = F.col(url_col)
    # lower-case scheme://host (authority ends at /, ?, # or EOS)
    head = F.regexp_extract(u, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*)", 1)
    rest = F.substring(u, F.length(head) + 1, F.length(u))
    u = F.concat(F.lower(head), rest)
    u = F.regexp_replace(u, r"#.*$", "")              # fragment
    u = F.regexp_replace(u, TRACKING_PARAM_RE, r"$1")  # tracking params
    u = F.regexp_replace(u, r"([?&])&+", r"$1")        # param gaps
    u = F.regexp_replace(u, r"[?&]$", "")              # dangling ? / &
    # default ports: SCHEME-AWARE (:80 is only default for http, :443
    # for https) and anchored to the authority — a ':80/' inside a path
    # or query is data, not a port. ([/?#]|$) instead of a lookahead so
    # the same pattern runs under RE2 in the DuckDB oracle.
    u = F.regexp_replace(u, r"^(http://[^/?#]*):80([/?#]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^(https://[^/?#]*):443([/?#]|$)", r"$1$2")
    u = F.regexp_replace(u, r"^([a-z][a-z0-9+.-]*://[^/?#]+)/$", r"$1")
    return df.withColumn(out_col, u)


def url_duplicate_stats(df: DataFrame, url_col: str) -> DataFrame:
    """Normalize URLs, then report each normalized form that more than
    one raw URL collapses onto: (normalized_url, n_raw, n_distinct_raw).
    One groupBy on the normalized key — map-side combine collapses
    within-partition repeats, the shuffle moves (url, counts) rows."""
    norm = normalize_urls(df.select(F.col(url_col)), url_col)
    return (
        norm.groupBy("normalized_url")
        .agg(
            F.count(F.lit(1)).alias("n_raw"),
            F.countDistinct(url_col).alias("n_distinct_raw"),
        )
        .filter(F.col("n_raw") >= 2)
    )


def keep_latest_crawl(df: DataFrame, url_col: str, ts_col: str,
                      tiebreak_col: str | None = None) -> DataFrame:
    """Recrawl dedup: keep exactly the newest snapshot of every URL —
    the standard reduction from a multi-crawl Common-Crawl stack
    (url, warc_ts, ...) to a one-row-per-url training corpus. Returns
    the full original schema, one row per distinct ``url_col``.

    ``tiebreak_col`` (e.g. a record id) makes equal-timestamp recrawls
    deterministic — without it, ties pick an arbitrary snapshot and
    re-runs may differ; pass one whenever ``(url, ts)`` is not unique.

    Scale shape: one ``groupBy(url)`` with ``max_by(struct(payload),
    struct(ts, tiebreak))`` — an algebraic aggregate, so map-side
    combine reduces each partition to its per-url argmax BEFORE the
    exchange and the shuffle moves one candidate row per (partition,
    url), not the full recrawl history. No window function (a
    row_number over url would shuffle every snapshot), no join-back.
    Skewed hot URLs collapse map-side for the same reason."""
    others = [c for c in df.columns if c != url_col]
    order = (F.struct(F.col(ts_col), F.col(tiebreak_col)) if tiebreak_col
             else F.col(ts_col))
    return (
        df.groupBy(url_col)
        .agg(F.max_by(F.struct(*others), order).alias("__latest"))
        .select(url_col, "__latest.*")
    )


def remove_duplicated_lines(
    df: DataFrame,
    id_col: str,
    text_col: str,
    min_docs: int = 2,
    cleaned_col: str = "cleaned_text",
) -> DataFrame:
    """Cross-corpus duplicated-line removal (the CCNet/RefinedWeb
    boilerplate pass): a (trimmed, non-blank) line that occurs in
    ≥ ``min_docs`` DISTINCT documents is removed from every document.
    Returns the full id spine with ``n_lines``, ``n_lines_removed``
    and the rewritten ``cleaned_col``.

    Scale shape: lines shuffle only as 8-byte ``xxhash64`` values —
    (hash, id) pre-aggregation with map-side combine, a distinct-doc
    count per hash, and the flagged set re-joined per document where it
    becomes one array-membership filter; the line TEXT never leaves its
    row. 64-bit collision risk is the birthday bound (≈n²/2^65), the
    same documented trade as ``duplicate_chunk_stats``."""
    lines = F.split(F.col(text_col), "\n")
    h = lambda x: F.xxhash64(F.trim(x))  # noqa: E731
    nonblank = F.filter(lines, lambda x: F.length(F.trim(x)) > 0)
    base = df.select(
        F.col(id_col).alias("__id"),
        F.col(text_col).alias("__text"),
        lines.alias("__lines"),
        F.array_distinct(F.transform(nonblank, h)).alias("__hashes"),
    )
    exploded = base.select("__id", F.explode("__hashes").alias("__h"))
    flagged = (
        exploded.groupBy("__h")
        .agg(F.count(F.lit(1)).alias("n_docs"))  # __hashes is distinct per doc
        .filter(F.col("n_docs") >= min_docs)
        .select("__h")
    )
    doc_flagged = (
        exploded.join(flagged, "__h")
        .groupBy("__id")
        .agg(F.collect_set("__h").alias("__flagged"))
    )
    rebuilt = (
        base.join(doc_flagged, "__id", "left")
        .withColumn(
            "__flagged",
            F.coalesce(F.col("__flagged"), F.array().cast("array<bigint>")),
        )
        .withColumn(
            "__kept",
            F.filter(
                F.col("__lines"),
                lambda x: (F.length(F.trim(x)) == 0)
                | ~F.array_contains(F.col("__flagged"), h(x)),
            ),
        )
    )
    return rebuilt.select(
        F.col("__id").alias(id_col),
        F.size("__lines").cast("long").alias("n_lines"),
        (F.size("__lines") - F.size("__kept")).cast("long").alias("n_lines_removed"),
        F.array_join("__kept", "\n").alias(cleaned_col),
    )


def domain_mixture(
    df: DataFrame,
    domain_col: str,
    text_col: str,
    target_shares: dict[str, float] | None = None,
) -> DataFrame:
    """Per-domain corpus mixture statistics and, when a target mixture
    is given, the per-domain sampling weight that reweights the corpus
    toward it (Du et al. 2022 / DoReMi-style static mixing):

        weight(d) = target_share(d) / actual_token_share(d)

    (NULL for domains with no target entry). One groupBy on the domain
    key — whitespace token counts are computed per row BEFORE the
    aggregation so the shuffle moves (domain, two longs); the one-row
    corpus totals broadcast back. Sort by domain for determinism."""
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.lit(0)
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    per = (
        df.select(F.col(domain_col).alias("domain"), toks.alias("__n"))
        .groupBy("domain")
        .agg(
            F.count(F.lit(1)).alias("n_docs"),
            F.sum("__n").alias("n_tokens"),
        )
    )
    totals = per.agg(F.sum("n_tokens").alias("__total"))
    out = per.crossJoin(F.broadcast(totals)).withColumn(
        "token_share", F.col("n_tokens") / F.col("__total").cast("double")
    ).drop("__total")
    if target_shares is not None:
        target = F.create_map(
            *[F.lit(x) for kv in sorted(target_shares.items()) for x in kv]
        )
        out = out.withColumn("target_share", target[F.col("domain")]).withColumn(
            "sampling_weight", F.col("target_share") / F.col("token_share")
        )
    return out.orderBy("domain")


# Knuth's multiplicative hash constant (2^32 / phi); public domain
_MIX_MULT = 2654435761
_MIX_MOD = 4294967296  # 2^32

# above this many weighted domains the weight table ships as a
# broadcast-joined DataFrame instead of a create_map literal (a
# 100k-domain mixture would otherwise inline 200k expressions into the
# plan — the giant-isin plan-size hazard)
WEIGHTS_LITERAL_MAX = 256


def mixture_uniform_expr(id_col: str, seed: int = 0):
    """Deterministic per-row uniform in [0, 1) from an integer id:
    Knuth multiplicative hashing, ``((id mod 2^31) * 2654435761 + seed)
    mod 2^32 / 2^32``. The ``mod 2^31`` pre-reduction keeps the product
    inside 63 bits, so the arithmetic is ANSI-overflow-safe on 64-bit
    ids — and exactly reproducible in any engine with 64-bit integer
    math (the DuckDB oracle recomputes it verbatim), unlike
    ``F.rand(seed)`` whose stream depends on partitioning."""
    u32 = F.pmod(
        F.pmod(F.col(id_col).cast("long"), F.lit(2147483648)) * F.lit(_MIX_MULT)
        + F.lit(int(seed)),
        F.lit(_MIX_MOD),
    )
    return u32.cast("double") / F.lit(float(_MIX_MOD))


def sample_to_mixture(
    df: DataFrame,
    domain_col: str,
    id_col: str,
    weights: dict[str, float],
    seed: int = 0,
) -> DataFrame:
    """Resample the corpus toward a target domain mixture given the
    per-domain ``sampling_weight`` that ``domain_mixture`` computes
    (Du et al. 2022 / DoReMi-style static mixing, the acting half of
    that check): weight < 1 downsamples the domain by Bernoulli(w);
    weight ≥ 1 upsamples by replication — ``floor(w)`` copies plus one
    more with probability ``frac(w)``. Domains missing from ``weights``
    are dropped (weight 0). Emits the original columns plus ``copy``
    (0-based replica index; always 0 for downsampled rows) so repeated
    rows stay distinguishable downstream.

    Every decision is a deterministic function of (id, seed) via
    ``mixture_uniform_expr`` — re-runs and retried tasks make identical
    choices, which is what makes the operator exactly-once under
    speculative execution and resumable pipelines.

    Scale shape: zero shuffle — one map-side projection builds the
    per-row copy count from a broadcast-literal weight map, one
    ``explode(sequence(...))`` materializes the replicas; full
    whole-stage codegen, no Python. At 100 TB the cost is the scan."""
    cols = df.columns
    if len(weights) > WEIGHTS_LITERAL_MAX:
        wdf = local_frame(
            df.sparkSession, [(k, float(v)) for k, v in sorted(weights.items())],
            f"{quote_ident(domain_col)} string, __wt double")
        # re-select to keep the caller's column order (the equi-join
        # moves the join key first)
        df = df.join(F.broadcast(wdf), domain_col, "left").select(*cols, "__wt")
        w = F.coalesce(F.col("__wt"), F.lit(0.0))
    else:
        wmap = F.create_map(
            *[F.lit(x) for kv in sorted(weights.items()) for x in (kv[0], float(kv[1]))]
        )
        w = F.coalesce(wmap[F.col(domain_col)], F.lit(0.0))
    u = mixture_uniform_expr(id_col, seed)
    n_copies = (F.floor(w) + F.when(u < w - F.floor(w), 1).otherwise(0)).cast("int")
    return (
        df.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .drop("__n", "__wt")
    )


# group-split hash resolution: 7 hex digits of md5 = 28 bits, so split
# fractions resolve to ~4e-9 — far below any practical test_frac
_SPLIT_HASH_DENOM = 268435456  # 16^7
_SPLIT_NULL_SENTINEL = "__NULL__"


def split_by_group(df: DataFrame, group_col: str, test_frac: float,
                   seed: int = 0, split_col: str = "split") -> DataFrame:
    """Leakage-safe train/test split at GROUP granularity (the
    GroupShuffleSplit shape): every row of a group — all pages of a
    domain, all revisions of a url — lands on the SAME side, so
    near-duplicate members of a group can never straddle the split and
    leak test content into training. Row-level Bernoulli splits (the
    Dataset train/test helper) cannot give this property.

    The assignment is a pure deterministic function of
    ``(group value, seed)``: uniform = first 7 hex digits of
    ``md5(group || ':' || seed)`` over 16^7, ``test`` iff
    uniform < ``test_frac``. Identical across re-runs, task retries,
    partitionings AND engines (the DuckDB oracle recomputes the md5
    arithmetic verbatim) — unlike ``F.rand(seed)``, whose stream
    depends on partitioning. NULL groups map to the documented
    ``"__NULL__"`` sentinel and travel together.

    Scale shape: zero shuffle — one map-side projection, full
    whole-stage codegen (md5 + conv are JVM exprs). The realized test
    fraction converges to ``test_frac`` in GROUPS (not rows): a heavy
    domain drags its whole mass to one side, which is the point.
    """
    if not (0.0 <= test_frac <= 1.0):
        raise ValueError(f"test_frac must be in [0, 1]; got {test_frac}")
    g = F.coalesce(F.col(group_col).cast("string"),
                   F.lit(_SPLIT_NULL_SENTINEL))
    u = (F.conv(F.substring(F.md5(F.concat(g, F.lit(":"), F.lit(str(int(seed))))),
                            1, 7), 16, 10).cast("long")
         / F.lit(float(_SPLIT_HASH_DENOM)))
    return df.withColumn(
        split_col, F.when(u < F.lit(float(test_frac)),
                          F.lit("test")).otherwise(F.lit("train")))


def rebalance_classes(df: DataFrame, label_col: str, id_col: str,
                      target_count: int | None = None, seed: int = 0,
                      max_classes: int = 100_000) -> DataFrame:
    """The acting half of the ClassImbalance check (the mixture-repair
    analogue of sample_to_mixture, at LABEL granularity): resample every
    class toward a common per-class size — the minority-class count by
    default, or an explicit ``target_count``. Classes above the target
    downsample by Bernoulli(target/count); classes below it upsample by
    replication (``floor(w)`` copies + one more with probability
    ``frac(w)``), so the EXPECTED per-class size equals the target.
    Emits the original columns plus ``copy`` (0-based replica index).

    Unlike sample_to_mixture this never touches the driver: the
    per-class weight table is computed as a DataFrame (one bounded
    groupBy — shuffle carries one row per class), broadcast, and joined
    back NULL-SAFELY, so NULL-label rows form their own class and are
    rebalanced like any other. Every keep/replicate decision is the
    deterministic Knuth-hash function of (id, seed) used across this
    module — exactly-once under task retry, reproducible across
    engines.

    ``max_classes`` gates the broadcast (the weight table must stay
    broadcastable); exceeding it raises rather than silently degrading.
    """
    if target_count is not None and target_count < 1:
        raise ValueError(f"target_count must be >= 1; got {target_count}")
    cols = df.columns
    per = df.groupBy(F.col(label_col).alias("__lbl")).agg(
        F.count(F.lit(1)).alias("__cnt"))
    if per.limit(max_classes + 1).count() > max_classes:
        raise ValueError(
            f"rebalance_classes: over {max_classes} distinct values in "
            f"{label_col!r} — not a class label; raise max_classes only "
            "if the weight table is genuinely broadcastable")
    if target_count is not None:
        wdf = per.withColumn(
            "__wt", F.lit(int(target_count)) / F.col("__cnt").cast("double"))
    else:
        mins = per.agg(F.min("__cnt").alias("__min"))
        wdf = (per.crossJoin(F.broadcast(mins))
               .withColumn("__wt", F.col("__min") / F.col("__cnt").cast("double"))
               .drop("__min"))
    joined = df.join(F.broadcast(wdf),
                     F.col(label_col).eqNullSafe(F.col("__lbl")), "inner")
    u = mixture_uniform_expr(id_col, seed)
    n_copies = (F.floor(F.col("__wt"))
                + F.when(u < F.col("__wt") - F.floor(F.col("__wt")), 1)
                .otherwise(0)).cast("int")
    return (
        joined.withColumn("__n", n_copies)
        .filter(F.col("__n") > 0)
        .withColumn("copy", F.explode(F.sequence(F.lit(0), F.col("__n") - 1)))
        .select(*cols, "copy")
    )


# salted two-stage top-k: a stratum is split into this many sub-windows
# for the first (heavy) rank pass so one giant stratum — 'en' is
# routinely >80% of a web corpus — never funnels through a single
# window partition
STRATA_SALT_BUCKETS = 64


def stratified_sample(df: DataFrame, strata_cols, id_col: str,
                      k: int, salt_buckets: int = STRATA_SALT_BUCKETS
                      ) -> DataFrame:
    """Deterministic EXACT k-per-stratum sample (the 'inspect 100 docs
    per language' / per-domain eval-slice draw). Rows are ranked inside
    each stratum by ``(md5(cast(id as string)), id)`` — a fixed,
    engine-portable total order, so the same rows are drawn on every
    run, every engine, and every cluster size; output carries a
    ``sample_rank`` column (1..k within the stratum).

    Reference parity: deepchecks samples with pandas
    ``DataFrame.sample`` (seeded but partition-order-dependent when
    chained after distributed reads); this operator's draw is a pure
    function of the row id.

    Scale shape — the naive single window per stratum makes the
    largest stratum a one-reducer straggler. Instead, two-stage salted
    top-k: stage 1 ranks within ``(stratum, salt)`` where ``salt =
    pmod(xxhash64(id), salt_buckets)`` and keeps each salted group's k
    smallest — correct because a row's global in-stratum rank is never
    smaller than its salted rank, so the true top-k all survive; stage
    2 re-ranks the ≤ k·salt_buckets survivors per stratum — a shuffle
    of at most ``k·salt_buckets·n_strata`` rows, trivially small. Both
    passes are JVM window functions; no collect, no Python."""
    if isinstance(strata_cols, str):
        strata_cols = [strata_cols]
    if k < 1:
        raise ValueError(f"k must be >= 1; got {k}")
    from pyspark.sql import Window

    w1 = (Window.partitionBy(*strata_cols, "__salt")
          .orderBy("__rk", id_col))
    w2 = Window.partitionBy(*strata_cols).orderBy("__rk", id_col)
    cols = df.columns
    return (
        df.withColumn("__rk", F.md5(F.col(id_col).cast("string")))
        .withColumn("__salt",
                    F.pmod(F.xxhash64(F.col(id_col)), F.lit(salt_buckets)))
        .withColumn("__r1", F.row_number().over(w1))
        .filter(F.col("__r1") <= k)
        .withColumn("sample_rank", F.row_number().over(w2))
        .filter(F.col("sample_rank") <= k)
        .select(*cols, "sample_rank")
    )


def pii_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus-level PII exposure report — the one-row summary a data
    card / release review needs before the per-row redaction pass is
    even scheduled::

        n_docs, n_docs_with_pii, pct_docs_with_pii,
        n_email, n_ip, n_phone

    Counts use the identical sequential-replacement semantics as
    :func:`pii_redaction` (emails counted before IP/phone patterns see
    the text), so ``redact-then-audit`` and ``audit-then-redact`` agree
    exactly.

    Scale shape: the per-row counts are the same zero-shuffle codegen'd
    regexp projection as the redaction pass; the summary is ONE
    distributive aggregation — partials collapse map-side and a single
    one-row exchange reaches the driver. At 100 TB the cost is the
    scan."""
    per = pii_redaction(df.select(F.col(text_col)), text_col)
    any_pii = (
        (F.col("n_email") + F.col("n_ip") + F.col("n_phone")) > 0
    ).cast("long")
    n_docs = F.count(F.lit(1))
    return per.agg(
        n_docs.cast("long").alias("n_docs"),
        F.sum(any_pii).cast("long").alias("n_docs_with_pii"),
        F.round(F.sum(any_pii) / F.greatest(n_docs, F.lit(1)).cast("double"), 6)
        .alias("pct_docs_with_pii"),
        F.sum("n_email").cast("long").alias("n_email"),
        F.sum("n_ip").cast("long").alias("n_ip"),
        F.sum("n_phone").cast("long").alias("n_phone"),
    )


# host extraction: scheme '://' then optional userinfo, host ends at
# port / path / query / fragment. No lookaround, no backreferences —
# the same pattern compiles under Java regex (Spark) and RE2 (DuckDB).
URL_HOST_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://(?:[^/?#@]*@)?([^/?#:]+)"
# path component: everything from the first '/' after the authority up
# to the query/fragment
URL_PATH_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]*(/[^?#]*)"


def extract_domain(df: DataFrame, url_col: str,
                   out_col: str = "domain") -> DataFrame:
    """Lower-cased host extracted from a URL column — the grouping key
    for every per-domain corpus operator. Pure codegen'd
    ``regexp_extract`` projection: zero shuffle."""
    return df.withColumn(
        out_col, F.lower(F.regexp_extract(F.col(url_col), URL_HOST_RE, 1))
    )


def domain_profile(df: DataFrame, url_col: str, text_col: str) -> DataFrame:
    """Per-domain corpus profile — the RefinedWeb/FineWeb-style "which
    hosts feed the corpus, and which are junk" report: document count,
    exact-duplicate-text rate WITHIN the domain, whitespace-token mass
    and mean document length per domain.

    Scale shape: text reduces to its 64-bit ``xxhash64`` before any
    exchange (the text itself never shuffles). Two aggregations — one
    over (domain, text-hash) with map-side combine, then one over
    domain whose input is already one row per distinct text — and a
    final sort by domain for determinism. A viral duplicate (one text
    repeated across millions of rows of one domain) collapses map-side
    in the first partial aggregation, so the hot key ships one row per
    input partition, not one per document."""
    host = F.lower(F.regexp_extract(F.col(url_col), URL_HOST_RE, 1))
    t = F.trim(F.col(text_col))
    toks = F.when(F.length(t) == 0, F.lit(0)).otherwise(
        F.size(F.split(t, r"\s+"))
    )
    per_text = (
        df.select(
            host.alias("domain"),
            F.xxhash64(F.col(text_col)).alias("__th"),
            toks.cast("long").alias("__nt"),
            F.length(F.col(text_col)).cast("long").alias("__nc"),
        )
        .groupBy("domain", "__th")
        .agg(
            F.count(F.lit(1)).alias("__n"),
            F.sum("__nt").alias("__snt"),
            F.sum("__nc").alias("__snc"),
        )
    )
    return (
        per_text.groupBy("domain")
        .agg(
            F.sum("__n").cast("long").alias("n_docs"),
            F.count(F.lit(1)).cast("long").alias("n_unique_texts"),
            ((F.sum("__n") - F.count(F.lit(1)))
             / F.sum("__n").cast("double")).alias("dup_ratio"),
            F.sum("__snt").cast("long").alias("n_tokens"),
            (F.sum("__snc") / F.sum("__n").cast("double")).alias("avg_chars"),
        )
        .orderBy("domain")
    )


def url_spam_scores(df: DataFrame, url_col: str,
                    threshold: float = 0.5) -> DataFrame:
    """Structural URL spam signals (WEBSPAM-UK / SEO-farm heuristics:
    long URLs, digit-stuffed hosts, deep paths, parameter explosions,
    subdomain chains) combined into one bounded score.

    Adds per-row columns::

        url_len, host_digit_ratio, path_depth, n_params, n_subdomains,
        spam_score  = 0.25*min(url_len/200,1) + 0.25*host_digit_ratio
                    + 0.20*min(n_params/5,1) + 0.15*min(path_depth/8,1)
                    + 0.15*min(n_subdomains/4,1)
        is_spam     = spam_score >= threshold

    Every signal is plain length/replace arithmetic on regexp-extracted
    URL parts — a zero-shuffle, fully codegen'd projection that is
    reproducible verbatim in ANSI SQL (the DuckDB oracle recomputes the
    identical expressions). At 100 TB the cost is the scan."""
    u = F.col(url_col)
    host = F.lower(F.regexp_extract(u, URL_HOST_RE, 1))
    path = F.regexp_extract(u, URL_PATH_RE, 1)
    query = F.regexp_extract(u, r"\?([^#]*)", 1)
    host_len = F.length(host)
    url_len = F.length(u).cast("long")
    digit_ratio = F.when(host_len > 0,
                         F.length(F.regexp_replace(host, "[^0-9]", ""))
                         / host_len.cast("double")).otherwise(F.lit(0.0))
    depth = (F.length(path)
             - F.length(F.regexp_replace(path, "/", ""))).cast("long")
    n_params = F.when(F.length(query) == 0, F.lit(0)).otherwise(
        F.length(query) - F.length(F.regexp_replace(query, "&", "")) + 1
    ).cast("long")
    dots = host_len - F.length(F.regexp_replace(host, r"\.", ""))
    n_sub = F.greatest(dots - 1, F.lit(0)).cast("long")
    one = F.lit(1.0)
    score = (
        F.lit(0.25) * F.least(url_len / F.lit(200.0), one)
        + F.lit(0.25) * digit_ratio
        + F.lit(0.20) * F.least(n_params / F.lit(5.0), one)
        + F.lit(0.15) * F.least(depth / F.lit(8.0), one)
        + F.lit(0.15) * F.least(n_sub / F.lit(4.0), one)
    )
    return (
        df.withColumn("url_len", url_len)
        .withColumn("host_digit_ratio", digit_ratio)
        .withColumn("path_depth", depth)
        .withColumn("n_params", n_params)
        .withColumn("n_subdomains", n_sub)
        .withColumn("spam_score", score)
        .withColumn("is_spam", score >= F.lit(float(threshold)))
    )


def boilerplate_lines(df: DataFrame, text_col: str,
                      min_docs: int = 2, k: int = 20) -> DataFrame:
    """Top-k boilerplate-line REPORT (the inspection twin of
    :func:`remove_duplicated_lines`): the trimmed, non-blank lines that
    occur in the most distinct documents, with document counts and
    corpus fractions — what an operator reads before deciding the
    ``min_docs`` cut for the removal pass.

    Returns ``(line, n_docs, frac_docs)``, ordered by
    ``(n_docs DESC, line)`` and cut to ``k`` rows.

    Scale shape: per-document distinctness is resolved INSIDE the row
    (``array_distinct`` on the trimmed line array) so the explode emits
    each (document, line) pair once; one groupBy(line) with map-side
    combine — the exchange carries at most one instance of each
    distinct line per input partition, and the viral boilerplate line
    everyone shares collapses map-side; the final top-k is a
    TakeOrderedAndProject, never a global sort; the one-row corpus
    total broadcasts back for the fraction."""
    lines = F.split(F.col(text_col), "\n")
    nonblank = F.filter(lines, lambda x: F.length(F.trim(x)) > 0)
    trimmed = F.array_distinct(F.transform(nonblank, lambda x: F.trim(x)))
    total = df.agg(F.count(F.lit(1)).cast("long").alias("__total"))
    per = (
        df.select(F.explode(trimmed).alias("line"))
        .groupBy("line")
        .agg(F.count(F.lit(1)).cast("long").alias("n_docs"))
        .filter(F.col("n_docs") >= int(min_docs))
    )
    return (
        per.crossJoin(F.broadcast(total))
        .withColumn("frac_docs",
                    F.col("n_docs") / F.col("__total").cast("double"))
        .drop("__total")
        .orderBy(F.desc("n_docs"), "line")
        .limit(int(k))
    )


def crawl_churn(old_df: DataFrame, new_df: DataFrame,
                url_col: str) -> DataFrame:
    """Crawl-over-crawl URL churn: the one-row retention summary an
    operator reads before trusting a recrawl (how much of the previous
    snapshot survived, how much is new, how much vanished), computed on
    DISTINCT URLs per side::

        n_old, n_new, n_retained, n_added, n_removed,
        retention_rate = n_retained / n_old   (NULL when n_old = 0)
        growth_rate    = n_added    / n_old   (NULL when n_old = 0)

    Scale shape: each side reduces to its distinct URL set (map-side
    combined groupBy on the key itself — the URL IS the join key, so
    there is nothing smaller to ship), one full-outer join on that key,
    then a single one-row distributive aggregation. Both the distincts
    and the join hash-partition on the same key, so AQE plans the join
    shuffle-free on the already-partitioned sides; a skewed URL cannot
    exist post-distinct."""
    o = old_df.select(F.col(url_col).alias("__u")).dropDuplicates(["__u"]) \
        .withColumn("__o", F.lit(1))
    n = new_df.select(F.col(url_col).alias("__u")).dropDuplicates(["__u"]) \
        .withColumn("__n", F.lit(1))
    j = o.join(n, "__u", "full_outer")
    n_old = F.sum(F.coalesce(F.col("__o"), F.lit(0)))
    n_new = F.sum(F.coalesce(F.col("__n"), F.lit(0)))
    n_ret = F.sum(F.when(F.col("__o").isNotNull() & F.col("__n").isNotNull(),
                         1).otherwise(0))
    return j.agg(
        n_old.cast("long").alias("n_old"),
        n_new.cast("long").alias("n_new"),
        n_ret.cast("long").alias("n_retained"),
        (n_new - n_ret).cast("long").alias("n_added"),
        (n_old - n_ret).cast("long").alias("n_removed"),
        F.when(n_old > 0, n_ret / n_old.cast("double")).alias("retention_rate"),
        F.when(n_old > 0, (n_new - n_ret) / n_old.cast("double")).alias("growth_rate"),
    )


# suffix probe depth for the DataFrame blocklist path: hosts match on
# their last-K-label suffixes; K=8 covers any real registered domain
MAX_SUFFIX_DEPTH = 8


def filter_by_domain_blocklist(df: DataFrame, url_col: str,
                               blocked, spark=None) -> DataFrame:
    """UT1-style domain blocklist filter (the RefinedWeb/FineWeb adult/
    malware-list step): drop rows whose URL host IS a blocked domain or
    is any SUBDOMAIN of one ('ads.bad.com' is blocked by 'bad.com').

    ``blocked`` is a python list/set of lower-case domains, or a
    single-column DataFrame of them for list sizes where inlining
    literals would bloat the plan.

    Scale shape: the host's dot-suffix set ('a.b.c.com' → {a.b.c.com,
    b.c.com, c.com, com}) is built per row JVM-side. A literal
    blocklist becomes ONE ``arrays_overlap`` against a constant array —
    zero shuffle, zero join. A DataFrame blocklist (the UT1 lists run
    to millions of domains) probes one shared BroadcastExchange with a
    bounded chain of broadcast LEFT joins — one equi-join per suffix
    depth up to ``MAX_SUFFIX_DEPTH`` labels — so the corpus side never
    hash-partitions, never explodes, and row identity is native (no
    row-id round trip). Blocked entries deeper than MAX_SUFFIX_DEPTH
    labels are ignored (real blocklists hold registered domains of
    2–4 labels)."""
    host = F.lower(F.regexp_extract(F.col(url_col), URL_HOST_RE, 1))
    parts = F.split(host, r"\.")
    n = F.size(parts)
    if not isinstance(blocked, DataFrame):
        blocked_sorted = sorted({str(b).lower() for b in blocked})
        if len(blocked_sorted) <= WEIGHTS_LITERAL_MAX:
            sufs = F.transform(
                F.sequence(F.lit(1), n),
                lambda i: F.array_join(F.slice(parts, i, n - i + 1), "."),
            )
            lit = F.array(*[F.lit(b) for b in blocked_sorted])
            return df.filter(~F.arrays_overlap(sufs, lit))
        if spark is None:
            from pyspark.sql import SparkSession

            spark = SparkSession.getActiveSession()
        blocked = local_frame(
            spark, [(b,) for b in blocked_sorted], "domain string")
    bl = F.broadcast(blocked.toDF("__bl_domain").dropDuplicates(["__bl_domain"]))
    orig_cols = df.columns
    out = df
    hit_cols = []
    for depth in range(1, MAX_SUFFIX_DEPTH + 1):
        # last `depth` labels of the host ('a.b.com', depth 2 -> 'b.com');
        # NULL when the host has fewer labels (slice(-d) would wrap)
        suf = F.when(n >= depth,
                     F.array_join(F.slice(parts, -depth, depth), "."))
        probe = bl.select(F.col("__bl_domain").alias(f"__s{depth}"),
                          F.lit(True).alias(f"__hit{depth}"))
        out = out.withColumn(f"__s{depth}", suf).join(
            probe, f"__s{depth}", "left")
        hit_cols.append(f"__hit{depth}")
    keep = ~F.coalesce(*[F.col(c) for c in hit_cols], F.lit(False))
    return out.filter(keep).select(*orig_cols)


def normalize_text_nfc(df: DataFrame, text_col: str,
                       out_col: str = "nfc_text") -> DataFrame:
    """Unicode NFC normalization of a text column — the canonical-form
    pass that makes hash-based dedup and token counting see 'café'
    (precomposed) and 'cafe' + U+0301 (decomposed) as the same bytes.
    Spark has no built-in Unicode normalizer, so this is an
    Arrow-batched pandas UDF over ``unicodedata.normalize`` (the
    documented slow-path exception: vectorized batches, never per-row
    Python dispatch in the plan). Adds ``out_col`` and a ``changed``
    flag (true when normalization altered the string).

    Cross-engine parity: python's unicodedata and DuckDB's
    ``nfc_normalize`` (utf8proc) implement the same Unicode NFC spec —
    verified value-identical on combining sequences in the oracle
    fixture."""
    import pandas as pd  # noqa: F401
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("string")
    def _nfc(s):
        import unicodedata

        return s.map(lambda x: None if x is None
                     else unicodedata.normalize("NFC", x))

    out = df.withColumn(out_col, _nfc(F.col(text_col)))
    return out.withColumn(
        "changed",
        F.when(F.col(text_col).isNull(), F.lit(None).cast("boolean"))
        .otherwise(F.col(out_col) != F.col(text_col)),
    )


def extract_page_metadata(df: DataFrame, html_col: str,
                          keep_cols: list | None = None) -> DataFrame:
    """Structured page metadata from raw HTML: ``title``,
    ``meta_description``, ``robots_noindex`` (the page asked crawlers
    not to index it — a standard pre-filter before a page enters a
    training corpus), ``canonical_url`` (the dedup hint SEO pages
    publish) and ``n_anchors``. The third piece of the html ingest
    surface next to text extraction (``corpus/extractor.py``) and
    outlink extraction (``pipeline/webgraph.py::extract_links``).

    Parsing contract (documented, deliberately regex-simple so the
    behaviour is engine-portable): values are taken from the FIRST
    matching tag; both attribute orders (``name= content=`` and
    ``content= name=``) are recognized for meta tags, matching is
    case-insensitive, attribute values must be double-quoted, and
    entities are NOT unescaped (the raw attribute/element bytes are
    returned). Absent fields are NULL, not ''.

    Spark shape: pure codegen'd ``regexp_extract`` / ``rlike``
    projection — zero shuffle, zero Python; at 100 TB the html column
    is read once and only the (small) metadata columns survive.
    """
    h = F.col(quote_ident(html_col)).cast("string")

    def _first(pattern: str):
        return F.nullif(F.regexp_extract(h, pattern, 1), F.lit(""))

    title = _first(r"(?is)<title[^>]*>([^<]*)</title>")
    # <meta name="description" content="..."> in either attribute order
    desc = F.coalesce(
        _first(r'(?is)<meta\s[^>]*name="description"[^>]*content="([^"]*)"'),
        _first(r'(?is)<meta\s[^>]*content="([^"]*)"[^>]*name="description"'),
    )
    noindex = (
        h.rlike(r'(?is)<meta\s[^>]*name="robots"[^>]*content="[^"]*noindex')
        | h.rlike(r'(?is)<meta\s[^>]*content="[^"]*noindex[^"]*"[^>]*name="robots"')
    )
    canonical = F.coalesce(
        _first(r'(?is)<link\s[^>]*rel="canonical"[^>]*href="([^"]*)"'),
        _first(r'(?is)<link\s[^>]*href="([^"]*)"[^>]*rel="canonical"'),
    )
    n_anchors = F.size(F.regexp_extract_all(h, F.lit(r"(?i)<a[\s>]"), F.lit(0)))
    keep = [F.col(quote_ident(c)) for c in (keep_cols or df.columns)]
    return df.select(
        *keep,
        F.trim(title).alias("title"),
        desc.alias("meta_description"),
        F.coalesce(noindex, F.lit(False)).alias("robots_noindex"),
        canonical.alias("canonical_url"),
        F.coalesce(n_anchors, F.lit(0)).cast("int").alias("n_anchors"),
    )


def parse_robots_rules(df: DataFrame, host_col: str, robots_col: str,
                       user_agent: str = "*") -> DataFrame:
    """Parse per-host robots.txt payloads into a rules table
    ``(host, path, allow, wildcard)`` — the crawl-compliance half a
    politeness-aware pipeline needs before fetching or before auditing
    an existing corpus against today's robots.

    REP (RFC 9309) subset, documented: groups are consecutive
    ``User-agent`` lines followed by ``Allow``/``Disallow`` records
    (field names case-insensitive, ``#`` comments stripped); the
    group(s) matching ``user_agent`` exactly (case-insensitive) win,
    falling back to the ``*`` group(s); empty-path ``Disallow:`` is the
    spec's "allow everything" no-op and is dropped. Rules whose path
    contains ``*`` or ``$`` are kept but flagged ``wildcard=true`` —
    :func:`robots_disallowed` matches literal prefixes only and
    EXCLUDES wildcard rules (the common-subset trade, stated loudly
    rather than half-matched).

    Scale shape: robots payloads are small per host, so parsing is one
    Arrow-batched pass (a real per-host state machine — the documented
    Python path); output is O(total rules), typically a few rows per
    host."""
    import pandas as pd

    agent = user_agent.lower()
    out_schema = (f"{host_col} string, path string, allow boolean, "
                  "wildcard boolean")

    def parse_one(text):
        if text is None:
            return []
        groups = []          # (agents, rules)
        agents, rules, in_group_header = [], [], False
        for raw in str(text).splitlines():
            line = raw.split("#", 1)[0].strip()
            if not line or ":" not in line:
                continue
            field, _, value = line.partition(":")
            field = field.strip().lower()
            value = value.strip()
            if field == "user-agent":
                if not in_group_header and agents:
                    groups.append((agents, rules))
                    agents, rules = [], []
                agents.append(value.lower())
                in_group_header = True
            elif field in ("allow", "disallow"):
                in_group_header = False
                if agents:
                    rules.append((value, field == "allow"))
        if agents:
            groups.append((agents, rules))
        exact = [r for a, rs in groups if agent in a for r in rs]
        star = [r for a, rs in groups if "*" in a for r in rs]
        chosen = exact if any(agent in a for a, _ in groups) else star
        out = []
        for path, allow in chosen:
            if not path and not allow:
                continue               # empty Disallow: allow-all no-op
            out.append((path, allow, "*" in path or "$" in path))
        return out

    def gen(batches):
        for pdf in batches:
            rows = []
            for host, text in zip(pdf[host_col], pdf[robots_col]):
                for path, allow, wild in parse_one(text):
                    rows.append((host, path, allow, wild))
            yield pd.DataFrame(rows, columns=[host_col, "path", "allow",
                                              "wildcard"])

    return (df.select(host_col, robots_col)
            .mapInPandas(gen, schema=out_schema))


def robots_disallowed(urls: DataFrame, rules: DataFrame, url_col: str,
                      host_col: str = "host") -> DataFrame:
    """Audit a URL table against a parsed robots rules table: appends
    ``robots_allowed`` using RFC 9309 precedence — the LONGEST matching
    literal-prefix rule wins, ``allow`` wins length ties, and a URL
    with no matching rule (or no rules for its host) is allowed.
    Wildcard rules are excluded (see parse_robots_rules).

    Scale shape: rules collapse to one array row per host (map-side-
    combined collect_list — robots files are small, so the arrays are
    too), ONE equi-join on host against the URL table, and the
    longest-match argmax is a codegen'd filter + sort_array over the
    per-host rule array — no explode of the URL side, no cartesian."""
    # hosts compare case-insensitively on BOTH sides (r5 ADVICE: a
    # mixed-case rules host silently matched nothing), and the scheme
    # regex is (?i) so HTTP://HOST/x extracts its host instead of
    # falling through to robots_allowed=true
    per_host = (
        rules.filter(~F.col("wildcard"))
        .groupBy(F.lower(F.col(host_col)).alias(host_col))
        .agg(F.collect_list(F.struct("path", "allow")).alias("__rules"))
    )
    host_of = F.lower(F.regexp_extract(F.col(url_col),
                                       r"(?i)^[a-z][a-z0-9+.-]*://([^/]+)", 1))
    path_of = F.regexp_extract(F.col(url_col),
                               r"(?i)^[a-z][a-z0-9+.-]*://[^/]+(/.*)?$", 1)
    with_host = urls.withColumn("__h", host_of).withColumn(
        "__p", F.coalesce(F.nullif(path_of, F.lit("")), F.lit("/")))
    joined = with_host.join(
        per_host.withColumnRenamed(host_col, "__h"), "__h", "left")
    matching = F.filter(
        F.col("__rules"), lambda r: F.col("__p").startswith(r["path"]))
    # ascending struct sort on (-len, allow_rank): longest first, allow
    # (rank 0) before disallow (rank 1) on equal length
    ranked = F.sort_array(F.transform(
        matching,
        lambda r: F.struct((-F.length(r["path"])).alias("n"),
                           F.when(r["allow"], 0).otherwise(1).alias("t"),
                           r["allow"].alias("allow")),
    ))
    best = F.element_at(ranked, 1)
    allowed = F.when(F.col("__rules").isNull()
                     | (F.size(matching) == 0), F.lit(True)) \
        .otherwise(best["allow"])
    return joined.withColumn("robots_allowed", allowed) \
        .drop("__rules", "__h", "__p")
