"""Text-analysis operators: token counting, quality scoring, n-gram
language ID, document fingerprinting. Everything JVM-side (split /
list lambdas / xxhash64); no Python UDFs in the hot path.
"""

from __future__ import annotations

import math

from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepchecks_spark.core.parallel import spread_input
from deepchecks_spark.io import local_frame

STOPWORDS = ("a", "the", "of", "and", "to", "in", "is", "that")

# tiny per-language stopword seeds for the n-gram/stopword heuristic
LANG_MARKERS = {
    "en": ["the", "of", "and", "is", "that", "to"],
    "de": ["der", "die", "das", "und", "ist", "nicht"],
    "fr": ["le", "la", "les", "est", "et", "pas"],
    "es": ["el", "la", "los", "es", "no", "una"],
    "pt": ["o", "os", "nao", "uma", "rede"],
    "it": ["il", "i", "non", "una", "rete"],
    "nl": ["de", "het", "een", "niet"],
    "pl": ["i", "w", "nie", "to"],
    "ru": ["и", "в", "не", "на"],
    "zh": ["的", "一", "是", "在"],
}


def _tokens(col: str):
    return F.split(F.trim(F.col(col)), r"\s+")


def with_token_count(df: DataFrame, text_col: str, out_col: str = "n_tokens") -> DataFrame:
    """Whitespace token count (0 for empty/blank strings)."""
    return df.withColumn(
        out_col,
        F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0))
        .otherwise(F.size(_tokens(text_col)))
        .cast("long"),
    )


def with_bpe_ish_token_count(df: DataFrame, text_col: str, out_col: str = "n_subtokens") -> DataFrame:
    """BPE-ish proxy: word-boundary pieces + digit runs + punctuation
    singles via a regexp tokenizer (regexp_extract_all is codegen'd)."""
    pieces = F.expr(
        f"regexp_extract_all({text_col}, '[a-zA-Z]+|[0-9]+|[^a-zA-Z0-9\\\\s]', 0)"
    )
    return df.withColumn(out_col, F.size(pieces).cast("long"))


def text_quality(df: DataFrame, text_col: str) -> DataFrame:
    """Quality-scoring features: token count, mean token length,
    stopword ratio, punctuation ratio, uppercase ratio — one projection,
    fully codegen'd. An under-partitioned scan is spread to the slot
    count first (no-op at scale) so the regex/array work parallelizes."""
    df = spread_input(df)
    toks = _tokens(text_col)
    n = F.size(toks)
    total_len = F.aggregate(toks, F.lit(0), lambda acc, x: acc + F.length(x))
    stop = F.size(F.filter(toks, lambda x: x.isin(*STOPWORDS)))
    text = F.col(text_col)
    punct = F.length(text) - F.length(F.regexp_replace(text, r"[^\w\s]", ""))
    upper = F.length(text) - F.length(F.regexp_replace(text, r"[A-Z]", ""))
    return df.select(
        "*",
        n.cast("long").alias("n_tokens"),
        (total_len / n.cast("double")).alias("avg_token_len"),
        (stop / n.cast("double")).alias("stopword_ratio"),
        (punct / F.greatest(F.length(text), F.lit(1)).cast("double")).alias("punct_ratio"),
        (upper / F.greatest(F.length(text), F.lit(1)).cast("double")).alias("upper_ratio"),
    )


def language_id(df: DataFrame, text_col: str, out_col: str = "lang_pred") -> DataFrame:
    """Stopword-marker language ID: score per language = number of that
    language's marker words present in the token set; argmax with
    deterministic tie-break (score desc, lang asc). Pure JVM exprs —
    built as an array of (score, lang) structs reduced with array_max.
    An under-partitioned scan is spread first (no-op at scale)."""
    df = spread_input(df)
    toks = F.array_distinct(_tokens(text_col))
    scored = F.array(
        *[
            F.struct(
                F.size(F.array_intersect(toks, F.array(*[F.lit(w) for w in words]))).alias("score"),
                F.lit(-ord(lang[0]) * 256 - ord(lang[1])).alias("tie"),  # lang asc on ties
                F.lit(lang).alias("lang"),
            )
            for lang, words in sorted(LANG_MARKERS.items())
        ]
    )
    best = F.array_max(scored)
    return df.withColumn(
        out_col, F.when(best["score"] > 0, best["lang"]).otherwise(F.lit("unknown"))
    )


def _word_ngrams(toks, n, ngram: int):
    """Array of space-joined word ``ngram``-grams (empty when the doc is
    shorter than one gram)."""
    return F.when(
        n >= ngram,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(ngram)),
            lambda i: F.array_join(F.slice(toks, i + 1, ngram), " "),
        ),
    ).otherwise(F.array().cast("array<string>"))


def repetition_stats(df: DataFrame, text_col: str, ngram: int = 3) -> DataFrame:
    """Per-document repetition signals in the style of the
    MassiveText/Gopher quality filters (Rae et al. 2021, table A1):

    - ``dup_word_frac``    — fraction of word instances that repeat an
      earlier word (``(n − n_distinct)/n``),
    - ``dup_ngram_frac``   — same over word ``ngram``-grams,
    - ``top_ngram_count``  — occurrences of the most frequent gram,
    - ``top_ngram_char_frac`` — characters covered by occurrences of
      that gram / total characters (the Gopher "top n-gram" signal).

    Scale shape: ZERO shuffle — every signal is computed inside one
    projection with higher-order functions on the per-row token array.
    The most-frequent gram comes from a single linear ``aggregate`` pass
    over the SORTED gram array (duplicates are adjacent, so the max
    count is the longest equal-run); ties break to the lexicographically
    smallest gram, deterministically, because array_sort puts it first
    and only a STRICTLY longer run displaces the incumbent. A 100 TB
    corpus maps straight through — no groupBy, no explode, no driver
    state."""
    toks = _tokens(text_col)
    n = F.when(F.length(F.trim(F.col(text_col))) == 0, F.lit(0)).otherwise(F.size(toks))
    grams = _word_ngrams(toks, n, ngram)
    ng = F.size(grams)
    # longest equal-run over the sorted grams: acc = (prev, run, best, bestg)
    run_zero = F.struct(
        F.lit(None).cast("string").alias("prev"),
        F.lit(0).alias("run"),
        F.lit(0).alias("best"),
        F.lit(None).cast("string").alias("bestg"),
    )

    def step(acc, x):
        run = F.when(acc["prev"].eqNullSafe(x), acc["run"] + 1).otherwise(F.lit(1))
        better = run > acc["best"]
        return F.struct(
            x.alias("prev"),
            run.alias("run"),
            F.when(better, run).otherwise(acc["best"]).alias("best"),
            F.when(better, x).otherwise(acc["bestg"]).alias("bestg"),
        )

    top = F.aggregate(F.array_sort(grams), run_zero, step)
    nchars = F.greatest(F.length(F.col(text_col)), F.lit(1)).cast("double")
    return df.select(
        "*",
        F.when(n > 0, (n - F.size(F.array_distinct(toks))) / n.cast("double"))
        .otherwise(F.lit(0.0)).alias("dup_word_frac"),
        F.when(ng > 0, (ng - F.size(F.array_distinct(grams))) / ng.cast("double"))
        .otherwise(F.lit(0.0)).alias("dup_ngram_frac"),
        F.coalesce(top["best"], F.lit(0)).cast("long").alias("top_ngram_count"),
        F.when(ng > 0, top["best"] * F.length(top["bestg"]) / nchars)
        .otherwise(F.lit(0.0)).alias("top_ngram_char_frac"),
    )


# Gopher rule-filter stopword set (Rae et al. 2021, appendix A1.1)
GOPHER_STOPWORDS = ("the", "be", "to", "of", "and", "that", "have", "with")
BULLET_CHARS = ("•", "‣", "▪", "◦", "-", "*")


def gopher_quality_rules(
    df: DataFrame,
    text_col: str,
    min_words: int = 50,
    max_words: int = 100_000,
    min_avg_word_len: float = 3.0,
    max_avg_word_len: float = 10.0,
    max_symbol_word_ratio: float = 0.1,
    max_bullet_line_frac: float = 0.9,
    max_ellipsis_line_frac: float = 0.3,
    min_alpha_word_frac: float = 0.8,
    min_stopword_hits: int = 2,
    stopwords: tuple = GOPHER_STOPWORDS,
) -> DataFrame:
    """The full MassiveText/Gopher quality rule set (Rae et al. 2021,
    appendix A1.1) as ONE shuffle-free projection — the standard
    pre-training corpus filter the reference has no analogue for:

    - word count within ``[min_words, max_words]``,
    - mean word length within ``[min_avg_word_len, max_avg_word_len]``,
    - symbol-to-word ratio (``#``, ``...``, ``…``) ≤ ``max_symbol_word_ratio``,
    - ≤ ``max_bullet_line_frac`` of lines starting with a bullet char,
    - ≤ ``max_ellipsis_line_frac`` of lines ending with an ellipsis,
    - ≥ ``min_alpha_word_frac`` of words containing an alphabetic char,
    - ≥ ``min_stopword_hits`` distinct Gopher stop words present.

    Adds the raw signals, a ``failed_rules`` comma-joined string
    (empty = clean; built with null-skipping ``concat_ws`` so rule order
    is stable), and the ``quality_keep`` verdict. Scale shape: every
    signal is a higher-order-function expression over per-row arrays —
    zero shuffle, zero explode, no Python; a 100 TB corpus maps straight
    through with full codegen."""
    text = F.col(text_col)
    toks = _tokens(text_col)
    n = F.when(F.length(F.trim(text)) == 0, F.lit(0)).otherwise(F.size(toks))
    nd = F.greatest(n, F.lit(1)).cast("double")
    total_len = F.aggregate(toks, F.lit(0), lambda a, x: a + F.length(x))
    avg_len = F.when(n > 0, total_len / nd).otherwise(F.lit(0.0))
    n_hash = F.length(text) - F.length(F.replace(text, F.lit("#"), F.lit("")))
    n_ell3 = (F.length(text) - F.length(F.replace(text, F.lit("..."), F.lit("")))) / 3
    n_ellu = F.length(text) - F.length(F.replace(text, F.lit("…"), F.lit("")))
    symbol_ratio = (n_hash + n_ell3 + n_ellu) / nd
    lines = F.split(text, "\n")
    nlines = F.greatest(F.size(lines), F.lit(1)).cast("double")
    bullet_frac = F.size(
        F.filter(lines, lambda x: F.substring(F.ltrim(x), 1, 1).isin(*BULLET_CHARS))
    ) / nlines
    ellipsis_frac = F.size(
        F.filter(
            lines,
            lambda x: F.rtrim(x).endswith("...") | F.rtrim(x).endswith("…"),
        )
    ) / nlines
    alpha_frac = F.when(
        n > 0, F.size(F.filter(toks, lambda x: x.rlike("[a-zA-Z]"))) / nd
    ).otherwise(F.lit(0.0))
    stop_hits = F.size(
        F.array_intersect(
            F.array_distinct(F.transform(toks, lambda x: F.lower(x))),
            F.array(*[F.lit(w) for w in stopwords]),
        )
    )
    signals = df.select(
        "*",
        n.cast("long").alias("n_words"),
        F.round(avg_len, 6).alias("avg_word_len"),
        F.round(symbol_ratio, 6).alias("symbol_word_ratio"),
        F.round(bullet_frac, 6).alias("bullet_line_frac"),
        F.round(ellipsis_frac, 6).alias("ellipsis_line_frac"),
        F.round(alpha_frac, 6).alias("alpha_word_frac"),
        stop_hits.cast("long").alias("stopword_hits"),
    )
    rules = [
        ("word_count", (F.col("n_words") < min_words) | (F.col("n_words") > max_words)),
        ("avg_word_length",
         (F.col("avg_word_len") < min_avg_word_len)
         | (F.col("avg_word_len") > max_avg_word_len)),
        ("symbol_ratio", F.col("symbol_word_ratio") > max_symbol_word_ratio),
        ("bullet_lines", F.col("bullet_line_frac") > max_bullet_line_frac),
        ("ellipsis_lines", F.col("ellipsis_line_frac") > max_ellipsis_line_frac),
        ("alpha_words", F.col("alpha_word_frac") < min_alpha_word_frac),
        ("stopwords", F.col("stopword_hits") < min_stopword_hits),
    ]
    failed = F.concat_ws(",", *[F.when(cond, F.lit(name)) for name, cond in rules])
    return signals.withColumn("failed_rules", failed).withColumn(
        "quality_keep", F.col("failed_rules") == ""
    )


def _accent_fold_map() -> tuple[str, str]:
    """(src, dst) char strings for Spark's 1:1 ``translate``: every
    Latin-1 Supplement / Latin Extended-A/B character whose NFD
    decomposition is one base character plus combining marks maps to
    that base. This is EXACTLY utf8proc/DuckDB ``strip_accents``
    semantics on those ranges (verified char-for-char): characters
    with no mark decomposition (ł, ß, æ, œ, ð) pass through on both
    engines."""
    import unicodedata

    src, dst = [], []
    for cp in range(0x00C0, 0x0250):
        ch = chr(cp)
        d = unicodedata.normalize("NFD", ch)
        base = "".join(c for c in d if unicodedata.category(c) != "Mn")
        if len(base) == 1 and base != ch:
            src.append(ch)
            dst.append(base)
    return "".join(src), "".join(dst)


def fold_accents(df: DataFrame, text_col: str,
                 out_col: str | None = None) -> DataFrame:
    """Accent/diacritic folding (café → cafe) — the normalization step
    before accent-insensitive dedup keys, URL slugs, or fuzzy key
    matching. One codegen'd ``translate`` over a generated 1:1 map —
    zero shuffle, zero Python per row; semantics equal DuckDB's
    utf8proc ``strip_accents`` on the covered Latin ranges (see
    _accent_fold_map). Combining marks typed as separate codepoints
    (NFD input) are NOT removed — run text through NFC normalization
    first (pipeline/webclean.py) if the corpus mixes forms."""
    s, d = _accent_fold_map()
    return df.withColumn(out_col or text_col,
                         F.translate(F.col(text_col), s, d))


def language_agreement(df: DataFrame, lang_col: str, text_col: str) -> DataFrame:
    """Confusion table between the DECLARED language column and the
    content-based language_id prediction — the standard wrong-label /
    wrong-language-leak audit for a multilingual corpus (a cell off the
    diagonal is either a mislabeled doc or a document whose content
    drifted from its metadata). One row per (lang, lang_pred) pair::

        lang, lang_pred, n_docs

    Scale shape: language_id is a zero-shuffle codegen projection; the
    confusion roll-up is ONE map-side-combined groupBy bounded by
    n_langs² cells."""
    pred = language_id(df, text_col)
    return (
        pred.groupBy(F.col(lang_col).alias("lang"), F.col("lang_pred"))
        .agg(F.count(F.lit(1)).alias("n_docs"))
        .orderBy("lang", "lang_pred")
    )


GOPHER_RULE_NAMES = ("word_count", "avg_word_length", "symbol_ratio",
                     "bullet_lines", "ellipsis_lines", "alpha_words",
                     "stopwords")


def filter_funnel(df: DataFrame, text_col: str, **gopher_kwargs) -> DataFrame:
    """Survival funnel through the ordered Gopher rule set — the
    standard data-pipeline diagnostic ("which filter actually costs
    me data?"): one row per rule, in application order, with::

        stage         rule name ('input' first)
        n_fail        docs failing THIS rule (regardless of others)
        n_surviving   docs passing ALL rules up to and including it

    The last row's n_surviving equals the quality_keep count. Built on
    gopher_quality_rules' per-doc failed_rules column, so funnel and
    filter can never disagree.

    Scale shape: the per-doc rule evaluation is the same shuffle-free
    projection as gopher_quality_rules; the funnel itself is ONE
    distributive aggregation (2 x n_rules + 1 sums — a single one-row
    Exchange) unpivoted driver-side into n_rules + 1 rows."""
    flagged = gopher_quality_rules(df, text_col, **gopher_kwargs)
    fails = F.split(F.col("failed_rules"), ",")
    aggs = [F.count(F.lit(1)).alias("n_input")]
    for i, name in enumerate(GOPHER_RULE_NAMES):
        aggs.append(F.sum(F.array_contains(fails, name).cast("long"))
                    .alias(f"f_{name}"))
        prefix_ok = ~F.array_contains(fails, GOPHER_RULE_NAMES[0])
        for prev in GOPHER_RULE_NAMES[1:i + 1]:
            prefix_ok = prefix_ok & ~F.array_contains(fails, prev)
        aggs.append(F.sum(prefix_ok.cast("long")).alias(f"s_{name}"))
    row = flagged.agg(*aggs).collect()[0]
    out = [("input", 0, int(row["n_input"]))]
    out += [(name, int(row[f"f_{name}"]), int(row[f"s_{name}"]))
            for name in GOPHER_RULE_NAMES]
    return local_frame(
        df.sparkSession, out, "stage string, n_fail long, n_surviving long")


def unigram_logprob(df: DataFrame, id_col: str, text_col: str,
                    vocab_size: int = 100_000) -> DataFrame:
    """CCNet-style corpus-model quality score (Wenzek et al. 2020 use a
    KenLM 5-gram; this is the self-trained unigram analogue — no
    external model): train a unigram LM on the corpus itself, then score
    every document by mean negative log-probability. Laplace-style
    smoothing reserves mass for out-of-vocabulary tokens:
    ``p(w) = (c_w + 1)/(N + V + 1)`` for the top-``vocab_size`` tokens,
    ``p(oov) = 1/(N + V + 1)`` (N = corpus token instances, V = kept
    vocabulary size). High ``avg_nll``/``pseudo_perplexity`` = unusual
    text (boilerplate, noise, wrong language) — the standard
    perplexity-bucket filter signal.

    Scale shape: pass 1 is a token groupBy with map-side combine
    (shuffle bounded by DISTINCT tokens, not corpus size); the top-V cut
    is ``orderBy(...).limit(V)`` which Catalyst plans as
    TakeOrderedAndProject — per-partition partial top-K, never a global
    sort; the one-row totals and the ≤V-row vocabulary broadcast to
    pass 2, whose only shuffle moves ``(id, double)`` pairs. Empty
    documents survive with ``n_tokens = 0`` and NULL scores."""
    tok = df.select(
        F.col(id_col).alias("__id"), F.explode(_tokens(text_col)).alias("token")
    ).filter(F.col("token") != "")
    counts = tok.groupBy("token").agg(F.count("*").alias("c"))
    vocab = counts.orderBy(F.col("c").desc(), F.col("token").asc()).limit(vocab_size)
    totals = counts.agg(
        F.sum("c").alias("n_total"),
        F.least(F.count("*"), F.lit(vocab_size)).alias("v_kept"),
    )
    denom = (F.col("n_total") + F.col("v_kept") + 1).cast("double")
    scored = (
        tok.join(F.broadcast(vocab), "token", "left")
        .crossJoin(F.broadcast(totals))
        .withColumn("nll", -F.log((F.coalesce(F.col("c"), F.lit(0)) + 1) / denom))
    )
    per_doc = scored.groupBy("__id").agg(
        F.count("*").alias("n_tokens"), F.avg("nll").alias("avg_nll")
    )
    return (
        df.join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .drop("__id")
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)))
        .withColumn("pseudo_perplexity", F.exp("avg_nll"))
    )


def _doc_grams(df: DataFrame, id_col: str, text_col: str):
    """(id, token-list) for non-blank docs, plus the exploded unigram
    and bigram position frames used by the stupid-backoff scorer."""
    base = df.select(
        F.col(id_col).alias("__id"), _tokens(text_col).alias("__l")
    ).filter(F.length(F.trim(F.col(text_col))) > 0)
    n = F.size(F.col("__l"))
    bigr = base.filter(n >= 2).select(
        "__id",
        F.explode(
            F.zip_with(
                F.slice("__l", 1, n - 1),
                F.slice("__l", 2, n - 1),
                lambda a, b: F.struct(a.alias("w1"), b.alias("w2")),
            )
        ).alias("bg"),
    ).select("__id", F.col("bg.w1").alias("w1"), F.col("bg.w2").alias("w2"))
    return base, bigr


def bigram_logprob(df: DataFrame, id_col: str, text_col: str,
                   alpha: float = 0.4,
                   train_df: DataFrame | None = None) -> DataFrame:
    """Distributed stupid-backoff bigram LM scoring (Brants et al. 2007,
    "Large Language Models in Machine Translation" — the original
    MapReduce LM, re-expressed as DataFrame aggregations). Count tables
    come from ``train_df`` (default: the scored corpus itself, the CCNet
    self-training shape); each document position is scored

        S(w2 | w1) = c(w1 w2) / c(w1)        if the bigram was seen
                   = alpha * p1(w2)           otherwise (backoff)

    with the Laplace unigram base ``p1(w) = (c(w) + 1)/(N + V + 1)``
    (the same smoothing convention as :func:`unigram_logprob`, so OOV
    tokens in held-out text stay finite) and the first token scored by
    ``p1(w1)``. Stupid backoff is deliberately unnormalized — Brants et
    al.'s point is that at corpus scale the unsmoothed score ranks as
    well as Kneser-Ney at a fraction of the cost, which is exactly the
    trade this engine wants at 100 TB. Output per document:
    ``n_tokens``, ``avg_nll`` (mean negative log-score),
    ``pseudo_perplexity``; empty documents keep NULL scores.

    Scale shape: the two count passes are token/bigram groupBys with
    map-side combine (shuffle bounded by DISTINCT grams, not corpus
    size); scoring joins the exploded positions against the count
    tables on their gram keys — keyed equi-joins AQE can broadcast when
    the vocabulary is small and shuffle-hash otherwise; the one-row
    totals broadcast; the per-doc agg moves (id, double) pairs. No
    Python anywhere."""
    train_base, train_bigr = _doc_grams(train_df if train_df is not None
                                        else df, id_col, text_col)
    uni = (
        train_base.select(F.explode("__l").alias("w"))
        .filter(F.col("w") != "")
        .groupBy("w").agg(F.count("*").alias("cu"))
    )
    totals = uni.agg(
        (F.sum("cu") + F.count("*") + 1).cast("double").alias("denom"))
    bcnt = train_bigr.groupBy("w1", "w2").agg(F.count("*").alias("cb"))

    base, bigr = _doc_grams(df, id_col, text_col)
    first = (
        base.select("__id", F.element_at("__l", 1).alias("w"))
        .join(uni, "w", "left")
        .crossJoin(F.broadcast(totals))
        .select("__id", (-F.log(
            (F.coalesce(F.col("cu"), F.lit(0)) + 1) / F.col("denom")
        )).alias("nll"))
    )
    rest = (
        bigr.join(bcnt, ["w1", "w2"], "left")
        .join(uni.select(F.col("w").alias("w1"), F.col("cu").alias("c1")),
              "w1", "left")
        .join(uni.select(F.col("w").alias("w2"), F.col("cu").alias("c2")),
              "w2", "left")
        .crossJoin(F.broadcast(totals))
        .select(
            "__id",
            (-F.log(
                F.when(F.col("cb").isNotNull(),
                       F.col("cb") / F.col("c1").cast("double"))
                .otherwise(F.lit(alpha)
                           * (F.coalesce(F.col("c2"), F.lit(0)) + 1)
                           / F.col("denom"))
            )).alias("nll"),
        )
    )
    per_doc = first.unionByName(rest).groupBy("__id").agg(
        F.count("*").alias("n_tokens"), F.avg("nll").alias("avg_nll")
    )
    return (
        df.join(per_doc, F.col(id_col) == F.col("__id"), "left")
        .drop("__id")
        .withColumn("n_tokens", F.coalesce(F.col("n_tokens"), F.lit(0)))
        .withColumn("pseudo_perplexity", F.exp("avg_nll"))
    )


def perplexity_buckets(df: DataFrame, score_col: str, n_buckets: int = 3,
                       labels: tuple = ("head", "middle", "tail"),
                       thresholds: list | None = None,
                       accuracy: int = 1_000_000) -> DataFrame:
    """CCNet's perplexity-bucket split (Wenzek et al. 2020 §4.4): rank
    documents by LM score and cut the corpus into head/middle/tail —
    the head (lowest perplexity) feeds training, the tail is dropped.
    ``thresholds`` (ascending cut points) can be supplied; otherwise
    they come from one ``percentile_approx`` aggregation (n_buckets - 1
    scalars to the driver — a GK-sketch aggregation, never a sort).
    Assignment is a CASE WHEN projection: map-only, shuffle-free. NULL
    scores (e.g. empty documents) get a NULL bucket."""
    if len(labels) != n_buckets:
        raise ValueError("labels must have n_buckets entries")
    if thresholds is None:
        qs = [i / n_buckets for i in range(1, n_buckets)]
        thresholds = df.agg(
            F.percentile_approx(score_col, qs, accuracy).alias("t")
        ).collect()[0]["t"]
    if len(thresholds) != n_buckets - 1:
        raise ValueError("thresholds must have n_buckets - 1 entries")
    bucket = F.when(F.col(score_col).isNull(), F.lit(None).cast("string"))
    for cut, label in zip(thresholds, labels):
        bucket = bucket.when(F.col(score_col) <= float(cut), F.lit(label))
    bucket = bucket.otherwise(F.lit(labels[-1]))
    return df.withColumn("ppl_bucket", bucket)


def vocabulary_stats(df: DataFrame, text_col: str) -> DataFrame:
    """Corpus-level vocabulary summary (the Heaps/Zipf health view of a
    web corpus — a collapsing type/token ratio or hapax share is the
    classic symptom of boilerplate or dedup failure). One row::

        total_tokens, n_types, hapax_types, type_token_ratio, hapax_frac

    Tokens are whitespace tokens (``_tokens``); blank documents
    contribute nothing. Scale shape: explode -> ``groupBy(token)`` with
    map-side combine (the shuffle carries one (token, count) row per
    DISTINCT token per partition, not per occurrence), then a second
    all-to-one agg over the O(|vocab|) type table. No token text ever
    collects to the driver.
    """
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(_tokens(text_col))
    types = (
        spread_input(df).select(F.explode(toks).alias("__tok"))
        .groupBy("__tok").agg(F.count(F.lit(1)).alias("n"))
    )
    return types.agg(
        F.sum("n").cast("long").alias("total_tokens"),
        F.count(F.lit(1)).cast("long").alias("n_types"),
        F.sum(F.when(F.col("n") == 1, 1).otherwise(0)).cast("long").alias("hapax_types"),
        (F.count(F.lit(1)) / F.sum("n")).alias("type_token_ratio"),
        (F.sum(F.when(F.col("n") == 1, 1).otherwise(0)) / F.count(F.lit(1))).alias("hapax_frac"),
    )


def top_terms(df: DataFrame, text_col: str, k: int = 20) -> DataFrame:
    """Top-``k`` corpus terms by occurrence count with a deterministic
    (count desc, term asc) order: (term, n, rank). The orderBy + limit
    compiles to TakeOrderedAndProject — a per-partition top-k followed
    by a driver merge of k rows per partition, never a global sort of
    the vocabulary (pinned in tests/test_plans.py)."""
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(_tokens(text_col))
    counts = (
        spread_input(df).select(F.explode(toks).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).cast("long").alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(k)
    )
    # unpartitioned window is safe HERE: its input is the k-row limit
    # output, not the vocabulary
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    return counts.withColumn("rank", F.row_number().over(w).cast("long"))


def corpus_datacard(df: DataFrame, text_col: str,
                    lang_col: str | None = None) -> DataFrame:
    """One-table corpus "data card" — the headline numbers a dataset
    release documents (Gebru et al. 2021 datasheets; the stats block of
    a C4/FineWeb card), melted to ``(metric string, value double)``
    sorted by metric::

        n_docs, n_null_text, n_empty_text, total_tokens,
        mean_tokens_per_doc, n_distinct_texts, duplicate_frac
        [, n_langs, lang_entropy_bits   when lang_col is given]

    Scale shape — three bounded jobs, deliberately NOT one fused agg:
    the plain moments fuse into one map-side-combined pass, but adding
    ``count(DISTINCT xxhash64(text))`` to it would trigger Catalyst's
    Expand rewrite and double the scan (the documented Expand trap,
    runner.py), so exact text distinct runs as its own two-stage
    distinct over 8-byte hashes, and the language distribution (needed
    for entropy) is its own tiny ``groupBy(lang)``. Nothing wider than
    O(|langs|) rows reaches the driver."""
    toks = F.when(
        F.col(text_col).isNull() | (F.length(F.trim(F.col(text_col))) == 0),
        F.lit(0),
    ).otherwise(F.size(F.split(F.trim(F.col(text_col)), r"\s+")))
    base = df.select(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(F.col(text_col).isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(F.when(F.col(text_col).isNotNull()
                     & (F.length(F.trim(F.col(text_col))) == 0), 1)
              .otherwise(0)).alias("n_empty"),
        F.sum(toks).alias("total_tokens"),
        F.sum(F.when(F.col(text_col).isNotNull(), 1).otherwise(0)).alias("n_text"),
    ).first()
    n_distinct = (
        df.filter(F.col(text_col).isNotNull())
        .select(F.xxhash64(F.col(text_col)).alias("__h"))
        .distinct().count()
    )
    rows = [
        ("n_docs", float(base["n_docs"])),
        ("n_null_text", float(base["n_null"])),
        ("n_empty_text", float(base["n_empty"])),
        ("total_tokens", float(base["total_tokens"] or 0)),
        ("mean_tokens_per_doc",
         float(base["total_tokens"] or 0) / base["n_docs"] if base["n_docs"] else 0.0),
        ("n_distinct_texts", float(n_distinct)),
        ("duplicate_frac",
         1.0 - n_distinct / base["n_text"] if base["n_text"] else 0.0),
    ]
    if lang_col is not None:
        langs = (df.groupBy(F.col(lang_col).alias("__l"))
                 .agg(F.count(F.lit(1)).alias("n")).collect())
        total = sum(r["n"] for r in langs) or 1
        import math
        ent = -sum((r["n"] / total) * math.log2(r["n"] / total)
                   for r in langs if r["n"])
        rows += [("n_langs", float(len(langs))), ("lang_entropy_bits", ent)]
    out = local_frame(
        df.sparkSession, [(m, round(v, 9)) for m, v in rows], "metric string, value double")
    return out.orderBy("metric")


def document_fingerprint(df: DataFrame, text_col: str, out_col: str = "fingerprint",
                         ngram: int = 4) -> DataFrame:
    """Winnowing-style fingerprint: min over rolling word-ngram hashes
    (robust to small edits), plus the full-text xxhash64 as tiebreaker
    column ``<out_col>_exact``. The rolling-hash transform is the heavy map
    work — an under-partitioned scan is spread first (no-op at scale)."""
    df = spread_input(df)
    toks = _tokens(text_col)
    n = F.size(toks)
    grams = F.when(
        n >= ngram,
        F.transform(
            F.sequence(F.lit(0), n - F.lit(ngram)),
            lambda i: F.xxhash64(F.array_join(F.slice(toks, i + 1, ngram), " ")),
        ),
    ).otherwise(F.array(F.xxhash64(F.col(text_col))))
    return df.withColumn(out_col, F.array_min(grams)).withColumn(
        f"{out_col}_exact", F.xxhash64(F.col(text_col))
    )


def tfidf_terms(df: DataFrame, id_col: str, text_col: str, k: int = 5,
                min_df: int = 1) -> DataFrame:
    """Top-``k`` TF-IDF keywords per document: ``(id, term, tf, doc_freq,
    tfidf, rank)`` with the sklearn smooth-idf convention
    ``idf = ln((1 + N) / (1 + df)) + 1`` and ``score = tf * idf`` (raw
    term count; N = total documents including empty ones).

    Scale shape: one explode then ``groupBy(id, term)`` with map-side
    combine (the shuffle carries one row per distinct (doc, term), not
    per occurrence); document frequency is a second map-side-combined
    ``groupBy(term)`` over THAT table — the corpus is scanned once; the
    O(|vocab|) df table joins back keyed on term (sort-merge, AQE
    broadcasts when it fits); the per-document top-k is a ``row_number``
    window PARTITIONED BY the document id — millions of tiny partitions,
    never a global sort. Ranking uses the score rounded to 6 decimals
    (ties broken by term asc) so the order is engine-exact for the
    DuckDB oracle despite 1-ulp ``ln`` differences.
    """
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(_tokens(text_col))
    n_docs = df.count()
    tf = (
        spread_input(df).select(F.col(id_col).alias("__id"), F.explode(toks).alias("term"))
        .groupBy("__id", "term").agg(F.count(F.lit(1)).alias("tf"))
    )
    dfreq = tf.groupBy("term").agg(F.count(F.lit(1)).alias("doc_freq"))
    if min_df > 1:
        dfreq = dfreq.filter(F.col("doc_freq") >= min_df)
    scored = tf.join(dfreq, "term").withColumn(
        "tfidf",
        F.round(
            F.col("tf")
            * (F.log(F.lit(float(1 + n_docs)) / (F.col("doc_freq") + F.lit(1.0)))
               + F.lit(1.0)),
            6,
        ),
    )
    w = Window.partitionBy("__id").orderBy(F.desc("tfidf"), F.asc("term"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(
            F.col("__id").alias(id_col), "term",
            F.col("tf").cast("long").alias("tf"),
            F.col("doc_freq").cast("long").alias("doc_freq"),
            "tfidf", F.col("rank").cast("long").alias("rank"),
        )
    )


def zipf_fit(df: DataFrame, text_col: str, top_n: int = 1000) -> DataFrame:
    """Least-squares fit of ``ln(count) ~ ln(rank)`` over the corpus's
    ``top_n`` terms — the Zipf-law health check (a natural web corpus
    fits slope ≈ −1 with high R²; template/boilerplate floods or broken
    extraction bend the curve). One row:
    ``(n_terms_fit, zipf_slope, zipf_intercept, r2)``.

    Scale shape: explode → map-side-combined ``groupBy(term)``, then
    ``orderBy(...).limit(top_n)`` compiles to TakeOrderedAndProject (a
    per-partition top-n + driver merge of n rows per partition, never a
    vocabulary sort); the rank window and the closed-form slope agg run
    over the ≤ ``top_n``-row result. Sums are computed explicitly (not
    ``regr_slope``) so the oracle's arithmetic is identical.
    """
    toks = F.when(
        F.length(F.trim(F.col(text_col))) == 0, F.array().cast("array<string>")
    ).otherwise(_tokens(text_col))
    counts = (
        spread_input(df).select(F.explode(toks).alias("term"))
        .groupBy("term").agg(F.count(F.lit(1)).alias("n"))
        .orderBy(F.desc("n"), F.asc("term"))
        .limit(top_n)
    )
    # unpartitioned window is safe HERE: input is the top_n-row limit output
    w = Window.orderBy(F.desc("n"), F.asc("term"))
    xy = counts.withColumn("r", F.row_number().over(w)).select(
        F.log(F.col("r").cast("double")).alias("x"),
        F.log(F.col("n").cast("double")).alias("y"),
    )
    s = xy.agg(
        F.count(F.lit(1)).cast("double").alias("m"),
        F.sum("x").alias("sx"), F.sum("y").alias("sy"),
        F.sum(F.col("x") * F.col("x")).alias("sxx"),
        F.sum(F.col("x") * F.col("y")).alias("sxy"),
        F.sum(F.col("y") * F.col("y")).alias("syy"),
    )
    slope = (F.col("m") * F.col("sxy") - F.col("sx") * F.col("sy")) / (
        F.col("m") * F.col("sxx") - F.col("sx") * F.col("sx"))
    intercept = (F.col("sy") - slope * F.col("sx")) / F.col("m")
    sst = F.col("syy") - F.col("sy") * F.col("sy") / F.col("m")
    ssr = slope * slope * (F.col("sxx") - F.col("sx") * F.col("sx") / F.col("m"))
    r2 = F.when(sst > 0, ssr / sst).otherwise(F.lit(1.0))
    return s.select(
        F.col("m").cast("long").alias("n_terms_fit"),
        F.round(slope, 6).alias("zipf_slope"),
        F.round(intercept, 6).alias("zipf_intercept"),
        F.round(r2, 6).alias("r2"),
    )


def char_entropy(df: DataFrame, text_col: str,
                 out_col: str = "char_entropy") -> DataFrame:
    """Per-document Shannon entropy over characters (nats) plus
    ``n_chars`` / ``n_distinct_chars`` — the standard gibberish /
    binary-spill / key-mash detector (natural language sits near
    3.0–3.3 nats; base64 blobs and repeated-character floods land far
    above / below). Empty and NULL texts score 0.0.

    Uses the identity ``H = ln(L) − (Σ_c n_c ln n_c) / L`` so only one
    pass over the distinct-character set is needed. The sum runs over
    the SORTED distinct characters — same order as the oracle's
    ``list_sort``, so float summation is bit-identical cross-engine.

    Scale shape: a pure per-row projection built from higher-order
    array functions (split / array_distinct / filter / aggregate) —
    zero shuffle, zero Python, full whole-stage codegen; cost is
    O(distinct_chars × length) per row on the executor that already
    holds the row. At 100 TB the cost is the scan."""
    text = F.col(text_col)
    chars = F.split(text, "")
    # character count from length(text), NOT size(chars): split('', '')
    # yields [''] (size 1) in both Spark and the DuckDB oracle
    length = F.length(text)
    empty = text.isNull() | (length == 0)
    dist = F.array_sort(F.array_distinct(chars))
    counts = F.transform(
        dist, lambda c: F.size(F.filter(chars, lambda x: x == c)).cast("double")
    )
    nlogn = F.aggregate(counts, F.lit(0.0), lambda acc, n: acc + n * F.log(n))
    h = F.when(empty, F.lit(0.0)).otherwise(
        F.log(length.cast("double")) - nlogn / length.cast("double"))
    return df.select(
        "*",
        F.when(empty, F.lit(0)).otherwise(length).cast("long").alias("n_chars"),
        F.when(empty, F.lit(0)).otherwise(F.size(dist)).cast("long")
        .alias("n_distinct_chars"),
        F.round(h, 6).alias(out_col),
    )


# Major Unicode script blocks, BMP-only ON PURPOSE: Spark's length()
# counts UTF-16 code units while DuckDB's counts code points, so a
# supplementary-plane range would diverge cross-engine; per-class
# counts over BMP ranges agree exactly even when the surrounding text
# contains astral characters (emoji), because the class regex removes
# them from the counted remainder. Java regex and RE2 syntaxes differ
# only in the escape form, handled at expression-build time.
SCRIPT_BLOCKS = {
    "latin": ("A-Za-z\u00C0-\u024F", "A-Za-z\\x{00C0}-\\x{024F}"),
    "cyrillic": ("\u0400-\u04FF", "\\x{0400}-\\x{04FF}"),
    "greek": ("\u0370-\u03FF", "\\x{0370}-\\x{03FF}"),
    "arabic": ("\u0600-\u06FF", "\\x{0600}-\\x{06FF}"),
    "hebrew": ("\u0590-\u05FF", "\\x{0590}-\\x{05FF}"),
    "devanagari": ("\u0900-\u097F", "\\x{0900}-\\x{097F}"),
    "cjk": ("\u4E00-\u9FFF", "\\x{4E00}-\\x{9FFF}"),
    "hangul": ("\uAC00-\uD7AF", "\\x{AC00}-\\x{D7AF}"),
    "kana": ("\u3040-\u30FF", "\\x{3040}-\\x{30FF}"),
}


def script_profile(df: DataFrame, text_col: str,
                   minor_threshold: float = 0.05) -> DataFrame:
    """Per-document Unicode script-mix profile — the homoglyph-spam /
    wrong-language-leak detector a multilingual web corpus needs
    (Cyrillic а/е spliced into Latin brand names, CJK boilerplate
    inside an "en" page). Appends, per SCRIPT_BLOCKS script,
    ``n_<script>`` (characters of that script), plus::

        n_letters        total characters across all script blocks
        main_script      argmax script ('none' when no letters;
                         ties break lexicographically)
        n_scripts        scripts exceeding minor_threshold of letters
        mixed_script     n_scripts >= 2 — the spam/leak flag

    Scale shape: a pure per-row projection (one codegen'd
    regexp_replace+length per script block — no Python, no shuffle);
    the argmax is a sort of a 9-element literal-built struct array.
    At 100 TB the cost is the scan itself.
    """
    text = F.coalesce(F.col(text_col), F.lit(""))
    counts = {
        name: F.length(F.regexp_replace(text, f"[^{java}]", ""))
        for name, (java, _) in SCRIPT_BLOCKS.items()
    }
    out = df.select(
        "*", *[c.cast("long").alias(f"n_{name}") for name, c in counts.items()])
    total = sum(F.col(f"n_{name}") for name in SCRIPT_BLOCKS)
    # argmax via ascending struct sort on (-count, name): first element
    # is the largest count, lexicographic on ties — deterministic
    ranked = F.sort_array(F.array(*[
        F.struct((-F.col(f"n_{name}")).alias("neg"), F.lit(name).alias("s"))
        for name in SCRIPT_BLOCKS
    ]))
    main = F.when(total == 0, F.lit("none")).otherwise(
        F.element_at(ranked, 1)["s"])
    n_scripts = sum(
        F.when(F.col(f"n_{name}")
               >= F.greatest(F.lit(1), (F.lit(minor_threshold)
                                        * total).cast("long")), 1).otherwise(0)
        for name in SCRIPT_BLOCKS
    )
    return out.select(
        "*",
        total.cast("long").alias("n_letters"),
        main.alias("main_script"),
        n_scripts.cast("int").alias("n_scripts"),
        (n_scripts >= 2).alias("mixed_script"),
    )


def unigram_js_divergence(corpus_a: DataFrame, corpus_b: DataFrame,
                          text_col: str) -> DataFrame:
    """Jensen-Shannon divergence between two corpora's unigram
    distributions — the standard lexical-drift distance for comparing
    crawls / sources / filtered-vs-raw corpora (symmetric, bounded,
    defined even where vocabularies only partially overlap — exactly
    where plain KL blows up). Natural-log convention, so the bound is
    ln 2; ``js_normalized`` divides it out to [0, 1]. One row::

        n_tokens_a, n_tokens_b, n_types_a, n_types_b, n_types_union,
        js_divergence, js_normalized

    ``JSD = 0.5*KL(P||M) + 0.5*KL(Q||M)`` with ``M=(P+Q)/2`` over the
    UNION vocabulary; a type absent from one side contributes only the
    other side's term (0*ln 0 = 0).

    Scale shape: one map-side-combined ``groupBy(token)`` per corpus
    (the only shuffles that see data volume — one row per distinct
    token per partition), a vocab-sized full-outer join on the two
    agg outputs, then the totals (an O(vocab) one-row agg, broadcast
    back — Catalyst reuses the two groupBy Exchanges, so neither
    corpus is scanned twice) and ONE final all-to-one sum. Token text
    never reaches the driver."""
    def counts(df, tag):
        toks = F.when(
            F.length(F.trim(F.col(text_col))) == 0,
            F.array().cast("array<string>"),
        ).otherwise(_tokens(text_col))
        return (spread_input(df).select(F.explode(toks).alias("__tok"))
                  .groupBy("__tok")
                  .agg(F.count(F.lit(1)).alias(f"n_{tag}")))

    j = counts(corpus_a, "a").join(counts(corpus_b, "b"), "__tok", "full_outer") \
        .select(
            F.coalesce(F.col("n_a"), F.lit(0)).alias("na"),
            F.coalesce(F.col("n_b"), F.lit(0)).alias("nb"),
        )
    totals = j.agg(F.sum("na").alias("ta"), F.sum("nb").alias("tb"))
    t = j.crossJoin(F.broadcast(totals))
    p = F.col("na") / F.col("ta").cast("double")
    q = F.col("nb") / F.col("tb").cast("double")
    m = (p + q) / F.lit(2.0)
    contrib = (
        F.when(F.col("na") > 0, F.lit(0.5) * p * F.log(p / m)).otherwise(F.lit(0.0))
        + F.when(F.col("nb") > 0, F.lit(0.5) * q * F.log(q / m)).otherwise(F.lit(0.0))
    )
    return t.groupBy().agg(
        F.max("ta").cast("long").alias("n_tokens_a"),
        F.max("tb").cast("long").alias("n_tokens_b"),
        F.sum(F.when(F.col("na") > 0, 1).otherwise(0)).cast("long").alias("n_types_a"),
        F.sum(F.when(F.col("nb") > 0, 1).otherwise(0)).cast("long").alias("n_types_b"),
        F.count(F.lit(1)).cast("long").alias("n_types_union"),
        F.round(F.sum(contrib), 6).alias("js_divergence"),
        F.round(F.sum(contrib) / F.lit(math.log(2.0)), 6).alias("js_normalized"),
    )
