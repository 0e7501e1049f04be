"""Physical-plan regression tests: the scale-critical plan properties
the engine's design depends on, asserted via explain() so a future edit
that silently reintroduces an Expand, drops a broadcast, or breaks scan
pruning fails CI instead of surfacing as a 10x slowdown at corpus scale.
"""

import pytest

from pyspark.sql import functions as F


def _plan(df) -> str:
    return df._jdf.queryExecution().executedPlan().toString()


@pytest.fixture(scope="module")
def lineitem(spark):
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    return df


def test_fused_stats_pass_has_no_expand(lineitem):
    # the Expand trap: countDistinct mixed into the wide agg replicates
    # every row N+1 times (stats.py docstring; memory: 12x slowdown)
    from deepchecks_spark.stats import _agg_exprs

    agg = lineitem.agg(*_agg_exprs(lineitem, lineitem.columns))
    assert "Expand" not in _plan(agg)


def test_melted_scan_prunes_to_selected_columns(lineitem):
    from deepchecks_spark.functions.columns import melt

    melted = melt(lineitem, ["l_returnflag", "l_linestatus"])
    plan = _plan(melted)
    scan = plan[plan.find("ReadSchema"):][:200]
    assert "l_returnflag" in scan and "l_linestatus" in scan
    assert "l_extendedprice" not in scan  # unrelated columns pruned


def test_brute_force_topk_broadcasts_queries(spark):
    from deepchecks_spark.pipeline.similarity import brute_force_topk

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = brute_force_topk(df.filter(F.col("vec_id") < 5), df, k=3, id_col="vec_id")
    assert "BroadcastNestedLoopJoin" in _plan(out) or "BroadcastExchange" in _plan(out)


def test_data_duplicates_has_mapside_partial_agg(lineitem):
    # two-stage hash aggregation: partial_count before the exchange
    grouped = lineitem.groupBy("l_orderkey", "l_partkey").count()
    plan = _plan(grouped)
    assert plan.count("HashAggregate") >= 2
    assert "partial_count" in plan


def test_semi_join_on_tiny_distinct_side_broadcasts(spark):
    # NewLabel/IndexLeakage shape: left_semi against a small distinct set
    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    small = df.select("o_orderstatus").distinct()
    joined = df.join(small, on="o_orderstatus", how="left_semi")
    joined.collect()  # let AQE finalize
    final = joined._jdf.queryExecution().executedPlan().toString()
    assert "Broadcast" in final


def test_spearman_rank_windows_are_partitioned(spark, monkeypatch):
    from deepchecks_spark.checks.ml import FeatureFeatureCorrelation

    monkeypatch.setattr(FeatureFeatureCorrelation, "RANK_MAP_MAX_COLLECT", 1)
    df = spark.read.parquet("/root/testdata/sf0.001/lineitem.parquet")
    sub = df.selectExpr("cast(l_extendedprice as double) as x")
    rank_map = FeatureFeatureCorrelation._avg_rank_map(sub, "x", "rx", ndv=10_000_000)
    plan = _plan(rank_map)
    # every Window operator must carry a partition spec (the __bkt bucket)
    for seg in plan.split("Window ")[1:]:
        assert "__bkt" in seg[:400]


def test_minhash_plan_does_not_duplicate_shingle_build(spark):
    # Round-3 regression guard: if the explode's child is a bare
    # attribute, InferFiltersFromGenerate infers a size()>0 filter that
    # pushdown re-expands into the FULL shingle expression below the
    # scan — the KB-text shingle build then runs twice per row (+30% on
    # the dedup bench). The executed plan must contain NO Filter that
    # re-evaluates the shingle construction.
    from deepchecks_spark.pipeline.dedup import minhash_signatures

    df = spark.createDataFrame(
        [(i, "some words repeated here for shingling tests %d" % i) for i in range(20)],
        "doc_id long, text string")
    sig = minhash_signatures(df, "doc_id", "text", num_hashes=8)
    plan = sig._jdf.queryExecution().executedPlan().toString()
    # the shingle transform may appear exactly once (the projection
    # feeding the explode) — a second occurrence means a duplicated
    # evaluation in an inferred filter
    assert plan.count("lambdafunction(array_join(slice(") == 1, plan


def test_confusion_cells_partial_agg_before_exchange(spark):
    # SingleDatasetPerformance/ConfusionMatrixReport: the n_classes²
    # cell pass must map-side combine (partial_count under the Exchange)
    from deepchecks_spark.checks.performance import confusion_cells_frame

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    pairs = df.selectExpr("label as __y", "cast(label as int) as __p")
    plan = _plan(confusion_cells_frame(pairs))
    assert "partial_count" in plan
    assert plan.count("Exchange") == 1


def test_train_test_performance_single_shuffle_over_union(spark):
    # the union-tagged cell pass is ONE job with ONE shuffle — a second
    # Exchange would mean the two datasets are aggregated separately
    from deepchecks_spark.checks.performance import tagged_union_cells

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    sides = [
        df.filter("vec_id % 2 = 0").selectExpr("'Train' as __ds", "label as __y",
                                               "label as __p"),
        df.filter("vec_id % 2 = 1").selectExpr("'Test' as __ds", "label as __y",
                                               "label as __p"),
    ]
    plan = _plan(tagged_union_cells(sides))
    assert "Union" in plan
    assert plan.count("Exchange") == 1
    assert "partial_count" in plan


def test_weak_segments_grouping_sets_single_scan(spark):
    # all feature-pair segment grids come from ONE scan + ONE Expand
    # (grouping sets), not one job per pair
    from deepchecks_spark.checks.performance import segment_grid

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet")
    prep = df.selectExpr("o_orderpriority as __b_0", "o_orderstatus as __b_1",
                         "cast(o_orderkey % 2 as long) as __b_2",
                         "cast(1 as long) as __correct")
    sets = [["__b_0", "__b_1"], ["__b_0", "__b_2"], ["__b_1", "__b_2"]]
    grid = segment_grid(prep, sets, ["__b_0", "__b_1", "__b_2"])
    plan = _plan(grid)
    assert plan.count("Expand") == 1
    assert plan.count("Scan parquet") == 1
    assert "partial_count" in plan


def test_roc_histogram_single_pass_mapside_combine(spark):
    from deepchecks_spark.checks.performance import roc_score_histogram

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .selectExpr("cast(label % 2 as int) as lbl", "(vec_id % 100) / 100.0 as p")
    hist = roc_score_histogram(df, "lbl", {1: "p"}, n_bins=None)
    plan = _plan(hist)
    assert plan.count("Exchange") == 1  # one shuffle for the (class, score) agg
    assert plan.count("Scan parquet") == 1
    assert "Generate" in plan  # the explode melt


def test_multi_model_melt_single_scan(spark):
    # MultiModelPerformanceReport: N models' confusion matrices from ONE
    # scan — the explode melt must not duplicate the source read
    from deepchecks_spark import Dataset
    from deepchecks_spark.checks.performance import MultiModelPerformanceReport
    from deepchecks_spark.core.context import Context

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .selectExpr("label", "label as pa", "cast((label + 1) % 10 as int) as pb")
    ds = Dataset(df, label="label", infer_categorical=False)
    check = MultiModelPerformanceReport({"A": "pa", "B": "pb"})
    y = F.col("label")
    entries = [
        F.struct(F.lit(m).alias("mdl"), F.col(c).alias("p"))
        for m, c in (("A", "pa"), ("B", "pb"))
    ]
    grouped = (
        df.filter(y.isNotNull())
        .select(y.alias("__y"), F.explode(F.array(*entries)).alias("e"))
        .filter(F.col("e.p").isNotNull())
        .groupBy(F.col("e.mdl").alias("__m"), "__y", F.col("e.p").alias("__p"))
        .count()
    )
    plan = _plan(grouped)
    assert plan.count("Scan parquet") == 1
    assert plan.count("Exchange") == 1
    # and the real check agrees with itself end-to-end (sanity)
    value, _ = check.compute(Context(train=ds), "train")
    assert {r["Model"] for r in value} == {"A", "B"}


def test_ivf_topk_broadcast_probe_single_shuffle(spark):
    """IVF probe: corpus cell assignment is map-only (no Exchange before
    the join), the exploded query set is the broadcast build side, and
    the rank window is the ONLY data shuffle — with a map-side
    WindowGroupLimit so each partition pre-trims to top-k before it."""
    from deepchecks_spark.pipeline.similarity import (
        deterministic_int_centroids,
        ivf_topk,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    cents = deterministic_int_centroids(nlist=4, dim=64)
    out = ivf_topk(df.filter(F.col("vec_id") < 5), df, dim=64, k=3, nprobe=2,
                   id_col="vec_id", centroids=cents)
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_performance_bias_single_grouped_pass(spark):
    # subgroup scores AND baseline come from one grouped cell pass —
    # no second scan for the baseline
    from deepchecks_spark import Dataset
    from deepchecks_spark.core.context import Context
    from deepchecks_spark.checks.performance import PerformanceBias

    df = spark.read.parquet("/root/testdata/sf0.001/orders.parquet") \
        .selectExpr("o_orderpriority", "cast(o_orderkey % 2 as int) as lbl",
                    "cast(o_orderkey % 2 as int) as pred")
    ds = Dataset(df, label="lbl", cat_features=["o_orderpriority"],
                 infer_categorical=False)
    import pyspark.sql.classic.dataframe as dataframe_mod

    orig = dataframe_mod.DataFrame.collect
    n_collects = []

    def spy(self):
        rows = orig(self)
        n_collects.append(len(rows))
        return rows

    dataframe_mod.DataFrame.collect = spy
    try:
        value, _ = PerformanceBias("pred", protected_feature="o_orderpriority") \
            .compute(Context(train=ds), "train")
    finally:
        dataframe_mod.DataFrame.collect = orig
    assert len(n_collects) == 1  # exactly one action: the grouped cells
    assert len(value["scores_df"]) == 5


def test_repetition_stats_is_shuffle_free(spark):
    # every signal folds inside one projection over the token array —
    # a groupBy/explode sneaking in would shuffle 10^12 gram rows
    from deepchecks_spark.pipeline.textstats import repetition_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(repetition_stats(docs, "text"))
    assert "Exchange" not in plan
    assert "Generate" not in plan  # no explode either


def test_duplicate_chunk_stats_shuffles_hashes_not_text(spark):
    # the chunk text is reduced to xxhash64 BEFORE the explode: no
    # Exchange may carry the text column, and the explode feeds from
    # the narrow (id, hash-array) projection
    from deepchecks_spark.pipeline.dedup import duplicate_chunk_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(duplicate_chunk_stats(docs, "doc_id", "text", chunk_words=5))
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_gopher_and_c4_rules_are_shuffle_free(spark):
    # both rule sets are pure higher-order-function projections: an
    # Exchange or Generate in either plan means a 10^12-row corpus
    # suddenly shuffles or explodes per-token rows
    from deepchecks_spark.pipeline.textstats import gopher_quality_rules
    from deepchecks_spark.pipeline.webclean import c4_clean, pii_redaction

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    for out in (gopher_quality_rules(docs, "text"),
                c4_clean(docs, "text"),
                pii_redaction(docs, "text")):
        plan = _plan(out)
        assert "Exchange" not in plan
        assert "Generate" not in plan


def test_unigram_vocab_cut_is_take_ordered(spark):
    # the top-V vocabulary cut must plan as TakeOrderedAndProject
    # (per-partition partial top-K), never a global Sort of the
    # distinct-token table
    from deepchecks_spark.pipeline.textstats import unigram_logprob

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(unigram_logprob(docs, "doc_id", "text", vocab_size=100))
    assert "TakeOrderedAndProject" in plan
    # vocabulary + totals reach the scoring pass as broadcasts
    assert "BroadcastExchange" in plan


def test_line_dedup_shuffles_hashes_not_text(spark):
    # duplicated-line removal: every Exchange key set must be hash/id
    # columns — the line text stays in its row end-to-end
    import re

    from deepchecks_spark.pipeline.webclean import remove_duplicated_lines

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(remove_duplicated_lines(docs, "doc_id", "text"))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_decontamination_literal_path_is_shuffle_free(spark):
    # a small benchmark takes the in-plan literal array path: the
    # corpus pass is one projection, no Exchange, no Generate
    from pyspark.sql import functions as F

    from deepchecks_spark.pipeline.decontam import ngram_decontamination

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter(F.col("doc_id") % 41 == 0).select("text")
    out = ngram_decontamination(docs, bench, "doc_id", "text", ngram=13)
    plan = _plan(out)
    assert "Exchange" not in plan
    assert "Generate" not in plan


def test_quality_scoring_is_shuffle_free(spark):
    # the 100 TB filter path: feature extraction + linear + sigmoid must
    # stay a single map-only projection (no Exchange, no Python)
    from deepchecks_spark.pipeline.classifier import score_quality

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    model = {"features": ["f_log_tokens", "f_stopword_ratio"],
             "weights": {"f_log_tokens": 0.5, "f_stopword_ratio": -2.0},
             "intercept": 0.1}
    plan = _plan(score_quality(df, "text", model, threshold=0.5))
    assert "Exchange" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_bigram_counts_have_mapside_partial_agg(spark):
    # both LM count passes must partial-aggregate before their Exchange
    # (the shuffle is bounded by DISTINCT grams, not corpus positions)
    from deepchecks_spark.pipeline.textstats import bigram_logprob

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(bigram_logprob(df, "doc_id", "text"))
    assert "partial_count" in plan
    assert "CartesianProduct" not in plan
    assert "Python" not in plan


def test_perplexity_bucket_assignment_is_map_only(spark):
    from deepchecks_spark.pipeline.textstats import perplexity_buckets

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet") \
        .withColumn("ppl", F.length("text").cast("double"))
    plan = _plan(perplexity_buckets(df, "ppl", thresholds=[100.0, 200.0]))
    assert "Exchange" not in plan


def test_repeated_span_stats_shuffles_hashes_not_text(spark):
    # the stride-1 window text is reduced to xxhash64 BEFORE the
    # explode (the w-times positional blow-up must move 8-byte hashes,
    # never text), and column pruning keeps the window transform off
    # the stats side of the final join — exactly one Generate node
    from deepchecks_spark.pipeline.dedup import repeated_span_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(repeated_span_stats(docs, "doc_id", "text", window_words=5))
    import re

    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)
    assert plan.count("Generate") == 1


def test_sample_to_mixture_is_map_only(spark):
    # the mixing decision is a broadcast-literal map lookup + arithmetic
    # on the id — no Exchange anywhere: at corpus scale the cost is the
    # scan itself
    from deepchecks_spark.pipeline.webclean import sample_to_mixture

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(sample_to_mixture(docs, "lang", "doc_id", {"en": 0.5, "de": 1.5}))
    assert "Exchange" not in plan


def test_incremental_dedup_shuffles_hashes_not_text(spark):
    # both sides reduce to xxhash64 before any exchange: the anti-join
    # and the within-batch min partition on the 8-byte hash, never text
    from deepchecks_spark.pipeline.dedup import incremental_dedup

    import re

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    seen = docs.filter("doc_id % 2 = 0")
    batch = docs.filter("doc_id % 2 = 1")
    plan = _plan(incremental_dedup(batch, seen, "doc_id", "text"))
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1), m.group(0)


def test_semantic_decontamination_spine_only_exchange(spark):
    # the benchmark must broadcast (BNLJ expansion stays in place) and
    # the per-id max must partial-aggregate BEFORE the shuffle, so the
    # only hash Exchange carries the (id, best) spine — never the
    # n_corpus x n_bench expansion
    from deepchecks_spark.pipeline.decontam import semantic_decontamination

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    bench = df.filter("vec_id < 20").select("vec_id", "embedding")
    corpus = df.filter("vec_id >= 20").select("vec_id", "embedding")
    plan = _plan(semantic_decontamination(corpus, bench, "vec_id", "embedding"))
    assert "BroadcastNestedLoopJoin" in plan
    assert "partial_min" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_vocabulary_stats_mapside_combine_and_top_terms_take_ordered(spark):
    # token counts must map-side combine (shuffle = distinct tokens per
    # partition, not occurrences); top_terms must compile to
    # TakeOrderedAndProject, never a global vocabulary sort
    from deepchecks_spark.pipeline.textstats import top_terms, vocabulary_stats

    df = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    vplan = _plan(vocabulary_stats(df, "text"))
    assert "partial_count" in vplan
    tplan = _plan(top_terms(df, "text", k=10))
    assert "TakeOrderedAndProject" in tplan


def test_keep_latest_crawl_mapside_argmax_before_exchange(spark):
    # recrawl dedup is an algebraic max_by aggregate: the partial argmax
    # runs BEFORE the url exchange, so the shuffle carries one candidate
    # per (partition, url) — never the full recrawl history — and a hot
    # url collapses map-side instead of skewing the exchange
    from deepchecks_spark.pipeline.webclean import keep_latest_crawl

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    crawl = docs.selectExpr("doc_id % 50 as url", "doc_id as ts", "text")
    plan = _plan(keep_latest_crawl(crawl, "url", "ts", tiebreak_col="ts"))
    assert "partial_max_by" in plan
    assert plan.index("partial_max_by") > plan.index("Exchange")  # physical plans print top-down: partial agg sits BELOW (after) the exchange line
    assert "Window" not in plan  # not the row_number-over-everything shape


def test_select_by_token_budget_no_global_order_window(spark):
    # the budget scan inherits pack_sequences' pinned shape: every
    # window is partitioned by __pid (no single-task global ORDER BY),
    # and the final frame is a materialized localCheckpoint scan
    from deepchecks_spark.pipeline.packing import select_by_token_budget

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = select_by_token_budget(docs, "doc_id", "text", "n_chars", 10_000)
    plan = _plan(out)
    assert "ExistingRDD" in plan or "Scan" in plan  # checkpointed, no re-scan lineage
    import re
    assert not re.search(r"Window \[[^\]]*windowspecdefinition\(\s*[^,]*__ord", plan)


def test_tfidf_window_partitioned_and_exchanges_carry_no_text(spark):
    # per-document top-k must be a window PARTITIONED BY the doc id
    # (millions of tiny partitions, no global sort), the (doc, term)
    # count must map-side combine, and no Exchange may carry the raw
    # text column — the shuffle rows are (id, term) pairs and the
    # O(|vocab|) df table
    import re

    from deepchecks_spark.pipeline.textstats import tfidf_terms

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(tfidf_terms(docs, "doc_id", "text", k=3))
    assert "partial_count" in plan
    assert re.search(r"windowspecdefinition\(__id", plan)
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "text" not in m.group(1)


def test_zipf_fit_is_take_ordered_not_vocab_sort(spark):
    # the top-n cut must compile to TakeOrderedAndProject (per-partition
    # top-n + driver merge), never a global Sort of the vocabulary
    from deepchecks_spark.pipeline.textstats import zipf_fit

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(zipf_fit(docs, "text", top_n=100))
    assert "TakeOrderedAndProject" in plan


def test_ngram_overlap_single_hash_shuffle_no_text(spark):
    # the tagged-union groupBy(hash) is the ONLY hash-partitioned
    # exchange (its map-side combine IS the per-corpus dedup — no
    # distinct() pre-pass adding a second shuffle each side), and it
    # carries 8-byte gram hashes, never gram text
    import re

    from deepchecks_spark.pipeline.decontam import ngram_overlap

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    out = ngram_overlap(docs.filter("doc_id % 2 = 0"),
                        docs.filter("doc_id % 2 = 1"), "text", ngram=3)
    plan = _plan(out)
    hash_exchanges = re.findall(r"Exchange hashpartitioning\(([^)]*)\)", plan)
    assert len(hash_exchanges) == 1
    assert "text" not in hash_exchanges[0]
    assert "partial_max" in plan


def test_char_entropy_is_pure_projection_no_exchange(spark):
    # entropy must stay a per-row higher-order-function projection:
    # zero shuffle, zero Python — any Exchange or Python eval here
    # means the hot path regressed to a (doc, char) shuffle
    from deepchecks_spark.pipeline.textstats import char_entropy

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(char_entropy(docs.select("doc_id", "text"), "text"))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_pii_stats_single_one_row_exchange(spark):
    # the corpus summary is ONE distributive agg: partial_sum map-side,
    # a single SinglePartition exchange, no Expand
    from deepchecks_spark.pipeline.webclean import pii_stats

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(pii_stats(docs, "text"))
    assert plan.count("Exchange") == 1
    assert "SinglePartition" in plan
    assert "partial_sum" in plan and "Expand" not in plan


def test_temporal_drift_value_never_shuffles(spark):
    # the raw value column must be projected into a bin BEFORE the
    # (window, bin) groupBy — no hash Exchange may carry __v, and the
    # big groupBy must map-side combine
    import re

    from deepchecks_spark.drift.spark import temporal_drift

    events = spark.read.parquet("/root/testdata/sf0.001/events.parquet")
    plan = _plan(temporal_drift(events, "ts", "value", "day", n_bins=10))
    assert "partial_count" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "__v" not in m.group(1) and "value" not in m.group(1)


def test_contamination_report_benchmark_broadcasts(spark):
    # the (benchmark, gram-hash) set must BROADCAST into the corpus
    # explode — the corpus side never hash-partitions its gram hits
    # before the bounded (doc, benchmark) distinct
    from deepchecks_spark.pipeline.decontam import contamination_report

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    bench = docs.filter("doc_id % 25 = 0").selectExpr(
        "concat('b', CAST(doc_id % 2 AS STRING)) AS bench_name", "text")
    plan = _plan(contamination_report(docs, bench, "doc_id", "text",
                                      "bench_name", ngram=5))
    assert "BroadcastHashJoin" in plan
    assert "text" not in "".join(
        l for l in plan.splitlines() if "Exchange hashpartitioning" in l)


def test_embedding_drift_is_two_one_row_aggs(spark):
    # the whole two-sample statistic must be ONE distributive agg per
    # corpus: no hash Exchange (nothing shuffles by key), exactly two
    # SinglePartition exchanges (one one-row frame per side), no
    # Expand, no Python — the RFF features are codegen'd expressions
    from deepchecks_spark.drift.embedding import embedding_drift

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    plan = _plan(embedding_drift(emb.filter("vec_id % 2 = 0"),
                                 emb.filter("vec_id % 2 = 1"),
                                 "embedding", dim=64, n_features=16))
    assert "Exchange hashpartitioning" not in plan
    assert plan.count("Exchange SinglePartition") == 2
    assert "Expand" not in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_unigram_js_reuses_token_count_exchanges(spark):
    # the totals branch must REUSE the two groupBy(token) shuffles
    # (each corpus scanned once for the vocab table), and the token
    # groupBys must map-side combine
    from deepchecks_spark.pipeline.textstats import unigram_js_divergence

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = unigram_js_divergence(docs.filter("lang = 'en'"),
                               docs.filter("lang <> 'en'"), "text")
    df.collect()  # AQE applies exchange reuse at execution time
    plan = _plan(df)
    assert plan.count("ReusedExchange") >= 2
    assert "partial_count" in plan
    assert "Python" not in plan and "ArrowEval" not in plan


def test_embedding_drift_timeseries_vectors_never_shuffle(spark):
    # the groupBy(window) shuffle must carry only the O(D) partial
    # means — the embedding array never enters a hash Exchange, and
    # the per-window agg map-side combines
    import re

    from deepchecks_spark.drift.embedding import embedding_drift_timeseries

    emb = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet") \
        .selectExpr("timestamp(date_add(date'2024-01-01', "
                    "cast(vec_id % 3 as int))) AS ts", "embedding")
    plan = _plan(embedding_drift_timeseries(emb, "ts", "embedding",
                                            dim=64, n_features=16))
    assert "partial_avg" in plan or "partial_count" in plan
    for m in re.finditer(r"Exchange hashpartitioning\(([^)]*)\)", plan):
        assert "embedding" not in m.group(1)
    assert "Python" not in plan and "ArrowEval" not in plan


def test_url_spam_scores_is_pure_projection_no_exchange(spark):
    # every spam signal is length/replace arithmetic on regexp-extracted
    # URL parts: zero shuffle, zero Python — an Exchange here means the
    # per-row scoring regressed to an aggregation or UDF
    from deepchecks_spark.pipeline.webclean import url_spam_scores

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.selectExpr(
        "doc_id",
        "concat('http://sub.example', CAST(doc_id % 5 AS STRING),"
        " '.com/a/b?x=1&y=2') AS url")
    plan = _plan(url_spam_scores(df, "url"))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_domain_profile_text_never_shuffles(spark):
    # text reduces to xxhash64 BEFORE the (domain, hash) aggregation —
    # no hash Exchange may carry the raw text column, and the first
    # aggregation must combine map-side so a viral duplicate collapses
    # before it ships
    from deepchecks_spark.pipeline.webclean import domain_profile

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.selectExpr(
        "text",
        "concat('http://example', CAST(doc_id % 5 AS STRING), '.com/p') AS url")
    plan = _plan(domain_profile(df, "url", "text"))
    assert "partial_count" in plan or "partial_sum" in plan
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "text" not in line


def test_boilerplate_lines_topk_is_take_ordered(spark):
    # the report's cut must be a TakeOrderedAndProject (bounded top-k,
    # never a global Sort of every distinct line), the line counts must
    # combine map-side, and the one-row corpus total must broadcast
    from deepchecks_spark.pipeline.webclean import boilerplate_lines

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    plan = _plan(boilerplate_lines(docs.select("text"), "text", k=20))
    assert "TakeOrderedAndProject" in plan
    assert "partial_count" in plan
    assert "BroadcastNestedLoopJoin" in plan or "BroadcastExchange" in plan


def test_domain_blocklist_literal_path_is_shuffle_free(spark):
    # a small literal blocklist must compile to ONE arrays_overlap
    # filter against a constant array: zero shuffle, zero Python, no
    # explode — the plan-size-safe path for the common small-list case
    from deepchecks_spark.pipeline.webclean import filter_by_domain_blocklist

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.selectExpr(
        "doc_id",
        "concat('http://sub.example', CAST(doc_id % 5 AS STRING), '.com/p') AS url")
    plan = _plan(filter_by_domain_blocklist(df, "url", ["example1.com"]))
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert "Generate" not in plan  # no explode on the literal path


def test_domain_blocklist_dataframe_path_broadcasts(spark):
    # the DataFrame blocklist must broadcast into the exploded-suffix
    # join — the corpus side never hash-partitions
    from deepchecks_spark.pipeline.webclean import filter_by_domain_blocklist

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    df = docs.selectExpr(
        "doc_id",
        "concat('http://sub.example', CAST(doc_id % 5 AS STRING), '.com/p') AS url")
    bl = spark.createDataFrame([("example1.com",)], "domain string")
    plan = _plan(filter_by_domain_blocklist(df, "url", bl))
    assert "BroadcastHashJoin" in plan
    # the CORPUS side never hash-partitions (the only permitted exchange
    # is the tiny blocklist's own dropDuplicates); no explode, no
    # row-id round trip
    for line in plan.splitlines():
        if "Exchange hashpartitioning" in line:
            assert "__bl_domain" in line, line
    assert "Generate" not in plan
    assert "monotonically_increasing_id" not in plan
    assert "SortMergeJoin" not in plan


def test_pagerank_iteration_no_cartesian_and_narrow_shuffle(spark):
    # the power iteration must stay equi-join + grouped sum: no
    # cartesian/nested-loop join, map-side partial sum before the
    # contribution exchange (pin the UN-checkpointed step — after
    # localCheckpoint the outer plan is just an RDD scan)
    from pyspark.sql import functions as SF
    from deepchecks_spark.pipeline.webgraph import _pagerank_step

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 5) for i in range(40)], "src long, dst long")
    e = edges.distinct()
    deg = e.groupBy("src").agg(SF.count(SF.lit(1)).cast("double").alias("out_deg"))
    ew = e.join(deg, "src")
    nodes = (e.select(SF.col("src").alias("id"))
             .union(e.select(SF.col("dst").alias("id"))).distinct())
    dangling = nodes.join(deg, nodes["id"] == deg["src"], "left_anti")
    ranks = nodes.withColumn("rank", SF.lit(1.0 / 7))
    out = _pagerank_step(ew, nodes, dangling, ranks, 7, 0.85)
    plan = _plan(out)
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    assert "partial_sum" in plan  # map-side combine on the contribution agg


def test_link_graph_summary_single_row_result(spark):
    from deepchecks_spark.pipeline.webgraph import link_graph_summary

    edges = spark.createDataFrame(
        [(i % 7, (i * 3) % 5) for i in range(40)], "src long, dst long")
    out = link_graph_summary(edges)
    assert out.count() == 1


def test_ece_bins_single_exchange_mapside_combine(spark):
    # ExpectedCalibrationError: ONE n_bins-bounded groupBy — map-side
    # partial agg before a single hash Exchange, no Expand, no Python
    from deepchecks_spark.checks.performance import ece_bin_frame

    df = spark.createDataFrame(
        [(i % 2, (i % 10) / 10.0, 1.0 - (i % 10) / 10.0) for i in range(100)],
        "lbl int, p1 double, p0 double")
    out = ece_bin_frame(df, "lbl", {0: "p0", 1: "p1"}, n_bins=8)
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan or "partial_avg" in plan
    assert "Expand" not in plan
    assert "Python" not in plan


def test_confident_joint_single_exchange_mapside_combine(spark):
    # LabelNoiseEstimate pass 2: thresholds are plan literals, so the
    # confident joint is one map-side-combinable groupBy(given, pred)
    from deepchecks_spark.checks.performance import confident_joint_frame

    df = spark.createDataFrame(
        [(i % 3, (i % 10) / 10.0, ((i + 3) % 10) / 10.0, ((i + 7) % 10) / 10.0)
         for i in range(100)],
        "lbl int, p0 double, p1 double, p2 double")
    out = confident_joint_frame(
        df, "lbl", {0: "p0", 1: "p1", 2: "p2"},
        {0: 0.5, 1: 0.5, 2: 0.5})
    plan = _plan(out)
    assert plan.count("Exchange hashpartitioning") == 1
    assert "partial_count" in plan
    assert "Expand" not in plan
    assert "Python" not in plan


def test_extract_links_is_shuffle_free_projection(spark):
    # html -> outlinks: one Generate (the explode), zero Exchange, no
    # Python — the page payload is pruned right after the extraction
    from deepchecks_spark.pipeline.webgraph import extract_links

    df = spark.createDataFrame(
        [(1, "https://a.example/x/y", '<a href="/p">x</a><a href="q">y</a>')],
        "doc_id int, url string, html string")
    plan = _plan(extract_links(df, "html", "url", keep_cols=["doc_id"]))
    assert "Exchange" not in plan
    assert "Python" not in plan
    assert plan.count("Generate") == 1


def test_host_edges_single_mapside_combined_distinct(spark):
    # the only shuffle is the distinct over (src, dst) host pairs, with
    # map-side combine collapsing per-page fan-in before anything moves
    from deepchecks_spark.pipeline.webgraph import extract_links, host_edges

    df = spark.createDataFrame(
        [(1, "https://a.example/x", '<a href="https://b.example/p">x</a>')],
        "doc_id int, url string, html string")
    links = extract_links(df, "html", "url", keep_cols=["url"])
    plan = _plan(host_edges(links, "url", "link_url"))
    assert plan.count("Exchange hashpartitioning") == 1
    assert plan.count("HashAggregate") >= 2  # partial + final distinct


def test_extract_page_metadata_is_shuffle_free_projection(spark):
    from deepchecks_spark.pipeline.webclean import extract_page_metadata

    df = spark.createDataFrame(
        [(1, "<title>t</title>")], "doc_id int, html string")
    plan = _plan(extract_page_metadata(df, "html", keep_cols=["doc_id"]))
    assert "Exchange" not in plan
    assert "Python" not in plan


def test_pq_topk_mapside_encode_broadcast_queries_single_shuffle(spark):
    """PQ/ADC: corpus code assignment is a map-only codegen'd expression
    (no Exchange before the scored join), the query set with its lookup
    tables is the broadcast side, and the only hash shuffle is the
    global top-k window — pre-trimmed map-side by the two-stage local
    top-k (spark_partition_id window needs no Exchange)."""
    from deepchecks_spark.pipeline.similarity import (
        deterministic_int_codebooks,
        pq_topk,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    books = deterministic_int_codebooks(m=4, ksub=4, dsub=16)
    out = pq_topk(df.filter(F.col("vec_id") < 5), df, dim=64, k=3,
                  m=4, ksub=4, id_col="vec_id", codebooks=books)
    plan = _plan(out)
    assert "BroadcastNestedLoopJoin" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_ivfadc_mapside_index_broadcast_probe_single_shuffle(spark):
    """IVFADC: (cell, codes) come from ONE map-only corpus pass (no
    Exchange before the probe join), the exploded query set with its
    lookup tables is the broadcast build side, and the only hash
    shuffle is the WindowGroupLimit-pushdown rank window."""
    from deepchecks_spark.pipeline.similarity import (
        deterministic_int_centroids,
        deterministic_int_codebooks,
        ivfadc_topk,
    )

    df = spark.read.parquet("/root/testdata/sf0.001/embeddings.parquet")
    out = ivfadc_topk(df.filter(F.col("vec_id") < 5), df, dim=64, k=3,
                      nlist=4, nprobe=2, m=4, ksub=4, id_col="vec_id",
                      centroids=deterministic_int_centroids(nlist=4, dim=64),
                      codebooks=deterministic_int_codebooks(m=4, ksub=4, dsub=16))
    plan = _plan(out)
    assert "BroadcastHashJoin" in plan
    assert "WindowGroupLimit" in plan
    assert plan.count("Exchange hashpartitioning") == 1


def test_robots_compliance_single_host_join_no_explode(spark):
    """robots_disallowed: ONE equi-join on host, no cartesian, no
    Generate (the URL side is never exploded — the longest-match argmax
    runs inside the per-row rule array)."""
    from pyspark.sql import functions as F

    from deepchecks_spark.pipeline.webclean import (
        parse_robots_rules,
        robots_disallowed,
    )

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    urls = docs.selectExpr(
        "concat('http://h', CAST(doc_id % 20 AS STRING), '.com/p',"
        " CAST(doc_id AS STRING)) AS url")
    robots = spark.createDataFrame(
        [(f"h{i}.com", "User-agent: *\nDisallow: /private/\n")
         for i in range(0, 20, 2)], "host string, robots string")
    out = robots_disallowed(urls, parse_robots_rules(robots, "host", "robots"),
                            "url")
    plan = out._jdf.queryExecution().executedPlan().toString()
    assert "Cartesian" not in plan and "BroadcastNestedLoop" not in plan
    assert "Generate" not in plan          # URL side never explodes
    out.count()
