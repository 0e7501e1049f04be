"""Web-graph operators: PageRank and link-graph structure statistics.

A Common-Crawl-style corpus is a *graph* as much as a table — page
quality signals (PageRank-style centrality, dangling ratio, reciprocity)
are standard inputs to crawl-frontier prioritization and training-data
quality weighting (Brin & Page 1998; the CC-derived "page rank as a
quality prior" used by several public LLM-corpus pipelines). The
reference (deepchecks/deepchecks) has no graph surface; these are
engine extensions in the same spirit as the dedup clustering in
``pipeline/dedup.py`` — iterative algorithms expressed as a handful of
DataFrame joins per round with the lineage truncated each iteration.

Scale shape (10^12-edge graphs):
- the edge list is deduplicated, degree-annotated and persisted ONCE;
  every power iteration reuses it, so per-iteration cost is one
  equi-join (ranks → edge sources) + one groupBy-sum (contributions →
  destinations), both shuffling only (id, double) pairs — never text.
- dangling-node mass is ONE scalar aggregate per iteration (a driver
  double, not a collect of rows).
- ``localCheckpoint`` cuts the logical plan after every iteration —
  without it the plan grows per round and Catalyst analysis time
  compounds; at true corpus scale swap for reliable ``checkpoint(dir)``
  (same pattern, fault-tolerant) as documented on
  ``dedup.connected_components``.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F

from deepchecks_spark.functions.columns import quote_ident
from deepchecks_spark.io import local_frame


def pagerank(edges: DataFrame, src: str = "src", dst: str = "dst",
             n_iterations: int = 10, damping: float = 0.85) -> DataFrame:
    """Fixed-iteration PageRank (power method) over a directed edge
    list. Returns ``(id, rank)`` with Σrank = 1 (dangling mass is
    redistributed uniformly each iteration, the standard stochastic-
    matrix completion).

    Semantics: parallel edges are collapsed first (``distinct``), so a
    page linking to the same target twice contributes once — the usual
    web-graph convention. Self-loops are kept (a page may link to
    itself; the power method handles them natively).

    Spark shape: per iteration exactly two shuffles (ranks hash-join to
    the persisted degree-annotated edges on src; contribution sum groups
    on dst) plus one scalar agg for the dangling mass. Nothing wider
    than (id, double) ever moves. Fixed ``n_iterations`` (no convergence
    probe) keeps the job graph statically known — at damping 0.85 ten
    iterations put the residual below typical ranking noise, the
    standard production choice.
    """
    if n_iterations < 1:
        raise ValueError("n_iterations must be >= 1")
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("out_deg"))
    # degree-annotated edges: built and persisted ONCE, reused per round
    ew = e.join(deg, "src").persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    n_nodes = nodes.count()
    if n_nodes == 0:
        ew.unpersist()
        nodes.unpersist()
        return nodes.withColumn("rank", F.lit(0.0))
    # nodes with no outgoing edge: their rank leaks each iteration and
    # must be redistributed uniformly (one scalar agg per round)
    dangling = nodes.join(deg, nodes["id"] == deg["src"], "left_anti").persist()
    dangling.count()  # materialize while `deg`'s lineage is warm

    ranks = nodes.withColumn("rank", F.lit(1.0 / n_nodes))
    try:
        for _ in range(n_iterations):
            new_ranks = _pagerank_step(
                ew, nodes, dangling, ranks, n_nodes, damping)
            # cut the lineage: each round references the previous round's
            # plan; without truncation analysis cost grows per iteration
            # (see dedup.connected_components for the full rationale)
            ranks = new_ranks.localCheckpoint(eager=True)
        return ranks
    finally:
        ew.unpersist()
        nodes.unpersist()
        dangling.unpersist()


def _pagerank_step(ew: DataFrame, nodes: DataFrame, dangling: DataFrame,
                   ranks: DataFrame, n_nodes: int,
                   damping: float) -> DataFrame:
    """One power-method update (un-checkpointed — exposed so the plan
    pins can inspect the per-iteration physical shape)."""
    contrib = (
        ew.join(ranks, ew["src"] == ranks["id"])
        .groupBy("dst")
        .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
    )
    d_mass = (
        ranks.join(dangling, "id", "left_semi")
        .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
        .first()[0]
    )
    base = (1.0 - damping) / n_nodes + damping * d_mass / n_nodes
    return (
        nodes.join(contrib, nodes["id"] == contrib["dst"], "left")
        .select(
            nodes["id"],
            (F.lit(base)
             + F.lit(damping) * F.coalesce(F.col("contrib"), F.lit(0.0))
             ).alias("rank"),
        )
    )


def trustrank(edges: DataFrame, seeds: list, src: str = "src",
              dst: str = "dst", n_iterations: int = 10,
              damping: float = 0.85) -> DataFrame:
    """Personalized PageRank with teleport restricted to a TRUSTED seed
    set — TrustRank (Gyongyi, Garcia-Molina & Pedersen, VLDB 2004),
    the standard link-spam demotion signal: trust flows out of
    hand-vetted hosts along links, so a host unreachable from every
    seed scores exactly 0 no matter how dense its link farm is.
    Returns ``(id, rank)`` with sum(rank) = 1.

    Update rule (association mirrors :func:`pagerank`): with
    ``v_i = 1/|S & nodes|`` on seeds and 0 elsewhere,
    ``r' = (1-d)*v + d*(dm*v + contrib)`` — dangling mass teleports by
    ``v`` too, the personalized convention. ``r0 = v``.

    Seed lists are hand-curated and small by construction (the whole
    point of TrustRank); they inline as plan literals, gated at 10k —
    above that pre-join a trust column instead. Spark shape per
    iteration: identical to pagerank (two narrow shuffles + one scalar
    agg; per-iteration localCheckpoint cuts the lineage).
    """
    if n_iterations < 1:
        raise ValueError("n_iterations must be >= 1")
    if not (0.0 < damping < 1.0):
        raise ValueError("damping must be in (0, 1)")
    seeds = sorted(set(seeds))
    if not seeds:
        raise ValueError("trustrank needs a non-empty seed set")
    if len(seeds) > 10_000:
        raise ValueError(
            f"{len(seeds)} seeds would inline as plan literals — "
            "pre-join a trust column for seed sets this large")

    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    deg = e.groupBy("src").agg(F.count(F.lit(1)).cast("double").alias("out_deg"))
    ew = e.join(deg, "src").persist()
    nodes = (
        e.select(F.col("src").alias("id"))
        .union(e.select(F.col("dst").alias("id")))
        .distinct()
        .persist()
    )
    n_seeds = nodes.filter(F.col("id").isin(seeds)).count()
    if n_seeds == 0:
        ew.unpersist()
        nodes.unpersist()
        raise ValueError("no seed appears in the edge list's node set")
    nodes_v = nodes.withColumn(
        "v", F.when(F.col("id").isin(seeds), F.lit(1.0 / n_seeds))
        .otherwise(F.lit(0.0))).persist()
    dangling = nodes.join(deg, nodes["id"] == deg["src"], "left_anti").persist()
    dangling.count()
    ranks = nodes_v.select("id", F.col("v").alias("rank"))
    try:
        for _ in range(n_iterations):
            contrib = (
                ew.join(ranks, ew["src"] == ranks["id"])
                .groupBy("dst")
                .agg(F.sum(F.col("rank") / F.col("out_deg")).alias("contrib"))
            )
            d_mass = (
                ranks.join(dangling, "id", "left_semi")
                .agg(F.coalesce(F.sum("rank"), F.lit(0.0)))
                .first()[0]
            )
            new_ranks = (
                nodes_v.join(contrib, nodes_v["id"] == contrib["dst"], "left")
                .select(
                    nodes_v["id"],
                    ((F.lit(1.0 - damping) * F.col("v")
                      + F.lit(damping) * F.lit(d_mass) * F.col("v"))
                     + F.lit(damping)
                     * F.coalesce(F.col("contrib"), F.lit(0.0))).alias("rank"),
                )
            )
            ranks = new_ranks.localCheckpoint(eager=True)
        return ranks
    finally:
        ew.unpersist()
        nodes.unpersist()
        nodes_v.unpersist()
        dangling.unpersist()


def link_graph_summary(edges: DataFrame, src: str = "src",
                       dst: str = "dst") -> DataFrame:
    """One-row structural profile of a directed link graph: node/edge
    counts, dangling-node count (no out-links), self-loop count,
    reciprocity (fraction of directed edges whose reverse edge exists),
    and degree extremes — the crawl-health numbers a corpus data card
    reports next to the per-domain profile.

    Spark shape: edges dedup once; degrees are two groupBy counts;
    reciprocity is ONE self-equi-join on the reversed key (shuffles only
    (src, dst) id pairs). Everything reduces to a single output row.
    """
    e = edges.select(F.col(src).alias("src"), F.col(dst).alias("dst")).distinct()
    e.persist()
    try:
        n_edges = e.count()
        out_deg = e.groupBy("src").agg(F.count(F.lit(1)).alias("d"))
        in_deg = e.groupBy("dst").agg(F.count(F.lit(1)).alias("d"))
        nodes = (
            e.select(F.col("src").alias("id"))
            .union(e.select(F.col("dst").alias("id")))
            .distinct()
        )
        n_nodes = nodes.count()
        n_dangling = nodes.join(
            out_deg, nodes["id"] == out_deg["src"], "left_anti").count()
        n_self = e.filter(F.col("src") == F.col("dst")).count()
        # reciprocity: edge (a,b) with a!=b whose reverse (b,a) exists
        rev = e.select(F.col("dst").alias("src"), F.col("src").alias("dst"))
        n_recip = (
            e.filter(F.col("src") != F.col("dst"))
            .join(rev, ["src", "dst"], "left_semi")
            .count()
        )
        n_directed = n_edges - n_self
        max_out = out_deg.agg(F.coalesce(F.max("d"), F.lit(0))).first()[0]
        max_in = in_deg.agg(F.coalesce(F.max("d"), F.lit(0))).first()[0]
        spark = e.sparkSession
        return local_frame(
            spark, [(
                int(n_nodes), int(n_edges), int(n_dangling), int(n_self),
                float(n_recip) / n_directed if n_directed else 0.0,
                float(n_edges) / n_nodes if n_nodes else 0.0,
                int(max_out), int(max_in),
            )],
            "n_nodes bigint, n_edges bigint, n_dangling bigint, "
            "n_self_loops bigint, reciprocity double, avg_out_degree double, "
            "max_out_degree bigint, max_in_degree bigint",
        )
    finally:
        e.unpersist()


# --------------------------------------------------------------------------
# html → outlink edge list (feeds pagerank / link_graph_summary / host rank)
# --------------------------------------------------------------------------

# RFC-3986 scheme prefix ("http:", "mailto:", ...) — a link carrying one
# is already absolute; everything else resolves against the base URL
_SCHEME_RE = r"^[a-zA-Z][a-zA-Z0-9+.-]*:"
# schemes that are navigation no-ops for a link graph
_NON_HTTP_SCHEMES = ("javascript", "mailto", "tel", "data")


def extract_links(df: DataFrame, html_col: str, base_url_col: str,
                  keep_cols: list | None = None,
                  out_col: str = "link_url") -> DataFrame:
    """Parse ``href="..."`` anchors out of an HTML column and resolve
    each against the page's own URL, producing one row per outlink —
    the corpus-side step that turns a Common-Crawl-style page table
    into the directed link graph ``pagerank`` / ``link_graph_summary``
    consume. (The reference has no graph surface; this is the ingest
    half of the engine-extension pair, same spirit as
    ``corpus/extractor.py``'s text extraction.)

    Resolution implements the cases that dominate real crawl HTML
    (RFC 3986 §5.2 reference resolution, sans dot-segment removal):

    - ``scheme:...``  → kept as-is (non-http(s) schemes are dropped)
    - ``//host/path`` → base scheme + ``:`` + link
    - ``/path``       → base origin (scheme://authority) + link
    - ``path``        → base directory + link
    - empty / ``#fragment`` → dropped (self-references)

    Fragments are stripped from every resolved URL. Rows whose base URL
    has no parseable origin emit no edges.

    Spark shape: one ``regexp_extract_all`` + one ``explode`` + pure
    codegen'd string/conditional expressions — zero shuffles, zero
    Python; the HTML column is pruned away immediately after the
    extraction, so nothing page-sized survives past the scan stage.
    """
    base = F.col(quote_ident(base_url_col))
    scheme = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1)
    origin = F.regexp_extract(base, r"^([a-zA-Z][a-zA-Z0-9+.-]*://[^/?#]+)", 1)
    # base directory: origin + path up to (and including) the last '/';
    # a bare origin ("https://host") has directory origin + '/'
    path = F.substring(base, F.length(origin) + 1, 1 << 30)
    path = F.regexp_replace(path, r"[?#].*$", "")
    bdir = F.concat(origin, F.when(
        path.contains("/"), F.regexp_replace(path, r"[^/]*$", "")
    ).otherwise(F.lit("/")))

    keep = [F.col(quote_ident(c)) for c in (keep_cols or [])]
    links = df.select(
        *keep, scheme.alias("__scheme"), origin.alias("__origin"),
        bdir.alias("__bdir"),
        F.explode(
            F.regexp_extract_all(
                F.col(quote_ident(html_col)).cast("string"),
                F.lit(r'href="([^"]*)"'), F.lit(1))
        ).alias("__raw"),
    )
    raw = F.trim(F.col("__raw"))
    has_scheme = raw.rlike(_SCHEME_RE)
    link_scheme = F.lower(F.regexp_extract(raw, r"^([a-zA-Z][a-zA-Z0-9+.-]*):", 1))
    resolved = (
        F.when(has_scheme, raw)
        .when(raw.startswith("//"), F.concat(F.col("__scheme"), F.lit(":"), raw))
        .when(raw.startswith("/"), F.concat(F.col("__origin"), raw))
        .otherwise(F.concat(F.col("__bdir"), raw))
    )
    return (
        links.filter(
            (F.length(raw) > 0)
            & ~raw.startswith("#")
            & (F.length(F.col("__origin")) > 0)
            & (~has_scheme | ~link_scheme.isin(*_NON_HTTP_SCHEMES))
        )
        .select(*[F.col(quote_ident(c)) for c in (keep_cols or [])],
                F.regexp_replace(resolved, r"#.*$", "").alias(out_col))
    )


def host_edges(links: DataFrame, src_url_col: str,
               dst_url_col: str) -> DataFrame:
    """Collapse a page-level outlink table to the DISTINCT host→host
    edge list — the standard web-graph reduction (host-level PageRank
    is the quality prior most corpus pipelines actually use: ~10^7
    hosts instead of 10^12 pages, so the iteration state fits a
    fraction of the cluster).

    Spark shape: host extraction is a codegen'd projection; the only
    shuffle is the ``distinct`` over (src, dst) host pairs — map-side
    combine collapses the (huge) per-page fan-in before anything moves.
    Intra-host links are dropped (self-loops carry no cross-site
    signal).
    """
    from deepchecks_spark.pipeline.webclean import URL_HOST_RE

    s = F.lower(F.regexp_extract(F.col(quote_ident(src_url_col)), URL_HOST_RE, 1))
    d = F.lower(F.regexp_extract(F.col(quote_ident(dst_url_col)), URL_HOST_RE, 1))
    return (
        links.select(s.alias("src"), d.alias("dst"))
        .filter((F.length("src") > 0) & (F.length("dst") > 0)
                & (F.col("src") != F.col("dst")))
        .distinct()
    )
