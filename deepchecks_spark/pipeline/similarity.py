"""Similarity search over an embedding column (array<float>).

Brute-force cosine top-k is the exact baseline; three scale paths: a
random-hyperplane LSH (each query scores only its bucket, OR-amplified
across tables) and an IVF inverted-file index (k-means coarse
quantizer, each query exactly scores its nprobe nearest cells — the
FAISS IVFFlat shape) prune the candidate set, and product quantization
(PQ/ADC, the FAISS PQ shape) compresses the corpus to m codes/vector so
a full scan stays RAM-resident at 10^12 rows. Dot products run JVM-side
via zip_with/aggregate (no Python). Top-k rank windows rely on Spark's
WindowGroupLimit pushdown, which pre-trims each partition to k rows
map-side, so the single shuffle carries at most
n_queries × k × n_partitions rows, never the full cross join.
"""

from __future__ import annotations

import numpy as np
import pandas as pd
from pyspark.sql import DataFrame, Window
from pyspark.sql import functions as F

from deepchecks_spark.core.parallel import spread_input
from deepchecks_spark.functions.arrays import double_array_lit
from deepchecks_spark.io import local_frame


def _as_double(col):
    c = F.col(col) if isinstance(col, str) else col
    return c.cast("array<double>")


def _dot(a, b):
    return F.aggregate(F.zip_with(a, b, lambda x, y: x * y), F.lit(0.0), lambda acc, x: acc + x)


def _norm(a):
    return F.sqrt(F.aggregate(F.transform(a, lambda x: x * x), F.lit(0.0), lambda acc, x: acc + x))


def brute_force_topk(queries: DataFrame, corpus: DataFrame, k: int = 10,
                     id_col: str = "id", vec_col: str = "embedding") -> DataFrame:
    """Exact cosine top-k: broadcast the (small) query set against the
    corpus; per-partition pre-top-k keeps the shuffle bounded.

    Returns (query_id, neighbor_id, cosine, rank). Deterministic
    tie-break: (cosine desc, neighbor_id asc).
    """
    q = queries.select(
        F.col(id_col).alias("query_id"), _as_double(vec_col).alias("qe")
    ).withColumn("qn", _norm("qe"))
    # the corpus side carries the per-pair dot products — spread an
    # under-partitioned scan so scoring parallelizes (no-op at scale)
    c = spread_input(corpus).select(
        F.col(id_col).alias("neighbor_id"), _as_double(vec_col).alias("ce")
    ).withColumn("cn", _norm("ce"))
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot("qe", "ce") / (F.col("qn") * F.col("cn")))
        .select("query_id", "neighbor_id", "cosine")
    )
    # single rank window: Spark's WindowGroupLimit (rank-limit pushdown)
    # pre-trims each partition to top-k map-side BEFORE the Exchange, so
    # the one shuffle carries ≤ n_queries·k·n_partitions rows — the
    # manual two-stage local/global pattern would add a second Exchange
    # for the same bound
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
    )


def embedding_near_duplicates(df: DataFrame, dim: int, threshold: float = 0.95,
                              n_planes: int = 8, n_tables: int = 1, seed: int = 42,
                              id_col: str = "id", vec_col: str = "embedding") -> DataFrame:
    """Embedding-cosine near-duplicate pairs: LSH-bucketed self-join +
    exact cosine filter ≥ threshold. The bucket equi-join replaces the
    n² cross join; recall is tuned on two axes (fewer planes = bigger
    buckets; more tables = OR-amplification — a pair is a candidate if
    it collides in ANY table). Pass autotune_lsh_params(...) output for
    self-configuring recall. Returns (id_a, id_b, cosine)."""
    planes_by_table = [random_hyperplanes(dim, n_planes, seed + 97 * t)
                       for t in range(n_tables)]
    base = spread_input(df).select(
        F.col(id_col).alias("id"), _as_double(vec_col).alias("v")
    ).withColumn("n", _norm("v"))
    tb = [
        F.struct(F.lit(t).alias("tbl"),
                 lsh_bucket_expr("v", planes_by_table[t]).alias("bucket"))
        for t in range(n_tables)
    ]
    vecs = base.select(
        "id", "v", "n", F.explode(F.array(*tb)).alias("tb")
    ).select("id", "v", "n", F.col("tb.tbl").alias("tbl"), F.col("tb.bucket").alias("bucket"))
    a = vecs.alias("a")
    b = vecs.alias("b")
    return (
        a.join(b, ["tbl", "bucket"])
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", _dot("a.v", "b.v") / (F.col("a.n") * F.col("b.n")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
        .dropDuplicates(["id_a", "id_b"])
    )


def ivf_near_duplicates(df: DataFrame, dim: int, threshold: float = 0.95,
                        nlist: int = 64, nprobe: int = 2,
                        sample_size: int = 10_000, seed: int = 42,
                        id_col: str = "id", vec_col: str = "embedding",
                        centroids=None) -> DataFrame:
    """Embedding-cosine near-duplicate pairs via the IVF quantizer — the
    cell-join alternative to the LSH-bucketed embedding_near_duplicates:
    every vector is exploded into its ``nprobe`` nearest cells (probing
    BOTH sides recovers pairs that straddle a cell boundary, the IVF
    analogue of OR-amplification), pairs are formed by a cell equi-join
    with id_a < id_b, exactly scored, and filtered at ``threshold``.

    Scale shape: the explode multiplies the corpus by nprobe (not by
    n_tables × every vector as LSH multi-probe does); the self-join is
    an equi-join on cell — never all-pairs — and AQE splits skewed
    cells. Multi-cell double-hits are deduped AFTER the threshold
    filter, so the dedup shuffle carries only true near-duplicates.
    Returns (id_a, id_b, cosine)."""
    if centroids is not None:
        cents = np.asarray(centroids, dtype=float)
    else:
        cents = train_ivf_centroids(df, nlist, sample_size=sample_size,
                                    seed=seed, id_col=id_col, vec_col=vec_col)
    base = (
        spread_input(df)
        .select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        .withColumn("n", _norm("v"))
        .withColumn("cell", F.explode(ivf_probe_cells_col("v", cents, nprobe)))
    )
    a = base.alias("a")
    b = base.alias("b")
    return (
        a.join(b, "cell")
        .filter(F.col("a.id") < F.col("b.id"))
        .withColumn("cosine", _dot("a.v", "b.v") / (F.col("a.n") * F.col("b.n")))
        .filter(F.col("cosine") >= threshold)
        .select(F.col("a.id").alias("id_a"), F.col("b.id").alias("id_b"), "cosine")
        .dropDuplicates(["id_a", "id_b"])
    )


def autotune_lsh_params(df: DataFrame, threshold: float, target_recall: float = 0.9,
                        max_planes: int = 16, max_tables: int = 64,
                        sample_size: int = 1000, id_col: str = "id",
                        vec_col: str = "embedding") -> dict:
    """Choose (n_planes, n_tables) so random-hyperplane LSH reaches
    ``target_recall`` for pairs of cosine ≥ ``threshold`` while
    minimizing the candidate rate at the corpus's BACKGROUND similarity
    (ROADMAP #8 — self-configuring ANN on real corpora, where manual
    plane counts over- or under-bucket).

    Theory (Charikar's SimHash collision probability, public): one
    hyperplane agrees on a pair of cosine s with p(s) = 1 − arccos(s)/π;
    with b planes per table and T OR-amplified tables,
    recall(s) = 1 − (1 − p(s)^b)^T. Given the target recall at
    ``threshold``, every b yields the minimal T(b) =
    ⌈ln(1−r)/ln(1−p₀^b)⌉; among the feasible (b, T≤max_tables) pairs the
    tuner picks the one with the lowest expected false-candidate rate at
    the sampled background similarity — i.e. the most selective buckets
    that still hit recall.

    The background similarity is the median pairwise cosine of a
    bounded deterministic sample (lowest ``sample_size`` ids — a cheap
    TakeOrdered, no full scan; the reference caps check inputs the same
    way, e.g. feature_label_correlation's 100k-row sample). Everything
    else is closed-form math — no search over the corpus.

    Returns {'n_planes', 'n_tables', 'expected_recall',
    'expected_fp_rate', 'background_similarity'}.
    """
    import math

    rows = (
        df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .orderBy("id").limit(sample_size).collect()
    )
    mat = np.asarray([r["v"] for r in rows], dtype=float)
    if len(mat) < 2:
        raise ValueError("autotune_lsh_params needs at least 2 sampled vectors")
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    sims = unit @ unit.T
    s_bg = float(np.median(sims[np.triu_indices(len(mat), k=1)]))

    def p_collide(s: float) -> float:
        return 1.0 - math.acos(min(1.0, max(-1.0, s))) / math.pi

    p0 = p_collide(threshold)
    p_bg = p_collide(s_bg)
    best = None
    for b in range(max_planes, 0, -1):
        pb = p0 ** b
        if pb >= 1.0:  # threshold ≥ 1 → everything collides
            t = 1
        else:
            t = max(1, math.ceil(math.log(1.0 - target_recall) / math.log(1.0 - pb)))
        if t > max_tables:
            continue
        fp = 1.0 - (1.0 - p_bg ** b) ** t
        if best is None or (fp, t) < (best["expected_fp_rate"], best["n_tables"]):
            best = {
                "n_planes": b,
                "n_tables": t,
                "expected_recall": 1.0 - (1.0 - pb) ** t,
                "expected_fp_rate": fp,
                "background_similarity": s_bg,
            }
    if best is None:
        # even b=1 cannot hit the recall within max_tables → take the
        # closest achievable configuration rather than failing
        b = 1
        t = max_tables
        best = {
            "n_planes": b,
            "n_tables": t,
            "expected_recall": 1.0 - (1.0 - p0) ** t,
            "expected_fp_rate": 1.0 - (1.0 - p_bg) ** t,
            "background_similarity": s_bg,
        }
    return best


def random_hyperplanes(dim: int, n_planes: int, seed: int = 42) -> np.ndarray:
    rng = np.random.default_rng(seed)
    return rng.standard_normal((n_planes, dim))


def deterministic_int_hyperplanes(n_tables: int, n_planes: int, dim: int) -> list:
    """INTEGER-valued hyperplanes from a pure-integer LCG formula — the
    same literals can be embedded in ANSI SQL, so an external engine
    (the DuckDB correctness oracle) can reproduce the exact bucket
    assignment: integer dot products are IEEE-exact in doubles, making
    the whole LSH pipeline cross-engine deterministic. Returns
    [table][plane][dim] ints in [-1024, 1024]."""
    return [
        [
            [((1103515245 * (t * 1009 + p * 131 + d) + 12345) % 2049) - 1024
             for d in range(dim)]
            for p in range(n_planes)
        ]
        for t in range(n_tables)
    ]


def lsh_bucket_expr(vec_col: str, planes: np.ndarray):
    """Sign-of-projection LSH bucket id as a JVM-side expression: bit i =
    sign(v · plane_i); planes are baked into the plan as ONE nested
    literal iterated with higher-order functions (the _pq_books_lit /
    _cents_lit shape trick — plan analysis/codegen stay O(1) in the
    plane count; per-plane fold order, and hence every bit of the
    bucket id, is unchanged)."""
    v = _as_double(vec_col)
    # ONE Literal node (double_array_lit), not a CreateArray tree of
    # n_planes × dim element literals: one py4j call, one parse, and
    # the value is the identical array<array<double>>
    planes_lit = double_array_lit([[float(x) for x in p] for p in planes])
    projs = F.transform(
        planes_lit,
        lambda p: F.aggregate(F.zip_with(v, p, lambda x, y: x * y),
                              F.lit(0.0), lambda acc, x: acc + x),
    )
    powers = F.array(*[
        F.shiftleft(F.lit(1).cast("long"), i) for i in range(len(planes))
    ])
    bits = F.zip_with(projs, powers,
                      lambda proj, pw: F.when(proj > 0, pw)
                      .otherwise(F.lit(0).cast("long")))
    return F.aggregate(bits, F.lit(0).cast("long"), lambda acc, x: acc + x)


def train_ivf_centroids(df: DataFrame, nlist: int, sample_size: int = 10_000,
                        n_iters: int = 10, seed: int = 42,
                        id_col: str = "id", vec_col: str = "embedding") -> np.ndarray:
    """Train the IVF coarse quantizer: seeded spherical k-means (Lloyd on
    unit vectors, cosine = dot) over a bounded deterministic sample — the
    standard IVF recipe (FAISS trains its quantizer on a corpus sample,
    not the full set). The sample is the lowest ``sample_size`` ids
    (cheap TakeOrdered, same convention as autotune_lsh_params), the
    k-means++-style init is seeded, and empty cells are re-seeded from
    the farthest points, so the result is deterministic for a given
    (corpus, seed). Returns a unit-normalized (nlist, dim) array."""
    mat = _sample_matrix(df, sample_size, id_col, vec_col)
    return _fit_ivf_centroids(mat, nlist, n_iters=n_iters, seed=seed)


def _sample_matrix(df: DataFrame, sample_size: int, id_col: str,
                   vec_col: str) -> np.ndarray:
    """The bounded deterministic training sample (lowest ``sample_size``
    ids) as a dense matrix — shared by every trainer so composed indexes
    (IVFADC: coarse quantizer + codebooks) pay ONE TakeOrdered collect,
    not one per trained component."""
    rows = (
        df.select(F.col(id_col).alias("id"), _as_double(vec_col).alias("v"))
        .filter(F.col("v").isNotNull())
        .orderBy("id").limit(sample_size).collect()
    )
    return np.asarray([r["v"] for r in rows], dtype=float)


def _fit_ivf_centroids(mat: np.ndarray, nlist: int, n_iters: int = 10,
                       seed: int = 42) -> np.ndarray:
    """Driver-side core of train_ivf_centroids over an in-memory sample
    matrix (split out so IVFADC can reuse one collected sample)."""
    if len(mat) < nlist:
        raise ValueError(
            f"train_ivf_centroids: sample has {len(mat)} vectors < nlist={nlist}")
    norms = np.linalg.norm(mat, axis=1)
    norms[norms == 0] = 1.0
    unit = mat / norms[:, None]
    rng = np.random.default_rng(seed)
    # k-means++ seeding on the sample
    centers = [unit[rng.integers(len(unit))]]
    for _ in range(1, nlist):
        d2 = np.min(
            np.stack([1.0 - unit @ c for c in centers]), axis=0).clip(min=0)
        probs = d2 / d2.sum() if d2.sum() > 0 else np.full(len(unit), 1 / len(unit))
        centers.append(unit[rng.choice(len(unit), p=probs)])
    cent = np.stack(centers)
    for _ in range(n_iters):
        assign = np.argmax(unit @ cent.T, axis=1)
        for c in range(nlist):
            members = unit[assign == c]
            if len(members):
                m = members.sum(axis=0)
                n = np.linalg.norm(m)
                if n > 0:
                    cent[c] = m / n
            else:  # re-seed an empty cell from the farthest point
                far = np.argmin(np.max(unit @ cent.T, axis=1))
                cent[c] = unit[far]
    return cent


def deterministic_int_centroids(nlist: int, dim: int) -> list:
    """INTEGER-valued centroids from the same pure-integer LCG formula as
    deterministic_int_hyperplanes — integer dot products are IEEE-exact
    in doubles, so an external SQL engine (the DuckDB correctness
    oracle) reproduces the exact cell assignment and probe order,
    putting the approximate IVF index itself under the value-hash.
    Returns [nlist][dim] ints in [-1024, 1024]."""
    return [
        [((1103515245 * (c * 2003 + d * 257) + 54321) % 2049) - 1024
         for d in range(dim)]
        for c in range(nlist)
    ]


_IVF_EXPR_MAX_LITERALS = 16_384


def _cents_lit(cents: np.ndarray):
    """The (nlist, dim) centroids as ONE nested array literal — the
    score expressions iterate it with higher-order functions, so the
    Catalyst plan holds one literal tree instead of nlist separate
    aggregate nodes (plan analysis/codegen stay O(1) in the quantizer
    shape; only the literal payload grows — the same shape trick as
    _pq_books_lit). Built as ONE Literal node (double_array_lit) rather than a CreateArray tree of nlist × dim element
    literals, so optimizer rule passes walk one node."""
    return double_array_lit([[float(x) for x in c] for c in cents])


def _ivf_cell_scores(vec_name: str, cents: np.ndarray):
    """Per-cell dot-product structs (s, cell) as ONE transform over the
    nested centroid literal; the per-cell fold order (zip_with +
    left-fold aggregate) is unchanged, so every double is bit-identical
    to the previous list-of-expressions form the oracle was built
    against."""
    v = _as_double(vec_name)
    return F.transform(
        _cents_lit(cents),
        lambda c, i: F.struct(
            F.aggregate(F.zip_with(v, c, lambda x, y: x * y),
                        F.lit(0.0), lambda acc, x: acc + x).alias("s"),
            i.alias("cell"),
        ),
    )


def ivf_assign_col(vec_name: str, cents: np.ndarray):
    """Nearest-centroid cell id for a corpus vector. Small quantizers
    (nlist × dim ≤ ~16k literals) compile to a whole-stage-codegen'd
    argmax expression — a map-only pass, no shuffle, and cross-engine
    deterministic with integer centroids (ties → lowest cell id). Larger
    quantizers switch to an Arrow-batched pandas UDF doing one numpy
    matmul per batch — same argmax/tie-break semantics."""
    if cents.size <= _IVF_EXPR_MAX_LITERALS:
        # max of struct(s, -cell): score desc, then lowest cell id;
        # null vectors -> null cell (struct-max over null scores would
        # otherwise tie-break to cell 0), so the probe join drops them
        best = F.array_max(F.transform(
            _ivf_cell_scores(vec_name, cents),
            lambda s: F.struct(s["s"].alias("s"), (-s["cell"]).alias("negc")),
        ))
        return F.when(_as_double(vec_name).isNotNull(),
                      (-best["negc"]).cast("int"))

    from pyspark.sql.functions import pandas_udf

    cmat = np.ascontiguousarray(cents.T)

    dim = cents.shape[1]

    @pandas_udf("int")
    def assign(batch: pd.Series) -> pd.Series:
        # null/ragged rows -> null cell (the expression path's argmax is
        # null on a null vector and the probe join drops it — same
        # semantics here)
        mask = batch.map(lambda x: x is not None and len(x) == dim)
        out = pd.Series([None] * len(batch), index=batch.index, dtype="object")
        if mask.any():
            m = np.asarray([np.asarray(x, dtype=float)
                            for x in batch[mask]])
            # np.argmax takes the FIRST maximum — same lowest-cell tie-break
            out[mask] = np.argmax(m @ cmat, axis=1)
        return out.astype("Int32")

    return assign(_as_double(vec_name))


def ivf_probe_cells_col(vec_name: str, cents: np.ndarray, nprobe: int):
    """The ``nprobe`` nearest cells for a query vector, as an array
    ordered (score desc, cell asc) — sort_array over (−score, cell)
    structs, sliced, then projected to cell ids. Pure JVM expression."""
    ordered = F.sort_array(F.transform(
        _ivf_cell_scores(vec_name, cents),
        lambda s: F.struct((-s["s"]).alias("negs"), s["cell"].alias("cell")),
    ))
    return F.transform(F.slice(ordered, 1, nprobe), lambda s: s["cell"])


def ivf_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 10,
             nlist: int = 64, nprobe: int = 4, sample_size: int = 10_000,
             seed: int = 42, id_col: str = "id", vec_col: str = "embedding",
             centroids=None) -> DataFrame:
    """IVF approximate cosine top-k (inverted-file index, the FAISS
    IVFFlat shape): a k-means coarse quantizer splits the corpus into
    ``nlist`` cells; each query exactly scores only the vectors in its
    ``nprobe`` nearest cells.

    Scale shape: centroid training is one bounded-sample collect
    (O(sample_size · dim) driver work); corpus cell assignment is a
    map-only JVM pass (no shuffle — the cell id is computed inline, the
    corpus is never re-partitioned); the probe is an equi-join on cell
    with the (small) exploded query set broadcast, so each corpus row is
    scored against only the queries probing its cell —
    AQE-skew-splittable if cells are unbalanced. At 10^12 rows set
    nlist ≈ √N so cells stay executor-sized. Unlike LSH, candidate
    pairs are unique by construction (a corpus vector lives in exactly
    one cell), so there is no dedup shuffle before ranking.

    ``centroids``: optional explicit (nlist, dim) values — pass
    deterministic_int_centroids(...) for a cross-engine-reproducible
    index (the correctness-oracle path); default trains the quantizer
    with train_ivf_centroids.

    Returns (query_id, neighbor_id, cosine, rank); deterministic
    tie-break (cosine desc, neighbor_id asc)."""
    if centroids is not None:
        cents = np.asarray(centroids, dtype=float)
    else:
        cents = train_ivf_centroids(corpus, nlist, sample_size=sample_size,
                                    seed=seed, id_col=id_col, vec_col=vec_col)

    c = (
        spread_input(corpus)
        .select(F.col(id_col).alias("neighbor_id"),
                _as_double(vec_col).alias("ce"))
        .withColumn("cn", _norm("ce"))
        .withColumn("cell", ivf_assign_col("ce", cents))
    )
    q = (
        queries.select(F.col(id_col).alias("query_id"),
                       _as_double(vec_col).alias("qe"))
        .withColumn("qn", _norm("qe"))
        .withColumn("cell", F.explode(ivf_probe_cells_col("qe", cents, nprobe)))
    )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot("qe", "ce") / (F.col("qn") * F.col("cn")))
        .select("query_id", "neighbor_id", "cosine")
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def lsh_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 10,
             n_planes: int = 8, n_tables: int = 1, seed: int = 42,
             id_col: str = "id", vec_col: str = "embedding",
             hyperplanes: list | None = None) -> DataFrame:
    """Approximate cosine top-k: random-hyperplane buckets, equi-join on
    (table, bucket), exact scoring within the bucket. Recall is tuned on
    two axes: fewer planes → bigger buckets; more tables (OR-
    amplification) → a neighbor is a candidate if it collides in ANY of
    the ``n_tables`` independent hyperplane sets, P(candidate) =
    1−(1−(1−θ/π)^n_planes)^n_tables. The bucket join replaces the cross
    join — at 10^12 rows this is the only viable shape, and the
    equi-join is AQE-skew-splittable. Candidate pairs are deduped before
    ranking so multi-table hits score once.

    ``hyperplanes`` (optional): explicit [table][plane][dim] values —
    pass deterministic_int_hyperplanes(...) for a cross-engine-
    reproducible bucket assignment (the correctness oracle path)."""
    if hyperplanes is not None:
        planes_by_table = [np.asarray(h, dtype=float) for h in hyperplanes]
        n_tables = len(planes_by_table)
    else:
        planes_by_table = [random_hyperplanes(dim, n_planes, seed + 97 * t)
                           for t in range(n_tables)]

    def entries(df, out_id, vec_name, norm_name):
        base = df.select(
            F.col(id_col).alias(out_id), _as_double(vec_col).alias(vec_name)
        ).withColumn(norm_name, _norm(vec_name))
        tb = [
            F.struct(
                F.lit(t).alias("tbl"),
                lsh_bucket_expr(vec_name, planes_by_table[t]).alias("bucket"),
            )
            for t in range(n_tables)
        ]
        return base.select(
            out_id, vec_name, norm_name, F.explode(F.array(*tb)).alias("tb")
        ).select(out_id, vec_name, norm_name, F.col("tb.tbl").alias("tbl"),
                 F.col("tb.bucket").alias("bucket"))

    q = entries(queries, "query_id", "qe", "qn")
    c = entries(corpus, "neighbor_id", "ce", "cn")
    scored = (
        c.join(F.broadcast(q), on=["tbl", "bucket"])
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("cosine", _dot("qe", "ce") / (F.col("qn") * F.col("cn")))
        .select("query_id", "neighbor_id", "cosine")
        .dropDuplicates(["query_id", "neighbor_id"])
    )
    w = Window.partitionBy("query_id").orderBy(F.desc("cosine"), F.asc("neighbor_id"))
    return scored.withColumn("rank", F.row_number().over(w)).filter(F.col("rank") <= k)


def ann_recall_curve(queries: DataFrame, corpus: DataFrame, dim: int,
                     k: int = 10, nprobes: tuple = (1, 2, 4, 8),
                     nlist: int = 64, sample_size: int = 10_000,
                     seed: int = 42, id_col: str = "id",
                     vec_col: str = "embedding") -> DataFrame:
    """The IVF tuning curve: recall@k of ivf_topk against the
    brute-force ground truth at each ``nprobe`` — the measurement that
    picks the scan-cost/recall trade before an index ships. One row
    per nprobe::

        nprobe, n_truth, n_hit, recall

    Centroids are trained ONCE and shared across the sweep, so the
    curve isolates the probe width. Scale shape: ground truth is one
    brute-force pass over the (bounded) query set; each curve point is
    one ivf_topk plan plus a broadcast semi-join count — the corpus is
    scanned per point, never shuffled. Run it on a sampled query set:
    recall estimates concentrate fast (a 1k-query sample bounds the
    ±3% band at 95% confidence by the usual binomial argument)."""
    truth = (brute_force_topk(queries, corpus, k=k, id_col=id_col,
                              vec_col=vec_col)
             .select("query_id", "neighbor_id").persist())
    cents = train_ivf_centroids(corpus, nlist, sample_size=sample_size,
                                seed=seed, id_col=id_col, vec_col=vec_col)
    try:
        n_truth = truth.count()
        rows = []
        for nprobe in nprobes:
            got = ivf_topk(queries, corpus, dim=dim, k=k, nlist=nlist,
                           nprobe=nprobe, id_col=id_col, vec_col=vec_col,
                           centroids=cents)
            n_hit = (got.select("query_id", "neighbor_id")
                     .join(truth, ["query_id", "neighbor_id"], "left_semi")
                     .count())
            rows.append((int(nprobe), int(n_truth), int(n_hit),
                         round(n_hit / n_truth, 6) if n_truth else None))
    finally:
        truth.unpersist()
    return local_frame(
        queries.sparkSession, rows, "nprobe int, n_truth long, n_hit long, recall double")


def semantic_dedup(df: DataFrame, dim: int, threshold: float = 0.95,
                   nlist: int = 64, nprobe: int = 2,
                   sample_size: int = 10_000, seed: int = 42,
                   id_col: str = "id", vec_col: str = "embedding",
                   centroids=None) -> DataFrame:
    """SemDeDup-style semantic deduplication (Abbas et al. 2023): cluster
    the embedding space with the IVF quantizer, find within-cluster
    cosine near-duplicate PAIRS, collapse them into transitive clusters,
    and keep one representative per semantic group. Where the paper
    keeps the vector farthest from the centroid, this keeps the MIN id —
    deterministic, order-free, and oracle-checkable; the choice only
    affects WHICH copy survives, never how many.

    Scale shape: entirely a composition of already-bucketed stages —
    ivf_near_duplicates (cell equi-join, never all-pairs; ``nprobe``
    recovers boundary-straddling pairs; ``nprobe = nlist`` makes the
    pair stage EXACT for verification), connected_components
    (min-label propagation, O(log diameter) rounds), and one left join
    back to the id spine so singletons pass through as their own
    representative. Returns (id, component, is_representative).
    """
    from deepchecks_spark.pipeline.dedup import connected_components

    pairs = ivf_near_duplicates(
        df, dim, threshold=threshold, nlist=nlist, nprobe=nprobe,
        sample_size=sample_size, seed=seed, id_col=id_col, vec_col=vec_col,
        centroids=centroids,
    )
    comps = connected_components(pairs).withColumnRenamed("id", "__cid")
    return (
        df.select(F.col(id_col).alias("id"))
        .join(comps, F.col("id") == F.col("__cid"), "left")
        .drop("__cid")
        .withColumn("component", F.coalesce(F.col("component"), F.col("id")))
        .withColumn("is_representative", F.col("component") == F.col("id"))
    )


def embedding_integrity_stats(df: DataFrame, vec_col: str = "embedding") -> DataFrame:
    """One-pass integrity profile of an embedding column — the vector
    analogue of the engine's column-stats pass, for validating the
    output of a 10^12-row embedding job before anything joins on it:
    NULL vectors, empty vectors, NaN components, zero-norm vectors
    (which poison cosine similarity with division by zero), dimension
    consistency (min/max observed dimension + a dims_consistent flag),
    and the norm's distributive summary (avg/min/max over clean rows).

    Scale shape: every per-row feature (dimension, NaN flag, norm) is a
    codegen'd JVM higher-order-function expression, and the profile is
    ONE distributive aggregation — map-side partials, a single one-row
    Exchange, no Expand (dimension consistency is min==max, deliberately
    not a countDistinct — see stats.py on the Catalyst Expand trap), no
    Python, no second scan. Returns one row.
    """
    v = _as_double(vec_col)
    dim = F.size(v)
    has_nan = F.exists(v, lambda x: F.isnan(x))
    norm = F.sqrt(F.aggregate(F.transform(v, lambda x: x * x),
                              F.lit(0.0), lambda acc, x: acc + x))
    clean = F.col("__v").isNotNull() & ~F.col("__nan") & (F.col("__dim") > 0)
    per_row = df.select(
        v.alias("__v"), dim.alias("__dim"),
        has_nan.alias("__nan"), norm.alias("__norm"))
    return per_row.agg(
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.when(F.col("__v").isNull(), 1).otherwise(0)).alias("n_null"),
        F.sum(F.when(F.col("__v").isNotNull() & (F.col("__dim") == 0), 1)
              .otherwise(0)).alias("n_empty"),
        F.sum(F.when(F.coalesce(F.col("__nan"), F.lit(False)), 1)
              .otherwise(0)).alias("n_nan"),
        F.sum(F.when(clean & (F.col("__norm") == 0.0), 1)
              .otherwise(0)).alias("n_zero_norm"),
        F.min(F.when(F.col("__v").isNotNull(), F.col("__dim"))).alias("min_dim"),
        F.max(F.when(F.col("__v").isNotNull(), F.col("__dim"))).alias("max_dim"),
        (F.min(F.when(F.col("__v").isNotNull(), F.col("__dim")))
         == F.max(F.when(F.col("__v").isNotNull(), F.col("__dim"))))
        .alias("dims_consistent"),
        F.avg(F.when(clean, F.col("__norm"))).alias("avg_norm"),
        F.min(F.when(clean, F.col("__norm"))).alias("min_norm"),
        F.max(F.when(clean, F.col("__norm"))).alias("max_norm"),
    )


# ---------------------------------------------------------------------------
# Product quantization (PQ) — memory-compressed ANN (Jégou et al. 2011,
# the FAISS PQ/ADC shape). The corpus is stored as m small codes
# (m bytes/vector at ksub ≤ 256) instead of dim floats — a 10^12-row
# corpus's index fits in RAM where raw vectors cannot — and queries
# score EVERY row through a per-query lookup table (asymmetric distance
# computation), so unlike LSH/IVF the result has no candidate-miss
# recall loss, only quantization error.

_PQ_EXPR_MAX_LITERALS = 16_384


def deterministic_int_codebooks(m: int, ksub: int, dsub: int) -> list:
    """INTEGER-valued PQ codebooks from the same pure-integer LCG family
    as deterministic_int_centroids — squared L2 distances of
    integer-valued doubles are IEEE-exact, so an external SQL engine
    (the DuckDB correctness oracle) reproduces the exact code
    assignment, lookup table and ADC ranking, putting the compressed
    index itself under the value-hash. Returns [m][ksub][dsub] ints in
    [-1024, 1024]."""
    return [
        [
            [((1103515245 * (j * 4093 + c * 2003 + d * 257) + 12345) % 2049)
             - 1024 for d in range(dsub)]
            for c in range(ksub)
        ]
        for j in range(m)
    ]


def train_pq_codebooks(df: DataFrame, dim: int, m: int, ksub: int,
                       sample_size: int = 10_000, n_iters: int = 10,
                       seed: int = 42, id_col: str = "id",
                       vec_col: str = "embedding") -> np.ndarray:
    """Train PQ codebooks: per-subspace L2 Lloyd k-means over the same
    bounded deterministic sample convention as train_ivf_centroids
    (lowest ``sample_size`` ids; FAISS likewise trains PQ on a corpus
    sample). Seeded k-means++ init per subspace; empty codewords
    re-seed from the farthest point. Returns (m, ksub, dim//m)."""
    if dim % m:
        raise ValueError(f"train_pq_codebooks: dim={dim} not divisible by m={m}")
    mat = _sample_matrix(df, sample_size, id_col, vec_col)
    return _fit_pq_books(mat, m, ksub, n_iters=n_iters, seed=seed)


def _fit_pq_books(mat: np.ndarray, m: int, ksub: int, n_iters: int = 10,
                  seed: int = 42) -> np.ndarray:
    """Per-subspace L2 Lloyd k-means on an in-memory training matrix —
    the driver-side core of train_pq_codebooks, split out so the
    residual path (ivfadc_topk by_residual=True) can fit codebooks on
    (vector − centroid) residuals from the same bounded sample."""
    dsub = mat.shape[1] // m
    if len(mat) < ksub:
        raise ValueError(
            f"train_pq_codebooks: sample has {len(mat)} vectors < ksub={ksub}")
    books = np.empty((m, ksub, dsub))
    rng = np.random.default_rng(seed)
    for j in range(m):
        sub = mat[:, j * dsub:(j + 1) * dsub]
        centers = [sub[rng.integers(len(sub))]]
        for _ in range(1, ksub):
            d2 = np.min(
                np.stack([((sub - c) ** 2).sum(axis=1) for c in centers]),
                axis=0)
            probs = (d2 / d2.sum() if d2.sum() > 0
                     else np.full(len(sub), 1 / len(sub)))
            centers.append(sub[rng.choice(len(sub), p=probs)])
        book = np.stack(centers)
        for _ in range(n_iters):
            d = ((sub[:, None, :] - book[None, :, :]) ** 2).sum(axis=2)
            assign = np.argmin(d, axis=1)
            for c in range(ksub):
                members = sub[assign == c]
                if len(members):
                    book[c] = members.mean(axis=0)
                else:
                    far = np.argmax(np.min(d, axis=1))
                    book[c] = sub[far]
        books[j] = book
    return books


def _pq_books_lit(books: np.ndarray):
    """The (m, ksub, dsub) codebooks as ONE nested array literal — the
    encode/LUT expressions iterate it with higher-order functions, so
    the Catalyst plan holds one literal tree instead of m × ksub
    separate aggregate nodes (plan analysis/codegen stays O(1) in the
    codebook shape; only the literal payload grows). ONE Literal node
    (double_array_lit), not a CreateArray tree of m × ksub ×
    dsub element literals."""
    return double_array_lit([[[float(x) for x in w] for w in book] for book in books])


def _pq_sub_sqdist(vec_name: str, j, w, dsub: int):
    """Squared L2 from subvector j (j may be a Column — transform index)
    to codeword array-column w, as a zip_with/aggregate fold."""
    sub = F.slice(_as_double(vec_name), j * F.lit(dsub) + F.lit(1), F.lit(dsub))
    return F.aggregate(
        F.zip_with(sub, w, lambda x, y: (x - y) * (x - y)),
        F.lit(0.0), lambda acc, x: acc + x)


def pq_encode_col(vec_name: str, books: np.ndarray):
    """PQ codes (array<int>, length m) for a corpus vector — per
    subspace, the argmin-squared-L2 codeword (ties → lowest code, via
    struct-min ordering). Small codebooks (m × ksub × dsub ≤ ~16k
    literals) compile to one whole-stage-codegen'd expression — a
    map-only pass, no shuffle, cross-engine deterministic with integer
    codebooks. Larger codebooks switch to an Arrow-batched pandas UDF
    doing one numpy distance matrix per (batch, subspace) — same
    argmin/tie-break semantics (np.argmin takes the first minimum).
    Null vectors encode to null (dropped by pq_topk's join)."""
    m, ksub, dsub = books.shape
    if books.size <= _PQ_EXPR_MAX_LITERALS:
        # min by (d asc, code asc) == struct-max of (-d, -code): the max
        # takes the smallest distance, ties resolve to the lowest code
        codes = F.transform(
            _pq_books_lit(books),
            lambda book, j: (-F.array_max(F.transform(
                book,
                lambda w, c: F.struct(
                    (-_pq_sub_sqdist(vec_name, j, w, dsub)).alias("negd"),
                    (-c).alias("negc"))))["negc"]).cast("int"))
        return F.when(_as_double(vec_name).isNotNull(), codes)

    from pyspark.sql.functions import pandas_udf

    dim = m * dsub
    bks = np.ascontiguousarray(books)

    @pandas_udf("array<int>")
    def encode(batch: pd.Series) -> pd.Series:
        mask = batch.map(lambda x: x is not None and len(x) == dim)
        out = pd.Series([None] * len(batch), index=batch.index, dtype="object")
        if mask.any():
            mat = np.asarray([np.asarray(x, dtype=float) for x in batch[mask]])
            codes = np.empty((len(mat), m), dtype=np.int32)
            for j in range(m):
                sub = mat[:, j * dsub:(j + 1) * dsub]
                d = ((sub[:, None, :] - bks[j][None, :, :]) ** 2).sum(axis=2)
                codes[:, j] = np.argmin(d, axis=1)
            # index-aligned assignment: a bare list of arrays trips
            # pandas' masked length check
            out[mask] = pd.Series([c.tolist() for c in codes],
                                  index=out.index[mask])
        return out

    return encode(_as_double(vec_name))


def _adc_dist_col(m: int, codes_col: str = "codes", luts_col: str = "luts"):
    """ADC distance Σ_j LUT[j][code_j] as an explicit m-term Add chain:
    the scored join evaluates this once per (corpus row, query) pair —
    the hottest expression of the PQ path — and the unrolled form runs
    fully codegen'd, where the zip_with/aggregate fold it replaces was
    interpreted per pair. Left-to-right addition order is identical to
    the fold, so every double matches the oracle bit-for-bit."""
    terms = [
        F.element_at(F.element_at(F.col(luts_col), j + 1),
                     F.element_at(F.col(codes_col), j + 1) + F.lit(1))
        for j in range(m)
    ]
    out = F.lit(0.0)
    for t in terms:
        out = out + t
    return out


def pq_lut_col(vec_name: str, books: np.ndarray):
    """Per-query ADC lookup table (array<array<double>>, shape
    m × ksub): entry [j][c] is the squared L2 distance from the query's
    j-th subvector to codeword c. Pure JVM expression; approximate
    distance to a corpus row is then Σ_j LUT[j][code_j] — m array
    lookups per row, never a dim-length dot product."""
    m, ksub, dsub = books.shape
    return F.transform(
        _pq_books_lit(books),
        lambda book, j: F.transform(
            book, lambda w: _pq_sub_sqdist(vec_name, j, w, dsub)))


def pq_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 10,
            m: int = 8, ksub: int = 16, sample_size: int = 10_000,
            seed: int = 42, id_col: str = "id", vec_col: str = "embedding",
            codebooks=None) -> DataFrame:
    """PQ/ADC approximate L2 top-k (Jégou et al. 2011): the corpus is
    compressed to m sub-quantizer codes per vector; each query builds an
    m × ksub lookup table once and every corpus row is scored with m
    table lookups (asymmetric distance — the query side stays exact).

    Scale shape: corpus encoding is a map-only JVM pass (no shuffle, and
    at 10^12 rows the code table is what you PERSIST — m bytes/vector vs
    4·dim, a 32× footprint cut at the default m=8, dim=64); the scored
    join broadcasts the (small) query set with its lookup tables, so the
    corpus is scanned once and never re-partitioned; the top-k is the
    same two-stage (per-partition pre-top-k, then global) shape as
    brute_force_topk, so the shuffle carries ≤ n_queries·k·n_partitions
    rows. Unlike LSH/IVF there is no candidate pruning — every row is
    scored through the compressed representation — so recall loss comes
    only from quantization error; compose with the IVF cell filter for
    the FAISS IVFADC shape when scan cost matters more than recall.

    ``codebooks``: optional explicit (m, ksub, dim/m) values — pass
    deterministic_int_codebooks(...) for a cross-engine-reproducible
    index (the correctness-oracle path); default trains with
    train_pq_codebooks. Returns (query_id, neighbor_id, adist, rank);
    deterministic tie-break (adist asc, neighbor_id asc)."""
    if dim % m:
        raise ValueError(f"pq_topk: dim={dim} not divisible by m={m}")
    if codebooks is not None:
        books = np.asarray(codebooks, dtype=float)
    else:
        books = train_pq_codebooks(corpus, dim, m, ksub,
                                   sample_size=sample_size, seed=seed,
                                   id_col=id_col, vec_col=vec_col)
    c = (
        spread_input(corpus)
        .select(F.col(id_col).alias("neighbor_id"),
                pq_encode_col(vec_col, books).alias("codes"))
        .filter(F.col("codes").isNotNull())
    )
    # null query vectors would yield NULL adist (ranked FIRST under the
    # ascending window) — drop them before the LUT build
    q = (
        queries.filter(_as_double(vec_col).isNotNull())
        .select(F.col(id_col).alias("query_id"),
                pq_lut_col(vec_col, books).alias("luts"))
    )
    scored = (
        c.join(F.broadcast(q), F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adist", _adc_dist_col(m))
        .select("query_id", "neighbor_id", "adist")
    )
    # single rank window: Spark's WindowGroupLimit (rank-limit pushdown)
    # pre-trims each partition to top-k map-side BEFORE the Exchange, so
    # the one shuffle carries ≤ n_queries·k·n_partitions rows — the
    # two-stage manual pattern would just add a second Exchange
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))


def ivfadc_topk(queries: DataFrame, corpus: DataFrame, dim: int, k: int = 10,
                nlist: int = 64, nprobe: int = 4, m: int = 8, ksub: int = 16,
                sample_size: int = 10_000, seed: int = 42,
                id_col: str = "id", vec_col: str = "embedding",
                centroids=None, codebooks=None,
                by_residual: bool = False) -> DataFrame:
    """IVF + PQ composed (the FAISS IVFADC shape): the coarse quantizer
    prunes the scan to each query's ``nprobe`` nearest cells, and within
    those cells rows are scored through the PQ codes with the query's
    ADC lookup table — the index that makes 10^12-row ANN tractable on
    BOTH axes at once (scan cost via IVF, memory via PQ: cell id + m
    codes per vector, no raw floats at query time).

    ``by_residual=True`` (the FAISS default) PQ-encodes the RESIDUAL
    (vector − its cell centroid) instead of the raw vector: residual
    magnitudes are much smaller than vector magnitudes on clustered
    data, so the same codebook budget spends its resolution where the
    information is. The query side then builds one lookup table PER
    PROBED CELL from (query − that centroid) — still a broadcast-side
    expression (the query explode already carries the cell), and the
    corpus side's residual is one zip_with against the centroid literal
    looked up by its own cell id: the corpus pass stays map-only.
    Codebooks (when not supplied) are fitted on residuals of the same
    bounded sample, matching FAISS's training protocol.

    Scale shape: ONE map-only corpus pass computes (cell, codes) — no
    shuffle, and that pair is what a production index PERSISTS; the
    probe is a broadcast equi-join on cell (AQE-skew-splittable), so
    each corpus row is scored only against the queries probing its
    cell, with m array lookups per (row, query); the top-k is a single
    WindowGroupLimit-pushdown rank shuffle. With nprobe = nlist the
    candidate set is the full corpus and the result equals pq_topk
    exactly (pruning off, compression on).

    ``centroids`` / ``codebooks``: optional explicit values — pass the
    deterministic_int_* builders for a cross-engine-reproducible index
    (the correctness-oracle path); defaults train both on the same
    bounded sample convention. Returns (query_id, neighbor_id, adist,
    rank); deterministic tie-break (adist asc, neighbor_id asc)."""
    if dim % m:
        raise ValueError(f"ivfadc_topk: dim={dim} not divisible by m={m}")
    # one sample collect shared by every component that needs training
    # (coarse quantizer AND codebooks — previously two identical
    # TakeOrdered jobs); the matrix, and hence both fits, are unchanged
    mat = (_sample_matrix(corpus, sample_size, id_col, vec_col)
           if centroids is None or codebooks is None else None)
    if centroids is not None:
        cents = np.asarray(centroids, dtype=float)
    else:
        cents = _fit_ivf_centroids(mat, nlist, seed=seed)
    if codebooks is not None:
        books = np.asarray(codebooks, dtype=float)
    elif by_residual:
        # fit the codebooks on residuals of the same bounded sample —
        # spherical assignment (max dot), matching ivf_assign_col
        assign = np.argmax(mat @ cents.T, axis=1)
        books = _fit_pq_books(mat - cents[assign], m, ksub, seed=seed)
    else:
        books = _fit_pq_books(mat, m, ksub, seed=seed)
    if by_residual:
        cents_lit = double_array_lit([[float(x) for x in cc] for cc in cents])

        def _residual(vcol):
            return F.zip_with(
                _as_double(vcol),
                F.element_at(cents_lit, F.col("cell") + F.lit(1)),
                lambda x, y: x - y)

        c = (
            spread_input(corpus)
            .select(F.col(id_col).alias("neighbor_id"),
                    _as_double(vec_col).alias("__v"),
                    ivf_assign_col(vec_col, cents).alias("cell"))
            .select("neighbor_id", "cell",
                    pq_encode_col(_residual("__v"), books).alias("codes"))
            .filter(F.col("codes").isNotNull())
        )
        q = (
            queries.filter(_as_double(vec_col).isNotNull())
            .select(F.col(id_col).alias("query_id"),
                    _as_double(vec_col).alias("__v"),
                    F.explode(ivf_probe_cells_col(vec_col, cents,
                                                  nprobe)).alias("cell"))
            .select("query_id", "cell",
                    pq_lut_col(_residual("__v"), books).alias("luts"))
        )
    else:
        c = (
            spread_input(corpus)
            .select(F.col(id_col).alias("neighbor_id"),
                    ivf_assign_col(vec_col, cents).alias("cell"),
                    pq_encode_col(vec_col, books).alias("codes"))
            .filter(F.col("codes").isNotNull())
        )
        q = (
            queries.filter(_as_double(vec_col).isNotNull())
            .select(F.col(id_col).alias("query_id"),
                    pq_lut_col(vec_col, books).alias("luts"),
                    F.explode(ivf_probe_cells_col(vec_col, cents,
                                                  nprobe)).alias("cell"))
        )
    scored = (
        c.join(F.broadcast(q), on="cell")
        .filter(F.col("neighbor_id") != F.col("query_id"))
        .withColumn("adist", _adc_dist_col(m))
        .select("query_id", "neighbor_id", "adist")
    )
    w = Window.partitionBy("query_id").orderBy(
        F.asc("adist"), F.asc("neighbor_id"))
    return (scored.withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= k))
