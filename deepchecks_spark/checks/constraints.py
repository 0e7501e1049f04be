"""Declarative schema + constraint validation (the Deequ-style pillar
of the validation engine — the reference deepchecks expresses these
expectations implicitly through its Dataset dtype handling and the
individual integrity checks; here they are a first-class, composable
constraint table so a user can pin a data CONTRACT and diff every new
snapshot against it).

Public constraint constructors (all return a plain dict spec):

- ``not_null(col)``              — no NULLs in ``col``
- ``unique(col)``                — ``col`` has no duplicate values
- ``in_range(col, lo, hi)``      — values within [lo, hi] (NULLs ignored)
- ``in_set(col, values)``        — values drawn from an allow-list
- ``matches_regex(col, pat)``    — strings fully match ``pat``
- ``has_column(col)``            — column exists (metadata-only)
- ``has_dtype(col, "bigint")``   — Spark simpleString type equality
  (metadata-only)
- ``min_rows(n)``                — table has at least ``n`` rows

``validate_constraints(df, constraints)`` evaluates ALL of them and
returns one row per constraint::

    constraint, column, n_violations, violation_frac, passed

Scale shape (this is the part that must survive 10^12 rows):

- every ROW-LOCAL constraint (not_null / in_range / in_set /
  matches_regex / min_rows) contributes one ``sum(indicator)`` to a
  SINGLE fused aggregation over ONE scan — adding a constraint adds an
  expression, never a pass, and the scan prunes to exactly the
  constrained columns;
- UNIQUE constraints need a distinct count, which must NOT be mixed
  into the fused agg (multiple count_distincts trigger Catalyst's
  Expand replication — see stats.py); they run as one separate
  projection-pruned agg. With one unique column there is no Expand at
  all; with k > 1 the Expand factor is k+1 over a k-column projection,
  still one scan (the runner uses the same trade for its exact-distinct
  job);
- metadata constraints (has_column / has_dtype) read ``df.schema`` on
  the driver — zero jobs;
- an ``in_set`` allow-list above ``ISIN_LITERAL_MAX`` values would bloat
  the plan itself (the giant-isin hazard), so it is rejected with
  guidance to use a broadcast anti-join (ReferentialIntegrity's shape)
  instead.

The output is O(#constraints) rows — safe to collect, join into the
runner's verdict tables, or diff between snapshots.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepchecks_spark.functions.columns import quote_ident, sql_str
from deepchecks_spark.io import local_frame
from deepchecks_spark.stats import distinct_counts

# beyond this many literal values, an isin list stops being a predicate
# and becomes the plan (same threshold discipline as the streaming
# reference sets and sequence-packing prefix maps)
ISIN_LITERAL_MAX = 1000


def not_null(col: str) -> dict:
    return {"kind": "not_null", "column": col}


def unique(cols) -> dict:
    """Single column (str) or composite key (list of columns). Composite
    uniqueness counts rows where EVERY key part is non-NULL (the SQL
    UNIQUE convention extended per-tuple)."""
    if isinstance(cols, str):
        return {"kind": "unique", "column": cols}
    cols = list(cols)
    if not cols:
        raise ValueError("unique() needs at least one column")
    return {"kind": "unique", "column": ",".join(cols), "columns": cols}


def in_range(col: str, lo, hi) -> dict:
    return {"kind": "in_range", "column": col, "lo": lo, "hi": hi}


def in_set(col: str, values) -> dict:
    """Allow-list membership. Above :data:`ISIN_LITERAL_MAX` values the
    evaluation automatically leaves the fused literal plan and runs as a
    broadcast anti-join (one extra bounded job) — same auto-switch
    discipline as the streaming reference sets."""
    return {"kind": "in_set", "column": col, "values": _check_values(col, values)}


def not_in_set(col: str, values) -> dict:
    """Deny-list membership (e.g. blocked domains/URLs): a value IN the
    set is a violation; NULLs are ignored. Same literal/broadcast
    auto-switch as :func:`in_set`."""
    return {"kind": "not_in_set", "column": col, "values": _check_values(col, values)}


def _check_values(col: str, values) -> list:
    values = list(values)
    if any(v is None for v in values):
        # three-valued isin logic would silently swallow violations
        # (col.isin([..., None]) is NULL for non-members, counted as 0)
        # and disagree with the broadcast-join path — reject loudly
        raise ValueError(
            f"membership set for {col!r} contains None; NULL handling "
            "belongs to not_null, not to the value set"
        )
    return values


def _revalidate_specs(constraints) -> None:
    """Re-check dict-shaped specs that bypassed the constructors (e.g.
    loaded from a --constraints JSON file): a None inside a membership
    value set would silently swallow every violation through
    three-valued isin logic, so it must be rejected here too, not only
    in in_set()/not_in_set()."""
    for s in constraints:
        if isinstance(s, dict) and s.get("kind") in ("in_set", "not_in_set"):
            _check_values(s.get("column"), s.get("values") or [])


def matches_regex(col: str, pattern: str) -> dict:
    return {"kind": "matches_regex", "column": col, "pattern": pattern}


def has_column(col: str) -> dict:
    return {"kind": "has_column", "column": col}


def has_dtype(col: str, dtype: str) -> dict:
    return {"kind": "has_dtype", "column": col, "dtype": dtype}


def min_rows(n: int) -> dict:
    return {"kind": "min_rows", "column": None, "n": n}


def _label(spec: dict) -> str:
    kind = spec["kind"]
    if kind == "in_range":
        return f"in_range[{spec['lo']}, {spec['hi']}]"
    if kind == "in_set":
        return f"in_set[{len(spec['values'])} values]"
    if kind == "not_in_set":
        return f"not_in_set[{len(spec['values'])} values]"
    if kind == "matches_regex":
        return f"matches_regex[{spec['pattern']}]"
    if kind == "has_dtype":
        return f"has_dtype[{spec['dtype']}]"
    if kind == "min_rows":
        return f"min_rows[{spec['n']}]"
    return kind


def _violation_expr(spec: dict):
    """Row-level violation indicator (0/1) for row-local constraints.
    NULLs violate not_null but are IGNORED by the value constraints
    (pin nullability with an explicit not_null instead — the SQL-
    standard CHECK-constraint convention)."""
    col = F.col(spec["column"])
    kind = spec["kind"]
    if kind == "not_null":
        return F.when(col.isNull(), 1).otherwise(0)
    if kind == "in_range":
        bad = (col < F.lit(spec["lo"])) | (col > F.lit(spec["hi"]))
    elif kind == "in_set":
        bad = ~col.isin(spec["values"])
    elif kind == "not_in_set":
        bad = col.isin(spec["values"])
    elif kind == "matches_regex":
        bad = ~col.rlike(f"^(?:{spec['pattern']})$")
    else:  # pragma: no cover - guarded by validate_constraints
        raise ValueError(f"not a row-local constraint: {kind}")
    return F.when(col.isNull(), 0).otherwise(F.when(bad, 1).otherwise(0))


ROW_LOCAL = {"not_null", "in_range", "in_set", "not_in_set", "matches_regex"}


def _is_big_set(spec: dict) -> bool:
    """True when a membership constraint's value list is too large to
    inline as plan literals (the giant-isin hazard)."""
    return (spec["kind"] in ("in_set", "not_in_set")
            and len(spec["values"]) > ISIN_LITERAL_MAX)


def _big_set_violations(df: DataFrame, spec: dict) -> int:
    """Membership violations via a broadcast join instead of plan
    literals: the value set becomes a single-column DataFrame, broadcast,
    and violations are one anti-join (allow-list) or semi-join
    (deny-list) count over the pruned column. One bounded job per
    oversized set."""
    col = spec["column"]
    sess = df.sparkSession
    rows = [(v,) for v in spec["values"]]
    # the value set's own (inferred) type, as the join always compared
    # it; only the name comes from the column
    vals = local_frame(sess, rows, sess._inferSchemaFromList(rows, names=[col]))
    side = df.select(col).filter(F.col(col).isNotNull())
    how = "left_anti" if spec["kind"] == "in_set" else "left_semi"
    return side.join(F.broadcast(vals), col, how).count()


def validate_constraints(df: DataFrame, constraints: list) -> DataFrame:
    """Evaluate every constraint; see module docstring for the pass
    structure. Returns a DataFrame with one row per constraint
    (constraint, column, n_violations, violation_frac, passed) in the
    input order. ``violation_frac`` is violations / n_rows (0.0 on an
    empty table); metadata constraints report 0-or-1 violations."""
    if not constraints:
        raise ValueError("no constraints given")
    _revalidate_specs(constraints)
    fields = {f.name: f.dataType.simpleString() for f in df.schema.fields}
    # metadata constraints may reference absent columns (that IS their
    # verdict); data constraints cannot — their expressions need the column
    missing = [c for s in constraints
               if s["column"] is not None
               and s["kind"] not in ("has_column", "has_dtype")
               for c in s.get("columns", [s["column"]])
               if c not in fields]
    if missing:
        raise ValueError(f"constrained columns absent from the DataFrame: {missing}")

    row_local = [s for s in constraints
                 if s["kind"] in ROW_LOCAL and not _is_big_set(s)]
    big_sets = [s for s in constraints if _is_big_set(s)]
    uniques = [s for s in constraints if s["kind"] == "unique"]

    # one fused scan for all row-local constraints (+ the row count,
    # which min_rows and every data-constraint frac needs); a contract of
    # ONLY metadata rules launches zero jobs, as the module contract says
    needs_scan = bool(row_local or big_sets or uniques
                      or any(s["kind"] == "min_rows" for s in constraints))
    fused, n_rows = {}, 0
    if needs_scan:
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, s in enumerate(row_local):
            aggs.append(F.sum(_violation_expr(s)).alias(f"__v{i}"))
        fused = df.agg(*aggs).collect()[0]
        n_rows = fused["__n"]

    # one bounded broadcast-join job per oversized membership set
    big_counts = {id(s): _big_set_violations(df, s) for s in big_sets}

    # one separate agg for uniqueness: violations = n_col_rows - n_distinct
    # (NULLs ignored on both sides, the SQL UNIQUE convention; composite
    # keys count only all-parts-non-NULL tuples — count_distinct(a, b)
    # and the matching conjunction both skip partial-NULL rows)
    uniq_counts = {}
    if uniques:
        uaggs = []
        for i, s_ in enumerate(uniques):
            parts = s_.get("columns", [s_["column"]])
            nonnull = F.lit(1)
            for c in parts:
                nonnull = F.when(F.col(c).isNotNull(), nonnull)
            uaggs.append(F.count(nonnull).alias(f"__n_{i}"))
            uaggs.append(
                F.count_distinct(*[F.col(c) for c in parts]).alias(f"__d_{i}"))
        ucols = sorted({c for s_ in uniques
                        for c in s_.get("columns", [s_["column"]])})
        urow = df.select(*[F.col(c) for c in ucols]).agg(*uaggs).collect()[0]
        uniq_counts = {id(s_): (urow[f"__n_{i}"], urow[f"__d_{i}"])
                       for i, s_ in enumerate(uniques)}

    rows = []
    li = 0
    for s in constraints:
        kind, col = s["kind"], s["column"]
        if kind in ROW_LOCAL and not _is_big_set(s):
            nv = int(fused[f"__v{li}"] or 0)
            li += 1
        elif kind in ROW_LOCAL:
            nv = big_counts[id(s)]
        elif kind == "unique":
            n, d = uniq_counts[id(s)]
            nv = int(n - d)
        elif kind == "has_column":
            nv = 0 if col in fields else 1
        elif kind == "has_dtype":
            nv = 0 if fields.get(col) == s["dtype"] else 1
        elif kind == "min_rows":
            nv = 0 if n_rows >= s["n"] else 1
        else:
            raise ValueError(f"unknown constraint kind: {kind}")
        frac = (nv / n_rows) if n_rows and kind in ROW_LOCAL | {"unique"} else float(nv)
        rows.append((_label(s), col, nv, round(float(frac), 6), nv == 0))

    return local_frame(
        df.sparkSession, rows,
        "constraint string, column string, n_violations long, "
        "violation_frac double, passed boolean",
    )


def validate_constraints_by_partition(df: DataFrame, constraints: list) -> DataFrame:
    """Per-partition constraint verdicts — the north-rule output shape
    (per-partition pass/fail + violation counts), for locating WHICH
    shard of a 10^12-row table breaks the contract. Returns::

        partition_id, constraint, column, n_violations, violation_frac, passed

    Only ROW-LOCAL constraints are accepted (not_null / in_range /
    in_set / matches_regex): uniqueness and the metadata/min_rows rules
    are table-global properties — a key unique within every partition
    can still collide across partitions — so asking for them per
    partition would silently change their meaning; use
    :func:`validate_constraints` (global) or the runner's
    ``duplicates_partition_values`` (per-partition key identity) instead.

    Scale shape: ONE fused ``groupBy(spark_partition_id())`` over one
    scan — map-side the group key is constant per task, so the partial
    agg collapses each partition to a single wide row and the Exchange
    moves O(n_partitions) rows; the long-form melt is a ``stack`` over
    that grouped result (plan size O(#constraints), no second scan, no
    driver collect)."""
    _revalidate_specs(constraints)
    bad = [s["kind"] for s in constraints if s["kind"] not in ROW_LOCAL]
    if bad:
        raise ValueError(
            f"per-partition validation is defined only for row-local "
            f"constraints; got {sorted(set(bad))} — run those through "
            "validate_constraints (table-global)"
        )
    big = [s["column"] for s in constraints if _is_big_set(s)]
    if big:
        raise ValueError(
            f"membership sets on {big} exceed ISIN_LITERAL_MAX; the "
            "broadcast-join path cannot preserve input partition identity "
            "(spark_partition_id changes across a join) — evaluate those "
            "globally via validate_constraints"
        )
    if not constraints:
        raise ValueError("no constraints given")
    fields = {f.name for f in df.schema.fields}
    missing = [s["column"] for s in constraints if s["column"] not in fields]
    if missing:
        raise ValueError(f"constrained columns absent from the DataFrame: {missing}")
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, s in enumerate(constraints):
        aggs.append(F.sum(_violation_expr(s)).alias(f"__v{i}"))
    g = df.groupBy(F.spark_partition_id().alias("partition_id")).agg(*aggs)
    parts = []
    for i, s in enumerate(constraints):
        parts.append(f"{sql_str(_label(s))}, {sql_str(s['column'])}, __v{i}")
    melted = g.selectExpr(
        "partition_id", "__n",
        f"stack({len(constraints)}, {', '.join(parts)}) "
        "as (constraint, column, n_violations)",
    )
    return melted.select(
        "partition_id", "constraint", "column",
        F.col("n_violations").cast("long").alias("n_violations"),
        F.round(F.col("n_violations") /
                F.greatest(F.col("__n"), F.lit(1)), 6).alias("violation_frac"),
        (F.col("n_violations") == 0).alias("passed"),
    )


def violation_examples(df: DataFrame, constraints: list, id_col: str,
                       k: int = 5) -> DataFrame:
    """Deterministic offending-row examples per constraint (the
    reference deepchecks convention of showing the violating VALUES, not
    just counts): for each row-local constraint, the ``k``
    smallest-``id_col`` violating rows::

        constraint, column, id, value

    ``value`` is the offending value cast to string (NULL for not_null
    violations). Deterministic when ``id_col`` is unique (ordered by
    id), so reruns and the DuckDB oracle agree row-for-row.

    Scale shape: ONE pass — the melted violation indicators filter down
    to violating (constraint, id, value) rows, then a TWO-STAGE top-k
    (row_number per (constraint, partition) first, global second) so
    the shuffle carries at most k x n_partitions rows per constraint
    even when a constraint is violated by EVERY row; the global rank
    window partitions by constraint (never unpartitioned)."""
    _revalidate_specs(constraints)
    bad = [s["kind"] for s in constraints if s["kind"] not in ROW_LOCAL]
    if bad:
        raise ValueError(
            f"violation examples are defined only for row-local "
            f"constraints; got {sorted(set(bad))}"
        )
    big = [s["column"] for s in constraints if _is_big_set(s)]
    if big:
        raise ValueError(
            f"membership sets on {big} exceed ISIN_LITERAL_MAX and cannot "
            "inline as plan literals; sample examples via a broadcast "
            "anti/semi join on the value table instead"
        )
    if not constraints:
        raise ValueError("no constraints given")
    from pyspark.sql import Window

    branches = []
    for s in constraints:
        branches.append(F.when(
            _violation_expr(s) == 1,
            F.struct(
                F.lit(_label(s)).alias("constraint"),
                F.lit(s["column"]).alias("column"),
                F.col(s["column"]).cast("string").alias("value"),
            ),
        ))
    melted = (
        df.select(F.col(id_col).alias("id"), F.array(*branches).alias("__v"))
        .select("id", F.explode("__v").alias("__s"))
    )
    # non-violations are NULL array elements (when() without otherwise);
    # explode keeps them as rows — drop them here
    melted = melted.filter(F.col("__s").isNotNull()).select(
        F.col("__s.constraint").alias("constraint"),
        F.col("__s.column").alias("column"),
        "id",
        F.col("__s.value").alias("value"),
    )
    # partition by (constraint, column): labels alone are not unique —
    # two in_set rules on different columns share a label
    w_local = Window.partitionBy("constraint", "column", F.spark_partition_id()) \
        .orderBy(F.asc("id"))
    local = melted.withColumn("__r", F.row_number().over(w_local)) \
        .filter(F.col("__r") <= k).drop("__r")
    w_global = Window.partitionBy("constraint", "column").orderBy(F.asc("id"))
    return (
        local.withColumn("__r", F.row_number().over(w_global))
        .filter(F.col("__r") <= k).drop("__r")
    )


def fused_constraint_agg(df: DataFrame, constraints: list):
    """The fused row-local aggregation as an unexecuted DataFrame —
    exposed for the physical-plan pin (single scan, no Expand). Applies
    the same big-set exclusion as validate_constraints: oversized
    membership sets never inline into this plan."""
    row_local = [s for s in constraints
                 if s["kind"] in ROW_LOCAL and not _is_big_set(s)]
    aggs = [F.count(F.lit(1)).alias("__n")]
    for i, s in enumerate(row_local):
        aggs.append(F.sum(_violation_expr(s)).alias(f"__v{i}"))
    return df.agg(*aggs)


# ---------------------------------------------------------------------------
# constraint suggestion (profile -> contract)
# ---------------------------------------------------------------------------

# full-match pattern for "this string column is really an integer" —
# also the executable follow-up constraint for the integral_string rule
INTEGRAL_STRING_PATTERN = r"[+-]?\d+"

_NUMERIC_TYPES = ("tinyint", "smallint", "int", "bigint", "float", "double")


def suggest_constraints(df: DataFrame, max_set_size: int = 20,
                        unique_triage: float = 0.9,
                        set_triage_factor: float = 2.0) -> DataFrame:
    """Profile ``df`` and emit a suggested constraint contract (the
    Deequ ConstraintSuggestion workflow, VLDB'18 §4 — public semantics,
    no code derived; the reference deepchecks has no suggestion surface,
    its Dataset infers dtypes only). One row per suggestion::

        column, kind, lo, hi, values

    Rules (every rule is EXACT on the data — the approximate sketches
    below only choose which columns get the exact confirmation pass):

    * ``not_null``        — column has zero NULLs (any type);
    * ``unique``          — exact distinct count == row count and zero
      NULLs (atomic types);
    * ``in_range``        — numeric column: observed [min, max];
    * ``in_set``          — string column with ≤ ``max_set_size`` exact
      distinct non-NULL values; ``values`` is the sorted JSON array;
    * ``integral_string`` — string column whose every non-NULL value
      fully matches ``[+-]?\\d+`` (Deequ's RetainTypeRule shape); the
      executable form is ``matches_regex(col, INTEGRAL_STRING_PATTERN)``.

    Feed the output to :func:`suggestions_to_specs` →
    :func:`validate_constraints` to pin the contract and diff every new
    snapshot against it.

    Scale shape: pass 1 is ONE fused aggregation over ONE scan — row
    count, per-column null counts, numeric min/max, integral-string
    match counts, and one ``approx_count_distinct`` (HLL, rsd 0.05) per
    atomic column (HLL is an ObjectHashAggregate — still a single scan,
    no Expand). The HLL estimates are used ONLY as triage: columns with
    estimated distinctness ≥ ``unique_triage`` (and zero NULLs) get an
    exact confirmation in pass 2 (:func:`~deepchecks_spark.stats.distinct_counts`:
    one distinct group over a (column, key) melt, whose generated code
    is the same on every fresh read; candidates are typically the
    handful of id-like columns). String columns with estimated
    cardinality ≤ ``max_set_size × set_triage_factor`` get pass 3: one
    melted distinct over the pruned string projection, counted per
    column, and ONLY columns whose exact count ≤ ``max_set_size``
    collect their value lists — every driver collect is
    O(columns × max_set_size), never data-sized. A truly-unique /
    truly-small-set column is never lost to triage: HLL at rsd 0.05
    stays far inside the 1/``unique_triage`` and ``set_triage_factor``
    slack, and the estimate is deterministic for a given dataset, so
    the DuckDB oracle (which applies the exact rules directly) agrees.
    """
    import json

    if max_set_size < 1:
        raise ValueError("max_set_size must be >= 1")
    atomic = {}
    for f in df.schema.fields:
        t = f.dataType.simpleString()
        if t in _NUMERIC_TYPES or t in ("string", "boolean", "date", "timestamp") \
                or t.startswith("decimal"):
            atomic[f.name] = t

    aggs = [F.count(F.lit(1)).alias("__n")]
    for c in df.columns:
        aggs.append(F.sum(F.when(F.col(quote_ident(c)).isNull(), 1).otherwise(0))
                    .alias(f"__nulls__{c}"))
    for c, t in atomic.items():
        col = F.col(quote_ident(c))
        aggs.append(F.approx_count_distinct(col, rsd=0.05).alias(f"__apx__{c}"))
        if t in _NUMERIC_TYPES or t.startswith("decimal"):
            aggs.append(F.min(col.cast("double")).alias(f"__min__{c}"))
            aggs.append(F.max(col.cast("double")).alias(f"__max__{c}"))
        elif t == "string":
            aggs.append(F.sum(
                F.when(col.rlike(f"^(?:{INTEGRAL_STRING_PATTERN})$"), 1)
                .otherwise(0)).alias(f"__int__{c}"))
    prof = df.agg(*aggs).collect()[0]
    n = prof["__n"]

    nulls = {c: int(prof[f"__nulls__{c}"] or 0) for c in df.columns}
    uniq_cand = [c for c in atomic
                 if n > 0 and nulls[c] == 0
                 and prof[f"__apx__{c}"] / n >= unique_triage]
    exact_distinct = distinct_counts(df, uniq_cand) if uniq_cand else {}

    set_cand = [c for c, t in atomic.items()
                if t == "string" and n > 0 and nulls[c] < n
                and prof[f"__apx__{c}"] <= max_set_size * set_triage_factor]
    set_values = {}
    if set_cand:
        melted = df.select(F.explode(F.array(*[
            F.struct(F.lit(c).alias("c"), F.col(quote_ident(c)).alias("v"))
            for c in set_cand])).alias("s")) \
            .select("s.c", "s.v").filter(F.col("v").isNotNull()).distinct()
        # persist: the counts pass and the value collect below otherwise
        # re-run the explode + distinct over the full corpus twice; the
        # persisted set is HLL-triage-bounded (columns x ~max_set_size x
        # set_triage_factor rows)
        melted = melted.persist()
        try:
            counts = {r["c"]: r["cnt"] for r in
                      melted.groupBy("c").agg(F.count(F.lit(1)).alias("cnt")).collect()}
            keep = [c for c in set_cand if 1 <= counts.get(c, 0) <= max_set_size]
            if keep:
                for r in melted.filter(F.col("c").isin(keep)).collect():
                    set_values.setdefault(r["c"], []).append(r["v"])
        finally:
            melted.unpersist()

    rows = []
    for c in df.columns:
        t = atomic.get(c)
        if n > 0 and nulls[c] == 0:
            rows.append((c, "not_null", None, None, None))
        if c in exact_distinct and exact_distinct[c] == n:
            rows.append((c, "unique", None, None, None))
        if t and (t in _NUMERIC_TYPES or t.startswith("decimal")) and nulls[c] < n:
            rows.append((c, "in_range", float(prof[f"__min__{c}"]),
                         float(prof[f"__max__{c}"]), None))
        if c in set_values:
            rows.append((c, "in_set", None, None,
                         json.dumps(sorted(set_values[c]), separators=(",", ":"))))
        if t == "string" and (n - nulls[c]) > 0 \
                and int(prof[f"__int__{c}"] or 0) == n - nulls[c]:
            rows.append((c, "integral_string", None, None, None))
    rows.sort(key=lambda r: (r[0], r[1]))
    return local_frame(df.sparkSession, rows,
                       "column string, kind string, lo double, hi double, values string")


def suggestions_to_specs(suggestions) -> list:
    """Turn :func:`suggest_constraints` output (DataFrame or collected
    rows) into executable constraint specs for
    :func:`validate_constraints`. The collect is O(columns × rules).
    ``integral_string`` compiles to its executable form,
    ``matches_regex(col, INTEGRAL_STRING_PATTERN)``."""
    import json

    if isinstance(suggestions, DataFrame):
        suggestions = suggestions.collect()
    specs = []
    for r in suggestions:
        kind = r["kind"]
        if kind == "not_null":
            specs.append(not_null(r["column"]))
        elif kind == "unique":
            specs.append(unique(r["column"]))
        elif kind == "in_range":
            specs.append(in_range(r["column"], r["lo"], r["hi"]))
        elif kind == "in_set":
            specs.append(in_set(r["column"], json.loads(r["values"])))
        elif kind == "integral_string":
            specs.append(matches_regex(r["column"], INTEGRAL_STRING_PATTERN))
        else:
            raise ValueError(f"unknown suggestion kind: {kind}")
    return specs


def _row_digest(cols: list) -> F.Column:
    # canonical row serialization: each column cast to string with a
    # NULL sentinel, joined on an unlikely separator, md5'd — 32 chars
    # per row regardless of payload width. concat_ws alone would make
    # ('a', NULL) collide with ('a',), hence the explicit coalesce.
    parts = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
             for c in cols]
    return F.md5(F.concat_ws("\x1f", *parts))


def snapshot_row_diff(old: DataFrame, new: DataFrame, key_cols,
                      compare_cols: list | None = None,
                      detail: bool = False) -> DataFrame:
    """Row-level diff between two snapshots of a table keyed by
    ``key_cols`` (the data half of crawl-over-crawl change accounting;
    ``schema_diff`` is the metadata half). Reference parity: deepchecks
    has no snapshot differ — this is the recrawl bookkeeping a web-scale
    validation run needs before trusting drift scores (a 40% 'changed'
    rate explains a drift alarm; a 40% 'removed' rate is the alarm).

    Summary mode (default) returns one row per status::

        status ∈ {added, removed, changed, unchanged}, n_rows

    ``detail=True`` returns (key_cols..., status) for every key instead.

    Scale shape: each side is reduced to ``(key, md5(canonical row))``
    BEFORE the full-outer join, so the shuffle carries a 32-character
    digest per row — never the document payload — and the join is a
    plain sort-merge on the key (AQE skew handling applies). The
    summary is one map-side-combinable groupBy over four statuses.
    Keys are assumed unique per snapshot (a crawl's url column); a
    duplicated key compares row-to-row within the join multiplicity.
    'changed' means the digests differ — md5 collisions are the usual
    2^-64 caveat, and strings containing the separator/sentinel bytes
    (\\x1f / \\x00) can in principle alias."""
    if isinstance(key_cols, str):
        key_cols = [key_cols]
    if compare_cols is None:
        compare_cols = [c for c in new.columns
                        if c not in key_cols and c in old.columns]
    o = old.select(*key_cols, _row_digest(compare_cols).alias("_digest_old"))
    n = new.select(*key_cols, _row_digest(compare_cols).alias("_digest_new"))
    j = o.join(n, on=key_cols, how="full_outer")
    status = (
        F.when(F.col("_digest_old").isNull(), F.lit("added"))
        .when(F.col("_digest_new").isNull(), F.lit("removed"))
        .when(F.col("_digest_old") == F.col("_digest_new"),
              F.lit("unchanged"))
        .otherwise(F.lit("changed"))
    ).alias("status")
    if detail:
        return j.select(*key_cols, status)
    return (j.select(status).groupBy("status")
            .agg(F.count(F.lit(1)).alias("n_rows"))
            .orderBy("status"))


def schema_diff(old: DataFrame, new: DataFrame) -> DataFrame:
    """Schema evolution between two snapshots of a table (the metadata
    half of snapshot-over-snapshot drift — the stats half is
    pipeline/webclean.py's corpus snapshot drift). One row per column
    name seen in either schema::

        column, status, dtype_old, dtype_new

    ``status`` ∈ {added, removed, type_changed, unchanged}; dtypes are
    Spark ``simpleString`` names. Driver-side schema comparison only —
    ZERO Spark jobs, so it is safe to run against a 10^12-row snapshot
    pair before deciding whether the expensive stats passes even apply
    (a type_changed / removed column usually means the contract, not
    the data, must move first). Deterministic: sorted by column name."""
    a = {f.name: f.dataType.simpleString() for f in old.schema.fields}
    b = {f.name: f.dataType.simpleString() for f in new.schema.fields}
    rows = []
    for c in sorted(set(a) | set(b)):
        if c not in b:
            status = "removed"
        elif c not in a:
            status = "added"
        elif a[c] != b[c]:
            status = "type_changed"
        else:
            status = "unchanged"
        rows.append((c, status, a.get(c), b.get(c)))
    return local_frame(old.sparkSession, rows,
                       "column string, status string, dtype_old string, dtype_new string")
