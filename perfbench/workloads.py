"""The benchmark's workloads: one pass each, its result signature, and
the DuckDB oracle checks made on the cold pass.

Both workloads read the staged corpus (``stage.py``) and run through the
engine's public entry points only:

* ``runner_corpus``: ``runner.run_job(cat_features=["lang"])``, the
  spark-submit path. Four parquet tables are written per pass.
* ``dedup_corpus``: ``minhash_near_duplicates`` -> ``deduplicate_by_pairs``,
  then ``text_quality``, ``vocabulary_stats``, ``learn_bpe`` and
  ``apply_bpe`` (the only Python-UDF crossing) over the kept documents.
"""

from __future__ import annotations

import glob
import hashlib
import os
import time

import duckdb
import pandas as pd  # module-level: the pandas_udf hints below resolve here

# the generator's duplicate layout (corpus/generator.py rows_for_indices)
DUP_FRACTION = 0.05
BPE_MERGES = 100
RUNNER_STAGES = ("global_verdicts", "partition_verdicts", "violations", "metrics")
RUNNER_TABLES = ("verdicts", "partition_verdicts", "violations", "metrics")


def make(name, spark, corpus, rows, scratch):
    cls = {"runner_corpus": RunnerCorpus, "dedup_corpus": DedupCorpus}[name]
    return cls(spark, corpus, rows, scratch)


def first_pandas_udf_job(spark) -> float:
    """Wall time of a fresh session's first trivial pandas-UDF job."""
    from pyspark.sql.functions import pandas_udf

    @pandas_udf("long")
    def identity(s: pd.Series) -> pd.Series:
        return s

    n = spark.sparkContext.defaultParallelism
    t0 = time.perf_counter()
    spark.range(0, n, 1, n).select(identity("id")).collect()
    return time.perf_counter() - t0


def _duck(corpus=None):
    con = duckdb.connect()
    con.execute("SET autoinstall_known_extensions=false")
    con.execute("SET autoload_known_extensions=false")
    if corpus:
        con.execute(f"CREATE VIEW corpus AS SELECT * FROM read_parquet('{corpus}/*.parquet')")
    return con


class RunnerCorpus:
    def __init__(self, spark, corpus, rows, scratch):
        self.spark, self.corpus, self.rows = spark, corpus, rows
        self.out_dir = os.path.join(scratch, "runner_out")
        # opening the input: file listing and parquet footers
        self.schema = spark.read.parquet(corpus).schema

    def install_spans(self, tracer):
        from deepchecks_spark import runner
        from deepchecks_spark.checks import integrity
        from deepchecks_spark.core import context, suite

        tracer.wrap(runner, "run_job", "runner.run_job")
        tracer.wrap(runner, "read_table", "io.read_table")
        tracer.wrap(runner, "write_table", "io.write_table")
        tracer.wrap(runner, "compute_column_stats_by_partition",
                    "stats.compute_column_stats_by_partition")
        tracer.wrap(context, "compute_column_stats", "stats.compute_column_stats")
        tracer.wrap(runner, "flagged_string_values", "runner.flagged_string_values")
        tracer.wrap(runner, "drift_partition_rows", "drift.histograms")
        tracer.wrap(suite.Suite, "run", "core.suite_run")
        for name in ("IsSingleValue", "PercentOfNulls", "SpecialCharacters", "MixedDataTypes"):
            tracer.wrap(getattr(integrity, name), "compute", f"checks.{name}")

    def run_pass(self, tracer):
        from deepchecks_spark import runner

        manifest = runner.run_job(self.spark, self.corpus, self.out_dir,
                                  cat_features=["lang"], resume=False)
        return {"manifest": manifest}

    def signature(self, out):
        if sorted(out["manifest"]["stages"]) != sorted(RUNNER_STAGES):
            raise AssertionError(f"runner stages {out['manifest']['stages']}")
        # read back with DuckDB: no Spark job, so the JVM's state and the
        # run's length are not changed by the gate
        con = _duck()
        for t in RUNNER_TABLES:
            files = glob.glob(os.path.join(self.out_dir, t, "*.parquet"))
            sel = f"SELECT * FROM read_parquet({files!r})" if files else "SELECT 1 WHERE false"
            con.execute(f"CREATE VIEW {t} AS {sel}")
        verdicts = sorted(con.execute("SELECT * FROM verdicts").fetchall())
        counts = {t: con.execute(f"SELECT count(*) FROM {t}").fetchone()[0]
                  for t in RUNNER_TABLES}
        n_rows = con.execute(
            "SELECT sum(value_double) FROM metrics WHERE stat = 'n_rows'").fetchone()[0]
        dup_fail = con.execute(
            "SELECT count(*) FROM partition_verdicts "
            "WHERE \"check\" = 'Data Duplicates' AND category = 'FAIL'").fetchone()[0]
        return {"verdicts": _digest(verdicts), "n_verdicts": len(verdicts),
                "table_rows": counts, "n_rows": n_rows, "dup_fail_partitions": dup_fail}

    def layer_counts(self, out, sig):
        """The manifest's own per-stage seconds and the rows written."""
        secs = out["manifest"].get("stage_seconds", {})
        got = {f"runner.{k}_s": float(v) for k, v in secs.items()}
        got["io.output_rows"] = sum(sig["table_rows"].values())
        return got

    def oracle_check(self, cold):
        sig = cold["signature"]
        con = _duck(self.corpus)
        n, dup_urls = con.execute(
            "SELECT count(*), count(*) - count(DISTINCT url) FROM corpus").fetchone()
        planted = self.rows - max(1, int(self.rows * (1.0 - DUP_FRACTION)))
        checks = {
            "input_rows": n == self.rows == sig["n_rows"],
            "duplicate_urls": dup_urls == planted > 0,
            # with duplicate urls present, some partition must fail the
            # zero-tolerance duplicates condition
            "duplicate_verdict": sig["dup_fail_partitions"] > 0,
        }
        return {"ok": all(checks.values()), "checks": checks,
                "duckdb": {"rows": n, "duplicate_urls": dup_urls, "planted": planted}}


class DedupCorpus:
    def __init__(self, spark, corpus, rows, scratch):
        self.spark, self.corpus, self.rows = spark, corpus, rows
        self.df = spark.read.parquet(corpus).select("doc_id", "text")
        self.cold_pairs = None

    def install_spans(self, tracer):
        pass  # run_pass opens its spans around each operator and its action

    def run_pass(self, tracer):
        from pyspark.sql import functions as F

        from deepchecks_spark import pipeline as P

        with tracer.span("pipeline.minhash_near_duplicates"):
            pairs = P.minhash_near_duplicates(self.df, "doc_id", "text").persist()
            n_pairs = pairs.count()
        with tracer.span("pipeline.deduplicate_by_pairs", count_jobs=True):
            kept = P.deduplicate_by_pairs(self.df, pairs, "doc_id").persist()
            n_kept = kept.count()
        with tracer.span("pipeline.text_quality"):
            tq = P.text_quality(kept, "text").agg(
                F.sum("n_tokens"), F.round(F.avg("stopword_ratio"), 6),
                F.round(F.avg("punct_ratio"), 6)).first()
        with tracer.span("pipeline.vocabulary_stats"):
            vs = P.vocabulary_stats(kept, "text").first()
        with tracer.span("pipeline.learn_bpe"):
            bpe = P.learn_bpe(kept, "text", num_merges=BPE_MERGES)
        with tracer.span("pipeline.apply_bpe"):
            n_sub = P.apply_bpe(kept, "text", bpe["merges"]) \
                .agg(F.sum(F.size("bpe_tokens"))).first()[0]
        out = {"n_pairs": n_pairs, "n_kept": n_kept, "text_quality": list(tq),
               "vocabulary": [vs[c] for c in ("total_tokens", "n_types", "hapax_types")],
               "merges": _digest(bpe["merges"]), "n_merges": len(bpe["merges"]),
               "bpe_tokens": n_sub, "pairs_df": pairs, "kept_df": kept}
        return out

    def signature(self, out):
        pairs, kept = out.pop("pairs_df"), out.pop("kept_df")
        if self.cold_pairs is None:  # the cold pass feeds the oracle check
            self.cold_pairs = {(r[0], r[1]) for r in pairs.select("id_a", "id_b").collect()}
        pairs.unpersist()
        kept.unpersist()
        return out

    def layer_counts(self, out, sig):
        """Counts made outside the timed pass: LSH waste ratio inputs."""
        from deepchecks_spark import pipeline as P

        cands = P.minhash_lsh_candidates(self.df, "doc_id", "text").count()
        return {"pipeline.lsh_candidates": cands, "pipeline.near_dup_pairs": sig["n_pairs"],
                "pipeline.lsh_precision": sig["n_pairs"] / max(cands, 1)}

    def oracle_check(self, cold):
        con = _duck(self.corpus)
        exact = con.execute(
            "SELECT a.doc_id, b.doc_id FROM corpus a JOIN corpus b "
            "ON a.text = b.text AND a.doc_id < b.doc_id").fetchall()
        n_unique = max(1, int(self.rows * (1.0 - DUP_FRACTION)))
        planted = {(min(s, i), max(s, i)) for i in range(n_unique, self.rows)
                   for s in [(i * 2654435761) % n_unique]}
        found = self.cold_pairs
        distinct_text = con.execute("SELECT count(DISTINCT text) FROM corpus").fetchone()[0]
        sig = cold["signature"]
        checks = {
            "planted_pairs_are_exact_duplicates": planted <= set(exact),
            "planted_pairs_found": planted <= found,
            "exact_pairs_found": set(exact) <= found,
            "kept_at_most_distinct_texts": sig["n_kept"] <= distinct_text,
        }
        return {"ok": all(checks.values()), "checks": checks,
                "duckdb": {"exact_pairs": len(exact), "planted": len(planted),
                           "distinct_texts": distinct_text}}


def _digest(obj) -> str:
    return hashlib.sha256(repr(obj).encode()).hexdigest()[:16]
