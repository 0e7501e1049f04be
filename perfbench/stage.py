"""Stage the seeded webtext corpus once per (rows, seed).

Rows come from the engine's own generator (``rows_for_indices``, the
single row function behind ``generate_corpus_distributed``), generated in
a few spawned processes and written as one parquet file per chunk plus a
``doc_id`` column. A marker holding the expected row count is written
last; ``verified`` re-counts the files against it before any use.

Usage: python3 perfbench/stage.py <out_dir> <rows> <seed> <chunks>
"""

from __future__ import annotations

import json
import multiprocessing
import os
import sys

MARKER = "_STAGED.json"


def _write_chunk(args):
    out_dir, lo, hi, rows, seed = args
    import pyarrow as pa
    import pyarrow.parquet as pq

    from deepchecks_spark.corpus.generator import rows_for_indices

    pdf = rows_for_indices(range(lo, hi), rows, seed=seed)
    pdf.insert(0, "doc_id", range(lo, hi))
    table = pa.Table.from_pandas(pdf, preserve_index=False)
    pq.write_table(table, os.path.join(out_dir, f"part-{lo:09d}.parquet"),
                   coerce_timestamps="us")
    return hi - lo


def verified(out_dir: str, rows: int, seed: int) -> bool:
    import pyarrow.parquet as pq

    try:
        with open(os.path.join(out_dir, MARKER)) as f:
            marker = json.load(f)
    except (OSError, ValueError):
        return False
    files = [os.path.join(out_dir, n) for n in os.listdir(out_dir) if n.endswith(".parquet")]
    counted = sum(pq.ParquetFile(p).metadata.num_rows for p in files)
    return marker == {"rows": rows, "seed": seed} and counted == rows


def stage(out_dir: str, rows: int, seed: int, chunks: int) -> None:
    os.makedirs(out_dir, exist_ok=True)
    for name in os.listdir(out_dir):
        os.remove(os.path.join(out_dir, name))
    bounds = [rows * i // chunks for i in range(chunks + 1)]
    jobs = [(out_dir, lo, hi, rows, seed) for lo, hi in zip(bounds, bounds[1:])]
    ctx = multiprocessing.get_context("spawn")
    with ctx.Pool(min(chunks, os.cpu_count() or 1)) as pool:
        written = sum(pool.map(_write_chunk, jobs))
    if written != rows:
        raise RuntimeError(f"staged {written} rows, expected {rows}")
    with open(os.path.join(out_dir, MARKER), "w") as f:
        json.dump({"rows": rows, "seed": seed}, f)
    if not verified(out_dir, rows, seed):
        raise RuntimeError(f"staged corpus in {out_dir} failed verification")


if __name__ == "__main__":
    sys.path.insert(0, os.getcwd())
    out, n, s, k = sys.argv[1], int(sys.argv[2]), int(sys.argv[3]), int(sys.argv[4])
    stage(out, n, s, k)
