"""Table IO: parquet by default, Iceberg when the runtime has the
connector (reference ingest is pandas-only — dataset.py:130; our
engine's contract is the input_hint's Iceberg table of web pages).

Iceberg gives two load-bearing features at 10^12 rows: snapshot pinning
(``snapshot-id``) so a resumed run reads the exact same data, and
partition pruning. Without the connector (this container), parquet +
a content fingerprint provides the same resume semantics at test scale.

Driver-built tables (verdict rows, metric rows, small lookup frames) go
through :func:`local_frame`, never ``spark.createDataFrame`` over a
Python list. That path pickles the rows into a Python RDD and
re-serializes them through a ``map(lambda x: x)``, so every read of the
table runs a Python-worker job, one task per default-parallelism slice
even for a 10-row verdict table. :func:`local_frame` applies the same
per-row verification and internal conversion on the driver, then ships
the rows as Arrow record batches that the JVM reads directly: no
``PythonRDD`` in the lineage, and the Python boundary is crossed once,
in bulk. The frame has one partition per
``spark.sql.execution.arrow.maxRecordsPerBatch`` rows (10k by default).
"""

from __future__ import annotations

import hashlib
import os

from py4j.protocol import Py4JJavaError
from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import types as T


def iceberg_available(spark: SparkSession) -> bool:
    """True iff the Iceberg runtime jars are on the session's classpath.
    Must use Class.forName — a bare py4j package access (``spark._jvm.
    org.apache.iceberg.Table``) returns a lazy JavaPackage and never
    raises, reporting jars that aren't there. Only the class-not-found
    error means "no jars"; any other failure propagates."""
    try:
        spark._jvm.java.lang.Class.forName("org.apache.iceberg.Table")
    except Py4JJavaError as exc:
        if exc.java_exception.getClass().getName() != "java.lang.ClassNotFoundException":
            raise
        return False
    return True


def read_table(spark: SparkSession, source: str, fmt: str = "parquet",
               snapshot_id: int | None = None) -> DataFrame:
    if fmt == "iceberg":
        reader = spark.read.format("iceberg")
        if snapshot_id is not None:
            reader = reader.option("snapshot-id", str(snapshot_id))
        return reader.load(source)
    if fmt == "parquet":
        return spark.read.parquet(source)
    if fmt == "orc":
        return spark.read.orc(source)
    if fmt == "json":
        return spark.read.json(source)
    if fmt == "csv":
        return spark.read.csv(source, header=True)
    raise ValueError(f"unsupported format {fmt!r}")


def snapshot_fingerprint(source: str, fmt: str = "parquet") -> str:
    """Stable identity of the input data for checkpoint pinning.

    Iceberg: the snapshot id IS the fingerprint (caller passes it).
    Parquet dir/file: hash of (relative path, size, mtime) of every data
    file — any rewrite changes the fingerprint and invalidates resume.
    """
    h = hashlib.sha256()
    if os.path.isdir(source):
        for root, _, files in sorted(os.walk(source)):
            for f in sorted(files):
                if f.startswith(("_", ".")):
                    continue
                p = os.path.join(root, f)
                st = os.stat(p)
                h.update(f"{os.path.relpath(p, source)}:{st.st_size}:{int(st.st_mtime)}".encode())
    elif os.path.exists(source):
        st = os.stat(source)
        h.update(f"{os.path.basename(source)}:{st.st_size}:{int(st.st_mtime)}".encode())
    else:
        h.update(source.encode())
    return h.hexdigest()[:16]


def write_table(df: DataFrame, path: str, fmt: str = "parquet", mode: str = "overwrite") -> None:
    if fmt == "iceberg":
        df.writeTo(path).createOrReplace()
        return
    df.write.mode(mode).format(fmt).save(path)


def _arrow_value(dt: T.DataType):
    """Adapter from ``dt.toInternal`` output to the value pyarrow accepts
    for ``to_arrow_type(dt)``: structs become dicts, maps become item
    lists. None when the two already agree (every flat type)."""
    def inner(t):
        return _arrow_value(t) or (lambda x: x)

    if isinstance(dt, T.StructType):
        fields = [(f.name, inner(f.dataType)) for f in dt.fields]
        return lambda v: None if v is None else {
            name: conv(x) for (name, conv), x in zip(fields, v)}
    if isinstance(dt, T.MapType):
        kc, vc = inner(dt.keyType), inner(dt.valueType)
        return lambda v: None if v is None else [(kc(k), vc(x)) for k, x in v.items()]
    if isinstance(dt, T.ArrayType):
        ec = _arrow_value(dt.elementType)
        return None if ec is None else (lambda v: None if v is None else [ec(x) for x in v])
    return None


def local_frame(spark: SparkSession, rows, schema) -> DataFrame:
    """A DataFrame over driver-side ``rows`` (tuples, dicts or Rows),
    row for row what ``spark.createDataFrame`` gives for the list, but
    sent to the JVM as Arrow batches instead of a pickled Python RDD.
    ``schema`` is a DDL string or a ``StructType``.

    Each row goes through the list path's own steps — type verification
    (same ``PySparkTypeError`` on a bad row), name-dropping conversion
    (including the string coercion) and ``toInternal`` — so dates,
    timestamps (session-local naive datetimes, DST gaps included) and
    decimals reach the JVM as the same internal values.

    One gap is Spark's, not this function's: under pyarrow < 17 its
    Arrow reader rebuilds a map whose keys or values are themselves
    nested without the null mask, so a null such map reads back empty.
    Every engine table here is flat."""
    import pyarrow as pa
    from pyspark.sql.pandas.types import to_arrow_schema

    struct = schema if isinstance(schema, T.StructType) else T._parse_datatype_string(schema)
    verify = T._make_type_verifier(struct)
    convert = T._create_converter(struct)
    internal = []
    for row in rows:
        verify(row)
        internal.append(struct.toInternal(convert(row)))
    arrow_schema = to_arrow_schema(struct)
    columns = list(zip(*internal)) if internal else [()] * len(struct.fields)
    arrays = []
    for field, values, at in zip(struct.fields, columns, arrow_schema.types):
        adapt = _arrow_value(field.dataType)
        if adapt is not None:
            values = [adapt(v) for v in values]
        arrays.append(pa.array(values, type=at))
    table = pa.Table.from_arrays(arrays, schema=arrow_schema)
    return spark.createDataFrame(table, struct)
