"""Dataset: a Spark DataFrame + ML metadata.

Mirrors the reference's ``Dataset`` (deepchecks/tabular/dataset.py:39):
feature list, categorical-feature list, label column, optional index /
datetime columns. The pandas copy-in semantics are replaced by lazy
Spark lineage; schema comes from ``df.schema``.

Categorical inference reimplements the reference heuristic
(deepchecks/utils/type_inference.py:107-151) as ONE Spark aggregation
pass: a column is categorical iff

    n_unique / max(n_non_null, 1000) < max_categorical_ratio (0.01)
    AND n_unique <= cap

where cap = 150 for strings, 30 for integers (and floats that are all
whole numbers, type_inference.py:141-143), 5 for float/datetime.
"""

from __future__ import annotations

from dataclasses import dataclass, replace

from pyspark.sql import DataFrame
from pyspark.sql import functions as F
from pyspark.sql import types as T
from pyspark.sql.window import Window

from deepchecks_spark.functions.columns import quote_ident

MAX_CATEGORICAL_RATIO = 0.01
CAT_CAP_STRING = 150
CAT_CAP_INT = 30
CAT_CAP_FLOAT = 5

_NUMERIC_TYPES = (
    T.ByteType, T.ShortType, T.IntegerType, T.LongType,
    T.FloatType, T.DoubleType, T.DecimalType,
)
_INT_TYPES = (T.ByteType, T.ShortType, T.IntegerType, T.LongType)


def is_numeric_type(dt: T.DataType) -> bool:
    return isinstance(dt, _NUMERIC_TYPES)


def with_row_draw(df: DataFrame, seed: int) -> tuple:
    """(``df`` plus a [0, 1) draw per row, the draw column's name).

    Each row draws from a ``seed``-ed hash of its values and of its copy
    number among the rows identical to it, so every row (each copy of a
    repeated row too) draws independently, and the draws are the same
    whatever the frame's partition layout (a Bernoulli ``sample``
    follows the layout: a repartitioned copy keeps other rows; a
    ``limit`` takes whichever partitions answer first). Numbering the
    copies costs one shuffle of the frame. Spark's hashes reject maps,
    so a column holding one is hashed through its JSON text."""
    cols = [F.to_json(F.col(quote_ident(f.name))) if "map<" in f.dataType.simpleString()
            else F.col(quote_ident(f.name)) for f in df.schema.fields]
    taken = {c.lower() for c in df.columns}
    name = "__draw"
    while name in taken:
        name += "_"
    h = F.xxhash64(F.lit(seed), *cols)
    copy = F.row_number().over(Window.partitionBy(h).orderBy(h, *cols))
    return df.withColumn(name, F.shiftrightunsigned(F.xxhash64(h, copy), 11)
                         / float(1 << 53)), name


def sample_rows(df: DataFrame, fraction: float, seed: int) -> DataFrame:
    """The rows of ``df`` whose :func:`with_row_draw` draw falls under
    ``fraction``: about ``fraction`` of them, the same ones on every
    read."""
    drawn, name = with_row_draw(df, seed)
    return drawn.filter(F.col(name) < fraction).drop(name)


@dataclass(frozen=True)
class DatasetSpec:
    """Immutable column-role metadata (reference dataset.py:754-781)."""

    features: tuple = ()
    cat_features: tuple = ()
    label: str | None = None
    index_name: str | None = None
    datetime_name: str | None = None

    @property
    def numerical_features(self) -> tuple:
        return tuple(f for f in self.features if f not in set(self.cat_features))


class Dataset:
    """Spark DataFrame + DatasetSpec, the engine's unit of input."""

    def __init__(
        self,
        df: DataFrame,
        label: str | None = None,
        features: list | None = None,
        cat_features: list | None = None,
        index_name: str | None = None,
        datetime_name: str | None = None,
        infer_categorical: bool = True,
        name: str | None = None,
    ) -> None:
        if not df.columns:
            raise ValueError("Can't create a Dataset object with an empty dataframe")
        seen = set()
        for c in df.columns:
            if c in seen:
                raise ValueError(f"Duplicate column name: {c!r}")  # reference dataset.py:132-138
            seen.add(c)
        if label is not None and label not in df.columns:
            raise ValueError(f"label column {label!r} not in dataframe")
        self.df = df
        self.name = name
        role_cols = {label, index_name, datetime_name} - {None}
        if features is None:
            features = [c for c in df.columns if c not in role_cols]
        self._spec = DatasetSpec(
            features=tuple(features),
            cat_features=tuple(cat_features) if cat_features is not None else (),
            label=label,
            index_name=index_name,
            datetime_name=datetime_name,
        )
        if cat_features is None and infer_categorical:
            inferred = infer_categorical_features(df, list(features))
            self._spec = replace(self._spec, cat_features=tuple(inferred))

    # -- metadata accessors ------------------------------------------------
    @property
    def spec(self) -> DatasetSpec:
        return self._spec

    @property
    def features(self) -> list:
        return list(self._spec.features)

    @property
    def cat_features(self) -> list:
        return list(self._spec.cat_features)

    @property
    def numerical_features(self) -> list:
        return list(self._spec.numerical_features)

    @property
    def label_name(self) -> str | None:
        return self._spec.label

    @property
    def columns(self) -> list:
        return self.df.columns

    def schema_of(self, col: str) -> T.DataType:
        return self.df.schema[col].dataType

    @property
    def columns_info(self) -> dict:
        """Role of each column (reference dataset.py:754-781): index /
        date / label / categorical feature / numerical feature /
        other feature / other."""
        spec = self._spec
        features = set(spec.features)
        cats = set(spec.cat_features)
        out = {}
        for c in self.df.columns:
            if c == spec.index_name:
                out[c] = "index"
            elif c == spec.datetime_name:
                out[c] = "date"
            elif c == spec.label:
                out[c] = "label"
            elif c in features:
                if c in cats:
                    out[c] = "categorical feature"
                elif is_numeric_type(self.schema_of(c)):
                    out[c] = "numerical feature"
                else:
                    out[c] = "other feature"
            else:
                out[c] = "other"
        return out

    # -- row ops (reference dataset.py:443-537) -----------------------------
    def sample(self, n_samples: int | None, seed: int = 42) -> "Dataset":
        """Cap rows like reference Dataset.sample (dataset.py:443-465):
        no-op when the data is already smaller (tests stay exact). The
        sample is :func:`sample_rows`, so the cap is approximate
        (±O(√n)), matching the statistical intent of the reference's."""
        if n_samples is None or (total := self.df.count()) <= n_samples:
            return self
        return self._with_df(sample_rows(self.df, n_samples / total, seed))

    def train_test_split(self, train_fraction: float = 0.8, seed: int = 42):
        """Random split preserving metadata (reference dataset.py:496-537
        uses sklearn train_test_split; Spark randomSplit is the
        distributed analogue — only needed for model-validation flows)."""
        train_df, test_df = self.df.randomSplit([train_fraction, 1 - train_fraction], seed)
        return self._with_df(train_df), self._with_df(test_df)

    def _with_df(self, df: DataFrame) -> "Dataset":
        new = object.__new__(Dataset)
        new.df = df
        new._spec = self._spec
        new.name = self.name
        return new


def infer_categorical_features(df: DataFrame, columns: list) -> list:
    """One job implementing reference type_inference.py:107-151.

    Computes per column: non-null count, exact distinct count (cheap at
    test scale; swap in approx_count_distinct + exact-confirm at 10^12
    rows — both are single-pass partial aggregations, no raw shuffle),
    and for float columns whether all values are whole numbers. All
    three come from ``stats.column_counts``' distinct aggregation, whose
    plan, unlike N countDistincts beside the other aggregates, does not
    recompile on every fresh read of the input.
    """
    from deepchecks_spark.stats import column_counts  # stats imports this module

    if not columns:
        return []
    counts = column_counts(df, columns)
    cats = []
    for c in columns:
        dt = df.schema[c].dataType
        n_non_null, n_unique, whole = counts[c]
        if n_unique == 0:
            continue
        if isinstance(dt, T.StringType):
            cap = CAT_CAP_STRING
        elif isinstance(dt, _INT_TYPES) or isinstance(dt, T.BooleanType):
            cap = CAT_CAP_INT
        elif isinstance(dt, (T.FloatType, T.DoubleType, T.DecimalType)):
            cap = CAT_CAP_INT if whole else CAT_CAP_FLOAT
        else:  # datetime & everything else
            cap = CAT_CAP_FLOAT
        if n_unique / max(n_non_null, 1000) < MAX_CATEGORICAL_RATIO and n_unique <= cap:
            cats.append(c)
    return cats
