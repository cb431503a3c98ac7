"""Unicode normalization for text pipelines (NFC/NFKC and friends).

The canonicalization pass every multilingual corpus needs before hashing,
dedup, or tokenization: the same visible text arrives both precomposed
(``é`` = U+00E9) and decomposed (``e`` + U+0301), and every downstream
exact-match operator — content-hash dedup, line dedup, contamination
checks — silently misses pairs unless the corpus is normalized first.
(Standard Unicode algorithm, UAX #15 — public spec; no reference
analogue.)

Spark has no built-in normalizer, so this is an ``arrow_udf`` over
``unicodedata.normalize`` — the Arrow-batched slow-path escape hatch, used
because the semantics genuinely aren't expressible in Catalyst.
Cross-engine exactness holds because CPython's unicodedata and
DuckDB's ``nfc_normalize`` (utf8proc) implement the same stable canonical
composition; the registry oracle pins it on constructed
combining-sequence inputs.

Scale: stateless row-local map — no shuffle, fully pipelined with the
scan, Arrow batches amortize the Python hop (same class as the codec
UDFs).
"""

from __future__ import annotations

import pyarrow as pa
from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf

__all__ = ["unicode_normalize", "with_normalized"]

_FORMS = ("NFC", "NFD", "NFKC", "NFKD")


def unicode_normalize(col: Column | str, form: str = "NFC") -> Column:
    """Column expression: ``col`` normalized to ``form`` (NULL-safe)."""
    if form not in _FORMS:
        raise ValueError(f"unicode_normalize: form must be one of {_FORMS}")

    @arrow_udf("string")
    def _norm(s: pa.Array) -> pa.Array:
        import unicodedata

        norm = [None if x is None else unicodedata.normalize(form, x) for x in s.to_pylist()]
        return pa.array(norm, pa.string())

    return _norm(F.col(col) if isinstance(col, str) else col)


def with_normalized(
    df: DataFrame,
    col: str,
    out_col: str | None = None,
    form: str = "NFC",
) -> DataFrame:
    """``df`` plus the normalized column (default: replace in place) and a
    ``<out_col>_changed`` boolean."""
    out_col = out_col or col
    normed = unicode_normalize(col, form)
    return df.withColumn("__un_tmp", normed).select(
        *[c for c in df.columns if c != out_col],
        F.col("__un_tmp").alias(out_col),
        (~F.col("__un_tmp").eqNullSafe(F.col(col))).alias(f"{out_col}_changed"),
    )
