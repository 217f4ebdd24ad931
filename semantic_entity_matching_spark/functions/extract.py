"""Canonical entity-text extraction — byte-identical to the reference.

The reference renders each document to a matching text in two places:

* candidate "source" text: ``"\\n".join(f"{k}: {v}" for k, v in doc.items()
  if not k.endswith("_embedding"))`` over a document whose None/NaN fields
  were already dropped at ingest (reference lib/search_and_rerank.py:79-85 +
  lib/ingest.py:35-53 ``_filter_nan_values``).
* query text: ``" ".join(str(row[c]) for c in evaluation_columns)`` with
  pandas NaN stringifying to ``"nan"``, then skipped if empty/"nan"
  (reference lib/evaluate.py:93-107).

Byte-identity is enforced by sharing ONE pure-Python implementation between
the pytest oracle and the Spark pandas UDFs (both call the functions below),
so equality is true by construction.  The UDFs are Arrow-batched; the inner
work is pandas string ops plus a thin per-row join of precomputed pieces.
"""

from __future__ import annotations

from typing import Any

import pandas as pd
import pyarrow as pa
import pyarrow.compute as pc
from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql.functions import arrow_udf, pandas_udf
from pyspark.sql.types import StringType

EMBEDDING_COLUMN_SUFFIX = "_embedding"  # reference lib/vectorize_columns.py:34


def is_valid_value(value: Any) -> bool:
    """Reference ``_is_valid_value`` (lib/ingest.py:35-49): None/NaN are
    invalid; lists/tuples are always valid (even empty)."""
    if value is None:
        return False
    if isinstance(value, (list, tuple)):
        return True
    try:
        return bool(pd.notna(value))
    except (TypeError, ValueError):  # e.g. numpy arrays from parquet
        return True


def filter_nan_values(record: dict[str, Any]) -> dict[str, Any]:
    """Reference ``_filter_nan_values`` (lib/ingest.py:51-53)."""
    return {k: v for k, v in record.items() if is_valid_value(v)}


def canonical_entity_text(
    record: dict[str, Any],
    embedding_column_suffix: str = EMBEDDING_COLUMN_SUFFIX,
) -> str:
    """Render one document exactly like the reference rerank source builder
    (lib/search_and_rerank.py:79-85), including its upstream NaN drop."""
    filtered = filter_nan_values(record)
    return "\n".join(
        f"{k}: {v}"
        for k, v in filtered.items()
        if not k.endswith(embedding_column_suffix)
    )


def query_text(record: dict[str, Any], evaluation_columns: list[str]) -> str:
    """Reference query construction (lib/evaluate.py:93-95): plain str() of
    each column value joined by a single space; NaN renders as 'nan'."""
    return " ".join(str(record[c]) for c in evaluation_columns)


def is_skippable_query(text: str) -> bool:
    """Reference skip predicate (lib/evaluate.py:97-107)."""
    return pd.isna(text) or str(text).strip() == "" or text == "nan"


# ---------------------------------------------------------------------------
# Spark-side wrappers
# ---------------------------------------------------------------------------


def _render(arr: pa.Array) -> pa.Array:
    """``str(v)`` of each value of one Arrow column, null where
    :func:`is_valid_value` is false — rendered from the column's Arrow
    type, so a batch's nulls never change how its other rows render."""
    t = arr.type
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return arr.cast(pa.string())
    if pa.types.is_integer(t):
        return pc.cast(arr, pa.string())
    if pa.types.is_boolean(t):
        return pc.if_else(arr, "True", "False")
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return pa.array(
            [None if v is None else str(v) for v in arr.to_pylist()], pa.string()
        )
    # floats (NaN is invalid) and the rest: pandas renders str(v)
    s = arr.to_pandas()
    return pa.array(s.astype(str).where(s.notna(), None), pa.string())


def canonical_text_udf(columns: list[str]) -> Column:
    """Column expression producing ``canonical_entity_text`` over the named
    columns (in order — dict insertion order == column order in the
    reference's `_source`).

    Implemented as one Arrow UDF over a struct of the columns, so all
    values cross the JVM→Python boundary in a single Arrow batch and keep
    their Arrow types.

    The body is a VECTORIZED twin of :func:`canonical_entity_text` (which
    stays the per-record oracle shared with pytest) applied to the Spark
    row: per column, :func:`_render` gives ``str(v)`` of each valid value
    (ints and booleans as Python prints them, arrays as Python lists,
    None/NaN invalid, empty arrays valid), and rows accumulate ``"k: v"``
    segments joined by newline in column order.  Rendering by Arrow type
    matters for nullable ints: a pandas batch turns an int column with a
    null into floats, so ``3`` printed as ``3.0`` in some batches only.
    Byte-identity is pinned by
    tests/test_extract.py::test_canonical_text_udf_matches_python.
    """

    @arrow_udf(StringType())
    def _extract(batch: pa.Array) -> pa.Array:
        acc = pa.nulls(len(batch), pa.string())
        for i, field in enumerate(batch.type):
            if field.name.endswith(EMBEDDING_COLUMN_SUFFIX):
                continue
            seg = pc.binary_join_element_wise(
                field.name + ": ", _render(batch.field(i)), ""
            )
            acc = pc.coalesce(pc.binary_join_element_wise(acc, seg, "\n"), acc, seg)
        # a row with no valid cell renders as "\n".join([]) == ""
        return pc.fill_null(acc, "")

    return _extract(F.struct(*[F.col(c) for c in columns]))


def query_text_udf(columns: list[str]) -> Column:
    """Column expression for the reference query text (str()-joined)."""

    @pandas_udf(StringType())
    def _qtext(batch: pd.DataFrame) -> pd.Series:
        # vectorized: astype(str) matches Python str() semantics per element
        # (floats via repr, NaN -> 'nan'), then elementwise concat.  Spark
        # nulls arrive as None in object columns — coerce to NaN first so
        # they render 'nan' like the reference's pandas rows do.
        parts = [
            batch[c].where(batch[c].notna(), float("nan")).astype(str)
            for c in batch.columns
        ]
        out = parts[0]
        for p in parts[1:]:
            out = out + " " + p
        return out

    return _qtext(F.struct(*[F.col(c) for c in columns]))


def valid_query_filter(col: str | Column) -> Column:
    """Spark predicate mirroring ``is_skippable_query`` (P4 in SURVEY §2.2):
    keep rows with non-null, non-blank, non-'nan' query text."""
    c = F.col(col) if isinstance(col, str) else col
    return c.isNotNull() & (F.trim(c) != "") & (c != "nan")
