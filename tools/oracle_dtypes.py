"""Oracle output-dtype lint: Spark result schema vs DuckDB Arrow schema.

Round-7 lesson: ``tools/check.py`` compares values after DuckDB's Python
``fetchall()``, which silently coerces HUGEINT to plain ``int`` — so an
oracle whose output column is an uncast window sum (DuckDB types
``sum(BIGINT) OVER`` as HUGEINT, surfaced over Arrow as
``decimal128(38,0)``) passes locally while any dtype-sensitive external
hash sees ``decimal128(38,0)`` vs Spark's ``int64`` and goes red on TYPE
with equal values.  That exact signature kept ``q_prefix_scan`` /
``q_token_packing`` driver-red for four rounds.

This module is the shared fix: canonicalize BOTH engines' output types
into one token space and require exact equality per output column.  The
empirical baseline (round 8, every registry oracle at sf0.001) is that the
registry satisfies STRICT equality — only five pairs occur:
``bigint==int64``, ``int==int32``, ``double==float64``,
``string==string``, ``boolean==bool`` — so anything looser would only
mask future bugs.  Used by ``tools/check.py`` on every query, via a
``LIMIT 0`` re-execution that type-checks the oracle without re-running
it.
"""

from __future__ import annotations

__all__ = ["spark_canon", "arrow_canon", "dtype_mismatches", "oracle_arrow_schema"]

# Spark simpleString -> canonical token (scalar leaves; parametric and
# nested types are handled structurally in spark_canon)
_SPARK_SCALARS = {
    "tinyint": "int8",
    "smallint": "int16",
    "int": "int32",
    "bigint": "int64",
    "float": "float32",
    "double": "float64",
    "string": "string",
    "boolean": "bool",
    "binary": "binary",
    "date": "date",
    # Spark's Arrow interchange is always microseconds; tz is presentation
    # (both engines' values compare in UTC), so the unit alone is canonical
    "timestamp": "timestamp[us]",
    "timestamp_ntz": "timestamp[us]",
}


def spark_canon(dt) -> str:
    """Canonical token for a pyspark ``DataType``."""
    from pyspark.sql import types as T

    s = dt.simpleString()
    if s in _SPARK_SCALARS:
        return _SPARK_SCALARS[s]
    if isinstance(dt, T.DecimalType):
        return f"decimal({dt.precision},{dt.scale})"
    if isinstance(dt, T.ArrayType):
        return f"list<{spark_canon(dt.elementType)}>"
    if isinstance(dt, T.MapType):
        return f"map<{spark_canon(dt.keyType)},{spark_canon(dt.valueType)}>"
    if isinstance(dt, T.StructType):
        inner = ",".join(f"{f.name}:{spark_canon(f.dataType)}" for f in dt.fields)
        return f"struct<{inner}>"
    return s


def arrow_canon(t) -> str:
    """Canonical token for a pyarrow ``DataType`` (same token space)."""
    import pyarrow as pa

    if pa.types.is_integer(t):
        return str(t)  # int8..int64 / uint8..uint64 — already canonical
    if pa.types.is_floating(t):
        return {"halffloat": "float16", "float": "float32", "double": "float64"}[
            str(t)
        ]
    if pa.types.is_decimal(t):
        return f"decimal({t.precision},{t.scale})"
    if pa.types.is_string(t) or pa.types.is_large_string(t):
        return "string"
    if pa.types.is_boolean(t):
        return "bool"
    if pa.types.is_binary(t) or pa.types.is_large_binary(t):
        return "binary"
    if pa.types.is_date32(t):
        return "date"
    if pa.types.is_timestamp(t):
        return f"timestamp[{t.unit}]"
    if pa.types.is_list(t) or pa.types.is_large_list(t):
        return f"list<{arrow_canon(t.value_type)}>"
    if pa.types.is_map(t):
        return f"map<{arrow_canon(t.key_type)},{arrow_canon(t.item_type)}>"
    if pa.types.is_struct(t):
        inner = ",".join(f"{f.name}:{arrow_canon(f.type)}" for f in t)
        return f"struct<{inner}>"
    return str(t)


def oracle_arrow_schema(con, sql: str):
    """The oracle's Arrow output schema via a ``LIMIT 0`` wrapper — DuckDB
    type-checks the full query (CTEs and all) but materializes nothing, so
    this is cheap even when the oracle itself is not."""
    return con.execute(f"SELECT * FROM ({sql}) __oracle_dtype_probe LIMIT 0").arrow().schema


def dtype_mismatches(spark_schema, arrow_schema) -> list[str]:
    """Per-output-column canonical-dtype differences (empty == compatible).
    Column-name differences are NOT reported here — the row/schema compare
    owns those; this lint owns exactly the type axis."""
    duck = {f.name: arrow_canon(f.type) for f in arrow_schema}
    out = []
    for f in spark_schema.fields:
        dc = duck.get(f.name)
        if dc is None:
            continue
        sc = spark_canon(f.dataType)
        if sc != dc:
            out.append(f"{f.name}: spark={sc} duck={dc}")
    return out
