"""SQL-text renderers for the extraction compile (optimization r10 #3).

The §2 field compiler builds big-endian decode trees out of ``F.xxx``
calls — every call is one py4j round trip, so the FIRST compile of a conf
pays ~2.5-3k round trips (~0.4-0.7s of single-threaded driver time;
measured, see OPTIMIZATION_r10.md).  The per-(SparkContext, conf) memo
(functions/colmemo.py, r9) already makes repeat compiles free; this module
removes most of the remaining one-time cost by rendering each built-in
decoder (and the exact-target match predicates) as ONE SQL string that
``F.expr`` parses in a single round trip — the same recipe as the r9
constant-literal (functions/fastlit.py) and minhash-expression changes.

Equivalence contract: each ``*_sql`` template mirrors the corresponding
Column builder in functions/bytes_codec.py operation-for-operation; the
optimized plans are identical (constant subtrees like ``power(2.0, -149.0)``
fold to the same Literal either way) and tests/test_sqltext.py pins
result + dtype equality decoder-by-decoder on adversarial byte patterns
(wrong lengths, NULLs, inf/nan/subnormal/negative-zero bit patterns).

Only built-in simple types have SQL forms; ``decode_sql`` returns ``None``
for custom mappers (U1 callables), ``bigdecimal`` (a pandas UDF), and
anything else — callers fall back to the Column path for those fields.
"""

from __future__ import annotations

_I32 = 2147483648
_U32 = 4294967296


def qlit(s: str) -> str:
    """Single-quoted Spark SQL string literal.  Backslashes are escapes
    in Spark's parser (``spark.sql.parser.escapedStringLiterals`` off, its
    default), so they are doubled first; quotes are then doubled."""
    return "'" + s.replace("\\", "\\\\").replace("'", "''") + "'"


def _unsigned_be_sql(e: str) -> str:
    """Unsigned big-endian value of <=4 bytes — mirrors bytes_codec._unsigned_be."""
    return f"CAST(conv(hex({e}), 16, 10) AS BIGINT)"


def _guard_sql(e: str, nbytes: int, out: str) -> str:
    """NULL unless exactly ``nbytes`` long — mirrors bytes_codec._guard."""
    return f"CASE WHEN (length({e}) = {nbytes}) THEN {out} END"


def decode_int_sql(e: str) -> str:
    u = _unsigned_be_sql(e)
    signed = f"CASE WHEN ({u} >= {_I32}) THEN ({u} - {_U32}) ELSE {u} END"
    return _guard_sql(e, 4, f"CAST({signed} AS INT)")


def decode_short_sql(e: str) -> str:
    u = _unsigned_be_sql(e)
    signed = f"CASE WHEN ({u} >= 32768) THEN ({u} - 65536) ELSE {u} END"
    return _guard_sql(e, 2, f"CAST({signed} AS SMALLINT)")


def _long_bits_sql(e: str) -> str:
    hi = f"CAST(conv(substring(hex({e}), 1, 8), 16, 10) AS BIGINT)"
    lo = f"CAST(conv(substring(hex({e}), 9, 8), 16, 10) AS BIGINT)"
    return f"(shiftleft({hi}, 32) | {lo})"


def decode_long_sql(e: str) -> str:
    return _guard_sql(e, 8, _long_bits_sql(e))


def decode_boolean_sql(e: str) -> str:
    return _guard_sql(e, 1, f"(NOT ({_unsigned_be_sql(e)} = 0))")


def decode_string_sql(e: str) -> str:
    return f"CAST({e} AS STRING)"


def decode_float_sql(e: str) -> str:
    u = _unsigned_be_sql(e)
    sign = f"CASE WHEN ({u} >= {_I32}) THEN -1.0D ELSE 1.0D END"
    exp = f"(shiftrightunsigned({u}, 23) & 255)"
    frac = f"CAST(({u} & 8388607) AS DOUBLE)"
    normal = (f"(({sign} * (1.0D + ({frac} / {float(1 << 23)!r}D)))"
              f" * power(2.0D, CAST(({exp} - 127) AS DOUBLE)))")
    subnormal = f"(({sign} * {frac}) * power(2.0D, -149.0D))"
    special = (f"CASE WHEN ({frac} = 0) THEN ({sign} * CAST('Infinity' AS DOUBLE))"
               f" ELSE CAST('NaN' AS DOUBLE) END")
    out = (f"CASE WHEN ({exp} = 255) THEN {special}"
           f" WHEN ({exp} = 0) THEN {subnormal}"
           f" ELSE {normal} END")
    return _guard_sql(e, 4, f"CAST({out} AS FLOAT)")


def decode_double_sql(e: str) -> str:
    bits = _long_bits_sql(e)
    sign = f"CASE WHEN ({bits} < 0) THEN -1.0D ELSE 1.0D END"
    exp = f"CAST((shiftrightunsigned({bits}, 52) & 2047) AS INT)"
    frac = f"CAST(({bits} & 4503599627370495) AS DOUBLE)"
    normal = (f"(({sign} * (1.0D + ({frac} / {float(1 << 52)!r}D)))"
              f" * power(2.0D, CAST(({exp} - 1023) AS DOUBLE)))")
    subnormal = f"(({sign} * {frac}) * power(2.0D, -1074.0D))"
    special = (f"CASE WHEN ({frac} = 0) THEN ({sign} * CAST('Infinity' AS DOUBLE))"
               f" ELSE CAST('NaN' AS DOUBLE) END")
    return _guard_sql(e, 8,
                      f"CASE WHEN ({exp} = 2047) THEN {special}"
                      f" WHEN ({exp} = 0) THEN {subnormal}"
                      f" ELSE {normal} END")


def decode_bytes_sql(e: str) -> str:
    return e


_DECODE_SQL = {
    "int": decode_int_sql,
    "long": decode_long_sql,
    "string": decode_string_sql,
    "boolean": decode_boolean_sql,
    "float": decode_float_sql,
    "double": decode_double_sql,
    "short": decode_short_sql,
    "bytes": decode_bytes_sql,
}


def decode_sql(type_name, e: str) -> str | None:
    """SQL text applying the built-in decoder ``type_name`` to the SQL
    expression ``e``; None when the type has no SQL form (custom mappers,
    the bigdecimal pandas UDF, non-string type objects)."""
    if not isinstance(type_name, str):
        return None
    fn = _DECODE_SQL.get(type_name)
    return fn(e) if fn is not None else None
