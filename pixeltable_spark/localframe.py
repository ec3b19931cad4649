"""Small driver-side row lists as pure-JVM literal DataFrames.

`spark.createDataFrame(list)` parallelizes any local list into
defaultParallelism pickled-row partitions; every downstream stage that
touches the frame then schedules a 32-Python-task stage for a handful of
rows (measured 0.3-0.5 s per stage), and coalescing that RDD to one
partition is WORSE — the single task pays the worker round-trips
serially (measured 5-7 s for 32 partitions). For small all-scalar rows
we build a literal ``inline(array(struct(...)))`` plan instead: a
LocalRelation-style JVM scan, one partition, zero Python tasks.

The literal plan is rendered as ONE SQL expression string (a single
py4j round trip): the per-cell ``F.lit().cast().alias()`` builder costs
3 py4j calls per cell (~0.5 ms each under load), which at a 50x8 frame
is ~1200 round trips ≈ 0.4-0.6 s of pure driver chatter per frame.
Every rendered literal is an exact mirror of what the per-cell path
ships (see _value_sql); any cell that cannot be rendered provably-
exactly falls back to the per-cell Column builder, and anything beyond
that to the stock ``createDataFrame``.
"""

from __future__ import annotations

import calendar
import datetime as _dt
import decimal
import time

from pyspark.sql import functions as F
from pyspark.sql import types as T

_ATOMIC = (T.NullType, T.BooleanType, T.ByteType, T.ShortType,
           T.IntegerType, T.LongType, T.FloatType, T.DoubleType,
           T.StringType, T.DateType, T.TimestampType,
           T.TimestampNTZType, T.BinaryType)


class _NoLiteral(Exception):
    """Cell/value not renderable as an exact SQL literal."""


def _esc(s: str) -> str:
    """SQL string literal, pure-ASCII: backslash/quote escaped, every
    char outside printable ASCII as \\uXXXX (UTF-16 units, so astral
    chars become surrogate pairs — exactly Java's in-memory form)."""
    out = []
    for ch in s:
        o = ord(ch)
        if ch == "\\":
            out.append("\\\\")
        elif ch == "'":
            out.append("\\'")
        elif 0x20 <= o <= 0x7E:
            out.append(ch)
        elif o > 0xFFFF:  # astral: UTF-16 surrogate pair
            b = ch.encode("utf-16-be")
            out.append("\\u%04X\\u%04X" % (int.from_bytes(b[:2], "big"),
                                           int.from_bytes(b[2:], "big")))
        else:
            out.append("\\u%04X" % o)
    return "'" + "".join(out) + "'"


def _value_sql(v) -> str:
    """Render a Python scalar as a SQL expression whose Catalyst literal
    is bit-identical to what ``F.lit(v)`` produces. Raises _NoLiteral
    for anything not provably exact."""
    if v is None:
        return "NULL"
    # numpy scalars: unwrap to the exact Python equivalent first
    item = getattr(v, "item", None)
    if item is not None and type(v).__module__ == "numpy":
        v = v.item()
        if v is None:
            return "NULL"
    if isinstance(v, bool):
        return "TRUE" if v else "FALSE"
    if isinstance(v, int):
        if not (-(1 << 63) <= v < (1 << 63)):
            raise _NoLiteral
        if v == -(1 << 63):  # parser rejects -(2^63): the positive
            return "(-9223372036854775807L - 1L)"  # part overflows first
        return str(v) + "L"
    if isinstance(v, float):
        if v != v:
            return "CAST('NaN' AS DOUBLE)"
        if v == float("inf"):
            return "CAST('Infinity' AS DOUBLE)"
        if v == float("-inf"):
            return "CAST('-Infinity' AS DOUBLE)"
        # repr() is the shortest uniquely-identifying decimal; Java's
        # Double.parseDouble is correctly rounded, so the round trip is
        # bit-exact (including -0.0)
        return "CAST('" + repr(v) + "' AS DOUBLE)"
    if isinstance(v, str):
        return _esc(v)
    if isinstance(v, _dt.datetime):  # before date: datetime IS a date
        # mirror py4j's DatetimeConverter (what F.lit(datetime) ships):
        # naive -> OS-local mktime, aware -> UTC timegm; micros appended
        if v.tzinfo is not None:
            secs = calendar.timegm(v.utctimetuple())
        else:
            secs = time.mktime(v.timetuple())
        micros = int(secs) * 1_000_000 + v.microsecond
        return "timestamp_micros(%dL)" % micros
    if isinstance(v, _dt.date):
        return "DATE '" + v.isoformat() + "'"
    if isinstance(v, (bytes, bytearray)):
        return "X'" + bytes(v).hex().upper() + "'"
    if isinstance(v, decimal.Decimal):
        # a BD literal parses to the BigDecimal of its digits: the same
        # value, precision and scale as F.lit's. A positive exponent
        # (negative scale) never comes out of a Spark decimal column
        if not v.is_finite() or v.as_tuple().exponent > 0:
            raise _NoLiteral
        return format(v, "f") + "BD"
    raise _NoLiteral


def _cell(row, i, f):
    if isinstance(row, dict):
        return row.get(f.name)
    try:
        return row[f.name]  # Row
    except (TypeError, KeyError, ValueError, IndexError):
        return row[i]       # positional tuple


def _sql_plan(spark, data, fields, cell=_cell):
    """One-string literal plan; raises _NoLiteral when any cell is not
    exactly renderable (caller falls back to the per-cell builder)."""
    structs = []
    has_str = False
    for r in data:
        parts = []
        for i, f in enumerate(fields):
            v = cell(r, i, f)
            if isinstance(f.dataType, T.NullType):
                if v is not None:
                    raise _NoLiteral
                val = "NULL"
            else:
                val = _value_sql(v)
                if isinstance(v, str):
                    has_str = True
                # the CAST mirrors the per-cell `.cast(f.dataType)`
                val = "CAST(" + val + " AS " + f.dataType.simpleString() + ")"
            parts.append(_esc(f.name) + ", " + val)
        structs.append("named_struct(" + ", ".join(parts) + ")")
    if has_str and spark.conf.get(
            "spark.sql.parser.escapedStringLiterals", "false") == "true":
        raise _NoLiteral  # our escapes assume the default lexer mode
    sql = "inline(array(" + ", ".join(structs) + "))"
    return (spark.range(0, 1, 1, 1)   # exactly ONE partition
            .select(F.expr(sql)))


def local_df(spark, data, schema, literal_threshold: int = 256):
    """DataFrame from a small driver-side row list WITHOUT the Python
    boundary when possible (small + all-atomic schema); falls back to
    the stock ``createDataFrame`` otherwise. Rows may be dicts, Rows,
    or positional tuples."""
    if isinstance(schema, str):
        try:
            schema = T._parse_datatype_string(schema)
        except Exception:  # noqa: BLE001 — let createDataFrame handle it
            pass
    fields = getattr(schema, "fields", None)
    try:
        n = len(data)
    except TypeError:
        n = None
    if (fields is not None and n is not None
            and 0 < n <= literal_threshold
            and n * len(fields) <= 2048
            and all(isinstance(f.dataType, _ATOMIC) for f in fields)):
        cell = _cell
        try:
            df = _sql_plan(spark, data, fields)
            df._pxt_1p = True   # literal plan: exactly one partition
            return df
        except Exception:  # noqa: BLE001 — per-cell Column builder next
            pass
        try:
            structs = [
                F.struct(*[F.lit(cell(r, i, f)).cast(f.dataType)
                           .alias(f.name)
                           for i, f in enumerate(fields)])
                for r in data]
            df = (spark.range(0, 1, 1, 1)   # exactly ONE partition
                  .select(F.inline(F.array(*structs))))
            df._pxt_1p = True
            return df
        except Exception:  # noqa: BLE001 — fall back to the stock path
            pass
    return spark.createDataFrame(data, schema)
