"""Oracle -> Spark type ladder and string-literal decoders (C1-C6, P3).

Re-expresses the reference's ``ColumnSchemaBuilder.kt:200-257`` decision
ladder as a pure function (unit-tested first, mirroring
``SchemaServiceTest.kt:89-196``), plus the typed-value decoders used to turn
parsed redo-SQL string literals into Spark-typed columns
(``LogminerRow.kt:99-118`` + ``ColumnSchemaBuilder.kt:38-194``).

Documented deviations from the reference:
- unqualified ``NUMBER`` maps to Decimal(79,40) in the reference
  (``ColumnSchemaBuilder.kt:15-19``); Spark caps precision at 38, so we use
  ``DecimalType(38, 20)``.
- ``NUMBER(p>38, s)`` is likewise capped at precision 38.
"""

from __future__ import annotations

import re

from pyspark.sql import Column
from pyspark.sql import functions as F
from pyspark.sql import types as T

SPARK_MAX_PRECISION = 38
UNQUALIFIED_NUMBER = T.DecimalType(38, 20)  # reference: Decimal(79,40)

_TS_RE = re.compile(r"^TIMESTAMP(?:\((\d+)\))?(\s+WITH(\s+LOCAL)?\s+TIME\s+ZONE)?$")
_NUMBER_RE = re.compile(r"^NUMBER(?:\((\d+|\*)\s*(?:,\s*(-?\d+))?\))?$")
_STRING_TYPES = {"CHAR", "VARCHAR2", "NVARCHAR2", "NCHAR", "CLOB", "NCLOB", "LONG", "VARCHAR"}


def oracle_to_spark_type(oracle_type: str) -> T.DataType:
    """The decision ladder (``ColumnSchemaBuilder.kt:200-257``)."""
    ot = re.sub(r"\s+", " ", oracle_type.strip().upper())
    base = ot.split("(")[0].strip()

    if base in _STRING_TYPES:
        return T.StringType()
    if ot == "BINARY_FLOAT":
        return T.FloatType()
    if ot in ("BINARY_DOUBLE", "FLOAT"):
        return T.DoubleType()
    if ot == "DATE":
        return T.DateType()
    if _TS_RE.match(ot):
        return T.TimestampType()
    if base in ("RAW", "BLOB", "LONG RAW"):
        return T.BinaryType()

    m = _NUMBER_RE.match(ot)
    if m:
        p_raw, s_raw = m.group(1), m.group(2)
        if p_raw is None or p_raw == "*":
            return UNQUALIFIED_NUMBER
        p = int(p_raw)
        s = int(s_raw) if s_raw is not None else 0
        if s <= 0:
            # integral ladder (ColumnSchemaBuilder.kt:38-64, :216-230)
            eff = p - s  # negative scale widens the integral range
            if eff <= 2:
                return T.ByteType()
            if eff <= 4:
                return T.ShortType()
            if eff <= 9:
                return T.IntegerType()
            if eff <= 18:
                return T.LongType()
            return T.DecimalType(min(eff, SPARK_MAX_PRECISION), 0)
        if p < 19:
            # fractional, small precision -> float64 (:73-78, :232)
            return T.DoubleType()
        p_c = min(p, SPARK_MAX_PRECISION)
        return T.DecimalType(p_c, min(s, p_c))
    raise ValueError(f"unsupported Oracle type: {oracle_type!r}")


# -------------------------------------------------------------- decoders

# Oracle timestamp literal flavors (ColumnSchemaBuilder.kt:129-194):
#   TIMESTAMP:                 'yyyy-MM-dd HH:mm:ss[.f...]'   (db-zone)
#   TIMESTAMP WITH TIME ZONE:  '... VV [zzz]'  e.g. '... US/Pacific PDT'
#   TIMESTAMP WITH LOCAL TZ:   '... xxx'       e.g. '... -07:00'


def decode_literal(col: Column, data_type: T.DataType) -> Column:
    """Decode a parsed redo-SQL string literal into ``data_type``.

    Input is the literal with quotes already stripped and ``'NULL'`` already
    mapped to SQL null by the parser (C6, ``LogminerRow.kt:117-118``).
    Binary columns arrive hex-encoded (``HEXTORAW('...')``).
    """
    if isinstance(data_type, T.BinaryType):
        return F.unhex(col)
    if isinstance(data_type, T.DateType):
        return F.to_date(F.substring(col, 1, 10), "yyyy-MM-dd")
    if isinstance(data_type, T.TimestampType):
        # ALL three literal flavors (zone-name, offset, db-zone-naive) are
        # normalized to UTC by the parse UDF (redo_parse._normalize_ts,
        # which receives db_timezone — SURVEY §7 hard spot 4). The session
        # zone is UTC, so a plain to_timestamp is the whole decode; applying
        # to_utc_timestamp here would double-shift already-UTC values —
        # which is why this decode layer takes NO timezone parameter (the
        # r2 API carried a silently-ignored db_timezone here: an API trap).
        return F.to_timestamp(col)
    if isinstance(data_type, T.StringType):
        return col
    return col.cast(data_type)


def decode_image_map(img: Column, fields: list[T.StructField]) -> list[Column]:
    """Project a parsed ``map<string,string>`` image into typed columns.

    Image keys are the Oracle (uppercase) column names; output columns use
    the Spark-side (given) field names."""
    return [
        decode_literal(
            F.try_element_at(img, F.lit(f.name.upper())), f.dataType
        ).alias(f.name)
        for f in fields
    ]
