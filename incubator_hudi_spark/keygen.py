"""Key generators — derive (record key, partition path) as pure SQL
expressions; no per-row Python ever runs.

Reference parity (hudi-client/hudi-spark-client/.../keygen/):
  - SimpleKeyGenerator.java:31      — one record-key field
  - ComplexKeyGenerator.java:31     — multi-field ``k1:v1,k2:v2``
  - TimestampBasedKeyGenerator.java:36 — partition path from a timestamp format
  - NonpartitionedKeyGenerator.java:34 — constant empty partition
  - GlobalDeleteKeyGenerator.java:34   — key only (deletes across partitions)
  - CustomKeyGenerator.java:46         — per-field mix (field:simple / field:timestamp)

A key-gen spec in our engine is just ``(recordkey_fields, partition_expr)``
stored in TableConfig; this module turns the spec into SQL expression
strings (``record_key_sql``/``partition_path_sql``), the one definition of
each key.  Write plans splice the strings into ``selectExpr`` projections:
one py4j call per projection instead of a round trip per Column helper.
"""

from __future__ import annotations

from typing import Optional, Sequence

from pyspark.sql import Column
from pyspark.sql import functions as F

NON_PARTITIONED = "__HIVE_DEFAULT_PARTITION__"


def sql_ident(name: str) -> str:
    """A top-level column name as a SQL identifier (any characters)."""
    return "`" + name.replace("`", "``") + "`"


def sql_str(s: str) -> str:
    """A Python string as a SQL string literal."""
    return "'" + s.replace("\\", "\\\\").replace("'", "\\'") + "'"


def _field_ref(field: str) -> str:
    """A key field as ``F.col`` reads it: dots reach into structs, and a
    name that already carries backticks is taken as written."""
    if "`" in field:
        return field
    return ".".join(sql_ident(p) for p in field.split("."))


def record_key_sql(fields: Sequence[str]) -> str:
    """Simple (1 field, raw value) or Complex (``f1:v1,f2:v2``) record key."""
    if len(fields) == 1:
        return f"CAST({_field_ref(fields[0])} AS STRING)"
    parts = [f"concat_ws(':', {sql_str(f)}, CAST({_field_ref(f)} AS STRING))"
             for f in fields]
    return f"concat_ws(',', {', '.join(parts)})"


def partition_path_sql(partition_expr: Optional[str]) -> str:
    """Partition path from a SQL expression (Timestamp-based keygen becomes
    ``date_format(ts,'yyyy-MM')``; field-list keygen ``concat_ws('/',a,b)``;
    NonPartitioned → constant)."""
    if not partition_expr:
        return sql_str(NON_PARTITIONED)
    return f"CAST(({partition_expr}) AS STRING)"


def record_key_col(fields: Sequence[str]) -> Column:
    return F.expr(record_key_sql(fields))


def partition_path_col(partition_expr: Optional[str]) -> Column:
    return F.expr(partition_path_sql(partition_expr))


# -- TimestampBasedKeyGenerator typed input modes ---------------------------
# TimestampBasedAvroKeyGenerator.java:49-50 TimestampType enum
TS_EPOCHMILLIS = "EPOCHMILLISECONDS"
TS_UNIX_SECONDS = "UNIX_TIMESTAMP"
TS_SCALAR = "SCALAR"
TS_DATE_STRING = "DATE_STRING"

_SCALAR_UNITS_SECONDS = {"SECONDS": 1, "MINUTES": 60, "HOURS": 3600,
                         "DAYS": 86400}


def timestamp_partition_expr(field: str, input_type: str,
                             output_format: str = "yyyy/MM/dd",
                             input_format: Optional[str] = None,
                             scalar_unit: str = "SECONDS") -> str:
    """Build the partition expression for a timestamp-typed partition field
    (TimestampBasedAvroKeyGenerator.java:103-126,214-227): normalize the
    input (epoch-millis / epoch-seconds / scalar-of-unit / formatted string)
    to a timestamp, then render with ``output_format``.  Returns a SQL
    expression string usable as ``partition_expr`` — still a pure column
    expression, no per-row Python."""
    it = input_type.upper()
    if it == TS_EPOCHMILLIS:
        ts = f"timestamp_millis(CAST({field} AS BIGINT))"
    elif it == TS_UNIX_SECONDS:
        ts = f"timestamp_seconds(CAST({field} AS BIGINT))"
    elif it == TS_SCALAR:
        mult = _SCALAR_UNITS_SECONDS.get(scalar_unit.upper())
        if mult is None:
            raise ValueError(f"unsupported scalar unit {scalar_unit!r}")
        ts = f"timestamp_seconds(CAST({field} AS BIGINT) * {mult})"
    elif it == TS_DATE_STRING:
        if not input_format:
            raise ValueError(
                "input_format is required for DATE_STRING (reference: "
                "TimestampBasedAvroKeyGenerator.java:200)")
        ts = f"to_timestamp({field}, '{input_format}')"
    else:
        raise ValueError(f"unsupported timestamp type {input_type!r} "
                         f"(one of EPOCHMILLISECONDS, UNIX_TIMESTAMP, "
                         f"SCALAR, DATE_STRING)")
    return f"date_format({ts}, '{output_format}')"
