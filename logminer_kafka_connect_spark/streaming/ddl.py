"""T9 — DDL mid-stream: evolve the table schema before the affected batch.

Reference behavior: DDL racing rows are skipped (STATUS=2, ``logminer/
LogminerSource.kt:96-115``), schemas refresh lazily on conversion failure
(``TransactionConsolidator.kt:79-89``), and new columns appear in subsequent
records (``ChangingTableTest.kt:42-93``). Our engine is *eager*: DDL events
are first-class rows in the change stream (op_code=5); the replay driver
cuts microbatch boundaries at DDL SCNs and applies the ALTER to the
SnapshotTable **before** the first batch whose commits follow it
(north_rule: schema evolves before the affected microbatch commits).
"""

from __future__ import annotations

import re
from dataclasses import dataclass

from logminer_kafka_connect_spark.functions.types import oracle_to_spark_type
from logminer_kafka_connect_spark.plans.lakehouse import SnapshotTable

_ADD_RE = re.compile(
    r'alter\s+table\s+\S+\s+add\s*\(\s*"(?P<col>[^"]+)"\s+(?P<type>[A-Za-z_0-9]+(?:\(\d+(?:\s*,\s*\d+)?\))?)'
    r"(?:\s+DEFAULT\s+(?P<default>\S+))?\s*\)",
    re.IGNORECASE,
)
_RENAME_RE = re.compile(
    r'alter\s+table\s+\S+\s+rename\s+column\s+"(?P<old>[^"]+)"\s+to\s+"(?P<new>[^"]+)"',
    re.IGNORECASE,
)


@dataclass
class DdlEvent:
    scn: int
    kind: str  # 'add' | 'rename'
    column: str
    oracle_type: str | None = None
    default: str | None = None
    new_name: str | None = None
    # target-table routing (multi-table replay; the reference resolves the
    # table from the DDL record's segment fields, SchemaService.kt:34-36)
    owner: str | None = None
    table: str | None = None


def parse_ddl(scn: int, sql: str, owner: str | None = None, table: str | None = None) -> DdlEvent | None:
    m = _ADD_RE.search(sql)
    if m:
        return DdlEvent(
            scn=scn,
            kind="add",
            column=m.group("col"),
            oracle_type=m.group("type"),
            default=m.group("default"),
            owner=owner,
            table=table,
        )
    m = _RENAME_RE.search(sql)
    if m:
        return DdlEvent(
            scn=scn, kind="rename", column=m.group("old"), new_name=m.group("new"),
            owner=owner, table=table,
        )
    return None


def apply_ddl(table: SnapshotTable, ddl: DdlEvent) -> int:
    """ALTER the snapshot table (idempotent — safe under crash-replay and
    re-replay).

    Idempotence is by SCN: the table records the SCN of the last DDL it
    applied, and a DDL at or below it is a no-op. Column names alone cannot
    tell: after ADD ``a`` then RENAME ``a`` TO ``b``, a re-applied ADD
    finds no ``a`` and would add it again, and the RENAME would then put a
    second ``b`` in the schema.

    Column default literals go through the reference's cleanup rules
    (trim/strip quotes, ``SYSDATE``-family unresolvable -> null, C5,
    ``ColumnSchemaBuilder.kt:23-29, 98-107``).
    """
    applied = table.applied_ddl_scn()
    if applied is not None and ddl.scn <= applied:
        return table.current_version()
    if ddl.kind == "add":
        spark_type = oracle_to_spark_type(ddl.oracle_type)
        default = _clean_default(ddl.default, spark_type) if ddl.default else None
        return table.add_column(
            ddl.column.lower(), spark_type, default=default, ddl_scn=ddl.scn
        )
    if ddl.kind == "rename":
        return table.rename_column(
            ddl.column.lower(), ddl.new_name.lower(), ddl_scn=ddl.scn
        )
    raise ValueError(f"unknown DDL kind: {ddl.kind}")


_UNRESOLVABLE = {"SYSDATE", "CURRENT_TIMESTAMP", "CURRENT_DATE", "SYSTIMESTAMP", "LOCALTIMESTAMP"}


def _clean_default(literal: str, spark_type) -> object | None:
    """C5 — default-literal cleanup (ColumnSchemaBuilder.kt:23-29, 91-107)."""
    lit = literal.strip()
    if lit.upper() in _UNRESOLVABLE:
        return None
    for prefix in ("DATE", "TIMESTAMP"):
        if lit.upper().startswith(prefix):
            lit = lit[len(prefix):].strip()
    if lit.startswith("'") and lit.endswith("'"):
        lit = lit[1:-1].replace("''", "'")
    tn = spark_type.simpleString()
    try:
        if tn in ("tinyint", "smallint", "int", "bigint"):
            return int(lit)
        if tn in ("float", "double") or tn.startswith("decimal"):
            return float(lit)
    except ValueError:
        return None
    return lit
