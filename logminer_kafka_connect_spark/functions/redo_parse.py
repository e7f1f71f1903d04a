"""Vectorized redo-SQL parsing (P2/P3 + C6/C7) — the per-row hot path.

The reference parses each redo statement with a forked JSqlParser inside a
``parallelStream`` (``LogminerRow.kt:63-96``, ``TransactionConsolidator.kt:
52``): INSERT -> after image, UPDATE -> after = SET columns / before = WHERE
equality columns, DELETE -> before image; string literals are converted per
column type, ``'NULL'`` -> null (``LogminerRow.kt:117-118``), quoted
identifiers stripped (``LogminerRow.kt:138``).

Here the same semantics run as one Arrow-batched ``pandas_udf``: a compact
recursive-descent parser over each statement producing JSON-encoded
``{column -> literal-or-null}`` images (JSON keeps explicit nulls — an
``UPDATE ... SET c = NULL`` must yield a *present* null, ``issues/
Issue14Test.kt:93-116``). The JVM side turns them into
``map<string,string>`` with ``from_json`` and types them via
``functions.types.decode_image_map``. One Python invocation per Arrow
batch — no per-row Python dispatch (input_hint requirement).

Timestamp literals with zone names (``... US/Pacific PDT``) are normalized
to UTC here, where ``zoneinfo`` is available (SURVEY §7 hard spot 4).
"""

from __future__ import annotations

import json
import re
from datetime import datetime, timezone
from zoneinfo import ZoneInfo

import pandas as pd
from pyspark.sql import functions as F
from pyspark.sql import types as T

_WS = re.compile(r"\s+")
_IDENT = re.compile(r'"([^"]+)"|([A-Za-z_][A-Za-z0-9_$#]*)')
_NUMBER = re.compile(r"-?\d+(?:\.\d+)?(?:[eE][+-]?\d+)?")
_HEX = re.compile(r"HEXTORAW\('([0-9a-fA-F]*)'\)", re.IGNORECASE)
_TS_PREFIX = re.compile(r"(TIMESTAMP|DATE)\s*", re.IGNORECASE)
_TS_ZONED = re.compile(
    r"^(\d{4}-\d{2}-\d{2}[ T]\d{2}:\d{2}:\d{2})(\.\d{1,9})?"
    r"(?:\s+([A-Za-z_]+(?:/[A-Za-z_+\-0-9]+)*)(?:\s+[A-Z]{2,5})?|\s*([+-]\d{2}:\d{2}))?$"
)

PARSED_SCHEMA = T.StructType(
    [
        T.StructField("before", T.StringType(), True),
        T.StructField("after", T.StringType(), True),
        T.StructField("parse_error", T.StringType(), True),
    ]
)

IMAGE_MAP_TYPE = "map<string,string>"


class _ParseError(ValueError):
    pass


def _normalize_ts(lit: str, db_timezone: str = "UTC") -> str:
    """Normalize the three Oracle timestamp flavors to a UTC
    ``yyyy-MM-dd HH:mm:ss.ffffff`` string (ColumnSchemaBuilder.kt:129-194).

    Naive literals (no zone name / offset) are in the database's zone
    (``ColumnSchemaBuilder.kt:129-145``); they are converted here, in the
    same place zoned literals are, so the JVM side NEVER re-shifts — the
    session zone is UTC and ``to_timestamp`` is the only remaining step
    (fixes the double conversion when db_timezone != UTC)."""
    m = _TS_ZONED.match(lit.strip())
    if not m:
        return lit
    base, frac, zone_name, offset = m.groups()
    frac = (frac or ".0")[:7]  # micros max for datetime
    try:
        # manual field parse — datetime.strptime measured ~15% of total
        # parse time at this call volume
        micros = int(frac[1:].ljust(6, "0"))
        dt = datetime(
            int(base[0:4]), int(base[5:7]), int(base[8:10]),
            int(base[11:13]), int(base[14:16]), int(base[17:19]), micros,
        )
        if zone_name:
            dt = dt.replace(tzinfo=ZoneInfo(zone_name)).astimezone(timezone.utc)
        elif offset:
            dt = datetime.fromisoformat(f"{base}{frac.ljust(7, '0')}{offset}").astimezone(timezone.utc)
        elif db_timezone != "UTC":
            dt = dt.replace(tzinfo=ZoneInfo(db_timezone)).astimezone(timezone.utc)
        else:
            return f"{base}{frac.ljust(7, '0')}"
    except Exception as e:  # unknown zone name, out-of-range datetime, ...
        raise _ParseError(f"bad timestamp literal {lit!r}: {e}") from e
    # manual formatting — byte-identical to strftime("%Y-%m-%d %H:%M:%S.%f")
    # on this platform for EVERY year (glibc %Y prints years < 1000
    # unpadded; verified 1..9998), measured ~5x faster at parse call volume
    return (
        f"{dt.year}-{dt.month:02d}-{dt.day:02d} "
        f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}.{dt.microsecond:06d}"
    )


class _Cursor:
    __slots__ = ("s", "i", "n", "db_tz")

    def __init__(self, s: str, db_timezone: str = "UTC"):
        self.s = s
        self.i = 0
        self.n = len(s)
        self.db_tz = db_timezone

    def skip_ws(self) -> None:
        while self.i < self.n and self.s[self.i] in " \t\r\n":
            self.i += 1

    def eat(self, token: str) -> bool:
        self.skip_ws()
        if self.s[self.i : self.i + len(token)].upper() == token.upper():
            self.i += len(token)
            return True
        return False

    def expect(self, token: str) -> None:
        if not self.eat(token):
            raise _ParseError(f"expected {token!r} at {self.i}: {self.s[self.i:self.i+40]!r}")

    def ident(self) -> str:
        self.skip_ws()
        m = _IDENT.match(self.s, self.i)
        if not m:
            raise _ParseError(f"expected identifier at {self.i}")
        self.i = m.end()
        return m.group(1) if m.group(1) is not None else m.group(2).upper()

    def string_literal(self) -> str:
        """Single-quoted literal with '' escapes."""
        self.expect("'")
        out = []
        s, i, n = self.s, self.i, self.n
        while i < n:
            c = s[i]
            if c == "'":
                if i + 1 < n and s[i + 1] == "'":
                    out.append("'")
                    i += 2
                    continue
                self.i = i + 1
                return "".join(out)
            out.append(c)
            i += 1
        raise _ParseError("unterminated string literal")

    def value(self) -> str | None:
        """One SQL literal -> canonical string (or None for NULL)."""
        self.skip_ws()
        s, i = self.s, self.i
        if i >= self.n:
            # truncated statement, e.g. "insert ... values (" — must be a
            # routed parse failure, not an IndexError escaping the UDF
            raise _ParseError("unexpected end of statement")
        if s[i : i + 4].upper() == "NULL" and not _IDENT.match(s, i + 4):
            self.i += 4
            return None
        mh = _HEX.match(s, i)
        if mh:
            self.i = mh.end()
            return mh.group(1).lower()
        mt = _TS_PREFIX.match(s, i)
        if mt and mt.end() < self.n and self.s[mt.end()] == "'":
            self.i = mt.end()
            lit = self.string_literal()
            return _normalize_ts(lit, self.db_tz) if mt.group(1).upper() == "TIMESTAMP" else lit
        if s[i] == "'":
            return self.string_literal()
        if s[i : i + 11].upper() == "EMPTY_BLOB(" or s[i : i + 11].upper() == "EMPTY_CLOB(":
            self.i = i + 12
            return ""
        mn = _NUMBER.match(s, i)
        if mn:
            self.i = mn.end()
            return mn.group(0)
        raise _ParseError(f"unparseable literal at {i}: {s[i:i+40]!r}")


def _parse_where(cur: _Cursor) -> dict[str, str | None]:
    """``WHERE c1 = v1 and c2 IS NULL ...`` -> equality/null image
    (LogminerRow.kt:120-128 WHERE visitor)."""
    img: dict[str, str | None] = {}
    while True:
        col = cur.ident()
        cur.skip_ws()
        if cur.eat("IS NULL"):
            img[col] = None
        else:
            cur.expect("=")
            img[col] = cur.value()
        if not cur.eat("and"):
            break
    return img


def parse_redo_statement_slow(sql: str, db_timezone: str = "UTC") -> tuple[dict | None, dict | None]:
    """Character-cursor reference parser (rounds 1-2 production path; now
    the differential-test oracle for the regex fast path below —
    tests/test_parse.py pins them row-for-row on generator output)."""
    cur = _Cursor(sql, db_timezone)
    cur.skip_ws()
    if cur.eat("insert into"):
        cur.ident()
        if cur.eat("."):
            cur.ident()
        cur.expect("(")
        cols = [cur.ident()]
        while cur.eat(","):
            cols.append(cur.ident())
        cur.expect(")")
        cur.expect("values")
        cur.expect("(")
        vals = [cur.value()]
        while cur.eat(","):
            vals.append(cur.value())
        cur.expect(")")
        if len(cols) != len(vals):
            raise _ParseError(f"{len(cols)} columns vs {len(vals)} values")
        return None, dict(zip(cols, vals))
    if cur.eat("update"):
        cur.ident()
        if cur.eat("."):
            cur.ident()
        cur.expect("set")
        after: dict[str, str | None] = {}
        while True:
            col = cur.ident()
            cur.expect("=")
            after[col] = cur.value()
            if not cur.eat(","):
                break
        before = _parse_where(cur) if cur.eat("where") else {}
        return before, after
    if cur.eat("delete from"):
        cur.ident()
        if cur.eat("."):
            cur.ident()
        before = _parse_where(cur) if cur.eat("where") else {}
        return before, None
    raise _ParseError(f"unsupported statement: {sql[:60]!r}")


# ---------------------------------------------------------------------------
# Regex fast path (round 3).
#
# The cursor parser above walks statements char-by-char in Python — measured
# ~45 us/event at bench scale, ~75% of the whole pipeline's CPU. The fast
# path matches one compiled clause-regex per column instead (identifier,
# literal, separator in a single C-level match), so multi-KB literals are
# consumed by the regex engine, not a Python loop. Same grammar, same
# images, same routed errors; equivalence is pinned by the differential
# test against the cursor parser.
# ---------------------------------------------------------------------------

_ID = r'(?:"(?P<qid>[^"]+)"|(?P<bid>[A-Za-z_][A-Za-z0-9_$#]*))'
_X = re.IGNORECASE | re.VERBOSE

# Heads mirror the cursor parser's eat()/ident() semantics exactly:
# keywords are exact substrings after optional whitespace (eat() does not
# require a trailing boundary), identifiers allow zero leading whitespace,
# and atomic groups (?>...) stop the regex from backtracking a bare
# identifier to manufacture a keyword the cursor would not see
# (e.g. "update Tset x=1" must NOT parse as table T + set x=1).
_QUAL = r'(?>(?:\s*\.\s*(?>"[^"]+"|[A-Za-z_][A-Za-z0-9_$#]*))?)'
_INS_HEAD = re.compile(r'\s*insert into\s*(?>' + _ID + r')' + _QUAL + r'\s*\(', re.IGNORECASE)
_UPD_HEAD = re.compile(r'\s*update\s*(?>' + _ID + r')' + _QUAL + r'\s*set', re.IGNORECASE)
_DEL_HEAD = re.compile(r'\s*delete from\s*(?>' + _ID + r')' + _QUAL, re.IGNORECASE)
_VALUES_OPEN = re.compile(r'\s*values\s*\(', re.IGNORECASE)
_COMMA = re.compile(r'\s*,')
# no trailing \s: mirror the cursor parser's prefix-eat semantics exactly
# (a truncated "... where" / "... and" at end-of-statement must be a routed
# error in BOTH parsers — the adversarial differential test pins this)
_WHERE_KW = re.compile(r'\s*where', re.IGNORECASE)
_AND_KW = re.compile(r'\s*and', re.IGNORECASE)

# Literal scanning is dispatch-on-first-char + str.find / single-purpose
# regexes. The previous single VERBOSE|IGNORECASE alternation regex paid
# ~60 us per multi-KB literal (IGNORECASE disables the fast character-class
# scan and `(?:[^']|'')*` backtracks per char); the dedicated patterns below
# measure 1-14 us on the same literals with identical accept/reject
# behavior (differential-pinned against the cursor parser).
_ID_RE = re.compile(r'\s*' + _ID)
# case-insensitive prefix via spelled-out classes: the hex body class stays
# flag-free so the regex engine scans it at memchr-like speed
_HEX_RE = re.compile(r"[Hh][Ee][Xx][Tt][Oo][Rr][Aa][Ww]\('([0-9a-fA-F]*)'\)")
_TS_PFX = re.compile(r"(?:TIMESTAMP|DATE)\s*", re.IGNORECASE)
# the cursor's value() skips exactly one char after "EMPTY_[BC]LOB(",
# whatever it is (including at EOF) — mirror that with `.?` + DOTALL
_EMPTY_RE = re.compile(r"EMPTY_[BC]LOB\(.?", re.IGNORECASE | re.DOTALL)
_ISNULL_RE = re.compile(r"IS NULL", re.IGNORECASE)  # exact, like eat("IS NULL")
_WS_SET = " \t\r\n"


def _skip_ws(sql: str, pos: int) -> int:
    while pos < len(sql) and sql[pos] in _WS_SET:
        pos += 1
    return pos


def _scan_str(sql: str, pos: int) -> tuple[str, int]:
    """Single-quoted literal starting at ``pos``; honors '' escapes.
    Returns (unescaped value, position after the closing quote)."""
    i = pos + 1
    n = len(sql)
    while True:
        j = sql.find("'", i)
        if j < 0:
            raise _ParseError(f"unterminated string literal at {pos}")
        if j + 1 < n and sql[j + 1] == "'":
            i = j + 2
            continue
        v = sql[pos + 1 : j]
        return (v.replace("''", "'") if "''" in v else v), j + 1


def _scan_literal(sql: str, pos: int, db_timezone: str) -> tuple[str | None, int]:
    """One SQL literal at ``pos`` -> (canonical value or None for NULL,
    next position). Same canon as _Cursor.value: hex lowered, '' unescaped,
    TIMESTAMP normalized to UTC, EMPTY_[BC]LOB -> ''."""
    n = len(sql)
    if pos >= n:
        raise _ParseError("unexpected end of statement")
    c = sql[pos]
    if c == "'":
        return _scan_str(sql, pos)
    if c in "Hh":
        m = _HEX_RE.match(sql, pos)
        if m:
            return m.group(1).lower(), m.end()
    elif c in "TtDd":
        m = _TS_PFX.match(sql, pos)
        if m and m.end() < n and sql[m.end()] == "'":
            lit, end = _scan_str(sql, m.end())
            return (_normalize_ts(lit, db_timezone) if c in "Tt" else lit), end
    elif c in "Nn":
        if sql[pos : pos + 4].upper() == "NULL" and not (
            pos + 4 < n and (sql[pos + 4].isalnum() or sql[pos + 4] == "_")
        ):
            return None, pos + 4
    elif c in "Ee":
        m = _EMPTY_RE.match(sql, pos)
        if m:
            return "", m.end()
    m = _NUMBER.match(sql, pos)
    if m:
        return m.group(0), m.end()
    raise _ParseError(f"unparseable literal at {pos}: {sql[pos:pos+40]!r}")


def _ident_of(m: "re.Match") -> str:
    q = m.group("qid")
    return q if q is not None else m.group("bid").upper()


def _fast_where(sql: str, pos: int, db_timezone: str) -> dict[str, str | None]:
    img: dict[str, str | None] = {}
    while True:
        mi = _ID_RE.match(sql, pos)
        if not mi:
            raise _ParseError(f"bad where clause at {pos}: {sql[pos:pos+40]!r}")
        col = _ident_of(mi)
        pos = _skip_ws(sql, mi.end())
        if sql[pos : pos + 1] == "=":
            pos = _skip_ws(sql, pos + 1)
            img[col], pos = _scan_literal(sql, pos, db_timezone)
        else:
            mn = _ISNULL_RE.match(sql, pos)
            if not mn:
                raise _ParseError(f"bad where clause at {pos}: {sql[pos:pos+40]!r}")
            img[col] = None
            pos = mn.end()
        ma = _AND_KW.match(sql, pos)
        if not ma:
            return img
        pos = ma.end()


def parse_redo_statement(sql: str, db_timezone: str = "UTC") -> tuple[dict | None, dict | None]:
    """Parse one redo statement -> (before, after) images.

    INSERT -> (None, after); UPDATE -> (where-image, set-image);
    DELETE -> (where-image, None). Dispatch mirrors LogminerRow.kt:63-96.
    """
    m = _INS_HEAD.match(sql)
    if m:
        pos = m.end()
        cols: list[str] = []
        while True:
            mc = _ID_RE.match(sql, pos)
            if not mc:
                raise _ParseError(f"bad column list at {pos}: {sql[pos:pos+40]!r}")
            cols.append(_ident_of(mc))
            pos = _skip_ws(sql, mc.end())
            sep = sql[pos : pos + 1]
            pos += 1
            if sep == ")":
                break
            if sep != ",":
                raise _ParseError(f"bad column list at {pos}: {sql[pos:pos+40]!r}")
        mv = _VALUES_OPEN.match(sql, pos)
        if not mv:
            raise _ParseError(f"expected values at {pos}: {sql[pos:pos+40]!r}")
        pos = mv.end()
        vals: list[str | None] = []
        while True:
            pos = _skip_ws(sql, pos)
            v, pos = _scan_literal(sql, pos, db_timezone)
            vals.append(v)
            pos = _skip_ws(sql, pos)
            sep = sql[pos : pos + 1]
            pos += 1
            if sep == ")":
                break
            if sep != ",":
                raise _ParseError(f"unparseable literal at {pos}: {sql[pos:pos+40]!r}")
        if len(cols) != len(vals):
            raise _ParseError(f"{len(cols)} columns vs {len(vals)} values")
        return None, dict(zip(cols, vals))

    m = _UPD_HEAD.match(sql)
    if m:
        pos = m.end()
        after: dict[str, str | None] = {}
        while True:
            ma = _ID_RE.match(sql, pos)
            if not ma:
                raise _ParseError(f"bad set clause at {pos}: {sql[pos:pos+40]!r}")
            col = _ident_of(ma)
            pos = _skip_ws(sql, ma.end())
            if sql[pos : pos + 1] != "=":
                raise _ParseError(f"bad set clause at {pos}: {sql[pos:pos+40]!r}")
            pos = _skip_ws(sql, pos + 1)
            after[col], pos = _scan_literal(sql, pos, db_timezone)
            mc = _COMMA.match(sql, pos)
            if not mc:
                break
            pos = mc.end()
        mw = _WHERE_KW.match(sql, pos)
        before = _fast_where(sql, mw.end(), db_timezone) if mw else {}
        return before, after

    m = _DEL_HEAD.match(sql)
    if m:
        pos = m.end()
        if sql[pos : pos + 1] == ".":
            # dangling qualifier dot with no identifier after it (truncated
            # statement) — the cursor parser rejects it; so must we
            raise _ParseError(f"expected identifier at {pos + 1}")
        mw = _WHERE_KW.match(sql, pos)
        before = _fast_where(sql, mw.end(), db_timezone) if mw else {}
        return before, None

    raise _ParseError(f"unsupported statement: {sql[:60]!r}")


def _parse_one(sql: str | None, db_timezone: str = "UTC") -> tuple[str | None, str | None, str | None]:
    if sql is None:
        return None, None, "null sql_redo"
    try:
        before, after = parse_redo_statement(sql, db_timezone)
        return (
            json.dumps(before) if before is not None else None,
            json.dumps(after) if after is not None else None,
            None,
        )
    except Exception as e:
        # Reference: parse failure -> record skipped with error log
        # (TransactionConsolidator.kt:66-69). We surface it as a column so
        # the driver can count/route failures instead of dying. Catching
        # broadly (not just _ParseError) matters: a malformed statement must
        # never fail the whole Spark job by escaping the pandas UDF.
        return None, None, f"{type(e).__name__}: {e}"


def make_parse_udf(db_timezone: str = "UTC"):
    """Generic parse UDF bound to a database timezone (naive timestamp
    literals are db-zone and normalized to UTC inside the UDF)."""

    @F.pandas_udf(PARSED_SCHEMA)
    def parse_udf(sql_redo: pd.Series) -> pd.DataFrame:
        parsed = [_parse_one(s, db_timezone) for s in sql_redo]
        return pd.DataFrame(parsed, columns=["before", "after", "parse_error"])

    # Non-deterministic marking (guide §4.4): downstream filters reference
    # parse output (parse_error IS NULL, key IS NOT NULL); pushing such a
    # filter below the consolidation joins duplicates the ArrowEvalPython
    # node — every row pays the parse twice (and the pushed copy runs
    # before the commit inner join, parsing uncommitted rows too). The
    # parse is pure, so the only effect of the marking is to pin a single
    # evaluation where the program put it.
    return parse_udf.asNondeterministic()


parse_redo_udf = make_parse_udf()


def with_parsed_images(df, sql_col: str = "sql_redo", db_timezone: str = "UTC"):
    """Attach typed-image precursors: ``before``/``after`` as
    ``map<string,string>`` (explicit nulls preserved) + ``parse_error``."""
    udf = parse_redo_udf if db_timezone == "UTC" else make_parse_udf(db_timezone)
    parsed = df.withColumn("__parsed", udf(F.col(sql_col)))
    return (
        parsed.withColumn("before_json", F.col("__parsed.before"))
        .withColumn("after_json", F.col("__parsed.after"))
        .withColumn("before", F.from_json("__parsed.before", IMAGE_MAP_TYPE))
        .withColumn("after", F.from_json("__parsed.after", IMAGE_MAP_TYPE))
        .withColumn("parse_error", F.col("__parsed.parse_error"))
        .drop("__parsed")
    )


# ---------------------------------------------------------------------------
# Typed-image fast path
# ---------------------------------------------------------------------------
#
# The generic path above emits JSON maps — schema-agnostic, but the payload
# (hex-encoded html) then travels as text through every shuffle (reassembly,
# fold, merge). The typed path closes over the *current table schema* and
# emits a typed struct directly from the UDF: binary columns are hex-decoded
# in Python (C-speed bytes.fromhex — halves the bytes on the wire), other
# columns stay normalized strings (cast JVM-side on net rows only). An
# explicit ``set_cols`` array replaces map-key presence, and the MERGE key
# is extracted here (F9). Rebuilt per microbatch, so schema evolution (T9)
# picks up added/renamed columns automatically.


def make_row_parser(fields, key_col: str = "url", db_timezone: str = "UTC"):
    """Shared statement-level parser for the typed paths: returns
    ``(_one, out_type)`` where ``_one(sql, op_code) -> (key, img_dict,
    set_cols, parse_error)`` and ``out_type`` is the
    ``struct<key, img, set_cols, parse_error>`` Arrow-side schema."""
    from logminer_kafka_connect_spark.sources.events import OP_INSERT

    col_names = [f.name for f in fields]
    binary_cols = {f.name for f in fields if isinstance(f.dataType, T.BinaryType)}
    upper_to_lower = {n.upper(): n for n in col_names}
    key_upper = key_col.upper()

    img_type = T.StructType(
        [
            T.StructField(
                f.name,
                T.BinaryType() if f.name in binary_cols else T.StringType(),
                True,
            )
            for f in fields
        ]
    )
    out_type = T.StructType(
        [
            T.StructField("key", T.StringType(), True),
            T.StructField("img", img_type, True),
            T.StructField("set_cols", T.ArrayType(T.StringType()), True),
            T.StructField("parse_error", T.StringType(), True),
        ]
    )

    def _one(sql: str | None, op_code: int):
        if sql is None:
            return None, None, None, "null sql_redo"
        try:
            before, after = parse_redo_statement(sql, db_timezone)
            key_src = after if op_code == OP_INSERT else before
            key = (key_src or {}).get(key_upper)
            vals: dict = {}
            set_cols: list[str] = []
            for up, val in (after or {}).items():
                name = upper_to_lower.get(up)
                if name is None:
                    # Column unknown to the current table schema: the
                    # reference refreshes the schema and retries, and NEVER
                    # silently drops data (TransactionConsolidator.kt:79-89).
                    # Route the row to the schema-miss/quarantine path — the
                    # driver retries it against a refreshed schema and
                    # quarantines it loudly if the column is still unknown.
                    return key, None, None, f"schema_miss: {up}"
                set_cols.append(name)
                if name in binary_cols:
                    # fromhex stays inside the try: corrupt/odd-length hex is
                    # a routed parse failure, not a task crash
                    vals[name] = bytes.fromhex(val) if val is not None else None
                else:
                    vals[name] = val
            # fixed key order: Arrow struct conversion is positional per batch
            img = {name: vals.get(name) for name in col_names}
            return key, img, set_cols, None
        except Exception as e:
            return None, None, None, f"{type(e).__name__}: {e}"

    return _one, out_type


def make_typed_parse_udf(
    fields, key_col: str = "url", db_timezone: str = "UTC", lineage_acc=None
):
    """Build the typed parse UDF for the given table schema fields.

    Returns ``(udf, output_type)`` where output is
    ``struct<key:string, img:struct<...table cols...>, set_cols:array<string>,
    parse_error:string>`` — img columns are binary for BinaryType fields,
    normalized strings otherwise.

    ``lineage_acc`` (optional): a dict accumulator from
    ``operators.apply.make_lineage_accumulator``. When set, the UDF takes a
    third ``scn`` column and records per-partition (scn_min, scn_max,
    n_rows) as a side effect of the parse pass itself — A7 lineage with
    **zero extra jobs** (the r3 design ran a second narrow job over
    ``committed`` that re-executed the consolidation joins, ~8s/batch at
    bench scale). Entries are keyed ``(partition_id, task_attempt_id)`` so
    retried/speculated/recomputed tasks never double-count: batches within
    one attempt sum, and the reader keeps each partition's max-count
    attempt (a partial failed attempt undercounts; every complete attempt
    reports the identical full value).
    """
    _one, out_type = make_row_parser(fields, key_col, db_timezone)

    if lineage_acc is None:

        @F.pandas_udf(out_type)
        def typed_parse_udf(sql_redo: pd.Series, op_code: pd.Series) -> pd.DataFrame:
            rows = [_one(s, int(o)) for s, o in zip(sql_redo, op_code)]
            return pd.DataFrame(rows, columns=["key", "img", "set_cols", "parse_error"])

    else:

        @F.pandas_udf(out_type)
        def typed_parse_udf(
            sql_redo: pd.Series, op_code: pd.Series, scn: pd.Series
        ) -> pd.DataFrame:
            from pyspark import TaskContext

            tc = TaskContext.get()
            if tc is not None and len(scn):
                lineage_acc.add(
                    {
                        (tc.partitionId(), tc.taskAttemptId()): (
                            int(scn.min()),
                            int(scn.max()),
                            int(len(scn)),
                        )
                    }
                )
            rows = [_one(s, int(o)) for s, o in zip(sql_redo, op_code)]
            return pd.DataFrame(rows, columns=["key", "img", "set_cols", "parse_error"])

    # Guide §4.4: the fold filters on parse output (key IS NOT NULL /
    # parse_error IS NULL / hot-key routing); a deterministic UDF lets the
    # optimizer push those filters below the marker joins and DUPLICATE the
    # ArrowEvalPython node — measured as a second full parse of every
    # change row (including not-yet-committed ones) in the replay plan.
    # The parse is pure; marking it non-deterministic only pins a single
    # evaluation. For the lineage variant this is also a correctness
    # guard: a duplicated UDF would double-add the per-partition
    # accumulator within one attempt.
    return typed_parse_udf.asNondeterministic(), out_type


class CsfContiguityError(ValueError):
    """The fused reassembly's source contract was violated: chunks of a
    CSF group were not consecutive rows of one scan partition. The driver
    catches this (it surfaces as the Spark job failure wrapping the task's
    Python exception, see ``is_csf_contiguity_failure``) and re-runs the
    batch through the exchange-based ``reassemble_csf`` path, which makes
    no contiguity assumption."""


# The worker's traceback ends with the raised exception's qualified name at
# the start of a line; the job failure that reaches the driver carries
# that traceback in its message.
_CSF_FAILURE_RE = re.compile(
    rf"^{re.escape(CsfContiguityError.__module__)}\.CsfContiguityError: ", re.M
)


def is_csf_contiguity_failure(exc: BaseException) -> bool:
    """True when ``exc`` is a Spark job failure whose Python worker raised
    ``CsfContiguityError`` — and nothing else: a driver-side error, or a
    job failure that merely mentions the name, is not a contract violation
    and must not be retried through the exchange path."""
    from py4j.protocol import Py4JJavaError
    from pyspark.errors import PySparkException

    return isinstance(exc, (PySparkException, Py4JJavaError)) and bool(
        _CSF_FAILURE_RE.search(str(exc))
    )


def make_fused_reassemble_parse_fn(
    fields,
    key_col: str = "url",
    db_timezone: str = "UTC",
    keep_sql: bool = False,
    lineage_acc=None,
):
    """P1+P2/P3 fused: per-partition CSF reassembly + typed parse in ONE
    ``mapInPandas`` pass (guide §8 "move heavy bytes once" + §4 "one
    boundary crossing").

    The exchange-based ``reassemble_csf`` hashes every chunked statement's
    full text across the cluster just to group chunks that are ALREADY
    ADJACENT in the source (LogMiner emits CSF continuation rows
    consecutively — the reference reassembles by concatenating consecutive
    fetch rows, ``LogminerFetcher.kt:144-153``). At bench scale that
    exchange carried 644 MB (shuffle write + read + a second sort/agg
    pass) per batch. Here chunks are concatenated inside the scan task:
    the statement text crosses the JVM->Python boundary exactly once — the
    same crossing the parse already paid — and the only remaining payload
    exchange is the net-effect fold's.

    Contract (checked row-for-row, vectorized): within a partition each
    CSF group appears as a consecutive run — ``seq`` = 0..k with ``csf``
    true on all but the last chunk, and ``(xid, scn, row_id)`` constant
    along the run. Arrow batch boundaries inside a task
    are healed with a carry buffer; a violation raises
    ``CsfContiguityError`` and the caller falls back to the exchange path
    (same results by construction; the fused path never guesses).

    Returns ``(fn, out_schema)`` for
    ``df.select(cols).mapInPandas(fn, out_schema)`` where ``df`` is the
    *pre-reassembly* committed chunk stream (post marker joins, which are
    broadcast and preserve partition-local row order).
    """
    import numpy as np

    _one, parse_type = make_row_parser(fields, key_col, db_timezone)

    out_fields = [
        T.StructField("xid", T.StringType(), True),
        T.StructField("scn", T.LongType(), True),
        T.StructField("row_id", T.StringType(), True),
        T.StructField("commit_scn", T.LongType(), True),
        T.StructField("op_code", T.IntegerType(), True),
    ]
    if keep_sql:
        out_fields.append(T.StructField("sql_redo", T.StringType(), True))
    out_fields += list(parse_type.fields)
    out_schema = T.StructType(out_fields)

    def _process(pdf: pd.DataFrame) -> pd.DataFrame:
        seq = pdf["seq"].to_numpy()
        csf = pdf["csf"].to_numpy()
        n = len(pdf)
        starts = np.flatnonzero(seq == 0)
        if len(starts) == 0 or starts[0] != 0:
            raise CsfContiguityError(
                f"partition begins mid-CSF-group (first seq={int(seq[0])}, "
                f"scn={int(pdf['scn'].iloc[0])})"
            )
        lens = np.diff(starts, append=n)
        pos = np.arange(n) - np.repeat(starts, lens)
        if not np.array_equal(pos, seq):
            bad = int(np.flatnonzero(pos != seq)[0])
            raise CsfContiguityError(
                f"non-consecutive CSF seq at scn={int(pdf['scn'].iloc[bad])}: "
                f"expected {int(pos[bad])}, saw {int(seq[bad])}"
            )
        ends = np.append(starts[1:] - 1, n - 1)
        exp_csf = np.ones(n, dtype=bool)
        exp_csf[ends] = False
        if not np.array_equal(csf, exp_csf):
            bad = int(np.flatnonzero(csf != exp_csf)[0])
            raise CsfContiguityError(
                f"csf flag does not match run structure at "
                f"scn={int(pdf['scn'].iloc[bad])}"
            )
        # a well-shaped run can still splice two statements (interleaved
        # equal-length groups A0,B1,B0,A1): every chunk of a run must
        # carry its head's statement identity
        for c in ("xid", "scn", "row_id"):
            v = pdf[c].to_numpy()
            diff = v != np.repeat(v[starts], lens)
            if diff.any():
                bad = int(np.flatnonzero(diff)[0])
                raise CsfContiguityError(
                    f"CSF run mixes statements: {c}={v[bad]!r} continues a "
                    f"run headed by {c}={v[bad - pos[bad]]!r}"
                )
        sqls = pdf["sql_redo"].tolist()
        stmts = [
            sqls[s] if l == 1 else "".join(sqls[s : s + l])
            for s, l in zip(starts, lens)
        ]
        head = pdf.iloc[starts]
        ops = head["op_code"].to_numpy()
        rows = [_one(s, int(o)) for s, o in zip(stmts, ops)]
        out = {
            "xid": head["xid"].to_numpy(),
            "scn": head["scn"].to_numpy(),
            "row_id": head["row_id"].to_numpy(),
            "commit_scn": head["commit_scn"].to_numpy(),
            "op_code": ops,
        }
        if keep_sql:
            out["sql_redo"] = stmts
        for i, c in enumerate(("key", "img", "set_cols", "parse_error")):
            out[c] = pd.Series([r[i] for r in rows], dtype="object")
        if lineage_acc is not None:
            from pyspark import TaskContext

            tc = TaskContext.get()
            if tc is not None and len(head):
                scns = out["scn"]
                lineage_acc.add(
                    {
                        (tc.partitionId(), tc.taskAttemptId()): (
                            int(scns.min()),
                            int(scns.max()),
                            int(len(scns)),
                        )
                    }
                )
        return pd.DataFrame(out)

    def fused(batches):
        carry = None
        for pdf in batches:
            if carry is not None:
                pdf = pd.concat([carry, pdf], ignore_index=True)
                carry = None
            if not len(pdf):
                continue
            csf = pdf["csf"].to_numpy()
            term = np.flatnonzero(~csf)
            if len(term) == 0 or term[-1] != len(pdf) - 1:
                # batch ends inside a group: carry the open tail into the
                # next Arrow batch of the same task
                cut = int(term[-1]) + 1 if len(term) else 0
                carry = pdf.iloc[cut:]
                pdf = pdf.iloc[:cut]
                if not len(pdf):
                    continue
            yield _process(pdf)
        if carry is not None and len(carry):
            raise CsfContiguityError(
                f"unterminated CSF group at partition end "
                f"(scn={int(carry['scn'].iloc[0])}, {len(carry)} dangling chunks)"
            )

    return fused, out_schema
