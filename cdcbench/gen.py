"""Seeded LogMiner-shaped input generator and table-state oracle.

Pure Python (standard library + pyarrow for the parquet files); it imports
nothing from the engine, so a change to the engine cannot change the
workload, and a checkout without the engine still produces the inputs.

One pass prints the redo SQL and records the intended typed operations.
The oracle reduces those operations in ``(commit_scn, scn, row_id)`` order
and composes the expected ``text`` from the words the generator put in the
page, so a parser or extractor fault cannot cancel itself out.

SCN layout: transaction ``t`` owns the slot ``[64 t, 64 t + 64)``. Its
statements take ``64 t + j`` (``j < 32``); its COMMIT or ROLLBACK marker
takes ``64 (t + d) + 32 + t % 32`` with a delay ``1 <= d <= 31``, so later
transactions interleave with it and every SCN in the log is unique. A DDL
statement takes a slot of its own and auto-commits at its own SCN.
"""

from __future__ import annotations

import hashlib
import math
import os
import random
import time
from dataclasses import dataclass, field
from datetime import datetime, timedelta, timezone
from zoneinfo import ZoneInfo

OWNER, TABLE = "CRAWL", "PAGES"
OP_INSERT, OP_DELETE, OP_UPDATE, OP_DDL, OP_COMMIT, OP_ROLLBACK = 1, 2, 3, 5, 7, 36
OPERATION = {1: "INSERT", 2: "DELETE", 3: "UPDATE", 5: "DDL", 7: "COMMIT", 36: "ROLLBACK"}
CHUNK_CHARS = 4000
# the same for every workload: statements per transaction (mean), paragraphs
# per snapshot page, shares of rolled-back and system-user noise
# transactions, and shares of in-place ROLLBACK=1, STATUS=2 and
# temporary-table statements
MEAN_STMTS = 4.0
SNAPSHOT_PARAGRAPHS = (1, 3)
P_ROLLBACK_TXN = 0.06
P_NOISE_TXN = 0.05
P_INPLACE_ROLLBACK = 0.03
P_STATUS2 = 0.02
P_TEMP_STMT = 0.02
SLOT = 64
MAX_STMTS = 32
MAX_DELAY = 31
SCN_BASE = 5_000_000
# 13 hours before the 2024-03-31 daylight-saving switch in Europe/Berlin, so
# zone-named literals carry both CET and CEST; at 11 s per SCN the largest
# log ends in May, before the autumn switch makes local times ambiguous
EPOCH = datetime(2024, 3, 30, 12, tzinfo=timezone.utc)
BERLIN = ZoneInfo("Europe/Berlin")
PLUS2 = timezone(timedelta(hours=2))

ADDED_COL = "FETCH_STATUS"
RENAMED_COL = "HTTP_STATUS"
ADDED_DEFAULT = 200

WORDS = (
    "merge crawl redo commit rollback snapshot bucket arrow schema column "
    "page index sitemap anchor header footer query engine lake stream "
    "window parse vector batch shard replica o'brien café naïve résumé "
    "zürich kraków data text html link robots canonical fetch status"
).split()
# (html title, the text the extractor makes of it)
TITLES = [
    ("Home", "Home"),
    ("News &amp; Views", "News & Views"),
    ("Docs", "Docs"),
    ("Archive &lt;2024&gt;", "Archive <2024>"),
    ("Q&amp;A &quot;live&quot;", 'Q&A "live"'),
]
LANGS = ["en", "de", "fr", "es", "pl", "it"]

EVENT_COLUMNS = [
    "scn", "commit_scn", "ts", "op_code", "operation", "seg_owner",
    "table_name", "username", "sql_redo", "row_id", "csf", "seq", "xid",
    "status", "rollback",
]
PAGE_COLUMNS = ["url", "warc_ts", "html", "text", "lang"]


@dataclass(frozen=True)
class Shape:
    """Make-up of one generated log and its initial snapshot."""

    n_snapshot: int
    n_txns: int
    n_urls: int
    paragraphs: tuple[int, int] = (2, 5)  # per page, inclusive
    p_insert: float = 0.35
    p_delete: float = 0.10  # the rest are updates
    p_html_update: float = 0.35
    hot_share: float = 0.0  # share of UPDATE/DELETE statements on the hot url
    ddl: bool = False
    n_files: int = 4


@dataclass
class Log:
    """A generated log: event rows in SCN order plus the oracle's inputs."""

    shape: Shape
    rows: list[tuple]  # EVENT_COLUMNS order, sorted by (scn, seq)
    ops: list[tuple]  # (commit_scn, scn, row_id, kind, url, values)
    snapshot: list[dict]  # PAGE_COLUMNS rows, loaded before the log
    snapshot_scn: int
    n_events: int  # DML statements on the monitored table (chunks once)
    hot_url: str | None
    file_bounds: list[int] = field(default_factory=list)  # row index cuts

    def digest(self) -> str:
        h = hashlib.sha256()
        for r in self.rows:
            h.update(repr(r).encode())
        for r in self.snapshot:
            h.update(repr(sorted(r.items())).encode())
        return h.hexdigest()


def _q(s: str) -> str:
    return "'" + s.replace("'", "''") + "'"


def _fmt(dt: datetime) -> str:
    return (
        f"{dt.year:04d}-{dt.month:02d}-{dt.day:02d} "
        f"{dt.hour:02d}:{dt.minute:02d}:{dt.second:02d}.{dt.microsecond:06d}"
    )


def ts_literal(dt: datetime, flavour: int) -> str:
    """Oracle TIMESTAMP literal for the UTC instant ``dt``: 0 = plain
    (database zone, UTC here), 1 = numeric offset, 2 = zone name plus
    abbreviation."""
    if flavour == 0:
        return f"TIMESTAMP '{_fmt(dt.replace(tzinfo=None))}'"
    if flavour == 1:
        local = dt.astimezone(PLUS2)
        return f"TIMESTAMP '{_fmt(local.replace(tzinfo=None))} +02:00'"
    local = dt.astimezone(BERLIN)
    return f"TIMESTAMP '{_fmt(local.replace(tzinfo=None))} Europe/Berlin {local.tzname()}'"


class _Pages:
    """HTML pages built from a seeded paragraph pool; each page's text is
    composed from the same words, never extracted from the HTML."""

    def __init__(self, rng: random.Random, pool: int = 256):
        self.paras = []
        for _ in range(pool):
            words = [rng.choice(WORDS) for _ in range(rng.randint(25, 70))]
            self.paras.append(" ".join(words))

    def page(self, rng: random.Random, rev: int, n_range: tuple[int, int]) -> tuple[bytes, str]:
        t_html, t_text = TITLES[rng.randrange(len(TITLES))]
        paras = [self.paras[rng.randrange(len(self.paras))] for _ in range(rng.randint(*n_range))]
        script = f"<script>var rev={rev};</script>" if rng.random() < 0.4 else ""
        style = "<style>p{margin:0}</style>" if rng.random() < 0.3 else ""
        body = "".join(f"<p>{p}</p>\n" for p in paras)
        html = (
            f"<html><head><title>{t_html}</title>{script}{style}</head>"
            f"<body><!-- rev {rev} -->{body}</body></html>"
        ).encode("utf-8")
        return html, " ".join([t_text, *paras])


def url_of(i: int) -> str:
    # every 50th url carries a quote, which the redo SQL must escape
    if i % 50 == 7:
        return f"https://site{i % 89}.example.org/o'neil/{i}"
    return f"https://site{i % 89}.example.org/p/{i}"


def _deck(rng: random.Random, n: int, shares: dict[str, float]) -> list[str]:
    """``n`` outcomes whose counts are fixed by ``shares`` (the first
    outcome takes what the others leave), in an order the seed shuffles:
    every seed draws the same number of each outcome."""
    items = []
    for outcome, share in list(shares.items())[1:]:
        items += [outcome] * round(share * n)
    items += [next(iter(shares))] * (n - len(items))
    rng.shuffle(items)
    return items


def _stmt_counts(n: int, mean: float) -> list[int]:
    """Statements per transaction: the quantiles of an exponential
    distribution with the given mean, the same multiset for every seed."""
    if mean <= 1:
        return [1] * n
    return [min(MAX_STMTS, 1 + int(-(mean - 1) * math.log(1 - (i + 0.5) / n))) for i in range(n)]


def _ts_of(scn: int) -> datetime:
    off = scn - SCN_BASE
    return EPOCH + timedelta(seconds=11 * off, microseconds=(7919 * off) % 10**6)


def generate(shape: Shape, seed: int, tag: str) -> Log:
    """Build the log for ``shape`` from ``seed``; ``tag`` separates the
    random streams of different workloads that share a seed. The counts of
    transactions, statements and statement kinds depend on the shape only;
    the seed decides their order and content."""
    rng = random.Random(f"cdcbench:{tag}:{seed}")
    pages = _Pages(rng)
    hot_url = url_of(0) if shape.hot_share > 0 else None
    rows: list[tuple] = []
    ops: list[tuple] = []
    n_events = 0

    snapshot = []
    for i in range(shape.n_snapshot):
        html, text = pages.page(rng, 0, SNAPSHOT_PARAGRAPHS)
        snapshot.append({
            "url": url_of(i),
            "warc_ts": EPOCH - timedelta(days=2, seconds=i),
            "html": html,
            "text": text,
            "lang": LANGS[i % len(LANGS)] if rng.random() > 0.1 else None,
        })

    def ev(scn, op, sql, row_id, xid, *, owner=OWNER, table=TABLE, user="CRAWLER",
           commit_scn=None, csf=False, seq=0, status=0, rollback=0):
        rows.append((scn, commit_scn, _ts_of(scn), op, OPERATION[op], owner, table, user,
                     sql, row_id, csf, seq, xid, status, rollback))

    def chunked(scn, op, sql, row_id, xid):
        parts = [sql[i:i + CHUNK_CHARS] for i in range(0, len(sql), CHUNK_CHARS)]
        for seq, part in enumerate(parts):
            ev(scn, op, part, row_id, xid, csf=seq < len(parts) - 1, seq=seq)

    # the DDL statements sit in the middle of the 3rd and 5th eighth of the
    # log, so where they split a file does not depend on the seed
    t_add = (3 * shape.n_txns) // 8 if shape.ddl else -1
    t_ren = (5 * shape.n_txns) // 8 if shape.ddl else -1
    qual = f'"{OWNER}"."{TABLE}"'

    ddl_txns = {t_add, t_ren} if shape.ddl else set()
    dml = [t for t in range(shape.n_txns) if t not in ddl_txns]
    txn_kind = dict(zip(dml, _deck(rng, len(dml), {
        "commit": 0, "noise": P_NOISE_TXN, "rollback": P_ROLLBACK_TXN})))
    n_stmts = {}
    for kind in ("commit", "noise"):
        ts_ = [t for t in dml if (txn_kind[t] == "noise") == (kind == "noise")]
        counts = _stmt_counts(len(ts_), MEAN_STMTS)
        rng.shuffle(counts)
        n_stmts.update(zip(ts_, counts))
    n_dml = sum(n for t, n in n_stmts.items() if txn_kind[t] != "noise")
    special = P_INPLACE_ROLLBACK + P_STATUS2 + P_TEMP_STMT
    kinds = _deck(rng, n_dml, {
        "update": 0, "rollback_row": P_INPLACE_ROLLBACK, "status2": P_STATUS2,
        "temp": P_TEMP_STMT, "insert": (1 - special) * shape.p_insert,
        "delete": (1 - special) * shape.p_delete})
    stmt_kinds = iter(kinds)
    n_upd, n_del = kinds.count("update"), kinds.count("delete")
    hot = iter(_deck(rng, n_upd + n_del, {"cold": 0, "hot": shape.hot_share}))
    html_update = iter(_deck(rng, n_upd, {"no": 0, "yes": shape.p_html_update}))

    def pick_url(for_change: bool) -> str:
        if for_change and hot_url is not None and next(hot) == "hot":
            return hot_url
        return url_of(rng.randrange(shape.n_urls))

    for t in range(shape.n_txns):
        base = SCN_BASE + SLOT * t
        xid = f"{t:04x}.{(t * 7) % 31:03x}.{t:08x}"
        if t in (t_add, t_ren):
            if t == t_add:
                sql = f'alter table {qual} add ("{ADDED_COL}" NUMBER(3) DEFAULT {ADDED_DEFAULT})'
                ops.append((base, base, f"DDL{t:09d}", "ddl_add", None,
                            {"column": ADDED_COL.lower(), "default": ADDED_DEFAULT}))
            else:
                sql = f'alter table {qual} rename column "{ADDED_COL}" to "{RENAMED_COL}"'
                ops.append((base, base, f"DDL{t:09d}", "ddl_rename", None,
                            {"old": ADDED_COL.lower(), "new": RENAMED_COL.lower()}))
            ev(base, OP_DDL, sql, f"DDL{t:09d}", xid, commit_scn=base)
            continue
        # the evolved column's name as this transaction's DML sees it; none
        # inside the margin before the rename, so no statement naming the
        # old column can commit after the rename
        extra = None
        if shape.ddl and t > t_add:
            if t > t_ren:
                extra = RENAMED_COL
            elif t <= t_ren - MAX_DELAY - 1:
                extra = ADDED_COL
        n = n_stmts[t]
        commit_scn = SCN_BASE + SLOT * (t + rng.randint(1, MAX_DELAY)) + 32 + t % 32
        if txn_kind[t] == "noise":
            for j in range(n):
                ev(base + j, OP_INSERT, f'insert into "SYS"."OBJ$"("OBJ#","NAME") values '
                   f"({rng.randrange(10**6)},'I_OBJ{j}')", f"NOISE{t:07d}{j:03d}", xid,
                   owner="SYS", table="OBJ$", user="KMINER")
            ev(commit_scn, OP_COMMIT, "commit", f"NOISE{t:07d}END", xid, owner=None,
               table=None, user="KMINER", commit_scn=commit_scn)
            continue
        committed = txn_kind[t] == "commit"
        for j in range(n):
            scn = base + j
            row_id = f"AAAQ{t:07d}{j:03d}"
            ts = _ts_of(scn)
            n_events += 1
            k = next(stmt_kinds)
            if k == "rollback_row":
                ev(scn, OP_DELETE, f'delete from {qual} where "URL" = {_q(pick_url(False))}',
                   row_id, xid, rollback=1)
                continue
            if k == "status2":
                ev(scn, OP_UPDATE, "Unsupported Type", row_id, xid, status=2)
                continue
            if k == "temp":
                ev(scn, OP_INSERT, f'insert into {qual}("URL","LANG") values '
                   f"({_q(pick_url(False))},'xx') -- temporary tables", row_id, xid)
                continue
            if k == "insert":
                url = pick_url(False)
                html, text = pages.page(rng, scn, shape.paragraphs)
                lang = LANGS[rng.randrange(len(LANGS))] if rng.random() > 0.1 else None
                vals = {"url": url, "warc_ts": ts, "html": html, "text": text, "lang": lang}
                cols = ['"URL"', '"WARC_TS"', '"HTML"', '"LANG"']
                lits = [_q(url), ts_literal(ts, rng.choice((0, 0, 1, 2))),
                        f"HEXTORAW('{html.hex()}')", "NULL" if lang is None else _q(lang)]
                if extra is not None:
                    status = rng.randint(100, 599)
                    cols.append(f'"{extra}"')
                    lits.append(str(status))
                    vals[extra.lower()] = status
                sql = f"insert into {qual}({','.join(cols)}) values ({','.join(lits)})"
                chunked(scn, OP_INSERT, sql, row_id, xid)
                kind = "insert"
            elif k == "delete":
                url = pick_url(True)
                where = f'"URL" = {_q(url)}'
                if rng.random() < 0.2:
                    where += ' and "LANG" IS NULL'
                chunked(scn, OP_DELETE, f"delete from {qual} where {where}", row_id, xid)
                kind, vals = "delete", {}
            else:
                url = pick_url(True)
                sets, vals = [], {}
                if next(html_update) == "yes":
                    html, text = pages.page(rng, scn, shape.paragraphs)
                    sets.append(f"\"HTML\" = HEXTORAW('{html.hex()}')")
                    vals["html"], vals["text"] = html, text
                if not sets or rng.random() < 0.5:
                    # a third of these set the column to NULL
                    lang = None if rng.random() < 0.33 else LANGS[rng.randrange(len(LANGS))]
                    sets.append(f'"LANG" = {"NULL" if lang is None else _q(lang)}')
                    vals["lang"] = lang
                if rng.random() < 0.3:
                    sets.append(f'"WARC_TS" = {ts_literal(ts, rng.choice((0, 1, 2)))}')
                    vals["warc_ts"] = ts
                if extra is not None and rng.random() < 0.4:
                    status = None if rng.random() < 0.2 else rng.randint(100, 599)
                    sets.append(f'"{extra}" = {"NULL" if status is None else status}')
                    vals[extra.lower()] = status
                rng.shuffle(sets)
                where = f'"URL" = {_q(url)}'
                if rng.random() < 0.3:
                    where += f" and \"ROWID\" = 'AAAR{rng.randrange(10**9):010d}'"
                sql = f"update {qual} set {', '.join(sets)} where {where}"
                chunked(scn, OP_UPDATE, sql, row_id, xid)
                kind = "update"
            if committed:
                ops.append((commit_scn, scn, row_id, kind, url, vals))
        marker = OP_COMMIT if committed else OP_ROLLBACK
        ev(commit_scn, marker, OPERATION[marker].lower(), f"AAAQ{t:07d}END", xid,
           owner=None, table=None, commit_scn=commit_scn)

    rows.sort(key=lambda r: (r[0], r[11]))
    # files hold equal shares of the transaction slots, in SCN order
    bounds = [0]
    for k in range(1, shape.n_files):
        cut = SCN_BASE + SLOT * ((k * shape.n_txns) // shape.n_files)
        bounds.append(next((i for i in range(bounds[-1], len(rows)) if rows[i][0] >= cut), len(rows)))
    bounds.append(len(rows))
    return Log(shape, rows, ops, snapshot, SCN_BASE - 1, n_events, hot_url, bounds)


# ----------------------------------------------------------------- files
def _arrow_events(rows: list[tuple]):
    import pyarrow as pa

    cols = list(zip(*rows)) if rows else [[] for _ in EVENT_COLUMNS]
    types = [pa.int64(), pa.int64(), pa.timestamp("us", tz="UTC"), pa.int32(), pa.string(),
             pa.string(), pa.string(), pa.string(), pa.string(), pa.string(), pa.bool_(),
             pa.int32(), pa.string(), pa.int32(), pa.int32()]
    return pa.table({n: pa.array(c, type=t) for n, c, t in zip(EVENT_COLUMNS, cols, types)})


def write_log(log: Log, events_dir: str) -> list[str]:
    """One parquet file per SCN-ordered share of the log, named so that a
    directory listing returns them in SCN order, with modification times one
    second apart in the same order, as a log appended over time has: a
    streaming file source takes files in modification-time order, and files
    written within the same millisecond may come in any order."""
    import pyarrow.parquet as pq

    os.makedirs(events_dir, exist_ok=True)
    paths = []
    t0 = time.time_ns() - (len(log.file_bounds) - 1) * 10**9
    for k in range(len(log.file_bounds) - 1):
        part = log.rows[log.file_bounds[k]:log.file_bounds[k + 1]]
        path = os.path.join(events_dir, f"redo-{k:04d}.parquet")
        pq.write_table(_arrow_events(part), path)
        os.utime(path, ns=(t0 + k * 10**9,) * 2)
        paths.append(path)
    return paths


def write_snapshot(log: Log, path: str) -> str:
    import pyarrow as pa
    import pyarrow.parquet as pq

    s = log.snapshot
    table = pa.table({
        "url": pa.array([r["url"] for r in s], pa.string()),
        "warc_ts": pa.array([r["warc_ts"] for r in s], pa.timestamp("us", tz="UTC")),
        "html": pa.array([r["html"] for r in s], pa.binary()),
        "text": pa.array([r["text"] for r in s], pa.string()),
        "lang": pa.array([r["lang"] for r in s], pa.string()),
    })
    pq.write_table(table, path)
    return path


# ---------------------------------------------------------------- oracle
def expected_state(log: Log) -> tuple[list[str], dict[str, dict]]:
    """Reduce the intended operations onto the snapshot in
    ``(commit_scn, scn, row_id)`` order. An UPDATE of an absent key inserts
    its partial image; a DELETE of an absent key does nothing; an ADD
    COLUMN gives existing rows its default. Returns ``(columns, rows by
    url)``."""
    columns = list(PAGE_COLUMNS)
    state = {r["url"]: dict(r) for r in log.snapshot}
    for commit_scn, scn, row_id, kind, url, vals in sorted(log.ops, key=lambda o: o[:3]):
        if kind == "ddl_add":
            columns.append(vals["column"])
            for row in state.values():
                row[vals["column"]] = vals["default"]
        elif kind == "ddl_rename":
            columns[columns.index(vals["old"])] = vals["new"]
            for row in state.values():
                row[vals["new"]] = row.pop(vals["old"], None)
        elif kind == "delete":
            state.pop(url, None)
        else:
            if kind == "insert" or url not in state:
                row = dict.fromkeys(columns)
                row["url"] = url
                state[url] = row
            state[url].update(vals)
    return columns, {u: {c: r.get(c) for c in columns} for u, r in state.items()}


def _us(ts) -> int | None:
    """Microseconds since the epoch of a datetime or pandas Timestamp;
    naive values are UTC (the session time zone)."""
    if ts is None:
        return None
    if getattr(ts, "tzinfo", None) is None:
        ts = ts.replace(tzinfo=timezone.utc)
    return round((ts - datetime(1970, 1, 1, tzinfo=timezone.utc)).total_seconds() * 1e6)


def compare(expected: tuple[list[str], dict[str, dict]], actual_columns: list[str],
            actual_rows: list[dict], limit: int = 5) -> list[str]:
    """Row-for-row, column-for-column comparison; returns the differences
    found (empty when the table equals the oracle)."""
    columns, exp = expected
    diffs = []
    if list(actual_columns) != columns:
        diffs.append(f"columns {list(actual_columns)} != expected {columns}")
        return diffs
    seen = set()
    for row in actual_rows:
        url = row["url"]
        if url in seen:
            diffs.append(f"duplicate row {url!r}")
            continue
        seen.add(url)
        want = exp.get(url)
        if want is None:
            diffs.append(f"extra row {url!r}")
            continue
        for c in columns:
            got, w = row.get(c), want.get(c)
            if c == "warc_ts":
                got, w = _us(got), _us(w)
            elif c == "html" and got is not None:
                got = bytes(got)
            elif got is not None and w is not None and isinstance(w, int):
                got = int(got)
            if got != w:
                diffs.append(f"{url!r}.{c}: {str(got)[:60]!r} != expected {str(w)[:60]!r}")
        if len(diffs) >= limit:
            return diffs
    for url in exp.keys() - seen:
        diffs.append(f"missing row {url!r}")
        if len(diffs) >= limit:
            break
    return diffs
