"""Fast tests of the benchmark's generator, oracle and check (no Spark).

    python3 -m pytest cdcbench -q
"""

from __future__ import annotations

import copy
import os
import sys
import tempfile

import pytest

sys.path.insert(0, os.path.dirname(os.path.abspath(__file__)))

import gen  # noqa: E402

SHAPE = gen.Shape(n_snapshot=60, n_txns=240, n_urls=90, hot_share=0.4, ddl=True, n_files=3)
COL = {c: i for i, c in enumerate(gen.EVENT_COLUMNS)}


@pytest.fixture(scope="module")
def log():
    return gen.generate(SHAPE, 7, "test")


@pytest.fixture(scope="module")
def expected(log):
    return gen.expected_state(log)


def table_of(expected):
    """The expected state as a table read would return it."""
    columns, rows = expected
    return list(columns), [copy.deepcopy(r) for r in rows.values()]


def test_check_passes_on_the_oracle_state(expected):
    assert gen.compare(expected, *table_of(expected)) == []


def _some_row(rows, predicate):
    return next(r for r in rows if predicate(r))


@pytest.mark.parametrize("corrupt", [
    "missing_row", "extra_row", "html_byte", "lang", "evolved_missing",
    "evolved_not_renamed", "text_space", "duplicate_row", "warc_ts",
])
def test_check_fails_on_corrupted_state(expected, corrupt):
    columns, rows = table_of(expected)
    if corrupt == "missing_row":
        rows.pop(3)
    elif corrupt == "extra_row":
        rows.append({**rows[0], "url": "https://nowhere.example.org/x"})
    elif corrupt == "html_byte":
        r = _some_row(rows, lambda r: r["html"])
        r["html"] = r["html"][:10] + bytes([r["html"][10] ^ 1]) + r["html"][11:]
    elif corrupt == "lang":
        r = _some_row(rows, lambda r: r["lang"])
        r["lang"] = "xx"
    elif corrupt == "evolved_missing":
        columns.remove(gen.RENAMED_COL.lower())
        for r in rows:
            del r[gen.RENAMED_COL.lower()]
    elif corrupt == "evolved_not_renamed":
        columns[columns.index(gen.RENAMED_COL.lower())] = gen.ADDED_COL.lower()
        for r in rows:
            r[gen.ADDED_COL.lower()] = r.pop(gen.RENAMED_COL.lower())
    elif corrupt == "text_space":
        r = _some_row(rows, lambda r: r["text"])
        r["text"] = r["text"] + " "
    elif corrupt == "duplicate_row":
        rows.append(dict(rows[0]))
    elif corrupt == "warc_ts":
        r = _some_row(rows, lambda r: r["warc_ts"])
        r["warc_ts"] = r["warc_ts"].replace(microsecond=(r["warc_ts"].microsecond + 1) % 10**6)
    assert gen.compare(expected, columns, rows) != []


def test_same_seed_same_digest_other_seed_other_digest(log):
    assert gen.generate(SHAPE, 7, "test").digest() == log.digest()
    assert gen.generate(SHAPE, 8, "test").digest() != log.digest()
    assert gen.generate(SHAPE, 7, "other").digest() != log.digest()


def _txn_rows(log):
    by_xid: dict[str, list[tuple]] = {}
    for r in log.rows:
        by_xid.setdefault(r[COL["xid"]], []).append(r)
    return by_xid


def test_rolled_back_and_noise_transactions_leave_no_trace(log, expected):
    _, state = expected
    htmls = {r["html"] for r in state.values()}
    op_rows = {o[2] for o in log.ops}
    n_dropped = 0
    for rows in _txn_rows(log).values():
        marker = rows[-1]
        dropped = (marker[COL["op_code"]] == gen.OP_ROLLBACK
                   or marker[COL["username"]] == "KMINER")
        if not dropped:
            continue
        n_dropped += 1
        for r in rows[:-1]:
            assert r[COL["row_id"]] not in op_rows
            sql = r[COL["sql_redo"]]
            if "HEXTORAW('" in sql and not r[COL["csf"]]:
                # every page carries its statement's SCN, so no other
                # statement prints the same bytes
                hexes = sql.split("HEXTORAW('")[1:]
                for h in hexes:
                    page = h.split("'")[0]
                    if len(page) % 2 == 0:
                        assert bytes.fromhex(page) not in htmls
    assert n_dropped > 0


def test_deleted_keys_are_absent(log, expected):
    _, state = expected
    last = {}
    for o in sorted(log.ops, key=lambda o: o[:3]):
        if o[4] is not None:
            last[o[4]] = o[3]
    deleted = [u for u, kind in last.items() if kind == "delete"]
    assert deleted
    assert not set(deleted) & set(state)


def test_log_shape(log):
    sqls = [r[COL["sql_redo"]] for r in log.rows]
    assert max(len(s) for s in sqls) <= gen.CHUNK_CHARS
    assert any(r[COL["csf"]] for r in log.rows)
    assert any(r[COL["rollback"]] == 1 for r in log.rows)
    assert any(r[COL["status"]] == 2 for r in log.rows)
    assert any("temporary tables" in s for s in sqls)
    joined = "\n".join(sqls)
    for needle in ("+02:00'", "Europe/Berlin CET'", "Europe/Berlin CEST'", '"LANG" = NULL',
                   "add (\"FETCH_STATUS\"", "rename column", "''"):
        assert needle in joined, needle
    # SCNs are unique per record and chunks of a statement are consecutive
    seen = set()
    prev = None
    for r in log.rows:
        key = (r[COL["scn"]], r[COL["seq"]])
        assert key not in seen
        seen.add(key)
        if r[COL["seq"]]:
            assert prev[COL["scn"]] == r[COL["scn"]] and prev[COL["seq"]] == r[COL["seq"]] - 1
        prev = r
    # file cuts fall between records
    assert all(log.rows[b][COL["seq"]] == 0 for b in log.file_bounds[:-1])


def test_hot_url_share(log):
    where_urls = [r[COL["sql_redo"]].rsplit('"URL" = ', 1)[1] for r in log.rows
                  if r[COL["op_code"]] in (gen.OP_UPDATE, gen.OP_DELETE) and not r[COL["csf"]]
                  and r[COL["status"]] == 0 and r[COL["rollback"]] == 0 and '"URL" = ' in r[COL["sql_redo"]]]
    hot = sum(u.startswith(f"'{log.hot_url}'") for u in where_urls)
    assert 0.3 < hot / len(where_urls) < 0.5


def test_composed_text_matches_the_engine_extractor(log):
    extract = pytest.importorskip(
        "logminer_kafka_connect_spark.functions.text_extract").extract_text
    pages = [r for r in log.snapshot] + [o[5] for o in log.ops if o[5] and "html" in o[5]]
    assert pages
    for p in pages:
        assert extract(p["html"]) == p["text"]


def test_benchmark_json_names_every_metric_the_run_prints():
    import json

    import run

    root = os.path.dirname(os.path.dirname(os.path.abspath(__file__)))
    with open(os.path.join(root, "BENCHMARK.json")) as f:
        bench = json.load(f)
    assert {w["name"] for w in bench["workloads"]} == set(run.WORKLOADS)
    assert {m["name"]: m["unit"] for m in bench["end_to_end"]} == run.END_TO_END
    assert {m["name"]: m["unit"] for m in bench["per_layer"]} == run.per_layer_units()


def test_log_files_are_modified_in_scn_order(log):
    with tempfile.TemporaryDirectory() as d:
        paths = gen.write_log(log, d)
        mtimes = [os.stat(p).st_mtime_ns for p in paths]
    assert len(paths) == SHAPE.n_files
    assert paths == sorted(paths)
    assert all(a < b for a, b in zip(mtimes, mtimes[1:]))
