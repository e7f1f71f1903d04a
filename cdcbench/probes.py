"""Direct in-process timings of the per-row functions on the workload's own
rows: the fused CSF reassembly + parse over Arrow-batch-sized frames, the
per-statement parser, and the HTML text extractor."""

from __future__ import annotations

import time

import gen

ARROW_BATCH = 10_000  # spark.sql.execution.arrow.maxRecordsPerBatch default
MAX_ROWS = 12_000
MAX_DOCS = 3_000
FUSED_COLS = ["xid", "scn", "row_id", "commit_scn", "op_code", "seq", "csf", "sql_redo"]
_IDX = {c: i for i, c in enumerate(gen.EVENT_COLUMNS)}


def _change_rows(log: gen.Log) -> list[tuple]:
    """The log's change rows the engine parses (the selector, rollback,
    status and temporary-table filters), whole records, at most MAX_ROWS."""
    out = []
    for r in log.rows:
        if (r[_IDX["seg_owner"]] == gen.OWNER and r[_IDX["table_name"]] == gen.TABLE
                and r[_IDX["op_code"]] in (gen.OP_INSERT, gen.OP_DELETE, gen.OP_UPDATE)
                and r[_IDX["rollback"]] == 0 and r[_IDX["status"]] != 2
                and "temporary tables" not in r[_IDX["sql_redo"]]):
            if len(out) >= MAX_ROWS and r[_IDX["seq"]] == 0:
                break
            out.append(r)
    return out


def _timed(fn) -> float:
    """Seconds of the second of two calls (the first warms caches)."""
    fn()
    t0 = time.perf_counter()
    fn()
    return time.perf_counter() - t0


def run(log: gen.Log, schema) -> dict[str, float]:
    import pandas as pd

    from logminer_kafka_connect_spark.functions.redo_parse import (
        make_fused_reassemble_parse_fn,
        make_row_parser,
    )
    from logminer_kafka_connect_spark.functions.text_extract import extract_text

    rows = _change_rows(log)
    pdf = pd.DataFrame([[r[_IDX[c]] for c in FUSED_COLS] for r in rows], columns=FUSED_COLS)
    frames = [pdf.iloc[i:i + ARROW_BATCH].reset_index(drop=True) for i in range(0, len(pdf), ARROW_BATCH)]
    fused, _ = make_fused_reassemble_parse_fn(schema.fields, "url", "UTC")
    t_fused = _timed(lambda: sum(len(out) for out in fused(iter(frames))))

    stmts, cur = [], None
    for r in rows:
        if r[_IDX["seq"]] == 0:
            cur = [r[_IDX["sql_redo"]], r[_IDX["op_code"]]]
            stmts.append(cur)
        else:
            cur[0] += r[_IDX["sql_redo"]]
    one, _ = make_row_parser(schema.fields, "url", "UTC")
    t_stmt = _timed(lambda: [one(s, op) for s, op in stmts])

    docs = [v["html"] for *_, v in log.ops if v and "html" in v][:MAX_DOCS]
    t_doc = _timed(lambda: [extract_text(d) for d in docs])
    return {
        "redo_parse.us_per_row": 1e6 * t_fused / max(1, len(rows)),
        "redo_parse.us_per_stmt": 1e6 * t_stmt / max(1, len(stmts)),
        "text_extract.us_per_doc": 1e6 * t_doc / max(1, len(docs)),
    }
