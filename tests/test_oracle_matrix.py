"""Every apply mode against one independent oracle.

One small seeded log from ``cdcbench/gen.py`` (interleaved multi-statement
transactions, rollbacks, CSF chunks, system-user noise, an ADD then a RENAME
COLUMN, a hot url) is applied by each mode of the engine. The final table
must equal ``gen.expected_state``, which reduces the generator's intended
operations in pure Python and shares no code with the engine; every batch
record must carry exactly its driver's fields, and a second apply of the same
log must commit no table version.
"""

from __future__ import annotations

import os
import shutil
import sys
import tempfile

import pytest

from logminer_kafka_connect_spark.engine import (
    PAGES_SCHEMA,
    CdcEngine,
    MultiTableCdcEngine,
    TableSpec,
)

sys.path.insert(0, os.path.join(os.path.dirname(os.path.dirname(__file__)), "cdcbench"))
import gen  # noqa: E402

SHAPE = gen.Shape(n_snapshot=40, n_txns=40, n_urls=60, n_files=3, ddl=True, hot_share=0.2)
SEED = 11


@pytest.fixture(scope="module")
def log_inputs():
    d = tempfile.mkdtemp(prefix="lmkc-matrix-")
    log = gen.generate(SHAPE, SEED, "matrix")
    events_dir = os.path.join(d, "redo")
    gen.write_log(log, events_dir)
    snapshot = gen.write_snapshot(log, os.path.join(d, "snapshot.parquet"))
    yield log, events_dir, snapshot
    shutil.rmtree(d, ignore_errors=True)


def _single(**kw):
    def make(spark, workdir):
        eng = CdcEngine(spark, workdir, **kw)
        return eng, eng.table, eng.state, eng.load_snapshot

    return make


def _fused_off(spark, workdir):
    eng = CdcEngine(spark, workdir)
    eng.driver.fused_parse = False
    return eng, eng.table, eng.state, eng.load_snapshot


def _multi(spark, workdir):
    eng = MultiTableCdcEngine(
        spark, workdir, [TableSpec(gen.OWNER, gen.TABLE, PAGES_SCHEMA, "url")]
    )
    return (
        eng,
        eng.table(gen.TABLE),
        lambda: eng.state(gen.TABLE),
        lambda df, snapshot_scn: eng.load_snapshot(gen.TABLE, df, snapshot_scn),
    )


def _replay(n_batches):
    def apply(spark, eng, events_dir, ckpt):
        eng.replay(spark.read.parquet(events_dir), n_batches=n_batches)

    return apply


def _stream(spark, eng, events_dir, ckpt):
    q = eng.run_streaming(events_dir, ckpt, max_files_per_trigger=1)
    q.awaitTermination()
    assert q.exception() is None, q.exception()


# On a log this small the "auto" skew probe never engages, so the default
# engine and salt_chunks=None fold the same way: one replay(1) mode serves
# both, and replay(3) keeps the probe.
MODES = {
    "replay-1-unsalted": (_single(salt_chunks=None), _replay(1)),
    "replay-3": (_single(), _replay(3)),
    "stream": (_single(), _stream),
    "mor-compact": (_single(merge_mode="mor", compact_every=2), _replay(1)),
    "audit": (_single(audit_hook=lambda df: True), _replay(1)),
    "salt-forced": (_single(salt_chunks=4), _replay(1)),
    "exchange": (_fused_off, _replay(1)),
    "multi-replay": (_multi, _replay(1)),
    "multi-stream": (_multi, _stream),
}


#: batch-record fields of every batch; replay ranges add the watermark
#: fields, the multi-table driver adds its per-table counts
RECORD_KEYS = {
    "batch_id", "scn_lo", "scn_hi", "commit_watermark", "n_net_rows",
    "n_parse_errors", "n_quarantined", "table_version", "wall_s", "partitions",
}


@pytest.mark.parametrize("mode", list(MODES))
def test_mode_matches_oracle(spark, tmpdir_path, log_inputs, mode):
    log, events_dir, snapshot = log_inputs
    make, apply = MODES[mode]
    eng, table, state, load = make(spark, os.path.join(tmpdir_path, "engine"))
    load(spark.read.parquet(snapshot), snapshot_scn=log.snapshot_scn)
    ckpt = os.path.join(tmpdir_path, "checkpoint")

    apply(spark, eng, events_dir, ckpt)
    pdf = state().toPandas()
    rows = pdf.astype(object).where(pdf.notna(), None).to_dict("records")
    assert gen.compare(gen.expected_state(log), list(pdf.columns), rows) == []
    keys = set(RECORD_KEYS)
    if apply is not _stream:
        keys |= {"resume_change_lo", "n_open_changes"}
    if make is _multi:
        keys.add("tables")
    records = eng.lineage.batches()
    assert records and all(set(r) == keys for r in records)

    n_versions = len(table.snapshot_history())
    apply(spark, eng, events_dir, ckpt)
    assert len(table.snapshot_history()) == n_versions
