"""Cluster entrypoint: run a CDC replay under ``spark-submit --py-files``.

The north_rule requires the engine to run "via spark-submit --py-files on
a multi-executor cluster". This is that application file: it imports the
engine ONLY from the ``--py-files``-shipped zip (no repo checkout on the
cluster), replays a change log into the lake table, and prints one JSON
summary line. Reference lifecycle analog: SourceTask.kt start/poll.

Usage:
    spark-submit --master <master> --py-files lmkc.zip scripts/submit_job.py \
        --events <parquet dir> --workdir <table+lineage dir> \
        [--snapshot <parquet dir> --snapshot-scn <scn>] [--batches N]

Build the zip with ``python scripts/make_pyfiles.py /tmp/lmkc.zip``.
"""

from __future__ import annotations

import argparse
import json
import sys


def main() -> int:
    ap = argparse.ArgumentParser()
    ap.add_argument("--events", required=True, help="change-log parquet dir")
    ap.add_argument("--workdir", required=True, help="table/lineage/quarantine root")
    ap.add_argument("--snapshot", default=None, help="initial-snapshot parquet dir")
    ap.add_argument("--snapshot-scn", type=int, default=None)
    ap.add_argument("--batches", type=int, default=4)
    ap.add_argument("--n-buckets", type=int, default=16)
    ap.add_argument("--tracking", action="store_true", help="record the open-txn watermark")
    args = ap.parse_args()

    # Session comes from spark-submit's conf (master, executors, py-files);
    # builder.getOrCreate attaches rather than re-configures.
    from pyspark.sql import SparkSession

    spark = SparkSession.builder.appName("lmkc-cdc-replay").getOrCreate()

    # These imports resolve from the --py-files zip on driver AND inside
    # every pandas-UDF worker (spark.submit.pyFiles lands on sys.path).
    from logminer_kafka_connect_spark.engine import CdcEngine
    from logminer_kafka_connect_spark.sources.events import EVENT_SCHEMA

    engine = CdcEngine(spark, args.workdir, n_buckets=args.n_buckets)
    engine.driver.track_watermark = args.tracking

    if args.snapshot is not None:
        if args.snapshot_scn is None:
            ap.error("--snapshot requires --snapshot-scn")
        engine.load_snapshot(
            spark.read.parquet(args.snapshot), snapshot_scn=args.snapshot_scn
        )

    events = spark.read.schema(EVENT_SCHEMA).parquet(args.events)
    stats = engine.replay(events, n_batches=args.batches)
    n_state = engine.state().count()
    print(
        json.dumps(
            {
                "applied_batches": stats.n_batches,
                "events_applied": stats.n_events_applied,
                "parse_errors": stats.n_parse_errors,
                "table_rows": n_state,
                "table_version": engine.table.current_version(),
            }
        )
    )
    spark.stop()
    return 0


if __name__ == "__main__":
    sys.exit(main())
