"""Additive stage profiling of the bulk-replay pipeline (guide §1.4):
each step noop-sinked on a warm session so step N+1 minus step N isolates
one operator's cost. Pin with taskset; pass the bench data dir.

Usage: taskset -c 0-3 python scripts/profile_replay.py 4 /tmp/lmkc-benchdata-720000
"""

from __future__ import annotations

import os
import sys
import time

sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

import tempfile

from pyspark.sql import functions as F


def main():
    n_cpus = int(sys.argv[1])
    data = sys.argv[2]
    from logminer_kafka_connect_spark.engine import (
        DEFAULT_SELECTORS,
        PAGES_SCHEMA,
        CdcEngine,
    )
    from logminer_kafka_connect_spark.operators.apply import (
        build_merge_source_typed,
        parse_committed_typed,
    )
    from logminer_kafka_connect_spark.operators.consolidate import (
        consolidate,
        reassemble_csf,
    )
    from logminer_kafka_connect_spark.operators.filters import (
        filter_changes,
        filter_markers,
    )
    from logminer_kafka_connect_spark.session import get_spark
    from logminer_kafka_connect_spark.sources.events import EVENT_SCHEMA
    from logminer_kafka_connect_spark.sources.generator import SCN0

    spark = get_spark(
        app_name="profile-replay",
        master=f"local[{n_cpus}]",
        shuffle_partitions=int(os.environ.get("LMKC_SHUFFLE", str(n_cpus))),
        driver_memory="48g",
        extra_conf={"spark.sql.files.minPartitionNum": str(2 * n_cpus)},
    )
    events = spark.read.schema(EVENT_SCHEMA).parquet(f"{data}/events")

    def noop(df, label, reps=1):
        best = 1e9
        for _ in range(reps):
            spark.sparkContext.setJobDescription(label)
            t0 = time.time()
            df.write.format("noop").mode("overwrite").save()
            best = min(best, time.time() - t0)
        print(f"## {label}: {best:.2f}s", flush=True)
        return best

    # warm: one light pass of everything (JIT + Arrow workers + page cache)
    committed_w = consolidate(
        events.filter(F.col("scn") < SCN0 + 50_000), DEFAULT_SELECTORS, None, None
    )
    build_merge_source_typed(
        parse_committed_typed(committed_w, PAGES_SCHEMA).filter(
            F.col("parse_error").isNull()
        ),
        PAGES_SCHEMA,
    ).write.format("noop").mode("overwrite").save()

    noop(events.select("scn", "op_code"), "0 narrow scan", reps=2)
    changes = filter_changes(events, DEFAULT_SELECTORS)
    noop(changes, "1 change scan (full width)", reps=2)
    noop(reassemble_csf(changes), "2 + reassemble")
    committed = consolidate(events, DEFAULT_SELECTORS, None, None)
    noop(committed, "3 + commit join/anti-join")
    parsed = parse_committed_typed(committed, PAGES_SCHEMA)
    noop(parsed, "4 + typed parse UDF")
    ok = parsed.filter(F.col("parse_error").isNull())
    from logminer_kafka_connect_spark.operators.dedup import net_effect_typed

    net = net_effect_typed(ok, PAGES_SCHEMA.fields, key_col="url")
    noop(net, "5 + net-effect fold")
    src = build_merge_source_typed(ok, PAGES_SCHEMA)
    noop(src, "6 + typed projection + text extract")

    # full merge (write included) against a fresh table
    workdir = tempfile.mkdtemp(prefix="lmkc-prof-")
    engine = CdcEngine(spark, workdir, n_buckets=64)
    engine.driver.track_watermark = False
    engine.driver.prune_buckets = False
    engine.driver.salt_chunks = None
    engine.load_snapshot(spark.read.parquet(f"{data}/snapshot"), snapshot_scn=SCN0 - 1)
    spark.sparkContext.setJobDescription("7 full merge")
    t0 = time.time()
    engine.replay(events, n_batches=1)
    print(f"## 7 full replay incl merge+write: {time.time() - t0:.2f}s", flush=True)
    spark.stop()


if __name__ == "__main__":
    main()
