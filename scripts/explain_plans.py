"""Dump physical plans for the engine's hot-path operators — the
scale-readiness evidence (pushdown, broadcast, codegen spans, exchanges).

Usage: python scripts/explain_plans.py [sf_dir] > PLANS.md
"""

from __future__ import annotations

import io
import os
import sys
from contextlib import redirect_stdout

# import the engine from this checkout, wherever it lives
sys.path.insert(0, os.path.dirname(os.path.dirname(os.path.abspath(__file__))))

from pyspark.sql import functions as F  # noqa: E402

from logminer_kafka_connect_spark import entry_queries  # noqa: E402
from logminer_kafka_connect_spark.engine import PAGES_SCHEMA  # noqa: E402
from logminer_kafka_connect_spark.operators.apply import (  # noqa: E402
    build_merge_source_typed,
    parse_committed_typed,
)
from logminer_kafka_connect_spark.operators.consolidate import consolidate  # noqa: E402
from logminer_kafka_connect_spark.session import get_spark  # noqa: E402
from logminer_kafka_connect_spark.sources.generator import (  # noqa: E402
    CdcGenerator,
    GeneratorConfig,
)

SHOW = [
    "q01_pricing_summary",
    "f02_predicate_stack",
    "j03_commit_join",
    "a05_latest_per_key",
    "j13_dim_lookup",
    "d15_minhash_lsh",
    "n18_cosine_topk",
    "t23_repetition_stats",
    "t24_hash_split",  # the no-Exchange narrow plan is the point
    "w26_event_windows",
    "w27_session_windows",
    "a08s_value_percentiles_sketch",
    # round-5 additions: broadcast-side decontamination, as-of union-scan,
    # one-pass ROLLUP (Expand), delta-vs-base LSH
    "j14_asof_join",
    "a11_rollup_stats",
    "t27_unigram_logprob",
    "d21_decontaminate",
    "d23_incremental_dedup",
    "j15_range_join",     # grid-cell equi-join, NOT BroadcastNestedLoop
    "n20_kmeans_step",    # broadcast assignment + (cluster, dim) partial agg
    # round-5 session-4 additions
    "a13_funnel_steps",   # 3-step funnel, ONE user_id Exchange (stacked windows)
    "t30_boilerplate_ngrams",  # shingle explode + single count shuffle
    "t31_word_entropy",   # two doc-keyed partial-agg shuffles, no window
    "t32_weighted_sample",  # ES weighted sample: stratum window, hash uniforms
    "r01_bm25_topk",      # TakeOrderedAndProject global top-k (no 1-partition sort)
    "t34_classifier_gate",  # model inference inlined: narrow, no Exchange/Python
    "d26_containment",    # one co-shingle join, both directions derived
]


def explain_str(df) -> str:
    buf = io.StringIO()
    with redirect_stdout(buf):
        df.explain("formatted")
    return buf.getvalue()


def main():
    import os

    # keep textops' eager materialization (cache-hygiene localCheckpoint)
    # out of the way so the FULL verification plan is dumped
    os.environ["LMKC_EXPLAIN"] = "1"
    sf_dir = sys.argv[1] if len(sys.argv) > 1 else "/root/testdata/sf0.01"
    spark = get_spark(app_name="plans", shuffle_partitions=8)

    print("# Physical plans (explain formatted)\n")
    for name in SHOW:
        df = entry_queries.QUERIES[name](spark, sf_dir)
        print(f"## {name}\n\n```\n{explain_str(df)}```\n")

    gen = CdcGenerator(GeneratorConfig(seed=42, n_txns=50, n_urls=80, n_snapshot=0))
    events = gen.events_df(spark)
    # the engine's replay plan: chunk stream -> fused reassembly + typed
    # parse -> typed net-effect fold -> MERGE source
    committed = consolidate(events, [("CRAWL", "PAGES")], reassemble=False)
    parsed = parse_committed_typed(committed, PAGES_SCHEMA, raw_chunks=True)
    src = build_merge_source_typed(parsed.filter(F.col("parse_error").isNull()), PAGES_SCHEMA)
    print(f"## cdc_merge_source (consolidate -> fused parse -> fold -> typed)\n\n```\n{explain_str(src)}```\n")
    spark.stop()


if __name__ == "__main__":
    main()
