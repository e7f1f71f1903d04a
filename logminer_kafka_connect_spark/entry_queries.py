"""Driver-contract query suite: one entry per SURVEY.md §2 operator family,
each as (PySpark callable, DuckDB oracle SQL) over the driver's testdata
tables. Column names/types are aligned pair-by-pair (sums rounded to absorb
summation-order fp differences; counts cast to bigint on the Spark side).

The CDC engine itself is exercised by the ``cdc_replay`` entry (rows-only:
its semantics are the replay fixtures' job, tests/test_replay_e2e.py — a
SQL oracle cannot express a multi-batch MERGE lifecycle).
"""

from __future__ import annotations

from collections.abc import Callable

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F
from pyspark.sql.window import Window

from logminer_kafka_connect_spark.operators.textops import cluster as CL
from logminer_kafka_connect_spark.operators.textops import dedup as D
from logminer_kafka_connect_spark.operators.textops import quality as Q
from logminer_kafka_connect_spark.operators.textops import sampling as SA
from logminer_kafka_connect_spark.operators.textops import similarity as S

QUERIES: dict[str, Callable[[SparkSession, str], DataFrame]] = {}
ORACLES: dict[str, str] = {}


def _q(name: str, oracle: str | None = None):
    def reg(fn):
        QUERIES[name] = fn
        if oracle is not None:
            ORACLES[name] = oracle
        return fn

    return reg


def t(spark: SparkSession, sf_dir: str, name: str) -> DataFrame:
    return spark.read.parquet(f"{sf_dir}/{name}.parquet")


# --------------------------------------------------------------------------
# 1. Scan + aggregation (S1/A* family): TPC-H Q1-shaped pricing summary
# --------------------------------------------------------------------------
@_q(
    "q01_pricing_summary",
    """
    SELECT l_returnflag, l_linestatus,
           round(sum(l_quantity), 2)                                  AS sum_qty,
           round(sum(l_extendedprice), 2)                             AS sum_base_price,
           round(sum(l_extendedprice * (1 - l_discount)), 2)          AS sum_disc_price,
           round(avg(l_quantity), 4)                                  AS avg_qty,
           round(avg(l_extendedprice), 4)                             AS avg_price,
           count(*)                                                   AS count_order
    FROM lineitem
    WHERE l_shipdate <= TIMESTAMP '1998-09-02 00:00:00'
    GROUP BY l_returnflag, l_linestatus
    """,
)
def q01(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_shipdate") <= "1998-09-02")
    return li.groupBy("l_returnflag", "l_linestatus").agg(
        F.round(F.sum("l_quantity"), 2).alias("sum_qty"),
        F.round(F.sum("l_extendedprice"), 2).alias("sum_base_price"),
        F.round(F.sum(F.col("l_extendedprice") * (1 - F.col("l_discount"))), 2).alias(
            "sum_disc_price"
        ),
        F.round(F.avg("l_quantity"), 4).alias("avg_qty"),
        F.round(F.avg("l_extendedprice"), 4).alias("avg_price"),
        F.count(F.lit(1)).alias("count_order"),
    )


# --------------------------------------------------------------------------
# 2. Predicate pushdown stack (F1-F6 analog)
# --------------------------------------------------------------------------
@_q(
    "f02_predicate_stack",
    """
    SELECT event_id, user_id, event_type, round(value, 2) AS value_r
    FROM events
    WHERE event_type IN ('click', 'view')
      AND value BETWEEN 50 AND 150
      AND user_id % 7 <> 0
      AND props NOT LIKE '%"k": 13%'
    """,
)
def f02(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    return ev.filter(
        F.col("event_type").isin("click", "view")
        & F.col("value").between(50, 150)
        & (F.col("user_id") % 7 != 0)
        & ~F.col("props").like('%"k": 13%')
    ).select("event_id", "user_id", "event_type", F.round("value", 2).alias("value_r"))


# --------------------------------------------------------------------------
# 3. J1 commit join analog: changes joined to their txn-terminator set
# --------------------------------------------------------------------------
@_q(
    "j03_commit_join",
    """
    SELECT c.user_id, count(*) AS n_changes, round(sum(c.value), 2) AS total_value
    FROM events c
    JOIN (SELECT user_id, min(event_id) AS commit_id
          FROM events WHERE event_type = 'purchase' GROUP BY user_id) p
      ON c.user_id = p.user_id
    WHERE c.event_type IN ('click', 'view')
    GROUP BY c.user_id
    """,
)
def j03(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    commits = (
        ev.filter(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("event_id").alias("commit_id"))
    )
    return (
        ev.filter(F.col("event_type").isin("click", "view"))
        .join(F.broadcast(commits), "user_id")
        .groupBy("user_id")
        .agg(
            F.count(F.lit(1)).alias("n_changes"),
            F.round(F.sum("value"), 2).alias("total_value"),
        )
    )


# --------------------------------------------------------------------------
# 4. J2 rollback anti-join analog
# --------------------------------------------------------------------------
@_q(
    "j04_rollback_anti",
    """
    SELECT c.user_id, count(*) AS n_kept
    FROM events c
    WHERE c.event_type = 'click'
      AND NOT EXISTS (SELECT 1 FROM events r
                      WHERE r.event_type = 'error' AND r.value > 190
                        AND r.user_id = c.user_id)
    GROUP BY c.user_id
    """,
)
def j04(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    rollbacks = (
        ev.filter((F.col("event_type") == "error") & (F.col("value") > 190))
        .select("user_id")
        .distinct()
    )
    return (
        ev.filter(F.col("event_type") == "click")
        .join(rollbacks, "user_id", "left_anti")
        .groupBy("user_id")
        .agg(F.count(F.lit(1)).alias("n_kept"))
    )


# --------------------------------------------------------------------------
# 5. A6 last-write-wins ranking window
# --------------------------------------------------------------------------
@_q(
    "a05_latest_per_key",
    """
    SELECT user_id, event_id, event_type, round(value, 2) AS value_r
    FROM (SELECT *, row_number() OVER (PARTITION BY user_id
                                       ORDER BY ts DESC, event_id DESC) AS rn
          FROM events)
    WHERE rn = 1
    """,
)
def a05(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy(F.desc("ts"), F.desc("event_id"))
    return (
        ev.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", F.round("value", 2).alias("value_r"))
    )


# --------------------------------------------------------------------------
# 6. P1 CSF reassembly analog: ordered string concat per group
# --------------------------------------------------------------------------
@_q(
    "p06_ordered_concat",
    """
    SELECT user_id,
           string_agg(event_type, '' ORDER BY ts, event_id) AS chain,
           count(*) AS n
    FROM events GROUP BY user_id
    """,
)
def p06(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    parts = F.array_sort(F.collect_list(F.struct("ts", "event_id", "event_type")))
    return ev.groupBy("user_id").agg(
        F.concat_ws("", F.expr("transform(array_sort(collect_list(struct(ts, event_id, event_type))), x -> x.event_type)")).alias("chain"),
        F.count(F.lit(1)).alias("n"),
    )


# --------------------------------------------------------------------------
# 7. A1/A2/A3 watermark + txn-stat aggregations
# --------------------------------------------------------------------------
@_q(
    "a07_watermark_bounds",
    """
    SELECT event_type,
           min(event_id) AS min_id, max(event_id) AS max_id,
           count(*) AS n, count(DISTINCT user_id) AS n_users
    FROM events GROUP BY event_type
    """,
)
def a07(spark, sf_dir):
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.min("event_id").alias("min_id"),
            F.max("event_id").alias("max_id"),
            F.count(F.lit(1)).alias("n"),
            F.countDistinct("user_id").alias("n_users"),
        )
    )


# --------------------------------------------------------------------------
# 8. U1 union + dedup
# --------------------------------------------------------------------------
@_q(
    "u08_union_dedup",
    """
    SELECT user_id FROM events WHERE event_type = 'purchase'
    UNION
    SELECT user_id FROM events WHERE value > 180
    """,
)
def u08(spark, sf_dir):
    ev = t(spark, sf_dir, "events")
    a = ev.filter(F.col("event_type") == "purchase").select("user_id")
    b = ev.filter(F.col("value") > 180).select("user_id")
    return a.union(b).distinct()


# --------------------------------------------------------------------------
# 9. Scalar function ladder (C1-C8): casts, nullif, regexp, date parts
# --------------------------------------------------------------------------
@_q(
    "c09_scalar_ladder",
    """
    SELECT l_orderkey, l_linenumber,
           cast(l_quantity AS BIGINT)                         AS qty_int,
           cast(round(l_extendedprice, 0) AS BIGINT)          AS price_int,
           nullif(l_returnflag, 'N')                          AS flag_nulled,
           regexp_replace(l_returnflag || '/' || l_linestatus,
                          '[^A-Za-z0-9._-]', '_', 'g')        AS sanitized,
           cast(l_shipdate AS DATE)                           AS ship_date,
           year(l_shipdate)                                   AS ship_year,
           cast(floor(l_discount * 100) AS INT)               AS disc_pct
    FROM lineitem WHERE l_orderkey % 50 = 0
    """,
)
def c09(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem").filter(F.col("l_orderkey") % 50 == 0)
    return li.select(
        "l_orderkey",
        "l_linenumber",
        F.col("l_quantity").cast("bigint").alias("qty_int"),
        F.round("l_extendedprice", 0).cast("bigint").alias("price_int"),
        F.nullif(F.col("l_returnflag"), F.lit("N")).alias("flag_nulled"),
        F.regexp_replace(
            F.concat_ws("/", "l_returnflag", "l_linestatus"), "[^A-Za-z0-9._-]", "_"
        ).alias("sanitized"),
        F.to_date("l_shipdate").alias("ship_date"),
        F.year("l_shipdate").alias("ship_year"),
        F.floor(F.col("l_discount") * 100).cast("int").alias("disc_pct"),
    )


# --------------------------------------------------------------------------
# 10. O-family: top-k per group (ordered consumption analog)
# --------------------------------------------------------------------------
@_q(
    "o10_topk_per_group",
    """
    SELECT l_returnflag, l_orderkey, l_linenumber,
           round(l_extendedprice, 2) AS price
    FROM (SELECT *, row_number() OVER (PARTITION BY l_returnflag
              ORDER BY l_extendedprice DESC, l_orderkey, l_linenumber) AS rn
          FROM lineitem)
    WHERE rn <= 3
    """,
)
def o10(spark, sf_dir):
    li = t(spark, sf_dir, "lineitem")
    w = Window.partitionBy("l_returnflag").orderBy(
        F.desc("l_extendedprice"), F.asc("l_orderkey"), F.asc("l_linenumber")
    )
    return (
        li.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") <= 3)
        .select(
            "l_returnflag", "l_orderkey", "l_linenumber",
            F.round("l_extendedprice", 2).alias("price"),
        )
    )


# --------------------------------------------------------------------------
# 11. S2 snapshot as-of analog: consistent cut + op='r' envelope
# --------------------------------------------------------------------------
@_q(
    "s11_snapshot_asof",
    """
    SELECT o_orderkey, o_custkey, round(o_totalprice, 2) AS total, 'r' AS op
    FROM orders WHERE o_orderdate <= TIMESTAMP '1995-06-17 00:00:00'
    """,
)
def s11(spark, sf_dir):
    return (
        t(spark, sf_dir, "orders")
        .filter(F.col("o_orderdate") <= "1995-06-17")
        .select(
            "o_orderkey", "o_custkey",
            F.round("o_totalprice", 2).alias("total"), F.lit("r").alias("op"),
        )
    )


# --------------------------------------------------------------------------
# 12. S3 multi-table snapshot union
# --------------------------------------------------------------------------
@_q(
    "s12_multitable_union",
    """
    SELECT 'customer' AS src, c_custkey AS id, c_name AS name, c_nationkey AS nk
    FROM customer
    UNION ALL
    SELECT 'supplier' AS src, s_suppkey AS id, s_name AS name, s_nationkey AS nk
    FROM supplier
    """,
)
def s12(spark, sf_dir):
    c = t(spark, sf_dir, "customer").select(
        F.lit("customer").alias("src"),
        F.col("c_custkey").alias("id"),
        F.col("c_name").alias("name"),
        F.col("c_nationkey").alias("nk"),
    )
    s = t(spark, sf_dir, "supplier").select(
        F.lit("supplier").alias("src"),
        F.col("s_suppkey").alias("id"),
        F.col("s_name").alias("name"),
        F.col("s_nationkey").alias("nk"),
    )
    return c.unionByName(s)


# --------------------------------------------------------------------------
# 13. J-family broadcast star join (dictionary lookup analog, J4/J5)
# --------------------------------------------------------------------------
@_q(
    "j13_dim_lookup",
    """
    SELECT n.n_name, count(*) AS n_cust, round(sum(c.c_acctbal), 2) AS total_bal
    FROM customer c JOIN nation n ON c.c_nationkey = n.n_nationkey
    GROUP BY n.n_name
    """,
)
def j13(spark, sf_dir):
    c = t(spark, sf_dir, "customer")
    n = t(spark, sf_dir, "nation")
    return (
        c.join(F.broadcast(n), c.c_nationkey == n.n_nationkey)
        .groupBy("n_name")
        .agg(
            F.count(F.lit(1)).alias("n_cust"),
            F.round(F.sum("c_acctbal"), 2).alias("total_bal"),
        )
    )


# --------------------------------------------------------------------------
# Dedup suite (documents)
# --------------------------------------------------------------------------
@_q(
    "d14_exact_dedup",
    """
    SELECT md5(text) AS text_hash, min(doc_id) AS keeper_id, count(*) AS n_docs
    FROM documents GROUP BY md5(text)
    """,
)
def d14(spark, sf_dir):
    return D.exact_dedup(t(spark, sf_dir, "documents"))


def _shingle_cte(k: int, where: str = "") -> str:
    return f"""
    w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
          FROM documents {where}),
    sh AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= {k}
               THEN list_distinct([array_to_string(ws[i:i+{k-1}], ' ')
                                   FOR i IN range(1, len(ws) - {k - 2})])
               ELSE [array_to_string(ws, ' ')] END) AS shingle
           FROM w)
    """


_N_HASHES, _N_BANDS = 12, 4
# One md5 per shingle, k orderings derived via Kirsch–Mitzenmacher double
# hashing mod 2^31-1 (mirrors textops.dedup.minhash_signatures exactly;
# DuckDB BIGINT arithmetic never overflows at these magnitudes)
_MH_COLS = ", ".join(
    f"min((v1 + {i} * v2) % 2147483647) AS mh{i}" for i in range(_N_HASHES)
)
_BAND_SELECTS = "\n UNION ALL ".join(
    "SELECT doc_id, {b} AS band, md5({expr}) AS bkey FROM sig".format(
        b=b,
        expr=" || '|' || ".join(f"cast(mh{b * 3 + r} AS varchar)" for r in range(3)),
    )
    for b in range(_N_BANDS)
)

# Shared between d15 (pair emission) and d20 (cluster resolution over the
# same pairs): identical CTE text keeps the two oracles in lockstep.
_D15_CTES = f"""{_shingle_cte(3, "WHERE doc_id < 2000")},
    shd AS (SELECT doc_id,
                   ('0x' || substr(md5(shingle), 1, 8))::bigint AS v1,
                   ('0x' || substr(md5(shingle), 9, 8))::bigint AS v2
            FROM sh),
    sig AS (SELECT doc_id, {_MH_COLS} FROM shd GROUP BY doc_id),
    bucket AS ({_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bucket a JOIN bucket b
               ON a.band = b.band AND a.bkey = b.bkey AND a.doc_id < b.doc_id),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)"""

_D15_PAIR_SELECT = """SELECT c.id_a, c.id_b,
           round(i.n_inter / (na.n + nb.n - i.n_inter), 6) AS jaccard
    FROM cand c
    JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
    JOIN sizes na ON na.doc_id = c.id_a
    JOIN sizes nb ON nb.doc_id = c.id_b
    WHERE round(i.n_inter / (na.n + nb.n - i.n_inter), 6) >= 0.2"""


@_q(
    "d15_minhash_lsh",
    f"""
    WITH {_D15_CTES}
    {_D15_PAIR_SELECT}
    """,
)
def d15(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    return D.minhash_lsh_dedup(docs, n_hashes=_N_HASHES, n_bands=_N_BANDS, threshold=0.2)


_SIMHASH_VOTES = ", ".join(
    f"sum(CASE WHEN strpos('0123456789abcdef', substr(h, {j + 1}, 1)) >= 9 "
    f"THEN 1 ELSE -1 END) AS v{j}"
    for j in range(16)
)
_SIMHASH_BITS = " + ".join(f"CASE WHEN v{j} > 0 THEN {1 << j} ELSE 0 END" for j in range(16))

@_q(
    "d16_simhash",
    f"""
    WITH w AS (SELECT doc_id,
                      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
               FROM documents WHERE doc_id < 200),
    h AS (SELECT doc_id, md5(word) AS h FROM w),
    v AS (SELECT doc_id, {_SIMHASH_VOTES} FROM h GROUP BY doc_id)
    SELECT doc_id, cast({_SIMHASH_BITS} AS INT) AS simhash FROM v
    """,
)
def d16(spark, sf_dir):
    return D.simhash16(t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200))


@_q(
    "d17_ngram_jaccard",
    f"""
    WITH {_shingle_cte(3, "WHERE doc_id < 120")},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2)
    SELECT id_a, id_b,
           round(n_inter / (na.n + nb.n - n_inter), 6) AS jaccard
    FROM inter JOIN sizes na ON na.doc_id = id_a
               JOIN sizes nb ON nb.doc_id = id_b
    WHERE round(n_inter / (na.n + nb.n - n_inter), 6) >= 0.02
    """,
)
def d17(spark, sf_dir):
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return D.jaccard_pairs(docs, threshold=0.02)


@_q(
    "d18_embedding_near_dups",
    """
    WITH n AS (SELECT vec_id, embedding,
                 sqrt(list_aggregate(list_transform(embedding,
                     v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS nrm
               FROM embeddings)
    SELECT id_a, id_b, cosine FROM (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b,
             round(list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                 x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
               / (a.nrm * b.nrm), 6) AS cosine
      FROM n a JOIN n b ON a.vec_id < b.vec_id)
    WHERE cosine >= 0.4
    """,
)
def d18(spark, sf_dir):
    return D.embedding_near_dups(t(spark, sf_dir, "embeddings"), threshold=0.4)


@_q(
    "d20_dup_clusters",
    f"""
    WITH RECURSIVE {_D15_CTES},
    pairs AS ({_D15_PAIR_SELECT}),
    edges AS (SELECT id_a AS a, id_b AS b FROM pairs
              UNION SELECT id_b, id_a FROM pairs),
    reach(a, b) AS (
        SELECT a, a FROM (SELECT DISTINCT a FROM edges)
        UNION
        SELECT r.a, e.b FROM reach r JOIN edges e ON r.b = e.a
    ),
    cc AS (SELECT a AS doc_id, min(b) AS cluster_id FROM reach GROUP BY a)
    SELECT d.doc_id,
           coalesce(cc.cluster_id, d.doc_id) AS cluster_id,
           (d.doc_id = coalesce(cc.cluster_id, d.doc_id)) AS is_canonical
    FROM documents d LEFT JOIN cc USING (doc_id)
    WHERE d.doc_id < 2000
    """,
)
def d20(spark, sf_dir):
    """Dedup cluster resolution: MinHash-LSH verified pairs (exactly d15's)
    -> connected components (alternating large/small star, O(log n) rounds)
    -> every doc labeled (cluster_id = component min, is_canonical flag).
    Oracle: recursive-CTE transitive closure over the same pair query."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 2000)
    pairs = D.minhash_lsh_dedup(docs, n_hashes=_N_HASHES, n_bands=_N_BANDS, threshold=0.2)
    return CL.assign_clusters(docs, pairs)


# --------------------------------------------------------------------------
# Similarity search
# --------------------------------------------------------------------------
@_q(
    "n18_cosine_topk",
    """
    WITH q AS (SELECT * FROM embeddings WHERE vec_id < 10),
    scored AS (
      SELECT q.vec_id AS query_id, c.vec_id AS neighbor_id,
             round(
               list_aggregate(list_transform(list_zip(q.embedding, c.embedding),
                   x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
               / (sqrt(list_aggregate(list_transform(q.embedding,
                     v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))
                * sqrt(list_aggregate(list_transform(c.embedding,
                     v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))), 6) AS cosine
      FROM q JOIN embeddings c ON c.vec_id <> q.vec_id
    ),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 3
    """,
)
def n18(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = S.cosine_topk(emb, q, k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))



@_q(
    "n19_ivf_topk",
    """
    WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cv,
                    sqrt(list_aggregate(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS cnorm
                  FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, embedding,
            sqrt(list_aggregate(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS vnorm
          FROM embeddings),
    asgn AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT v.vec_id, v.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 (list_aggregate(list_transform(list_zip(v.embedding, c.cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') / (v.vnorm * c.cnorm)) DESC,
                 c.centroid_id ASC) AS rn
        FROM v CROSS JOIN cent c)
      WHERE rn = 1),
    q AS (SELECT vec_id AS query_id, embedding AS qv, vnorm AS qnorm FROM v WHERE vec_id < 10),
    probes AS (
      SELECT query_id, qv, qnorm, centroid_id AS cluster FROM (
        SELECT q.query_id, q.qv, q.qnorm, c.centroid_id,
               row_number() OVER (PARTITION BY q.query_id ORDER BY
                 (list_aggregate(list_transform(list_zip(q.qv, c.cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') / (q.qnorm * c.cnorm)) DESC,
                 c.centroid_id ASC) AS rn
        FROM q CROSS JOIN cent c)
      WHERE rn <= 2),
    scored AS (
      SELECT p.query_id, a.vec_id AS neighbor_id,
             round(list_aggregate(list_transform(list_zip(p.qv, a.embedding), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
               / (p.qnorm * sqrt(list_aggregate(list_transform(a.embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum'))), 6) AS cosine
      FROM probes p JOIN asgn a ON a.cluster = p.cluster AND a.vec_id <> p.query_id),
    r AS (SELECT *, row_number() OVER (PARTITION BY query_id
              ORDER BY cosine DESC, neighbor_id ASC) AS rank FROM scored)
    SELECT query_id, neighbor_id, cosine, rank FROM r WHERE rank <= 3
    """,
)
def n19(spark, sf_dir):
    """IVF-Flat ANN (inverted-list scale path): deterministic centroids
    (first 8 corpus vectors), nearest-centroid assignment, 2-probe query,
    exact re-rank within probed lists — hash-verified end-to-end by the
    DuckDB oracle above."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    out = S.ivf_topk(emb, q, k=3, n_centroids=8, n_probe=2)
    return out.withColumn("rank", F.col("rank").cast("long"))


# --------------------------------------------------------------------------
# Text analysis
# --------------------------------------------------------------------------
@_q(
    "t19_token_stats",
    f"""
    SELECT doc_id,
      cast(len(string_split_regex(trim(lower(text)), '\\s+')) AS BIGINT) AS n_ws_tokens,
      cast(len(regexp_extract_all(text, '{Q.TOKEN_PATTERN}')) AS BIGINT) AS n_bpe_tokens,
      cast(length(text) AS BIGINT) AS n_chars,
      round(list_aggregate(list_transform(
          string_split_regex(trim(lower(text)), '\\s+'), x -> length(x)), 'sum')
        / len(string_split_regex(trim(lower(text)), '\\s+')), 4) AS avg_word_len
    FROM documents
    """,
)
def t19(spark, sf_dir):
    out = Q.token_stats(t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        F.col("n_ws_tokens").cast("long").alias("n_ws_tokens"),
        F.col("n_bpe_tokens").cast("long").alias("n_bpe_tokens"),
        F.col("n_chars").cast("long").alias("n_chars"),
        "avg_word_len",
    )


_LANG_SCORES_SQL = ", ".join(
    "cast(len(list_filter(ws, x -> x IN ({vals}))) AS BIGINT) AS score_{lang}".format(
        lang=lang, vals=", ".join(f"'{w}'" for w in markers)
    )
    for lang, markers in Q.LANG_MARKERS.items()
)
_LANG_BEST = "greatest(" + ", ".join(f"score_{lang}" for lang in Q.LANG_MARKERS) + ")"
_LANG_PRED = (
    "CASE WHEN " + _LANG_BEST + " = 0 THEN 'und' "
    + " ".join(
        f"WHEN score_{lang} = {_LANG_BEST} THEN '{lang}'"
        for lang in sorted(Q.LANG_MARKERS)
    )
    + " ELSE 'und' END"
)

@_q(
    "t20_language_id",
    f"""
    WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
               FROM documents),
    s AS (SELECT doc_id, {_LANG_SCORES_SQL} FROM w)
    SELECT doc_id, {", ".join(f"score_{lang}" for lang in Q.LANG_MARKERS)},
           {_LANG_PRED} AS pred_lang
    FROM s
    """,
)
def t20(spark, sf_dir):
    out = Q.language_id(t(spark, sf_dir, "documents"))
    return out.select(
        "doc_id",
        *[F.col(f"score_{lang}").cast("long").alias(f"score_{lang}") for lang in Q.LANG_MARKERS],
        "pred_lang",
    )


_STOP_SQL = ", ".join(f"'{w}'" for w in Q.STOPWORDS)

@_q(
    "t21_quality_score",
    f"""
    WITH w AS (SELECT doc_id, string_split_regex(trim(lower(text)), '\\s+') AS ws
               FROM documents),
    m AS (SELECT doc_id,
                 len(ws) AS n_words,
                 len(list_filter(ws, x -> x IN ({_STOP_SQL}))) / len(ws) AS stop_ratio,
                 list_aggregate(list_transform(ws, x -> length(x)), 'sum')
                   / len(ws) AS awl
          FROM w)
    SELECT doc_id, cast(n_words AS BIGINT) AS n_words,
           round(stop_ratio, 6) AS stopword_ratio,
           round(awl, 6) AS avg_word_len,
           round(((CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
                + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
                + least(stop_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
    FROM m
    """,
)
def t21(spark, sf_dir):
    out = Q.quality_score(t(spark, sf_dir, "documents"))
    return out.withColumn("n_words", F.col("n_words").cast("long"))


@_q(
    "t22_fingerprint",
    f"""
    WITH {_shingle_cte(5)}
    SELECT doc_id, min(md5(shingle)) AS fingerprint FROM sh GROUP BY doc_id
    """,
)
def t22(spark, sf_dir):
    return Q.doc_fingerprint(t(spark, sf_dir, "documents"), shingle_k=5)


# Integer membership thresholds shared with the DuckDB oracles: a row is
# kept iff ('0x' || first 8 md5 hex chars)::bigint < floor(rate * 2^32).
_SPLIT_SQL = """CASE
      WHEN ('0x' || substr(md5(cast(doc_id AS varchar) || ':split'), 1, 8))::bigint
           < {t_train} THEN 'train'
      WHEN ('0x' || substr(md5(cast(doc_id AS varchar) || ':split'), 1, 8))::bigint
           < {t_val} THEN 'val'
      ELSE 'test' END""".format(
    # t_val mirrors assign_split's running accumulation (0.9 + 0.05) so the
    # float rounding is bit-identical on both sides
    t_train=int(0.9 * (1 << 32)), t_val=int((0.9 + 0.05) * (1 << 32))
)


@_q(
    "t24_hash_split",
    f"""
    SELECT doc_id, {_SPLIT_SQL} AS split FROM documents
    """,
)
def t24(spark, sf_dir):
    """Deterministic train/val/test assignment — pure projection, no
    shuffle; same (key, salt) -> same split on any engine/cluster."""
    return SA.assign_split(
        t(spark, sf_dir, "documents").select("doc_id"),
        weights=[("train", 0.9), ("val", 0.05), ("test", 0.05)],
    )


_STRATA_THRESH = {
    "en": int(0.25 * (1 << 32)),
    "de": int(1.0 * (1 << 32)),
}


@_q(
    "t25_stratified_sample",
    f"""
    SELECT doc_id, lang FROM documents
    WHERE ('0x' || substr(md5(cast(doc_id AS varchar) || ':strata'), 1, 8))::bigint
          < CASE lang WHEN 'en' THEN {_STRATA_THRESH['en']}
                      WHEN 'de' THEN {_STRATA_THRESH['de']}
                      ELSE {int(0.5 * (1 << 32))} END
    """,
)
def t25(spark, sf_dir):
    """Per-stratum deterministic sampling: downsample English hard, keep
    all German, half of everything else — one CASE filter, narrow plan."""
    return SA.stratified_sample(
        t(spark, sf_dir, "documents").select("doc_id", "lang"),
        rates={"en": 0.25, "de": 1.0},
        default_rate=0.5,
    )


def _ngram_occurrences_cte(n: int) -> str:
    """All word n-gram occurrences (not distinct) — mirrors
    sampling._ngrams_expr including the short-doc fallback."""
    return f"""
    w AS (SELECT doc_id, text, string_split_regex(trim(lower(text)), '\\s+') AS ws
          FROM documents),
    g AS (SELECT doc_id, unnest(CASE WHEN len(ws) >= {n}
              THEN [array_to_string(ws[i:i+{n - 1}], ' ')
                    FOR i IN range(1, len(ws) - {n - 2})]
              ELSE [array_to_string(ws, ' ')] END) AS gram
          FROM w)
    """


@_q(
    "t23_repetition_stats",
    f"""
    WITH {_ngram_occurrences_cte(2)},
    per_gram AS (SELECT doc_id, gram, count(*) AS c FROM g GROUP BY 1, 2),
    top2 AS (SELECT doc_id, round(max(c) / sum(c), 6) AS top_2gram_frac
             FROM per_gram GROUP BY doc_id),
    base AS (SELECT doc_id,
                    len(string_split(text, chr(10))) AS n_lines,
                    round(1.0 - len(list_distinct(string_split(text, chr(10))))
                          / len(string_split(text, chr(10))), 6) AS dup_line_frac,
                    round(1.0 - len(list_distinct(ws)) / len(ws), 6) AS dup_word_frac
             FROM w)
    SELECT base.doc_id, n_lines, dup_line_frac, dup_word_frac, top_2gram_frac
    FROM base JOIN top2 ON base.doc_id = top2.doc_id
    """,
)
def t23(spark, sf_dir):
    """Gopher-style repetition signals (dup-line/word fractions +
    top-2-gram coverage)."""
    return SA.repetition_stats(t(spark, sf_dir, "documents"), ngram_ns=(2,))


@_q(
    "a08_value_percentiles",
    """
    SELECT event_type,
           round(quantile_cont(value, 0.5), 6) AS p50,
           round(quantile_cont(value, 0.9), 6) AS p90,
           round(quantile_cont(value, 0.99), 6) AS p99
    FROM events GROUP BY 1
    """,
)
def a08(spark, sf_dir):
    """Exact interpolated percentiles per group (Spark `percentile` ==
    DuckDB `quantile_cont`, both linear interpolation). Exact percentile
    is a full per-group value shuffle — correct at any scale but at 100 TB
    the sketch path is `approx_percentile` (t-digest, partial-aggregable,
    one pass); this entry is the exact baseline the sketch is judged
    against."""
    return t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.round(F.expr("percentile(value, 0.5)"), 6).alias("p50"),
        F.round(F.expr("percentile(value, 0.9)"), 6).alias("p90"),
        F.round(F.expr("percentile(value, 0.99)"), 6).alias("p99"),
    )


@_q("a08s_value_percentiles_sketch")
def a08s(spark, sf_dir):
    """Sketch-path percentiles — the operator a 100-TB pipeline actually
    runs. `approx_percentile` (KLL/Greenwald-Khanna family) is
    partial-aggregable: each partition folds its values into a bounded
    sketch, sketches merge map-side, and only O(accuracy) state crosses
    the shuffle — vs the exact `a08`'s full per-group value shuffle.
    Rows-only entry (the sketch's rank-error guarantee is not bit-
    reproducible in DuckDB); accuracy is pinned vs the exact `a08` in
    tests/test_round5.py (|sketch - exact| <= 1% of the per-group value
    range at accuracy=10000)."""
    return t(spark, sf_dir, "events").groupBy("event_type").agg(
        F.round(F.expr("approx_percentile(value, 0.5, 10000)"), 6).alias("p50"),
        F.round(F.expr("approx_percentile(value, 0.9, 10000)"), 6).alias("p90"),
        F.round(F.expr("approx_percentile(value, 0.99, 10000)"), 6).alias("p99"),
    )


@_q(
    "a09_user_cardinality",
    """
    SELECT event_type,
           count(DISTINCT user_id) AS n_users,
           count(*)                AS n_events
    FROM events GROUP BY 1
    """,
)
def a09(spark, sf_dir):
    """Exact per-group distinct-count — the baseline for the HLL sketch
    below. Exact COUNT(DISTINCT) is a two-phase shuffle (partial distinct
    per partition, then re-shuffle on the group key); correct at any
    scale but the distinct set itself crosses the wire."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.countDistinct("user_id").alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@_q("a09s_user_cardinality_sketch")
def a09s(spark, sf_dir):
    """Sketch path for distinct counting: `approx_count_distinct`
    (HyperLogLog++) — O(1) state per group crosses the shuffle instead of
    the distinct set, fully partial-aggregable, the operator a 100-TB
    pipeline actually runs for cardinality. Rows-only (HLL registers are
    not reproducible in DuckDB); relative error vs the exact `a09` is
    pinned in tests/test_round5.py (rsd=0.01 -> |err| well under 5%)."""
    return (
        t(spark, sf_dir, "events")
        .groupBy("event_type")
        .agg(
            F.approx_count_distinct("user_id", rsd=0.01).alias("n_users"),
            F.count(F.lit(1)).alias("n_events"),
        )
    )


@_q(
    "w26_event_windows",
    """
    SELECT time_bucket(INTERVAL '1 hour', ts) AS window_start,
           time_bucket(INTERVAL '1 hour', ts) + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM events GROUP BY 1, 2, 3
    """,
)
def w26(spark, sf_dir):
    """Event-time tumbling windows (T10): batch twin of the streaming
    windowed aggregation in streaming/windows.py — same operator, same
    plan shape, full SQL oracle."""
    from logminer_kafka_connect_spark.streaming.windows import windowed_event_stats

    return windowed_event_stats(t(spark, sf_dir, "events"))


@_q(
    "w28_sliding_windows",
    """
    WITH wins AS (
      SELECT time_bucket(INTERVAL '15 minutes', ts)
               - i * INTERVAL '15 minutes' AS window_start,
             event_type, value
      FROM events, unnest(range(4)) t(i)
    )
    SELECT window_start,
           window_start + INTERVAL '1 hour' AS window_end,
           event_type,
           count(*) AS n_events,
           round(sum(value), 4) AS sum_value,
           min(value) AS min_value,
           max(value) AS max_value
    FROM wins GROUP BY 1, 2, 3
    """,
)
def w28(spark, sf_dir):
    """Sliding event-time windows (1h window, 15min slide — each event
    lands in 4 overlapping windows): same unified batch/streaming
    operator as w26 with ``slide`` set; Spark's window() explodes the
    overlap exactly like the oracle's 4-offset bucket expansion, then
    one (window, group) partial-agg shuffle."""
    from logminer_kafka_connect_spark.streaming.windows import windowed_event_stats

    return windowed_event_stats(
        t(spark, sf_dir, "events"), window="1 hour", slide="15 minutes"
    )


@_q(
    "w27_session_windows",
    """
    WITH o AS (
      SELECT event_type, ts, value,
             CASE WHEN lag(ts) OVER w IS NULL
                  OR ts - lag(ts) OVER w > INTERVAL '5 minutes'
                  THEN 1 ELSE 0 END AS brk
      FROM events
      WINDOW w AS (PARTITION BY event_type ORDER BY ts)
    ),
    s AS (
      SELECT *, sum(brk) OVER (PARTITION BY event_type ORDER BY ts
                               ROWS UNBOUNDED PRECEDING) AS sid
      FROM o
    )
    SELECT min(ts)                          AS session_start,
           max(ts) + INTERVAL '5 minutes'   AS session_end,
           event_type,
           count(*)                         AS n_events,
           round(sum(value), 4)             AS sum_value
    FROM s GROUP BY event_type, sid
    """,
)
def w27(spark, sf_dir):
    """Gap-based session windows (F.session_window): a session per
    event_type extends while consecutive events arrive <= 5 min apart
    (5 min, not 30: at sf0.1 a 30-min gap collapses the dense event
    stream to one session per type — ~10k sessions make the windowed
    state management actually measurable)
    (merge is inclusive at exactly the gap — measured on Spark 4.1 and
    pinned in tests/test_windows.py) and closes at last_ts + gap. The
    oracle is the classic lag/gap-sum sessionization (break when the gap
    to the previous event EXCEEDS the gap duration, cumulative-sum the
    breaks into session ids)."""
    from logminer_kafka_connect_spark.streaming.windows import session_event_stats

    return session_event_stats(t(spark, sf_dir, "events"), gap="5 minutes")


@_q(
    "n20_kmeans_step",
    """
    WITH cent AS (SELECT vec_id AS centroid_id, embedding AS cv,
                    sqrt(list_aggregate(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS cnorm
                  FROM embeddings WHERE vec_id < 8),
    v AS (SELECT vec_id, embedding,
            sqrt(list_aggregate(list_transform(embedding, v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS vnorm
          FROM embeddings),
    asgn AS (
      SELECT vec_id, embedding, centroid_id AS cluster FROM (
        SELECT v.vec_id, v.embedding, c.centroid_id,
               row_number() OVER (PARTITION BY v.vec_id ORDER BY
                 (list_aggregate(list_transform(list_zip(v.embedding, c.cv), x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum') / (v.vnorm * c.cnorm)) DESC,
                 c.centroid_id ASC) AS rn
        FROM v CROSS JOIN cent c)
      WHERE rn = 1),
    expl AS (SELECT cluster,
                    unnest(embedding) AS val,
                    unnest(range(len(embedding))) AS dim
             FROM asgn)
    SELECT cluster, dim,
           count(*) AS n_vectors,
           round(avg(CAST(val AS DOUBLE)), 5) AS mean_val
    FROM expl GROUP BY 1, 2
    """,
)
def n20(spark, sf_dir):
    """One Lloyd step of spherical k-means as a relational plan (the
    iterative-ML shape): nearest-centroid assignment reuses the IVF
    broadcast join (same CTEs as n19's oracle), new centroid coordinates
    come from posexplode + one (cluster, dim) partial-agg shuffle — a
    skewed giant cluster still spreads over dims x partitions. The
    driver-side iteration loop (operators/textops/similarity.py::
    spherical_kmeans) round-trips only k x dim floats per step."""
    from logminer_kafka_connect_spark.operators.textops.similarity import kmeans_step

    emb = t(spark, sf_dir, "embeddings")
    cent = emb.filter(F.col("vec_id") < 8).select("vec_id", "embedding")
    return kmeans_step(emb, cent)


# --------------------------------------------------------------------------
# Multi-dimensional aggregation (A-family extensions): ROLLUP + pivot
# --------------------------------------------------------------------------
@_q(
    "a11_rollup_stats",
    """
    SELECT coalesce(event_type, '<all>')   AS event_type,
           coalesce(user_bucket, -1)        AS user_bucket,
           grouping(event_type)             AS g_type,
           grouping(user_bucket)            AS g_bucket,
           count(*)                         AS n_events,
           round(sum(value), 2)             AS sum_value
    FROM (SELECT event_type, user_id % 10 AS user_bucket, value FROM events)
    GROUP BY ROLLUP (event_type, user_bucket)
    """,
)
def a11(spark, sf_dir):
    """Hierarchical ROLLUP totals (type, type x bucket, grand total) in one
    pass: Spark's Expand operator replicates each input row once per
    grouping set BEFORE the exchange, so partial aggregation still applies
    — one shuffle regardless of how many grouping sets, which is why
    ROLLUP beats unioning three separate groupBys at 100 TB."""
    ev = t(spark, sf_dir, "events").select(
        "event_type", (F.col("user_id") % 10).alias("user_bucket"), "value"
    )
    return (
        ev.rollup("event_type", "user_bucket")
        .agg(
            F.grouping("event_type").alias("g_type"),
            F.grouping("user_bucket").alias("g_bucket"),
            F.count(F.lit(1)).alias("n_events"),
            F.round(F.sum("value"), 2).alias("sum_value"),
        )
        .select(
            F.coalesce("event_type", F.lit("<all>")).alias("event_type"),
            F.coalesce("user_bucket", F.lit(-1)).alias("user_bucket"),
            F.col("g_type").cast("long").alias("g_type"),
            F.col("g_bucket").cast("long").alias("g_bucket"),
            "n_events",
            "sum_value",
        )
    )


_PIVOT_TYPES = ["click", "error", "purchase", "signup", "view"]


@_q(
    "a12_pivot_events",
    """
    SELECT user_id % 5 AS user_bucket,
           {cols}
    FROM events
    GROUP BY 1
    """.format(
        cols=",\n           ".join(
            f"round(coalesce(sum(value) FILTER (WHERE event_type = '{et}'), 0), 2)"
            f" AS {et}"
            for et in _PIVOT_TYPES
        )
    ),
)
def a12(spark, sf_dir):
    """Pivot (long -> wide) over an explicit value list: with the pivot
    values named up front Spark compiles this to ONE hash aggregate with
    a conditional-sum per output column — no second shuffle, no distinct
    scan to discover values (which is also what makes it deterministic;
    the oracle is the equivalent conditional aggregation)."""
    ev = t(spark, sf_dir, "events").select(
        (F.col("user_id") % 5).alias("user_bucket"), "event_type", "value"
    )
    wide = (
        ev.groupBy("user_bucket")
        .pivot("event_type", _PIVOT_TYPES)
        .agg(F.sum("value"))
    )
    return wide.select(
        "user_bucket",
        *[F.round(F.coalesce(F.col(c), F.lit(0.0)), 2).alias(c) for c in _PIVOT_TYPES],
    )


# --------------------------------------------------------------------------
# As-of join (point-in-time enrichment) + set ops
# --------------------------------------------------------------------------
@_q(
    "j14_asof_join",
    """
    WITH tagged AS (
      SELECT user_id, ts, event_id, event_type, value,
             CASE WHEN event_type IN ('click', 'view') THEN value END AS m_value
      FROM events
      WHERE event_type IN ('purchase', 'click', 'view')
    ),
    w AS (
      SELECT *,
             last_value(m_value IGNORE NULLS) OVER pw AS prior_value,
             last_value(CASE WHEN m_value IS NOT NULL THEN ts END IGNORE NULLS)
               OVER pw AS prior_ts
      FROM tagged
      WINDOW pw AS (PARTITION BY user_id
                    ORDER BY ts, (m_value IS NULL), event_id
                    ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
    )
    SELECT event_id, user_id, ts, prior_ts,
           round(prior_value, 2) AS prior_value_r
    FROM w WHERE event_type = 'purchase'
    """,
)
def j14(spark, sf_dir):
    """As-of join: each purchase picks up the value of the same user's
    most recent strictly-prior click/view. Runs through the general
    operators/asof.py union-scan operator — one Exchange on user_id, one
    sort, a running last(ignorenulls) window; the right side is never
    replicated per left row (the scale flaw of the naive range join).
    The oracle is the same union-scan spelled as a window over the tagged
    union, so tie-breaking is bit-identical by construction."""
    from logminer_kafka_connect_spark.operators.asof import asof_join

    ev = t(spark, sf_dir, "events")
    purchases = ev.filter(F.col("event_type") == "purchase").select(
        "event_id", "user_id", "ts"
    )
    metrics = ev.filter(F.col("event_type").isin("click", "view")).select(
        "user_id", "ts", "event_id", "value"
    )
    joined = asof_join(
        purchases,
        metrics,
        on=["user_id"],
        ts_col="ts",
        value_cols=["value"],
        tiebreak_cols=["event_id"],
        prefix="prior_",
    )
    return joined.select(
        "event_id",
        "user_id",
        "ts",
        F.col("prior_ts"),
        F.round("prior_value", 2).alias("prior_value_r"),
    )


@_q(
    "j15_range_join",
    """
    WITH bands AS (SELECT b, 2.0 * b * b AS lo, 2.0 * (b + 1) * (b + 1) AS hi
                   FROM range(15) t(b))
    SELECT b AS band,
           count(*) AS n_events,
           round(sum(e.value), 2) AS sum_value
    FROM events e JOIN bands ON e.value >= bands.lo AND e.value < bands.hi
    GROUP BY 1
    """,
)
def j15(spark, sf_dir):
    """Interval join (J3's SCN->log-file lookup generalized): events fall
    into quadratic-width value bands through operators/rangejoin.py — the
    inequality join rewritten as a broadcast equi-join on grid cells with
    an exact containment post-filter, instead of the
    BroadcastNestedLoopJoin Spark plans for a naive non-equi spelling
    (O(|L| x |R|) comparisons at scale)."""
    from logminer_kafka_connect_spark.operators.rangejoin import range_join

    bands = spark.range(15).select(
        F.col("id").alias("b"),
        (2.0 * F.col("id") * F.col("id")).alias("lo"),
        (2.0 * (F.col("id") + 1) * (F.col("id") + 1)).alias("hi"),
    )
    ev = t(spark, sf_dir, "events").select("event_id", "value")
    joined = range_join(ev, bands, point_col="value", lo_col="lo", hi_col="hi", cell=16.0)
    return joined.groupBy(F.col("b").alias("band")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


@_q(
    "u09_set_cohorts",
    """
    SELECT user_id, 'click_only' AS cohort FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      EXCEPT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    UNION ALL
    SELECT user_id, 'both' AS cohort FROM (
      SELECT user_id FROM events WHERE event_type = 'click'
      INTERSECT
      SELECT user_id FROM events WHERE event_type = 'purchase')
    """,
)
def u09(spark, sf_dir):
    """EXCEPT / INTERSECT cohorting (O-family set ops the reference's
    rollback exclusion uses as anti-joins): Spark plans both as
    hash-aggregated left-anti / left-semi joins — distinct-then-join,
    one shuffle per side, broadcast when a side is small."""
    ev = t(spark, sf_dir, "events")
    clickers = ev.filter(F.col("event_type") == "click").select("user_id")
    buyers = ev.filter(F.col("event_type") == "purchase").select("user_id")
    click_only = clickers.subtract(buyers)  # EXCEPT (distinct semantics)
    both = clickers.intersect(buyers)
    return click_only.withColumn("cohort", F.lit("click_only")).unionByName(
        both.withColumn("cohort", F.lit("both"))
    )


# --------------------------------------------------------------------------
# LLM-corpus curation: PII redaction, unigram-LM quality, decontamination
# --------------------------------------------------------------------------
# The redaction entry enriches props with a deterministic synthetic email +
# IPv4 derived from user_id so every rule fires on real matches; the same
# expression is built in both engines.
_PII_TEXT_SQL = (
    "props || ' user' || cast(user_id AS varchar) || '@example.com from 10.0.'"
    " || cast(user_id % 256 AS varchar) || '.1'"
)


def _pii_oracle() -> str:
    """Sequential redaction as a CTE chain: pattern i counts/replaces on
    the text already redacted by patterns < i (mirrors redact_pii)."""
    from logminer_kafka_connect_spark.operators.textops.quality import PII_PATTERNS

    ctes = [f"base AS (SELECT event_id, {_PII_TEXT_SQL} AS t0 FROM events)"]
    prev, carried = "base", []
    for i, (name, pat, token) in enumerate(PII_PATTERNS):
        cols = ", ".join(["event_id", *carried])
        ctes.append(
            f"s{i} AS (SELECT {cols}, "
            f"len(regexp_extract_all(t{i}, '{pat}')) AS n_{name}, "
            f"regexp_replace(t{i}, '{pat}', '{token}', 'g') AS t{i + 1} "
            f"FROM {prev})"
        )
        carried.append(f"n_{name}")
        prev = f"s{i}"
    return (
        "WITH " + ",\n    ".join(ctes) + "\n    SELECT event_id, "
        + ", ".join(carried) + f", t{len(PII_PATTERNS)} AS redacted FROM {prev}"
    )


@_q("t26_pii_redact", None)  # oracle attached below (needs PII_PATTERNS)
def t26(spark, sf_dir):
    """Rule-based PII redaction (C4/RefinedWeb cleanup): counts + redacted
    text per event via chained regexp_count/regexp_replace — JVM codegen,
    shuffle-free narrow map. Patterns are RE2-compatible so the DuckDB
    oracle agrees match-for-match."""
    from logminer_kafka_connect_spark.operators.textops.quality import redact_pii

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.concat(
            F.col("props"),
            F.lit(" user"),
            F.col("user_id").cast("string"),
            F.lit("@example.com from 10.0."),
            (F.col("user_id") % 256).cast("string"),
            F.lit(".1"),
        ).alias("text"),
    )
    return redact_pii(ev, id_col="event_id", text_col="text")


@_q(
    "t27_unigram_logprob",
    """
    WITH w AS (SELECT doc_id,
                      unnest(string_split_regex(trim(lower(text)), '\\s+')) AS word
               FROM documents),
    f AS (SELECT word, count(*) AS c FROM w GROUP BY word),
    tot AS (SELECT cast(sum(c) AS double) AS n FROM f),
    lp AS (SELECT word, log10(c / n) AS logp FROM f, tot)
    SELECT doc_id, count(*) AS n_words, round(avg(logp), 4) AS mean_logp
    FROM w JOIN lp USING (word) GROUP BY doc_id
    """,
)
def t27(spark, sf_dir):
    """Corpus-unigram-LM quality signal (CCNet's perplexity bucketing with
    the LM reduced to corpus unigrams): one (word) count shuffle to build
    the vocabulary-sized frequency table, then a broadcast join back onto
    the word stream and a per-doc mean — no model download, no UDF."""
    from logminer_kafka_connect_spark.operators.textops.quality import unigram_logprob

    return unigram_logprob(t(spark, sf_dir, "documents"))


# raw-URL builder shared by the t28 entry's two engines: event-dependent
# mixed case, default port, tracking params, unsorted params, fragments,
# and trailing slashes — every normalization rule fires on real rows
_RAW_URL_SQL = """
    'HTTPS://Example' || cast(user_id % 7 AS varchar) || '.COM' ||
    CASE WHEN event_id % 4 = 0 THEN ':443' ELSE '' END ||
    '/Path' || cast(user_id AS varchar) ||
    CASE WHEN event_id % 3 = 0 THEN '/' ELSE '' END ||
    '?utm_source=news&b=' || cast(event_id % 5 AS varchar) || '&a=1' ||
    CASE WHEN event_id % 2 = 0 THEN '&gclid=XYZ' ELSE '' END ||
    CASE WHEN event_id % 5 = 0 THEN '#frag' || cast(event_id AS varchar)
         ELSE '' END
"""


@_q(
    "t28_url_canonicalize",
    f"""
    WITH raw AS (SELECT event_id, {_RAW_URL_SQL} AS url FROM events),
    s1 AS (SELECT event_id, regexp_replace(url, '#.*$', '') AS u FROM raw),
    parts AS (
      SELECT event_id,
             lower(regexp_extract(u, '^([A-Za-z][A-Za-z0-9+.-]*)://', 1)) AS scheme,
             regexp_replace(
               lower(regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://([^/?]*)', 1)),
               ':(80|443)$', '') AS host,
             regexp_replace(
               regexp_extract(u, '^[A-Za-z][A-Za-z0-9+.-]*://[^/?]*([^?]*)', 1),
               '/$', '') AS path,
             list_sort(list_filter(
               string_split(regexp_extract(u, '\\?([^#]*)', 1), '&'),
               p -> p <> '' AND NOT regexp_matches(p, '^(utm_[A-Za-z0-9_]*|fbclid|gclid)=')
             )) AS params
      FROM s1)
    SELECT event_id,
           scheme || '://' || host || path ||
           CASE WHEN len(params) > 0
                THEN '?' || array_to_string(params, '&') ELSE '' END AS canon_url
    FROM parts
    """,
)
def t28(spark, sf_dir):
    """URL canonicalization (the crawl-frontier / dedup-key normalizer):
    lowercase scheme+host, default-port strip, fragment drop, tracking-
    param removal (utm_*/fbclid/gclid), query-param sort, trailing-slash
    strip — all regexp/array built-ins, shuffle-free; raw URLs are
    synthesized per event so every rule fires on real rows and the
    DuckDB twin applies the identical pipeline."""
    from logminer_kafka_connect_spark.operators.textops.quality import (
        canonicalize_url,
    )

    ev = t(spark, sf_dir, "events")
    raw = F.concat(
        F.lit("HTTPS://Example"),
        (F.col("user_id") % 7).cast("string"),
        F.lit(".COM"),
        F.when(F.col("event_id") % 4 == 0, F.lit(":443")).otherwise(F.lit("")),
        F.lit("/Path"),
        F.col("user_id").cast("string"),
        F.when(F.col("event_id") % 3 == 0, F.lit("/")).otherwise(F.lit("")),
        F.lit("?utm_source=news&b="),
        (F.col("event_id") % 5).cast("string"),
        F.lit("&a=1"),
        F.when(F.col("event_id") % 2 == 0, F.lit("&gclid=XYZ")).otherwise(F.lit("")),
        F.when(
            F.col("event_id") % 5 == 0,
            F.concat(F.lit("#frag"), F.col("event_id").cast("string")),
        ).otherwise(F.lit("")),
    )
    return ev.select(
        "event_id", canonicalize_url(raw).alias("canon_url")
    )


@_q(
    "d21_decontaminate",
    f"""
    WITH {_shingle_cte(3)},
    ev AS (SELECT DISTINCT shingle FROM sh WHERE doc_id % 13 = 0),
    tr AS (SELECT doc_id, shingle FROM sh WHERE doc_id % 13 <> 0),
    n AS (SELECT doc_id, count(*) AS n_shingles FROM tr GROUP BY doc_id)
    SELECT tr.doc_id,
           count(*)                              AS n_shared_shingles,
           n.n_shingles                          AS n_shingles,
           round(count(*) / n.n_shingles, 6)     AS share_ratio
    FROM tr JOIN ev USING (shingle) JOIN n ON n.doc_id = tr.doc_id
    GROUP BY tr.doc_id, n.n_shingles
    """,
)
def d21(spark, sf_dir):
    """Benchmark decontamination (GPT-3-style n-gram overlap, k=3 to match
    the suite's shingle size): eval set = doc_id % 13 == 0 stands in for
    the held-out benchmark; its distinct shingles are broadcast and the
    training corpus streams through a map-side join — the corpus is never
    shuffled, only the contaminated hits reach the per-doc aggregate."""
    from logminer_kafka_connect_spark.operators.textops.contamination import (
        decontaminate,
    )

    docs = t(spark, sf_dir, "documents")
    return decontaminate(
        docs.filter(F.col("doc_id") % 13 != 0),
        docs.filter(F.col("doc_id") % 13 == 0),
    )


ORACLES["t26_pii_redact"] = _pii_oracle()


@_q(
    "s13_scd2_history",
    """
    SELECT user_id,
           ts AS valid_from,
           lead(ts) OVER w AS valid_to,
           (lead(ts) OVER w IS NULL) AS is_current,
           round(value, 2) AS value_r,
           row_number() OVER w AS version_n
    FROM events
    WHERE event_type = 'signup' OR event_type = 'purchase'
    WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
    """,
)
def s13(spark, sf_dir):
    """SCD2 history materialization — the standard downstream consumer of
    a CDC feed: each key's change rows become validity intervals
    ([valid_from, valid_to), open-ended current row flagged) via lead()
    over the per-key change order. One Exchange on the key, one sort —
    the same partitioning the MERGE already uses, so in-pipeline this
    reuses the shuffle. (event_id tiebreak totalizes the order, making
    interval boundaries deterministic.)"""
    ev = t(spark, sf_dir, "events").filter(
        F.col("event_type").isin("signup", "purchase")
    )
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    return ev.select(
        "user_id",
        F.col("ts").alias("valid_from"),
        F.lead("ts").over(w).alias("valid_to"),
        F.lead("ts").over(w).isNull().alias("is_current"),
        F.round("value", 2).alias("value_r"),
        F.row_number().over(w).alias("version_n"),
    )


@_q(
    "c12_json_extract",
    """
    SELECT CAST(json_extract_string(props, '$.k') AS BIGINT) % 10 AS k_bucket,
           count(*) AS n_events,
           round(avg(value), 4) AS avg_value,
           count(*) FILTER (WHERE json_extract_string(props, '$.missing')
                            IS NOT NULL) AS n_missing_hits
    FROM events
    GROUP BY 1
    """,
)
def c12(spark, sf_dir):
    """Semi-structured extraction (the C-family surface for JSON payload
    columns a CDC feed carries): path extraction + typed cast + absent-
    path NULL semantics, all JVM-side (`get_json_object` codegen) —
    no schema inference pass, no UDF; one aggregate exchange."""
    ev = t(spark, sf_dir, "events")
    k = F.get_json_object(F.col("props"), "$.k").cast("long")
    missing = F.get_json_object(F.col("props"), "$.missing")
    return ev.groupBy((k % 10).alias("k_bucket")).agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.avg("value"), 4).alias("avg_value"),
        F.count(missing).alias("n_missing_hits"),
    )


@_q(
    "a10_heavy_hitters",
    """
    WITH w AS (SELECT unnest(string_split_regex(trim(lower(text)), '\\s+')) AS item
               FROM documents)
    SELECT item, count(*) AS n FROM w
    GROUP BY item ORDER BY n DESC, item LIMIT 20
    """,
)
def a10(spark, sf_dir):
    """Exact top-k frequent words: one full (item) groupBy — the shuffle
    is vocabulary-wide, which is the cost a10s's sketch path avoids.
    Total order (n desc, item) makes the LIMIT deterministic under
    ties in both engines."""
    from logminer_kafka_connect_spark.operators.textops.dedup import words_expr
    from logminer_kafka_connect_spark.operators.textops.heavy_hitters import (
        exact_top_k,
    )

    words = t(spark, sf_dir, "documents").select(
        F.explode(words_expr("text")).alias("item")
    )
    return exact_top_k(words, "item", 20)


@_q("a10s_heavy_hitters_sketch")  # rows-only: MG partials are partition-
# order-dependent internally; the final answer's equality with a10 and the
# MG superset guarantee are pinned in tests/test_round5.py
def a10s(spark, sf_dir):
    """Misra-Gries heavy hitters: per-partition counter summaries (narrow
    mapInPandas), mergeable-summaries combine, then an exact recount of
    the surviving candidates via broadcast semi-join — only candidate
    occurrences ever reach a shuffle."""
    from logminer_kafka_connect_spark.operators.textops.dedup import words_expr
    from logminer_kafka_connect_spark.operators.textops.heavy_hitters import (
        heavy_hitters_sketch,
    )

    words = t(spark, sf_dir, "documents").select(
        F.explode(words_expr("text")).alias("item")
    )
    return heavy_hitters_sketch(words, "item", 20)


@_q(
    "d23_incremental_dedup",
    f"""
    WITH {_shingle_cte(3)},
    shd AS (SELECT doc_id,
                   ('0x' || substr(md5(shingle), 1, 8))::bigint AS v1,
                   ('0x' || substr(md5(shingle), 9, 8))::bigint AS v2
            FROM sh),
    sig AS (SELECT doc_id, {_MH_COLS} FROM shd GROUP BY doc_id),
    bucket AS ({_BAND_SELECTS}),
    cand AS (SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
             FROM bucket a JOIN bucket b
               ON a.band = b.band AND a.bkey = b.bkey
             WHERE a.doc_id % 4 <> 0 AND b.doc_id % 4 = 0),
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
              FROM sh a JOIN sh b ON a.shingle = b.shingle
              WHERE a.doc_id % 4 <> 0 AND b.doc_id % 4 = 0
              GROUP BY 1, 2)
    SELECT c.id_a AS base_id, c.id_b AS delta_id,
           round(i.n_inter / (na.n + nb.n - i.n_inter), 6) AS jaccard
    FROM cand c
    JOIN inter i ON c.id_a = i.id_a AND c.id_b = i.id_b
    JOIN sizes na ON na.doc_id = c.id_a
    JOIN sizes nb ON nb.doc_id = c.id_b
    WHERE round(i.n_inter / (na.n + nb.n - i.n_inter), 6) >= 0.2
    """,
)
def d23(spark, sf_dir):
    """Incremental (delta-vs-base) MinHash dedup — the CDC-ingest dedup
    shape: the incoming batch's band buckets join ONLY against the
    standing corpus's buckets, so no base-base or delta-delta pair is
    ever generated and candidate volume scales with |delta|, not
    |corpus|². Verification is the same candidate-bounded exact Jaccard
    as d15. Base = doc_id % 4 != 0, delta = the rest."""
    from logminer_kafka_connect_spark.operators.textops.dedup import (
        incremental_minhash_dedup,
    )

    docs = t(spark, sf_dir, "documents")
    return incremental_minhash_dedup(
        docs.filter(F.col("doc_id") % 4 != 0),
        docs.filter(F.col("doc_id") % 4 == 0),
    )


@_q("d22_bloom_novelty")  # rows-only: a Bloom filter is approximate by design;
# its guarantees (zero false negatives, bounded FP rate vs the exact
# anti-join) are pinned in tests/test_round5.py
def d22(spark, sf_dir):
    """Bloom-filter novelty screen — zero-shuffle 'definitely never seen'
    check of an incoming delta against the standing corpus: base texts
    fold into per-partition numpy bitmaps (mapInPandas) OR-merged and
    broadcast; the delta maps through it narrowly. Hashing is JVM md5."""
    from logminer_kafka_connect_spark.operators.textops.bloom import (
        build_bloom,
        novelty_flags,
    )

    docs = t(spark, sf_dir, "documents")
    base = docs.filter(F.col("doc_id") % 4 != 0)
    delta = docs.filter(F.col("doc_id") % 4 == 0)
    bloom = build_bloom(base, "text")
    return novelty_flags(delta.select("doc_id", "text"), bloom, "text").select(
        "doc_id", "possibly_seen"
    )


@_q(
    "d24_semdedup",
    """
    WITH n AS (SELECT vec_id, embedding,
                 sqrt(list_aggregate(list_transform(embedding,
                     v -> CAST(v AS DOUBLE) * CAST(v AS DOUBLE)), 'sum')) AS nrm
               FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS id_a, b.vec_id AS id_b
      FROM n a JOIN n b ON a.vec_id < b.vec_id
      WHERE round(list_aggregate(list_transform(list_zip(a.embedding, b.embedding),
                x -> CAST(x[1] AS DOUBLE) * CAST(x[2] AS DOUBLE)), 'sum')
              / (a.nrm * b.nrm), 6) >= 0.4
    ),
    victims AS (SELECT DISTINCT id_b FROM pairs)
    SELECT e.vec_id, (v.id_b IS NULL) AS kept
    FROM embeddings e LEFT JOIN victims v ON e.vec_id = v.id_b
    """,
)
def d24(spark, sf_dir):
    """SemDedup-style semantic pruning: every vector labeled kept/dropped
    under the deterministic min-id-representative rule (drop anything with
    a smaller-id neighbor at cosine >= 0.4). Brute pairs here = the oracle
    baseline; the 100-TB path feeds pairs= from the LSH-bucketed
    candidates (semantics pinned identical in tests)."""
    return D.semdedup_prune(t(spark, sf_dir, "embeddings"), threshold=0.4)


@_q(
    "t29_tfidf_keywords",
    """
    WITH d AS (SELECT doc_id, text FROM documents WHERE doc_id < 300),
    w AS (SELECT doc_id, unnest(string_split_regex(lower(text), '[^a-z0-9]+')) AS word
          FROM d),
    ww AS (SELECT doc_id, word FROM w WHERE length(word) >= 3),
    tf AS (SELECT doc_id, word, count(*) AS tf FROM ww GROUP BY doc_id, word),
    dfq AS (SELECT word, count(*) AS df FROM tf GROUP BY word),
    n AS (SELECT count(*) AS n_docs FROM d),
    s AS (SELECT tf.doc_id, tf.word,
                 CAST(tf.tf AS BIGINT) AS tf, CAST(dfq.df AS BIGINT) AS df,
                 round(tf.tf * ln(n.n_docs / dfq.df), 6) AS tfidf
          FROM tf JOIN dfq USING (word) CROSS JOIN n),
    r AS (SELECT *, row_number() OVER (PARTITION BY doc_id
              ORDER BY tfidf DESC, word ASC) AS rank FROM s)
    SELECT doc_id, word, tf, df, tfidf, CAST(rank AS BIGINT) AS rank
    FROM r WHERE rank <= 3
    """,
)
def t29(spark, sf_dir):
    """Per-doc top-3 TF-IDF keywords: two partial-agg shuffles (tf on
    (doc, word); df on word), vocabulary-sized df + 1-row N broadcast
    back, ranking window on the rounded score (engine-stable ties)."""
    return Q.tfidf_keywords(
        t(spark, sf_dir, "documents").filter(F.col("doc_id") < 300)
    )


_C13_SPLIT = _SPLIT_SQL  # same thresholds/salt as t24 (0.9/0.05/0.05)

@_q(
    "c13_curation_pipeline",
    f"""
    WITH w AS (SELECT doc_id, lang, text,
                      string_split_regex(trim(lower(text)), '\\s+') AS ws
               FROM documents WHERE lang IN ('en', 'de')),
    m AS (SELECT doc_id, lang, text,
                 len(ws) AS n_words,
                 len(list_filter(ws, x -> x IN ({_STOP_SQL}))) / len(ws) AS stop_ratio,
                 list_aggregate(list_transform(ws, x -> length(x)), 'sum')
                   / len(ws) AS awl
          FROM w),
    q AS (SELECT doc_id, lang, text,
                 round(((CASE WHEN n_words BETWEEN 10 AND 100000 THEN 1.0 ELSE 0.0 END)
                      + (CASE WHEN awl BETWEEN 2.0 AND 12.0 THEN 1.0 ELSE 0.0 END)
                      + least(stop_ratio * 5.0, 1.0)) / 3.0, 6) AS quality
          FROM m),
    k AS (SELECT doc_id, lang, quality,
                 min(doc_id) OVER (PARTITION BY md5(text)) AS keeper
          FROM q WHERE quality >= 0.5)
    SELECT doc_id, lang, quality, {_C13_SPLIT} AS split
    FROM k WHERE doc_id = keeper
    """,
)
def c13(spark, sf_dir):
    """End-to-end curation pipeline (the composition a training-data run
    executes): lang filter -> quality gate -> exact-dup keep-min-id ->
    deterministic split. One narrow scan + ONE shuffle (the md5(text)
    dedup window); split is a pure projection. Composes t21's quality
    formula, d14's dedup rule, and t24's split thresholds, verified
    end-to-end as one query."""
    return Q.curate_corpus(
        t(spark, sf_dir, "documents"),
        langs=("en", "de"),
        min_quality=0.5,
        weights=[("train", 0.9), ("val", 0.05), ("test", 0.05)],
    )


# --------------------------------------------------------------------------
# Rows-only entries (no SQL-expressible oracle): CDC replay, LSH ANN,
# multimodal features
# --------------------------------------------------------------------------
@_q("cdc_replay")
def cdc_replay(spark, sf_dir):
    """Flagship: full CDC replay (generator -> consolidate -> parse ->
    net-effect -> MERGE) sized by scale factor; returns the final table
    state. Correctness is pinned by the replay fixtures (independent
    pandas oracle) in tests/test_replay_e2e.py."""
    import tempfile

    from logminer_kafka_connect_spark.engine import CdcEngine
    from logminer_kafka_connect_spark.sources.generator import (
        SCN0,
        CdcGenerator,
        GeneratorConfig,
    )

    sf = "0.001" if "0.001" in sf_dir else ("0.01" if "0.01" in sf_dir else "0.1")
    n_txns = {"0.001": 60, "0.01": 300, "0.1": 1500}[sf]
    gen = CdcGenerator(
        GeneratorConfig(seed=42, n_txns=n_txns, n_urls=n_txns * 2, n_snapshot=n_txns)
    )
    workdir = tempfile.mkdtemp(prefix="lmkc-entry-")
    engine = CdcEngine(spark, workdir, n_buckets=16)
    engine.load_snapshot(gen.snapshot_df(spark), snapshot_scn=SCN0 - 1)
    engine.replay(gen.events_df(spark).localCheckpoint(eager=True), n_batches=4)
    state = engine.state()
    return state.select(
        "url",
        F.length("text").cast("long").alias("text_len"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5"),
        "lang",
    )


@_q("cdc_mor_replay")
def cdc_mor_replay(spark, sf_dir):
    """Merge-on-read replay (Iceberg v2 write-optimized mode): the same
    deterministic CDC fixture replayed through TWO engines — copy-on-write
    and merge-on-read — must land the identical final table state; the
    MoR table is then compacted and must STILL match. Rows-only in DuckDB
    terms (multi-batch MERGE lifecycle) but SELF-VERIFYING: the CoW twin
    is the oracle, compared row-for-row in-entry before anything is
    returned, and the entry also asserts the MoR history actually took
    the delta path (at least one merge-mor commit) so a silent fallback
    can't fake the pass."""
    import tempfile

    from logminer_kafka_connect_spark.engine import CdcEngine
    from logminer_kafka_connect_spark.sources.generator import (
        SCN0,
        CdcGenerator,
        GeneratorConfig,
    )

    sf = "0.001" if "0.001" in sf_dir else ("0.01" if "0.01" in sf_dir else "0.1")
    n_txns = {"0.001": 40, "0.01": 150, "0.1": 400}[sf]
    states = {}
    engines = {}
    for mode in ("cow", "mor"):
        gen = CdcGenerator(
            GeneratorConfig(seed=42, n_txns=n_txns, n_urls=n_txns * 2, n_snapshot=n_txns)
        )
        workdir = tempfile.mkdtemp(prefix=f"lmkc-{mode}-")
        engine = CdcEngine(spark, workdir, n_buckets=16, merge_mode=mode)
        engine.load_snapshot(gen.snapshot_df(spark), snapshot_scn=SCN0 - 1)
        engine.replay(gen.events_df(spark).localCheckpoint(eager=True), n_batches=3)
        engines[mode] = engine
        states[mode] = sorted(
            (r.url, r.lang, None if r.text is None else r.text)
            for r in engine.state().select("url", "lang", "text").collect()
        )
    if states["mor"] != states["cow"]:
        raise AssertionError(
            f"MoR final state diverged from CoW: {len(states['mor'])} vs "
            f"{len(states['cow'])} rows"
        )
    ops = [m.get("operation") for m in engines["mor"].table.snapshot_history()]
    if "merge-mor" not in ops:
        raise AssertionError(f"no merge-mor commit in history: {ops}")
    engines["mor"].table.compact(spark)
    post = sorted(
        (r.url, r.lang, None if r.text is None else r.text)
        for r in engines["mor"].table.read(spark).select("url", "lang", "text").collect()
    )
    if post != states["cow"]:
        raise AssertionError("compaction changed the table state")
    return (
        engines["mor"]
        .state()
        .select(
            "url",
            F.length("text").cast("long").alias("text_len"),
            F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5"),
        )
    )


@_q("cdc_point_lookup")
def cdc_point_lookup(spark, sf_dir):
    """Point lookup on the replicated table (bucket-transform partition
    pruning, the CDC serving pattern): current rows for k explicit keys
    read at most k hash buckets' files, independent of table size. The
    table is merge-on-read with a live partial-update + delete batch, so
    the lookup also exercises the delta fold. Rows-only in DuckDB terms
    (the read is over the engine's own table) but SELF-VERIFYING: the
    entry asserts the bucket-pruned lookup equals the full-scan filter
    row-for-row, that the deleted key is absent, that the partial update
    landed, AND that strictly fewer buckets than the table holds were
    resolved — before returning anything."""
    import tempfile

    from logminer_kafka_connect_spark.plans.lakehouse import (
        OP_COL,
        SET_COLS_COL,
        _bucket_expr,
        SnapshotTable,
    )

    docs = t(spark, sf_dir, "documents")
    workdir = tempfile.mkdtemp(prefix="lmkc-ptlk-")
    table = SnapshotTable.create(
        f"{workdir}/docs", docs.schema, ["doc_id"], n_buckets=16, merge_mode="mor"
    )
    table.overwrite(docs)
    upd = (
        docs.filter(F.col("doc_id").isin([3, 7]))
        .withColumn("lang", F.lit("xx"))
        .withColumn(OP_COL, F.lit("u"))
        .withColumn(SET_COLS_COL, F.array(F.lit("lang")))
    )
    dele = (
        docs.filter(F.col("doc_id") == 11)
        .withColumn(OP_COL, F.lit("d"))
        .withColumn(SET_COLS_COL, F.lit(None).cast("array<string>"))
    )
    table.merge(spark, upd.unionByName(dele), batch_id="ptlk-b1")

    keys = [3, 7, 11, 42, 123456789]  # updated, updated, deleted, clean, absent
    got = sorted(
        (r.doc_id, r.lang, r.n_chars)
        for r in table.read_for_keys(spark, keys).select("doc_id", "lang", "n_chars").collect()
    )
    want = sorted(
        (r.doc_id, r.lang, r.n_chars)
        for r in table.read(spark)
        .filter(F.col("doc_id").isin(keys))
        .select("doc_id", "lang", "n_chars")
        .collect()
    )
    if got != want:
        raise AssertionError(f"point lookup diverged from full scan: {got} vs {want}")
    if any(d == 11 for d, _, _ in got):
        raise AssertionError("deleted key survived the lookup fold")
    if sorted(d for d, lang, _ in got if lang == "xx") != [3, 7]:
        raise AssertionError(f"partial update missing from lookup: {got}")
    n_buckets_hit = (
        spark.createDataFrame([(k,) for k in keys], "doc_id long")
        .select(_bucket_expr(["doc_id"], 16).alias("b"))
        .distinct()
        .count()
    )
    if not n_buckets_hit < 16:
        raise AssertionError("lookup resolved every bucket — pruning is vacuous")
    return table.read_for_keys(spark, keys).select("doc_id", "lang", "n_chars").orderBy("doc_id")


@_q("cdc_rollback_recovery")
def cdc_rollback_recovery(spark, sf_dir):
    """Bad-batch recovery (Iceberg rollback_to_snapshot applied to CDC
    exactly-once state): a poisoned batch lands on the replicated table,
    ``rollback_to`` restores the last good version INCLUDING the applied-
    batch-id ledger, and the corrected batch re-applies under the SAME
    batch id. Rows-only in DuckDB terms (a multi-version MERGE lifecycle)
    but SELF-VERIFYING: the entry asserts the poison is visible before
    rollback, gone after, that the corrected batch actually lands (the
    id was re-opened), that history still preserves the poisoned version
    for audit, and that the final state equals an untouched twin that
    never saw the poison — before returning anything."""
    import tempfile

    from logminer_kafka_connect_spark.plans.lakehouse import (
        OP_COL,
        SET_COLS_COL,
        SnapshotTable,
    )

    docs = t(spark, sf_dir, "documents")

    def upd(pred, lang):
        return (
            docs.filter(pred)
            .withColumn("lang", F.lit(lang))
            .withColumn(OP_COL, F.lit("u"))
            .withColumn(SET_COLS_COL, F.array(F.lit("lang")))
        )

    def mk(name):
        table = SnapshotTable.create(
            f"{tempfile.mkdtemp(prefix='lmkc-rb-')}/{name}",
            docs.schema,
            ["doc_id"],
            n_buckets=8,
        )
        table.overwrite(docs, batch_id="b0")
        table.merge(spark, upd(F.col("doc_id") % 10 == 3, "aa"), batch_id="b1")
        return table

    table, twin = mk("main"), mk("twin")
    v_good = table.current_version()
    table.merge(spark, upd(F.col("doc_id") % 10 == 7, "POISON"), batch_id="b2")
    if table.read(spark).filter(F.col("lang") == "POISON").count() == 0:
        raise AssertionError("fixture broken: poison batch did not land")
    v_poison = table.current_version()
    table.rollback_to(v_good)
    if table.read(spark).filter(F.col("lang") == "POISON").count() != 0:
        raise AssertionError("rollback left poisoned rows")
    if table.is_applied("b2"):
        raise AssertionError("rollback did not re-open the batch id")
    table.merge(spark, upd(F.col("doc_id") % 10 == 7, "bb"), batch_id="b2")
    twin.merge(spark, upd(F.col("doc_id") % 10 == 7, "bb"), batch_id="b2")
    got = sorted((r.doc_id, r.lang) for r in table.read(spark).select("doc_id", "lang").collect())
    want = sorted((r.doc_id, r.lang) for r in twin.read(spark).select("doc_id", "lang").collect())
    if got != want:
        raise AssertionError("recovered state diverged from the never-poisoned twin")
    if table.read(spark, version=v_poison).filter(F.col("lang") == "POISON").count() == 0:
        raise AssertionError("history lost the poisoned version (audit trail broken)")
    return (
        table.read(spark)
        .filter(F.col("lang").isin(["aa", "bb"]))
        .select("doc_id", "lang")
        .orderBy("doc_id")
    )


@_q("cdc_schema_evolution")
def cdc_schema_evolution(spark, sf_dir):
    """Full schema-evolution lifecycle interleaved with a live MERGE
    replay — the north rule's 'ALTER TABLE add/rename column applied
    before the affected microbatch commits' clause, plus the two shapes
    Iceberg adds on top (type widening, metadata-only drop). Reference
    parity: SchemaService.kt + ChangingTableTest.kt drive the same
    sequence over a live connector. Every DDL here is metadata-only (no
    data rewrite; at 100 TB a rewrite-based ALTER is an outage), and
    every post-DDL batch is written at the NEW schema against files
    still laid out at the old one. Rows-only in DuckDB terms (a
    multi-version DDL+MERGE lifecycle) but SELF-VERIFYING: the entry
    asserts (1) post-widen values above int range round-trip, (2) the
    renamed column still reads pre-rename bytes, (3) time travel to the
    pre-DDL version reads the ORIGINAL schema (old name, old type, no
    added column), (4) the dropped column is gone from the final read,
    and (5) the final state equals a twin table CREATED at the final
    schema and fed the equivalent batches — before returning rows."""
    import shutil
    import tempfile

    from pyspark.sql import types as T

    from logminer_kafka_connect_spark.plans.lakehouse import (
        OP_COL,
        SET_COLS_COL,
        SnapshotTable,
    )

    docs = t(spark, sf_dir, "documents").select(
        "doc_id", "lang", F.col("n_chars").cast("int").alias("n_chars")
    )
    schema0 = T.StructType(
        [
            T.StructField("doc_id", T.LongType()),
            T.StructField("lang", T.StringType()),
            T.StructField("n_chars", T.IntegerType()),
        ]
    )

    def upd(df, col, pred, val):
        return (
            df.filter(pred)
            .withColumn(col, F.lit(val))
            .withColumn(OP_COL, F.lit("u"))
            .withColumn(SET_COLS_COL, F.array(F.lit(col)))
        )

    workdir = tempfile.mkdtemp(prefix="lmkc-ddl-")
    try:
        table = SnapshotTable.create(f"{workdir}/docs", schema0, ["doc_id"], n_buckets=8)
        table.overwrite(docs, batch_id="b0")
        table.merge(spark, upd(docs, "lang", F.col("doc_id") % 7 == 1, "aa"), batch_id="b1")
        v_pre_ddl = table.current_version()

        # DDL 1: ADD COLUMN with default — old files read the default.
        table.add_column("quality", T.DoubleType(), default=0.5)
        table.merge(
            spark, upd(table.read(spark), "quality", F.col("doc_id") % 5 == 2, 0.9), batch_id="b2"
        )
        # DDL 2: RENAME — new name reads old bytes, no rewrite.
        table.rename_column("lang", "language")
        table.merge(
            spark,
            upd(table.read(spark), "language", F.col("doc_id") % 7 == 3, "bb"),
            batch_id="b3",
        )
        # DDL 3: type WIDENING int -> long, then a value above int range.
        table.alter_column_type("n_chars", T.LongType())
        big = spark.createDataFrame(
            [(10_000_000_001, "zz", 5_000_000_000, 0.1, "c")],
            "doc_id long, language string, n_chars long, quality double, __op string",
        ).withColumn(SET_COLS_COL, F.lit(None).cast("array<string>"))
        table.merge(spark, big, batch_id="b4")
        # DDL 4: DROP — metadata-only; time travel before it still reads it.
        table.drop_column("quality")

        final = table.read(spark)
        if "quality" in final.columns:
            raise AssertionError("dropped column still visible in the final read")
        if final.filter(F.col("n_chars") == 5_000_000_000).count() != 1:
            raise AssertionError("post-widen long value did not round-trip")
        n_renamed = final.filter((F.col("doc_id") % 7 == 1) & (F.col("language") == "aa")).count()
        if n_renamed != docs.filter(F.col("doc_id") % 7 == 1).count():
            raise AssertionError("renamed column lost pre-rename bytes")
        old = table.read(spark, version=v_pre_ddl)
        if set(old.columns) != {"doc_id", "lang", "n_chars"} or dict(old.dtypes)["n_chars"] != "int":
            raise AssertionError(f"time travel lost the pre-DDL schema: {old.dtypes}")

        # Twin created AT the final schema, fed the equivalent batches
        # (b2 only ever touched the later-dropped column: net no-op).
        docs_f = docs.withColumnRenamed("lang", "language").withColumn(
            "n_chars", F.col("n_chars").cast("long")
        )
        twin = SnapshotTable.create(
            f"{workdir}/twin",
            T.StructType(
                [
                    T.StructField("doc_id", T.LongType()),
                    T.StructField("language", T.StringType()),
                    T.StructField("n_chars", T.LongType()),
                ]
            ),
            ["doc_id"],
            n_buckets=8,
        )
        twin.overwrite(docs_f, batch_id="b0")
        twin.merge(spark, upd(docs_f, "language", F.col("doc_id") % 7 == 1, "aa"), batch_id="b1")
        twin.merge(
            spark,
            upd(twin.read(spark), "language", F.col("doc_id") % 7 == 3, "bb"),
            batch_id="b3",
        )
        twin.merge(spark, big.drop("quality"), batch_id="b4")
        cols = ["doc_id", "language", "n_chars"]
        got = sorted(tuple(r) for r in final.select(*cols).collect())
        want = sorted(tuple(r) for r in twin.read(spark).select(*cols).collect())
        if got != want:
            raise AssertionError("evolved table diverged from the final-schema twin")
        # rows, not a read of the working directory removed below
        return spark.createDataFrame(got, final.select(*cols).schema).orderBy("doc_id")
    finally:
        shutil.rmtree(workdir, ignore_errors=True)


@_q("cdc_bloom_lookup")
def cdc_bloom_lookup(spark, sf_dir):
    """Per-file BLOOM-FILTER skipping for equality probes (Parquet
    bloom-filter / Iceberg parity) — the complement of cdc_pruned_read's
    min/max stats for a high-cardinality column NOT clustered across
    files: doc_id-keyed hash bucketing scatters n_chars uniformly, so
    every file's [min, max] n_chars spans ~the whole domain and range
    stats prune nothing, while the bloom still rules files out with
    certainty. Rows-only in DuckDB terms (the read is over the engine's
    own table) but SELF-VERIFYING: asserts min/max pruning is indeed
    useless here (the honest motivation), that the bloom probe equals
    the full-scan filter row-for-row, that files were actually skipped,
    and that an absent probe returns nothing — before returning rows."""
    import tempfile

    from logminer_kafka_connect_spark.plans.lakehouse import SnapshotTable

    docs = t(spark, sf_dir, "documents")
    workdir = tempfile.mkdtemp(prefix="lmkc-bloom-")
    table = SnapshotTable.create(
        f"{workdir}/docs",
        docs.schema,
        ["doc_id"],
        n_buckets=8,
        stats_cols=["n_chars"],
        bloom_cols=["n_chars"],
    )
    table.overwrite(docs)
    probe = docs.orderBy("doc_id").select("n_chars").first()["n_chars"]
    n_files = sum(len(ps) for ps in table.metadata()["buckets"].values())
    _, rng_skipped = table.prune_files("n_chars", probe, probe)
    if len(rng_skipped) >= n_files - 1:
        raise AssertionError(
            "min/max already prunes this probe — bloom adds nothing, fixture broken"
        )
    kept, skipped = table.prune_files_eq(spark, "n_chars", probe)
    if not skipped:
        raise AssertionError("bloom skipped no files — recording broken?")
    got = sorted(
        (r.doc_id, r.n_chars)
        for r in table.read_pruned_eq(spark, "n_chars", probe).select("doc_id", "n_chars").collect()
    )
    want = sorted(
        (r.doc_id, r.n_chars)
        for r in table.read(spark)
        .filter(F.col("n_chars") == probe)
        .select("doc_id", "n_chars")
        .collect()
    )
    if got != want or not got:
        raise AssertionError(f"bloom read diverged: {got} vs {want}")
    if table.read_pruned_eq(spark, "n_chars", -1).count() != 0:
        raise AssertionError("absent probe returned rows")
    return (
        table.read_pruned_eq(spark, "n_chars", probe)
        .select("doc_id", "n_chars")
        .orderBy("doc_id")
    )


@_q("cdc_pruned_read")
def cdc_pruned_read(spark, sf_dir):
    """Manifest file skipping on a lake table (Iceberg data-file-stats
    parity): the documents corpus lands in a table KEYED on lang — the
    identity-partitioning layout where low-cardinality predicates pay —
    so every data file's recorded [min, max] lang collapses to a point
    and a lang-range read through prune_files/read_pruned touches one
    file. Rows-only in DuckDB terms (the read is over the engine's own
    table) but SELF-VERIFYING: the entry asserts the pruned read equals
    the full filtered read AND that pruning actually skipped files
    before returning the pruned rows. (Stats on a column UNcorrelated
    with the layout prune nothing — that safety case is pytest-pinned in
    tests/test_file_stats.py.)"""
    import tempfile

    from logminer_kafka_connect_spark.plans.lakehouse import SnapshotTable

    docs = t(spark, sf_dir, "documents")
    workdir = tempfile.mkdtemp(prefix="lmkc-pruned-")
    table = SnapshotTable.create(
        f"{workdir}/docs",
        docs.schema,
        ["lang"],
        n_buckets=8,
        stats_cols=["lang"],
        sort_cols=["doc_id"],
    )
    table.overwrite(docs)
    full = {
        (r["doc_id"], r["lang"])
        for r in table.read(spark).filter(F.col("lang") == "de").collect()
    }
    kept, skipped = table.prune_files("lang", "de", "de")
    pruned = table.read_pruned(spark, "lang", "de", "de")
    got = {(r["doc_id"], r["lang"]) for r in pruned.collect()}
    if got != full:
        raise AssertionError(
            f"pruned read diverged: {len(got)} vs {len(full)} rows"
        )
    if not skipped:
        # with lang-sorted 8-bucket files over a 4-language corpus, at
        # least one file must be prunable for lang='de'; if not, stats
        # recording is broken — fail loudly rather than return weak rows
        raise AssertionError("no files skipped — stats recording broken?")
    return pruned.select("doc_id", "lang").orderBy("doc_id")


@_q("cdc_table_changes")
def cdc_table_changes(spark, sf_dir):
    """Changelog surface: replay a deterministic CDC log into the lake
    table, then read_changes between the last two versions — the
    incremental diff a downstream consumer polls. Rows-only in DuckDB
    terms (the diff is over the engine's own versioned table, not a
    testdata table) but SELF-VERIFYING (r4 VERDICT Next #6): before
    returning, the entry recomputes the expected changes as an
    independent brute diff of the two full snapshots and raises on any
    mismatch — the same oracle as tests/test_table_changes.py, now run
    by the entry harness itself on every driver invocation."""
    import tempfile

    from logminer_kafka_connect_spark.engine import CdcEngine
    from logminer_kafka_connect_spark.sources.generator import (
        SCN0,
        CdcGenerator,
        GeneratorConfig,
    )

    sf = "0.001" if "0.001" in sf_dir else ("0.01" if "0.01" in sf_dir else "0.1")
    n_txns = {"0.001": 40, "0.01": 120, "0.1": 400}[sf]
    gen = CdcGenerator(
        GeneratorConfig(seed=77, n_txns=n_txns, n_urls=n_txns * 2, n_snapshot=n_txns // 2)
    )
    workdir = tempfile.mkdtemp(prefix="lmkc-entry-chg-")
    engine = CdcEngine(spark, workdir, n_buckets=16)
    engine.load_snapshot(gen.snapshot_df(spark), snapshot_scn=SCN0 - 1)
    engine.replay(gen.events_df(spark).localCheckpoint(eager=True), n_batches=2)
    v = engine.table.current_version()
    ch = engine.table.read_changes(spark, v - 1, v)
    out = ch.select(
        "url",
        "op",
        F.md5(F.coalesce(F.col("before.text"), F.lit(""))).alias("before_md5"),
        F.md5(F.coalesce(F.col("after.text"), F.lit(""))).alias("after_md5"),
    )

    # in-entry differential (independent oracle): brute state diff of the
    # two snapshots must equal the changelog, row for row, over EVERY
    # payload column (an update may change only a non-text column — e.g.
    # lang — and the changelog must surface exactly those too; comparing
    # a text projection alone mislabels such rows as spurious). The
    # inputs are entry-sized (<= ~800 urls) so the collects are bounded.
    cols = [f.name for f in engine.table.schema().fields if f.name != "url"]

    def snap(ver):
        return {
            r["url"]: tuple(r[c] for c in cols)
            for r in engine.table.read(spark, ver).select("url", *cols).collect()
        }
    a, b = snap(v - 1), snap(v)
    expected = {}
    for k in set(a) | set(b):
        if k not in a:
            expected[k] = ("i", None, b[k])
        elif k not in b:
            expected[k] = ("d", a[k], None)
        elif a[k] != b[k]:
            expected[k] = ("u", a[k], b[k])
    got = {
        r["url"]: (
            r["op"],
            tuple(r["before"][c] for c in cols) if r["before"] else None,
            tuple(r["after"][c] for c in cols) if r["after"] else None,
        )
        for r in ch.select("url", "op", "before", "after").collect()
    }
    if got != expected:
        diff = {k: (got.get(k), expected.get(k)) for k in set(got) ^ set(expected)} or {
            k: (got[k], expected[k]) for k in got if got[k] != expected[k]
        }
        raise AssertionError(f"cdc_table_changes differential mismatch: {diff}")
    return out


@_q("cdc_replay_multi")
def cdc_replay_multi(spark, sf_dir):
    """Multi-table CDC routing: one interleaved redo log replayed into TWO
    tables (CRAWL.PAGES + CRAWL.LINKS) with separate schemas/keys — the
    reference's topic-per-table emission (SourceTask.kt:46-63). Rows-only;
    per-table state is pinned against independent pandas oracles in
    tests/test_multitable.py."""
    import tempfile

    from pyspark.sql import types as T

    from logminer_kafka_connect_spark.engine import (
        PAGES_SCHEMA,
        MultiTableCdcEngine,
        TableSpec,
    )
    from logminer_kafka_connect_spark.sources.generator import (
        SCN0,
        CdcGenerator,
        GeneratorConfig,
    )

    links_schema = T.StructType(
        [
            T.StructField("link_id", T.StringType(), False),
            T.StructField("src_url", T.StringType(), True),
            T.StructField("href", T.StringType(), True),
            T.StructField("anchor", T.StringType(), True),
        ]
    )
    sf = "0.001" if "0.001" in sf_dir else ("0.01" if "0.01" in sf_dir else "0.1")
    n_txns = {"0.001": 60, "0.01": 200, "0.1": 600}[sf]
    gen = CdcGenerator(
        GeneratorConfig(
            seed=43, n_txns=n_txns, n_urls=n_txns * 2, n_snapshot=n_txns // 2,
            p_links_txn=0.3,
        )
    )
    workdir = tempfile.mkdtemp(prefix="lmkc-multi-")
    engine = MultiTableCdcEngine(
        spark,
        workdir,
        [
            TableSpec("CRAWL", "PAGES", PAGES_SCHEMA, "url"),
            TableSpec("CRAWL", "LINKS", links_schema, "link_id"),
        ],
        n_buckets=8,
    )
    engine.load_snapshot("PAGES", gen.snapshot_df(spark), SCN0 - 1)
    engine.replay(gen.events_df(spark).localCheckpoint(eager=True), n_batches=3)
    pages = engine.state("PAGES").select(
        F.lit("PAGES").alias("table"),
        F.col("url").alias("key"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("payload_md5"),
    )
    links = engine.state("LINKS").select(
        F.lit("LINKS").alias("table"),
        F.col("link_id").alias("key"),
        F.md5(F.concat_ws("|", "src_url", "href", "anchor")).alias("payload_md5"),
    )
    return pages.unionByName(links)


@_q("cdc_envelope")
def cdc_envelope(spark, sf_dir):
    """S6/S7: Debezium-style envelope stream (the reference's actual output
    format) from a deterministic change-event log; rows-only check."""
    from logminer_kafka_connect_spark.engine import PAGES_SCHEMA
    from logminer_kafka_connect_spark.operators.apply import parse_committed
    from logminer_kafka_connect_spark.operators.consolidate import consolidate
    from logminer_kafka_connect_spark.operators.envelope import to_envelope
    from logminer_kafka_connect_spark.sources.generator import CdcGenerator, GeneratorConfig

    gen = CdcGenerator(GeneratorConfig(seed=42, n_txns=120, n_urls=200, n_snapshot=0))
    committed = consolidate(gen.events_df(spark).localCheckpoint(eager=True), [("CRAWL", "PAGES")])
    parsed = parse_committed(committed).filter(F.col("parse_error").isNull())
    env = to_envelope(parsed, PAGES_SCHEMA, tombstones=True)
    return env.select(
        "key",
        "op",
        F.col("source.scn").alias("scn"),
        F.col("source.txId").alias("tx_id"),
        F.length(F.col("after.text")).alias("after_text_len"),
        F.col("after.lang").alias("after_lang"),
    )


@_q("ann_lsh_bucketed")
def ann_lsh(spark, sf_dir):
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    return S.lsh_bucketed_topk(emb, q, k=3, n_tables=12, n_planes=4)


@_q("ann_recall")
def ann_recall(spark, sf_dir):
    """Recall@k of the LSH-bucketed ANN vs the exact top-k (n18's answer) —
    the quality gate for the approximate scale path. No SQL oracle exists
    for seeded-numpy hyperplanes; tests/test_textops.py asserts a recall
    floor on this same DataFrame."""
    emb = t(spark, sf_dir, "embeddings")
    q = emb.filter(F.col("vec_id") < 10)
    exact = S.cosine_topk(emb, q, k=3).select("query_id", "neighbor_id")
    approx = S.lsh_bucketed_topk(emb, q, k=3, n_tables=12, n_planes=4).select(
        "query_id", "neighbor_id"
    )
    hits = exact.join(approx, ["query_id", "neighbor_id"], "left_semi")
    return (
        exact.groupBy("query_id")
        .agg(F.count(F.lit(1)).alias("n_exact"))
        .join(
            hits.groupBy("query_id").agg(F.count(F.lit(1)).alias("n_hit")),
            "query_id",
            "left",
        )
        .select(
            "query_id",
            F.round(F.coalesce(F.col("n_hit"), F.lit(0)) / F.col("n_exact"), 4).alias(
                "recall_at_k"
            ),
        )
    )


@_q("d18_lsh_near_dups")
def d18_lsh(spark, sf_dir):
    """Scale path for embedding near-dup detection: LSH-bucketed candidate
    generation + exact-cosine verify (rows-only; recall vs the d18 exact
    baseline asserted in tests/test_textops.py)."""
    return S.lsh_near_dup_pairs(t(spark, sf_dir, "embeddings"), threshold=0.4)


@_q("mm_media_features")
def mm_features(spark, sf_dir):
    from logminer_kafka_connect_spark.operators.textops.multimodal import (
        attach_media_columns,
        extract_media_features,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = extract_media_features(attach_media_columns(docs))
    # The harness canonicalizer sorts/hashes columns — an array<float>
    # column is unhashable pandas-side, so project it to a stable scalar
    # (the operator itself still returns the typed array).
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        "byte_entropy",
        F.to_json("feature").alias("feature_json"),
    )


@_q("mm_png_decode")
def mm_png_decode(spark, sf_dir):
    """The REAL-codec rung of the multimodal slot (rows-only; no SQL
    oracle can decode PNG): text -> valid PNG bytes (pure-python encoder)
    -> full spec-compliant decode (CRC check, inflate, un-filter) ->
    pixel-derived features, all through the same mapInPandas plumbing as
    the fake-decoder baseline. Round-trip exactness is pinned in
    tests/test_textops.py."""
    from logminer_kafka_connect_spark.functions.media_codec import png_decoder
    from logminer_kafka_connect_spark.operators.textops.multimodal import (
        attach_png_media_columns,
        extract_media_features,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = extract_media_features(
        attach_png_media_columns(docs), use_real_decoder=True, decoder=png_decoder
    )
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        "byte_entropy",
        F.to_json("feature").alias("feature_json"),
    )


@_q("mm_jpeg_decode")
def mm_jpeg_decode(spark, sf_dir):
    """Entropy-coded rung of the real-codec story (rows-only; no SQL
    oracle runs huffman+IDCT): text -> valid baseline JPEG (pure-python
    DCT + Annex-K huffman encoder) -> FULL entropy decode (huffman,
    run-length, dezigzag, dequantize, IDCT) -> pixel-derived features,
    through the same mapInPandas plumbing. Reconstruction error is
    quantization-bounded and pinned in tests/test_textops.py."""
    from logminer_kafka_connect_spark.functions.media_codec import jpeg_decoder
    from logminer_kafka_connect_spark.operators.textops.multimodal import (
        attach_jpeg_media_columns,
        extract_media_features,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = extract_media_features(
        attach_jpeg_media_columns(docs), use_real_decoder=True, decoder=jpeg_decoder
    )
    return feats.select(
        "doc_id",
        "n_bytes",
        F.round("byte_mean", 6).alias("byte_mean"),
        "byte_entropy",
        F.to_json("feature").alias("feature_json"),
    )


@_q("mm_wav_decode")
def mm_wav_decode(spark, sf_dir):
    """Audio rung of the multimodal slot (rows-only; no SQL oracle decodes
    PCM): text -> valid RIFF/WAVE tone mixture (pure-python encoder) ->
    sample-accurate decode -> waveform features (duration, RMS,
    zero-crossing rate, 16-band spectrum), through the same mapInPandas
    plumbing with the audio feature schema. Round-trip exactness pinned in
    tests/test_textops.py."""
    from logminer_kafka_connect_spark.functions.media_codec import wav_decoder
    from logminer_kafka_connect_spark.operators.textops.multimodal import (
        AUDIO_FEATURE_SCHEMA,
        attach_wav_media_columns,
        extract_media_features,
    )

    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 200)
    feats = extract_media_features(
        attach_wav_media_columns(docs),
        use_real_decoder=True,
        decoder=wav_decoder,
        feature_schema=AUDIO_FEATURE_SCHEMA,
    )
    return feats.select(
        "doc_id",
        "n_bytes",
        "rate",
        "duration_s",
        "rms",
        "zero_crossing_rate",
        F.to_json("feature").alias("feature_json"),
    )


# --------------------------------------------------------------------------
# 26. Stateful streaming compaction (applyInPandasWithState) — beyond-
#     reference (SURVEY.md §2 T10 n/a): per-key latest-wins CDC compactor
#     whose state store carries each key's high-water mark across triggers.
#     The emission LOG depends on trigger slicing (inherently streaming),
#     but the final per-key image is slicing-invariant — that projection is
#     what the DuckDB oracle checks; slicing invariance itself is pinned by
#     tests/test_stateful_streaming.py.
# --------------------------------------------------------------------------
@_q(
    "st_latest_per_key",
    """
    SELECT user_id, event_id, event_type, value
    FROM (
      SELECT user_id, event_id, event_type, value,
             ROW_NUMBER() OVER (PARTITION BY user_id ORDER BY event_id DESC) AS rn
      FROM events
    ) WHERE rn = 1
    """,
)
def st_latest_per_key(spark, sf_dir):
    """Streaming stateful compaction over the events table: 8-file parquet
    stream, one file per trigger, per-user latest-wins with cross-trigger
    state (streaming/stateful.py); returns the final compacted image."""
    import shutil
    import tempfile
    import uuid

    from logminer_kafka_connect_spark.streaming.stateful import (
        run_compaction_to_memory,
    )

    ev = t(spark, sf_dir, "events").select("user_id", "event_id", "event_type", "value")
    src = tempfile.mkdtemp(prefix="lmkc-stateful-src-")
    # state-store instances = shuffle partitions at stream start; size them
    # to the 8-file fixture (each of the 8 triggers otherwise checkpoints
    # 32 state partitions — pure per-trigger overhead at this scale; a
    # production stream sizes this to its own key volume via session conf)
    _prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        ev.repartition(8, F.col("event_id")).write.mode("overwrite").parquet(src)
        emissions = run_compaction_to_memory(
            spark,
            src,
            ev.schema,
            key_cols=["user_id"],
            order_col="event_id",
            payload_cols=["user_id", "event_id", "event_type", "value"],
            max_files_per_trigger=1,
            query_name=f"lmkc_compact_{uuid.uuid4().hex[:8]}",
        )
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", _prev)
        # the memory sink holds the emissions; the source files are spent
        shutil.rmtree(src, ignore_errors=True)
    w = Window.partitionBy("user_id").orderBy(F.col("event_id").desc())
    return (
        emissions.withColumn("rn", F.row_number().over(w))
        .filter(F.col("rn") == 1)
        .select("user_id", "event_id", "event_type", "value")
    )


# --------------------------------------------------------------------------
# 27. Streaming exactly-once dedup (dropDuplicatesWithinWatermark) — the
#     redelivery guard for at-least-once transports (the reference's Kafka
#     Connect frame redelivers on task restart). The stream input is the
#     events table plus two deterministic redelivery waves shuffled into
#     DIFFERENT triggers (cross-trigger state is what's under test); the
#     deduped stream must aggregate exactly like the pristine table.
# --------------------------------------------------------------------------
@_q(
    "st_exactly_once_dedup",
    """
    SELECT event_type,
           count(*)             AS n_events,
           round(sum(value), 2) AS sum_value
    FROM events
    GROUP BY event_type
    """,
)
def st_exactly_once_dedup(spark, sf_dir):
    """Streaming dedup of redelivered events (streaming/stateful.py::
    dedup_within_watermark): ~48% of events are redelivered (every 3rd
    and every 7th id), the union is hash-shuffled across 8 one-file
    triggers so most duplicate pairs straddle a trigger boundary, and the
    first arrival of each event_id wins. The watermark delay is sized
    past the data's event-time span here (dedup state must outlive the
    whole replay for the oracle to be exact); production sizes it to the
    transport's redelivery horizon so state stays O(keys per window).
    SELF-VERIFYING: asserts redelivery was actually present in the input
    and that the deduped stream carries no duplicate event_id — before
    the oracle-checked aggregate is returned."""
    import shutil
    import tempfile
    import uuid

    from logminer_kafka_connect_spark.streaming.stateful import dedup_within_watermark

    ev = t(spark, sf_dir, "events").select(
        "event_id",
        F.col("ts").cast("timestamp").alias("ts"),  # NTZ parquet -> watermarkable LTZ
        "user_id",
        "event_type",
        "value",
    )
    redelivered = ev.unionByName(ev.filter(F.col("event_id") % 3 == 0)).unionByName(
        ev.filter(F.col("event_id") % 7 == 0)
    )
    n_total, n_distinct = redelivered.count(), ev.count()
    if n_total <= n_distinct:
        raise AssertionError("fixture broken: no redelivered events in the input")
    src = tempfile.mkdtemp(prefix="lmkc-dedup-src-")
    name = f"lmkc_dedup_{uuid.uuid4().hex[:8]}"
    # see st_latest_per_key: state partitions sized to the 8-file fixture
    _prev = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", "8")
    try:
        redelivered.repartition(8, F.col("event_id")).write.mode("overwrite").parquet(src)
        stream = spark.readStream.schema(ev.schema).option("maxFilesPerTrigger", 1).parquet(src)
        deduped = dedup_within_watermark(stream, ["event_id"], "ts", "365 days")
        q = (
            deduped.writeStream.format("memory")
            .queryName(name)
            .outputMode("append")
            .trigger(availableNow=True)
            .start()
        )
        q.awaitTermination()
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", _prev)
        # the memory sink holds the output; the source files are spent
        shutil.rmtree(src, ignore_errors=True)
    out = spark.table(name)
    if out.count() != n_distinct or out.select("event_id").distinct().count() != n_distinct:
        raise AssertionError("deduped stream does not carry each event exactly once")
    return out.groupBy("event_type").agg(
        F.count("*").cast("long").alias("n_events"),
        F.round(F.sum("value"), 2).alias("sum_value"),
    )


# --------------------------------------------------------------------------
# 28. Corpus-wide boilerplate span detection + per-doc word entropy — the
#     two C4/Gopher cleaning signals not yet covered: repeated-span
#     discovery ACROSS documents (t23's repetition stats are within-doc)
#     and the unigram-diversity spam signal.
# --------------------------------------------------------------------------
@_q(
    "t30_boilerplate_ngrams",
    """
    WITH words AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents
    ), grams AS (
      SELECT DISTINCT doc_id, array_to_string(ws[i : i + 2], ' ') AS gram
      FROM words, UNNEST(range(1, len(ws) - 1)) AS t(i)
      WHERE len(ws) >= 3
    )
    SELECT gram, count(*) AS n_docs, min(doc_id) AS example_doc
    FROM grams
    GROUP BY gram
    HAVING count(*) >= greatest(
      2, CAST(ceil(0.01 * (SELECT count(*) FROM documents)) AS BIGINT)
    )
    """,
)
def t30_boilerplate(spark, sf_dir):
    """Word trigrams occurring in >=1% of documents (distinct-per-doc),
    i.e. the C4 repeated-span/boilerplate rule at corpus level. One
    narrow shingle projection + one map-side-combined count shuffle; the
    threshold is a scalar aggregate (textops/quality.py::
    boilerplate_ngrams). Note the relative threshold is the semantics:
    the synthetic corpus's gram diversity grows with scale, so at sf0.1
    no trigram reaches 1% of 5,000 docs and the correct answer is empty
    (the oracle agrees); real web corpora have true boilerplate
    (banners, footers) that stays above any fraction."""
    return Q.boilerplate_ngrams(t(spark, sf_dir, "documents"), k=3, min_doc_frac=0.01)


@_q(
    "t31_word_entropy",
    """
    WITH counts AS (
      SELECT doc_id, w AS word, count(*) AS c
      FROM (
        SELECT doc_id,
               unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents
      )
      GROUP BY doc_id, w
    )
    SELECT doc_id,
           CAST(sum(c) AS BIGINT)                             AS n_words,
           round(log2(sum(c)) - sum(c * log2(c)) / sum(c), 4) AS entropy
    FROM counts
    GROUP BY doc_id
    """,
)
def t31_word_entropy(spark, sf_dir):
    """Per-doc unigram Shannon entropy via the H = log2(n) - sum(c*log2 c)/n
    identity — two doc-keyed shuffles, no window over totals, no Python
    (textops/quality.py::word_entropy)."""
    return Q.word_entropy(t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# 29. Write-audit-publish (Iceberg branch refs / fast-forward publish) —
#     the audit gate a production CDC pipeline puts in front of its
#     exactly-once MERGE: stage on a branch, audit the staged state,
#     publish atomically or drop without the main table ever seeing it.
# --------------------------------------------------------------------------
@_q("cdc_wap_publish")
def cdc_wap_publish(spark, sf_dir):
    """WAP lifecycle on the lake table (plans/lakehouse.py::
    create_branch/publish_branch/drop_branch): a poisoned batch is staged
    on a branch, the audit query catches it, the branch is dropped — main
    never advances; the corrected batch stages on a fresh branch, passes
    audit, and fast-forward-publishes as ONE metadata commit (zero data
    movement: the fork is a manifest copy, the publish a pointer-version
    swing; staged files are written once). Rows-only in DuckDB terms (a
    multi-table branch lifecycle) but SELF-VERIFYING: asserts staging
    is invisible to main (version AND state), the failed audit leaves
    main untouched, the published state equals a twin that applied the
    corrected batch directly, and the exactly-once ledger crossed the
    publish (the batch id cannot re-apply on main) — before returning."""
    import tempfile

    from logminer_kafka_connect_spark.plans.lakehouse import (
        OP_COL,
        SET_COLS_COL,
        SnapshotTable,
    )

    docs = t(spark, sf_dir, "documents")

    def upd(lang):
        return (
            docs.filter(F.col("doc_id") % 10 == 7)
            .withColumn("lang", F.lit(lang))
            .withColumn(OP_COL, F.lit("u"))
            .withColumn(SET_COLS_COL, F.array(F.lit("lang")))
        )

    workdir = tempfile.mkdtemp(prefix="lmkc-wap-")
    table = SnapshotTable.create(f"{workdir}/docs", docs.schema, ["doc_id"], n_buckets=8)
    table.overwrite(docs, batch_id="b0")
    twin = SnapshotTable.create(f"{workdir}/twin", docs.schema, ["doc_id"], n_buckets=8)
    twin.overwrite(docs, batch_id="b0")
    v0 = table.current_version()

    # stage a poisoned batch; the audit catches it; drop — main untouched
    br = table.create_branch("audit")
    br.merge(spark, upd("POISON"), batch_id="b1")
    if br.read(spark).filter(F.col("lang") == "POISON").count() == 0:
        raise AssertionError("fixture broken: poison batch did not stage")
    if table.current_version() != v0:
        raise AssertionError("staging advanced the main table")
    if table.read(spark).filter(F.col("lang") == "POISON").count() != 0:
        raise AssertionError("staged poison leaked into a main read")
    table.drop_branch("audit")

    # corrected batch: stage, audit passes, fast-forward publish
    br = table.create_branch("audit")
    br.merge(spark, upd("bb"), batch_id="b1")
    if br.read(spark).filter(F.col("lang") == "POISON").count() != 0:
        raise AssertionError("audit failed on the corrected batch")
    table.publish_branch("audit")
    table.drop_branch("audit")
    if not table.is_applied("b1"):
        raise AssertionError("exactly-once ledger did not cross the publish")
    if table.merge(spark, upd("POISON"), batch_id="b1").applied:
        raise AssertionError("published batch id re-applied on main")

    twin.merge(spark, upd("bb"), batch_id="b1")
    got = sorted((r.doc_id, r.lang) for r in table.read(spark).select("doc_id", "lang").collect())
    want = sorted((r.doc_id, r.lang) for r in twin.read(spark).select("doc_id", "lang").collect())
    if got != want:
        raise AssertionError("published state diverged from the direct-apply twin")
    return (
        table.read(spark)
        .filter(F.col("lang") == "bb")
        .select("doc_id", "lang", "n_chars")
        .orderBy("doc_id")
    )


# --------------------------------------------------------------------------
# 30. Deterministic weighted sampling (Efraimidis-Spirakis) — the missing
#     member of the t24/t25 reproducible-sampling family: importance-
#     weighted selection (longer docs drawn proportionally more often)
#     with zero RNG state, bit-reproducible on any engine or layout.
# --------------------------------------------------------------------------
@_q(
    "t32_weighted_sample",
    """
    WITH keyed AS (
      SELECT doc_id, lang, n_chars,
             ln((('0x' || substr(md5(cast(doc_id AS varchar) || ':wsample'), 1, 8))::bigint
                 + 1.0) / 4294967296.0) / n_chars AS wkey
      FROM documents
      WHERE n_chars > 0
    )
    SELECT doc_id, lang, n_chars
    FROM (
      SELECT doc_id, lang, n_chars,
             row_number() OVER (PARTITION BY lang ORDER BY wkey DESC, doc_id) AS rn
      FROM keyed
    )
    WHERE rn <= 20
    """,
)
def t32_weighted_sample(spark, sf_dir):
    """Top-20 per language by ln(u)/w key, u = salted md5 uniform,
    w = n_chars (textops/sampling.py::weighted_sample_per_stratum) — one
    stratum-keyed window shuffle, identical arithmetic on both engines."""
    return SA.weighted_sample_per_stratum(
        t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars"),
        n=20,
        weight_col="n_chars",
    )


# --------------------------------------------------------------------------
# 31. Product quantization ANN (Jégou et al.) — the memory-bound scale
#     path next to IVF (compute-bound probing) and LSH (bucket-bound):
#     the ranking scan touches int[m] codes (32x smaller than float[d]),
#     scoring is m table lookups per vector (ADC), and only a per-
#     partition shortlist is ever shuffled; exact cosine re-ranks it.
# --------------------------------------------------------------------------
def _pq_parts(spark, sf_dir, m=16, n_centroids=16):
    """Shared train+encode for the PQ entries: deterministic driver-side
    sample (every vector at this scale; 1e5-1e6 sampled ids at 100 TB),
    codebooks in the UDF closure, codes as a narrow Arrow pass."""
    import numpy as np

    emb = t(spark, sf_dir, "embeddings")
    sample = np.stack(
        [np.asarray(r["embedding"], dtype=np.float64) for r in emb.orderBy("vec_id").limit(2048).collect()]
    )
    books = S.pq_train(sample, m=m, n_centroids=n_centroids, iters=10)
    codes = S.pq_encode(emb, books)
    q = emb.filter(F.col("vec_id") < 10)
    return emb, q, books, codes


@_q("n21_pq_topk")
def n21_pq_topk(spark, sf_dir):
    """PQ/ADC top-k with exact re-rank (similarity.py::pq_train/
    pq_encode/pq_topk). Rows-only (seeded numpy k-means codebooks are
    not SQL-expressible) but SELF-VERIFYING: asserts the codes really
    are m=16 4-bit ids (float[64] -> 8 packed bytes, 32x), and that recall@3 vs
    the exact cosine_topk answer over the 10 probe queries is >= 0.8
    (the re-ranked shortlist bar; the raw-ADC floor is pinned in
    tests/test_textops.py) — before returning rows."""
    emb, q, books, codes = _pq_parts(spark, sf_dir)
    first = codes.select("codes").first()["codes"]
    if len(first) != 16 or any(c < 0 or c >= 16 for c in first):
        raise AssertionError("PQ codes are not 16 small centroid ids")
    approx = S.pq_topk(codes, emb, q, books, k=3, shortlist=64)
    exact = S.cosine_topk(emb, q, k=3).select("query_id", "neighbor_id")
    n_exact = exact.count()
    n_hit = exact.join(
        approx.select("query_id", "neighbor_id"), ["query_id", "neighbor_id"], "left_semi"
    ).count()
    if n_exact == 0 or n_hit / n_exact < 0.8:
        raise AssertionError(f"PQ recall@3 too low: {n_hit}/{n_exact}")
    return approx


# --------------------------------------------------------------------------
# 32. Ordered funnel (view -> click -> purchase) — the web-analytics shape
#     missing from the aggregation family: each step counts users whose
#     FIRST qualifying event strictly follows the previous step's time
#     (not merely "did both"), i.e. sequential first-occurrence semantics.
# --------------------------------------------------------------------------
@_q(
    "a13_funnel_steps",
    """
    WITH v AS (
      SELECT user_id, min(ts) AS t1 FROM events WHERE event_type = 'view' GROUP BY user_id
    ), c AS (
      SELECT e.user_id, min(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id AND e.ts > v.t1
      WHERE e.event_type = 'click' GROUP BY e.user_id
    ), p AS (
      SELECT e.user_id, min(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id AND e.ts > c.t2
      WHERE e.event_type = 'purchase' GROUP BY e.user_id
    )
    SELECT 'step1_view' AS step, count(*) AS n_users FROM v
    UNION ALL SELECT 'step2_click', count(*) FROM c
    UNION ALL SELECT 'step3_purchase', count(*) FROM p
    """,
)
def a13_funnel(spark, sf_dir):
    """Sequential funnel in ONE user-keyed shuffle: three stacked
    unordered windows over user_id compute t1 = first view, t2 = first
    click AFTER t1, t3 = first purchase AFTER t2 (each window is a
    whole-partition min, no sort), then one distinct + unpivot counts
    the survivors per step. The oracle spells the same semantics as
    three chained min-joins; the Spark plan replaces those joins with
    window re-use of a single Exchange — the 100 TB shape (events tables
    are huge, users are the natural partition key)."""
    w = Window.partitionBy("user_id")
    ev = t(spark, sf_dir, "events").select("user_id", "event_type", "ts")
    ev = ev.withColumn(
        "t1", F.min(F.when(F.col("event_type") == "view", F.col("ts"))).over(w)
    )
    ev = ev.withColumn(
        "t2",
        F.min(
            F.when((F.col("event_type") == "click") & (F.col("ts") > F.col("t1")), F.col("ts"))
        ).over(w),
    )
    ev = ev.withColumn(
        "t3",
        F.min(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("ts") > F.col("t2")), F.col("ts")
            )
        ).over(w),
    )
    users = ev.select("user_id", "t1", "t2", "t3").distinct()
    agg = users.agg(
        F.count("t1").alias("step1_view"),
        F.count("t2").alias("step2_click"),
        F.count("t3").alias("step3_purchase"),
    )
    return agg.select(
        F.expr(
            "stack(3, 'step1_view', step1_view, 'step2_click', step2_click, "
            "'step3_purchase', step3_purchase)"
        ).alias("step", "n_users")
    ).select("step", F.col("n_users").cast("long").alias("n_users"))


# --------------------------------------------------------------------------
# 33. PageRank (power iteration) — the crawl-prioritization signal over a
#     link graph: a deterministic synthetic web graph derived from doc ids
#     (one permutation rule so EVERY node has in/out edges + hub links so
#     the distribution is genuinely skewed), 8 iterations, verified value-
#     exact against a DuckDB RECURSIVE-CTE power iteration.
# --------------------------------------------------------------------------
_PR_ITERS = 8


@_q(
    "g01_pagerank",
    f"""
    WITH RECURSIVE
    nodes AS (SELECT doc_id AS node FROM documents),
    nn AS (SELECT count(*) AS n FROM nodes),
    edges AS (
      SELECT DISTINCT src, dst FROM (
        SELECT doc_id AS src, (doc_id + 1) % (SELECT n FROM nn) AS dst FROM documents
        UNION ALL
        SELECT doc_id, (doc_id * 7 + 3) % (SELECT n FROM nn) FROM documents
        UNION ALL
        SELECT doc_id, doc_id % 10 FROM documents
      ) WHERE src != dst
    ),
    deg AS (SELECT src, count(*) AS out_deg FROM edges GROUP BY src),
    pr AS (
      SELECT 0 AS it, node, 1.0 / (SELECT n FROM nn) AS rank FROM nodes
      UNION ALL
      SELECT p.it + 1, e.dst AS node,
             0.15 / (SELECT n FROM nn) + 0.85 * sum(p.rank / d.out_deg) AS rank
      FROM pr p JOIN edges e ON e.src = p.node JOIN deg d ON d.src = p.node
      WHERE p.it < {_PR_ITERS}
      GROUP BY p.it, e.dst
    )
    SELECT node, round(rank, 6) AS rank FROM pr WHERE it = {_PR_ITERS}
    """,
)
def g01_pagerank(spark, sf_dir):
    """8 power iterations of textops/cluster.py::pagerank over the
    synthetic doc-id link graph (hub nodes 0-9 absorb ~10% of all links
    each round — the skew is the point). Hot loop: one src equi-join +
    one dst partial-agg shuffle per iteration, lineage truncated per
    round; dangling-mass redistribution is exercised separately in
    tests (this graph has none, which is what makes the recursive-CTE
    oracle exact)."""
    docs = t(spark, sf_dir, "documents").select("doc_id")
    n = docs.count()
    i = F.col("doc_id")
    edges = (
        docs.select(i.alias("src"), F.explode(
            F.array((i + 1) % n, (i * 7 + 3) % n, i % 10)
        ).alias("dst"))
        .filter(F.col("src") != F.col("dst"))
        .distinct()
    )
    ranks = CL.pagerank(edges, damping=0.85, n_iters=_PR_ITERS)
    return ranks.select("node", F.round("rank", 6).alias("rank"))


# --------------------------------------------------------------------------
# 34. BPE tokenizer training — the tokenizer-construction step of a
#     training-data pipeline, distributed the way real trainers scale:
#     ONE corpus-sized word-count pass, then the merge loop iterates a
#     vocabulary-sized relation (pair-count shuffle + 1-row argmax +
#     narrow Arrow merge per round).
# --------------------------------------------------------------------------
@_q("t33_bpe_train")
def t33_bpe_train(spark, sf_dir):
    """20 BPE merges trained on the documents corpus (textops/bpe.py).
    Rows-only in DuckDB terms (iterative argmax-dependent rewriting) but
    SELF-VERIFYING twice over: the learned merge list must equal a pure-
    python textbook BPE over the same word-frequency dict (independent
    oracle, same deterministic tie-break), and segmenting a sample with
    the learned merges must be exactly invertible (concat tokens, EOW ->
    space == whitespace-normalized text) — before returning rows."""
    from logminer_kafka_connect_spark.operators.textops import bpe as B

    docs = t(spark, sf_dir, "documents")
    n_merges = 20
    merges = B.train_bpe(docs, n_merges=n_merges)
    wf = {r.word: r.freq for r in B.word_freqs(docs).select("word", "freq").collect()}
    ref = B.reference_bpe(wf, n_merges)
    if merges != ref:
        raise AssertionError(
            f"distributed BPE diverged from the reference trainer: {merges} vs {ref}"
        )
    seg = B.bpe_segment(docs.limit(25), merges)
    bad = (
        seg.join(docs.select("doc_id", "text"), "doc_id")
        .withColumn(
            "rebuilt",
            F.trim(F.replace(F.array_join("toks", ""), F.lit(B.EOW), F.lit(" "))),
        )
        .withColumn("norm", F.regexp_replace(F.trim(F.lower("text")), r"\s+", " "))
        .filter(F.col("rebuilt") != F.col("norm"))
        .count()
    )
    if bad:
        raise AssertionError(f"BPE segmentation not invertible for {bad} docs")
    return spark.createDataFrame(
        [(i, l, r, n) for i, (l, r, n) in enumerate(merges)],
        "rank long, left string, right string, pair_freq long",
    )


# --------------------------------------------------------------------------
# 35. BM25 ranked retrieval — the lexical-search complement of the ANN
#     suite: every quantity (tf, df, idf, length norm) is relational, so
#     the scorer is pure JVM SQL and the DuckDB oracle reproduces the
#     exact Okapi formula end-to-end.
# --------------------------------------------------------------------------
_BM25_TERMS = ["spark", "join", "window", "vector"]


@_q(
    "r01_bm25_topk",
    f"""
    WITH lens AS (
      SELECT doc_id,
             len(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS dl
      FROM documents
    ), tf AS (
      SELECT doc_id, w AS term, count(*) AS tf
      FROM (
        SELECT doc_id,
               unnest(string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ')) AS w
        FROM documents
      )
      WHERE w IN ({", ".join(repr(t) for t in sorted(_BM25_TERMS))})
      GROUP BY doc_id, w
    ), idf AS (
      SELECT term,
             ln(1 + ((SELECT count(*) FROM documents) - count(*) + 0.5) / (count(*) + 0.5)) AS idf
      FROM tf GROUP BY term
    ), scored AS (
      SELECT tf.doc_id,
             round(sum(idf.idf * (tf.tf * 2.2)
                       / (tf.tf + 1.2 * (1 - 0.75 + 0.75 * lens.dl / (SELECT avg(dl) FROM lens)))), 6) AS score
      FROM tf JOIN idf USING (term) JOIN lens USING (doc_id)
      GROUP BY tf.doc_id
    )
    SELECT doc_id, score, rank FROM (
      SELECT doc_id, score, row_number() OVER (ORDER BY score DESC, doc_id) AS rank
      FROM scored
    ) WHERE rank <= 10
    """,
)
def r01_bm25_topk(spark, sf_dir):
    """Okapi BM25 top-10 for a 4-term query (textops/retrieval.py::
    bm25_topk, k1=1.2 b=0.75, Lucene non-negative idf): tf is the one
    corpus shuffle (a standing inverted index at scale), df/idf come
    from the query-filtered tf relation, the global top-k is
    TakeOrderedAndProject (no single-partition sort)."""
    from logminer_kafka_connect_spark.operators.textops.retrieval import bm25_topk

    return bm25_topk(t(spark, sf_dir, "documents"), _BM25_TERMS, k=10)


# --------------------------------------------------------------------------
# 36. Audit-gated CDC replay — the engine-level write-audit-publish story
#     (the table-level lifecycle is cdc_wap_publish): every batch stages
#     on a branch, an audit hook approves or rejects, main advances only
#     by fast-forward publish.
# --------------------------------------------------------------------------
@_q("cdc_audit_gate")
def cdc_audit_gate(spark, sf_dir):
    """Replay the deterministic CDC fixture through an audit-gated engine
    (CdcEngine(audit_hook=...)) twice: first with a hook that REJECTS the
    initial change batch — the replay aborts loudly and the main table
    must still equal the bare snapshot; then with an approving hook — the
    final state must equal an ungated twin row-for-row, with the hook
    having fired once per applied batch. Rows-only in DuckDB terms (a
    gated multi-batch MERGE lifecycle) but SELF-VERIFYING as above before
    anything is returned."""
    import tempfile

    from logminer_kafka_connect_spark.engine import CdcEngine
    from logminer_kafka_connect_spark.sources.generator import (
        SCN0,
        CdcGenerator,
        GeneratorConfig,
    )
    from logminer_kafka_connect_spark.streaming.driver import AuditRejectedError

    sf = "0.001" if "0.001" in sf_dir else ("0.01" if "0.01" in sf_dir else "0.1")
    n_txns = {"0.001": 40, "0.01": 120, "0.1": 400}[sf]
    gen = CdcGenerator(
        GeneratorConfig(seed=51, n_txns=n_txns, n_urls=n_txns * 2, n_snapshot=n_txns)
    )
    workdir = tempfile.mkdtemp(prefix="lmkc-gate-")
    calls = {"n": 0, "approve": False}

    def hook(staged):
        calls["n"] += 1
        return calls["approve"]

    engine = CdcEngine(spark, f"{workdir}/gated", n_buckets=16, audit_hook=hook)
    engine.load_snapshot(gen.snapshot_df(spark), snapshot_scn=SCN0 - 1)
    v_snap = engine.table.current_version()
    events = gen.events_df(spark).localCheckpoint(eager=True)
    try:
        engine.replay(events, n_batches=4)
        raise AssertionError("rejecting hook did not abort the replay")
    except AuditRejectedError:
        pass
    if engine.table.current_version() != v_snap:
        raise AssertionError("rejected batch advanced the main table")
    if calls["n"] != 1:
        raise AssertionError(f"hook fired {calls['n']} times during the rejected run")

    calls["approve"] = True
    stats = engine.replay(events, n_batches=4)
    if calls["n"] < 1 + stats.n_batches:
        raise AssertionError("hook did not gate every applied batch")

    twin = CdcEngine(spark, f"{workdir}/twin", n_buckets=16)
    twin.load_snapshot(gen.snapshot_df(spark), snapshot_scn=SCN0 - 1)
    twin.replay(events, n_batches=4)
    proj = lambda e: sorted(  # noqa: E731
        (r.url, r.text, r.lang) for r in e.state().select("url", "text", "lang").collect()
    )
    if proj(engine) != proj(twin):
        raise AssertionError("audit-gated final state diverged from the ungated twin")
    return engine.state().select(
        "url",
        F.length("text").cast("long").alias("text_len"),
        F.md5(F.coalesce(F.col("text"), F.lit(""))).alias("text_md5"),
        "lang",
    )


# --------------------------------------------------------------------------
# 37. Shingle containment — the asymmetric near-dup signal Jaccard misses
#     (a short doc wholly quoted inside a long one: Jaccard ~0 because the
#     union is dominated by the long doc, containment = 1).
# --------------------------------------------------------------------------
@_q(
    "d26_containment",
    f"""
    WITH {_shingle_cte(3, "WHERE doc_id < 120")},
    sizes AS (SELECT doc_id, count(*) AS n FROM sh GROUP BY doc_id),
    inter AS (SELECT a.doc_id AS lo, b.doc_id AS hi, count(*) AS n_inter
              FROM sh a JOIN sh b
                ON a.shingle = b.shingle AND a.doc_id < b.doc_id
              GROUP BY 1, 2),
    both_dirs AS (
      SELECT lo AS id_a, hi AS id_b, round(n_inter / na.n, 6) AS containment
      FROM inter JOIN sizes na ON na.doc_id = lo
      UNION ALL
      SELECT hi, lo, round(n_inter / nb.n, 6)
      FROM inter JOIN sizes nb ON nb.doc_id = hi
    )
    SELECT id_a, id_b, containment FROM both_dirs WHERE containment >= 0.05
    """,
)
def d26_containment(spark, sf_dir):
    """Directed containment c(a->b) = |A∩B|/|A| over word trigram shingle
    sets (textops/dedup.py::containment_pairs): one co-shingle equi-join
    per unordered pair, both directions from the same intersection
    count."""
    docs = t(spark, sf_dir, "documents").filter(F.col("doc_id") < 120)
    return D.containment_pairs(docs, threshold=0.05)


# --------------------------------------------------------------------------
# 38. Classifier-gate inference — the model-scoring step of a curation
#     pipeline (DCLM / FineWeb-edu quality gates) with the linear model
#     INLINED into the scan: features + sigmoid in whole-stage codegen,
#     zero Python, zero shuffle. Weights are a deterministic stand-in a
#     trained model would replace without touching the plan.
# --------------------------------------------------------------------------
_GATE_STOPS = "'a','and','das','de','der','des','die','el','et','ist','la','le','les','of','que','the','to','und','y'"


@_q(
    "t34_classifier_gate",
    f"""
    WITH feats AS (
      SELECT doc_id,
             string_split(regexp_replace(trim(lower(text)), '\\s+', ' ', 'g'), ' ') AS ws
      FROM documents
    ), z AS (
      SELECT doc_id,
             -3.0
             + 0.35 * ln(1.0 + len(ws))
             + 2.0  * (len(list_filter(ws, w -> w IN ({_GATE_STOPS}))) / CAST(len(ws) AS DOUBLE))
             + 0.15 * (list_aggregate(list_transform(ws, w -> CAST(length(w) AS DOUBLE)), 'sum') / len(ws))
             + 1.5  * (len(list_distinct(ws)) / CAST(len(ws) AS DOUBLE)) AS z
      FROM feats
    )
    SELECT doc_id,
           round(1.0 / (1.0 + exp(-z)), 6) AS score,
           round(1.0 / (1.0 + exp(-z)), 6) >= 0.5 AS keep
    FROM z
    """,
)
def t34_classifier_gate(spark, sf_dir):
    """Logistic quality gate over four Catalyst-computed features
    (textops/quality.py::classifier_gate) — one narrow codegen pass;
    the DuckDB oracle evaluates the identical model."""
    return Q.classifier_gate(t(spark, sf_dir, "documents"))


# --------------------------------------------------------------------------
# 39. Retention cohorts — the second classic web-analytics matrix next to
#     the funnel: users grouped by first-seen week, counted per
#     subsequent active week (cohort_week x active_week retention).
# --------------------------------------------------------------------------
@_q(
    "a14_retention_cohorts",
    """
    WITH firsts AS (
      SELECT user_id, date_trunc('week', min(ts)) AS cohort_week
      FROM events GROUP BY user_id
    ), activity AS (
      SELECT DISTINCT user_id, date_trunc('week', ts) AS active_week FROM events
    )
    SELECT f.cohort_week, a.active_week,
           CAST(date_diff('week', f.cohort_week, a.active_week) AS BIGINT) AS week_offset,
           count(*) AS n_users
    FROM activity a JOIN firsts f USING (user_id)
    GROUP BY 1, 2, 3
    """,
)
def a14_retention_cohorts(spark, sf_dir):
    """Cohort retention matrix in two user-keyed shuffles: first-seen
    week per user (one agg), distinct (user, week) activity (one agg on
    the SAME key — AQE reuses the partitioning), broadcast-joined back
    and counted per (cohort_week, active_week). week_offset via integer
    week arithmetic so both engines agree exactly (date_diff('week')
    counts week-boundary crossings = truncated-week delta / 7 days)."""
    ev = t(spark, sf_dir, "events").select(
        "user_id",
        # to_date: DuckDB's date_trunc('week') yields DATE — match the type
        F.to_date(F.date_trunc("week", F.col("ts"))).alias("week"),
        "ts",
    )
    firsts = ev.groupBy("user_id").agg(F.min("week").alias("cohort_week"))
    activity = ev.select("user_id", F.col("week").alias("active_week")).distinct()
    return (
        activity.join(firsts, "user_id")
        .groupBy("cohort_week", "active_week")
        .agg(F.count(F.lit(1)).alias("n_users"))
        .select(
            "cohort_week",
            "active_week",
            (
                F.datediff(F.col("active_week"), F.col("cohort_week")) / 7
            ).cast("long").alias("week_offset"),
            "n_users",
        )
    )


# --------------------------------------------------------------------------
# Registration order (r5 VERDICT Next #1a): the driver's correctness pass
# runs entries in QUERIES insertion order and the r5 pass timed out at the
# first 50, leaving every entry registered after that with no correctness
# row — including the flagship cdc_* family. Re-insert the never-checked
# entries FIRST so a budget-bounded pass covers them before the long-green
# remainder. Pure reordering: same names, same callables, same oracles.
# --------------------------------------------------------------------------
_PRIORITY_FIRST = [
    "cdc_replay", "cdc_mor_replay", "cdc_point_lookup",
    "cdc_rollback_recovery", "cdc_schema_evolution", "cdc_bloom_lookup",
    "cdc_pruned_read", "cdc_table_changes", "cdc_replay_multi",
    "cdc_envelope", "cdc_wap_publish", "cdc_audit_gate",
    "st_exactly_once_dedup", "st_latest_per_key",
    "r01_bm25_topk", "g01_pagerank", "t29_tfidf_keywords",
    "t30_boilerplate_ngrams", "t31_word_entropy", "t32_weighted_sample",
    "t33_bpe_train", "t34_classifier_gate", "a13_funnel_steps",
    "a14_retention_cohorts", "d24_semdedup", "d26_containment",
    "c13_curation_pipeline", "d22_bloom_novelty", "mm_jpeg_decode",
    "n21_pq_topk", "ann_lsh_bucketed", "ann_recall", "d18_lsh_near_dups",
    "mm_media_features", "mm_png_decode", "mm_wav_decode",
]
QUERIES = {
    **{n: QUERIES[n] for n in _PRIORITY_FIRST if n in QUERIES},
    **QUERIES,
}
