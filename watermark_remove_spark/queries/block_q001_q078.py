"""Registry block q001-q078 — split verbatim from the
single-module catalog (round-4 verdict #2); execution order,
names and behavior identical to the original queries.py."""
from __future__ import annotations

from ._core import *  # noqa: F401,F403


# ---------------------------------------------------------------- relational

def q01_pricing_summary(spark, sf_dir):
    """O-13/O-14/O-18 batch agg: TPC-H Q1-shaped hash aggregate with
    pushed-down date filter; decimal sums are shuffle-order-exact."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(F.col("l_shipdate") <= F.lit("1998-09-01").cast("timestamp"))
        .groupBy("l_returnflag", "l_linestatus")
        .agg(
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("sum_qty"),
            F.sum(F.col("l_extendedprice").cast(DEC)).cast("double").alias("sum_base_price"),
            F.sum(
                (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))).cast(
                    "decimal(18,4)"
                )
            ).cast("double").alias("sum_disc_price"),
            F.count(F.lit(1)).alias("count_order"),
        )
    )


ORACLE_Q01 = """
SELECT l_returnflag, l_linestatus,
       CAST(sum(CAST(l_quantity AS DECIMAL(18,2))) AS DOUBLE) AS sum_qty,
       CAST(sum(CAST(l_extendedprice AS DECIMAL(18,2))) AS DOUBLE) AS sum_base_price,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(18,4))) AS DOUBLE) AS sum_disc_price,
       count(*) AS count_order
FROM lineitem
WHERE l_shipdate <= TIMESTAMP '1998-09-01'
GROUP BY l_returnflag, l_linestatus
"""


def q02_segment_sales(spark, sf_dir):
    """O-16 broadcast join: orders x customer (small dim broadcast)."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    j = broadcast_join(orders, cust, orders.o_custkey == cust.c_custkey)
    return j.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).alias("n_orders"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("total_sales"),
    )


ORACLE_Q02 = """
SELECT c_mktsegment,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_sales
FROM orders JOIN customer ON o_custkey = c_custkey
GROUP BY c_mktsegment
"""


def q03_nations_with_buyers(spark, sf_dir):
    """O-17 left_semi: customers that placed >=1 order, per nation."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nation = _t(spark, sf_dir, "nation")
    buyers = semi_join(cust, orders, cust.c_custkey == orders.o_custkey)
    j = broadcast_join(buyers, nation, buyers.c_nationkey == nation.n_nationkey)
    return j.groupBy("n_name").agg(F.count(F.lit(1)).alias("n_buyers"))


ORACLE_Q03 = """
SELECT n_name, count(*) AS n_buyers
FROM customer
JOIN nation ON c_nationkey = n_nationkey
WHERE c_custkey IN (SELECT o_custkey FROM orders)
GROUP BY n_name
"""


def q04_customers_without_orders(spark, sf_dir):
    """O-17 left_anti per market segment."""
    cust = _t(spark, sf_dir, "customer")
    orders = _t(spark, sf_dir, "orders")
    nob = anti_join(cust, orders, cust.c_custkey == orders.o_custkey)
    return nob.groupBy("c_mktsegment").agg(F.count(F.lit(1)).alias("n_custs"))


ORACLE_Q04 = """
SELECT c_mktsegment, count(*) AS n_custs
FROM customer
WHERE c_custkey NOT IN (SELECT o_custkey FROM orders)
GROUP BY c_mktsegment
"""


def q05_top_orders_per_priority(spark, sf_dir):
    """O-22 ranking window: top-3 orders by totalprice per priority,
    deterministic tie-break on orderkey."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.partitionBy("o_orderpriority").orderBy(
        F.col("o_totalprice").desc(), F.col("o_orderkey").asc()
    )
    return (
        orders.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 3)
        .select(
            "o_orderpriority",
            "o_orderkey",
            F.col("o_totalprice").cast(DEC).cast("double").alias("totalprice"),
            "rk",
        )
    )


ORACLE_Q05 = """
SELECT o_orderpriority, o_orderkey,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) AS DOUBLE) AS totalprice, rk
FROM (
  SELECT *, row_number() OVER (PARTITION BY o_orderpriority
                               ORDER BY o_totalprice DESC, o_orderkey ASC) AS rk
  FROM orders
) WHERE rk <= 3
"""


def q06_order_rollup(spark, sf_dir):
    """O-23 rollup: (priority, status) + subtotals + grand total."""
    orders = _t(spark, sf_dir, "orders")
    return (
        orders.rollup("o_orderpriority", "o_orderstatus")
        .agg(
            F.count(F.lit(1)).alias("n"),
            F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sales"),
        )
    )


ORACLE_Q06 = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
FROM orders GROUP BY ROLLUP(o_orderpriority, o_orderstatus)
"""


def q30_order_cube(spark, sf_dir):
    """O-23 cube: all grouping-set combinations of (priority, status)
    in one pass (Catalyst Expand)."""
    orders = _t(spark, sf_dir, "orders")
    return orders.cube("o_orderpriority", "o_orderstatus").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum(F.col("o_totalprice").cast(DEC)).cast("double").alias("sales"),
    )


ORACLE_Q30 = """
SELECT o_orderpriority, o_orderstatus, count(*) AS n,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS sales
FROM orders GROUP BY CUBE(o_orderpriority, o_orderstatus)
"""


def q07_part_setops(spark, sf_dir):
    """O-30 set ops: brands selling large parts EXCEPT brands selling
    small parts, via exceptAll on distinct projections."""
    part = _t(spark, sf_dir, "part")
    large = part.where(F.col("p_size") >= 40).select("p_brand").distinct()
    small = part.where(F.col("p_size") <= 5).select("p_brand").distinct()
    return large.exceptAll(small).withColumnRenamed("p_brand", "brand")


ORACLE_Q07 = """
SELECT p_brand AS brand FROM part WHERE p_size >= 40
EXCEPT
SELECT p_brand AS brand FROM part WHERE p_size <= 5
"""


def q08_top_lineitems(spark, sf_dir):
    """O-29 global sort + limit (TakeOrderedAndProject)."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.select(
            "l_orderkey",
            "l_linenumber",
            F.col("l_extendedprice").cast(DEC).cast("double").alias("price"),
        )
        .orderBy(F.col("price").desc(), F.col("l_orderkey").asc(), F.col("l_linenumber").asc())
        .limit(10)
    )


ORACLE_Q08 = """
SELECT l_orderkey, l_linenumber, CAST(CAST(l_extendedprice AS DECIMAL(18,2)) AS DOUBLE) AS price
FROM lineitem ORDER BY price DESC, l_orderkey ASC, l_linenumber ASC LIMIT 10
"""

# ------------------------------------------------------------------- events

def q09_tumbling_event_windows(spark, sf_dir):
    """O-18 tumbling 10-min event-time windows per event_type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes").alias("w"), "event_type")
        .agg(
            F.count(F.lit(1)).alias("n_events"),
            F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
        )
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
            "total_value",
        )
    )


ORACLE_Q09 = """
SELECT epoch(time_bucket(INTERVAL 10 minutes, ts))::BIGINT AS window_start_epoch,
       event_type, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM events GROUP BY 1, 2
"""


def q10_sliding_event_windows(spark, sf_dir):
    """O-18 sliding 10-min/5-min windows per event_type."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.window("ts", "10 minutes", "5 minutes").alias("w"), "event_type")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp(F.col("w.start")).alias("window_start_epoch"),
            "event_type",
            "n_events",
        )
    )


ORACLE_Q10 = """
WITH assigned AS (
  SELECT epoch(time_bucket(INTERVAL 10 minutes, ts))::BIGINT AS window_start_epoch,
         event_type FROM events
  UNION ALL
  SELECT epoch(time_bucket(INTERVAL 10 minutes, ts - INTERVAL 5 minutes))::BIGINT + 300,
         event_type FROM events
)
SELECT window_start_epoch, event_type, count(*) AS n_events
FROM assigned GROUP BY 1, 2
"""


def q11_user_sessions(spark, sf_dir):
    """O-19 session windows (5-min gap) per user via built-in
    session_window; oracle reproduces Spark semantics with lag+cumsum
    (session_end = last event + gap)."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            "user_id",
            F.unix_timestamp(F.col("sw.start")).alias("session_start_epoch"),
            F.unix_timestamp(F.col("sw.end")).alias("session_end_epoch"),
            "n_events",
        )
    )


ORACLE_Q11 = """
WITH marked AS (
  SELECT user_id, ts,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id ORDER BY ts)
                   > INTERVAL 5 minutes OR
                   lag(ts) OVER (PARTITION BY user_id ORDER BY ts) IS NULL
              THEN 1 ELSE 0 END AS new_session
  FROM events
), numbered AS (
  SELECT user_id, ts,
         sum(new_session) OVER (PARTITION BY user_id ORDER BY ts
                                ROWS UNBOUNDED PRECEDING) AS session_id
  FROM marked
)
SELECT user_id,
       CAST(floor(epoch(min(ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(max(ts) + INTERVAL 5 minutes)) AS BIGINT) AS session_end_epoch,
       count(*) AS n_events
FROM numbered GROUP BY user_id, session_id
"""


def q12_event_dedup(spark, sf_dir):
    """O-25 batch analog: distinct (user_id, ts, event_type) counts."""
    ev = _t(spark, sf_dir, "events")
    return (
        ev.select("user_id", "ts", "event_type")
        .distinct()
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_unique"))
    )


ORACLE_Q12 = """
SELECT event_type, count(*) AS n_unique
FROM (SELECT DISTINCT user_id, ts, event_type FROM events)
GROUP BY event_type
"""

# -------------------------------------------------------- documents/webtext

# DuckDB fragment: k=3 token shingles of a text column (spec.shingles)
# Mirrors doc_shingles_expr EXACTLY: split into lines first, shingle
# each line, flatten — a one-pass space-split of the whole text would
# silently diverge on any newline-bearing document (the q17/q19
# fixtures already model such text).
_DUCK_SHINGLES = """
flatten(list_transform(string_split({col}, chr(10)), ln ->
  CASE WHEN len(list_filter(string_split(ln, ' '), t -> t <> '')) = 0
       THEN []::VARCHAR[]
       WHEN len(list_filter(string_split(ln, ' '), t -> t <> '')) <= 3
       THEN [array_to_string(list_filter(string_split(ln, ' '), t -> t <> ''), ' ')]
       ELSE list_transform(
              generate_series(1, len(list_filter(string_split(ln, ' '), t -> t <> '')) - 2),
              i -> array_to_string(
                     list_slice(list_filter(string_split(ln, ' '), t -> t <> ''), i, i + 2),
                     ' '))
  END))
"""


def q13_frequent_shingles(spark, sf_dir):
    """O-9/O-20 mask mining (string form, SQL-checkable): shingles with
    document frequency >= 60% of the source's docs."""
    docs = _t_wide(spark, sf_dir, "documents")
    exploded = docs.select(
        "source", F.explode(F.array_distinct(doc_shingles_expr(F.col("text")))).alias("shingle")
    )
    counts = exploded.groupBy("source", "shingle").agg(F.count(F.lit(1)).alias("df"))
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    return (
        counts.join(F.broadcast(sizes), "source")
        .where(F.col("df") >= 0.6 * F.col("n_docs"))
        .select("source", "shingle", "df")
    )


ORACLE_Q13 = f"""
WITH exploded AS (
  SELECT source, unnest(list_distinct({_DUCK_SHINGLES.format(col='text')})) AS shingle
  FROM documents
), counts AS (
  SELECT source, shingle, count(*) AS df FROM exploded GROUP BY 1, 2
), sizes AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
)
SELECT counts.source, shingle, df
FROM counts JOIN sizes ON counts.source = sizes.source
WHERE df >= 0.6 * n_docs
"""


def q14_boiler_ratio(spark, sf_dir):
    """O-10 relational form: per-doc count of distinct shingles that are
    source-frequent ('boilerplate') vs total distinct shingles."""
    docs = _t_wide(spark, sf_dir, "documents")
    exploded = docs.select(
        "doc_id", "source",
        F.explode(F.array_distinct(doc_shingles_expr(F.col("text")))).alias("shingle"),
    )
    freq = q13_frequent_shingles(spark, sf_dir).select("source", "shingle", F.lit(1).alias("is_boiler"))
    j = exploded.join(freq, ["source", "shingle"], "left")
    return j.groupBy("doc_id").agg(
        F.count(F.lit(1)).alias("n_shingles"),
        F.sum(F.coalesce(F.col("is_boiler"), F.lit(0))).alias("n_boiler"),
    )


ORACLE_Q14 = f"""
WITH exploded AS (
  SELECT doc_id, source, unnest(list_distinct({_DUCK_SHINGLES.format(col='text')})) AS shingle
  FROM documents
), freq AS (
  WITH e2 AS (
    SELECT source, unnest(list_distinct({_DUCK_SHINGLES.format(col='text')})) AS shingle
    FROM documents
  ), counts AS (
    SELECT source, shingle, count(*) AS df FROM e2 GROUP BY 1, 2
  ), sizes AS (
    SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
  )
  SELECT counts.source, shingle FROM counts JOIN sizes ON counts.source = sizes.source
  WHERE df >= 0.6 * n_docs
)
SELECT doc_id, count(*) AS n_shingles,
       CAST(sum(CASE WHEN freq.shingle IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler
FROM exploded LEFT JOIN freq
  ON exploded.source = freq.source AND exploded.shingle = freq.shingle
GROUP BY doc_id
"""


def q15_doc_fingerprints(spark, sf_dir):
    """Fingerprinting (O-14/md5 path): md5 of text + per-source exact
    duplicate-content groups."""
    docs = _t(spark, sf_dir, "documents")
    return (
        docs.groupBy("source", F.md5(F.col("text")).alias("fingerprint"))
        .agg(F.count(F.lit(1)).alias("n_docs"), F.min("doc_id").alias("keep_doc_id"))
    )


ORACLE_Q15 = """
SELECT source, md5(text) AS fingerprint, count(*) AS n_docs,
       min(doc_id) AS keep_doc_id
FROM documents GROUP BY 1, 2
"""


def q16_jaccard_pairs(spark, sf_dir):
    """Exact n-gram Jaccard near-dup pairs within source (J >= 0.5)
    over NON-BOILERPLATE shingles — integer outputs only.

    Round-1 verdict #3 fix: the old within-source self-join generated
    O(n²/source) pairs (29% of bench wall time, a scale-killer).  Now
    candidate pairs come from a self-equi-join on the SHARED shingle
    itself, and |A∩B| is the pair's group count — no array_intersect,
    no quadratic stage.  Shingles that are source boilerplate (df >=
    60% of the source's docs, the q13/mask threshold) are pruned first,
    so 'watermarks' never vote for similarity AND no single ubiquitous
    shingle can fan out df² candidate pairs.  Every stage is a
    fixed-width equi-join / hash-agg on (source, shingle) or (id, id) —
    shuffle-partitionable at 100 TB.
    """
    docs = _t_wide(spark, sf_dir, "documents")
    shings = docs.select(
        "doc_id", "source",
        F.explode(F.array_distinct(doc_shingles_expr(F.col("text")))).alias("shingle"),
    )
    n_docs = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n_docs"))
    # df via a window over the SAME (source, shingle) partitioning the
    # pair join needs (one shuffle, no extra join), then materialize:
    # kept feeds three consumers (sizes, both pair-join sides) and the
    # shingle explode is the expensive part — without materializing,
    # Spark recomputes it per consumer (benchmarked 2x slower).
    # localCheckpoint (not persist) so lifetime is GC-managed: the
    # checkpointed RDD is reclaimed by Spark's ContextCleaner once the
    # returned DataFrame is unreferenced — no module-global cache, no
    # manual unpersist tied to a session that may be gone (round-2
    # advice).  At 100 TB you'd use reliable .checkpoint() to object
    # storage instead; the plan shape is identical.
    w_sh = Window.partitionBy("source", "shingle")
    kept = (
        shings.withColumn("df", F.count(F.lit(1)).over(w_sh))
        .join(F.broadcast(n_docs), "source")
        .where(F.col("df") < 0.6 * F.col("n_docs"))
        .select("doc_id", "source", "shingle")
        .localCheckpoint(eager=True)
    )
    sz = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("sz"))
    a = kept.select("source", "shingle", F.col("doc_id").alias("id_a"))
    b = kept.select("source", "shingle", F.col("doc_id").alias("id_b"))
    inter = (
        a.join(b, ["source", "shingle"])
        .where(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("n_inter"))
    )
    return (
        inter.join(sz.select(F.col("doc_id").alias("id_a"), F.col("sz").alias("sz_a")), "id_a")
        .join(sz.select(F.col("doc_id").alias("id_b"), F.col("sz").alias("sz_b")), "id_b")
        .withColumn("n_union", F.col("sz_a") + F.col("sz_b") - F.col("n_inter"))
        .where(2 * F.col("n_inter") >= F.col("n_union"))
        .select("id_a", "id_b", "n_inter", "n_union")
    )


ORACLE_Q16 = f"""
WITH shings AS (
  SELECT doc_id, source, unnest(list_distinct({_DUCK_SHINGLES.format(col='text')})) AS shingle
  FROM documents
), nd AS (
  SELECT source, count(*) AS n_docs FROM documents GROUP BY 1
), dfq AS (
  SELECT source, shingle, count(*) AS df FROM shings GROUP BY 1, 2
), keep AS (
  SELECT dfq.source, shingle FROM dfq JOIN nd ON dfq.source = nd.source
  WHERE df < 0.6 * n_docs
), kept AS (
  SELECT s.doc_id, s.source, s.shingle
  FROM shings s JOIN keep k ON s.source = k.source AND s.shingle = k.shingle
), sz AS (
  SELECT doc_id, count(*) AS sz FROM kept GROUP BY 1
), inter AS (
  SELECT a.doc_id AS id_a, b.doc_id AS id_b, count(*) AS n_inter
  FROM kept a JOIN kept b
    ON a.source = b.source AND a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT id_a, id_b, n_inter, sa.sz + sb.sz - n_inter AS n_union
FROM inter
JOIN sz sa ON id_a = sa.doc_id
JOIN sz sb ON id_b = sb.doc_id
WHERE 2 * n_inter >= sa.sz + sb.sz - n_inter
"""


def q17_lang_id(spark, sf_dir):
    """Language-ID heuristic (stopword-marker argmax) per doc."""
    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", lang_id_expr(F.col("text")).alias("lang_pred"))


def _duck_hits(lang: str) -> str:
    parts = []
    for wword in LANG_MARKERS[lang]:
        needle = f" {wword} "
        parts.append(
            f"CAST((length(padded) - length(replace(padded, '{needle}', ''))) / {len(needle)} AS BIGINT)"
        )
    return " + ".join(parts)


ORACLE_Q17 = f"""
WITH p AS (
  SELECT doc_id, replace(' ' || lower(text) || ' ', chr(10), ' ') AS padded
  FROM documents
), scored AS (
  SELECT doc_id,
         {_duck_hits('de')} AS h_de,
         {_duck_hits('en')} AS h_en,
         {_duck_hits('es')} AS h_es,
         {_duck_hits('fr')} AS h_fr
  FROM p
)
SELECT doc_id,
       CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
            WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
            WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
            WHEN h_es >= h_fr THEN 'es'
            ELSE 'fr' END AS lang_pred
FROM scored
"""


def q18_token_stats(spark, sf_dir):
    """Token counting per source: integer-exact aggregates."""
    docs = _t(spark, sf_dir, "documents")
    return docs.groupBy("source").agg(
        F.sum(token_count_expr(F.col("text"))).alias("total_tokens"),
        F.sum(F.length("text")).alias("total_chars"),
        F.max(token_count_expr(F.col("text"))).alias("max_tokens"),
    )


ORACLE_Q18 = """
SELECT source,
       CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS BIGINT) AS total_tokens,
       CAST(sum(length(text)) AS BIGINT) AS total_chars,
       max(len(list_filter(string_split(text, ' '), t -> t <> ''))) AS max_tokens
FROM documents GROUP BY source
"""

def q19_quality_scores(spark, sf_dir):
    """Quality scoring (training-data pipeline): deterministic
    length/token/line-ratio score per doc."""
    from ..functions.text import quality_score_expr

    docs = _t(spark, sf_dir, "documents")
    return docs.select("doc_id", quality_score_expr(F.col("text")).alias("quality"))


ORACLE_Q19 = """
WITH m AS (
  SELECT doc_id,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)), l -> length(l) > 0)) AS non_empty
  FROM documents
)
SELECT doc_id,
       round(0.4 * least(n_chars / 500.0, 1.0)
           + 0.4 * (CASE WHEN n_tokens > 0 AND
                              (n_chars - (n_tokens - 1.0)) / n_tokens BETWEEN 3.0 AND 10.0
                         THEN 1.0 ELSE 0.5 END)
           + 0.2 * (CASE WHEN n_lines > 0 THEN non_empty * 1.0 / n_lines ELSE 0.0 END), 6)
       AS quality
FROM m
"""


# --------------------------------------------------------------- embeddings

def q20_cosine_topk(spark, sf_dir):
    """Brute-force cosine top-5 for query vectors vec_id < 3 —
    per-row float math only, rounded; deterministic tie-break."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3).select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.select(F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv"))
        .crossJoin(F.broadcast(q))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(cosine_expr(F.col("qv").cast("array<double>"), F.col("cv").cast("array<double>")), 6),
        )
    )
    w = Window.partitionBy("query_id").orderBy(F.col("cosine").desc(), F.col("neighbor_id").asc())
    return (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("query_id", "neighbor_id", "cosine", "rk")
    )


ORACLE_Q20 = """
WITH q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv FROM embeddings WHERE vec_id < 3
), scored AS (
  SELECT query_id, e.vec_id AS neighbor_id,
         round(list_dot_product(qv, e.embedding::DOUBLE[]) /
               (sqrt(list_dot_product(qv, qv)) *
                sqrt(list_dot_product(e.embedding::DOUBLE[], e.embedding::DOUBLE[]))), 6) AS cosine
  FROM embeddings e CROSS JOIN q WHERE e.vec_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= 5
"""


def q21_embedding_norm_buckets(spark, sf_dir):
    """Per-label distribution of vector norms — norms rounded per row
    (exact) then bucketed; integer outputs."""
    emb = _t(spark, sf_dir, "embeddings")
    norm = F.sqrt(
        F.aggregate(
            F.col("embedding").cast("array<double>"), F.lit(0.0), lambda a, v: a + v * v
        )
    )
    return (
        emb.withColumn("norm_bucket", F.floor(norm).cast("bigint"))
        .groupBy("label", "norm_bucket")
        .agg(F.count(F.lit(1)).alias("n"))
    )


ORACLE_Q21 = """
SELECT label, CAST(floor(sqrt(list_dot_product(embedding::DOUBLE[], embedding::DOUBLE[]))) AS BIGINT) AS norm_bucket,
       count(*) AS n
FROM embeddings GROUP BY 1, 2
"""

# ---------------------------------------- portable-hash near-dup / ANN

def q22_minhash_near_dupes(spark, sf_dir):
    """MinHash+LSH near-dup pipeline on documents.  Portable
    md5-derived hashing (round-2): the full pipeline — 32 permutation
    mins, 8-band LSH candidates, exact-Jaccard verify — is mirrored
    stage-for-stage in ORACLE_Q22, so the DRIVER checks not just the
    verified pairs but the banding itself."""
    docs = _t_wide(spark, sf_dir, "documents")
    return minhash_near_dupes(docs, "doc_id", "text", threshold=0.5).select(
        "id_a", "id_b", F.round("jaccard", 6).alias("jaccard")
    )


def _duck_minhash_oracle(num_hashes: int = 32, bands: int = 8, rpb: int = 4) -> str:
    from ..functions.portable_hash import MERSENNE_P, duck_md5_i28, perm_coeffs

    sh = _DUCK_SHINGLES.format(col="text")
    x = duck_md5_i28("s")
    mins = ",\n         ".join(
        "min(({a} * {x} + {b}) % {p}) AS h{i}".format(
            a=perm_coeffs(i)[0], b=perm_coeffs(i)[1], x=x, p=MERSENNE_P, i=i
        )
        for i in range(num_hashes)
    )
    band_selects = []
    for b in range(bands):
        concat = " || ',' || ".join(f"h{b * rpb + r}::VARCHAR" for r in range(rpb))
        band_selects.append(
            f"SELECT id, {b} AS band_id, {duck_md5_i64('(' + concat + ')')} AS band_hash FROM mins"
        )
    banded = "\n  UNION ALL\n  ".join(band_selects)
    return f"""
WITH shings AS (
  SELECT doc_id AS id, unnest(list_distinct({sh})) AS s FROM documents
), mins AS (
  SELECT id, {mins}
  FROM shings GROUP BY id
), banded AS (
  {banded}
), cand AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_hash = b.band_hash AND a.id < b.id
), sets AS (
  SELECT doc_id AS id, list_distinct({sh}) AS hs FROM documents
), v AS (
  SELECT id_a, id_b,
         len(list_intersect(sa.hs, sb.hs)) AS i_,
         len(sa.hs) + len(sb.hs) - len(list_intersect(sa.hs, sb.hs)) AS u_
  FROM cand JOIN sets sa ON cand.id_a = sa.id JOIN sets sb ON cand.id_b = sb.id
)
SELECT id_a, id_b, round(CASE WHEN u_ = 0 THEN 1.0 ELSE i_ / u_ END, 6) AS jaccard
FROM v WHERE u_ = 0 OR 2 * i_ >= u_
"""


ORACLE_Q22 = _duck_minhash_oracle()


def q23_simhash_near_dupes(spark, sf_dir):
    """SimHash banded near-dup pairs — portable md5-bit votes, mirrored
    bit-for-bit in ORACLE_Q23 (hex-digit set membership, no base
    conversion in either engine)."""
    docs = _t_wide(spark, sf_dir, "documents")
    return simhash_near_dupes(docs, "doc_id", "text", max_hamming=8)


def _duck_simhash_oracle(max_hamming: int = 8) -> str:
    sh = _DUCK_SHINGLES.format(col="text")
    votes = ",\n         ".join(
        "sum(CASE WHEN substr(h, {c}, 1) IN ({chars}) THEN 1 ELSE -1 END) AS v{b}".format(
            c=1 + b // 4,
            chars=", ".join(f"'{ch}'" for ch in HEX_BIT_CHARS[b % 4]),
            b=b,
        )
        for b in range(64)
    )
    band_cols = ",\n         ".join(
        "CAST("
        + " + ".join(f"CASE WHEN v{16 * i + r} > 0 THEN {1 << r} ELSE 0 END" for r in range(16))
        + f" AS BIGINT) AS bv{i}"
        for i in range(4)
    )
    banded = "\n  UNION ALL\n  ".join(
        f"SELECT id, bv0, bv1, bv2, bv3, {i} AS band_id, bv{i} AS band_val FROM bands"
        for i in range(4)
    )
    hamming = " + ".join(f"bit_count(xor(a.bv{i}, b.bv{i}))" for i in range(4))
    return f"""
WITH shings AS (
  SELECT doc_id AS id, md5(unnest(list_distinct({sh}))) AS h FROM documents
), votes AS (
  SELECT id, {votes}
  FROM shings GROUP BY id
), bands AS (
  SELECT id, {band_cols}
  FROM votes
), banded AS (
  {banded}
), pairs AS (
  SELECT DISTINCT a.id AS id_a, b.id AS id_b,
         CAST({hamming} AS BIGINT) AS hamming
  FROM banded a JOIN banded b
    ON a.band_id = b.band_id AND a.band_val = b.band_val AND a.id < b.id
)
SELECT id_a, id_b, hamming FROM pairs WHERE hamming <= {max_hamming}
"""


ORACLE_Q23 = _duck_simhash_oracle()


def q24_lsh_topk(spark, sf_dir):
    """LSH-bucketed approximate nearest neighbors — literal ±1
    hyperplanes shared verbatim with ORACLE_Q24; recall vs brute force
    additionally asserted in pytest."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    return lsh_topk(emb, q, k=5, n_planes=4)


def _duck_lsh_bucket(vexpr: str, n_planes: int, dim: int) -> str:
    terms = []
    for p in range(n_planes):
        arr = "[" + ", ".join("1.0" if s > 0 else "-1.0" for s in plane_signs(p, dim)) + "]"
        terms.append(
            f"CASE WHEN list_dot_product({vexpr}, {arr}) >= 0"
            f" THEN {1 << (n_planes - 1 - p)} ELSE 0 END"
        )
    return "(" + " + ".join(terms) + ")"


def _duck_lsh_oracle(n_planes: int = 4, dim: int = 64, k: int = 5) -> str:
    bucket = _duck_lsh_bucket("embedding::DOUBLE[]", n_planes, dim)
    return f"""
WITH c AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, {bucket} AS bucket
  FROM embeddings
), q AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, {bucket} AS bucket
  FROM embeddings WHERE vec_id < 3
), scored AS (
  SELECT query_id, neighbor_id,
         round(list_dot_product(qv, cv) /
               (sqrt(list_dot_product(qv, qv)) * sqrt(list_dot_product(cv, cv))), 6) AS cosine
  FROM c JOIN q ON c.bucket = q.bucket WHERE neighbor_id <> query_id
)
SELECT query_id, neighbor_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= {k}
"""


ORACLE_Q24 = _duck_lsh_oracle()


def q25_media_features(spark, sf_dir):
    """Multimodal plumbing: documents' text bytes as opaque media
    payloads through the Arrow mapInPandas feature extractor.

    Driver-facing output is SCALAR-ONLY (round-1 verdict #2: an
    array<float> column crashes the driver's pandas canonicalizer) —
    the 8-dim feature comes out as f0..f7 double columns, rounded at
    the query layer.  The oracle recomputes the byte-histogram feature
    in pure SQL (documents.text is ASCII, so char ords == payload
    bytes)."""
    docs = _t(spark, sf_dir, "documents")
    media = docs.select(
        F.col("doc_id").alias("media_id"),
        F.lit("image").alias("kind"),
        F.encode(F.col("text"), "UTF-8").alias("payload"),
        F.lit("application/octet-stream").alias("mime"),
        F.lit(None).cast("int").alias("width"),
        F.lit(None).cast("int").alias("height"),
        F.lit(None).cast("bigint").alias("duration_ms"),
    )
    feats = extract_media_features(media)
    return feats.select(
        "media_id",
        "kind",
        "n_bytes",
        *[
            F.round(F.element_at("feature", j + 1).cast("double"), 6).alias(f"f{j}")
            for j in range(8)
        ],
        "error",
    )


def _duck_fake_feature(j: int) -> str:
    """Byte-histogram moment f<j> = mean of byte values at 0-based
    positions ≡ j (mod 8) — mirrors multimodal._fake_feature for ASCII
    payloads (ord(char) == utf-8 byte)."""
    return (
        "CASE WHEN length(text) = 0 THEN 0.0 ELSE round("
        "list_sum(list_transform(generate_series(1, length(text)), "
        f"i -> CASE WHEN (i-1) % 8 = {j} THEN ord(substr(text, i, 1)) ELSE 0 END))"
        f" / length(text), 6) END AS f{j}"
    )


ORACLE_Q25 = f"""
SELECT doc_id AS media_id,
       'image' AS kind,
       CAST(length(text) AS BIGINT) AS n_bytes,
       {", ".join(_duck_fake_feature(j) for j in range(8))},
       CAST(NULL AS VARCHAR) AS error
FROM documents
"""


def q26_salted_domain_windows(spark, sf_dir):
    """O-21 salted two-phase windowed agg over events (user_id as the
    skew key stand-in); equivalence vs naive plan is pytest-asserted,
    values here are SQL-checkable."""
    ev = _t(spark, sf_dir, "events").select(
        F.col("ts").alias("warc_ts"),
        F.col("event_type").alias("domain"),
        F.col("props").alias("text"),
        F.col("event_id").cast("string").alias("url"),
    )
    out = salted_window_domain_agg(ev, salt_buckets=8)
    return out.select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "domain",
        "n_pages",
        "total_chars",
    )


ORACLE_Q26 = """
SELECT epoch(time_bucket(INTERVAL 10 minutes, ts))::BIGINT AS window_start_epoch,
       event_type AS domain, count(*) AS n_pages,
       CAST(sum(length(props)) AS BIGINT) AS total_chars
FROM events GROUP BY 1, 2
"""


SENTINEL_DOMAIN = "sentinel.example.com"


def _derived_pages_pandas(sf_dir: str, dup_every: int | None = None):
    """documents -> Common-Crawl-shaped pages, deterministically AND
    SQL-expressibly (round-1 verdict #5: the old generate_corpus
    fixture was invisible to the driver's DuckDB oracle — these pages
    are a pure function of the registered ``documents`` table, so the
    streaming queries' expected output is computable in ANSI SQL).

    - url      = https://<source>.example.com/p/<doc_id>
    - warc_ts  = 2026-01-01 + doc_id * 47 s.  Ascending doc order means
      rows are written time-ordered, so under the 2-batch-lagged
      watermark NO real row is ever late and the oracle needs no batch
      timeline (lateness itself is pytest-covered in test_streaming).
    - text     = per-source boilerplate header + body + footer, so the
      mined masks are non-empty and extraction verifiably removes the
      injected 'watermark' lines.
    - dup_every: every doc_id % dup_every == 0 row is emitted twice
      (adjacent, same (url, warc_ts)) to exercise streaming dedup.
    """
    import pandas as pd
    import pyarrow.parquet as pq

    docs = (
        pq.read_table(f"{sf_dir}/documents.parquet")
        .to_pandas()
        .sort_values("doc_id")
        .reset_index(drop=True)
    )
    text = (
        "wm-header " + docs["source"] + " common header line\n"
        + docs["text"]
        + "\nwm-footer " + docs["source"] + " shared footer line"
    )
    pages = pd.DataFrame(
        {
            "url": "https://" + docs["source"] + ".example.com/p/" + docs["doc_id"].astype(str),
            "warc_ts": pd.Timestamp("2026-01-01")
            + pd.to_timedelta(docs["doc_id"] * 47, unit="s"),
            "html": [t.encode("utf-8") for t in text],
            "text": text,
            "lang": docs["lang"],
        }
    )
    if dup_every:
        dups = pages[(docs["doc_id"] % dup_every == 0).values]
        pages = (
            pd.concat([pages, dups])
            .sort_values("warc_ts", kind="stable")
            .reset_index(drop=True)
        )
    return pages, int(docs["doc_id"].max())


def _sentinel_pages():
    """Two far-future rows that pin the final watermark past every real
    window (2-batch lag -> two sentinel batches)."""
    import pandas as pd

    return pd.DataFrame(
        {
            "url": [f"https://{SENTINEL_DOMAIN}/p/1", f"https://{SENTINEL_DOMAIN}/p/2"],
            "warc_ts": [pd.Timestamp("2027-01-01"), pd.Timestamp("2027-01-01T01:00:00")],
            "html": [b"s", b"s"],
            "text": ["s", "s"],
            "lang": ["en", "en"],
        }
    )


def _q_tmpdir(prefix: str) -> str:
    """mkdtemp registered for interpreter-exit removal — repeated
    driver/selfcheck/bench invocations of the streaming queries in one
    long-lived process must not accumulate corpus-sized /tmp litter."""
    import atexit
    import shutil
    import tempfile

    d = tempfile.mkdtemp(prefix=prefix)
    atexit.register(shutil.rmtree, d, True)
    return d


def _split_batches(pages, n_files: int, sentinels: bool = True):
    """THE one ceil-split of a pages frame into time-ordered
    micro-batch slices: empty slices are dropped (an empty pandas
    object column serializes as a pyarrow null type that the
    fixed-schema stream read rejects), optionally followed by the two
    watermark-pinning sentinel batches.  Shared by every stream
    fixture so the split/sentinel conventions cannot drift."""
    per = (len(pages) + n_files - 1) // n_files
    batches = [pages.iloc[i * per : (i + 1) * per] for i in range(n_files)]
    batches = [b for b in batches if len(b)]
    if sentinels:
        sent = _sentinel_pages()
        batches += [sent.iloc[:1], sent.iloc[1:]]
    return batches


def _derived_stream_fixture(spark, sf_dir, dup_every: int | None = None, n_files: int = 4):
    """Write the derived pages as time-ordered micro-batch files
    (+ sentinel batches) and mine the masks from the full corpus."""
    from ..operators.extract import mine_masks
    from ..sources.pages import write_batch_files

    pages, _ = _derived_pages_pandas(sf_dir, dup_every)
    src = _q_tmpdir("wrs-q-stream-")
    write_batch_files(_split_batches(pages, n_files), src)
    masks = mine_masks(spark.createDataFrame(pages))
    return src, masks


def _late_stream_fixture(
    spark, sf_dir, late_mod: int = 10, late_rem: int = 7, n_real: int = 4
) -> str:
    """Derived pages with a DELIBERATELY LATE subset (round-2 verdict
    #1: put lateness itself on the driver's oracle).

    Batch composition is a pure function of doc_id, so DuckDB can
    reconstruct the whole timeline: position p (row_number over
    doc_id) gives the natural batch ``p // ceil(N / n_real)``; rows
    with ``doc_id % late_mod == late_rem`` are WITHHELD from their
    natural batch and delivered together as batch ``n_real`` — by
    which time the two-batch-lagged watermark (derived from batches
    0..n_real-2) has already finalized most of their windows, so they
    are dropped; the tail of the late set lands in still-open windows
    and is admitted.  Both sides of the boundary are exercised
    (tests/test_late_data.py asserts non-vacuity).  Two sentinel
    batches pin the final watermark so every real window flushes."""
    from ..sources.pages import write_batch_files

    pages, _ = _derived_pages_pandas(sf_dir)
    doc_id = pages["url"].str.rsplit("/", n=1).str[-1].astype(int)
    is_late = (doc_id % late_mod == late_rem).values
    per = (len(pages) + n_real - 1) // n_real
    nat_batch = [p // per for p in range(len(pages))]
    batches = [
        pages[[(b == i) and not l for b, l in zip(nat_batch, is_late)]]
        for i in range(n_real)
    ]
    batches.append(pages[is_late])
    # batch INDEX is semantic here (ORACLE_Q40's timeline numbers
    # batches positionally) — an empty batch may not be silently
    # dropped like _split_batches does; it would shift the watermark
    # lag alignment.  Fail loudly instead.
    for idx, b in enumerate(batches):
        if not len(b):
            raise ValueError(
                f"late-stream fixture batch {idx} is empty at {sf_dir}; "
                "the batch-timeline oracle requires every batch non-empty"
            )
    sent = _sentinel_pages()
    batches += [sent.iloc[:1], sent.iloc[1:]]
    src = _q_tmpdir("wrs-q-late-")
    write_batch_files(batches, src)
    return src


def _drain(df, spark, state_partitions: int = 8):
    """Run the fixture stream to the ledger sink and read back the
    committed rows.

    State partitions are set to the fixture's trigger volume for the
    duration of the stream (a stateful query's partitioning is a
    deployment constant sized to data volume — per-batch state-store
    commit cost scales with partition count, and these derived-corpus
    fixtures run thousands of rows per trigger, not millions).
    Partitioning never affects result content; the session's batch
    setting is restored afterwards."""
    from ..streaming.pipeline import run_stream_to_sink
    from ..streaming.sink import ParquetLedgerSink

    sess = df.sparkSession
    old = sess.conf.get("spark.sql.shuffle.partitions")
    sink = ParquetLedgerSink(_q_tmpdir("wrs-q-sink-"))
    sess.conf.set("spark.sql.shuffle.partitions", str(state_partitions))
    try:
        q = run_stream_to_sink(df, sink, _q_tmpdir("wrs-q-ck-"))
        q.awaitTermination(600)
    finally:
        sess.conf.set("spark.sql.shuffle.partitions", old)
    return sink.read_committed(spark)


def q27_streaming_clean_windows(spark, sf_dir):
    """O-2/O-8/O-24/O-25/O-18/O-26 end to end: micro-batch stream ->
    mask extraction -> streaming dedup -> tumbling windows ->
    exactly-once sink; returns the committed window rows.

    ORACLE-CHECKED (round-2): the stream is derived from ``documents``
    (see _derived_pages_pandas), rows arrive time-ordered with dup
    injection, and the sentinels pin the final watermark past every
    2026 window — so the committed set equals the batch SQL
    (mine frequent shingles -> per-line masking -> clean length ->
    dedup -> 10-min windows), which ORACLE_Q27 computes in DuckDB.
    The batch-timeline lateness semantics are pytest-asserted
    separately (tests/test_streaming.py vs oracle_stream)."""
    from ..streaming.pipeline import build_clean_stream, build_window_stream

    src, masks = _derived_stream_fixture(spark, sf_dir, dup_every=37)
    cleaned = build_clean_stream(spark, src, masks)
    win = build_window_stream(cleaned)
    out = _drain(win, spark)
    return out.where(
        F.col("window_start") < F.lit("2027-01-01").cast("timestamp")
    ).select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "lang",
        "n_pages",
        "total_chars",
    )


def q28_stateful_sessions(spark, sf_dir):
    """O-19 mandated form: per-domain session windows via
    applyInPandasWithState with event-time timeout.

    ORACLE-CHECKED (round-2): same derived time-ordered stream; with
    the final watermark sentinel-pinned past session_end of every real
    session, the emitted set equals batch lag/cumsum sessionization
    (gap 300 s, session_end = last + gap) — ORACLE_Q28.  Sentinel
    domain excluded (its own session closure depends on trailing-batch
    count)."""
    from ..operators.extract import with_domain
    from ..sources.pages import stream_pages_files
    from ..streaming.sessions import stateful_domain_sessions

    src, _ = _derived_stream_fixture(spark, sf_dir)
    pages = with_domain(stream_pages_files(spark, src, 1))
    sessions = stateful_domain_sessions(pages, gap_seconds=300)
    out = _drain(sessions, spark)
    return out.where(F.col("domain") != SENTINEL_DOMAIN).select(
        "domain",
        F.unix_timestamp("session_start").alias("session_start_epoch"),
        F.unix_timestamp("session_end").alias("session_end_epoch"),
        "n_pages",
    )


def q29_streaming_asof_join(spark, sf_dir):
    """O-15: watermark-bounded stream-stream join vs the template
    changelog with as-of resolution.

    ORACLE-CHECKED (round-2): pages derived from ``documents``; the
    changelog has two versions per source domain (v1 at the stream
    base, v2 at the midpoint switch), both streams sentinel-pinned.
    Rows arrive time-ordered, the 30-day event-time bound exceeds the
    stream span, so no join state is evicted before its matches arrive
    and the emitted set equals the batch as-of join — ORACLE_Q29."""
    import os

    import pandas as pd

    from ..operators.extract import with_domain
    from ..sources.pages import stream_pages_files, stream_templates_files, write_batch_files
    from ..streaming.pipeline import streaming_asof_template_join

    pages, max_doc = _derived_pages_pandas(sf_dir)
    sent_page = _sentinel_pages()
    src = _q_tmpdir("wrs-q-asof-p-")
    write_batch_files([pages, sent_page.iloc[:1], sent_page.iloc[1:]], src)

    base = pd.Timestamp("2026-01-01")
    switch_ts = base + pd.to_timedelta((max_doc // 2) * 47, unit="s")
    sources = sorted({u.split("//")[1].split(".example.com")[0] for u in pages["url"]})
    tmpl = pd.DataFrame(
        [
            {
                "domain": f"{s}.example.com",
                "valid_from": vf,
                "template_kind": "header",
                "template_line": "x",
                "shingle_hashes": [1],
            }
            for s in sources
            for vf in (base, switch_ts)
        ]
    )
    sent_t = pd.DataFrame(
        {
            "domain": [SENTINEL_DOMAIN] * 2,
            "valid_from": [pd.Timestamp("2027-01-01"), pd.Timestamp("2027-01-01T01:00:00")],
            "template_kind": ["header"] * 2,
            "template_line": ["x"] * 2,
            "shingle_hashes": [[1], [1]],
        }
    )
    tmpl_dir = _q_tmpdir("wrs-q-asof-t-")
    kw = {"index": False, "coerce_timestamps": "us", "allow_truncated_timestamps": True}
    tmpl.to_parquet(os.path.join(tmpl_dir, "t0.parquet"), **kw)
    sent_t.to_parquet(os.path.join(tmpl_dir, "t1.parquet"), **kw)

    p = with_domain(stream_pages_files(spark, src, 2))
    t = stream_templates_files(spark, tmpl_dir)
    joined = streaming_asof_template_join(p, t)
    out = _drain(joined, spark)
    return out.where(F.col("domain") != SENTINEL_DOMAIN).select(
        "url",
        F.unix_timestamp("warc_ts").alias("warc_ts_epoch"),
        F.unix_timestamp("template_valid_from").alias("template_valid_from_epoch"),
    )


# ----------------------------------------- round-2 additions (q31-q34)

def q31_ivf_topk(spark, sf_dir):
    """IVF-flat approximate top-k (second ANN scale path next to LSH):
    16 portable-hash-selected sample centroids, corpus assigned to its
    nearest inverted list, queries probe their 4 nearest lists.
    ORACLE_Q31 recomputes the whole thing — centroid selection,
    assignment argmin, probe lists, cosine rank — in DuckDB."""
    from ..operators.similarity import ivf_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    return ivf_topk(emb, q, k=5, n_centroids=16, n_probe=4)


_DUCK_IVF_DIST = (
    "list_sum(list_transform(generate_series(1, len(e.v)), "
    "i -> (e.v[i] - c.v[i]) * (e.v[i] - c.v[i])))"
)

ORACLE_Q31 = f"""
WITH emb AS (
  SELECT vec_id, embedding::DOUBLE[] AS v FROM embeddings
), cent AS (
  SELECT row_number() OVER (ORDER BY h) AS cid, v
  FROM (
    SELECT vec_id, embedding::DOUBLE[] AS v,
           {duck_md5_i64("vec_id::VARCHAR", salt="ivf#")} AS h
    FROM embeddings ORDER BY h LIMIT 16
  )
), dists AS (
  SELECT e.vec_id, c.cid, {_DUCK_IVF_DIST} AS d
  FROM emb e CROSS JOIN cent c
), corpus_assign AS (
  SELECT vec_id AS neighbor_id, cid AS list_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM dists)
  WHERE rk = 1
), query_probe AS (
  SELECT vec_id AS query_id, cid AS list_id
  FROM (SELECT *, row_number() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rk FROM dists)
  WHERE rk <= 4 AND vec_id < 3
), scored AS (
  SELECT q.query_id, ca.neighbor_id,
         round(list_dot_product(qe.v, ne.v) /
               (sqrt(list_dot_product(qe.v, qe.v)) * sqrt(list_dot_product(ne.v, ne.v))), 6)
           AS cosine
  FROM query_probe q
  JOIN corpus_assign ca ON q.list_id = ca.list_id
  JOIN emb qe ON qe.vec_id = q.query_id
  JOIN emb ne ON ne.vec_id = ca.neighbor_id
  WHERE ca.neighbor_id <> q.query_id
)
SELECT query_id, neighbor_id, cosine, rk FROM (
  SELECT *, row_number() OVER (PARTITION BY query_id
                               ORDER BY cosine DESC, neighbor_id ASC) AS rk
  FROM scored
) WHERE rk <= 5
"""


def q32_rolling_fingerprint(spark, sf_dir):
    """Winnowing-style rolling fingerprint per doc: minimum hash over
    all 5-token windows — robust to local edits outside the minimizing
    window.  Portable md5 variant (string min), mirrored in SQL."""
    from ..functions.text import rolling_fingerprint_md5_expr

    docs = _t_wide(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", rolling_fingerprint_md5_expr(F.col("text")).alias("fingerprint")
    )


def _duck_kgrams(col: str, k: int) -> str:
    """DuckDB k-token-window fragment (generalized _DUCK_SHINGLES)."""
    toks = f"list_filter(string_split({col}, ' '), t -> t <> '')"
    return f"""
CASE WHEN len({toks}) = 0 THEN []::VARCHAR[]
     WHEN len({toks}) <= {k} THEN [array_to_string({toks}, ' ')]
     ELSE list_transform(
            generate_series(1, len({toks}) - {k - 1}),
            i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' '))
END
"""


ORACLE_Q32 = f"""
SELECT doc_id,
       list_min(list_transform({_duck_kgrams("text", 5)}, w -> md5(w))) AS fingerprint
FROM documents
"""


def q33_bpe_tokens(spark, sf_dir):
    """BPE-ish subword token estimate per doc (GPT-2-style pretokenizer
    shape, simplified to an engine-portable regex)."""
    from ..functions.text import bpe_ish_token_count_expr

    docs = _t(spark, sf_dir, "documents")
    return docs.select(
        "doc_id",
        bpe_ish_token_count_expr(F.col("text")).cast("bigint").alias("n_bpe_tokens"),
    )


ORACLE_Q33 = r"""
SELECT doc_id,
       CAST(len(regexp_extract_all(text, '[A-Za-z]+|[0-9]+|[^A-Za-z0-9\s]')) AS BIGINT)
         AS n_bpe_tokens
FROM documents
"""


def q34_embedding_near_dupes(spark, sf_dir):
    """Embedding-cosine near-dup pairs via LSH self-join + verify;
    literal hyperplanes shared with ORACLE_Q34.  Threshold 0.4 here
    (operator default 0.95): the synthetic embeddings have no true
    near-dupes (max pairwise cosine ~0.51), so the check uses the top
    of the observed similarity range to stay non-vacuous."""
    from ..operators.similarity import embedding_near_dupes

    emb = _t(spark, sf_dir, "embeddings")
    return embedding_near_dupes(emb, threshold=0.4, n_planes=6)


def _duck_embedding_near_dupes(threshold: float = 0.4, n_planes: int = 6, dim: int = 64) -> str:
    bucket = _duck_lsh_bucket("embedding::DOUBLE[]", n_planes, dim)
    return f"""
WITH c AS (
  SELECT vec_id AS id, embedding::DOUBLE[] AS v, {bucket} AS bucket FROM embeddings
)
SELECT DISTINCT a.id AS id_a, b.id AS id_b,
       round(list_dot_product(a.v, b.v) /
             (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
         AS cosine
FROM c a JOIN c b ON a.bucket = b.bucket AND a.id < b.id
WHERE round(list_dot_product(a.v, b.v) /
            (sqrt(list_dot_product(a.v, a.v)) * sqrt(list_dot_product(b.v, b.v))), 6)
      >= {threshold}
"""


ORACLE_Q34 = _duck_embedding_near_dupes()


# DuckDB mirror of _derived_pages_pandas (pre-dup-injection: dups are
# collapsed by streaming dedup / never injected, so the oracle works on
# one row per doc)
_DUCK_DERIVED_PAGES = """
  SELECT doc_id, source, lang,
         source || '.example.com' AS domain,
         'https://' || source || '.example.com/p/' || doc_id AS url,
         TIMESTAMP '2026-01-01 00:00:00' + doc_id * INTERVAL 47 SECOND AS warc_ts,
         'wm-header ' || source || ' common header line' || chr(10) || text || chr(10) ||
         'wm-footer ' || source || ' shared footer line' AS text
  FROM documents
"""

ORACLE_Q27 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), docline AS (
  SELECT doc_id, source, line, count(*) AS n_occ
  FROM (SELECT doc_id, source, unnest(string_split(text, chr(10))) AS line FROM pages)
  GROUP BY 1, 2, 3
), docsh AS (
  SELECT DISTINCT doc_id, source, shingle
  FROM (SELECT doc_id, source, unnest({_DUCK_SHINGLES.format(col='line')}) AS shingle
        FROM docline)
), nd AS (
  SELECT source, count(DISTINCT doc_id) AS n_pages FROM pages GROUP BY 1
), freq AS (
  SELECT d.source, d.shingle
  FROM (SELECT source, shingle, count(*) AS df FROM docsh GROUP BY 1, 2) d
  JOIN nd ON d.source = nd.source
  WHERE nd.n_pages >= 3 AND d.df >= 0.6 * nd.n_pages
), srcline AS (
  SELECT DISTINCT source, line FROM docline
), slsh AS (
  SELECT source, line, unnest({_DUCK_SHINGLES.format(col='line')}) AS shingle FROM srcline
), sldec AS (
  SELECT s.source, s.line, count(*) AS n_sh,
         sum(CASE WHEN f.shingle IS NOT NULL THEN 1 ELSE 0 END) AS n_in
  FROM slsh s LEFT JOIN freq f ON s.source = f.source AND s.shingle = f.shingle
  GROUP BY 1, 2
), perdoc AS (
  SELECT dl.doc_id,
         sum(CASE WHEN coalesce(d.n_sh, 0) > 0 AND d.n_in = d.n_sh
                  THEN 0 ELSE dl.n_occ * length(dl.line) END) AS sum_len,
         sum(CASE WHEN coalesce(d.n_sh, 0) > 0 AND d.n_in = d.n_sh
                  THEN 0 ELSE dl.n_occ END) AS n_kept
  FROM docline dl LEFT JOIN sldec d ON dl.source = d.source AND dl.line = d.line
  GROUP BY 1
), clean AS (
  SELECT p.doc_id, p.lang, p.warc_ts,
         CASE WHEN pd.n_kept = 0 THEN 0 ELSE pd.sum_len + pd.n_kept - 1 END AS clean_len
  FROM pages p JOIN perdoc pd ON p.doc_id = pd.doc_id
)
SELECT epoch(time_bucket(INTERVAL 10 minutes, warc_ts))::BIGINT AS window_start_epoch,
       lang, count(*) AS n_pages, CAST(sum(clean_len) AS BIGINT) AS total_chars
FROM clean GROUP BY 1, 2
"""

ORACLE_Q28 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), marked AS (
  SELECT domain, warc_ts,
         CASE WHEN lag(warc_ts) OVER (PARTITION BY domain ORDER BY warc_ts) IS NULL
                OR warc_ts - lag(warc_ts) OVER (PARTITION BY domain ORDER BY warc_ts)
                   > INTERVAL 300 SECOND
              THEN 1 ELSE 0 END AS new_session
  FROM pages
), numbered AS (
  SELECT domain, warc_ts,
         sum(new_session) OVER (PARTITION BY domain ORDER BY warc_ts
                                ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
)
SELECT domain,
       CAST(floor(epoch(min(warc_ts))) AS BIGINT) AS session_start_epoch,
       CAST(floor(epoch(max(warc_ts) + INTERVAL 300 SECOND)) AS BIGINT) AS session_end_epoch,
       count(*) AS n_pages
FROM numbered GROUP BY domain, sid
"""

ORACLE_Q29 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), sw AS (
  SELECT TIMESTAMP '2026-01-01 00:00:00' + (max(doc_id) // 2) * INTERVAL 47 SECOND AS switch_ts
  FROM documents
), tmpl AS (
  SELECT DISTINCT source || '.example.com' AS domain,
         TIMESTAMP '2026-01-01 00:00:00' AS valid_from
  FROM documents
  UNION ALL
  SELECT DISTINCT source || '.example.com' AS domain,
         (SELECT switch_ts FROM sw) AS valid_from
  FROM documents
)
SELECT url,
       CAST(floor(epoch(warc_ts)) AS BIGINT) AS warc_ts_epoch,
       CAST(floor(epoch(max(valid_from))) AS BIGINT) AS template_valid_from_epoch
FROM pages p LEFT JOIN tmpl t ON p.domain = t.domain
  AND t.valid_from <= p.warc_ts
  AND t.valid_from >= p.warc_ts - INTERVAL 30 DAY
GROUP BY url, warc_ts
"""
# LEFT JOIN (round-2 advice): the engine's streaming_asof_template_join
# is leftOuter, so a page with no template version inside the 30-day
# bound emits NULL template_valid_from — the oracle must agree
# independent of corpus span, not only on fixtures where every page
# happens to match.


# ------------------------------------------------ composite prep pipeline

def q35_corpus_prep(spark, sf_dir):
    """Composite training-data prep pipeline — the end-to-end use case
    the engine exists for, as ONE oracle-checked query:

      quality gate (>= 0.5)  ->  exact content dedup (min-doc_id
      keeper per md5 fingerprint)  ->  per-(source, lang_pred) corpus
      budget (docs, tokens, quality min/max).

    Scale shape: per-doc scoring is pure Catalyst (no shuffle); dedup
    is one hash-agg on the 16-byte fingerprint + an equi-join back
    (never on text); the final agg is a partial-aggregated groupBy on
    two low-cardinality keys.  min/max(quality) instead of avg: both
    engines produce bit-identical per-doc doubles (q19-verified), and
    min/max are order-independent so the hash compare stays exact.
    """
    from ..functions.text import lang_id_expr, quality_score_expr, token_count_expr

    docs = _t_wide(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        "source",
        quality_score_expr(F.col("text")).alias("quality"),
        lang_id_expr(F.col("text")).alias("lang_pred"),
        F.md5(F.col("text")).alias("fp"),
        token_count_expr(F.col("text")).alias("n_tokens"),
    ).where(F.col("quality") >= 0.5)
    keeper = scored.groupBy("fp").agg(F.min("doc_id").alias("doc_id"))
    deduped = scored.join(keeper, ["fp", "doc_id"], "inner")
    return deduped.groupBy("source", "lang_pred").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_tokens").cast("bigint").alias("total_tokens"),
        F.min("quality").alias("min_quality"),
        F.max("quality").alias("max_quality"),
    )


ORACLE_Q35 = f"""
WITH m AS (
  SELECT doc_id, source, text,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tokens,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)), l -> length(l) > 0)) AS non_empty,
         replace(' ' || lower(text) || ' ', chr(10), ' ') AS padded
  FROM documents
), scored AS (
  SELECT doc_id, source, text, n_tokens,
         round(0.4 * least(n_chars / 500.0, 1.0)
             + 0.4 * (CASE WHEN n_tokens > 0 AND
                                (n_chars - (n_tokens - 1.0)) / n_tokens BETWEEN 3.0 AND 10.0
                           THEN 1.0 ELSE 0.5 END)
             + 0.2 * (CASE WHEN n_lines > 0 THEN non_empty * 1.0 / n_lines ELSE 0.0 END), 6)
         AS quality,
         {_duck_hits('de')} AS h_de,
         {_duck_hits('en')} AS h_en,
         {_duck_hits('es')} AS h_es,
         {_duck_hits('fr')} AS h_fr
  FROM m
), base AS (
  SELECT doc_id, source, n_tokens, quality, md5(text) AS fp,
         CASE WHEN greatest(h_de, h_en, h_es, h_fr) = 0 THEN 'und'
              WHEN h_de >= h_en AND h_de >= h_es AND h_de >= h_fr THEN 'de'
              WHEN h_en >= h_es AND h_en >= h_fr THEN 'en'
              WHEN h_es >= h_fr THEN 'es'
              ELSE 'fr' END AS lang_pred
  FROM scored
  WHERE quality >= 0.5
), keeper AS (
  SELECT fp, min(doc_id) AS doc_id FROM base GROUP BY fp
)
SELECT b.source, b.lang_pred,
       count(*) AS n_docs,
       CAST(sum(b.n_tokens) AS BIGINT) AS total_tokens,
       min(b.quality) AS min_quality,
       max(b.quality) AS max_quality
FROM base b JOIN keeper k ON b.fp = k.fp AND b.doc_id = k.doc_id
GROUP BY b.source, b.lang_pred
"""


def q36_value_percentiles(spark, sf_dir):
    """Exact ordered-statistics aggregate (O-20 family): p50/p90/p99 of
    event value per type.  Spark's exact ``percentile`` and DuckDB's
    ``quantile_cont`` both use the p*(n-1) linear-interpolation
    definition; outputs rounded to 6dp.  At scale this is a single
    partial-aggregated shuffle on the low-cardinality type key (exact
    percentile state is the sorted value multiset per group —
    ``approx_percentile`` is the sketch alternative when groups are
    huge; exact is used here so the oracle can be exact too)."""
    ev = _t(spark, sf_dir, "events")
    pct = F.percentile("value", [0.5, 0.9, 0.99])
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.round(F.min("value"), 6).alias("min_value"),
        F.round(F.element_at(pct, 1), 6).alias("p50"),
        F.round(F.element_at(pct, 2), 6).alias("p90"),
        F.round(F.element_at(pct, 3), 6).alias("p99"),
        F.round(F.max("value"), 6).alias("max_value"),
    )


ORACLE_Q36 = """
SELECT event_type,
       count(*) AS n_events,
       round(min(value), 6) AS min_value,
       round(quantile_cont(value, 0.5), 6) AS p50,
       round(quantile_cont(value, 0.9), 6) AS p90,
       round(quantile_cont(value, 0.99), 6) AS p99,
       round(max(value), 6) AS max_value
FROM events GROUP BY event_type
"""


def q37_json_props(spark, sf_dir):
    """Semi-structured projection (O-12/O-14 family): extract a typed
    field from the JSON ``props`` column and aggregate it.  Catalyst's
    ``get_json_object`` is JVM-side and prunes to the single path; at
    scale the JSON string never leaves the scan stage — only the
    extracted bigint is shuffled."""
    ev = _t(spark, sf_dir, "events")
    k = F.get_json_object("props", "$.k").cast("bigint")
    return ev.groupBy("event_type").agg(
        F.count(k).alias("n_with_k"),
        F.sum(k).cast("bigint").alias("sum_k"),
        F.min(k).alias("min_k"),
        F.max(k).alias("max_k"),
    )


ORACLE_Q37 = """
SELECT event_type,
       count(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS n_with_k,
       CAST(sum(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS BIGINT) AS sum_k,
       min(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS min_k,
       max(CAST(json_extract_string(props, '$.k') AS BIGINT)) AS max_k
FROM events GROUP BY event_type
"""


def q38_status_pivot(spark, sf_dir):
    """Pivot (O-23 family): per-returnflag quantity/count matrix over
    linestatus.  Explicit pivot values keep the output schema static —
    at scale an unconstrained pivot would first run a distinct scan to
    discover columns.  Nulls become 0 so the matrix is total."""
    li = _t(spark, sf_dir, "lineitem")
    out = (
        li.groupBy("l_returnflag")
        .pivot("l_linestatus", ["F", "O"])
        .agg(
            # DECIMAL-summed then double: shuffle-order-exact across
            # engines (module convention, queries.py header)
            F.sum(F.col("l_quantity").cast(DEC)).cast("double").alias("qty"),
            F.count(F.lit(1)).alias("cnt"),
        )
    )
    return out.select(
        "l_returnflag",
        F.coalesce("F_qty", F.lit(0.0)).alias("f_qty"),
        F.coalesce("F_cnt", F.lit(0)).alias("f_cnt"),
        F.coalesce("O_qty", F.lit(0.0)).alias("o_qty"),
        F.coalesce("O_cnt", F.lit(0)).alias("o_cnt"),
    )


ORACLE_Q38 = """
SELECT l_returnflag,
       CAST(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS f_qty,
       CAST(coalesce(sum(CASE WHEN l_linestatus = 'F' THEN 1 END), 0) AS BIGINT) AS f_cnt,
       CAST(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN CAST(l_quantity AS DECIMAL(18,2)) END), 0) AS DOUBLE) AS o_qty,
       CAST(coalesce(sum(CASE WHEN l_linestatus = 'O' THEN 1 END), 0) AS BIGINT) AS o_cnt
FROM lineitem GROUP BY l_returnflag
"""


def q39_scd2_templates(spark, sf_dir):
    """SCD2/CDC upsert (O-11 family, MERGE-free emulation): apply a
    deterministic batch of template-changelog updates — one new
    version per source, plus same-instant replacements for
    even-length sources (updates-win conflict rule) — and recompute
    validity intervals.  Exercises ``operators/scd2.scd2_apply``."""
    from ..operators.scd2 import scd2_apply

    src = _t(spark, sf_dir, "documents").select("source").distinct()
    v1_ts = F.lit("2026-01-01 00:00:00").cast("timestamp")
    dim = src.select(
        "source",
        F.md5(F.concat("source", F.lit("#v1"))).alias("template_fp"),
        v1_ts.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    v2 = src.select(
        "source",
        F.md5(F.concat("source", F.lit("#v2"))).alias("template_fp"),
        F.expr(
            "timestamp '2026-01-01 00:00:00'"
            " + make_interval(0, 0, 0, (length(source) * 3) % 29 + 1, 0, 0, 0)"
        ).alias("valid_from"),
    )
    v1b = src.where(F.length("source") % 2 == 0).select(
        "source",
        F.md5(F.concat("source", F.lit("#v1b"))).alias("template_fp"),
        v1_ts.alias("valid_from"),
    )
    out = scd2_apply(dim, v2.unionByName(v1b), ["source"])
    return out.select(
        "source",
        "template_fp",
        F.floor(F.unix_timestamp("valid_from")).cast("bigint").alias("valid_from_epoch"),
        F.floor(F.unix_timestamp("valid_to")).cast("bigint").alias("valid_to_epoch"),
    )


ORACLE_Q39 = """
WITH src AS (SELECT DISTINCT source FROM documents),
dim AS (
  SELECT source, md5(source || '#v1') AS template_fp,
         TIMESTAMP '2026-01-01 00:00:00' AS valid_from, 0 AS pri
  FROM src
), upd AS (
  SELECT source, md5(source || '#v2') AS template_fp,
         TIMESTAMP '2026-01-01 00:00:00'
           + ((length(source) * 3) % 29 + 1) * INTERVAL 1 DAY AS valid_from,
         1 AS pri
  FROM src
  UNION ALL
  SELECT source, md5(source || '#v1b'),
         TIMESTAMP '2026-01-01 00:00:00', 1
  FROM src WHERE length(source) % 2 = 0
), allv AS (
  SELECT * FROM dim UNION ALL SELECT * FROM upd
), dedup AS (
  SELECT source, template_fp, valid_from FROM (
    SELECT *, row_number() OVER (PARTITION BY source, valid_from
                                 ORDER BY pri DESC) AS rn
    FROM allv
  ) WHERE rn = 1
)
SELECT source, template_fp,
       CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_epoch,
       CAST(floor(epoch(lead(valid_from) OVER (
            PARTITION BY source ORDER BY valid_from))) AS BIGINT) AS valid_to_epoch
FROM dedup
"""


def q40_late_data_windows(spark, sf_dir):
    """O-24 late-data semantics ON THE ORACLE PATH (round-2 verdict
    #1): tumbling 10-min windows per lang over a stream whose batches
    are deliberately permuted — rows with doc_id % 10 == 7 arrive in a
    final real batch AFTER the watermark passed most of their windows.

    The committed window contents therefore depend on the engine's
    actual late-drop behavior: a row is dropped iff its window is
    already finalized (window_end <= in-force watermark, the
    empirically validated Spark 4.1 model in oracle_stream.py).
    ORACLE_Q40 recomputes the batch timeline, the two-batch-lagged
    watermark, and the admit/drop decision per row in pure SQL — a
    regression in lateness handling now fails the driver's hash check
    instead of only pytest."""
    from ..sources.pages import stream_pages_files

    src = _late_stream_fixture(spark, sf_dir)
    pages = stream_pages_files(spark, src, 1)
    win = (
        pages.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "10 minutes").alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages", "total_chars")
    )
    out = _drain(win, spark)
    return out.where(
        F.col("window_start") < F.lit("2027-01-01").cast("timestamp")
    ).select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "lang",
        "n_pages",
        "total_chars",
    )


ORACLE_Q40 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), pos AS (
  SELECT *, row_number() OVER (ORDER BY doc_id) - 1 AS p_idx,
         count(*) OVER () AS n_rows
  FROM pages
), tagged AS (
  -- batch timeline mirror of _late_stream_fixture: 4 time-ordered
  -- on-time batches by position; doc_id mod 10 = 7 withheld to batch 4
  SELECT *, CASE WHEN doc_id % 10 = 7 THEN 4
                 ELSE CAST(p_idx // ((n_rows + 3) // 4) AS INT) END AS batch_id
  FROM pos
), bmax AS (
  SELECT batch_id, max(warc_ts) AS mx FROM tagged GROUP BY 1
), wm AS (
  -- watermark in force during batch k = max event time over batches
  -- 0..k-2 minus the 10-min delay (two-batch lag, oracle_stream.py)
  SELECT t.batch_id AS k,
         (SELECT max(mx) FROM bmax b WHERE b.batch_id <= t.batch_id - 2)
           - INTERVAL 10 MINUTE AS wm
  FROM (SELECT DISTINCT batch_id FROM tagged) t
), admitted AS (
  -- drop iff the row's window is already finalized: window_end <= wm
  SELECT g.* FROM tagged g JOIN wm ON wm.k = g.batch_id
  WHERE wm.wm IS NULL
     OR time_bucket(INTERVAL 10 minutes, g.warc_ts) + INTERVAL 10 minutes > wm.wm
)
SELECT CAST(floor(epoch(time_bucket(INTERVAL 10 minutes, warc_ts))) AS BIGINT) AS window_start_epoch,
       lang, count(*) AS n_pages, CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM admitted GROUP BY 1, 2
"""


def q41_scd2_cdc_deletes(spark, sf_dir):
    """SCD2 with CDC delete/tombstone records (round-2 verdict #5):
    real changelog ingestion has retractions, not only upserts.

    Per source (n = numeric suffix): v1 at t0; v2 upsert at t0 + (n%7
    + 1) days; even n gets a DELETE 3 days after v2 (history ends in a
    tombstone); n%4 == 0 gets a re-opening v3 upsert 7 days after v2
    (life after the tombstone); n%5 == 0 gets a delete AT the v2
    instant (same-instant conflict: delete beats upsert, so v2 never
    exists and v1 closes at that instant).  Exercises every rule in
    ``scd2_apply(op_col=...)``; ORACLE_Q41 mirrors the event algebra."""
    from ..operators.scd2 import scd2_apply

    src = _t(spark, sf_dir, "documents").select("source").distinct()
    t0 = F.lit("2026-01-01 00:00:00").cast("timestamp")
    nexpr = "CAST(substring(source, 4, 10) AS INT)"

    def at_days(days_sql: str):
        return F.expr(
            "timestamp '2026-01-01 00:00:00'"
            f" + make_interval(0, 0, 0, {days_sql}, 0, 0, 0)"
        )

    d1 = f"({nexpr} % 7 + 1)"
    nofp = F.lit(None).cast("string").alias("template_fp")
    dim = src.select(
        "source",
        F.md5(F.concat("source", F.lit("#v1"))).alias("template_fp"),
        t0.alias("valid_from"),
        F.lit(None).cast("timestamp").alias("valid_to"),
    )
    v2 = src.select(
        "source",
        F.md5(F.concat("source", F.lit("#v2"))).alias("template_fp"),
        at_days(d1).alias("valid_from"),
        F.lit("upsert").alias("op"),
    )
    del_after = src.where(F.expr(f"{nexpr} % 2 = 0")).select(
        "source", nofp, at_days(f"{d1} + 3").alias("valid_from"),
        F.lit("delete").alias("op"),
    )
    v3 = src.where(F.expr(f"{nexpr} % 4 = 0")).select(
        "source",
        F.md5(F.concat("source", F.lit("#v3"))).alias("template_fp"),
        at_days(f"{d1} + 7").alias("valid_from"),
        F.lit("upsert").alias("op"),
    )
    del_same = src.where(F.expr(f"{nexpr} % 5 = 0")).select(
        "source", nofp, at_days(d1).alias("valid_from"),
        F.lit("delete").alias("op"),
    )
    updates = v2.unionByName(del_after).unionByName(v3).unionByName(del_same)
    out = scd2_apply(dim, updates, ["source"], op_col="op")
    return out.select(
        "source",
        "template_fp",
        F.floor(F.unix_timestamp("valid_from")).cast("bigint").alias("valid_from_epoch"),
        F.floor(F.unix_timestamp("valid_to")).cast("bigint").alias("valid_to_epoch"),
    )


ORACLE_Q41 = """
WITH src AS (
  SELECT DISTINCT source, CAST(substr(source, 4) AS INT) AS n FROM documents
), ev AS (
  SELECT source, md5(source || '#v1') AS template_fp,
         TIMESTAMP '2026-01-01 00:00:00' AS valid_from, 0 AS pri, 'upsert' AS op
  FROM src
  UNION ALL
  SELECT source, md5(source || '#v2'),
         TIMESTAMP '2026-01-01 00:00:00' + (n % 7 + 1) * INTERVAL 1 DAY, 1, 'upsert'
  FROM src
  UNION ALL
  SELECT source, NULL,
         TIMESTAMP '2026-01-01 00:00:00' + (n % 7 + 4) * INTERVAL 1 DAY, 1, 'delete'
  FROM src WHERE n % 2 = 0
  UNION ALL
  SELECT source, md5(source || '#v3'),
         TIMESTAMP '2026-01-01 00:00:00' + (n % 7 + 8) * INTERVAL 1 DAY, 1, 'upsert'
  FROM src WHERE n % 4 = 0
  UNION ALL
  SELECT source, NULL,
         TIMESTAMP '2026-01-01 00:00:00' + (n % 7 + 1) * INTERVAL 1 DAY, 1, 'delete'
  FROM src WHERE n % 5 = 0
), dedup AS (
  SELECT source, template_fp, valid_from, op FROM (
    SELECT *, row_number() OVER (
        PARTITION BY source, valid_from
        ORDER BY pri DESC, CASE WHEN op = 'delete' THEN 1 ELSE 0 END DESC) AS rn
    FROM ev
  ) WHERE rn = 1
), closed AS (
  SELECT source, template_fp, op, valid_from,
         lead(valid_from) OVER (PARTITION BY source ORDER BY valid_from) AS valid_to
  FROM dedup
)
SELECT source, template_fp,
       CAST(floor(epoch(valid_from)) AS BIGINT) AS valid_from_epoch,
       CAST(floor(epoch(valid_to)) AS BIGINT) AS valid_to_epoch
FROM closed WHERE op <> 'delete'
"""


def q42_rate_limited_drain(spark, sf_dir):
    """O-2 production shape (round-2 verdict #6): the RATE-LIMITED
    stream on the correctness harness.  The north_star names a
    rate-limited Iceberg scan as the ingest shape; this drains the
    derived-pages corpus through ``stream_rate_limited_synthetic``
    (rate metronome inner-joined to the partition-parallel row index)
    into the exactly-once sink and returns the committed rows — which
    must equal the corpus EXACTLY (each index matched once, ledger
    commits atomic), so the oracle is simply the derived pages table.

    The rate source is unbounded: the query polls the sink ledger and
    stops once all rows are committed (wall-clock-bounded, outcome
    deterministic)."""
    import os
    import time

    from ..sources.pages import stream_rate_limited_synthetic, write_batch_files
    from ..streaming.pipeline import run_stream_to_sink
    from ..streaming.sink import ParquetLedgerSink

    pages, _ = _derived_pages_pandas(sf_dir)
    corpus_dir = _q_tmpdir("wrs-q-rate-c-")
    # several subfiles: the index job and the join scan parallelize
    write_batch_files([pages], corpus_dir, subfiles=4)
    src = stream_rate_limited_synthetic(
        spark, corpus_dir, rows_per_second=max(2000, len(pages))
    )
    sink = ParquetLedgerSink(_q_tmpdir("wrs-q-rate-s-"))
    q = run_stream_to_sink(
        src.select("url", "warc_ts", "lang", "text"),
        sink,
        _q_tmpdir("wrs-q-rate-ck-"),
        available_now=False,
    )
    n = len(pages)
    try:
        deadline = time.time() + 300
        done = 0
        while time.time() < deadline:
            done = sink.committed_rows()
            if done >= n:
                break
            time.sleep(0.5)
        else:
            # a partial drain would surface as a baffling oracle hash
            # mismatch; fail loudly as what it is — a harness timeout
            # (slow shared-VM window), not an exactly-once bug
            raise TimeoutError(
                f"rate-limited drain committed {done}/{n} rows in 300s"
            )
    finally:
        q.stop()
        q.awaitTermination(60)
    return sink.read_committed(spark).select(
        "url",
        F.unix_timestamp("warc_ts").alias("warc_ts_epoch"),
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
    )


ORACLE_Q42 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
)
SELECT url, CAST(floor(epoch(warc_ts)) AS BIGINT) AS warc_ts_epoch,
       lang, CAST(length(text) AS BIGINT) AS n_chars
FROM pages
"""


def q43_range_join_incidents(spark, sf_dir):
    """Range join (interval containment) as a first-class operator:
    every ``error`` event opens a 15-minute incident window for its
    user; count + sum the user's events inside each window.

    Runs through ``operators/joins.range_join_bucketed`` — the chunked
    equi-join strategy (quantize time, replicate intervals into
    overlapped chunks, equi-join on (user_id, chunk), exact-predicate
    post-filter) that replaces Spark's default BroadcastNestedLoopJoin
    plan for inequality joins.  bucket = the interval length, so the
    interval side replicates ~2x.  ORACLE_Q43 is the naive SQL range
    join — DuckDB's IEJoin handles it directly."""
    from ..operators.joins import range_join_bucketed

    ev = _t(spark, sf_dir, "events")
    incidents = ev.where(F.col("event_type") == "error").select(
        F.col("event_id").alias("incident_id"),
        F.col("user_id"),
        F.col("ts").alias("start_ts"),
        (F.col("ts") + F.expr("interval 15 minutes")).alias("end_ts"),
    )
    facts = ev.select("user_id", "ts", "value")
    hits = range_join_bucketed(
        facts, incidents, "ts", "start_ts", "end_ts",
        keys=["user_id"], bucket_seconds=900,
    )
    return hits.groupBy("incident_id").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.col("value").cast(DEC)).cast("double").alias("total_value"),
    )


ORACLE_Q43 = """
WITH inc AS (
  SELECT event_id AS incident_id, user_id, ts AS start_ts,
         ts + INTERVAL 15 MINUTE AS end_ts
  FROM events WHERE event_type = 'error'
)
SELECT incident_id, count(*) AS n_events,
       CAST(sum(CAST(value AS DECIMAL(18,2))) AS DOUBLE) AS total_value
FROM inc JOIN events e
  ON e.user_id = inc.user_id
 AND e.ts >= inc.start_ts
 AND e.ts < inc.end_ts
GROUP BY incident_id
"""


def q44_streaming_sliding_windows(spark, sf_dir):
    """O-18 streaming SLIDING windows on the oracle path (they were
    pytest-golden only through round 2): 10-min windows sliding every
    5 min per lang over the time-ordered derived stream, append mode,
    sentinel-pinned final watermark.  Every row contributes to exactly
    two windows; ORACLE_Q44 unnests the two window starts per row."""
    from ..sources.pages import stream_pages_files

    src = _q_tmpdir("wrs-q-slide-")
    from ..sources.pages import write_batch_files

    pages, _ = _derived_pages_pandas(sf_dir)
    write_batch_files(_split_batches(pages, 4), src)

    stream = stream_pages_files(spark, src, 1)
    win = (
        stream.withWatermark("warc_ts", "10 minutes")
        .groupBy(F.window("warc_ts", "10 minutes", "5 minutes").alias("w"), "lang")
        .agg(
            F.count(F.lit(1)).alias("n_pages"),
            F.sum(F.length("text")).cast("long").alias("total_chars"),
        )
        .select(F.col("w.start").alias("window_start"), "lang", "n_pages", "total_chars")
    )
    out = _drain(win, spark)
    # sliding windows STARTING up to 5 min before a sentinel still
    # contain it — cut at sentinel_ts - window size, far above any
    # real 2026 window
    return out.where(
        F.col("window_start") < F.lit("2026-12-31 23:50:00").cast("timestamp")
    ).select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "lang",
        "n_pages",
        "total_chars",
    )


ORACLE_Q44 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), contrib AS (
  SELECT lang, length(text) AS n_chars,
         unnest([time_bucket(INTERVAL 5 minutes, warc_ts),
                 time_bucket(INTERVAL 5 minutes, warc_ts) - INTERVAL 5 minutes]
         ) AS window_start
  FROM pages
)
SELECT CAST(floor(epoch(window_start)) AS BIGINT) AS window_start_epoch,
       lang, count(*) AS n_pages, CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM contrib GROUP BY 1, 2
"""


# ------------------------------------------------- corpus hygiene (round 3)

DECON_K = 4       # overlap n-gram size: small enough to fire on the
                  # fixture vocabulary, the knob a real pipeline tunes
DECON_MOD = 97    # doc_id % 97 == 0 -> held-out "benchmark" set


def _duck_doc_kgrams(col: str, k: int) -> str:
    """Per-line k-gram fragment — ``doc_shingles_expr`` for any k
    (``_DUCK_SHINGLES`` is the k=3 special case)."""
    return (
        f"flatten(list_transform(string_split({col}, chr(10)), "
        f"ln -> {_duck_kgrams('ln', k)}))"
    )


def q45_benchmark_decontamination(spark, sf_dir):
    """Benchmark decontamination — the eval-leakage gate every LLM
    training pipeline runs before a corpus ships: flag every training
    document sharing at least one k-gram with the held-out benchmark
    set (here: doc_id % 97 == 0, a deterministic stand-in for the
    benchmark suite).

    100-TB posture: the benchmark side is metadata-scale (eval suites
    are ~10^4 docs vs ~10^9 train docs), so its distinct-gram set is
    BROADCAST and the train side streams through a map-side semi join
    — the only shuffles are the distinct over matched (source, doc_id)
    pairs and the tiny per-source count."""
    docs = _t_wide(spark, sf_dir, "documents")
    is_eval = (F.col("doc_id") % DECON_MOD) == 0
    grams = F.array_distinct(doc_shingles_expr(F.col("text"), DECON_K))

    eval_grams = docs.where(is_eval).select(F.explode(grams).alias("g")).distinct()
    train = docs.where(~is_eval)
    train_grams = train.select("source", "doc_id", F.explode(grams).alias("g"))
    contaminated = (
        semi_join(train_grams, F.broadcast(eval_grams), train_grams.g == eval_grams.g)
        .select("source", "doc_id")
        .distinct()
        .groupBy("source")
        .agg(F.count(F.lit(1)).alias("n_contaminated"))
    )
    totals = train.groupBy("source").agg(F.count(F.lit(1)).alias("n_train"))
    return totals.join(contaminated, "source", "left").select(
        "source",
        "n_train",
        F.coalesce("n_contaminated", F.lit(0)).cast("long").alias("n_contaminated"),
    )


ORACLE_Q45 = f"""
WITH ev AS (
  SELECT DISTINCT unnest(list_distinct({_duck_doc_kgrams('text', DECON_K)})) AS g
  FROM documents WHERE doc_id % {DECON_MOD} = 0
), tr AS (
  SELECT source, doc_id, unnest(list_distinct({_duck_doc_kgrams('text', DECON_K)})) AS g
  FROM documents WHERE doc_id % {DECON_MOD} <> 0
), cont AS (
  SELECT source, count(DISTINCT doc_id) AS n_contaminated
  FROM tr WHERE g IN (SELECT g FROM ev) GROUP BY source
)
SELECT t.source, count(*) AS n_train,
       CAST(coalesce(max(cont.n_contaminated), 0) AS BIGINT) AS n_contaminated
FROM documents t LEFT JOIN cont ON t.source = cont.source
WHERE t.doc_id % {DECON_MOD} <> 0
GROUP BY t.source
"""


def q46_repetition_filters(spark, sf_dir):
    """Gopher-style repetition quality filters: per document, the
    fraction of tokens taken by the single most frequent token, the
    distinct-token ratio, and the fraction of bigrams taken by the
    most frequent bigram — plus the resulting keep/drop gate.

    One tagged-union explode (token grams and bigram grams in the same
    pass) -> count per (doc, kind, gram) -> conditional aggregate per
    doc.  Two linear shuffles, map-side partial aggregation on both;
    no per-doc data structure ever exceeds a scalar."""
    docs = _t_wide(spark, sf_dir, "documents")
    lines = F.split(F.col("text"), "\n", -1)
    toks = F.flatten(F.transform(lines, tokens_expr))
    bigr = F.flatten(F.transform(lines, lambda ln: kgram_windows_expr(tokens_expr(ln), 2)))
    grams = F.concat(
        F.transform(toks, lambda t: F.struct(F.lit(True).alias("is_tok"), t.alias("g"))),
        F.transform(bigr, lambda b: F.struct(F.lit(False).alias("is_tok"), b.alias("g"))),
    )
    exploded = docs.select("doc_id", F.explode(grams).alias("x")).select(
        "doc_id", F.col("x.is_tok").alias("is_tok"), F.col("x.g").alias("g")
    )
    g1 = exploded.groupBy("doc_id", "is_tok", "g").agg(F.count(F.lit(1)).alias("cnt"))
    stats = g1.groupBy("doc_id").agg(
        F.sum(F.when(F.col("is_tok"), F.col("cnt"))).cast("long").alias("n_tokens"),
        F.sum(F.when(F.col("is_tok"), 1).otherwise(0)).cast("long").alias("n_distinct"),
        F.max(F.when(F.col("is_tok"), F.col("cnt"))).cast("long").alias("top_tok"),
        F.max(F.when(~F.col("is_tok"), F.col("cnt"))).cast("long").alias("top_big"),
        F.sum(F.when(~F.col("is_tok"), F.col("cnt"))).cast("long").alias("n_bigrams"),
    )
    m = stats.select(
        "doc_id",
        "n_tokens",
        (F.col("top_tok").cast("double") / F.col("n_tokens").cast("double")).alias(
            "top_token_frac"
        ),
        (F.col("n_distinct").cast("double") / F.col("n_tokens").cast("double")).alias(
            "distinct_token_ratio"
        ),
        (F.col("top_big").cast("double") / F.col("n_bigrams").cast("double")).alias(
            "top_bigram_frac"
        ),
    )
    return m.withColumn(
        "keep",
        (F.col("top_token_frac") <= 0.1)
        & (F.col("distinct_token_ratio") >= 0.2)
        & (F.col("top_bigram_frac") <= 0.05),
    )


ORACLE_Q46 = f"""
WITH u AS (
  SELECT doc_id, true AS is_tok,
         unnest(flatten(list_transform(string_split(text, chr(10)),
                ln -> list_filter(string_split(ln, ' '), t -> t <> '')))) AS g
  FROM documents
  UNION ALL
  SELECT doc_id, false, unnest({_duck_doc_kgrams('text', 2)})
  FROM documents
), g1 AS (
  SELECT doc_id, is_tok, g, count(*) AS cnt FROM u GROUP BY 1, 2, 3
), s AS (
  SELECT doc_id,
         CAST(sum(CASE WHEN is_tok THEN cnt END) AS BIGINT) AS n_tokens,
         CAST(sum(CASE WHEN is_tok THEN 1 ELSE 0 END) AS BIGINT) AS n_distinct,
         max(CASE WHEN is_tok THEN cnt END) AS top_tok,
         max(CASE WHEN NOT is_tok THEN cnt END) AS top_big,
         CAST(sum(CASE WHEN NOT is_tok THEN cnt END) AS BIGINT) AS n_bigrams
  FROM g1 GROUP BY doc_id
)
SELECT doc_id, n_tokens,
       CAST(top_tok AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS top_token_frac,
       CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) AS distinct_token_ratio,
       CAST(top_big AS DOUBLE) / CAST(n_bigrams AS DOUBLE) AS top_bigram_frac,
       (CAST(top_tok AS DOUBLE) / CAST(n_tokens AS DOUBLE) <= CAST(0.1 AS DOUBLE)
        AND CAST(n_distinct AS DOUBLE) / CAST(n_tokens AS DOUBLE) >= CAST(0.2 AS DOUBLE)
        AND CAST(top_big AS DOUBLE) / CAST(n_bigrams AS DOUBLE) <= CAST(0.05 AS DOUBLE)
       ) AS keep
FROM s
"""


def q47_stratified_sample(spark, sf_dir):
    """Deterministic stratified sampling — reproducible corpus
    down-sampling without a shuffle: keep a document iff its portable
    60-bit hash bucket (md5-derived, engine-portable) falls under the
    per-language rate (en 50%, others 80%).

    The sample decision is a pure map-side expression of (doc_id,
    lang) — re-running on any cluster, any partitioning, any day gives
    the same sample (contrast ``df.sample``, whose output depends on
    partition layout).  The only shuffle is the final low-cardinality
    per-stratum audit aggregate."""
    docs = _t_wide(spark, sf_dir, "documents")  # per-text HOF hot path
    bucket = md5_i64_expr(F.col("doc_id").cast("string"), salt="strat#") % 10
    rate = F.when(F.col("lang") == "en", F.lit(5)).otherwise(F.lit(8))
    kept = bucket < rate
    return docs.groupBy("lang", "source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum(F.when(kept, 1).otherwise(0)).cast("long").alias("n_kept"),
        F.sum(F.when(kept, token_count_expr(F.col("text"))).otherwise(0))
        .cast("long")
        .alias("kept_tokens"),
    )


ORACLE_Q47 = f"""
WITH s AS (
  SELECT lang, source,
         len(list_filter(string_split(text, ' '), t -> t <> '')) AS n_tok,
         {duck_md5_i64("doc_id::VARCHAR", salt="strat#")} % 10
           < CASE WHEN lang = 'en' THEN 5 ELSE 8 END AS kept
  FROM documents
)
SELECT lang, source, count(*) AS n_docs,
       CAST(sum(CASE WHEN kept THEN 1 ELSE 0 END) AS BIGINT) AS n_kept,
       CAST(sum(CASE WHEN kept THEN n_tok ELSE 0 END) AS BIGINT) AS kept_tokens
FROM s GROUP BY 1, 2
"""


def q48_url_canonicalization(spark, sf_dir):
    """URL canonicalization + crawl-frontier dedup: every document
    appears under its canonical URL AND a deterministic messy variant
    (scheme case, www./m. subdomain, ?tracking query, #fragment,
    trailing slash); normalization must collapse the pair back to one
    canonical URL per page.

    Pure-Catalyst regexp chain (lowercase -> strip scheme -> strip
    www|m subdomain -> strip query/fragment -> strip trailing slash);
    the rollup groups by normalized host, reporting raw vs canonical
    URL counts (2:1 collapse proves the normalizer) plus the
    registrable domain."""
    docs = _t_wide(spark, sf_dir, "documents")  # per-row regexp chain
    base = F.concat(F.col("source"), F.lit(".example.com/p/"), F.col("doc_id").cast("string"))
    canonical_raw = F.concat(F.lit("https://"), base)
    m = F.col("doc_id") % 3
    variant = (
        F.when(m == 0, F.concat(F.lit("HTTP://WWW."), base, F.lit("?utm_source=feed")))
        .when(m == 1, F.concat(F.lit("https://m."), base, F.lit("/")))
        .otherwise(F.concat(F.lit("HTTPS://"), base, F.lit("#ref")))
    )
    urls = docs.select(F.explode(F.array(canonical_raw, variant)).alias("url"))
    u = F.lower(F.col("url"))
    u = F.regexp_replace(u, "^https?://", "")
    u = F.regexp_replace(u, "^(www|m)\\.", "")
    u = F.regexp_replace(u, "[?#].*$", "")
    u = F.regexp_replace(u, "/+$", "")
    canon = urls.select(u.alias("canonical")).select(
        F.regexp_extract("canonical", "^([^/]+)", 1).alias("host"), "canonical"
    )
    agg = canon.groupBy("host").agg(
        F.count(F.lit(1)).alias("n_raw_urls"),
        F.countDistinct("canonical").alias("n_canonical_urls"),
    )
    return agg.select(
        "host",
        F.regexp_extract("host", "([^.]+\\.[^.]+)$", 1).alias("registrable"),
        "n_raw_urls",
        "n_canonical_urls",
    )


ORACLE_Q48 = """
WITH urls AS (
  SELECT unnest([
    'https://' || source || '.example.com/p/' || doc_id,
    CASE doc_id % 3
      WHEN 0 THEN 'HTTP://WWW.' || source || '.example.com/p/' || doc_id || '?utm_source=feed'
      WHEN 1 THEN 'https://m.' || source || '.example.com/p/' || doc_id || '/'
      ELSE 'HTTPS://' || source || '.example.com/p/' || doc_id || '#ref'
    END]) AS url
  FROM documents
), norm AS (
  SELECT regexp_replace(regexp_replace(regexp_replace(regexp_replace(
           lower(url), '^https?://', ''), '^(www|m)\\.', ''),
           '[?#].*$', ''), '/+$', '') AS canonical
  FROM urls
)
SELECT regexp_extract(canonical, '^([^/]+)', 1) AS host,
       regexp_extract(regexp_extract(canonical, '^([^/]+)', 1),
                      '([^.]+\\.[^.]+)$', 1) AS registrable,
       count(*) AS n_raw_urls,
       count(DISTINCT canonical) AS n_canonical_urls
FROM norm GROUP BY 1, 2
"""


def q49_hll_distinct_users(spark, sf_dir):
    """Approximate distinct via the PORTABLE HyperLogLog sketch
    (``functions/sketches.py``): every output bit engine-exact, so the
    sketch itself sits on the driver's hash-compared oracle —
    something Spark's black-box ``approx_count_distinct`` cannot do.

    100-TB posture: register maxes combine map-side and the shuffle is
    bounded at m=256 rows per group per partition regardless of input
    size — THE sketch property that makes distinct-count feasible at
    scale.  Accuracy (raw estimate within HLL's ~1.04/sqrt(m) band of
    exact) is asserted in pytest."""
    from ..functions.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    return hll_distinct(ev, ["event_type"], "user_id")


def _oracle_q49() -> str:
    from ..functions.sketches import duck_hll_sql

    return duck_hll_sql("events", ["event_type"], "user_id")


def q50_incremental_dedup(spark, sf_dir):
    """Incremental crawl dedup: a NEW batch (odd doc_ids) is gated
    against the PRIOR corpus index (even doc_ids) by winnowing rolling
    fingerprint (q32's operator) — the pattern a continuously-crawling
    pipeline runs on every ingest: fingerprint the increment, anti-join
    the accumulated index, admit only novel docs.

    One shuffle on the fixed-width fingerprint (never on text); the
    index side would be the accumulated fingerprint table at scale."""
    from ..functions.text import rolling_fingerprint_md5_expr

    docs = _t_wide(spark, sf_dir, "documents")
    fp = docs.select(
        "doc_id", "source", rolling_fingerprint_md5_expr(F.col("text")).alias("fp")
    )
    prior = (
        fp.where(F.col("doc_id") % 2 == 0)
        .select(F.col("fp").alias("prior_fp"))
        .distinct()
    )
    new = fp.where(F.col("doc_id") % 2 == 1)
    j = new.join(prior, F.col("fp") == F.col("prior_fp"), "left")
    seen = F.when(F.col("prior_fp").isNotNull(), 1).otherwise(0)
    return j.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_new"),
        F.sum(seen).cast("long").alias("n_seen"),
        (F.count(F.lit(1)) - F.sum(seen)).cast("long").alias("n_novel"),
    )


ORACLE_Q50 = f"""
WITH fp AS (
  SELECT doc_id, source,
         list_min(list_transform({_duck_kgrams("text", 5)}, w -> md5(w))) AS fp
  FROM documents
), prior AS (
  SELECT DISTINCT fp FROM fp WHERE doc_id % 2 = 0
), new AS (
  SELECT doc_id, source, fp,
         CASE WHEN fp IN (SELECT fp FROM prior) THEN 1 ELSE 0 END AS seen
  FROM fp WHERE doc_id % 2 = 1
)
SELECT source, count(*) AS n_new,
       CAST(sum(seen) AS BIGINT) AS n_seen,
       CAST(count(*) - sum(seen) AS BIGINT) AS n_novel
FROM new GROUP BY source
"""


def q51_trending_tokens(spark, sf_dir):
    """Windowed heavy hitters: top-3 tokens per hour of crawl time
    (hour = the derived-pages timeline, doc_id*47 s), deterministic
    tie-break (count desc, token asc) — the trending-terms rollup a
    corpus-monitoring dashboard runs.

    Token explode -> one (hour, token) count shuffle with map-side
    combine -> per-hour top-k window over the already-aggregated
    counts (rank input is #distinct tokens per hour, not raw
    tokens)."""
    docs = _t_wide(spark, sf_dir, "documents")
    hour = F.expr("CAST((doc_id * 47) DIV 3600 AS BIGINT)")
    toks = docs.select(
        hour.alias("hour_id"),
        F.explode(
            F.flatten(F.transform(F.split(F.col("text"), "\n", -1), tokens_expr))
        ).alias("token"),
    )
    counts = toks.groupBy("hour_id", "token").agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("hour_id").orderBy(F.col("n").desc(), F.col("token").asc())
    return (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("hour_id", "rank", "token", "n")
    )


ORACLE_Q51 = """
WITH toks AS (
  SELECT (doc_id * 47) // 3600 AS hour_id,
         unnest(flatten(list_transform(string_split(text, chr(10)),
                ln -> list_filter(string_split(ln, ' '), t -> t <> '')))) AS token
  FROM documents
), counts AS (
  SELECT hour_id, token, count(*) AS n FROM toks GROUP BY 1, 2
)
SELECT hour_id, rank, token, n FROM (
  SELECT hour_id, token, n,
         CAST(row_number() OVER (PARTITION BY hour_id ORDER BY n DESC, token ASC) AS INT) AS rank
  FROM counts
) WHERE rank <= 3
"""


POISON_MOD = 41  # doc_id % 41 == 0 pages get a NULL html payload


def q52_streaming_quarantine(spark, sf_dir):
    """SURVEY §2.8 error/quarantine contract on the driver's oracle
    (it was pytest-only through round 3 start): derived pages where
    every ``doc_id % 41 == 0`` payload is POISONED (NULL html) stream
    through the production decode -> clean -> tag pipeline
    (``build_decode_clean_stream``) into the quarantine-aware
    exactly-once sink; the query returns every page's ROUTING.

    A poison page must degrade to a quarantine record — committed
    under the same ledger line as the data rows, exactly-once — never
    kill the query and never leak into data/.  Routing is a pure
    function of doc_id, so the oracle is one CASE expression over the
    derived-pages CTE; the hash compare fails if even one row is
    routed (or duplicated, or dropped) wrongly.  Content equality of
    the cleaned rows is q27's job; this query pins the error contract."""
    from ..operators.extract import mine_masks
    from ..sources.pages import write_batch_files
    from ..streaming.pipeline import build_decode_clean_stream, run_stream_to_sink
    from ..streaming.sink import ParquetLedgerSink

    pages, _ = _derived_pages_pandas(sf_dir)
    pages = pages.copy()
    doc_ids = pages["url"].str.rsplit("/p/", n=1).str[-1].astype(int)
    pages.loc[(doc_ids % POISON_MOD == 0).values, "html"] = None

    src = _q_tmpdir("wrs-q-quar-src-")
    # no sentinels: the cleaned stream has no windowed agg — dedup
    # emits rows on arrival, so the full corpus lands without pinning
    write_batch_files(_split_batches(pages, 4, sentinels=False), src)
    masks = mine_masks(spark.createDataFrame(pages))

    cleaned = build_decode_clean_stream(spark, src, masks)
    sink = ParquetLedgerSink(_q_tmpdir("wrs-q-quar-sink-"), quarantine_col="error")
    q = run_stream_to_sink(cleaned, sink, _q_tmpdir("wrs-q-quar-ck-"))
    q.awaitTermination(600)

    good = sink.read_committed(spark).select("url", F.lit("data").alias("routed"))
    bad = sink.read_quarantined(spark).select(
        "url", F.lit("quarantine").alias("routed")
    )
    return good.unionByName(bad)


ORACLE_Q52 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
)
SELECT url,
       CASE WHEN doc_id % {POISON_MOD} = 0 THEN 'quarantine' ELSE 'data' END AS routed
FROM pages
"""


def q53_streaming_windowed_hll(spark, sf_dir):
    """STREAMING windowed approximate-distinct urls per (10-min
    window, lang) via the portable HLL — chained stateful
    aggregations, state bounded at m=256 register rows per group (the
    property that makes windowed distinct feasible on an unbounded
    stream), every output bit oracle-exact.

    Spark's own streaming options are count(*) (not distinct) or
    ``approx_count_distinct`` (black-box, un-checkable); this is the
    engine's answer: sketch in the stream, verify against batch SQL.
    Same sentinel-pinned derived stream as q27; HLL register max is
    idempotent, so the batch oracle needs no dedup step."""
    from ..functions.sketches import hll_windowed_stream
    from ..sources.pages import stream_pages_files

    src, _ = _derived_stream_fixture(spark, sf_dir)
    stream = stream_pages_files(spark, src, 1)
    out = _drain(hll_windowed_stream(stream, "url"), spark)
    return out.where(
        F.col("window_start") < F.lit("2027-01-01").cast("timestamp")
    ).select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "lang",
        "register_scale_sum",
        "empty_registers",
        "estimate_raw",
    )


def _oracle_q53() -> str:
    from ..functions.sketches import A_SCALED, K, M_REGISTERS, P

    hv = "(('0x' || substr(md5('hll#' || url), 1, 15))::BIGINT)"
    return f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), br AS (
  SELECT CAST(floor(epoch(warc_ts) / 600) AS BIGINT) * 600 AS ws, lang,
         {hv} & {M_REGISTERS - 1} AS b,
         CASE WHEN ({hv} >> {P}) = 0 THEN {K}
              ELSE {K} - length(bin({hv} >> {P})) END AS r
  FROM pages
  WHERE url IS NOT NULL
), regs AS (
  SELECT ws, lang, b, max(r) AS m FROM br GROUP BY 1, 2, 3
), agg AS (
  SELECT ws, lang,
         CAST(sum(1::BIGINT << ({K} - m)) AS BIGINT) AS s_present,
         count(*) AS n_present
  FROM regs GROUP BY 1, 2
)
SELECT ws AS window_start_epoch, lang,
       CAST(s_present + ({M_REGISTERS} - n_present) * (1::BIGINT << {K}) AS BIGINT)
         AS register_scale_sum,
       CAST({M_REGISTERS} - n_present AS BIGINT) AS empty_registers,
       CAST({A_SCALED!r} AS DOUBLE)
         / CAST(s_present + ({M_REGISTERS} - n_present) * (1::BIGINT << {K}) AS DOUBLE)
         AS estimate_raw
FROM agg
"""


def q54_bloom_join_pruning(spark, sf_dir):
    """Runtime-filter join pruning with a portable Bloom filter: the
    build side (a deterministic 'suspended users' set, user_id % 7 ==
    0) folds into a 4-long bitmap; the probe side (all
    events) is pre-filtered MAP-SIDE by the inlined-literal membership
    predicate — zero shuffle, zero Python — and only candidates reach
    the exact semi join.

    Per event_type the query reports probe size, bloom candidates and
    exact hits; candidates > hits at sf0.01 (4 FP users of 150 by
    design — BF_BITS deliberately small so the oracle must reproduce
    the false positives, not just the happy path).  The oracle
    recomputes the bitmap and membership in SQL; one divergent bit
    anywhere flips a count and fails the hash."""
    from ..functions.bloom import (
        BF_K,
        bloom_build_words,
        bloom_member_expr,
        bloom_position_exprs,
    )

    ev = _t(spark, sf_dir, "events")
    build = ev.where(F.col("user_id") % 7 == 0).select("user_id").distinct()
    words = bloom_build_words(build, "user_id")

    probe = ev.select(
        "event_type",
        "user_id",
        *bloom_position_exprs(F.col("user_id").cast("string")),
    ).withColumn(
        "bloom_pass", bloom_member_expr(words, [f"p{i}" for i in range(BF_K)])
    )
    totals = probe.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n_events"),
        F.sum(F.when(F.col("bloom_pass"), 1).otherwise(0))
        .cast("long")
        .alias("n_bloom_candidates"),
    )
    cand = probe.where(F.col("bloom_pass"))
    bkeys = build.select(F.col("user_id").alias("__bu"))
    exact = (
        semi_join(cand, F.broadcast(bkeys), cand.user_id == F.col("__bu"))
        .groupBy("event_type")
        .agg(F.count(F.lit(1)).alias("n_exact_hits"))
    )
    return totals.join(exact, "event_type", "left").select(
        "event_type",
        "n_events",
        "n_bloom_candidates",
        F.coalesce("n_exact_hits", F.lit(0)).cast("long").alias("n_exact_hits"),
    )


def _oracle_q54() -> str:
    from ..functions.bloom import BF_BITS, duck_bloom_ctes

    h = lambda i: (  # noqa: E731
        f"(('0x' || substr(md5('bf{i}#' || user_id::VARCHAR), 1, 15))::BIGINT)"
        f" % {BF_BITS}"
    )
    words = duck_bloom_ctes(
        "SELECT DISTINCT user_id::VARCHAR AS k FROM events WHERE user_id % 7 = 0",
        "k",
    )
    return f"""
WITH words AS (
{words}
), probe AS (
  SELECT event_type, user_id, {h(0)} AS p0, {h(1)} AS p1 FROM events
), m AS (
  SELECT pr.event_type, pr.user_id, pr.p0, pr.p1,
         coalesce(w0.bits, 0::UBIGINT) AS b0, coalesce(w1.bits, 0::UBIGINT) AS b1
  FROM probe pr
  LEFT JOIN words w0 ON w0.w = pr.p0 // 64
  LEFT JOIN words w1 ON w1.w = pr.p1 // 64
), flags AS (
  SELECT event_type,
         ((b0 >> CAST(p0 % 64 AS INT)) & 1::UBIGINT) = 1::UBIGINT
         AND ((b1 >> CAST(p1 % 64 AS INT)) & 1::UBIGINT) = 1::UBIGINT AS bloom_pass,
         user_id % 7 = 0 AS exact_member
  FROM m
)
SELECT event_type, count(*) AS n_events,
       CAST(sum(CASE WHEN bloom_pass THEN 1 ELSE 0 END) AS BIGINT) AS n_bloom_candidates,
       CAST(sum(CASE WHEN bloom_pass AND exact_member THEN 1 ELSE 0 END) AS BIGINT) AS n_exact_hits
FROM flags GROUP BY event_type
"""


def q55_user_event_features(spark, sf_dir):
    """Analytic window-function family on the oracle (lag, running
    row_number, bounded moving frame, ntile) — the per-entity sequence
    features an events pipeline derives before modeling.

    Determinism contract: every window ORDER BY carries a unique
    tie-break (event_id); the moving sum runs in DECIMAL inside the
    frame (Spark's sliding-sum may use removable aggregation —
    add/subtract — which is NOT float-safe; decimal is associative and
    exact, cast to double once at the end).  Gap uses whole-second
    epochs on both engines.  One shuffle per window partitioning."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wq = Window.partitionBy("event_type").orderBy(F.col("value"), F.col("event_id"))
    e = F.unix_timestamp("ts")
    return ev.select(
        "user_id",
        "event_id",
        F.row_number().over(w).cast("long").alias("seq"),
        F.coalesce(e - F.unix_timestamp(F.lag("ts", 1).over(w)), F.lit(-1))
        .cast("long")
        .alias("gap_sec"),
        F.sum(F.col("value").cast(DEC))
        .over(w.rowsBetween(-2, 0))
        .cast("double")
        .alias("mov_sum3"),
        F.ntile(4).over(wq).alias("value_quartile"),
    )


ORACLE_Q55 = """
SELECT user_id, event_id,
       CAST(row_number() OVER w AS BIGINT) AS seq,
       coalesce(
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT), 1) OVER w,
         -1) AS gap_sec,
       CAST(sum(CAST(value AS DECIMAL(18,2)))
              OVER (w ROWS BETWEEN 2 PRECEDING AND CURRENT ROW) AS DOUBLE)
         AS mov_sum3,
       CAST(ntile(4) OVER (PARTITION BY event_type ORDER BY value, event_id) AS INT)
         AS value_quartile
FROM events
WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
"""


def q56_grouping_sets(spark, sf_dir):
    """Explicit GROUPING SETS with grouping_id — the third member of
    the grouping family (q06 rollup, q30 cube): exactly the requested
    aggregation levels, nothing more, computed in ONE pass (Catalyst
    Expand), with grouping_id disambiguating a real NULL group value
    from a super-aggregate row.  Declared via spark.sql on a temp view
    — the SQL surface is a first-class entry point of this engine."""
    _t(spark, sf_dir, "orders").createOrReplaceTempView("__orders_gs")
    return spark.sql(
        f"""
        SELECT o_orderstatus AS status, o_orderpriority AS priority,
               CAST(grouping_id(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
               count(*) AS n_orders,
               CAST(sum(CAST(o_totalprice AS {DEC})) AS DOUBLE) AS total_price
        FROM __orders_gs
        GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority),
                                (o_orderstatus), ())
        """
    )


ORACLE_Q56 = """
SELECT o_orderstatus AS status, o_orderpriority AS priority,
       CAST(grouping(o_orderstatus, o_orderpriority) AS BIGINT) AS gid,
       count(*) AS n_orders,
       CAST(sum(CAST(o_totalprice AS DECIMAL(18,2))) AS DOUBLE) AS total_price
FROM orders
GROUP BY GROUPING SETS ((o_orderstatus, o_orderpriority), (o_orderstatus), ())
"""


MEGA_DOMAIN = "mega.example.com"
MEGA_MOD, MEGA_LT = 5, 2  # doc_id % 5 < 2 -> ~40% of pages on one domain


def _skewed_pages_pandas(sf_dir: str):
    """Derived pages with a deliberate MEGA-DOMAIN: every doc with
    doc_id % 5 < 2 (~40% of the corpus) is re-homed to one domain — the
    skew shape the north_star names ('skewed mega-domains ... salted
    repartition before the windowed hash-aggregate').  A pure function
    of doc_id, so ORACLE_Q57 reconstructs it in SQL.  The ≥30% skew
    share is asserted in tests/test_skew_stream.py."""
    pages, max_doc = _derived_pages_pandas(sf_dir)
    doc_id = pages["url"].str.rsplit("/p/", n=1).str[-1].astype(int)
    mega = (doc_id % MEGA_MOD < MEGA_LT).values
    pages = pages.copy()
    pages.loc[mega, "url"] = (
        f"https://{MEGA_DOMAIN}/p/" + doc_id[mega].astype(str)
    )
    return pages, max_doc


def q57_streaming_salted_windows(spark, sf_dir):
    """O-21 STREAMING form on the driver's oracle (pytest-row-exact
    only through round 3; round-3 verdict #4): the skewed derived
    stream — one mega-domain holding ~40% of all rows — drains through
    ``salted_window_domain_agg_stream``: chained stateful aggregations
    where the partial agg keys (window, domain, salt) split the
    mega-domain's rows across 8 state partitions and the final agg
    merges the ≤8 partials per (window, domain).

    At 1000 executors the unsalted plan sends 40% of the corpus
    through ONE state-store task every trigger; the salted plan's
    second shuffle moves only #groups × salt rows.  Semantics are
    salt-invariant, so the oracle is the plain windowed GROUP BY."""
    from ..operators.extract import with_domain
    from ..operators.skew import salted_window_domain_agg_stream
    from ..sources.pages import stream_pages_files, write_batch_files

    pages, _ = _skewed_pages_pandas(sf_dir)
    src = _q_tmpdir("wrs-q-salt-")
    write_batch_files(_split_batches(pages, 4), src)
    stream = with_domain(stream_pages_files(spark, src, 1))
    out = _drain(
        salted_window_domain_agg_stream(stream, salt_buckets=8, text_col="text"),
        spark,
    )
    return out.where(F.col("domain") != SENTINEL_DOMAIN).select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "domain",
        "n_pages",
        "total_chars",
    )


ORACLE_Q57 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), sk AS (
  SELECT CASE WHEN doc_id % {MEGA_MOD} < {MEGA_LT}
              THEN '{MEGA_DOMAIN}' ELSE domain END AS domain,
         warc_ts, text
  FROM pages
)
SELECT epoch(time_bucket(INTERVAL 10 minutes, warc_ts))::BIGINT AS window_start_epoch,
       domain, count(*) AS n_pages,
       CAST(sum(length(text)) AS BIGINT) AS total_chars
FROM sk GROUP BY 1, 2
"""


def q58_compaction_roundtrip(spark, sf_dir):
    """O-6 sink MAINTENANCE on the driver's oracle (round-3 verdict
    #5: ledger-accounting bugs in compaction/vacuum are exactly-once
    killers at 10^12-doc scale and were pytest-only): the derived
    corpus streams into the exactly-once sink across TWO generations —
    drain 3 micro-batches, compact, append 3 more files, resume from
    the SAME checkpoint, compact again, vacuum the superseded batch
    dirs — and the surviving committed view must still equal the input
    corpus row-for-row (ORACLE = the derived pages table, q42 shape).

    Fail-loud invariants inside the query (a silent maintenance no-op
    must turn this row red, not quietly pass): exactly 2 committed
    compaction generations, vacuum removed at least one superseded
    batch dir, and data/ holds no leftover batch dirs afterwards."""
    import os

    from ..sources.pages import stream_pages_files, write_batch_files
    from ..streaming.pipeline import run_stream_to_sink
    from ..streaming.sink import ParquetLedgerSink

    pages, _ = _derived_pages_pandas(sf_dir)
    # no sentinels: a passthrough stream has no windowed agg to pin
    batches = _split_batches(pages, 6, sentinels=False)
    src = _q_tmpdir("wrs-q-cpt-src-")
    ck = _q_tmpdir("wrs-q-cpt-ck-")
    sink = ParquetLedgerSink(_q_tmpdir("wrs-q-cpt-sink-"))

    def drain_available():
        stream = stream_pages_files(spark, src, 1).select(
            "url", "warc_ts", "lang", "text"
        )
        q = run_stream_to_sink(stream, sink, ck)
        q.awaitTermination(600)

    write_batch_files(batches[:3], src)
    drain_available()
    rec1 = sink.compact(spark)
    write_batch_files(batches[3:], src, start_index=3)
    drain_available()  # checkpoint resume: only the new files replay
    rec2 = sink.compact(spark)
    removed = sink.vacuum(tmp_min_age_sec=0.0)

    gens = sink.compactions()
    if rec1 is None or rec2 is None or len(gens) != 2:
        raise RuntimeError(
            f"expected 2 compaction generations, got {len(gens)} "
            f"(rec1={rec1 is not None}, rec2={rec2 is not None})"
        )
    if not any(f"{os.sep}batch_id=" in p for p in removed):
        raise RuntimeError("vacuum removed no superseded batch dirs")
    leftover = [d for d in os.listdir(sink.data_dir) if d.startswith("batch_id=")]
    if leftover:
        raise RuntimeError(f"superseded batch dirs survived vacuum: {leftover}")

    return sink.read_committed(spark).select(
        "url",
        F.unix_timestamp("warc_ts").alias("warc_ts_epoch"),
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
    )


# same exactness contract as q42: maintenance must not add, drop, or
# duplicate a single row of the committed view
ORACLE_Q58 = ORACLE_Q42


def q59_sink_time_travel(spark, sf_dir):
    """TIME-TRAVEL read on the exactly-once sink (the Iceberg
    snapshot-read analog, O-26 depth): the derived corpus streams in 4
    micro-batches, then ``read_committed(as_of_batch=1)`` returns
    exactly the rows committed as of batch 1 — the first two batch
    slices, a pure prefix of the doc_id-ordered corpus, so the oracle
    is a row_number window over the derived pages.

    Fail-loud invariant: the as-of view must be a strict subset of the
    final view (a time-travel read that sees later batches is an
    isolation bug).  Vacuum-pruned history raising is pytest-covered
    (tests/test_streaming_extras.py)."""
    from ..sources.pages import stream_pages_files, write_batch_files
    from ..streaming.pipeline import run_stream_to_sink
    from ..streaming.sink import ParquetLedgerSink

    pages, _ = _derived_pages_pandas(sf_dir)
    batches = _split_batches(pages, 4, sentinels=False)
    src = _q_tmpdir("wrs-q-tt-src-")
    write_batch_files(batches, src)
    sink = ParquetLedgerSink(_q_tmpdir("wrs-q-tt-sink-"))
    q = run_stream_to_sink(
        stream_pages_files(spark, src, 1).select("url", "warc_ts", "lang", "text"),
        sink,
        _q_tmpdir("wrs-q-tt-ck-"),
    )
    q.awaitTermination(600)

    asof = sink.read_committed(spark, as_of_batch=1)
    n_asof, n_full = asof.count(), sink.read_committed(spark).count()
    if not (0 < n_asof < n_full):
        raise RuntimeError(
            f"as-of view must be a strict non-empty subset: {n_asof}/{n_full}"
        )
    return asof.select(
        "url",
        F.unix_timestamp("warc_ts").alias("warc_ts_epoch"),
        "lang",
        F.length("text").cast("bigint").alias("n_chars"),
    )


# batches 0..3 are ceil(N/4)-row slices in doc_id order; as-of batch 1
# = the first 2*ceil(N/4) rows
ORACLE_Q59 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), ranked AS (
  SELECT url, warc_ts, lang, text,
         row_number() OVER (ORDER BY doc_id) AS rn,
         count(*) OVER () AS n
  FROM pages
)
SELECT url, CAST(floor(epoch(warc_ts)) AS BIGINT) AS warc_ts_epoch,
       lang, CAST(length(text) AS BIGINT) AS n_chars
FROM ranked WHERE rn <= 2 * ceil(n / 4.0)
"""


PII_EMAIL_MOD = 7    # doc_id % 7 == 0 pages get an injected email
PII_PHONE_MOD = 11   # doc_id % 11 == 0 pages get an injected phone
# character classes only — identical semantics in Java regex (Spark)
# and RE2 (DuckDB); no lookaround, no \\b
PII_EMAIL_RE = "[A-Za-z0-9_.]+@[A-Za-z0-9.]+[.][A-Za-z]+"
PII_PHONE_RE = "[+][0-9]{1,2}-[0-9]{3}-[0-9]{4,}"


def q60_pii_redaction(spark, sf_dir):
    """PII scrubbing — the corpus-hygiene step every training-data
    pipeline runs before tokenization: regexp-redact emails and phone
    numbers, report per-source counts and the redacted-text length.

    The derived corpus is synthetic words (zero organic PII), so PII is
    INJECTED as a pure function of doc_id (doc_id%7==0 -> an email,
    doc_id%11==0 -> a phone) and the oracle re-derives both injection
    and redaction in SQL — non-vacuity is structural, not luck.  Pure
    Catalyst (regexp_count/regexp_replace): map-side, one final
    aggregation shuffle; patterns are class-only so Java regex and RE2
    agree byte-for-byte."""
    docs = _t_wide(spark, sf_dir, "documents")
    doc_id = F.col("doc_id")
    text = F.concat(
        F.col("text"),
        F.when(
            doc_id % PII_EMAIL_MOD == 0,
            F.concat(F.lit(" contact user"), doc_id.cast("string"), F.lit("@example.org")),
        ).otherwise(F.lit("")),
        F.when(
            doc_id % PII_PHONE_MOD == 0,
            F.concat(F.lit(" call +1-555-"), F.lpad(doc_id.cast("string"), 4, "0")),
        ).otherwise(F.lit("")),
    )
    redacted = F.regexp_replace(
        F.regexp_replace(text, PII_EMAIL_RE, "<EMAIL>"),
        PII_PHONE_RE,
        "<PHONE>",
    )
    per_doc = docs.select(
        "source",
        F.regexp_count(text, F.lit(PII_EMAIL_RE)).alias("n_em"),
        F.regexp_count(text, F.lit(PII_PHONE_RE)).alias("n_ph"),
        F.length(redacted).alias("len_red"),
    )
    return per_doc.groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("n_em").cast("long").alias("n_emails_redacted"),
        F.sum("n_ph").cast("long").alias("n_phones_redacted"),
        F.sum("len_red").cast("long").alias("total_redacted_chars"),
    )


ORACLE_Q60 = f"""
WITH injected AS (
  SELECT source,
         text
           || CASE WHEN doc_id % {PII_EMAIL_MOD} = 0
                   THEN ' contact user' || doc_id || '@example.org' ELSE '' END
           || CASE WHEN doc_id % {PII_PHONE_MOD} = 0
                   THEN ' call +1-555-' || lpad(doc_id::VARCHAR, 4, '0') ELSE '' END
           AS text
  FROM documents
), per_doc AS (
  SELECT source,
         len(regexp_extract_all(text, '{PII_EMAIL_RE}')) AS n_em,
         len(regexp_extract_all(text, '{PII_PHONE_RE}')) AS n_ph,
         length(regexp_replace(regexp_replace(text, '{PII_EMAIL_RE}', '<EMAIL>', 'g'),
                               '{PII_PHONE_RE}', '<PHONE>', 'g')) AS len_red
  FROM injected
)
SELECT source, count(*) AS n_docs,
       CAST(sum(n_em) AS BIGINT) AS n_emails_redacted,
       CAST(sum(n_ph) AS BIGINT) AS n_phones_redacted,
       CAST(sum(len_red) AS BIGINT) AS total_redacted_chars
FROM per_doc GROUP BY source
"""


def q61_distinctive_terms(spark, sf_dir):
    """Per-document distinctive-term extraction (the TF-IDF family's
    keyword step): top-3 tokens per doc ranked by term frequency desc,
    document frequency asc, token asc.  The ordering is INTEGER-exact —
    no ln() idf float whose last-ulp behavior is libm-specific — so the
    whole ranking sits on the hash-compared oracle.

    Two shuffles total: (doc, token) tf counts (map-side combinable)
    and token df over the distinct pairs; df joins back on the
    fixed-width token key; the final top-k windows over already
    aggregated (doc, token) rows, never raw tokens."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id",
        F.explode(
            F.flatten(F.transform(F.split(F.col("text"), "\n", -1), tokens_expr))
        ).alias("token"),
    )
    tf = toks.groupBy("doc_id", "token").agg(F.count(F.lit(1)).alias("tf"))
    df_ = tf.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    w = Window.partitionBy("doc_id").orderBy(
        F.col("tf").desc(), F.col("df").asc(), F.col("token").asc()
    )
    return (
        tf.join(df_, "token")
        .withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .select("doc_id", "rank", "token", "tf", "df")
    )


ORACLE_Q61 = """
WITH toks AS (
  SELECT doc_id,
         unnest(flatten(list_transform(string_split(text, chr(10)),
                ln -> list_filter(string_split(ln, ' '), t -> t <> '')))) AS token
  FROM documents
), tf AS (
  SELECT doc_id, token, count(*) AS tf FROM toks GROUP BY 1, 2
), df AS (
  SELECT token, count(*) AS df FROM tf GROUP BY 1
)
SELECT doc_id, rank, token, tf, df FROM (
  SELECT tf.doc_id, tf.token, tf.tf, df.df,
         CAST(row_number() OVER (PARTITION BY tf.doc_id
              ORDER BY tf.tf DESC, df.df ASC, tf.token ASC) AS INT) AS rank
  FROM tf JOIN df USING (token)
) WHERE rank <= 3
"""


def _q62_edges(docs: DataFrame, min_shared: int = 3) -> DataFrame:
    """Near-dup candidate edges: doc pairs sharing >= min_shared distinct
    non-ubiquitous shingles (global df < 10% of the corpus — the
    boilerplate prune, integer-compared as 10*df < n so no float
    threshold can diverge).  Same shuffle shape as q16: explode once,
    df-prune, self-equi-join on the shared shingle — never all-pairs."""
    shings = docs.select(
        "doc_id",
        F.explode(F.array_distinct(doc_shingles_expr(F.col("text")))).alias("shingle"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    dfq = shings.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
    kept = (
        shings.join(dfq, "shingle")
        .crossJoin(F.broadcast(n_docs))
        .where(10 * F.col("df") < F.col("n"))
        .select("doc_id", "shingle")
        .localCheckpoint(eager=True)
    )
    a = kept.select("shingle", F.col("doc_id").alias("src"))
    b = kept.select("shingle", F.col("doc_id").alias("dst"))
    return (
        a.join(b, "shingle")
        .where(F.col("src") < F.col("dst"))
        .groupBy("src", "dst")
        .agg(F.count(F.lit(1)).alias("n_shared"))
        .where(F.col("n_shared") >= min_shared)
        .select("src", "dst")
    )


def q62_neardup_components(spark, sf_dir):
    """Connected-components clustering of the near-dup candidate graph
    — the step that turns pairwise similarity into KEEP/DROP decisions
    (component id = the min doc_id, i.e. the canonical doc to keep).

    Spark side: iterative min-label propagation with pointer jumping
    (O(log n) rounds, two fixed-width-key shuffles per round — the
    large-star/small-star family; see operators/graph.py).  Oracle:
    recursive-CTE min-reachability over the IDENTICAL edge SQL, so the
    driver checks both the edge derivation and the fixpoint."""
    from ..operators.graph import connected_components

    docs = _t_wide(spark, sf_dir, "documents")
    edges = _q62_edges(docs)
    return connected_components(edges, "src", "dst").select(
        F.col("node").alias("doc_id"), "component"
    )


def _q62_edges_sql(min_shared: int = 3) -> str:
    return _Q62_EDGES_SQL.replace("count(*) >= 3", f"count(*) >= {min_shared}")


_Q62_EDGES_SQL = f"""nd AS (SELECT count(*) AS n FROM documents),
shings AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES.format(col='text')})) AS shingle
  FROM documents
), dfq AS (
  SELECT shingle, count(*) AS df FROM shings GROUP BY 1
), kept AS (
  SELECT s.doc_id, s.shingle
  FROM shings s JOIN dfq USING (shingle), nd
  WHERE 10 * dfq.df < nd.n
), edges AS (
  SELECT a.doc_id AS src, b.doc_id AS dst
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2 HAVING count(*) >= 3
)"""

ORACLE_Q62 = f"""
WITH RECURSIVE {_Q62_EDGES_SQL},
sym AS (
  SELECT src AS a, dst AS b FROM edges WHERE src <> dst
  UNION
  SELECT dst AS a, src AS b FROM edges WHERE src <> dst
),
reach(node, label) AS (
  SELECT a, a FROM sym
  UNION
  SELECT s.a, r.label FROM reach r JOIN sym s ON s.b = r.node
)
SELECT node AS doc_id, min(label) AS component FROM reach GROUP BY node
"""


def q63_user_pagerank(spark, sf_dir):
    """Fixed-iteration (5) integer PageRank over the user transition
    graph (edge u->v when v's event directly follows u's within the
    same event_type stream, ordered by ts then event_id — a
    deterministic, SQL-mirrorable co-occurrence graph).

    Every iteration is pure BIGINT floor-division arithmetic (see
    operators/graph.py: damping 85/100 as an exact rational, rank mass
    scaled by 10^12), so all 5 iterations sit on the hash-compared
    oracle — an unrolled chained-CTE mirror, bit-identical."""
    from ..operators.graph import pagerank_integer

    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", F.lead("user_id").over(w).alias("next_user"))
        .where(F.col("next_user").isNotNull() & (F.col("next_user") != F.col("user_id")))
        .select(F.col("user_id").alias("src"), F.col("next_user").alias("dst"))
    )
    return pagerank_integer(edges, iterations=5).select(
        F.col("node").alias("user_id"), "rank_scaled"
    )


def _oracle_q63() -> str:
    from ..operators.graph import duck_pagerank_sql

    edges_cte = """edges AS (
  SELECT src, dst FROM (
    SELECT user_id AS src,
           lead(user_id) OVER (PARTITION BY event_type ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL AND dst <> src
)"""
    sql = duck_pagerank_sql(edges_cte, iterations=5)
    return sql.replace(
        "SELECT node, rank_scaled FROM r5",
        "SELECT node AS user_id, rank_scaled FROM r5",
    )


def q64_cms_heavy_hitters(spark, sf_dir):
    """Count-Min-sketch frequency estimates for the corpus's top-20
    tokens (by true count, token-asc tie-break) — the bounded-memory
    path to heavy hitters on a stream where exact per-token state is
    unaffordable.  Output carries BOTH the exact count and the CMS
    point estimate so the one-sided error (est >= true) is itself
    driver-checked.

    Sketch = d=4 x w=512 integer counters (one posexplode + one
    map-side-combinable shuffle, <= 2048 rows total regardless of
    input); estimates probe it via broadcast — see
    functions/sketches.py."""
    from ..functions.sketches import cms_point_estimate, cms_sketch

    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        F.explode(
            F.flatten(F.transform(F.split(F.col("text"), "\n", -1), tokens_expr))
        ).alias("token"),
    )
    sketch = cms_sketch(toks, "token").localCheckpoint(eager=True)
    true_counts = toks.groupBy("token").agg(F.count(F.lit(1)).alias("true_cnt"))
    top = true_counts.orderBy(F.col("true_cnt").desc(), F.col("token").asc()).limit(20)
    est = cms_point_estimate(sketch, top.select("token"), "token")
    return top.join(est, "token").select("token", "true_cnt", "cms_est")


def _oracle_q64() -> str:
    from ..functions.sketches import duck_cms_sql

    toks = """toks AS (
  SELECT unnest(flatten(list_transform(string_split(text, chr(10)),
         ln -> list_filter(string_split(ln, ' '), t -> t <> '')))) AS token
  FROM documents
), vals AS (SELECT token AS v FROM toks)"""
    sketch = duck_cms_sql("vals")
    return f"""
WITH {toks},
{sketch},
true_counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS true_cnt FROM toks GROUP BY 1
), top AS (
  SELECT token, true_cnt FROM true_counts
  ORDER BY true_cnt DESC, token ASC LIMIT 20
), probes AS (
  SELECT t.token, d.d AS depth,
         (('0x' || substr(md5('cms' || d.d::VARCHAR || '#' || t.token), 1, 15))::BIGINT) & 511 AS bucket
  FROM top t, (SELECT unnest(range(4)) AS d) d
), est AS (
  SELECT p.token, CAST(min(s.c) AS BIGINT) AS cms_est
  FROM probes p JOIN sketch s ON p.depth = s.depth AND p.bucket = s.bucket
  GROUP BY 1
)
SELECT t.token, t.true_cnt, e.cms_est
FROM top t JOIN est e ON t.token = e.token
"""


def q65_funnel_sequences(spark, sf_dir):
    """CEP strict-sequence detection: per user, count STRICTLY
    CONSECUTIVE view -> click -> purchase triples completing within 24
    hours (MATCH_RECOGNIZE's STRICT SEQUENCE / Flink CEP's `next`
    contiguity) over the (ts, event_id)-ordered per-user event stream.

    Pure window functions — two lags per column, zero joins, one
    shuffle on user_id that the lag window and the final per-user
    aggregate SHARE (same partitioning, Catalyst plans one Exchange)."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    flagged = ev.select(
        "user_id",
        F.col("event_type").alias("t3"),
        F.lag("event_type", 1).over(w).alias("t2"),
        F.lag("event_type", 2).over(w).alias("t1"),
        F.unix_timestamp("ts").alias("e3"),
        F.unix_timestamp(F.lag("ts", 2).over(w)).alias("e1"),
    )
    hit = (
        (F.col("t1") == "view")
        & (F.col("t2") == "click")
        & (F.col("t3") == "purchase")
        & (F.col("e3") - F.col("e1") <= 86400)
    )
    return (
        flagged.groupBy("user_id")
        .agg(
            F.sum(hit.cast("long")).alias("n_funnels"),
            F.min(F.when(hit, F.col("e3"))).alias("first_funnel_epoch"),
        )
        .where(F.col("n_funnels") > 0)
    )


ORACLE_Q65 = """
WITH flagged AS (
  SELECT user_id,
         event_type AS t3,
         lag(event_type, 1) OVER w AS t2,
         lag(event_type, 2) OVER w AS t1,
         CAST(floor(epoch(ts)) AS BIGINT) AS e3,
         CAST(floor(epoch(lag(ts, 2) OVER w)) AS BIGINT) AS e1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
), hits AS (
  SELECT user_id,
         (t1 = 'view' AND t2 = 'click' AND t3 = 'purchase'
          AND e3 - e1 <= 86400) AS hit,
         e3
  FROM flagged
)
SELECT user_id,
       CAST(sum(CASE WHEN hit THEN 1 ELSE 0 END) AS BIGINT) AS n_funnels,
       min(CASE WHEN hit THEN e3 END) AS first_funnel_epoch
FROM hits GROUP BY user_id
HAVING sum(CASE WHEN hit THEN 1 ELSE 0 END) > 0
"""


SENTINEL_USER = -1


def _events_stream_fixture(spark, sf_dir, n_files: int = 4, prefix: str = "wrs-q-cep-") -> str:
    """Time-ordered events as micro-batch files, plus two far-future
    sentinel events (user -1, non-pattern type) pinning the final
    watermark past every real event.  Shared by the streaming CEP
    (q66) and the stream-stream interval join (q75)."""
    import pandas as pd
    import pyarrow.parquet as pq

    from ..sources.pages import write_batch_files

    ev = (
        pq.read_table(f"{sf_dir}/events.parquet")
        .to_pandas()
        .sort_values(["ts", "event_id"])
        .reset_index(drop=True)
    )
    sent = pd.DataFrame(
        {
            "event_id": [10**15, 10**15 + 1],
            "ts": [pd.Timestamp("2027-01-01"), pd.Timestamp("2027-01-01T01:00:00")],
            "user_id": [SENTINEL_USER, SENTINEL_USER],
            "event_type": ["sentinel", "sentinel"],
            "value": [0.0, 0.0],
            "props": ["{}", "{}"],
        }
    )
    per = (len(ev) + n_files - 1) // n_files
    batches = [ev.iloc[i * per : (i + 1) * per] for i in range(n_files)]
    batches = [b for b in batches if len(b)] + [sent.iloc[:1], sent.iloc[1:]]
    src = _q_tmpdir(prefix)
    write_batch_files(batches, src)
    return src


def q66_streaming_funnels(spark, sf_dir):
    """STREAMING CEP strict-sequence detection (the north_star's CEP
    mandate in stateful form): the q65 pattern — strictly consecutive
    view -> click -> purchase within 24 h per user — detected over a
    micro-batch event stream via applyInPandasWithState, one output
    row per completed match, emitted exactly once when the watermark
    proves the run's neighborhood final (streaming/cep.py).

    ORACLE-CHECKED: events arrive time-ordered in 4 micro-batches, two
    far-future sentinel events (user -1, non-pattern type) pin the
    final watermark past every real event, so the emitted match set
    equals the batch lag-window SQL — per-MATCH rows, stronger than
    q65's per-user aggregate."""
    from ..sources.pages import stream_events_files

    src = _events_stream_fixture(spark, sf_dir)

    from ..streaming.cep import stateful_sequence_match

    stream = stream_events_files(spark, src, 1)
    matches = stateful_sequence_match(
        stream, pattern=("view", "click", "purchase"), within_seconds=86400
    )
    out = _drain(matches, spark)
    return out.where(F.col("user_id") != SENTINEL_USER).select(
        "user_id", "start_epoch", "end_epoch"
    )


ORACLE_Q66 = """
WITH f AS (
  SELECT user_id,
         event_type AS t3,
         lag(event_type, 1) OVER w AS t2,
         lag(event_type, 2) OVER w AS t1,
         CAST(floor(epoch(ts)) AS BIGINT) AS e3,
         CAST(floor(epoch(lag(ts, 2) OVER w)) AS BIGINT) AS e1
  FROM events
  WINDOW w AS (PARTITION BY user_id ORDER BY ts, event_id)
)
SELECT user_id, e1 AS start_epoch, e3 AS end_epoch
FROM f
WHERE t1 = 'view' AND t2 = 'click' AND t3 = 'purchase' AND e3 - e1 <= 86400
"""


def q67_streaming_windowed_cms(spark, sf_dir):
    """STREAMING per-window Count-Min sketch over the page-token
    stream + batch probe — the monitoring pattern: the stream
    maintains a bounded 2048-counter sketch per 30-min window
    (frequency analog of q53's streaming HLL; exact per-token state
    for a web-scale token stream is unaffordable, integer counters
    are not), and the per-window top-3 tokens are estimated against
    the drained sketch batch-side via a broadcast probe.

    Output carries the exact count AND the estimate, so the CMS
    one-sided error (est >= true) is driver-checked per window.
    Sentinel pages only populate 2027 windows — excluded by the
    window filter, same as q53."""
    from ..functions.sketches import cms_point_estimate, cms_sketch, cms_windowed_stream
    from ..sources.pages import stream_pages_files

    src, _ = _derived_stream_fixture(spark, sf_dir)
    stream = stream_pages_files(spark, src, 1)
    toks_stream = stream.select(
        "warc_ts",
        F.explode(
            F.flatten(F.transform(F.split(F.col("text"), "\n", -1), tokens_expr))
        ).alias("token"),
    )
    sketch = (
        _drain(cms_windowed_stream(toks_stream, "token", window="30 minutes"), spark)
        .where(F.col("window_start") < F.lit("2027-01-01").cast("timestamp"))
        .select(
            F.unix_timestamp("window_start").alias("ws"), "depth", "bucket", "c"
        )
        .localCheckpoint(eager=True)
    )

    # batch probe: exact per-window top-3 tokens (count desc, token
    # asc) from the same derived pages, estimated against the sketch
    pages_pd, _ = _derived_pages_pandas(sf_dir)
    pages = spark.createDataFrame(pages_pd[["warc_ts", "text"]])
    toks = pages.select(
        (F.floor(F.unix_timestamp("warc_ts") / 1800) * 1800).cast("long").alias("ws"),
        F.explode(
            F.flatten(F.transform(F.split(F.col("text"), "\n", -1), tokens_expr))
        ).alias("token"),
    )
    counts = toks.groupBy("ws", "token").agg(F.count(F.lit(1)).alias("true_cnt"))
    w = Window.partitionBy("ws").orderBy(F.col("true_cnt").desc(), F.col("token").asc())
    top = (
        counts.withColumn("rank", F.row_number().over(w))
        .where(F.col("rank") <= 3)
        .localCheckpoint(eager=True)
    )
    from ..functions.sketches import cms_bucket_exprs

    probes = top.select(
        "ws", "token", "rank", "true_cnt",
        F.posexplode(F.array(*cms_bucket_exprs(F.col("token")))).alias("depth", "bucket"),
    )
    est = (
        probes.join(F.broadcast(sketch), ["ws", "depth", "bucket"])
        .groupBy("ws", "token", "rank", "true_cnt")
        .agg(F.min("c").cast("long").alias("cms_est"))
    )
    return est.select(
        F.col("ws").alias("window_start_epoch"), "rank", "token", "true_cnt", "cms_est"
    )


def _oracle_q67() -> str:
    from ..functions.sketches import CMS_WIDTH

    hv = (
        "(('0x' || substr(md5('cms' || d.d::VARCHAR || '#' || token), 1, 15))::BIGINT)"
        f" & {CMS_WIDTH - 1}"
    )
    return f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), toks AS (
  SELECT CAST(floor(epoch(warc_ts) / 1800) AS BIGINT) * 1800 AS ws,
         unnest(flatten(list_transform(string_split(text, chr(10)),
                ln -> list_filter(string_split(ln, ' '), t -> t <> '')))) AS token
  FROM pages
), sketch AS (
  SELECT ws, d.d AS depth, {hv} AS bucket, CAST(count(*) AS BIGINT) AS c
  FROM toks, (SELECT unnest(range(4)) AS d) d
  GROUP BY 1, 2, 3
), counts AS (
  SELECT ws, token, count(*) AS true_cnt FROM toks GROUP BY 1, 2
), top AS (
  SELECT ws, token, true_cnt, rank FROM (
    SELECT ws, token, true_cnt,
           CAST(row_number() OVER (PARTITION BY ws
                ORDER BY true_cnt DESC, token ASC) AS INT) AS rank
    FROM counts
  ) WHERE rank <= 3
), probes AS (
  SELECT t.ws, t.token, t.rank, t.true_cnt, d.d AS depth, {hv} AS bucket
  FROM top t, (SELECT unnest(range(4)) AS d) d
), est AS (
  SELECT p.ws, p.token, p.rank, p.true_cnt, CAST(min(s.c) AS BIGINT) AS cms_est
  FROM probes p
  JOIN sketch s ON p.ws = s.ws AND p.depth = s.depth AND p.bucket = s.bucket
  GROUP BY 1, 2, 3, 4
)
SELECT ws AS window_start_epoch, rank, token, true_cnt, cms_est FROM est
"""


def q68_triangle_counts(spark, sf_dir):
    """Per-node triangle counts over the near-dup candidate graph
    (q62's edge rule at min_shared=2 for meaningful density) — the
    clustering-coefficient numerator, the standard webgraph cohesion
    metric.

    Distributed triangle enumeration on the a<b<c ORIENTED edge list:
    two self-equi-joins on fixed-width node keys (wedge build on the
    shared middle node, then closure check on the (a,c) edge) — each
    triangle found exactly once, no orientation dedup pass.  100-TB
    posture: wedge fan-out is bounded by the df-pruned edge degree
    (the same prune that bounds the pair join), all joins
    shuffle-partitionable on node ids."""
    docs = _t_wide(spark, sf_dir, "documents")
    edges = _q62_edges(docs, min_shared=2).localCheckpoint(eager=True)
    e1 = edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
    e2 = edges.select(F.col("src").alias("b"), F.col("dst").alias("c"))
    e3 = edges.select(F.col("src").alias("a"), F.col("dst").alias("c"))
    tri = e1.join(e2, "b").join(e3, ["a", "c"])
    return (
        tri.select(F.explode(F.array("a", "b", "c")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_triangles"))
    )


ORACLE_Q68 = f"""
WITH {_q62_edges_sql(min_shared=2)},
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM edges e1
  JOIN edges e2 ON e1.dst = e2.src
  JOIN edges e3 ON e1.src = e3.src AND e2.dst = e3.dst
)
SELECT doc_id, count(*) AS n_triangles
FROM (SELECT unnest([a, b, c]) AS doc_id FROM tri)
GROUP BY doc_id
"""


def q69_hll_merge_rollup(spark, sf_dir):
    """Sketch MERGEABILITY on the oracle: per-(event_type, day) HLL
    registers are computed ONCE from the raw events, then the
    per-event_type level is derived by MERGING those registers (max
    per bucket — associative, idempotent, lossless) without rescanning
    the raw data.  This is the production rollup pattern: daily sketch
    partitions folded into monthly/total cubes at register cost, not
    scan cost.  The oracle computes BOTH levels directly from the
    events table — equality of the merged level proves the merge
    lossless, bit for bit."""
    from ..functions.sketches import hll_fold_registers, hll_registers

    ev = _t(spark, sf_dir, "events").withColumn(
        "day_id", (F.floor(F.unix_timestamp("ts") / 86400)).cast("long")
    )
    regs_day = hll_registers(ev, ["event_type", "day_id"], "user_id").localCheckpoint(
        eager=True
    )
    day_level = hll_fold_registers(regs_day, ["event_type", "day_id"]).select(
        F.lit("day").alias("level"), "event_type", "day_id",
        "register_scale_sum", "empty_registers", "estimate_raw",
    )
    # the merge: coarser registers = max over finer ones, NO rescan
    regs_type = regs_day.groupBy("event_type", "__b").agg(F.max("__m").alias("__m"))
    type_level = hll_fold_registers(regs_type, ["event_type"]).select(
        F.lit("type").alias("level"), "event_type",
        F.lit(-1).cast("long").alias("day_id"),
        "register_scale_sum", "empty_registers", "estimate_raw",
    )
    return day_level.unionByName(type_level)


def _oracle_q69() -> str:
    from ..functions.sketches import A_SCALED, K, M_REGISTERS, P

    hv = "(('0x' || substr(md5('hll#' || user_id::VARCHAR), 1, 15))::BIGINT)"
    fold = f"""
  SELECT {{grp_out}},
         CAST(s_present + ({M_REGISTERS} - n_present) * (1::BIGINT << {K}) AS BIGINT)
           AS register_scale_sum,
         CAST({M_REGISTERS} - n_present AS BIGINT) AS empty_registers,
         CAST({A_SCALED!r} AS DOUBLE)
           / CAST(s_present + ({M_REGISTERS} - n_present) * (1::BIGINT << {K}) AS DOUBLE)
           AS estimate_raw
  FROM (
    SELECT {{grp}}, CAST(sum(1::BIGINT << ({K} - m)) AS BIGINT) AS s_present,
           count(*) AS n_present
    FROM (
      SELECT {{grp}}, b, max(r) AS m FROM br GROUP BY {{grp}}, b
    ) GROUP BY {{grp}}
  )"""
    return f"""
WITH ev AS (
  SELECT event_type, CAST(floor(epoch(ts) / 86400) AS BIGINT) AS day_id, user_id
  FROM events WHERE user_id IS NOT NULL
), br AS (
  SELECT event_type, day_id,
         {hv} & {M_REGISTERS - 1} AS b,
         CASE WHEN ({hv} >> {P}) = 0 THEN {K}
              ELSE {K} - length(bin({hv} >> {P})) END AS r
  FROM ev
)
SELECT 'day' AS level, * FROM ({fold.format(grp="event_type, day_id", grp_out="event_type, day_id")})
UNION ALL
SELECT 'type' AS level, event_type, CAST(-1 AS BIGINT) AS day_id,
       register_scale_sum, empty_registers, estimate_raw
FROM ({fold.format(grp="event_type", grp_out="event_type")})
"""


def q70_inverted_index(spark, sf_dir):
    """Inverted-index construction over 3-gram shingles: shingle ->
    sorted posting list of doc_ids (+ df) — the phrase-index /
    near-dup-candidate-index build step of a corpus pipeline.  Two
    prunes, both integer-exact: ubiquitous shingles (df >= 10% of the
    corpus) are dropped like stopword-class postings — THE bound that
    keeps posting-list skew from OOMing a collect_list executor at
    100 TB — and singleton postings (df = 1) are dropped because a
    one-document phrase entry serves neither retrieval nor dedup.

    One (shingle, doc) distinct shuffle feeds BOTH df and the list
    build; postings serialize as a comma-joined string (deterministic
    sorted order) so the driver's value hash is representation-safe
    across engines."""
    docs = _t_wide(spark, sf_dir, "documents")
    pairs = docs.select(
        "doc_id",
        F.explode(F.array_distinct(doc_shingles_expr(F.col("text")))).alias("shingle"),
    )
    n_docs = docs.agg(F.count(F.lit(1)).alias("n"))
    idx = pairs.groupBy("shingle").agg(
        F.count(F.lit(1)).alias("df"),
        F.array_join(F.sort_array(F.collect_list("doc_id")), ",").alias("postings"),
    )
    return (
        idx.crossJoin(F.broadcast(n_docs))
        .where((10 * F.col("df") < F.col("n")) & (F.col("df") >= 2))
        .select("shingle", "df", "postings")
    )


ORACLE_Q70 = f"""
WITH pairs AS (
  SELECT DISTINCT doc_id,
         unnest(list_distinct({_DUCK_SHINGLES.format(col='text')})) AS shingle
  FROM documents
), nd AS (SELECT count(*) AS n FROM documents),
idx AS (
  SELECT shingle, count(*) AS df,
         array_to_string(list_sort(list(doc_id)), ',') AS postings
  FROM pairs GROUP BY shingle
)
SELECT shingle, df, postings FROM idx, nd WHERE 10 * df < n AND df >= 2
"""


def q71_doclen_quantiles(spark, sf_dir):
    """O-55 batch: per-source document-length quantiles (p50/p90/p99
    of n_chars) from the portable HDR-histogram sketch
    (functions/histogram.py) — bounded-state mergeable quantiles whose
    every output bit is integer-exact, unlike ``percentile_approx``
    (black-box) or exact percentiles (full sort, q36).  Two linear
    shuffles; the per-group sort is over <= 960 SKETCH bins, never
    data rows — the 100 TB property."""
    from ..functions.histogram import hist_quantiles

    docs = _t_wide(spark, sf_dir, "documents")
    return hist_quantiles(docs, ["source"], "n_chars")


_DUCK_HIST_CUM = """
  SELECT {grp}, b, c,
         sum(c) OVER (PARTITION BY {grp} ORDER BY b) AS cum,
         sum(c) OVER (PARTITION BY {grp}) AS total,
         CASE WHEN b < 32 THEN b
              ELSE ((b % 16) + 16) << (b // 16 - 1) END AS lower
  FROM {src}
"""

_DUCK_HIST_QS = """
       min(CASE WHEN cum >= (total * 50 + 99) // 100 THEN lower END) AS p50,
       min(CASE WHEN cum >= (total * 90 + 99) // 100 THEN lower END) AS p90,
       min(CASE WHEN cum >= (total * 99 + 99) // 100 THEN lower END) AS p99,
       CAST(max(total) AS BIGINT) AS n_values,
       count(*) AS n_bins
"""

ORACLE_Q71 = f"""
WITH v AS (
  SELECT source, n_chars AS v FROM documents
  WHERE n_chars IS NOT NULL AND n_chars >= 0
), bn AS (
  SELECT source, {duck_hist_bin('v')} AS b
  FROM v
), c AS (
  SELECT source, b, count(*) AS c FROM bn GROUP BY 1, 2
), cum AS (
{_DUCK_HIST_CUM.format(grp='source', src='c')}
)
SELECT source,
{_DUCK_HIST_QS}
FROM cum GROUP BY source
"""


def q72_streaming_windowed_quantiles(spark, sf_dir):
    """O-55 STREAMING: page-length quantiles per (10-min window, lang)
    via the HDR-histogram sketch inside chained stateful aggregations
    — the latency-percentile / SLO-monitoring primitive of a streaming
    engine, with state bounded at <= 960 bin rows per (window, lang)
    on an unbounded stream and every output bit oracle-exact.

    Spark itself CANNOT express streaming quantiles: sorting and
    window functions are illegal on streams and ``percentile_approx``
    is unavailable in streaming aggregation; the sketch turns the
    problem into two bounded stateful counts plus an integer fold.
    Same sentinel-pinned derived stream as q53; bin counts are
    additive, so the batch oracle needs no dedup step."""
    from ..functions.histogram import hist_quantiles_windowed_stream
    from ..sources.pages import stream_pages_files

    src, _ = _derived_stream_fixture(spark, sf_dir)
    stream = stream_pages_files(spark, src, 1).withColumn(
        "page_chars", F.length("text")
    )
    out = _drain(hist_quantiles_windowed_stream(stream, "page_chars"), spark)
    return out.where(
        F.col("window_start") < F.lit("2027-01-01").cast("timestamp")
    ).select(
        F.unix_timestamp("window_start").alias("window_start_epoch"),
        "lang",
        "p50",
        "p90",
        "p99",
        "n_values",
        "n_bins",
    )


ORACLE_Q72 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), v AS (
  SELECT CAST(floor(epoch(warc_ts) / 600) AS BIGINT) * 600 AS ws, lang,
         length(text) AS v
  FROM pages
  WHERE length(text) IS NOT NULL AND length(text) >= 0
), bn AS (
  SELECT ws, lang, {duck_hist_bin('v')} AS b
  FROM v
), c AS (
  SELECT ws, lang, b, count(*) AS c FROM bn GROUP BY 1, 2, 3
), cum AS (
{_DUCK_HIST_CUM.format(grp='ws, lang', src='c')}
)
SELECT ws AS window_start_epoch, lang,
{_DUCK_HIST_QS}
FROM cum GROUP BY ws, lang
"""


def q73_duplicate_ngram_rate(spark, sf_dir):
    """Corpus-wide duplicate-n-gram rate per document (the exact
    substring-duplication metric of Lee et al.'s "Deduplicating
    Training Data" pipeline, at shingle granularity): a document's
    gram INSTANCE is duplicated iff its gram text occurs in >= 2
    distinct documents; emit per-doc totals and the keep gate
    (<= 60% duplicated mass — tuned so BOTH gate outcomes occur in
    this corpus's boilerplate density, pytest-asserted; the threshold
    is policy, the metric is the operator).

    Scale shape: gram instances are pre-aggregated to (doc, gram)
    counts BEFORE the corpus-wide df aggregate and the join back, so
    both shuffles and the equi-join move fixed-width (gram, count)
    rows, never raw text; nothing is quadratic in corpus size.  All
    surfaces integer-exact (counts + integer-div percent)."""
    docs = _t_wide(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id", F.explode(doc_shingles_expr(F.col("text"))).alias("g")
    )
    per = grams.groupBy("doc_id", "g").agg(F.count(F.lit(1)).alias("c"))
    dfc = per.groupBy("g").agg(F.count(F.lit(1)).alias("df"))
    tot = per.groupBy("doc_id").agg(F.sum("c").alias("total_grams"))
    dup = (
        per.join(dfc.where(F.col("df") >= 2), "g")
        .groupBy("doc_id")
        .agg(F.sum("c").alias("dup_grams"))
    )
    return (
        tot.join(dup, "doc_id", "left")
        .select(
            "doc_id",
            F.col("total_grams").cast("bigint").alias("total_grams"),
            F.coalesce(F.col("dup_grams"), F.lit(0)).cast("bigint").alias("dup_grams"),
        )
        .select(
            "doc_id",
            "total_grams",
            "dup_grams",
            F.expr("100 * dup_grams div total_grams").alias("dup_pct"),
            F.expr("CAST(dup_grams * 5 <= total_grams * 3 AS BIGINT)").alias("keep"),
        )
    )


ORACLE_Q73 = f"""
WITH grams AS (
  SELECT doc_id, unnest({_DUCK_SHINGLES.format(col='text')}) AS g FROM documents
), per AS (
  SELECT doc_id, g, count(*) AS c FROM grams GROUP BY 1, 2
), dfc AS (
  SELECT g, count(*) AS df FROM per GROUP BY g
), tot AS (
  SELECT doc_id, CAST(sum(c) AS BIGINT) AS total_grams FROM per GROUP BY doc_id
), dup AS (
  SELECT per.doc_id, CAST(sum(per.c) AS BIGINT) AS dup_grams
  FROM per JOIN dfc USING (g) WHERE dfc.df >= 2 GROUP BY per.doc_id
)
SELECT tot.doc_id, total_grams,
       coalesce(dup_grams, 0) AS dup_grams,
       100 * coalesce(dup_grams, 0) // total_grams AS dup_pct,
       CAST(coalesce(dup_grams, 0) * 5 <= total_grams * 3 AS BIGINT) AS keep
FROM tot LEFT JOIN dup ON tot.doc_id = dup.doc_id
"""


def q74_incremental_mv_merge(spark, sf_dir):
    """Incremental materialized-view maintenance
    (operators/incremental.py): the per-(lang, source) corpus
    aggregate is refreshed by aggregating ONLY a delta batch and
    full-outer-merging its monoid partials (count/sum by +, min/max by
    least/greatest) onto the stored base state — the engine-neutral
    form of Iceberg ``MERGE INTO ... WHEN MATCHED / WHEN NOT
    MATCHED``, and the refresh pattern that avoids re-scanning 100 TB
    per batch (the merge join moves #groups rows, the scan only the
    delta).

    The base/delta split is a portable-HASH bucket of doc_id (a plain
    doc_id modulus would correlate with the synthetic corpus's
    source = doc_id % 20 layout and starve the update path), and the
    base additionally excludes ALL 'fr' rows — so the delta exercises
    BOTH merge paths: matched-update (shared keys) and
    not-matched-insert ('fr' keys); pytest asserts non-vacuity of
    each.  Oracle = the from-scratch aggregate over the whole table,
    which the merged state must equal exactly (derived avg kept as a
    scaled-integer division of exactly-agreed integers)."""
    from ..operators.incremental import agg_state, merge_agg_state

    docs = _t(spark, sf_dir, "documents")
    keys = ["lang", "source"]
    is_base = (
        md5_i64_expr(F.col("doc_id").cast("string"), salt="mv#") % 10 < 8
    ) & (F.col("lang") != "fr")
    base = agg_state(docs.where(is_base), keys)
    delta = agg_state(docs.where(~is_base), keys)
    merged = merge_agg_state(base, delta, keys)
    return merged.select(
        *keys,
        "n_docs",
        "sum_chars",
        "min_doc_id",
        "max_doc_id",
        F.expr("100 * sum_chars div n_docs").alias("avg_chars_x100"),
    )


ORACLE_Q74 = """
SELECT lang, source,
       count(*) AS n_docs,
       CAST(sum(n_chars) AS BIGINT) AS sum_chars,
       min(doc_id) AS min_doc_id,
       max(doc_id) AS max_doc_id,
       100 * CAST(sum(n_chars) AS BIGINT) // count(*) AS avg_chars_x100
FROM documents GROUP BY 1, 2
"""


def q75_streaming_attribution_join(spark, sf_dir):
    """O-15 SYMMETRIC form: watermark-bounded stream-stream INNER
    interval join (streaming/pipeline.py:streaming_interval_join) —
    the attribution join of every event pipeline: each purchase joins
    every view by the same user in the strictly-preceding 2 hours.
    q29 is the as-of (latest-wins, leftOuter) variant; this is the
    all-matches inner variant, the other canonical Spark stream-stream
    join shape.

    The time bound in the join condition is what bounds the state
    store: each side buffers only rows younger than watermark +
    horizon — without it a 10^12-event stream accretes join state
    forever.  Inner matches emit when both sides have arrived, so the
    drained fixture equals the batch interval join, which ORACLE_Q75
    computes directly."""
    from ..sources.pages import stream_events_files
    from ..streaming.pipeline import streaming_interval_join

    src = _events_stream_fixture(spark, sf_dir, prefix="wrs-q-attr-")
    views = (
        stream_events_files(spark, src, 1)
        .where(F.col("event_type") == "view")
        .select(
            "user_id",
            F.col("event_id").alias("view_id"),
            F.col("ts").alias("view_ts"),
        )
    )
    purchases = (
        stream_events_files(spark, src, 1)
        .where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.col("event_id").alias("purchase_id"),
            F.col("ts").alias("purchase_ts"),
        )
    )
    joined = streaming_interval_join(
        views,
        purchases,
        key="user_id",
        left_ts="view_ts",
        right_ts="purchase_ts",
        horizon="2 hours",
    )
    out = _drain(
        joined.select(
            "user_id",
            "view_id",
            "purchase_id",
            F.unix_timestamp("view_ts").alias("view_epoch"),
            F.unix_timestamp("purchase_ts").alias("purchase_epoch"),
        ),
        spark,
    )
    return out.where(F.col("user_id") != SENTINEL_USER)


ORACLE_Q75 = """
SELECT v.user_id, v.event_id AS view_id, p.event_id AS purchase_id,
       CAST(floor(epoch(v.ts)) AS BIGINT) AS view_epoch,
       CAST(floor(epoch(p.ts)) AS BIGINT) AS purchase_epoch
FROM events v JOIN events p
  ON v.user_id = p.user_id
 AND p.ts > v.ts AND p.ts <= v.ts + INTERVAL 2 HOUR
WHERE v.event_type = 'view' AND p.event_type = 'purchase'
"""


def q76_weighted_sample(spark, sf_dir):
    """Deterministic WEIGHT-PROPORTIONAL sampling: keep a document
    with probability n_chars/1000 (length as a quality-mass proxy —
    the up-weight-long-documents step of corpus mixing), decided by a
    pure map-side integer comparison of the portable 60-bit hash
    against the row's own weight.  q47 is fixed per-stratum rates;
    this is per-ROW weights.

    Membership is a pure function of (doc_id, n_chars): reproducible
    across clusters, partitionings and reruns — `df.sample` can
    guarantee none of that — and zero-shuffle (the only plan nodes
    are scan + filter).  Weight clamps at the modulus so p caps at 1."""
    docs = _t(spark, sf_dir, "documents")
    w = F.least(F.col("n_chars"), F.lit(1000)).cast("bigint")
    h = md5_i64_expr(F.col("doc_id").cast("string"), salt="wsamp#") % 1000
    return docs.where(h < w).select("doc_id", "lang", "n_chars")


ORACLE_Q76 = f"""
SELECT doc_id, lang, n_chars
FROM documents
WHERE {duck_md5_i64("doc_id::VARCHAR", salt="wsamp#")} % 1000
      < least(n_chars, 1000)
"""


def q77_zorder_layout(spark, sf_dir):
    """Z-order (Morton) clustering key + layout audit
    (functions/zorder.py): interleave the bits of two query dimensions
    — user bucket and event minute — into one bigint z-value, then
    verify the data-skipping property per z-prefix bucket: fixing the
    top 16 z-bits fixes the high 8 bits of BOTH dims, so every
    bucket's min/max span is <= 255 on each dimension while the global
    spans are ~65535.  That bound is exactly why a z-ordered file
    layout lets min/max stats prune scans on BOTH dims at 100 TB,
    where a single-column sort prunes only one.

    The z-value itself is a pure-Catalyst map-side expression (16
    unrolled shift/mask terms, constant-folded, whole-stage codegen);
    the only shuffle is the audit aggregate."""
    from ..functions.zorder import zvalue_expr

    ev = _t(spark, sf_dir, "events")
    d = ev.select(
        F.expr("user_id % 65536").alias("x"),
        F.expr("(unix_timestamp(ts) div 60) % 65536").alias("y"),
    )
    z = d.select("x", "y", zvalue_expr(F.col("x"), F.col("y")).alias("z"))
    return (
        z.groupBy(F.shiftright(F.col("z"), 16).alias("zbucket"))
        .agg(
            F.count(F.lit(1)).alias("n_rows"),
            F.min("x").alias("min_x"),
            F.max("x").alias("max_x"),
            F.min("y").alias("min_y"),
            F.max("y").alias("max_y"),
        )
        .select(
            "zbucket",
            "n_rows",
            "min_x",
            "max_x",
            "min_y",
            "max_y",
            (F.col("max_x") - F.col("min_x")).alias("x_span"),
            (F.col("max_y") - F.col("min_y")).alias("y_span"),
        )
    )


def _oracle_q77() -> str:
    from ..functions.zorder import duck_zvalue

    return f"""
WITH d AS (
  SELECT user_id % 65536 AS x,
         (CAST(floor(epoch(ts)) AS BIGINT) // 60) % 65536 AS y
  FROM events
), z AS (
  SELECT x, y, {duck_zvalue('x', 'y')} AS z FROM d
)
SELECT z >> 16 AS zbucket, count(*) AS n_rows,
       min(x) AS min_x, max(x) AS max_x,
       min(y) AS min_y, max(y) AS max_y,
       max(x) - min(x) AS x_span, max(y) - min(y) AS y_span
FROM z GROUP BY 1
"""


def q78_drift_monitor(spark, sf_dir):
    """Hour-over-hour distribution-drift monitor: per hour window, the
    L1 distance between this hour's and the previous hour's event-type
    count vectors — the ingest-quality tripwire that catches a crawler
    or producer silently changing mix (the streaming-ops counterpart
    of a training-data contamination alarm).

    JOIN-FREE shape: instead of a self-join of windows onto lagged
    windows (whose missing-type edges need a full-outer join), each
    count row is emitted twice — once as "current" mass at w, once as
    "previous" mass at w+3600 — and two linear aggregates do the rest.
    Phantom tail windows (previous mass only) are dropped by the
    total_cur > 0 gate; a window with no predecessor scores its full
    mass as drift, documented and oracle-mirrored.  Integer-exact
    throughout."""
    ev = _t(spark, sf_dir, "events")
    c = (
        ev.select(
            (F.expr("unix_timestamp(ts) div 3600") * 3600).alias("w"),
            "event_type",
        )
        .groupBy("w", "event_type")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    signed = c.select(
        "w", "event_type", F.col("c").alias("cc"), F.lit(0).cast("bigint").alias("pc")
    ).unionByName(
        c.select(
            (F.col("w") + 3600).alias("w"),
            "event_type",
            F.lit(0).cast("bigint").alias("cc"),
            F.col("c").alias("pc"),
        )
    )
    per = signed.groupBy("w", "event_type").agg(
        F.sum("cc").alias("cc"), F.sum("pc").alias("pc")
    )
    return (
        per.groupBy("w")
        .agg(
            F.sum(F.abs(F.col("cc") - F.col("pc"))).alias("l1"),
            F.sum("cc").alias("total_cur"),
            F.sum("pc").alias("total_prev"),
        )
        .where(F.col("total_cur") > 0)
        .select(
            F.col("w").alias("window_epoch"),
            "l1",
            "total_cur",
            "total_prev",
            F.expr("100 * l1 div (total_cur + total_prev)").alias("drift_pct"),
        )
    )


__all__ = _star_exports(globals())  # noqa: F405
