"""Registry block q131-q176 — split verbatim from the
single-module catalog (round-4 verdict #2); execution order,
names and behavior identical to the original queries.py."""
from __future__ import annotations

from .block_q078_q139 import *  # noqa: F401,F403



ORACLE_Q139 = """
SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS window_epoch,
       event_type, CAST(count(*) AS BIGINT) AS n
FROM (SELECT DISTINCT event_id, ts, event_type FROM events)
GROUP BY date_trunc('hour', ts), event_type
"""


def q140_url_hierarchy_rollup(spark, sf_dir):
    """URL path-hierarchy rollup — per-directory aggregates at every
    ancestor level (host, host/a, host/a/b), the crawl-ops view
    behind "which section of the site is heavy": each page
    contributes to ALL its ancestor prefixes.  q101 routes one URL to
    one longest-match rule; this is the dual — hierarchical
    CONTAINMENT aggregation over the prefix lattice.

    Scale shape: the bounded prefix chain (depth 3) is a single
    3-way explode (no join against a paths dimension), then ONE
    (level, prefix) hash aggregate with map-side partials; distinct
    languages per directory via the same agg.  Fan-out is exactly
    depth×corpus — linear, never quadratic."""
    docs = _t(spark, sf_dir, "documents")
    host = F.concat(F.col("source"), F.lit(".example.com"))
    seg1 = F.concat(host, F.lit("/a"), (F.col("doc_id") % 5).cast("string"))
    seg2 = F.concat(seg1, F.lit("/b"), (F.col("doc_id") % 7).cast("string"))
    pref = F.array(
        F.struct(F.lit(1).alias("level"), host.alias("prefix")),
        F.struct(F.lit(2).alias("level"), seg1.alias("prefix")),
        F.struct(F.lit(3).alias("level"), seg2.alias("prefix")),
    )
    exploded = docs.select(
        "lang", "n_chars", F.explode(pref).alias("p")
    ).select(F.col("p.level").cast("bigint").alias("level"), "p.prefix", "lang", "n_chars")
    return exploded.groupBy("level", "prefix").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("lang").cast("bigint").alias("n_langs"),
        F.sum("n_chars").cast("bigint").alias("total_chars"),
    )


ORACLE_Q140 = """
WITH pages AS (
  SELECT lang, n_chars,
         source || '.example.com' AS host,
         source || '.example.com' || '/a' || (doc_id % 5) AS p1,
         source || '.example.com' || '/a' || (doc_id % 5)
           || '/b' || (doc_id % 7) AS p2
  FROM documents
),
exploded AS (
  SELECT CAST(1 AS BIGINT) AS level, host AS prefix, lang, n_chars FROM pages
  UNION ALL
  SELECT CAST(2 AS BIGINT), p1, lang, n_chars FROM pages
  UNION ALL
  SELECT CAST(3 AS BIGINT), p2, lang, n_chars FROM pages
)
SELECT level, prefix,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(count(DISTINCT lang) AS BIGINT) AS n_langs,
       CAST(sum(n_chars) AS BIGINT) AS total_chars
FROM exploded
GROUP BY level, prefix
"""


def q141_khop_reachability(spark, sf_dir):
    """Exact k-hop reachability (k=3) over the near-dup candidate
    graph — BFS unrolled into TWO frontier equi-joins, emitting each
    node's EXACT hop distance (min level) to every node within 3
    hops and the cumulative reach counts.  The neighborhood-size
    statistic behind "how big is this duplicate cluster about to
    get"; q62 labels components (unbounded hops, fixpoint), this
    bounds the horizon and keeps per-hop distances — a different
    answer a fixpoint cannot give.

    Scale shape: undirected adjacency = the oriented edge list
    mirrored once; each BFS level is ONE node-key equi-join off the
    previous frontier (fan-out bounded by the df-pruned degree, the
    q68 argument); the level-2 frontier is DEDUPLICATED to distinct
    (a, b) pairs before the level-3 join — joining off the 2-PATH
    multiset would multiply the 3-hop fan-out by the number of
    middle nodes per pair, a path-counting blowup the min-level agg
    would only repair after paying its shuffle (measured 1.9x at
    sf0.1); hop distance = min(level) per (src, dst) pair — one hash
    agg; final counts are conditional aggregates over the PAIR
    relation, never the corpus."""
    docs = _t_wide(spark, sf_dir, "documents")
    edges = _q62_edges(docs, min_shared=2).localCheckpoint(eager=True)
    adj = (
        edges.select(F.col("src").alias("a"), F.col("dst").alias("b"))
        .unionByName(edges.select(F.col("dst").alias("a"), F.col("src").alias("b")))
    )
    r1 = adj.select("a", "b", F.lit(1).alias("lvl"))
    r2 = (
        r1.select("a", F.col("b").alias("mid"))
        .join(adj.select(F.col("a").alias("mid"), F.col("b")), "mid")
        .where(F.col("a") != F.col("b"))
        .select("a", "b", F.lit(2).alias("lvl"))
    )
    frontier2 = r2.select("a", F.col("b").alias("mid")).distinct()
    r3 = (
        frontier2
        .join(adj.select(F.col("a").alias("mid"), F.col("b")), "mid")
        .where(F.col("a") != F.col("b"))
        .select("a", "b", F.lit(3).alias("lvl"))
    )
    hops = (
        r1.unionByName(r2)
        .unionByName(r3)
        .groupBy("a", "b")
        .agg(F.min("lvl").cast("bigint").alias("hop"))
    )
    return hops.groupBy(F.col("a").alias("doc_id")).agg(
        F.sum(F.when(F.col("hop") <= 1, 1).otherwise(0)).cast("bigint").alias("reach_1"),
        F.sum(F.when(F.col("hop") <= 2, 1).otherwise(0)).cast("bigint").alias("reach_2"),
        F.count(F.lit(1)).cast("bigint").alias("reach_3"),
    )


ORACLE_Q141 = f"""
WITH {_q62_edges_sql(min_shared=2)},
adj AS (
  SELECT src AS a, dst AS b FROM edges
  UNION ALL
  SELECT dst AS a, src AS b FROM edges
),
r1 AS (SELECT a, b, 1 AS lvl FROM adj),
r2 AS (
  SELECT r1.a, adj.b, 2 AS lvl
  FROM r1 JOIN adj ON adj.a = r1.b
  WHERE r1.a <> adj.b
),
r3 AS (
  SELECT r2.a, adj.b, 3 AS lvl
  FROM r2 JOIN adj ON adj.a = r2.b
  WHERE r2.a <> adj.b
),
hops AS (
  SELECT a, b, CAST(min(lvl) AS BIGINT) AS hop
  FROM (SELECT * FROM r1 UNION ALL SELECT * FROM r2 UNION ALL SELECT * FROM r3)
  GROUP BY a, b
)
SELECT a AS doc_id,
       CAST(sum(CASE WHEN hop <= 1 THEN 1 ELSE 0 END) AS BIGINT) AS reach_1,
       CAST(sum(CASE WHEN hop <= 2 THEN 1 ELSE 0 END) AS BIGINT) AS reach_2,
       CAST(count(*) AS BIGINT) AS reach_3
FROM hops
GROUP BY a
"""


def q137_prefix_filter_simjoin(spark, sf_dir):
    """EXACT set-similarity self-join via prefix filtering (the
    PPJoin family) — the deterministic complement of MinHash (q22,
    probabilistic) and shared-shingle candidates (q16, no pruning):
    docs are similar iff 3-gram-shingle-set Jaccard ≥ 3/4, and the prefix
    filter PROVES two sets can only reach the threshold if they share
    a token among each one's first p = n − ceil(3n/4) + 1 tokens in
    the global rare-first order — so the candidate join runs on
    PREFIX tokens only, and rare-first ordering makes those prefixes
    collide rarely (the frequent-token hot keys land at the END of
    every prefix, never in the join).

    Scale shape: token df is one corpus agg; per-doc ordering is a
    doc-key window; the candidate generator is a PREFIX-token
    equi-join (a fraction of the postings, rare keys by
    construction); exact verification (one |A∩B| counting join) runs
    ONLY on candidate pairs.  The threshold test is cross-multiplied
    integer arithmetic — 4·inter ≥ 3·(n_a + n_b − inter) — no floats
    anywhere."""
    docs = _t(spark, sf_dir, "documents")
    toks = (
        docs.select(
            "doc_id", F.explode(doc_shingles_expr(F.col("text"))).alias("tok")
        )
        .distinct()
    )
    dfreq = toks.groupBy("tok").agg(F.count(F.lit(1)).alias("df"))
    ordered = toks.join(dfreq, "tok").select(
        "doc_id",
        "tok",
        F.row_number()
        .over(Window.partitionBy("doc_id").orderBy("df", "tok"))
        .alias("pos"),
    )
    sizes = ordered.groupBy("doc_id").agg(F.max("pos").cast("bigint").alias("n"))
    prefix = ordered.join(sizes, "doc_id").where(
        F.col("pos") <= F.col("n") - F.expr("(3 * n + 3) div 4") + 1
    )
    cand = (
        prefix.alias("a")
        .join(prefix.alias("b"), "tok")
        .where(F.col("a.doc_id") < F.col("b.doc_id"))
        .select(
            F.col("a.doc_id").alias("id_a"),
            F.col("b.doc_id").alias("id_b"),
            F.col("a.n").alias("n_a"),
            F.col("b.n").alias("n_b"),
        )
        .distinct()
    )
    inter = (
        cand.join(toks.alias("ta"), F.col("id_a") == F.col("ta.doc_id"))
        .join(
            toks.alias("tb"),
            (F.col("id_b") == F.col("tb.doc_id"))
            & (F.col("ta.tok") == F.col("tb.tok")),
        )
        .groupBy("id_a", "id_b", "n_a", "n_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_inter"))
    )
    return inter.where(
        4 * F.col("n_inter") >= 3 * (F.col("n_a") + F.col("n_b") - F.col("n_inter"))
    ).select(
        "id_a",
        "id_b",
        "n_a",
        "n_b",
        "n_inter",
        F.expr("1000000 * n_inter div (n_a + n_b - n_inter)")
        .cast("bigint")
        .alias("jaccard_ppm"),
    )


ORACLE_Q137 = f"""
WITH toks AS (
  SELECT DISTINCT doc_id, unnest({_DUCK_SHINGLES.format(col='text')}) AS tok FROM documents
),
dfreq AS (SELECT tok, count(*) AS df FROM toks GROUP BY tok),
ordered AS (
  SELECT t.doc_id, t.tok,
         row_number() OVER (PARTITION BY t.doc_id ORDER BY d.df, t.tok) AS pos
  FROM toks t JOIN dfreq d ON d.tok = t.tok
),
sizes AS (SELECT doc_id, CAST(max(pos) AS BIGINT) AS n FROM ordered GROUP BY doc_id),
prefix AS (
  SELECT o.doc_id, o.tok, s.n
  FROM ordered o JOIN sizes s ON s.doc_id = o.doc_id
  WHERE o.pos <= s.n - (3 * s.n + 3) // 4 + 1
),
cand AS (
  SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b, a.n AS n_a, b.n AS n_b
  FROM prefix a JOIN prefix b ON a.tok = b.tok AND a.doc_id < b.doc_id
),
inter AS (
  SELECT c.id_a, c.id_b, c.n_a, c.n_b, CAST(count(*) AS BIGINT) AS n_inter
  FROM cand c
  JOIN toks ta ON ta.doc_id = c.id_a
  JOIN toks tb ON tb.doc_id = c.id_b AND tb.tok = ta.tok
  GROUP BY c.id_a, c.id_b, c.n_a, c.n_b
)
SELECT id_a, id_b, n_a, n_b, n_inter,
       CAST(1000000 * n_inter // (n_a + n_b - n_inter) AS BIGINT) AS jaccard_ppm
FROM inter
WHERE 4 * n_inter >= 3 * (n_a + n_b - n_inter)
"""


def q138_regional_supplier_volume(spark, sf_dir):
    """TPC-H Q5-shaped six-table star join — the relational breadth
    probe: revenue per nation where the CUSTOMER and the SUPPLIER sit
    in the same nation, region-filtered, date-bounded.  Joins chain
    lineitem → orders → customer → nation → region and lineitem →
    supplier with the c_nationkey = s_nationkey colocation predicate
    — the classic join-order/broadcast-chain workout.

    Scale shape: region/nation/supplier/customer are dimension-scale
    and broadcast (plan-audited); the fact table (lineitem) is
    touched once, filtered by the pushed-down orderdate bound via the
    orders join; revenue sums in DECIMAL — shuffle-order-exact."""
    li = _t(spark, sf_dir, "lineitem")
    o = _t(spark, sf_dir, "orders").where(
        (F.col("o_orderdate") >= F.lit("1996-01-01").cast("timestamp"))
        & (F.col("o_orderdate") < F.lit("1998-01-01").cast("timestamp"))
    )
    c = _t(spark, sf_dir, "customer")
    s = _t(spark, sf_dir, "supplier")
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name").isin("ASIA", "EUROPE"))
    rev = (F.col("l_extendedprice").cast(DEC) * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))).cast(
        "decimal(18,4)"
    )
    joined = (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .join(
            F.broadcast(s),
            (F.col("l_suppkey") == F.col("s_suppkey"))
            & (F.col("c_nationkey") == F.col("s_nationkey")),
        )
        .join(F.broadcast(n), F.col("s_nationkey") == F.col("n_nationkey"))
        .join(F.broadcast(r), F.col("n_regionkey") == F.col("r_regionkey"))
    )
    return joined.groupBy(F.col("r_name"), F.col("n_name")).agg(
        F.sum(rev).cast("double").alias("revenue"),
        F.count(F.lit(1)).cast("bigint").alias("n_items"),
    )


ORACLE_Q138 = """
SELECT r_name, n_name,
       CAST(sum(CAST(
         CAST(l_extendedprice AS DECIMAL(18,2)) *
         (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
         AS DECIMAL(18,4))) AS DOUBLE) AS revenue,
       CAST(count(*) AS BIGINT) AS n_items
FROM lineitem
JOIN orders   ON l_orderkey = o_orderkey
JOIN customer ON o_custkey = c_custkey
JOIN supplier ON l_suppkey = s_suppkey AND c_nationkey = s_nationkey
JOIN nation   ON s_nationkey = n_nationkey
JOIN region   ON n_regionkey = r_regionkey
WHERE o_orderdate >= TIMESTAMP '1996-01-01'
  AND o_orderdate <  TIMESTAMP '1998-01-01'
  AND r_name IN ('ASIA', 'EUROPE')
GROUP BY r_name, n_name
"""


def q136_streaming_cdc_apply(spark, sf_dir):
    """STREAMING incremental SCD2/CDC apply — the foreachBatch MERGE
    loop every CDC consumer runs: the q41 changelog (upserts, deletes,
    re-opens, same-instant conflicts) drained in THREE chronological
    micro-batches, each batch incrementally applied onto the stored
    dimension via scd2_apply(keep_tombstones=True), final read
    filtering tombstones.  One-shot q41 proves the algebra; this
    proves the INCREMENTAL loop converges to the same table — the
    property a year-long changelog consumer actually relies on.

    The loop MUST carry tombstones forward as state: without the
    delete row, a later batch's re-opening upsert would recompute the
    closed version's valid_to past the delete and resurrect it
    (operators/scd2.py docstring).  n % 4 == 0 sources hit exactly
    that path — v3 (day d1+7, batch 3) re-opens after the delete (day
    d1+3, batch 1/2) — so a tombstone-dropping loop turns this row
    red.  Chronological batching makes same-instant conflicts
    intra-batch by construction (equal timestamps cannot split), where
    the delete-beats-upsert rule applies.

    Scale shape: each micro-batch apply is q41's plan — one union +
    two DIMENSION-keyed windows; state is the dimension (domains, not
    pages).  Oracle = ORACLE_Q41 verbatim: the streaming loop must
    reproduce the one-shot table bit-for-bit."""
    import tempfile

    from ..operators.scd2 import scd2_apply
    from ..sources.pages import write_batch_files

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
        F.lit("upsert").alias("cdc_op"),
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
    changelog = (
        v2.unionByName(del_after).unionByName(v3).unionByName(del_same)
    )
    pdf = changelog.toPandas().sort_values(
        ["valid_from", "source"], kind="mergesort"
    )
    cut1 = pdf["valid_from"].quantile(0.34, interpolation="lower")
    cut2 = pdf["valid_from"].quantile(0.67, interpolation="lower")
    batches = [
        pdf[pdf["valid_from"] <= cut1],
        pdf[(pdf["valid_from"] > cut1) & (pdf["valid_from"] <= cut2)],
        pdf[pdf["valid_from"] > cut2],
    ]
    root = tempfile.mkdtemp(prefix="wrs-q136-")
    srcdir, ckpt = f"{root}/src", f"{root}/ckpt"
    write_batch_files(batches, srcdir)
    dim.write.mode("overwrite").parquet(f"{root}/state_init")
    state = {"last": f"{root}/state_init"}
    ddl = "source string, template_fp string, valid_from timestamp, op string"
    stream = (
        spark.readStream.schema(ddl)
        .option("maxFilesPerTrigger", 1)
        .parquet(srcdir)
    )

    def apply_batch(batch_df, batch_id):
        prev = spark.read.parquet(state["last"])
        new = scd2_apply(
            prev,
            batch_df,
            ["source"],
            op_col="op",
            dim_op_col="cdc_op",
            keep_tombstones=True,
        )
        out = f"{root}/state_{int(batch_id):05d}"
        new.write.mode("overwrite").parquet(out)
        state["last"] = out

    q = (
        stream.writeStream.foreachBatch(apply_batch)
        .option("checkpointLocation", ckpt)
        .trigger(availableNow=True)
        .start()
    )
    q.awaitTermination(600)
    final = spark.read.parquet(state["last"])
    return final.where(F.col("cdc_op") != "delete").select(
        "source",
        "template_fp",
        F.floor(F.unix_timestamp("valid_from")).cast("bigint").alias("valid_from_epoch"),
        F.floor(F.unix_timestamp("valid_to")).cast("bigint").alias("valid_to_epoch"),
    )


def q134_sorted_neighborhood_pairs(spark, sf_dir):
    """Sorted-neighborhood blocking for record linkage — the OTHER
    classical blocker next to q89's prefix blocks: sort mentions by a
    key, compare only rows within a ±2-position window, run the exact
    levenshtein predicate inside the neighborhood.  Multi-pass with a
    second sort key (the reversed name) per the published method, so
    pairs split by a pass-1 block boundary get a second chance; the
    operator's contract is the deterministic SN candidate set itself
    (SN is by definition a heuristic blocker — determinism, not
    recall, is what the oracle pins).

    Scale shape: each pass is ONE block-key shuffle (block = first 2
    chars of the pass key) with an in-block sort — never a global
    single-partition window — and the neighborhood is generated by
    two lead() offsets, so candidate fan-out is a hard 2 rows per
    mention per pass (vs prefix-blocking's whole-block quadratic
    worst case: SN is the skew-proof blocker)."""
    docs = _t(spark, sf_dir, "documents")
    m = F.col("doc_id") % 4
    c = F.concat(F.col("source"), F.lit("-item-"), (F.col("doc_id") % 40).cast("string"))
    dirty = (
        F.when(m == 1, F.expr("substring(c, 1, length(c) - 1)"))
        .when(m == 2, F.replace(F.col("c"), F.lit("item"), F.lit("itme")))
        .when(m == 3, F.concat(F.col("c"), F.lit("x")))
        .otherwise(F.col("c"))
    )
    mentions = docs.select("doc_id", c.alias("c")).select(
        "doc_id", dirty.alias("name")
    )

    def sn_pass(keyed: DataFrame) -> DataFrame:
        w = Window.partitionBy("blk").orderBy("k", "doc_id")
        nb = keyed.select(
            "doc_id",
            "name",
            F.lead("doc_id", 1).over(w).alias("id1"),
            F.lead("name", 1).over(w).alias("nm1"),
            F.lead("doc_id", 2).over(w).alias("id2"),
            F.lead("name", 2).over(w).alias("nm2"),
        )
        p1 = nb.select("doc_id", "name", F.col("id1").alias("oid"), F.col("nm1").alias("onm"))
        p2 = nb.select("doc_id", "name", F.col("id2").alias("oid"), F.col("nm2").alias("onm"))
        return p1.unionByName(p2).where(F.col("oid").isNotNull())

    pass1 = mentions.select(
        "doc_id", "name", F.col("name").alias("k"), F.substring("name", 1, 2).alias("blk")
    )
    pass2 = mentions.select(
        "doc_id", "name", F.reverse(F.col("name")).alias("k"),
        F.substring(F.reverse(F.col("name")), 1, 2).alias("blk"),
    )
    cand = sn_pass(pass1).unionByName(sn_pass(pass2))
    pairs = cand.select(
        F.least("doc_id", "oid").alias("id_a"),
        F.greatest("doc_id", "oid").alias("id_b"),
        F.when(F.col("doc_id") < F.col("oid"), F.col("name")).otherwise(F.col("onm")).alias("name_a"),
        F.when(F.col("doc_id") < F.col("oid"), F.col("onm")).otherwise(F.col("name")).alias("name_b"),
    ).where(F.col("id_a") != F.col("id_b"))
    return (
        pairs.withColumn("dist", F.levenshtein("name_a", "name_b").cast("bigint"))
        .where(F.col("dist") <= 2)
        .distinct()
    )


ORACLE_Q134 = """
WITH mentions AS (
  SELECT doc_id,
         CASE doc_id % 4
           WHEN 1 THEN substring(c, 1, length(c) - 1)
           WHEN 2 THEN replace(c, 'item', 'itme')
           WHEN 3 THEN c || 'x'
           ELSE c
         END AS name
  FROM (SELECT doc_id, source || '-item-' || (doc_id % 40) AS c FROM documents)
),
p1k AS (SELECT doc_id, name, name AS k, substring(name, 1, 2) AS blk FROM mentions),
p2k AS (SELECT doc_id, name, reverse(name) AS k,
               substring(reverse(name), 1, 2) AS blk FROM mentions),
nb AS (
  SELECT doc_id, name,
         lead(doc_id, 1) OVER w AS id1, lead(name, 1) OVER w AS nm1,
         lead(doc_id, 2) OVER w AS id2, lead(name, 2) OVER w AS nm2
  FROM p1k WINDOW w AS (PARTITION BY blk ORDER BY k, doc_id)
  UNION ALL
  SELECT doc_id, name,
         lead(doc_id, 1) OVER w2 AS id1, lead(name, 1) OVER w2 AS nm1,
         lead(doc_id, 2) OVER w2 AS id2, lead(name, 2) OVER w2 AS nm2
  FROM p2k WINDOW w2 AS (PARTITION BY blk ORDER BY k, doc_id)
),
cand AS (
  SELECT doc_id, name, id1 AS oid, nm1 AS onm FROM nb WHERE id1 IS NOT NULL
  UNION ALL
  SELECT doc_id, name, id2 AS oid, nm2 AS onm FROM nb WHERE id2 IS NOT NULL
),
pairs AS (
  SELECT least(doc_id, oid) AS id_a, greatest(doc_id, oid) AS id_b,
         CASE WHEN doc_id < oid THEN name ELSE onm END AS name_a,
         CASE WHEN doc_id < oid THEN onm ELSE name END AS name_b
  FROM cand WHERE doc_id <> oid
)
SELECT DISTINCT id_a, id_b, name_a, name_b,
       CAST(levenshtein(name_a, name_b) AS BIGINT) AS dist
FROM pairs
WHERE levenshtein(name_a, name_b) <= 2
"""


def q135_funnel_with_timeouts(spark, sf_dir):
    """Loose conversion funnel with per-step timeouts — first view →
    first click within 1 h of it → first purchase within 1 h of THAT,
    intervening events allowed (q65's CEP demands strict adjacency;
    real funnel analytics use this loose form), reported per
    first-view hour cohort with an exact integer-ppm conversion rate.

    Scale shape: every stage is keyed on user_id — three per-user
    aggregates and two equi-joins, all hash-partitioned on the SAME
    key (AQE coalesces the co-partitioned exchanges); the cohort
    aggregate runs over the USER-scale funnel relation, never raw
    events.  No window over the event stream, no fan-out."""
    ev = _t(spark, sf_dir, "events")
    v = (
        ev.where(F.col("event_type") == "view")
        .groupBy("user_id")
        .agg(F.min("ts").alias("v_ts"))
    )
    c = (
        ev.where(F.col("event_type") == "click")
        .join(v, "user_id")
        .where(
            (F.col("ts") > F.col("v_ts"))
            & (F.col("ts") <= F.col("v_ts") + F.expr("interval 1 hour"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("c_ts"))
    )
    p = (
        ev.where(F.col("event_type") == "purchase")
        .join(c, "user_id")
        .where(
            (F.col("ts") > F.col("c_ts"))
            & (F.col("ts") <= F.col("c_ts") + F.expr("interval 1 hour"))
        )
        .groupBy("user_id")
        .agg(F.min("ts").alias("p_ts"))
    )
    funnel = v.join(c, "user_id", "left").join(p, "user_id", "left")
    return funnel.groupBy(
        F.unix_timestamp(F.date_trunc("hour", "v_ts")).alias("cohort_epoch")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_entered"),
        F.count("c_ts").cast("bigint").alias("n_clicked"),
        F.count("p_ts").cast("bigint").alias("n_purchased"),
        F.expr("1000000 * count(p_ts) div count(1)").cast("bigint").alias("conv_ppm"),
    )


ORACLE_Q135 = """
WITH v AS (
  SELECT user_id, min(ts) AS v_ts FROM events
  WHERE event_type = 'view' GROUP BY user_id
),
c AS (
  SELECT e.user_id, min(e.ts) AS c_ts
  FROM events e JOIN v ON v.user_id = e.user_id
  WHERE e.event_type = 'click'
    AND e.ts > v.v_ts AND e.ts <= v.v_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
),
p AS (
  SELECT e.user_id, min(e.ts) AS p_ts
  FROM events e JOIN c ON c.user_id = e.user_id
  WHERE e.event_type = 'purchase'
    AND e.ts > c.c_ts AND e.ts <= c.c_ts + INTERVAL 1 HOUR
  GROUP BY e.user_id
)
SELECT CAST(floor(epoch(date_trunc('hour', v.v_ts))) AS BIGINT) AS cohort_epoch,
       CAST(count(*) AS BIGINT) AS n_entered,
       CAST(count(c.c_ts) AS BIGINT) AS n_clicked,
       CAST(count(p.p_ts) AS BIGINT) AS n_purchased,
       CAST(1000000 * count(p.p_ts) // count(*) AS BIGINT) AS conv_ppm
FROM v
LEFT JOIN c ON c.user_id = v.user_id
LEFT JOIN p ON p.user_id = v.user_id
GROUP BY date_trunc('hour', v.v_ts)
"""


def q131_column_statistics(spark, sf_dir):
    """ANALYZE-style exact column statistics — the catalog-stats pass
    a cost-based optimizer (and any data-quality dashboard) runs over
    every table: per column, row count, NULL count, exact NDV,
    min/max, and the most-common value with its frequency.  Nothing
    else in the catalog emits the per-column stats relation; q49's
    HLL is the approximate NDV twin of the exact NDV computed here.

    One corpus pass: each row is melted into (col_name, val) pairs
    via a single explode (Spark's Generate — no per-column rescan of
    the parquet), then ONE (col, val)-keyed hash aggregate with
    map-side partials feeds a COLUMN-scale final aggregate.  Values
    are order-preserving fixed-width strings: non-negative BIGINTs
    are zero-padded to width 20 (lexicographic == numeric order) and
    the wide `text` column is reduced to its md5 digest BEFORE the
    shuffle so the (col, val) exchange moves fixed-width keys, never
    page bodies (NDV/MCV over digests are exact modulo md5 collision;
    min/max for the digest column are digest-space bounds, stated in
    the col name).  MCV tie-break is deterministic: highest count,
    then smallest value, via one struct-min — no second shuffle.
    NULL accounting is exercised structurally: lang is nulled on
    doc_id % 13 == 0 in BOTH engines (the corpus itself is fully
    populated), the q60 injection discipline."""
    docs = _t(spark, sf_dir, "documents")
    pad = lambda c: F.lpad(F.col(c).cast("string"), 20, "0")  # noqa: E731
    lang_injected = F.when(F.col("doc_id") % 13 == 0, F.lit(None)).otherwise(
        F.col("lang")
    )
    melted = docs.select(
        F.explode(
            F.array(
                F.struct(F.lit("doc_id").alias("col_name"), pad("doc_id").alias("val")),
                F.struct(F.lit("lang").alias("col_name"), lang_injected.alias("val")),
                F.struct(F.lit("source").alias("col_name"), F.col("source").alias("val")),
                F.struct(F.lit("n_chars").alias("col_name"), pad("n_chars").alias("val")),
                F.struct(F.lit("text_md5").alias("col_name"), F.md5(F.col("text")).alias("val")),
            )
        ).alias("cv")
    ).select("cv.col_name", "cv.val")
    per_val = melted.groupBy("col_name", "val").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    return per_val.groupBy("col_name").agg(
        F.sum("n").cast("bigint").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("val").isNull(), F.col("n"))), F.lit(0)
        ).cast("bigint").alias("n_nulls"),
        F.count("val").cast("bigint").alias("n_distinct"),
        F.min("val").alias("min_val"),
        F.max("val").alias("max_val"),
        # struct-min: smallest (-n, val) = highest count, then smallest value
        F.min(
            F.when(
                F.col("val").isNotNull(),
                F.struct((-F.col("n")).alias("neg_n"), F.col("val").alias("v")),
            )
        )["v"].alias("top_val"),
        (-F.min(
            F.when(
                F.col("val").isNotNull(),
                F.struct((-F.col("n")).alias("neg_n"), F.col("val").alias("v")),
            )
        )["neg_n"]).cast("bigint").alias("top_n"),
    )


ORACLE_Q131 = """
WITH melted AS (
  SELECT u.col_name, u.val FROM documents, LATERAL (
    SELECT * FROM (VALUES
      ('doc_id',  lpad(CAST(doc_id AS VARCHAR), 20, '0')),
      ('lang',    CASE WHEN doc_id % 13 = 0 THEN NULL ELSE lang END),
      ('source',  source),
      ('n_chars', lpad(CAST(n_chars AS VARCHAR), 20, '0')),
      ('text_md5', md5(text))
    ) AS t(col_name, val)
  ) u
),
per_val AS (
  SELECT col_name, val, CAST(count(*) AS BIGINT) AS n
  FROM melted GROUP BY col_name, val
),
ranked AS (
  SELECT col_name, val, n,
         row_number() OVER (PARTITION BY col_name
                            ORDER BY n DESC, val ASC) AS rk
  FROM per_val WHERE val IS NOT NULL
)
SELECT p.col_name,
       CAST(sum(p.n) AS BIGINT) AS n_rows,
       CAST(coalesce(sum(CASE WHEN p.val IS NULL THEN p.n END), 0) AS BIGINT)
         AS n_nulls,
       CAST(count(p.val) AS BIGINT) AS n_distinct,
       min(p.val) AS min_val,
       max(p.val) AS max_val,
       max(CASE WHEN r.rk = 1 THEN r.val END) AS top_val,
       CAST(max(CASE WHEN r.rk = 1 THEN r.n END) AS BIGINT) AS top_n
FROM per_val p
LEFT JOIN ranked r ON r.col_name = p.col_name AND r.val = p.val AND r.rk = 1
GROUP BY p.col_name
"""


BITMAP_WORD_BITS = 62  # bits 0..61 — 1<<62 fits signed BIGINT in both engines


def q132_bitmap_audience_algebra(spark, sf_dir):
    """Bitmap-index set algebra — per-event-type user bitmaps and
    JOIN-FREE-per-pair exact intersection/union/Jaccard between
    audiences, the roaring-bitmap discipline every OLAP engine uses
    for segment overlap ("users who did A and B") without shuffling
    user IDs per pair.  Distinct from every sketch in the catalog:
    HLL (q49) estimates one set's cardinality; bitmaps compute EXACT
    multi-set algebra.

    Scale shape: users fold into 62-bit words map-side (word =
    user_id div 62, mask = 1 << (user_id % 62) — 62 not 64: 1<<63
    overflows a signed BIGINT in the oracle engine, and both engines
    must agree bit-for-bit), ONE (type, word) bit_or aggregate builds
    the index (state = |users|/62 words per type), then pairwise
    overlap is a word-aligned equi-join on the BITMAP relation (1/62
    the size of the raw user relation) with sum(bit_count(a AND b)).
    Per-type cardinalities come off the same bitmap, so union =
    |A| + |B| - |A∩B| with no second pass."""
    ev = _t(spark, sf_dir, "events")
    word = F.expr(f"user_id div {BITMAP_WORD_BITS}").cast("bigint").alias("word")
    mask = F.expr(
        f"shiftleft(cast(1 as bigint), cast(user_id % {BITMAP_WORD_BITS} as int))"
    )
    bm = (
        ev.select(F.col("event_type"), word, mask.alias("mask"))
        .groupBy("event_type", "word")
        .agg(F.expr("bit_or(mask)").alias("bits"))
    )
    card = bm.groupBy("event_type").agg(
        F.sum(F.bit_count("bits")).cast("bigint").alias("n_users")
    )
    inter = (
        bm.alias("a")
        .join(bm.alias("b"), on="word")
        .where(F.col("a.event_type") < F.col("b.event_type"))
        .groupBy(
            F.col("a.event_type").alias("type_a"),
            F.col("b.event_type").alias("type_b"),
        )
        .agg(
            F.sum(F.bit_count(F.col("a.bits").bitwiseAND(F.col("b.bits"))))
            .cast("bigint")
            .alias("n_common")
        )
    )
    ca = card.select(F.col("event_type").alias("type_a"), F.col("n_users").alias("n_a"))
    cb = card.select(F.col("event_type").alias("type_b"), F.col("n_users").alias("n_b"))
    out = inter.join(F.broadcast(ca), "type_a").join(F.broadcast(cb), "type_b")
    return out.select(
        "type_a",
        "type_b",
        "n_a",
        "n_b",
        "n_common",
        (F.col("n_a") + F.col("n_b") - F.col("n_common")).cast("bigint").alias("n_union"),
        F.expr("1000000 * n_common div (n_a + n_b - n_common)")
        .cast("bigint")
        .alias("jaccard_ppm"),
    )


ORACLE_Q132 = """
WITH bm AS (
  SELECT event_type, user_id // 62 AS word,
         bit_or(CAST(1 AS BIGINT) << CAST(user_id % 62 AS INTEGER)) AS bits
  FROM events GROUP BY event_type, user_id // 62
),
card AS (
  SELECT event_type, CAST(sum(bit_count(bits)) AS BIGINT) AS n_users
  FROM bm GROUP BY event_type
),
inter AS (
  SELECT a.event_type AS type_a, b.event_type AS type_b,
         CAST(sum(bit_count(a.bits & b.bits)) AS BIGINT) AS n_common
  FROM bm a JOIN bm b ON a.word = b.word AND a.event_type < b.event_type
  GROUP BY a.event_type, b.event_type
)
SELECT i.type_a, i.type_b, ca.n_users AS n_a, cb.n_users AS n_b, i.n_common,
       CAST(ca.n_users + cb.n_users - i.n_common AS BIGINT) AS n_union,
       CAST(1000000 * i.n_common // (ca.n_users + cb.n_users - i.n_common)
            AS BIGINT) AS jaccard_ppm
FROM inter i
JOIN card ca ON ca.event_type = i.type_a
JOIN card cb ON cb.event_type = i.type_b
"""


# The streaming CDC loop must converge to the one-shot q41 table —
# the oracle is shared by design.
ORACLE_Q136 = ORACLE_Q41


# ---------------------------------------------------------------------------
# q142: KMV (bottom-k / theta) distinct sketch with set algebra
# ---------------------------------------------------------------------------

_Q142_K = 64  # sketch size (bottom-k values kept)
_Q142_B = 256  # threshold buckets for the candidate pre-filter
# 52-bit hash (13 hex chars of md5): (K-1) * 2^52 stays far inside
# int64, so every estimator below is pure bigint arithmetic in BOTH
# engines (60-bit hashes would overflow (K-1)*MAXH).
_Q142_MAXH = 1 << 52


def _q142_h52(col, salt: str):
    return F.conv(
        F.substring(F.md5(F.concat(F.lit(salt), col)), 1, 13), 16, 10
    ).cast("bigint")


def _duck_h52(expr: str, salt: str) -> str:
    return f"(('0x' || substr(md5('{salt}' || {expr}), 1, 13))::BIGINT)"


def q142_kmv_distinct_algebra(spark, sf_dir):
    """KMV (bottom-k / theta-style) distinct sketch per event_type
    with SET ALGEBRA across sketches — union and intersection
    cardinality estimates between every audience pair, the question
    ("how many users do signup and purchase share?") that q49's HLL
    cannot answer (HLL unions, but never intersects without
    inclusion-exclusion blow-up) and q132's exact bitmaps answer only
    while user ids stay dense.  Deterministic md5-derived hashes make
    the sketch bit-identical in Spark and DuckDB — checkable, unlike
    approx_count_distinct.

    Scale shape: the corpus pass is ONE linear (type, h%B) min
    aggregate (map-side partials); the k-th smallest bucket-min is a
    provable upper bound on the k-th smallest hash (bucket mins ARE k
    distinct members), so the rank window that extracts the bottom-k
    runs on the tiny ≤h_threshold candidate slice, never on the raw
    relation — exact bottom-k without sorting the corpus.  All set
    algebra then runs on K-row sketches (metadata scale).  Estimators
    are integer-exact: est = (K-1)*2^52 div h_K; intersection via the
    matched fraction of the UNION sketch's bottom-k."""
    K, B, MAXH = _Q142_K, _Q142_B, _Q142_MAXH
    ev = _t(spark, sf_dir, "events")
    hs = ev.select(
        "event_type", _q142_h52(F.col("user_id").cast("string"), "kmv#").alias("h")
    )
    bmin = hs.groupBy("event_type", (F.col("h") % B).alias("bkt")).agg(
        F.min("h").alias("m")
    )
    wb = Window.partitionBy("event_type").orderBy("m")
    thr = (
        bmin.withColumn("rk", F.row_number().over(wb))
        .groupBy("event_type")
        .agg(
            F.max(F.when(F.col("rk") == K, F.col("m"))).alias("t_k"),
            F.count(F.lit(1)).alias("n_bkt"),
        )
        .select(
            "event_type",
            F.when(F.col("n_bkt") >= K, F.col("t_k"))
            .otherwise(F.lit(MAXH))
            .alias("thr"),
        )
    )
    cand = (
        hs.join(F.broadcast(thr), "event_type")
        .where(F.col("h") <= F.col("thr"))
        .select("event_type", "h")
        .distinct()
    )
    wr = Window.partitionBy("event_type").orderBy("h")
    bot = cand.withColumn("rk", F.row_number().over(wr)).where(F.col("rk") <= K)
    per = bot.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_k"),
        F.max(F.when(F.col("rk") == K, F.col("h"))).alias("h_k"),
    )
    est = F.when(F.col("n_k") < K, F.col("n_k")).otherwise(
        F.expr(f"{(K - 1) * MAXH} div h_k")
    )
    per = per.select("event_type", est.cast("bigint").alias("est"))
    ta = per.select(F.col("event_type").alias("type_a"), F.col("est").alias("est_a"))
    tb = per.select(F.col("event_type").alias("type_b"), F.col("est").alias("est_b"))
    pairs = ta.crossJoin(tb).where(F.col("type_a") < F.col("type_b"))
    ua = bot.select(
        F.col("event_type").alias("type_a"), "h", F.lit(1).alias("tag")
    ).join(F.broadcast(pairs.select("type_a", "type_b")), "type_a")
    ub = bot.select(
        F.col("event_type").alias("type_b"), "h", F.lit(2).alias("tag")
    ).join(F.broadcast(pairs.select("type_a", "type_b")), "type_b")
    uni = (
        ua.select("type_a", "type_b", "h", "tag")
        .unionByName(ub.select("type_a", "type_b", "h", "tag"))
        .groupBy("type_a", "type_b", "h")
        .agg(F.sum("tag").alias("tags"))
    )
    wu = Window.partitionBy("type_a", "type_b").orderBy("h")
    ubot = uni.withColumn("rk", F.row_number().over(wu)).where(F.col("rk") <= K)
    usum = ubot.groupBy("type_a", "type_b").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_u"),
        F.max(F.when(F.col("rk") == K, F.col("h"))).alias("h_ku"),
        F.sum(F.when(F.col("tags") == 3, 1).otherwise(0))
        .cast("bigint")
        .alias("n_common"),
    )
    est_u = F.when(F.col("n_u") < K, F.col("n_u")).otherwise(
        F.expr(f"{(K - 1) * MAXH} div h_ku")
    )
    out = usum.withColumn("est_union", est_u.cast("bigint")).join(
        F.broadcast(pairs), ["type_a", "type_b"]
    )
    # below capacity the union sketch IS the union — the matched count
    # is exact; at capacity, scale the matched fraction of bottom-k
    est_i = F.when(F.col("n_u") < K, F.col("n_common")).otherwise(
        F.expr(f"n_common * est_union div {K}")
    )
    return out.select(
        "type_a",
        "type_b",
        "est_a",
        "est_b",
        "est_union",
        "n_common",
        est_i.cast("bigint").alias("est_inter"),
    )


ORACLE_Q142 = f"""
WITH hs AS (
  SELECT event_type, {_duck_h52("user_id::VARCHAR", "kmv#")} AS h FROM events
),
bmin AS (
  SELECT event_type, h % {_Q142_B} AS bkt, min(h) AS m
  FROM hs GROUP BY event_type, h % {_Q142_B}
),
thr AS (
  SELECT event_type,
         CASE WHEN count(*) >= {_Q142_K}
              THEN max(CASE WHEN rk = {_Q142_K} THEN m END)
              ELSE {_Q142_MAXH} END AS thr
  FROM (SELECT event_type, m,
               row_number() OVER (PARTITION BY event_type ORDER BY m) AS rk
        FROM bmin)
  GROUP BY event_type
),
cand AS (
  SELECT DISTINCT hs.event_type, hs.h
  FROM hs JOIN thr ON thr.event_type = hs.event_type
  WHERE hs.h <= thr.thr
),
bot AS (
  SELECT * FROM (
    SELECT event_type, h,
           row_number() OVER (PARTITION BY event_type ORDER BY h) AS rk
    FROM cand)
  WHERE rk <= {_Q142_K}
),
per AS (
  SELECT event_type,
         CAST(CASE WHEN count(*) < {_Q142_K} THEN count(*)
              ELSE {(_Q142_K - 1) * _Q142_MAXH}
                   // max(CASE WHEN rk = {_Q142_K} THEN h END) END
              AS BIGINT) AS est
  FROM bot GROUP BY event_type
),
pairs AS (
  SELECT a.event_type AS type_a, a.est AS est_a,
         b.event_type AS type_b, b.est AS est_b
  FROM per a, per b WHERE a.event_type < b.event_type
),
uni AS (
  SELECT type_a, type_b, h, sum(tag) AS tags FROM (
    SELECT p.type_a, p.type_b, bot.h, 1 AS tag
    FROM bot JOIN pairs p ON bot.event_type = p.type_a
    UNION ALL
    SELECT p.type_a, p.type_b, bot.h, 2 AS tag
    FROM bot JOIN pairs p ON bot.event_type = p.type_b)
  GROUP BY type_a, type_b, h
),
ubot AS (
  SELECT * FROM (
    SELECT type_a, type_b, h, tags,
           row_number() OVER (PARTITION BY type_a, type_b ORDER BY h) AS rk
    FROM uni)
  WHERE rk <= {_Q142_K}
),
usum AS (
  SELECT type_a, type_b,
         CAST(CASE WHEN count(*) < {_Q142_K} THEN count(*)
              ELSE {(_Q142_K - 1) * _Q142_MAXH}
                   // max(CASE WHEN rk = {_Q142_K} THEN h END) END
              AS BIGINT) AS est_union,
         CAST(sum(CASE WHEN tags = 3 THEN 1 ELSE 0 END) AS BIGINT) AS n_common,
         CAST(count(*) AS BIGINT) AS n_u
  FROM ubot GROUP BY type_a, type_b
)
SELECT p.type_a, p.type_b, p.est_a, p.est_b, u.est_union, u.n_common,
       CAST(CASE WHEN u.n_u < {_Q142_K} THEN u.n_common
            ELSE u.n_common * u.est_union // {_Q142_K} END AS BIGINT) AS est_inter
FROM usum u JOIN pairs p ON p.type_a = u.type_a AND p.type_b = u.type_b
"""


def q143_token_weighted_percentiles(spark, sf_dir):
    """Token-WEIGHTED exact length percentiles per lang — the doc
    length below which 50% / 90% of the corpus TOKENS live.  Training
    budgets are spent in tokens, not documents, so the doc-count
    median (q36/q71) answers the wrong question whenever length skews:
    one 100k-token doc outweighs a thousand tweets.  Weighted
    nearest-rank: smallest value v with cum_weight(v)*q >= total*p,
    in cross-multiplied integer arithmetic — no floats, no
    interpolation.

    Scale shape: the corpus pass is ONE (lang, n_chars) hash
    aggregate pre-summing token mass (map-side partials); the
    cumulative window and the percentile picks run on the grouped
    (lang × distinct-length) relation — bounded domain, metadata
    scale, the q128 argument.  Never a window over raw documents."""
    docs = _t(spark, sf_dir, "documents")
    g = (
        docs.select("lang", "n_chars", token_count_expr(F.col("text")).alias("tok"))
        .groupBy("lang", "n_chars")
        .agg(F.sum("tok").cast("bigint").alias("w"))
    )
    wl = Window.partitionBy("lang").orderBy("n_chars")
    c = g.withColumn("cum", F.sum("w").over(wl)).withColumn(
        "total", F.sum("w").over(Window.partitionBy("lang"))
    )
    return c.groupBy("lang").agg(
        F.max("total").cast("bigint").alias("total_tokens"),
        F.min(F.when(F.col("cum") * 2 >= F.col("total"), F.col("n_chars")))
        .cast("bigint")
        .alias("wp50_chars"),
        F.min(F.when(F.col("cum") * 10 >= F.col("total") * 9, F.col("n_chars")))
        .cast("bigint")
        .alias("wp90_chars"),
    )


ORACLE_Q143 = """
WITH g AS (
  SELECT lang, n_chars,
         CAST(sum(len(list_filter(string_split(text, ' '), t -> t <> '')))
              AS BIGINT) AS w
  FROM documents GROUP BY lang, n_chars
),
c AS (
  SELECT lang, n_chars, w,
         sum(w) OVER (PARTITION BY lang ORDER BY n_chars
                      ROWS UNBOUNDED PRECEDING) AS cum,
         sum(w) OVER (PARTITION BY lang) AS total
  FROM g
)
SELECT lang,
       CAST(max(total) AS BIGINT) AS total_tokens,
       CAST(min(CASE WHEN cum * 2 >= total THEN n_chars END) AS BIGINT)
         AS wp50_chars,
       CAST(min(CASE WHEN cum * 10 >= total * 9 THEN n_chars END) AS BIGINT)
         AS wp90_chars
FROM c GROUP BY lang
"""


def q144_cusum_changepoint(spark, sf_dir):
    """Integer-exact CUSUM change-point detection over hourly event
    rates — the sustained-level-shift monitor that complements q126's
    single-spike ratio test: a crawler that silently doubles its rate
    never trips a 2x-spike rule because every window resembles its
    neighbours, but the one-sided CUSUM accumulates the drift and
    alarms.  The recurrence S_i = max(0, S_{i-1} + (n_i - k)) is not
    window-expressible directly, but the classic prefix identity is:
    S_i = P_i - min(0, min_{j<=i} P_j) with P the running sum of
    (n_i - k) — two plain cumulative windows, no recursion, no UDF.
    Reference slack k = floor(mean) + 1 per event_type (integer, so a
    flat series drifts down instead of accumulating on ties); alarm
    threshold h = 4k.  All-integer output: engines cannot diverge.

    Scale shape: one (event_type, hour) corpus aggregate with map-side
    partials; the per-type k is a 5-row broadcast; both cumulative
    windows run per event_type over the WINDOW-COUNT relation
    (hours x types — metadata-scale), never over raw events."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "event_type", F.date_trunc("hour", F.col("ts")).alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ref = hourly.groupBy("event_type").agg(
        (F.expr("sum(n) div count(*)") + 1).cast("bigint").alias("k")
    )
    j = hourly.join(F.broadcast(ref), "event_type")
    w = (
        Window.partitionBy("event_type")
        .orderBy("h")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    p = F.sum(F.col("n") - F.col("k")).over(w)
    d = j.withColumn("p", p).withColumn(
        "cusum", F.col("p") - F.least(F.lit(0), F.min("p").over(w))
    )
    return d.select(
        "event_type",
        F.unix_timestamp("h").cast("bigint").alias("window_epoch"),
        "n",
        "k",
        F.col("cusum").cast("bigint").alias("cusum"),
        (F.col("cusum") >= 4 * F.col("k")).alias("is_alarm"),
    )


ORACLE_Q144 = """
WITH hourly AS (
  SELECT event_type, date_trunc('hour', ts) AS h, CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY event_type, date_trunc('hour', ts)
),
ref AS (
  SELECT event_type, CAST(sum(n) // count(*) + 1 AS BIGINT) AS k
  FROM hourly GROUP BY event_type
),
c AS (
  SELECT hourly.event_type, h, n, k,
         sum(n - k) OVER (PARTITION BY hourly.event_type ORDER BY h
                          ROWS UNBOUNDED PRECEDING) AS p
  FROM hourly JOIN ref ON ref.event_type = hourly.event_type
),
s AS (
  SELECT event_type, h, n, k,
         p - least(0, min(p) OVER (PARTITION BY event_type ORDER BY h
                                   ROWS UNBOUNDED PRECEDING)) AS cusum
  FROM c
)
SELECT event_type, CAST(floor(epoch(h)) AS BIGINT) AS window_epoch, n, k,
       CAST(cusum AS BIGINT) AS cusum, cusum >= 4 * k AS is_alarm
FROM s
"""


# ---------------------------------------------------------------------------
# q145: BPE merge-induction step (tokenizer training inner loop)
# ---------------------------------------------------------------------------

_Q145_TOPK = 20  # post-merge pair table size returned


def q145_bpe_merge_step(spark, sf_dir):
    """One BPE merge-induction step — the inner loop of tokenizer
    TRAINING (count adjacent symbol pairs, pick the most frequent,
    merge it everywhere), which q33's fixed-regex tokenizer consumes
    but nothing in the catalog produces.  Returns the post-merge top
    pair table (the next iteration's input) with the applied merge
    pinned on every row; driver-side iteration extends it to a full
    vocab, the q122 k-means pattern.

    The classic BPE-training reduction makes this tractable: pair
    counting runs over the DISTINCT-WORD frequency table (vocab-scale)
    weighted by word counts — the corpus-scale work is exactly ONE
    word-count aggregate, after which every stage touches thousands of
    rows, not billions.  Merge application is two non-overlapping
    leftmost replaces over the space-joined symbol string (sentinel
    spaces keep multi-char symbols from false-matching across
    boundaries); one pass can strand an occurrence whose shared
    delimiter the previous match consumed, two passes reach the
    simultaneous-merge fixpoint (property-tested: a third pass changes
    nothing).  Both engines' replace() scans leftmost non-overlapping,
    so the result is bit-identical.  Ranks totally ordered by
    (count desc, pair asc) — no tie ambiguity."""
    docs = _t(spark, sf_dir, "documents")
    wf = (
        docs.select(F.explode(F.split("text", " ")).alias("w"))
        .where(F.col("w").rlike("^[a-z]+$"))
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("cnt"))
    )
    sp = wf.select(
        "cnt", F.rtrim(F.regexp_replace(F.col("w"), "(.)", "$1 ")).alias("sp")
    )

    def pair_counts(d):
        syms = F.split("sp", " ")
        pairs = F.when(
            F.size(syms) >= 2,
            F.expr(
                "transform(sequence(1, size(split(sp, ' '))-1),"
                " i -> concat(split(sp, ' ')[i-1], ' ', split(sp, ' ')[i]))"
            ),
        ).otherwise(F.expr("array()"))
        return (
            d.select("cnt", F.explode(pairs).alias("pair"))
            .groupBy("pair")
            .agg(F.sum("cnt").cast("bigint").alias("pc"))
        )

    p1 = pair_counts(sp)
    wb = Window.orderBy(F.col("pc").desc(), F.col("pair").asc())
    # top-1 by (pc desc, pair asc) as a plain struct-min fold — no
    # global window, no single-partition shuffle for the argmax
    best = p1.agg(
        F.min(F.struct((-F.col("pc")).alias("npc"), F.col("pair").alias("pair")))
        .getField("pair")
        .alias("bp")
    ).select("bp", F.replace(F.col("bp"), F.lit(" "), F.lit("")).alias("mg"))
    merged = sp.crossJoin(F.broadcast(best))
    pat = F.concat(F.lit(" "), F.col("bp"), F.lit(" "))
    rep = F.concat(F.lit(" "), F.col("mg"), F.lit(" "))
    s0 = F.concat(F.lit(" "), F.col("sp"), F.lit(" "))
    merged = merged.select(
        "cnt",
        "bp",
        F.trim(F.replace(F.replace(s0, pat, rep), pat, rep)).alias("sp"),
    )
    p2 = pair_counts(merged)
    out = (
        p2.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") <= _Q145_TOPK)
        .crossJoin(F.broadcast(best.select("bp")))
    )
    return out.select(
        F.col("rk").cast("bigint").alias("rk"),
        F.split("pair", " ")[0].alias("left_sym"),
        F.split("pair", " ")[1].alias("right_sym"),
        F.col("pc").alias("pair_count"),
        F.split("bp", " ")[0].alias("merge_left"),
        F.split("bp", " ")[1].alias("merge_right"),
    )


ORACLE_Q145 = f"""
WITH wf AS (
  SELECT w, CAST(count(*) AS BIGINT) AS cnt
  FROM (SELECT unnest(string_split(text, ' ')) AS w FROM documents)
  WHERE regexp_matches(w, '^[a-z]+$')
  GROUP BY w
),
sp AS (
  SELECT cnt, rtrim(regexp_replace(w, '(.)', '\\1 ', 'g')) AS sp FROM wf
),
p1 AS (
  SELECT pair, CAST(sum(cnt) AS BIGINT) AS pc FROM (
    SELECT cnt, unnest(list_transform(
             generate_series(1, len(string_split(sp, ' ')) - 1),
             i -> string_split(sp, ' ')[i] || ' ' || string_split(sp, ' ')[i+1]
           )) AS pair
    FROM sp)
  GROUP BY pair
),
best AS (
  SELECT pair AS bp, replace(pair, ' ', '') AS mg
  FROM p1 ORDER BY pc DESC, pair LIMIT 1
),
merged AS (
  SELECT cnt, bp,
         trim(replace(replace(' ' || sp || ' ', ' ' || bp || ' ', ' ' || mg || ' '),
                      ' ' || bp || ' ', ' ' || mg || ' ')) AS sp
  FROM sp CROSS JOIN best
),
p2 AS (
  SELECT pair, CAST(sum(cnt) AS BIGINT) AS pc FROM (
    SELECT cnt, unnest(list_transform(
             generate_series(1, len(string_split(sp, ' ')) - 1),
             i -> string_split(sp, ' ')[i] || ' ' || string_split(sp, ' ')[i+1]
           )) AS pair
    FROM merged)
  GROUP BY pair
),
rk AS (
  SELECT pair, pc, row_number() OVER (ORDER BY pc DESC, pair) AS rk FROM p2
)
SELECT CAST(rk AS BIGINT) AS rk,
       string_split(pair, ' ')[1] AS left_sym,
       string_split(pair, ' ')[2] AS right_sym,
       pc AS pair_count,
       string_split(bp, ' ')[1] AS merge_left,
       string_split(bp, ' ')[2] AS merge_right
FROM rk CROSS JOIN best
WHERE rk <= {_Q145_TOPK}
"""


def q146_join_size_forecast(spark, sf_dir):
    """Optimizer-grade JOIN-SIZE AND SKEW FORECAST — predict a shuffle
    join's output cardinality and its worst hot key from per-key count
    histograms WITHOUT running the join: |A join B| = sum over matched
    keys of c_A(k)*c_B(k), exactly.  At 100 TB this cheap forecast (two
    linear aggregates + an equi-join of KEY-scale relations) is what
    decides broadcast vs shuffle vs salting (q90) before committing to
    a multi-hour shuffle; the skew ratio (hot key's share in ppm) is
    the salting trigger.  All-integer output.

    Scale shape: per join, two single-shuffle key-count aggregates
    (map-side partials), one fixed-width-key equi-join between the
    AGGREGATED relations (orders-of-magnitude smaller than the data),
    one global fold.  Nothing touches the forecasted join itself."""
    joins = [
        ("customer_orders", _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k")),
         _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k"))),
        ("orders_lineitem", _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k")),
         _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k"))),
    ]
    outs = []
    for name, left, right in joins:
        la = left.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("cl"))
        ra = right.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("cr"))
        m = la.join(ra, "k")
        outs.append(
            m.agg(
                F.lit(name).alias("join_name"),
                F.sum("cl").cast("bigint").alias("left_rows_matched"),
                F.sum("cr").cast("bigint").alias("right_rows_matched"),
                F.count(F.lit(1)).cast("bigint").alias("match_keys"),
                F.sum(F.col("cl") * F.col("cr")).cast("bigint").alias("predicted_rows"),
                F.max(F.col("cl") * F.col("cr")).cast("bigint").alias("max_key_rows"),
                F.expr("CAST(max(cl * cr) * 1000000 div sum(cl * cr) AS BIGINT)")
                .alias("skew_ppm"),
            )
        )
    return outs[0].unionByName(outs[1])


ORACLE_Q146 = """
WITH co AS (
  SELECT 'customer_orders' AS join_name, la.cl, ra.cr
  FROM (SELECT c_custkey AS k, CAST(count(*) AS BIGINT) AS cl
        FROM customer GROUP BY c_custkey) la
  JOIN (SELECT o_custkey AS k, CAST(count(*) AS BIGINT) AS cr
        FROM orders GROUP BY o_custkey) ra ON la.k = ra.k
),
ol AS (
  SELECT 'orders_lineitem' AS join_name, la.cl, ra.cr
  FROM (SELECT o_orderkey AS k, CAST(count(*) AS BIGINT) AS cl
        FROM orders GROUP BY o_orderkey) la
  JOIN (SELECT l_orderkey AS k, CAST(count(*) AS BIGINT) AS cr
        FROM lineitem GROUP BY l_orderkey) ra ON la.k = ra.k
),
u AS (SELECT * FROM co UNION ALL SELECT * FROM ol)
SELECT join_name,
       CAST(sum(cl) AS BIGINT) AS left_rows_matched,
       CAST(sum(cr) AS BIGINT) AS right_rows_matched,
       CAST(count(*) AS BIGINT) AS match_keys,
       CAST(sum(cl * cr) AS BIGINT) AS predicted_rows,
       CAST(max(cl * cr) AS BIGINT) AS max_key_rows,
       CAST(max(cl * cr) * 1000000 // sum(cl * cr) AS BIGINT) AS skew_ppm
FROM u GROUP BY join_name
"""


# ---------------------------------------------------------------------------
# q147: STREAMING Bloom-pruned stream-static enrichment
# ---------------------------------------------------------------------------

_Q147_N = 300  # fixture users/events per base batch


def q147_streaming_bloom_pruned_enrich(spark, sf_dir):
    """STREAMING runtime-filter pruning — q54's Bloom pattern applied
    INSIDE an unbounded stream: the static 'suspended users' dimension
    folds into a few-hundred-byte bitmap whose membership predicate is
    inlined as literals into the stream's map-side filter, so at
    100 TB/day the stream drops non-candidates BEFORE any join or
    state; survivors are exact-verified by a STATELESS stream-static
    broadcast left join (Spark re-plans the static side each trigger),
    then counted per event-time window under a watermark.

    BF_BITS=256 is deliberately undersized so false positives occur at
    fixture scale and the oracle must reproduce the bitmap bit-for-bit
    (n_candidates > n_exact_hits in at least one window —
    pytest-asserted); candidates that fail the exact join are counted
    but not enriched, so FPs cost wasted candidates, never wrong
    answers.  Fixture timeline is pure arithmetic the oracle rebuilds
    from range(); watermark pushers flush every real window."""
    import pandas as pd

    from ..functions.bloom import (
        BF_K,
        bloom_build_words,
        bloom_member_expr,
        bloom_position_exprs,
    )
    from ..sources.pages import stream_events_files, write_batch_files

    t0 = pd.Timestamp(STATIC_T0_EPOCH, unit="s")
    n = _Q147_N

    def ev_batch(rows, id0):
        return pd.DataFrame(
            {
                "event_id": [id0 + j for j in range(len(rows))],
                "ts": [t0 + pd.Timedelta(seconds=s) for _, s in rows],
                "user_id": [u for u, _ in rows],
                "event_type": ["crawl"] * len(rows),
                "value": [0.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )

    # Watermark pushers MUST be bloom MEMBERS (multiples of 7):
    # Catalyst pushes the deterministic bloom predicate BELOW the
    # EventTimeWatermark operator, so only rows that survive the
    # pruning filter advance the watermark — a pusher the filter drops
    # would leave the last real windows open forever.  (Production
    # rule this encodes: heartbeat rows must pass every map-side
    # pruning predicate, or the watermark stalls.)  Their own +7200
    # window never closes and is excluded by the epoch cut below.
    batches = [
        ev_batch([(i, i * 7) for i in range(n)], 0),
        ev_batch([(i, 2400 + i) for i in range(n) if i % 3 == 0], 10000),
        ev_batch([(0, 7200), (7, 7207)], 20000),
        ev_batch([(14, 7214), (21, 7221)], 25000),
    ]
    src = _q_tmpdir("wrs-q-bloomstream-")
    write_batch_files(batches, src)

    susp = spark.createDataFrame(
        pd.DataFrame({"user_id": [u for u in range(n) if u % 7 == 0]})
    )
    dim_path = _q_tmpdir("wrs-q-susp-")
    susp.write.mode("overwrite").parquet(dim_path)
    static_susp = spark.read.parquet(dim_path)
    words = bloom_build_words(static_susp, "user_id")

    stream = stream_events_files(spark, src, 1).withWatermark("ts", "10 minutes")
    probe = stream.select(
        "ts", "user_id", *bloom_position_exprs(F.col("user_id").cast("string"))
    )
    cand = probe.where(
        bloom_member_expr(words, [f"p{i}" for i in range(BF_K)])
    )
    enriched = cand.join(
        F.broadcast(static_susp.withColumn("is_susp", F.lit(True))),
        "user_id",
        "left",
    )
    agg = enriched.groupBy(F.window("ts", "10 minutes")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_candidates"),
        F.sum(F.when(F.col("is_susp"), 1).otherwise(0))
        .cast("bigint")
        .alias("n_exact_hits"),
    )
    out = _drain(
        agg.select(
            F.unix_timestamp("window.start").cast("bigint").alias("window_start_epoch"),
            "n_candidates",
            "n_exact_hits",
        ),
        spark,
    )
    return out.where(F.col("window_start_epoch") < STATIC_T0_EPOCH + 3600)


def _oracle_q147() -> str:
    from ..functions.bloom import BF_BITS, duck_bloom_ctes

    h = lambda i: (  # noqa: E731
        f"(('0x' || substr(md5('bf{i}#' || user_id::VARCHAR), 1, 15))::BIGINT)"
        f" % {BF_BITS}"
    )
    n = _Q147_N
    words = duck_bloom_ctes(
        f"SELECT CAST(u.i AS BIGINT)::VARCHAR AS k"
        f" FROM UNNEST(range(0, {n}, 7)) AS u(i)",
        "k",
    )
    return f"""
WITH words AS (
{words}
), ks AS (SELECT CAST(u.i AS BIGINT) AS i FROM UNNEST(range({n})) AS u(i)),
ev AS (
  SELECT i AS user_id, {STATIC_T0_EPOCH} + i * 7 AS epoch FROM ks
  UNION ALL
  SELECT i AS user_id, {STATIC_T0_EPOCH} + 2400 + i AS epoch FROM ks WHERE i % 3 = 0
),
probe AS (
  SELECT epoch, user_id, {h(0)} AS p0, {h(1)} AS p1 FROM ev
),
m AS (
  SELECT pr.epoch, pr.user_id,
         coalesce(w0.bits, 0::UBIGINT) AS b0, coalesce(w1.bits, 0::UBIGINT) AS b1,
         pr.p0, pr.p1
  FROM probe pr
  LEFT JOIN words w0 ON w0.w = pr.p0 // 64
  LEFT JOIN words w1 ON w1.w = pr.p1 // 64
),
cand AS (
  SELECT epoch, user_id FROM m
  WHERE ((b0 >> CAST(p0 % 64 AS INT)) & 1::UBIGINT) = 1::UBIGINT
    AND ((b1 >> CAST(p1 % 64 AS INT)) & 1::UBIGINT) = 1::UBIGINT
)
SELECT (epoch // 600) * 600 AS window_start_epoch,
       CAST(count(*) AS BIGINT) AS n_candidates,
       CAST(sum(CASE WHEN user_id % 7 = 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_exact_hits
FROM cand GROUP BY 1
"""


_Q148_K = 100
_Q148_M = 1 << 52


def q148_priority_sample(spark, sf_dir):
    """EXACT-K weighted sampling without replacement via priority
    sampling: each doc gets integer priority (w * 2^52) div (h + 1)
    with w = n_chars and h the deterministic 52-bit portable hash (the
    integer form of the classic w/u priority, u uniform), and the
    sample is the global top-K by (priority desc, doc_id) — so
    inclusion probability is proportional to weight but the output
    size is EXACTLY K, the fixed-budget guarantee q76's per-row
    Bernoulli (expected size only) cannot give.  Pure integer
    arithmetic; membership is a function of (doc_id, n_chars) alone —
    reproducible across clusters, partitionings and reruns.

    Scale shape: priority is a map-side expression; the global top-K
    plans as TakeOrderedAndProject (per-partition heap top-K + driver
    merge of K-row slices — plan-audited) — NEVER a full sort of the
    corpus.  w*2^52 <= 577*2^52 < 2^63: no overflow at fixture scale;
    production re-scales the modulus to its weight ceiling."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(f"CAST(n_chars AS BIGINT) * CAST({_Q148_M} AS BIGINT)").alias("__wm"),
        _q142_h52(F.col("doc_id").cast("string"), "prio#").alias("__h"),
    ).select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr("__wm div (__h + 1)").alias("priority"),
    )
    return d.orderBy(F.col("priority").desc(), F.col("doc_id").asc()).limit(_Q148_K)


ORACLE_Q148 = f"""
SELECT doc_id, lang, n_chars,
       CAST(n_chars AS BIGINT) * {_Q148_M}
         // ({_duck_h52("doc_id::VARCHAR", "prio#")} + 1) AS priority
FROM documents
ORDER BY priority DESC, doc_id
LIMIT {_Q148_K}
"""


def q149_streaming_mincount_distinct(spark, sf_dir):
    """STREAMING windowed bucket-min/occupancy distinct sketch — the
    min-based complement of q53's rho-based HLL and the streaming
    counterpart of q142's KMV bottom-k: bucket mins are idempotent and
    merge-associative, so chained stateful aggregations keep state
    bounded at B=256 rows per (window, lang) on an unbounded stream.
    The hash-compared surface is PURE INTEGER — occupancy n_present
    (the linear-counting statistic) and min_sum (raw sketch mass,
    <= 2^60) — while the ln()-based linear-counting estimate lives in
    ``mincount_lc_estimate`` and is pytest-bracketed vs exact
    distinct, the exact split HLL uses for its small-range correction.
    Same sentinel-pinned derived stream as q53."""
    from ..functions.sketches import mincount_windowed_stream
    from ..sources.pages import stream_pages_files

    src, _ = _derived_stream_fixture(spark, sf_dir)
    stream = stream_pages_files(spark, src, 1)
    out = _drain(mincount_windowed_stream(stream, "url"), spark)
    return out.where(
        F.col("window_start") < F.lit("2027-01-01").cast("timestamp")
    ).select(
        F.unix_timestamp("window_start").cast("bigint").alias("window_start_epoch"),
        "lang",
        "n_present",
        "min_sum",
    )


def _oracle_q149() -> str:
    from ..functions.sketches import MC_BUCKETS, MC_HEX

    hv = f"(('0x' || substr(md5('mc#' || url), 1, {MC_HEX}))::BIGINT)"
    return f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), br AS (
  SELECT CAST(floor(epoch(warc_ts) / 600) AS BIGINT) * 600 AS ws, lang,
         {hv} % {MC_BUCKETS} AS b, {hv} AS h
  FROM pages
  WHERE url IS NOT NULL
), regs AS (
  SELECT ws, lang, b, min(h) AS m FROM br GROUP BY 1, 2, 3
)
SELECT ws AS window_start_epoch, lang,
       CAST(count(*) AS BIGINT) AS n_present,
       CAST(sum(m) AS BIGINT) AS min_sum
FROM regs GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q150: STREAMING exact distinct via bitmap words (dense id spaces)
# ---------------------------------------------------------------------------

_Q150_N = 400


def q150_streaming_bitmap_distinct(spark, sf_dir):
    """STREAMING windowed EXACT distinct-user counting via bitmap
    words — the exact complement of q53/q149's sketches for DENSE,
    BOUNDED id spaces (user ids, shard ids): bit_or folds each
    64-id block into one long word (idempotent — replayed rows cannot
    flip a set bit twice; merge-associative — partial words combine in
    any order), so chained stateful aggregations hold |id_space|/64
    words per window instead of one state row per distinct user, and
    the popcount sum is EXACT, not an estimate.  q132 is the batch
    bitmap algebra; this is its streaming form.  State math: 10^9
    dense users = 16M words/window (~128 MB) — exact distinct where
    HLL would be the only option otherwise; sketches (q53/q149) remain
    the answer for unbounded/sparse domains like URLs.

    Fixture timeline is pure arithmetic (q100 pattern) with
    deliberate within-window duplicates (user_id = i % 100 against
    120-event windows), so exactness vs count(DISTINCT) is non-vacuous;
    watermark pushers flush every real window."""
    import pandas as pd

    from ..sources.pages import stream_events_files, write_batch_files

    t0 = pd.Timestamp(STATIC_T0_EPOCH, unit="s")
    n = _Q150_N

    def ev_batch(rows, id0):
        return pd.DataFrame(
            {
                "event_id": [id0 + j for j in range(len(rows))],
                "ts": [t0 + pd.Timedelta(seconds=s) for _, s in rows],
                "user_id": [u for u, _ in rows],
                "event_type": ["crawl"] * len(rows),
                "value": [0.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )

    batches = [
        ev_batch([(i % 100, i * 5) for i in range(n)], 0),
        ev_batch([(3 * i, 2400 + i) for i in range(100)], 10000),
        ev_batch([(0, 7200), (1, 7207)], 20000),
        ev_batch([(2, 7214), (3, 7221)], 25000),
    ]
    src = _q_tmpdir("wrs-q-bitmapstream-")
    write_batch_files(batches, src)

    stream = stream_events_files(spark, src, 1).withWatermark("ts", "10 minutes")
    words = stream.groupBy(
        F.window("ts", "10 minutes").alias("w"),
        F.expr("user_id div 64").alias("word_idx"),
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)))"
        ).alias("word")
    )
    agg = words.groupBy(F.window(F.col("w"), "10 minutes").alias("w2")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words"),
        F.sum(F.bit_count("word")).cast("bigint").alias("n_distinct"),
    )
    out = _drain(
        agg.select(
            F.unix_timestamp("w2.start").cast("bigint").alias("window_start_epoch"),
            "n_words",
            "n_distinct",
        ),
        spark,
    )
    return out.where(F.col("window_start_epoch") < STATIC_T0_EPOCH + 3600)


ORACLE_Q150 = f"""
WITH ev AS (
  SELECT CAST(u.i % 100 AS BIGINT) AS user_id,
         {STATIC_T0_EPOCH} + u.i * 5 AS epoch
  FROM UNNEST(range({_Q150_N})) AS u(i)
  UNION ALL
  SELECT CAST(3 * u.i AS BIGINT), {STATIC_T0_EPOCH} + 2400 + u.i
  FROM UNNEST(range(100)) AS u(i)
),
words AS (
  SELECT (epoch // 600) * 600 AS ws, user_id // 64 AS word_idx,
         bit_or(1::UBIGINT << CAST(user_id % 64 AS INT)) AS word
  FROM ev GROUP BY 1, 2
)
SELECT ws AS window_start_epoch,
       CAST(count(*) AS BIGINT) AS n_words,
       CAST(sum(bit_count(word)) AS BIGINT) AS n_distinct
FROM words GROUP BY ws
"""


def q151_lm_hit_scoring(spark, sf_dir):
    """LM-table document scoring — APPLYING q109's count tables as a
    quality filter: each document's bigrams are checked against the
    corpus bigram table (kept where count >= 3), and the per-doc hit
    rate in exact integer ppm is the perplexity-proxy signal modern
    pipelines threshold on (a doc whose word transitions rarely occur
    elsewhere is boilerplate, gibberish, or another language).
    Self-referential by design, like q109: the corpus scores itself.

    Scale shape: ONE bigram explode feeding both the table build (hash
    agg with map-side partials) and the per-doc totals; membership is
    one fixed-width equi-join (left semi) between the exploded bigrams
    and the VOCAB²-bounded known table; per-doc folds are linear.
    Integer-exact ppm — no floats."""
    docs = _t_wide(spark, sf_dir, "documents")
    tk = tokens_expr(F.col("text"))
    n = F.size(tk)
    pairs = docs.where(n >= 2).select(
        "doc_id",
        F.explode(
            F.arrays_zip(
                F.slice(tk, 1, n - 1).alias("t1"), F.slice(tk, 2, n - 1).alias("t2")
            )
        ).alias("p"),
    ).select("doc_id", F.col("p.t1").alias("t1"), F.col("p.t2").alias("t2"))
    known = (
        pairs.groupBy("t1", "t2")
        .agg(F.count(F.lit(1)).alias("n_ab"))
        .where(F.col("n_ab") >= 3)
        .select("t1", "t2")
    )
    tot = pairs.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_bigrams")
    )
    hits = (
        semi_join(
            pairs,
            known.select(F.col("t1").alias("__k1"), F.col("t2").alias("__k2")),
            (pairs.t1 == F.col("__k1")) & (pairs.t2 == F.col("__k2")),
        )
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_hits"))
    )
    return (
        tot.join(hits, "doc_id", "left")
        .select(
            "doc_id",
            "n_bigrams",
            F.coalesce(F.col("n_hits"), F.lit(0)).cast("bigint").alias("n_hits"),
        )
        .withColumn(
            "hit_ppm", F.expr("n_hits * 1000000 div n_bigrams").cast("bigint")
        )
    )


ORACLE_Q151 = """
WITH tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
), pairs AS (
  SELECT doc_id, toks[CAST(u.i + 1 AS INT)] AS t1, toks[CAST(u.i + 2 AS INT)] AS t2
  FROM tk, UNNEST(range(len(toks) - 1)) AS u(i)
  WHERE len(toks) >= 2
), known AS (
  SELECT t1, t2 FROM pairs GROUP BY t1, t2 HAVING count(*) >= 3
), tot AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_bigrams FROM pairs GROUP BY doc_id
), hits AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS n_hits
  FROM pairs p
  WHERE EXISTS (SELECT 1 FROM known k WHERE k.t1 = p.t1 AND k.t2 = p.t2)
  GROUP BY doc_id
)
SELECT t.doc_id, t.n_bigrams,
       CAST(coalesce(h.n_hits, 0) AS BIGINT) AS n_hits,
       CAST(coalesce(h.n_hits, 0) * 1000000 // t.n_bigrams AS BIGINT) AS hit_ppm
FROM tot t LEFT JOIN hits h ON h.doc_id = t.doc_id
"""


def q152_referential_integrity_audit(spark, sf_dir):
    """Referential-integrity audit over every FK edge of the schema —
    the dbt-test family run as ONE query: per edge, child volume,
    distinct child keys, ORPHAN child rows (keys with no parent — the
    broken-pipeline signal), parents, parents actually referenced, and
    unused parents (dimension bloat).  At 100 TB these audits gate
    every load; a full anti-join per edge would re-shuffle the fact
    tables, so everything here runs on KEY-COUNT relations.

    Scale shape: per edge, one linear child key-count agg + one
    distinct-parent-key projection, then LEFT joins between those
    AGGREGATED relations (orphan rows = child counts whose key found
    no parent) — the fact table is touched exactly once, by the
    aggregate."""
    edges = [
        ("orders->customer", _t(spark, sf_dir, "orders").select(F.col("o_custkey").alias("k")),
         _t(spark, sf_dir, "customer").select(F.col("c_custkey").alias("k"))),
        ("lineitem->orders", _t(spark, sf_dir, "lineitem").select(F.col("l_orderkey").alias("k")),
         _t(spark, sf_dir, "orders").select(F.col("o_orderkey").alias("k"))),
        ("customer->nation", _t(spark, sf_dir, "customer").select(F.col("c_nationkey").alias("k")),
         _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))),
        ("supplier->nation", _t(spark, sf_dir, "supplier").select(F.col("s_nationkey").alias("k")),
         _t(spark, sf_dir, "nation").select(F.col("n_nationkey").alias("k"))),
        ("nation->region", _t(spark, sf_dir, "nation").select(F.col("n_regionkey").alias("k")),
         _t(spark, sf_dir, "region").select(F.col("r_regionkey").alias("k"))),
    ]
    outs = []
    for name, child, parent in edges:
        ck = child.groupBy("k").agg(F.count(F.lit(1)).cast("bigint").alias("c"))
        pk = parent.select("k").distinct().withColumn("__p", F.lit(1))
        m = ck.join(pk, "k", "left")
        outs.append(
            m.agg(
                F.lit(name).alias("fk_edge"),
                F.sum("c").cast("bigint").alias("child_rows"),
                F.count(F.lit(1)).cast("bigint").alias("child_keys"),
                F.sum(F.when(F.col("__p").isNull(), F.col("c")).otherwise(0))
                .cast("bigint")
                .alias("orphan_rows"),
                F.sum(F.when(F.col("__p").isNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("orphan_keys"),
                F.sum(F.when(F.col("__p").isNotNull(), 1).otherwise(0))
                .cast("bigint")
                .alias("parents_referenced"),
            ).crossJoin(
                F.broadcast(
                    pk.agg(F.count(F.lit(1)).cast("bigint").alias("parent_keys"))
                )
            )
        )
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "fk_edge",
        "child_rows",
        "child_keys",
        "orphan_rows",
        "orphan_keys",
        "parent_keys",
        "parents_referenced",
        (F.col("parent_keys") - F.col("parents_referenced"))
        .cast("bigint")
        .alias("unused_parents"),
    )


def _oracle_q152_edge(name: str, child: str, ckey: str, parent: str, pkey: str) -> str:
    return f"""
  SELECT '{name}' AS fk_edge,
         CAST(sum(c) AS BIGINT) AS child_rows,
         CAST(count(*) AS BIGINT) AS child_keys,
         CAST(sum(CASE WHEN p IS NULL THEN c ELSE 0 END) AS BIGINT) AS orphan_rows,
         CAST(sum(CASE WHEN p IS NULL THEN 1 ELSE 0 END) AS BIGINT) AS orphan_keys,
         (SELECT CAST(count(DISTINCT {pkey}) AS BIGINT) FROM {parent}) AS parent_keys,
         CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS parents_referenced,
         (SELECT CAST(count(DISTINCT {pkey}) AS BIGINT) FROM {parent})
           - CAST(sum(CASE WHEN p IS NOT NULL THEN 1 ELSE 0 END) AS BIGINT)
           AS unused_parents
  FROM (SELECT ck.k, ck.c, pk.p
        FROM (SELECT {ckey} AS k, CAST(count(*) AS BIGINT) AS c
              FROM {child} GROUP BY {ckey}) ck
        LEFT JOIN (SELECT DISTINCT {pkey} AS k, 1 AS p FROM {parent}) pk
          ON pk.k = ck.k)
"""


ORACLE_Q152 = " UNION ALL ".join(
    [
        _oracle_q152_edge("orders->customer", "orders", "o_custkey", "customer", "c_custkey"),
        _oracle_q152_edge("lineitem->orders", "lineitem", "l_orderkey", "orders", "o_orderkey"),
        _oracle_q152_edge("customer->nation", "customer", "c_nationkey", "nation", "n_nationkey"),
        _oracle_q152_edge("supplier->nation", "supplier", "s_nationkey", "nation", "n_nationkey"),
        _oracle_q152_edge("nation->region", "nation", "n_regionkey", "region", "r_regionkey"),
    ]
)


# ---------------------------------------------------------------------------
# q153: zone-map data-skipping audit (layout A/B evaluation)
# ---------------------------------------------------------------------------

_Q153_ROWS_PER_FILE = 20


def q153_zone_map_skipping_audit(spark, sf_dir):
    """Zone-map DATA-SKIPPING audit — evaluate, before rewriting a
    100-TB table, how many files a predicate workload could skip under
    the current arrival layout vs a proposed clustered layout: files
    are simulated as fixed-size row buckets, per-file min/max zone
    maps are computed for the filter columns, and each predicate is
    tested for INTERVAL OVERLAP against every file's zones — exactly
    the pruning parquet/Iceberg do from footer stats.  q77 audits
    z-order span bounds; this instead measures a concrete WORKLOAD's
    scan fraction under two layouts (the number that decides whether
    the rewrite pays for itself).

    Layout assignment without a global sort: the clustered position is
    (cumulative count of strictly-earlier (lang, n_chars) groups) +
    (rank within the group) — the cum-window runs on the
    bounded-domain GROUP relation and the within-group rank is a
    partitioned parallel window; provably equal to row_number over
    (lang, n_chars, doc_id), which the oracle uses directly.  Zone
    checks run on the FILE relation (corpus/20 rows)."""
    rpf = _Q153_ROWS_PER_FILE
    docs = _t(spark, sf_dir, "documents").select("doc_id", "lang", "n_chars")

    # arrival layout: insertion order
    arrival = docs.select(
        F.lit("arrival").alias("layout"),
        (F.col("doc_id") / rpf).cast("bigint").alias("file_id"),
        "lang",
        "n_chars",
    )
    # clustered layout: position = group_start + rank_within_group
    grp = docs.groupBy("lang", "n_chars").agg(F.count(F.lit(1)).alias("gn"))
    wg = (
        Window.orderBy("lang", "n_chars")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    starts = grp.withColumn(
        "gstart", F.coalesce(F.sum("gn").over(wg), F.lit(0))
    ).select("lang", "n_chars", "gstart")
    wr = Window.partitionBy("lang", "n_chars").orderBy("doc_id")
    clustered = (
        docs.withColumn("lrk", F.row_number().over(wr) - 1)
        .join(starts, ["lang", "n_chars"])
        .select(
            F.lit("clustered").alias("layout"),
            F.expr(f"(gstart + lrk) div {rpf}").cast("bigint").alias("file_id"),
            "lang",
            "n_chars",
        )
    )
    both = arrival.unionByName(clustered)
    zones = both.groupBy("layout", "file_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.min("n_chars").alias("min_nc"),
        F.max("n_chars").alias("max_nc"),
        F.min("lang").alias("min_lang"),
        F.max("lang").alias("max_lang"),
    )
    preds = [
        ("nc_100_150", (F.col("min_nc") <= 150) & (F.col("max_nc") >= 100),
         (F.col("n_chars") >= 100) & (F.col("n_chars") <= 150)),
        ("lang_es", (F.col("min_lang") <= "es") & (F.col("max_lang") >= "es"),
         F.col("lang") == "es"),
        ("en_long", (F.col("min_lang") <= "en") & (F.col("max_lang") >= "en")
         & (F.col("max_nc") > 300),
         (F.col("lang") == "en") & (F.col("n_chars") > 300)),
    ]
    outs = []
    for pname, zone_hit, row_pred in preds:
        za = zones.groupBy("layout").agg(
            F.lit(pname).alias("predicate"),
            F.count(F.lit(1)).cast("bigint").alias("n_files"),
            F.sum(F.when(zone_hit, 1).otherwise(0)).cast("bigint").alias("files_scanned"),
            F.sum(F.when(zone_hit, F.col("n_rows")).otherwise(0))
            .cast("bigint")
            .alias("rows_in_scanned_files"),
        )
        rm = both.where(row_pred).groupBy("layout").agg(
            F.count(F.lit(1)).cast("bigint").alias("rows_matched")
        )
        outs.append(za.join(rm, "layout", "left").fillna(0, ["rows_matched"]))
    out = outs[0]
    for o in outs[1:]:
        out = out.unionByName(o)
    return out.select(
        "layout", "predicate", "n_files", "files_scanned",
        "rows_in_scanned_files", "rows_matched",
    )


def _oracle_q153_pred(pname: str, zone_sql: str, row_sql: str) -> str:
    rpf = _Q153_ROWS_PER_FILE
    return f"""
  SELECT z.layout, '{pname}' AS predicate,
         CAST(count(*) AS BIGINT) AS n_files,
         CAST(sum(CASE WHEN {zone_sql} THEN 1 ELSE 0 END) AS BIGINT) AS files_scanned,
         CAST(sum(CASE WHEN {zone_sql} THEN n_rows ELSE 0 END) AS BIGINT)
           AS rows_in_scanned_files,
         coalesce(any_value(rm.rows_matched), 0) AS rows_matched
  FROM (
    SELECT layout, file_id, CAST(count(*) AS BIGINT) AS n_rows,
           min(n_chars) AS min_nc, max(n_chars) AS max_nc,
           min(lang) AS min_lang, max(lang) AS max_lang
    FROM lay GROUP BY layout, file_id) z
  LEFT JOIN (
    SELECT layout, CAST(count(*) AS BIGINT) AS rows_matched
    FROM lay WHERE {row_sql} GROUP BY layout) rm USING (layout)
  GROUP BY z.layout, rm.rows_matched
"""


ORACLE_Q153 = f"""
WITH docs AS (SELECT doc_id, lang, n_chars FROM documents),
lay AS (
  SELECT 'arrival' AS layout, doc_id // {_Q153_ROWS_PER_FILE} AS file_id,
         lang, n_chars
  FROM docs
  UNION ALL
  SELECT 'clustered' AS layout,
         (row_number() OVER (ORDER BY lang, n_chars, doc_id) - 1)
           // {_Q153_ROWS_PER_FILE} AS file_id,
         lang, n_chars
  FROM docs
)
{_oracle_q153_pred("nc_100_150", "min_nc <= 150 AND max_nc >= 100",
                   "n_chars >= 100 AND n_chars <= 150")}
UNION ALL
{_oracle_q153_pred("lang_es", "min_lang <= 'es' AND max_lang >= 'es'",
                   "lang = 'es'")}
UNION ALL
{_oracle_q153_pred("en_long",
                   "min_lang <= 'en' AND max_lang >= 'en' AND max_nc > 300",
                   "lang = 'en' AND n_chars > 300")}
"""


_Q154_K = 20


def q154_stratified_topk_sample(spark, sf_dir):
    """Per-STRATUM exact-k priority sampling — q148's weighted
    without-replacement sampler with a hard budget of K docs PER LANG
    (the balanced-mixture contract: every language gets exactly its
    quota, weighted by length within it).  Same integer priority
    (w * 2^52) div (h + 1); rank runs PARTITIONED by lang (parallel
    across strata — one shuffle on the stratum key; under extreme
    stratum skew the q90 salted two-phase applies).  Strata smaller
    than K keep everything — the oracle reproduces that edge."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "doc_id",
        "lang",
        "n_chars",
        F.expr(f"CAST(n_chars AS BIGINT) * CAST({_Q148_M} AS BIGINT)").alias("__wm"),
        _q142_h52(F.col("doc_id").cast("string"), "prio#").alias("__h"),
    ).select(
        "doc_id", "lang", "n_chars", F.expr("__wm div (__h + 1)").alias("priority")
    )
    w = Window.partitionBy("lang").orderBy(
        F.col("priority").desc(), F.col("doc_id").asc()
    )
    return (
        d.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= _Q154_K)
        .select("lang", F.col("rk").cast("bigint").alias("rk"), "doc_id", "n_chars", "priority")
    )


ORACLE_Q154 = f"""
WITH d AS (
  SELECT doc_id, lang, n_chars,
         CAST(n_chars AS BIGINT) * {_Q148_M}
           // ({_duck_h52("doc_id::VARCHAR", "prio#")} + 1) AS priority
  FROM documents
),
rk AS (
  SELECT lang, doc_id, n_chars, priority,
         row_number() OVER (PARTITION BY lang
                            ORDER BY priority DESC, doc_id) AS rk
  FROM d
)
SELECT lang, CAST(rk AS BIGINT) AS rk, doc_id, n_chars, priority
FROM rk WHERE rk <= {_Q154_K}
"""


def q155_sliding_bitmap_distinct_rollup(spark, sf_dir):
    """EXACT sliding-window distinct users (trailing 3 hours, per
    active hour) WITHOUT re-scanning raw events — the
    materialized-sketch rollup pattern of q69 (HLL merge) with EXACT
    bitmap states: hourly (hour, word_idx, word) bitmap words are
    built once (one linear agg over events), then each hourly word is
    exploded to the <=3 trailing target hours it serves and OR-merged
    per (target, word_idx) — bit_or is merge-associative, so the
    3-hour distinct is assembled from hourly states at WORD-relation
    cost, the way a warehouse serves 'distinct users, trailing N
    hours' dashboards at 100 TB (gap-proof: absent hours simply
    contribute no words — no frame-over-present-rows bug, no spine).
    Targets are semi-joined to ACTIVE hours so trailing ghosts past
    the data's end never appear.  Output integer-exact: popcounts."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        F.unix_timestamp(F.date_trunc("hour", F.col("ts"))).cast("bigint").alias("h"),
        F.expr("user_id div 64").alias("word_idx"),
    ).agg(
        F.expr(
            "bit_or(shiftleft(CAST(1 AS BIGINT), CAST(user_id % 64 AS INT)))"
        ).alias("word")
    )
    one_h = hourly.groupBy("h").agg(
        F.sum(F.bit_count("word")).cast("bigint").alias("n_distinct_1h")
    )
    tgt = hourly.select(
        "word_idx",
        "word",
        F.explode(
            F.array(F.col("h"), F.col("h") + 3600, F.col("h") + 7200)
        ).alias("t"),
    )
    active = hourly.select(F.col("h").alias("t")).distinct()
    merged = (
        semi_join(tgt, F.broadcast(active.select(F.col("t").alias("__t"))),
                  tgt.t == F.col("__t"))
        .groupBy("t", "word_idx")
        .agg(F.expr("bit_or(word)").alias("w3"))
    )
    three_h = merged.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_words_3h"),
        F.sum(F.bit_count("w3")).cast("bigint").alias("n_distinct_3h"),
    )
    return one_h.join(three_h, one_h.h == three_h.t).select(
        F.col("h").alias("hour_epoch"),
        "n_distinct_1h",
        "n_words_3h",
        "n_distinct_3h",
    )


ORACLE_Q155 = """
WITH hourly AS (
  SELECT CAST(floor(epoch(date_trunc('hour', ts))) AS BIGINT) AS h,
         user_id // 64 AS word_idx,
         bit_or(1::UBIGINT << CAST(user_id % 64 AS INT)) AS word
  FROM events GROUP BY 1, 2
),
one_h AS (
  SELECT h, CAST(sum(bit_count(word)) AS BIGINT) AS n_distinct_1h
  FROM hourly GROUP BY h
),
tgt AS (
  SELECT word_idx, word, h + u.o AS t
  FROM hourly, UNNEST([0, 3600, 7200]) AS u(o)
),
merged AS (
  SELECT t, word_idx, bit_or(word) AS w3
  FROM tgt
  WHERE t IN (SELECT h FROM hourly)
  GROUP BY t, word_idx
),
three_h AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_words_3h,
         CAST(sum(bit_count(w3)) AS BIGINT) AS n_distinct_3h
  FROM merged GROUP BY t
)
SELECT o.h AS hour_epoch, o.n_distinct_1h, t.n_words_3h, t.n_distinct_3h
FROM one_h o JOIN three_h t ON t.t = o.h
"""


# ---------------------------------------------------------------------------
# q156: frequency-weighted record linkage (Fellegi-Sunter-style)
# ---------------------------------------------------------------------------

_Q156_BUCKET = 10  # n_chars bucket width for the blocking key
_Q156_BLOCK_CAP = 50  # purge blocks larger than this (bounded quadratics)
_Q156_W = 1_000_000_000  # integer inverse-frequency weight numerator
_Q156_T = 100_000_000  # match-classification threshold on the score


def q156_record_linkage_scores(spark, sf_dir):
    """Frequency-weighted record linkage (the Fellegi-Sunter shape
    with deterministic integer weights): candidate pairs come from a
    BLOCKING key (lang, n_chars div 10) with a purge cap — blocks
    larger than 50 rows are dropped whole, the classical guard that
    keeps per-block quadratics bounded no matter how skewed the
    corpus — and each pair is scored field by field, where agreeing
    on a RARE value counts more than agreeing on a common one:
    weight(field=v) = 1e9 div corpus_freq(v).  Pairs scoring over the
    threshold are classified matches.  q89 (fuzzy blocked join) finds
    string-edit neighbours; this scores STRUCTURED field agreement
    with frequency evidence, the record-linkage primitive behind
    entity resolution at crawl scale.

    Scale shape: three linear value-frequency aggs (each over a
    bounded domain — broadcastable); block occupancy computed by one
    linear agg and the cap applied BEFORE the self-join, so the pair
    generator is a bounded-occupancy equi-join on the block key; the
    weight lookups are broadcast hash joins against the tiny
    frequency relations.  No NLJ, no corpus-squared term anywhere."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "lang",
        "source",
        F.expr(f"n_chars div {_Q156_BUCKET}").alias("blk"),
        F.size(tokens_expr(F.col("text"))).cast("bigint").alias("tok_cnt"),
        F.element_at(tokens_expr(F.col("text")), 1).alias("head_tok"),
    )
    # field-value frequency relations (bounded domains)
    f_src = docs.groupBy("source").agg(F.count(F.lit(1)).alias("fs"))
    f_tok = docs.groupBy("tok_cnt").agg(F.count(F.lit(1)).alias("ft"))
    f_head = docs.groupBy("head_tok").agg(F.count(F.lit(1)).alias("fh"))
    # block occupancy + purge cap, applied before pair generation
    blk_sz = docs.groupBy("lang", "blk").agg(F.count(F.lit(1)).alias("bn"))
    kept = docs.join(
        F.broadcast(blk_sz.where(F.col("bn") <= _Q156_BLOCK_CAP)),
        ["lang", "blk"],
    ).select("doc_id", "lang", "blk", "source", "tok_cnt", "head_tok")
    a = kept.select(
        F.col("doc_id").alias("doc_a"),
        F.col("lang").alias("la"),
        F.col("blk").alias("ba"),
        F.col("source").alias("src_a"),
        F.col("tok_cnt").alias("tc_a"),
        F.col("head_tok").alias("ht_a"),
    )
    b = kept.select(
        F.col("doc_id").alias("doc_b"),
        F.col("lang").alias("lb"),
        F.col("blk").alias("bb"),
        F.col("source").alias("src_b"),
        F.col("tok_cnt").alias("tc_b"),
        F.col("head_tok").alias("ht_b"),
    )
    pairs = a.join(
        b,
        (F.col("la") == F.col("lb"))
        & (F.col("ba") == F.col("bb"))
        & (F.col("doc_a") < F.col("doc_b")),
    )
    W = _Q156_W
    scored = (
        pairs.join(
            F.broadcast(f_src.withColumnRenamed("source", "src_a")), "src_a"
        )
        .join(F.broadcast(f_tok.withColumnRenamed("tok_cnt", "tc_a")), "tc_a")
        .join(F.broadcast(f_head.withColumnRenamed("head_tok", "ht_a")), "ht_a")
        .select(
            "doc_a",
            "doc_b",
            (
                F.when(F.col("src_a") == F.col("src_b"), F.expr(f"{W} div fs"))
                .otherwise(F.lit(0))
                + F.when(F.col("tc_a") == F.col("tc_b"), F.expr(f"{W} div ft"))
                .otherwise(F.lit(0))
                + F.when(F.col("ht_a") == F.col("ht_b"), F.expr(f"{W} div fh"))
                .otherwise(F.lit(0))
            ).alias("score"),
            (
                F.when(F.col("src_a") == F.col("src_b"), 1).otherwise(0)
                + F.when(F.col("tc_a") == F.col("tc_b"), 1).otherwise(0)
                + F.when(F.col("ht_a") == F.col("ht_b"), 1).otherwise(0)
            ).cast("bigint").alias("n_agree"),
        )
    )
    return scored.where(F.col("score") >= _Q156_T).select(
        "doc_a", "doc_b", F.col("score").cast("bigint").alias("score"), "n_agree"
    )


ORACLE_Q156 = f"""
WITH d AS (
  SELECT doc_id, lang, source, n_chars // {_Q156_BUCKET} AS blk,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> '')) AS BIGINT)
           AS tok_cnt,
         list_filter(string_split(text, ' '), t -> t <> '')[1] AS head_tok
  FROM documents
),
f_src AS (SELECT source, count(*) AS fs FROM d GROUP BY source),
f_tok AS (SELECT tok_cnt, count(*) AS ft FROM d GROUP BY tok_cnt),
f_head AS (SELECT head_tok, count(*) AS fh FROM d GROUP BY head_tok),
kept AS (
  SELECT d.* FROM d
  JOIN (SELECT lang, blk FROM d GROUP BY lang, blk
        HAVING count(*) <= {_Q156_BLOCK_CAP}) ok
    USING (lang, blk)
),
pairs AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b,
         a.source AS src_a, b.source AS src_b,
         a.tok_cnt AS tc_a, b.tok_cnt AS tc_b,
         a.head_tok AS ht_a, b.head_tok AS ht_b
  FROM kept a JOIN kept b
    ON a.lang = b.lang AND a.blk = b.blk AND a.doc_id < b.doc_id
),
scored AS (
  SELECT doc_a, doc_b,
         (CASE WHEN src_a = src_b THEN {_Q156_W} // fs ELSE 0 END
          + CASE WHEN tc_a = tc_b THEN {_Q156_W} // ft ELSE 0 END
          + CASE WHEN ht_a = ht_b THEN {_Q156_W} // fh ELSE 0 END) AS score,
         (CASE WHEN src_a = src_b THEN 1 ELSE 0 END
          + CASE WHEN tc_a = tc_b THEN 1 ELSE 0 END
          + CASE WHEN ht_a = ht_b THEN 1 ELSE 0 END) AS n_agree
  FROM pairs
  JOIN f_src ON f_src.source = src_a
  JOIN f_tok ON f_tok.tok_cnt = tc_a
  JOIN f_head ON f_head.head_tok = ht_a
)
SELECT doc_a, doc_b, CAST(score AS BIGINT) AS score,
       CAST(n_agree AS BIGINT) AS n_agree
FROM scored WHERE score >= {_Q156_T}
"""


# ---------------------------------------------------------------------------
# q157: A/B experiment guardrail — integer-exact chi-square decision
# ---------------------------------------------------------------------------

_Q157_COHORTS = 5
_Q157_CRIT_MILLI = 3841  # chi-square critical value at alpha=0.05, x1000


def q157_experiment_guardrail(spark, sf_dir):
    """A/B experiment guardrail: per analysis cohort, a two-proportion
    chi-square test computed EXACTLY in integers — no sqrt, no floats,
    no platform-dependent rounding in the significance decision.  The
    unit is a (user, day) exposure; arm = user_id parity (the hash
    split an experiment framework would assign); conversion = the
    user purchased that day.  Per cohort (user_id mod 5) the 2x2
    contingency (a,b,c,d) feeds the chi-square statistic
    N*(ad-bc)^2 / ((a+b)(c+d)(a+c)(b+d)); the decision multiplies
    through the denominator — 1000*N*(ad-bc)^2 >= 3841*denom — so the
    flag is exact, and the reported stat is the floor-divided
    millis value.  The denominator-product intermediates run in
    DECIMAL(38,0): at 1e12 exposures the cross terms overflow int64,
    and this shape survives that (documented precision budget:
    N*(ad-bc)^2*1000 < 1e38 holds through N ~ 1e11 per cohort;
    beyond that, split cohorts).

    Scale shape: ONE linear pass builds user-day exposures (map-side
    partial agg on (user, day)), one linear agg builds the per-cohort
    2x2 — the statistic and the decision are computed on a
    COHORT-count relation (metadata scale).  No joins at all."""
    ev = _t(spark, sf_dir, "events")
    exposures = (
        ev.select(
            "user_id",
            F.to_date("ts").alias("d"),
            F.when(F.col("event_type") == "purchase", 1)
            .otherwise(0)
            .alias("is_conv"),
        )
        .groupBy("user_id", "d")
        .agg(F.max("is_conv").alias("conv"))
    )
    cells = exposures.select(
        F.expr(f"user_id % {_Q157_COHORTS}").alias("cohort"),
        F.expr("user_id % 2").alias("arm"),
        "conv",
    ).groupBy("cohort").agg(
        F.sum(F.expr("CASE WHEN arm = 1 AND conv = 1 THEN 1 ELSE 0 END")).alias("a"),
        F.sum(F.expr("CASE WHEN arm = 1 AND conv = 0 THEN 1 ELSE 0 END")).alias("b"),
        F.sum(F.expr("CASE WHEN arm = 0 AND conv = 1 THEN 1 ELSE 0 END")).alias("c"),
        F.sum(F.expr("CASE WHEN arm = 0 AND conv = 0 THEN 1 ELSE 0 END")).alias("d"),
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    num = (
        f"({dec.format('a + b + c + d')} * 1000"
        f" * {dec.format('a*d - b*c')} * {dec.format('a*d - b*c')})"
    )
    den = (
        f"({dec.format('a + b')} * {dec.format('c + d')}"
        f" * {dec.format('a + c')} * {dec.format('b + d')})"
    )
    return cells.select(
        F.col("cohort").cast("bigint").alias("cohort"),
        F.col("a").cast("bigint").alias("conv_t"),
        F.col("b").cast("bigint").alias("nonconv_t"),
        F.col("c").cast("bigint").alias("conv_c"),
        F.col("d").cast("bigint").alias("nonconv_c"),
        F.expr(f"CAST(FLOOR({num} / {den}) AS BIGINT)").alias("chi2_milli"),
        F.expr(f"CAST(({num} >= {_Q157_CRIT_MILLI} * {den}) AS BOOLEAN)").alias(
            "significant"
        ),
    ).orderBy("cohort")


ORACLE_Q157 = f"""
WITH exposures AS (
  SELECT user_id, ts::DATE AS d,
         max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END) AS conv
  FROM events GROUP BY user_id, ts::DATE
),
cells AS (
  SELECT user_id % {_Q157_COHORTS} AS cohort,
         sum(CASE WHEN user_id % 2 = 1 AND conv = 1 THEN 1 ELSE 0 END) AS a,
         sum(CASE WHEN user_id % 2 = 1 AND conv = 0 THEN 1 ELSE 0 END) AS b,
         sum(CASE WHEN user_id % 2 = 0 AND conv = 1 THEN 1 ELSE 0 END) AS c,
         sum(CASE WHEN user_id % 2 = 0 AND conv = 0 THEN 1 ELSE 0 END) AS d
  FROM exposures GROUP BY user_id % {_Q157_COHORTS}
)
SELECT CAST(cohort AS BIGINT) AS cohort,
       CAST(a AS BIGINT) AS conv_t, CAST(b AS BIGINT) AS nonconv_t,
       CAST(c AS BIGINT) AS conv_c, CAST(d AS BIGINT) AS nonconv_c,
       CAST(((a+b+c+d)::HUGEINT * 1000 * (a*d - b*c)::HUGEINT
             * (a*d - b*c)::HUGEINT)
            // ((a+b)::HUGEINT * (c+d)::HUGEINT * (a+c)::HUGEINT
                * (b+d)::HUGEINT) AS BIGINT) AS chi2_milli,
       ((a+b+c+d)::HUGEINT * 1000 * (a*d - b*c)::HUGEINT
        * (a*d - b*c)::HUGEINT)
        >= {_Q157_CRIT_MILLI} * ((a+b)::HUGEINT * (c+d)::HUGEINT
                                 * (a+c)::HUGEINT * (b+d)::HUGEINT)
         AS significant
FROM cells ORDER BY cohort
"""


# ---------------------------------------------------------------------------
# q158: Luhn-style extractive summarization (significant-token chunks)
# ---------------------------------------------------------------------------

_Q158_CHUNK = 10  # tokens per scoring window ("sentence" proxy)
_Q158_TOP_TYPES = 15  # corpus-frequency band: top-N types are significant
_Q158_SCALE = 1_000_000


def q158_extractive_summary(spark, sf_dir):
    """Luhn-style extractive summarization (Luhn 1958): the corpus's
    significant-token set is its top-15 types by frequency (rank on
    the TYPE relation — bounded domain, deterministic count-desc/
    token-asc tie-break); each document is scored in fixed 10-token
    windows ("sentences"), window score = n_significant^2 * 1e6 div
    window_len (Luhn's density-squared measure, integer-exact); the
    best window per doc — score desc, earliest wins ties — is the
    extract.  q99 packs chunks for training; this RANKS them for
    representativeness, the summarization/snippet primitive.

    Scale shape: one linear token explode feeds both the type-
    frequency relation (bounded domain) and the per-(doc, window)
    significant counts; membership is a broadcast semi-style join
    against the 15-row significant set; the per-doc argmax is a
    partitioned window over the WINDOW relation (corpus/10 rows);
    the extract's text is sliced from the original token array by
    position — never re-scanned."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id", tokens_expr(F.col("text")).alias("toks")
    )
    pos = docs.select("doc_id", F.posexplode("toks").alias("pos", "token"))
    types = pos.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    # top-15 via orderBy+limit -> TakeOrderedAndProject (per-partition
    # heap + driver merge of 15-row slices), NOT a global row_number
    # window, which would sort the whole type relation on one partition
    sig = (
        types.orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(_Q158_TOP_TYPES)
        .select("token")
    )
    chunks = pos.withColumn("chunk_idx", F.expr(f"pos div {_Q158_CHUNK}"))
    stats = (
        chunks.join(
            F.broadcast(sig.withColumn("is_sig", F.lit(1))), "token", "left"
        )
        .groupBy("doc_id", "chunk_idx")
        .agg(
            F.count(F.lit(1)).alias("chunk_len"),
            F.sum(F.coalesce(F.col("is_sig"), F.lit(0))).alias("n_sig"),
        )
        .withColumn(
            "score", F.expr(f"n_sig * n_sig * {_Q158_SCALE} div chunk_len")
        )
    )
    wd = Window.partitionBy("doc_id").orderBy(
        F.col("score").desc(), F.col("chunk_idx").asc()
    )
    best = stats.withColumn("rk", F.row_number().over(wd)).where(F.col("rk") == 1)
    return best.join(docs, "doc_id").select(
        "doc_id",
        F.col("chunk_idx").cast("bigint").alias("chunk_idx"),
        F.col("n_sig").cast("bigint").alias("n_sig"),
        F.col("chunk_len").cast("bigint").alias("chunk_len"),
        F.col("score").cast("bigint").alias("score"),
        F.array_join(
            F.slice(
                F.col("toks"),
                (F.col("chunk_idx") * _Q158_CHUNK + 1).cast("int"),
                _Q158_CHUNK,
            ),
            " ",
        ).alias("summary"),
    )


ORACLE_Q158 = f"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
pos AS (
  SELECT doc_id, u.i AS pos, toks[CAST(u.i + 1 AS INT)] AS token
  FROM tk, UNNEST(range(len(toks))) AS u(i)
),
types AS (
  SELECT token, count(*) AS tf,
         row_number() OVER (ORDER BY count(*) DESC, token) AS rk
  FROM pos GROUP BY token
),
sig AS (SELECT token FROM types WHERE rk <= {_Q158_TOP_TYPES}),
stats AS (
  SELECT p.doc_id, p.pos // {_Q158_CHUNK} AS chunk_idx,
         count(*) AS chunk_len,
         sum(CASE WHEN s.token IS NOT NULL THEN 1 ELSE 0 END) AS n_sig
  FROM pos p LEFT JOIN sig s ON p.token = s.token
  GROUP BY p.doc_id, p.pos // {_Q158_CHUNK}
),
scored AS (
  SELECT doc_id, chunk_idx, chunk_len, n_sig,
         n_sig * n_sig * {_Q158_SCALE} // chunk_len AS score
  FROM stats
),
best AS (
  SELECT *, row_number() OVER (PARTITION BY doc_id
                               ORDER BY score DESC, chunk_idx) AS rk
  FROM scored
)
SELECT b.doc_id, CAST(b.chunk_idx AS BIGINT) AS chunk_idx,
       CAST(b.n_sig AS BIGINT) AS n_sig,
       CAST(b.chunk_len AS BIGINT) AS chunk_len,
       CAST(b.score AS BIGINT) AS score,
       array_to_string(
         list_slice(t.toks,
                    CAST(b.chunk_idx * {_Q158_CHUNK} + 1 AS INT),
                    CAST(b.chunk_idx * {_Q158_CHUNK} + {_Q158_CHUNK} AS INT)),
         ' ') AS summary
FROM best b JOIN tk t USING (doc_id)
WHERE b.rk = 1
"""


# ---------------------------------------------------------------------------
# q160: asymmetric shingle containment (quote / inclusion detection)
# ---------------------------------------------------------------------------

_Q160_MIN_SET = 3  # ignore docs with fewer evidence shingles
_Q160_T_PPM = 200_000  # report pairs where either direction >= 20%


def q160_shingle_containment(spark, sf_dir):
    """Asymmetric shingle-set CONTAINMENT (Broder's other resemblance
    measure): C(A in B) = |S(A) ∩ S(B)| div |S(A)| in exact integer
    ppm.  Jaccard (q16) is symmetric and misses wholesale INCLUSION —
    a short doc quoted inside a long one scores near-zero Jaccard but
    ~1e6 ppm containment — so this is the quote/inclusion detector a
    dedup pipeline runs beside the near-dup joins.  Evidence sets are
    the df-pruned distinct shingles (same integer boilerplate rule as
    q16/q62: 10·df < n — ubiquitous stop-shingles carry no inclusion
    evidence); both directions are reported for every pair whose
    larger direction clears the threshold.

    Scale shape: identical candidate generator to q62 (explode once,
    df-prune, shared-shingle self-equi-join — never all-pairs); set
    sizes come from ONE hash agg over the pruned postings and join
    back on the pair's doc keys (aggregated relations, fixed-width
    keys).  Integer ppm throughout — no float ratios."""
    docs = _t_wide(spark, sf_dir, "documents")
    shings = docs.select(
        "doc_id",
        F.explode(F.array_distinct(doc_shingles_expr(F.col("text")))).alias(
            "shingle"
        ),
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
    sizes = kept.groupBy("doc_id").agg(F.count(F.lit(1)).alias("ns"))
    a = kept.select("shingle", F.col("doc_id").alias("doc_a"))
    b = kept.select("shingle", F.col("doc_id").alias("doc_b"))
    inter = (
        a.join(b, "shingle")
        .where(F.col("doc_a") < F.col("doc_b"))
        .groupBy("doc_a", "doc_b")
        .agg(F.count(F.lit(1)).alias("inter"))
    )
    sa = sizes.select(F.col("doc_id").alias("doc_a"), F.col("ns").alias("n_a"))
    sb = sizes.select(F.col("doc_id").alias("doc_b"), F.col("ns").alias("n_b"))
    return (
        inter.join(sa, "doc_a")
        .join(sb, "doc_b")
        .where(
            (F.col("n_a") >= _Q160_MIN_SET) & (F.col("n_b") >= _Q160_MIN_SET)
        )
        .withColumn("cont_a_in_b_ppm", F.expr("inter * 1000000 div n_a"))
        .withColumn("cont_b_in_a_ppm", F.expr("inter * 1000000 div n_b"))
        .where(
            F.greatest("cont_a_in_b_ppm", "cont_b_in_a_ppm") >= _Q160_T_PPM
        )
        .select(
            "doc_a",
            "doc_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.col("n_a").cast("bigint").alias("n_a"),
            F.col("n_b").cast("bigint").alias("n_b"),
            F.col("cont_a_in_b_ppm").cast("bigint").alias("cont_a_in_b_ppm"),
            F.col("cont_b_in_a_ppm").cast("bigint").alias("cont_b_in_a_ppm"),
        )
    )


ORACLE_Q160 = f"""
WITH nd AS (SELECT count(*) AS n FROM documents),
shings AS (
  SELECT doc_id, unnest(list_distinct({_DUCK_SHINGLES.format(col='text')})) AS shingle
  FROM documents
), dfq AS (SELECT shingle, count(*) AS df FROM shings GROUP BY 1),
kept AS (
  SELECT s.doc_id, s.shingle FROM shings s JOIN dfq USING (shingle), nd
  WHERE 10 * dfq.df < nd.n
),
sizes AS (SELECT doc_id, count(*) AS ns FROM kept GROUP BY 1),
inter AS (
  SELECT a.doc_id AS doc_a, b.doc_id AS doc_b, count(*) AS i
  FROM kept a JOIN kept b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
  GROUP BY 1, 2
)
SELECT doc_a, doc_b, CAST(i AS BIGINT) AS inter,
       CAST(sa.ns AS BIGINT) AS n_a, CAST(sb.ns AS BIGINT) AS n_b,
       CAST(i * 1000000 // sa.ns AS BIGINT) AS cont_a_in_b_ppm,
       CAST(i * 1000000 // sb.ns AS BIGINT) AS cont_b_in_a_ppm
FROM inter
JOIN sizes sa ON sa.doc_id = doc_a
JOIN sizes sb ON sb.doc_id = doc_b
WHERE sa.ns >= {_Q160_MIN_SET} AND sb.ns >= {_Q160_MIN_SET}
  AND greatest(i * 1000000 // sa.ns, i * 1000000 // sb.ns) >= {_Q160_T_PPM}
"""


# ---------------------------------------------------------------------------
# q163: STREAMING as-of enrichment against an SCD2 dimension
# ---------------------------------------------------------------------------

_Q163_FAR = 4_000_000_000  # open-ended validity sentinel (epoch, ~2096)


def q163_streaming_scd2_enrich(spark, sf_dir):
    """STREAMING temporal (as-of) enrichment against a VERSIONED
    dimension: each page joins to the SCD2 domain-dimension version
    VALID AT ITS EVENT TIME (vf <= ts < vt), then counts per
    (window, tier) — the production shape for "which quality tier was
    this domain in when we crawled it".  O-15/q29 is stream-STREAM
    as-of; q100 is stream-static EQUI enrich; this adds the validity-
    interval predicate INSIDE a stream-static join — stateless (the
    dimension is a static relation re-planned per micro-batch), so no
    state-store cost at all, and a LEFT join keeps the watermark
    sentinels flowing (the q147 production watermark rule: rows that
    drive the watermark must never be dropped pre-watermark by a
    pushed predicate — an inner join's pruning could).

    The dimension derives deterministically from the documents table
    (two versions per domain, boundary t0 + (src_num mod 4 + 1)·600 s),
    so the oracle reconstructs it exactly; version intervals partition
    the timeline, so every real page matches exactly one version.

    Scale shape: dimension is dims×2 rows (broadcastable); the join is
    a per-batch broadcast hash join on the domain key with the range
    predicate evaluated in-join; ONE windowed stateful agg after."""
    from ..sources.pages import stream_pages_files

    src, _ = _derived_stream_fixture(spark, sf_dir)
    dimbase = (
        _t(spark, sf_dir, "documents")
        .select("source")
        .distinct()
        .select(
            F.concat(F.col("source"), F.lit(".example.com")).alias("domain"),
            (
                F.lit(STATIC_T0_EPOCH)
                + (F.expr("CAST(substring(source, 4) AS BIGINT)") % 4 + 1) * 600
            ).alias("b"),
        )
    )
    dim = dimbase.select(
        "domain",
        F.explode(
            F.array(
                F.struct(
                    F.lit(0).cast("bigint").alias("vf"),
                    F.col("b").alias("vt"),
                    F.lit(1).alias("tier"),
                ),
                F.struct(
                    F.col("b").alias("vf"),
                    F.lit(_Q163_FAR).cast("bigint").alias("vt"),
                    F.lit(2).alias("tier"),
                ),
            )
        ).alias("v"),
    ).select("domain", "v.vf", "v.vt", "v.tier")
    stream = (
        stream_pages_files(spark, src, 1)
        .withWatermark("warc_ts", "10 minutes")
        .select(
            "warc_ts",
            F.expr("split(url, '/')[2]").alias("pdom"),
            F.unix_timestamp("warc_ts").alias("ep"),
        )
    )
    joined = stream.join(
        F.broadcast(dim),
        (F.col("pdom") == F.col("domain"))
        & (F.col("ep") >= F.col("vf"))
        & (F.col("ep") < F.col("vt")),
        "left",
    )
    agg = joined.groupBy(
        F.window("warc_ts", "10 minutes").alias("win"), F.col("tier")
    ).agg(F.count(F.lit(1)).alias("n_pages"))
    out = _drain(
        agg.select(
            F.unix_timestamp("win.start").cast("bigint").alias("window_start_epoch"),
            F.col("tier").cast("bigint").alias("tier"),
            F.col("n_pages").cast("bigint").alias("n_pages"),
        ),
        spark,
    )
    return out.where(
        (
            F.col("window_start_epoch")
            < F.unix_timestamp(F.lit("2027-01-01").cast("timestamp"))
        )
        & F.col("tier").isNotNull()
    )


ORACLE_Q163 = f"""
WITH pages AS (
{_DUCK_DERIVED_PAGES}
), dimbase AS (
  SELECT DISTINCT source, CAST(substr(source, 4) AS BIGINT) AS num
  FROM documents
), dim AS (
  SELECT source || '.example.com' AS domain, CAST(0 AS BIGINT) AS vf,
         {STATIC_T0_EPOCH} + (num % 4 + 1) * 600 AS vt, 1 AS tier
  FROM dimbase
  UNION ALL
  SELECT source || '.example.com',
         {STATIC_T0_EPOCH} + (num % 4 + 1) * 600, {_Q163_FAR}, 2
  FROM dimbase
), j AS (
  SELECT (CAST(epoch(p.warc_ts) AS BIGINT) // 600) * 600 AS ws, d.tier
  FROM pages p JOIN dim d
    ON d.domain = string_split(p.url, '/')[3]
   AND CAST(epoch(p.warc_ts) AS BIGINT) >= d.vf
   AND CAST(epoch(p.warc_ts) AS BIGINT) < d.vt
)
SELECT ws AS window_start_epoch, CAST(tier AS BIGINT) AS tier,
       CAST(count(*) AS BIGINT) AS n_pages
FROM j GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q164: per-group OLS trend (integer-exact rational slope)
# ---------------------------------------------------------------------------


def q164_daily_trend_slope(spark, sf_dir):
    """Per-event-type activity TREND via ordinary least squares over
    the daily-count series, integer-exact: slope = (n·Σxy − Σx·Σy) /
    (n·Σx² − (Σx)²) is reported as the exact integer rational
    (num, den) plus a milli-slope with explicit truncate-toward-zero
    semantics — sign(num) · (1000·|num|) div den — because Spark's
    `div` truncates while DuckDB's `//` floors, and they differ on
    negatives (a real slope CAN be negative here).  q144's CUSUM
    catches sustained level SHIFTS; this fits the LEVEL's slope — the
    capacity-planning number ("events/day is growing by how much per
    day?").

    Scale shape: the corpus is touched by ONE linear (type, day) hash
    agg with map-side partials; the global x-origin is a 1-row
    broadcast (the q62 n-docs pattern); every OLS moment is a second
    agg over the DAYS relation (metadata scale).  No floats anywhere
    until a reader divides num/den themselves."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy("event_type", F.to_date("ts").alias("d")).agg(
        F.count(F.lit(1)).alias("y")
    )
    d0 = ev.agg(F.min(F.to_date("ts")).alias("d0"))
    pts = daily.crossJoin(F.broadcast(d0)).select(
        "event_type",
        F.datediff("d", "d0").cast("bigint").alias("x"),
        F.col("y").cast("bigint").alias("y"),
    )
    agg = pts.groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    return (
        agg.where(F.col("n") >= 2)
        .withColumn("num", F.expr("n * sxy - sx * sy"))
        .withColumn("den", F.expr("n * sxx - sx * sx"))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_days"),
            F.col("sy").cast("bigint").alias("total_events"),
            F.col("num").cast("bigint").alias("num"),
            F.col("den").cast("bigint").alias("den"),
            F.expr(
                "CAST((CASE WHEN num > 0 THEN 1 WHEN num < 0 THEN -1 ELSE 0 END)"
                " * ((1000 * abs(num)) div den) AS BIGINT)"
            ).alias("slope_milli"),
        )
    )


ORACLE_Q164 = """
WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*) AS y
  FROM events GROUP BY 1, 2
),
d0 AS (SELECT min(ts::DATE) AS d0 FROM events),
pts AS (
  SELECT event_type, CAST(d - d0.d0 AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM daily, d0
),
agg AS (
  SELECT event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts GROUP BY 1
)
SELECT event_type, CAST(n AS BIGINT) AS n_days, CAST(sy AS BIGINT) AS total_events,
       CAST(n * sxy - sx * sy AS BIGINT) AS num,
       CAST(n * sxx - sx * sx AS BIGINT) AS den,
       CAST((CASE WHEN n * sxy - sx * sy > 0 THEN 1
                  WHEN n * sxy - sx * sy < 0 THEN -1 ELSE 0 END)
            * ((1000 * abs(n * sxy - sx * sy)) // (n * sxx - sx * sx))
            AS BIGINT) AS slope_milli
FROM agg WHERE n >= 2
"""


# ---------------------------------------------------------------------------
# q165: degree-ordered triangle counting / local clustering coefficient
# ---------------------------------------------------------------------------


def q165_triangle_clustering(spark, sf_dir):
    """Exact triangle counting + local clustering coefficient over the
    near-dup candidate graph, via DEGREE-ORDERED edge orientation (the
    classic O(m^1.5) wedge bound): every undirected edge is oriented
    from its lower-(deg, id) endpoint to the higher, so each triangle
    is enumerated exactly once as a wedge at its minimum vertex closed
    by one oriented edge — and the wedge-join fan-out is bounded by
    ORIENTED out-degree, which the ordering provably caps at O(sqrt m)
    amortized even under power-law degree skew (the hub's edges all
    point INTO it, so the hub generates no wedges).  Clustering
    coefficient = 2·tri·1e6 div (deg·(deg−1)) in integer ppm — the
    "is this duplicate neighborhood a clique (one template family) or
    a chain (drift)" diagnostic; q141 measures reach, this measures
    closure.

    The oracle enumerates the same triangle SET by id-orientation
    ((a,b),(b,c),(a,c) joins — valid because _q62_edges emits src<dst)
    — degree-ordering changes the JOIN COST, never the result, which
    is exactly the property worth pinning with a test."""
    docs = _t_wide(spark, sf_dir, "documents")
    edges = _q62_edges(docs, min_shared=2).localCheckpoint(eager=True)
    adj = edges.select(F.col("src").alias("a"), F.col("dst").alias("b")).unionByName(
        edges.select(F.col("dst").alias("a"), F.col("src").alias("b"))
    )
    deg = adj.groupBy("a").agg(F.count(F.lit(1)).alias("deg"))
    e = (
        edges.join(deg.select(F.col("a").alias("src"), F.col("deg").alias("ds")), "src")
        .join(deg.select(F.col("a").alias("dst"), F.col("deg").alias("dd")), "dst")
    )
    lower_first = (F.col("ds") < F.col("dd")) | (
        (F.col("ds") == F.col("dd")) & (F.col("src") < F.col("dst"))
    )
    oriented = e.select(
        F.when(lower_first, F.col("src")).otherwise(F.col("dst")).alias("u"),
        F.when(lower_first, F.col("dst")).otherwise(F.col("src")).alias("v"),
        F.when(lower_first, F.col("dd")).otherwise(F.col("ds")).alias("dv"),
    ).localCheckpoint(eager=True)
    o1 = oriented.select("u", F.col("v").alias("v1"), F.col("dv").alias("d1"))
    o2 = oriented.select("u", F.col("v").alias("v2"), F.col("dv").alias("d2"))
    wedges = o1.join(o2, "u").where(
        (F.col("d1") < F.col("d2"))
        | ((F.col("d1") == F.col("d2")) & (F.col("v1") < F.col("v2")))
    )
    tris = wedges.join(
        oriented.select(F.col("u").alias("v1"), F.col("v").alias("v2")),
        ["v1", "v2"],
    ).select("u", "v1", "v2")
    per_node = (
        tris.select(F.explode(F.array("u", "v1", "v2")).alias("doc_id"))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).alias("n_tri"))
    )
    return per_node.join(
        deg.select(F.col("a").alias("doc_id"), "deg"), "doc_id"
    ).select(
        "doc_id",
        F.col("deg").cast("bigint").alias("deg"),
        F.col("n_tri").cast("bigint").alias("n_tri"),
        F.expr("CAST((2 * n_tri * 1000000) div (deg * (deg - 1)) AS BIGINT)").alias(
            "clust_ppm"
        ),
    )


ORACLE_Q165 = f"""
WITH {_q62_edges_sql(min_shared=2)},
adj AS (
  SELECT src AS a, dst AS b FROM edges
  UNION ALL
  SELECT dst AS a, src AS b FROM edges
),
deg AS (SELECT a, count(*) AS deg FROM adj GROUP BY a),
tri AS (
  SELECT e1.src AS a, e1.dst AS b, e2.dst AS c
  FROM edges e1
  JOIN edges e2 ON e2.src = e1.dst
  JOIN edges e3 ON e3.src = e1.src AND e3.dst = e2.dst
),
per_node AS (
  SELECT doc_id, count(*) AS n_tri FROM (
    SELECT a AS doc_id FROM tri
    UNION ALL SELECT b FROM tri
    UNION ALL SELECT c FROM tri
  ) GROUP BY 1
)
SELECT p.doc_id, CAST(d.deg AS BIGINT) AS deg,
       CAST(p.n_tri AS BIGINT) AS n_tri,
       CAST((2 * p.n_tri * 1000000) // (d.deg * (d.deg - 1)) AS BIGINT)
         AS clust_ppm
FROM per_node p JOIN deg d ON d.a = p.doc_id
"""


# ---------------------------------------------------------------------------
# q166: reciprocal-rank fusion (hybrid relevance + freshness retrieval)
# ---------------------------------------------------------------------------

_Q166_CAND = 20  # BM25 candidate pool per query
_Q166_K = 60  # RRF smoothing constant (Cormack et al. 2009)


def q166_rrf_hybrid_retrieval(spark, sf_dir):
    """Reciprocal-rank fusion (Cormack, Clarke & Buettcher 2009) —
    the standard hybrid-retrieval combiner: each query's top-20 BM25
    candidates (q105's integer-exact scorer, via the shared
    ``_bm25_scored`` builder) are re-ranked by
    RRF = 1e6 div (60 + bm25_rank) + 1e6 div (60 + fresh_rank),
    where freshness rank orders the candidate pool by crawl recency
    (doc_id desc — warc_ts is t0 + doc_id·47 s in the derived crawl,
    so doc_id IS crawl order).  Rank-space fusion needs no score
    normalization across signals — the property that makes RRF the
    default in production hybrid search — and in integer arithmetic
    the fused scores sit directly on the hash-compared oracle.

    Scale shape: everything after q105's scorer runs on the
    CANDIDATE relation (20 rows/query): two rank windows partitioned
    by qid and one reorder — metadata-scale."""
    agg = _bm25_scored(spark, sf_dir)
    wb = Window.partitionBy("qid").orderBy(
        F.col("score_milli").desc(), F.col("doc_id")
    )
    cand = (
        agg.withColumn("bm25_rank", F.row_number().over(wb))
        .where(F.col("bm25_rank") <= _Q166_CAND)
    )
    wf = Window.partitionBy("qid").orderBy(F.col("doc_id").desc())
    fused = cand.withColumn("fresh_rank", F.row_number().over(wf)).withColumn(
        "rrf_micro",
        F.expr(
            f"1000000 div ({_Q166_K} + bm25_rank)"
            f" + 1000000 div ({_Q166_K} + fresh_rank)"
        ),
    )
    wr = Window.partitionBy("qid").orderBy(
        F.col("rrf_micro").desc(), F.col("doc_id")
    )
    return (
        fused.withColumn("fused_rank", F.row_number().over(wr))
        .where(F.col("fused_rank") <= 5)
        .select(
            "qid",
            F.col("fused_rank").cast("bigint").alias("fused_rank"),
            "doc_id",
            F.col("bm25_rank").cast("bigint").alias("bm25_rank"),
            F.col("fresh_rank").cast("bigint").alias("fresh_rank"),
            F.col("rrf_micro").cast("bigint").alias("rrf_micro"),
        )
    )


ORACLE_Q166 = f"""
WITH {_Q105_AGG_CTES},
cand AS (
  SELECT qid, doc_id, score_milli,
         row_number() OVER (PARTITION BY qid
                            ORDER BY score_milli DESC, doc_id) AS bm25_rank
  FROM agg
  QUALIFY bm25_rank <= {_Q166_CAND}
),
fused AS (
  SELECT qid, doc_id, bm25_rank,
         row_number() OVER (PARTITION BY qid ORDER BY doc_id DESC)
           AS fresh_rank
  FROM cand
),
scored AS (
  SELECT qid, doc_id, bm25_rank, fresh_rank,
         1000000 // ({_Q166_K} + bm25_rank)
           + 1000000 // ({_Q166_K} + fresh_rank) AS rrf_micro
  FROM fused
)
SELECT qid, CAST(fused_rank AS BIGINT) AS fused_rank, doc_id,
       CAST(bm25_rank AS BIGINT) AS bm25_rank,
       CAST(fresh_rank AS BIGINT) AS fresh_rank,
       CAST(rrf_micro AS BIGINT) AS rrf_micro
FROM (
  SELECT *, row_number() OVER (PARTITION BY qid
                               ORDER BY rrf_micro DESC, doc_id) AS fused_rank
  FROM scored
) WHERE fused_rank <= 5
"""


# ---------------------------------------------------------------------------
# q167: two-sample chi-square drift between crawl snapshots
# ---------------------------------------------------------------------------

_Q167_BINW = 100  # n_chars per histogram bin
_Q167_BINS = 20  # overflow-clamped bin count


def q167_snapshot_drift_chi2(spark, sf_dir):
    """Two-sample chi-square homogeneity test between two crawl
    snapshots — the distribution-shift gate a pipeline runs before
    mixing a new crawl into training data ("did this source's length
    profile change?").  Snapshots are the deterministic doc_id-parity
    split (in production: yesterday's vs today's partition); the
    per-lang feature is the n_chars histogram (100-char bins, overflow
    bin at 19 — the q161 clamp).  The statistic is the textbook
    Σ_i (c1·N2 − c2·N1)² / (N1·N2·(c1+c2)) with each bin's term
    integer-floor-divided in milli units FIRST and then summed —
    associative, partitioning-independent (the q105 per-term
    precedent).  q157 tests a 2×2 treatment effect; this tests k-bin
    homogeneity.  q144/q126 watch one series over time; this compares
    two populations.

    Scale shape: ONE linear pass builds the (lang, snapshot, bin)
    histogram with map-side partials; N1/N2 and the statistic are
    computed on the HISTOGRAM relation (bounded: langs × 20 bins).
    Cross terms c·N stay under 2^63 through ~1e9 docs/lang-snapshot;
    the DECIMAL(38,0) casts carry it to 1e18 (documented budget)."""
    docs = _t_wide(spark, sf_dir, "documents")
    hist = (
        docs.select(
            "lang",
            F.expr("CAST(doc_id % 2 AS INT)").alias("snap"),
            F.expr(
                f"least(n_chars div {_Q167_BINW}, {_Q167_BINS - 1})"
            ).alias("bin"),
        )
        .groupBy("lang", "bin")
        .agg(
            F.sum(F.expr("CASE WHEN snap = 0 THEN 1 ELSE 0 END")).alias("c1"),
            F.sum(F.expr("CASE WHEN snap = 1 THEN 1 ELSE 0 END")).alias("c2"),
        )
    )
    tot = hist.groupBy("lang").agg(
        F.sum("c1").alias("n1"), F.sum("c2").alias("n2")
    )
    dec = "CAST({} AS DECIMAL(38,0))"
    term = (
        f"({dec.format('c1 * n2 - c2 * n1')}"
        f" * {dec.format('c1 * n2 - c2 * n1')} * 1000)"
        f" div ({dec.format('n1')} * {dec.format('n2')}"
        f" * {dec.format('c1 + c2')})"
    )
    return (
        hist.join(tot, "lang")
        .withColumn("t", F.expr(f"CAST({term} AS BIGINT)"))
        .groupBy("lang")
        .agg(
            F.max("n1").cast("bigint").alias("n_a"),
            F.max("n2").cast("bigint").alias("n_b"),
            F.count(F.lit(1)).cast("bigint").alias("n_bins"),
            (F.count(F.lit(1)) - 1).cast("bigint").alias("dof"),
            F.sum("t").cast("bigint").alias("chi2_milli"),
        )
    )


ORACLE_Q167 = f"""
WITH hist AS (
  SELECT lang, least(n_chars // {_Q167_BINW}, {_Q167_BINS - 1}) AS bin,
         sum(CASE WHEN doc_id % 2 = 0 THEN 1 ELSE 0 END) AS c1,
         sum(CASE WHEN doc_id % 2 = 1 THEN 1 ELSE 0 END) AS c2
  FROM documents GROUP BY 1, 2
),
tot AS (SELECT lang, sum(c1) AS n1, sum(c2) AS n2 FROM hist GROUP BY 1),
terms AS (
  SELECT h.lang, h.bin,
         ((h.c1 * t.n2 - h.c2 * t.n1)::HUGEINT
          * (h.c1 * t.n2 - h.c2 * t.n1)::HUGEINT * 1000)
         // (t.n1::HUGEINT * t.n2::HUGEINT * (h.c1 + h.c2)::HUGEINT) AS tt,
         t.n1, t.n2
  FROM hist h JOIN tot t USING (lang)
)
SELECT lang, CAST(max(n1) AS BIGINT) AS n_a, CAST(max(n2) AS BIGINT) AS n_b,
       CAST(count(*) AS BIGINT) AS n_bins,
       CAST(count(*) - 1 AS BIGINT) AS dof,
       CAST(sum(tt) AS BIGINT) AS chi2_milli
FROM terms GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q168: equi-depth histogram (optimizer statistics)
# ---------------------------------------------------------------------------

_Q168_B = 8  # histogram buckets


def q168_equidepth_histogram(spark, sf_dir):
    """Equi-depth (equi-height) histogram construction over
    documents.n_chars — the selectivity-estimation artifact a
    cost-based optimizer consumes (q131 gives NDV/min/max/MCV; q146
    forecasts join sizes; this gives the range-predicate buckets):
    each distinct value lands in bucket ((cum−1)·8) div N + 1 by its
    cumulative row count — the nearest-rank discipline of q143, so
    bucket k holds as close to N/8 rows as value multiplicity allows,
    deterministically, with NO float quantiles.  Per bucket: exact
    [lo, hi] bounds, row count and NDV — enough to estimate any range
    predicate's selectivity to one bucket of error.

    Scale shape: ONE corpus-linear (value, count) hash agg with
    map-side partials; the cumulative window and the bucket agg run on
    the grouped VALUE relation (bounded domain — the q128/q143
    argument); the 1-row corpus total is a broadcast."""
    docs = _t(spark, sf_dir, "documents")
    vals = docs.groupBy(F.col("n_chars").alias("val")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    w = Window.orderBy("val")
    cum = (
        vals.crossJoin(F.broadcast(n))
        .withColumn("cum", F.sum("cnt").over(w))
        .withColumn("bucket", F.expr(f"((cum - 1) * {_Q168_B}) div n + 1"))
    )
    return cum.groupBy("bucket").agg(
        F.min("val").cast("bigint").alias("lo"),
        F.max("val").cast("bigint").alias("hi"),
        F.sum("cnt").cast("bigint").alias("n_rows"),
        F.count(F.lit(1)).cast("bigint").alias("ndv"),
    ).select(F.col("bucket").cast("bigint").alias("bucket"), "lo", "hi", "n_rows", "ndv")


ORACLE_Q168 = f"""
WITH vals AS (
  SELECT n_chars AS val, count(*) AS cnt FROM documents GROUP BY 1
),
n AS (SELECT count(*) AS n FROM documents),
cum AS (
  SELECT val, cnt, sum(cnt) OVER (ORDER BY val) AS cum, n.n
  FROM vals, n
)
SELECT CAST(((cum - 1) * {_Q168_B}) // n + 1 AS BIGINT) AS bucket,
       CAST(min(val) AS BIGINT) AS lo, CAST(max(val) AS BIGINT) AS hi,
       CAST(sum(cnt) AS BIGINT) AS n_rows,
       CAST(count(*) AS BIGINT) AS ndv
FROM cum GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q169: posting-list delta-gap / varint compression economics
# ---------------------------------------------------------------------------


def q169_posting_compression_audit(spark, sf_dir):
    """Inverted-index compression economics: delta-gap + varint size
    accounting over the posting lists (q70/q113 build and maintain the
    index; this prices its LAYOUT — the bytes-saved number that
    decides whether the 100-TB index rewrite to delta-varint encoding
    pays, the same decision shape as q153's zone-map audit).  Per
    token, postings sorted by doc_id are gap-encoded (first gap =
    doc_id + 1, so every gap is >= 1); each gap's varint cost is the
    exact LEB128 byte count (1 byte under 2^7, 2 under 2^14, 3 under
    2^21, else 4 — doc ids stay under 2^28 here, documented); results
    aggregate per document-frequency band, because gap sizes — and
    therefore savings — are a function of posting density: frequent
    tokens have dense lists, tiny gaps, and ~87% savings; rare tokens
    save little.  savings_ppm = (raw − varint)·1e6 div raw against
    8-byte raw ids.  Bands are df ppm RELATIVE to corpus size (rare
    < 10%, mid < 50%, common) so band semantics are scale-independent.

    Scale shape: ONE (doc, token) distinct explode (map-side
    array_distinct before the shuffle); the lag window partitions BY
    TOKEN (posting lists sort in parallel per token, never a global
    sort); df joins back fixed-width; the final agg runs on 5 band
    rows."""
    docs = _t_wide(spark, sf_dir, "documents")
    postings = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.flatten(
                    F.transform(F.split(F.col("text"), "\n", -1), tokens_expr)
                )
            )
        ).alias("token"),
    )
    dfr = postings.groupBy("token").agg(F.count(F.lit(1)).alias("df"))
    n = docs.agg(F.count(F.lit(1)).alias("n"))
    w = Window.partitionBy("token").orderBy("doc_id")
    gaps = postings.withColumn(
        "gap",
        F.coalesce(
            F.col("doc_id") - F.lag("doc_id").over(w), F.col("doc_id") + 1
        ),
    ).withColumn(
        "vbytes",
        F.expr(
            "CASE WHEN gap < 128 THEN 1 WHEN gap < 16384 THEN 2 "
            "WHEN gap < 2097152 THEN 3 ELSE 4 END"
        ),
    )
    # density bands are RELATIVE to corpus size (df ppm), so the band
    # semantics are scale-independent: a token in 80% of a 10^12-doc
    # corpus and of a 500-doc corpus band identically
    banded = (
        gaps.join(dfr, "token")
        .crossJoin(F.broadcast(n))
        .withColumn(
            "band",
            F.expr(
                "CASE WHEN df * 10 < n THEN 'rare' "
                "WHEN df * 2 < n THEN 'mid' ELSE 'common' END"
            ),
        )
    )
    return banded.groupBy("band").agg(
        F.countDistinct("token").cast("bigint").alias("n_tokens"),
        F.count(F.lit(1)).cast("bigint").alias("n_postings"),
        (F.count(F.lit(1)) * 8).cast("bigint").alias("raw_bytes"),
        F.sum("vbytes").cast("bigint").alias("varint_bytes"),
        F.expr(
            "CAST(((count(1) * 8 - sum(vbytes)) * 1000000)"
            " div (count(1) * 8) AS BIGINT)"
        ).alias("savings_ppm"),
    )


ORACLE_Q169 = """
WITH toks AS (
  SELECT doc_id,
         unnest(list_distinct(flatten(list_transform(
           string_split(text, chr(10)),
           ln -> list_filter(string_split(ln, ' '), t -> t <> ''))))) AS token
  FROM documents
),
dfr AS (SELECT token, count(*) AS df FROM toks GROUP BY 1),
n AS (SELECT count(*) AS n FROM documents),
gaps AS (
  SELECT token, doc_id,
         coalesce(doc_id - lag(doc_id) OVER (PARTITION BY token ORDER BY doc_id),
                  doc_id + 1) AS gap
  FROM toks
),
vb AS (
  SELECT g.token, g.gap,
         CASE WHEN g.gap < 128 THEN 1 WHEN g.gap < 16384 THEN 2
              WHEN g.gap < 2097152 THEN 3 ELSE 4 END AS vbytes,
         CASE WHEN d.df * 10 < n.n THEN 'rare'
              WHEN d.df * 2 < n.n THEN 'mid' ELSE 'common' END AS band
  FROM gaps g JOIN dfr d USING (token), n
)
SELECT band, CAST(count(DISTINCT token) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS n_postings,
       CAST(count(*) * 8 AS BIGINT) AS raw_bytes,
       CAST(sum(vbytes) AS BIGINT) AS varint_bytes,
       CAST(((count(*) * 8 - sum(vbytes)) * 1000000) // (count(*) * 8)
            AS BIGINT) AS savings_ppm
FROM vb GROUP BY band
"""


# ---------------------------------------------------------------------------
# q170: multi-pattern blocklist tagger (policy phrase filtering)
# ---------------------------------------------------------------------------

# (phrase, category bit): pii=1, toxic=2, spam=4.  Stand-ins for a real
# policy lexicon; phrases chosen to occur in the synthetic corpus so
# the tagger's joins are non-vacuous at every SF.
_Q170_BLOCKLIST: list[tuple[str, int]] = [
    ("data query", 1),
    ("customer value", 1),
    ("order fast", 2),
    ("window join", 2),
    ("stream column", 4),
    ("big order scan", 4),
]


def q170_blocklist_tagger(spark, sf_dir):
    """Multi-pattern policy blocklist tagging — the safety-filtering
    pass a training pipeline runs with a lexicon of flagged phrases
    (PII patterns, toxicity lists, spam templates): every document is
    tagged with WHICH categories matched (a bitmask), how many
    distinct phrases hit, and a block decision (any pii/toxic
    category).  q96 searches ONE phrase by position arithmetic; this
    tags against a whole lexicon at once — mixed 2- and 3-token
    phrases — which is the shape content filters actually run.

    Scale shape: per-doc 2- and 3-gram windows are built map-side
    (the q32/q50 window builder), array_distinct'ed BEFORE the
    explode (map-side dedup shrinks the shuffle), and the lexicon is
    a BROADCAST hash join — the corpus never shuffles on anything
    wider than one matched gram; per-doc flags are one hash agg.
    Growing the lexicon to 10^5 phrases changes only the broadcast
    size."""
    docs = _t_wide(spark, sf_dir, "documents")
    grams = docs.select(
        "doc_id",
        F.explode(
            F.array_distinct(
                F.concat(
                    doc_shingles_expr(F.col("text"), 2),
                    doc_shingles_expr(F.col("text"), 3),
                )
            )
        ).alias("phrase"),
    )
    bl = spark.createDataFrame(_Q170_BLOCKLIST, "phrase string, cat int")
    matched = grams.join(F.broadcast(bl), "phrase")
    return matched.groupBy("doc_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_phrases"),
        F.expr("CAST(bit_or(cat) AS BIGINT)").alias("cat_mask"),
        F.expr("CAST((bit_or(cat) & 3) != 0 AS BOOLEAN)").alias("blocked"),
    )


def _oracle_q170() -> str:
    def kgrams(k: int) -> str:
        toks = "list_filter(string_split(ln, ' '), t -> t <> '')"
        return f"""flatten(list_transform(string_split(text, chr(10)), ln ->
  CASE WHEN len({toks}) = 0 THEN []::VARCHAR[]
       WHEN len({toks}) <= {k} THEN [array_to_string({toks}, ' ')]
       ELSE list_transform(
              generate_series(1, len({toks}) - {k - 1}),
              i -> array_to_string(list_slice({toks}, i, i + {k - 1}), ' '))
  END))"""

    bl = ", ".join(f"('{p}', {c})" for p, c in _Q170_BLOCKLIST)
    return f"""
WITH grams AS (
  SELECT doc_id,
         unnest(list_distinct(list_concat({kgrams(2)}, {kgrams(3)}))) AS phrase
  FROM documents
),
bl(phrase, cat) AS (VALUES {bl}),
matched AS (SELECT g.doc_id, g.phrase, bl.cat FROM grams g JOIN bl USING (phrase))
SELECT doc_id, CAST(count(*) AS BIGINT) AS n_phrases,
       CAST(bit_or(cat) AS BIGINT) AS cat_mask,
       (bit_or(cat) & 3) != 0 AS blocked
FROM matched GROUP BY doc_id
"""


ORACLE_Q170 = _oracle_q170()


# ---------------------------------------------------------------------------
# q171: temporal precedence mining (A-before-B support)
# ---------------------------------------------------------------------------


def q171_precedence_mining(spark, sf_dir):
    """Temporal precedence mining: for every ordered pair of event
    types (A, B), in how many users' histories does A's FIRST
    occurrence strictly precede B's first occurrence — the
    funnel-DISCOVERY statistic (which orderings exist and how strong)
    that precedes hand-building a funnel (q135) or a transition matrix
    (q129, adjacent steps only; this measures long-range precedence).
    Ties (equal first timestamps) count in neither direction —
    deterministic and symmetric.

    Scale shape: ONE corpus-linear (user, type) min-ts agg; the pair
    generator self-joins the AGGREGATED relation per user — bounded at
    |event types|² rows per user (25 here), never events²; support
    denominators are a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.groupBy("user_id", "event_type").agg(F.min("ts").alias("t"))
    nu = ev.agg(F.countDistinct("user_id").alias("n_users"))
    a = firsts.select(
        "user_id", F.col("event_type").alias("et_a"), F.col("t").alias("ta")
    )
    b = firsts.select(
        "user_id", F.col("event_type").alias("et_b"), F.col("t").alias("tb")
    )
    pairs = (
        a.join(b, "user_id")
        .where((F.col("et_a") != F.col("et_b")) & (F.col("ta") < F.col("tb")))
        .groupBy("et_a", "et_b")
        .agg(F.count(F.lit(1)).alias("n_users_ab"))
    )
    return pairs.crossJoin(F.broadcast(nu)).select(
        "et_a",
        "et_b",
        F.col("n_users_ab").cast("bigint").alias("n_users_ab"),
        F.expr("CAST((n_users_ab * 1000000) div n_users AS BIGINT)").alias(
            "support_ppm"
        ),
    )


ORACLE_Q171 = """
WITH firsts AS (
  SELECT user_id, event_type, min(ts) AS t FROM events GROUP BY 1, 2
),
nu AS (SELECT count(DISTINCT user_id) AS n_users FROM events),
pairs AS (
  SELECT a.event_type AS et_a, b.event_type AS et_b, count(*) AS n_users_ab
  FROM firsts a JOIN firsts b USING (user_id)
  WHERE a.event_type <> b.event_type AND a.t < b.t
  GROUP BY 1, 2
)
SELECT et_a, et_b, CAST(n_users_ab AS BIGINT) AS n_users_ab,
       CAST((n_users_ab * 1000000) // n_users AS BIGINT) AS support_ppm
FROM pairs, nu
"""


# ---------------------------------------------------------------------------
# q172: ANN recall audit (LSH vs brute-force ground truth, in-engine)
# ---------------------------------------------------------------------------


def q172_ann_recall_audit(spark, sf_dir):
    """ANN quality audit: recall@5 of the LSH index (q24's bucketed
    top-k) against the brute-force ground truth (q20), computed
    IN-ENGINE as one query — the eval harness an ANN deployment runs
    after every index rebuild ("did the last re-bucketing hurt
    recall?").  Per query vector: how many true top-5 neighbors the
    LSH top-5 recovered, the LSH candidate count (buckets can
    under-fill), and recall in integer ppm.  The pytest recall
    assertion on q24 checks a floor ONCE; this makes the audit itself
    a first-class, oracle-checked operator.

    Scale shape: ground truth is the documented broadcast brute-force
    baseline (3 query rows broadcast against the corpus — the one
    sanctioned crossJoin, as q20); the LSH side is the bucket
    equi-join; the recall join runs on two K-row/query top-k
    relations."""
    from ..operators.similarity import lsh_topk

    emb = _t(spark, sf_dir, "embeddings")
    q = emb.where(F.col("vec_id") < 3)
    approx = lsh_topk(emb, q, k=5, n_planes=4).select("query_id", "neighbor_id")
    qv = q.select(
        F.col("vec_id").alias("query_id"), F.col("embedding").alias("qv")
    )
    scored = (
        emb.select(
            F.col("vec_id").alias("neighbor_id"), F.col("embedding").alias("cv")
        )
        .crossJoin(F.broadcast(qv))
        .where(F.col("neighbor_id") != F.col("query_id"))
        .withColumn(
            "cosine",
            F.round(
                cosine_expr(
                    F.col("qv").cast("array<double>"),
                    F.col("cv").cast("array<double>"),
                ),
                6,
            ),
        )
    )
    w = Window.partitionBy("query_id").orderBy(
        F.col("cosine").desc(), F.col("neighbor_id").asc()
    )
    brute = (
        scored.withColumn("rk", F.row_number().over(w))
        .where(F.col("rk") <= 5)
        .select("query_id", "neighbor_id")
    )
    # both sides are K-row/query relations; the truth side is
    # broadcast so the recall join never sorts
    hits = approx.join(
        F.broadcast(brute.withColumn("hit", F.lit(1))),
        ["query_id", "neighbor_id"],
        "left",
    )
    return hits.groupBy("query_id").agg(
        F.lit(5).cast("bigint").alias("k"),
        F.count(F.lit(1)).cast("bigint").alias("n_lsh"),
        F.sum(F.coalesce(F.col("hit"), F.lit(0))).cast("bigint").alias("n_hits"),
        F.expr(
            "CAST((sum(coalesce(hit, 0)) * 1000000) div 5 AS BIGINT)"
        ).alias("recall_ppm"),
    )


def _oracle_q172() -> str:
    bucket = _duck_lsh_bucket("embedding::DOUBLE[]", 4, 64)
    return f"""
WITH qset AS (
  SELECT vec_id AS query_id, embedding::DOUBLE[] AS qv, {bucket} AS bucket
  FROM embeddings WHERE vec_id < 3
),
cset AS (
  SELECT vec_id AS neighbor_id, embedding::DOUBLE[] AS cv, {bucket} AS bucket
  FROM embeddings
),
lsh AS (
  SELECT query_id, neighbor_id FROM (
    SELECT query_id, neighbor_id,
           row_number() OVER (PARTITION BY query_id ORDER BY
             round(list_dot_product(qv, cv) /
                   (sqrt(list_dot_product(qv, qv)) *
                    sqrt(list_dot_product(cv, cv))), 6) DESC,
             neighbor_id ASC) AS rk
    FROM cset JOIN qset USING (bucket) WHERE neighbor_id <> query_id
  ) WHERE rk <= 5
),
brute AS (
  SELECT query_id, neighbor_id FROM (
    SELECT q.query_id, e.vec_id AS neighbor_id,
           row_number() OVER (PARTITION BY q.query_id ORDER BY
             round(list_dot_product(q.qv, e.embedding::DOUBLE[]) /
                   (sqrt(list_dot_product(q.qv, q.qv)) *
                    sqrt(list_dot_product(e.embedding::DOUBLE[],
                                          e.embedding::DOUBLE[]))), 6) DESC,
             e.vec_id ASC) AS rk
    FROM embeddings e CROSS JOIN qset q WHERE e.vec_id <> q.query_id
  ) WHERE rk <= 5
)
SELECT l.query_id, CAST(5 AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_lsh,
       CAST(sum(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
            AS BIGINT) AS n_hits,
       CAST((sum(CASE WHEN b.neighbor_id IS NOT NULL THEN 1 ELSE 0 END)
             * 1000000) // 5 AS BIGINT) AS recall_ppm
FROM lsh l LEFT JOIN brute b
  ON b.query_id = l.query_id AND b.neighbor_id = l.neighbor_id
GROUP BY l.query_id
"""


ORACLE_Q172 = _oracle_q172()


# ---------------------------------------------------------------------------
# q173: contrastive pair construction (NSP-style training data prep)
# ---------------------------------------------------------------------------

_Q173_CHUNK = 10
_Q173_STRIDE = 257  # coprime doc offset for negative sampling


def q173_contrastive_pairs(spark, sf_dir):
    """Contrastive training-pair construction (the next-sentence /
    adjacent-chunk objective): every consecutive chunk pair in a
    document is a POSITIVE (anchor, next); each positive gets a
    deterministic NEGATIVE — the same chunk index (mod length) from
    doc (anchor_doc + 257) mod N, a coprime stride so negatives
    spread over the corpus without RNG (reproducible data prep, the
    q47/q76 determinism discipline; random sampling would be
    layout-dependent and oracle-invisible).  Chunks travel as
    portable-md5 hashes, not text — what a pair-writing job actually
    materializes next to a sample store.

    Scale shape: chunking is ONE map-side transform+posexplode;
    positives are a (doc, idx) self-equi-join at offset 1; negatives
    are one equi-join against the chunk-count relation and one
    against the chunk store — all fixed-width (doc, idx) keys, no
    shuffle wider than a hash."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select("doc_id", tokens_expr(F.col("text")).alias("tk"))
    chunks = toks.select(
        "doc_id",
        F.posexplode(
            F.expr(
                f"transform(sequence(0, (size(tk) - 1) div {_Q173_CHUNK}),"
                f" i -> concat_ws(' ', slice(tk, i * {_Q173_CHUNK} + 1,"
                f" {_Q173_CHUNK})))"
            )
        ).alias("idx", "chunk"),
    ).select("doc_id", "idx", md5_i64_expr(F.col("chunk"), "cp#").alias("h"))
    nc = chunks.groupBy("doc_id").agg(F.count(F.lit(1)).alias("n_chunks"))
    nd = docs.agg(F.count(F.lit(1)).alias("n_docs"))
    anchor = chunks.select(
        "doc_id", "idx", F.col("h").alias("anchor_h")
    )
    pos = chunks.select(
        "doc_id", (F.col("idx") - 1).alias("idx"), F.col("h").alias("pos_h")
    )
    pairs = (
        anchor.join(pos, ["doc_id", "idx"])
        .crossJoin(F.broadcast(nd))
        .withColumn(
            "neg_doc", F.expr(f"(doc_id + {_Q173_STRIDE}) % n_docs")
        )
    )
    withnc = pairs.join(
        nc.select(F.col("doc_id").alias("neg_doc"), "n_chunks"), "neg_doc"
    ).withColumn("neg_idx", F.expr("idx % n_chunks"))
    return withnc.join(
        chunks.select(
            F.col("doc_id").alias("neg_doc"),
            F.col("idx").alias("neg_idx"),
            F.col("h").alias("neg_h"),
        ),
        ["neg_doc", "neg_idx"],
    ).select(
        "doc_id",
        F.col("idx").cast("bigint").alias("idx"),
        "anchor_h",
        "pos_h",
        F.col("neg_doc").cast("bigint").alias("neg_doc"),
        F.col("neg_idx").cast("bigint").alias("neg_idx"),
        "neg_h",
    )


ORACLE_Q173 = f"""
WITH tk AS (
  SELECT doc_id, list_filter(string_split(text, ' '), t -> t <> '') AS toks
  FROM documents
),
chunks AS (
  SELECT doc_id, u.i AS idx,
         ('0x' || substr(md5('cp#' || array_to_string(
            list_slice(toks, CAST(u.i * {_Q173_CHUNK} + 1 AS INT),
                       CAST(u.i * {_Q173_CHUNK} + {_Q173_CHUNK} AS INT)), ' ')),
            1, 15))::BIGINT AS h
  FROM tk, UNNEST(range((len(toks) - 1) // {_Q173_CHUNK} + 1)) AS u(i)
),
nc AS (SELECT doc_id, count(*) AS n_chunks FROM chunks GROUP BY 1),
nd AS (SELECT count(*) AS n_docs FROM documents),
pairs AS (
  SELECT a.doc_id, a.idx, a.h AS anchor_h, p.h AS pos_h,
         (a.doc_id + {_Q173_STRIDE}) % nd.n_docs AS neg_doc
  FROM chunks a
  JOIN chunks p ON p.doc_id = a.doc_id AND p.idx = a.idx + 1
  CROSS JOIN nd
),
withnc AS (
  SELECT pr.*, pr.idx % nc.n_chunks AS neg_idx
  FROM pairs pr JOIN nc ON nc.doc_id = pr.neg_doc
)
SELECT w.doc_id, CAST(w.idx AS BIGINT) AS idx, w.anchor_h, w.pos_h,
       CAST(w.neg_doc AS BIGINT) AS neg_doc,
       CAST(w.neg_idx AS BIGINT) AS neg_idx, c.h AS neg_h
FROM withnc w JOIN chunks c
  ON c.doc_id = w.neg_doc AND c.idx = w.neg_idx
"""


# ---------------------------------------------------------------------------
# q174: last-touch attribution
# ---------------------------------------------------------------------------


def q174_last_touch_attribution(spark, sf_dir):
    """Last-touch conversion attribution: every purchase is credited
    to the user's most recent PRECEDING non-purchase event type (the
    "channel"), via one ordered window pass per user — the marketing
    attribution primitive.  q129's Markov matrix models ALL adjacent
    transitions and q171 long-range precedence; this answers the
    specific revenue question "which touchpoint gets the credit".
    Purchases with no preceding touch attribute to '(none)'.
    Determinism: window ordered by (ts, event_id) — equal timestamps
    cannot reorder between engines — and last(ignorenulls) mirrors
    DuckDB's last_value IGNORE NULLS over the same frame.

    Scale shape: ONE window pass partitioned BY USER (parallel across
    users, state = one carried value per row), then a channel-domain
    hash agg; the share denominator is a 1-row broadcast."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    tagged = ev.withColumn(
        "lt",
        F.last(
            F.when(F.col("event_type") != "purchase", F.col("event_type")),
            ignorenulls=True,
        ).over(w),
    )
    conv = tagged.where(F.col("event_type") == "purchase").select(
        F.coalesce(F.col("lt"), F.lit("(none)")).alias("channel")
    )
    agg = conv.groupBy("channel").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_conversions")
    )
    tot = conv.agg(F.count(F.lit(1)).alias("n_total"))
    return agg.crossJoin(F.broadcast(tot)).select(
        "channel",
        "n_conversions",
        F.expr("CAST((n_conversions * 1000000) div n_total AS BIGINT)").alias(
            "share_ppm"
        ),
    )


ORACLE_Q174 = """
WITH tagged AS (
  SELECT event_type,
         last_value(CASE WHEN event_type <> 'purchase' THEN event_type END
                    IGNORE NULLS)
           OVER (PARTITION BY user_id ORDER BY ts, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING) AS lt
  FROM events
),
conv AS (
  SELECT coalesce(lt, '(none)') AS channel FROM tagged
  WHERE event_type = 'purchase'
),
agg AS (SELECT channel, count(*) AS n_conversions FROM conv GROUP BY 1),
tot AS (SELECT count(*) AS n_total FROM conv)
SELECT channel, CAST(n_conversions AS BIGINT) AS n_conversions,
       CAST((n_conversions * 1000000) // n_total AS BIGINT) AS share_ppm
FROM agg, tot
"""


# ---------------------------------------------------------------------------
# q175: Roaring-style bitmap-index container planning audit
# ---------------------------------------------------------------------------

_Q175_W = 64  # container chunk width (id space per container)
_Q175_ARR_MAX = 4  # array container iff cardinality < W/16 (Roaring's rule)


def q175_roaring_container_audit(spark, sf_dir):
    """Roaring-bitmap container PLANNING audit over the per-source
    doc-id posting sets — the layout decision inside every bitmap
    index (q132 does the set algebra; q169 prices varint postings;
    this prices the CONTAINER choice): the id space is split into
    fixed-width chunks and each (source, chunk) picks array vs bitmap
    by Roaring's cardinality rule (array iff n < width/16; array
    costs 2n bytes, bitmap width/8), giving the exact bytes a roaring
    index would spend vs naive 8-byte ids — the number that decides
    whether the 100-TB audience index is roaring or a plain list.
    Width 64 (vs Roaring's 2^16) keeps both container types live in
    the test fixtures; the rule scales verbatim.

    Scale shape: ONE (source, chunk) hash agg over the corpus (doc
    ids never shuffle wider than a count), container choice and byte
    pricing computed per aggregated chunk row, final rollup per
    source."""
    docs = _t(spark, sf_dir, "documents")
    chunks = docs.groupBy(
        "source", F.expr(f"doc_id div {_Q175_W}").alias("chunk")
    ).agg(F.count(F.lit(1)).alias("n"))
    priced = chunks.withColumn(
        "is_arr", F.expr(f"n < {_Q175_ARR_MAX}")
    ).withColumn(
        "bytes", F.expr(f"CASE WHEN n < {_Q175_ARR_MAX} THEN 2 * n ELSE {_Q175_W // 8} END")
    )
    return priced.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_chunks"),
        F.sum(F.expr("CASE WHEN is_arr THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_array"),
        F.sum(F.expr("CASE WHEN is_arr THEN 0 ELSE 1 END"))
        .cast("bigint")
        .alias("n_bitmap"),
        F.sum("bytes").cast("bigint").alias("roaring_bytes"),
        (F.sum("n") * 8).cast("bigint").alias("naive_bytes"),
        F.expr(
            "CAST(((sum(n) * 8 - sum(bytes)) * 1000000) div (sum(n) * 8)"
            " AS BIGINT)"
        ).alias("savings_ppm"),
    )


ORACLE_Q175 = f"""
WITH chunks AS (
  SELECT source, doc_id // {_Q175_W} AS chunk, count(*) AS n
  FROM documents GROUP BY 1, 2
),
priced AS (
  SELECT source, n, n < {_Q175_ARR_MAX} AS is_arr,
         CASE WHEN n < {_Q175_ARR_MAX} THEN 2 * n ELSE {_Q175_W // 8} END AS bytes
  FROM chunks
)
SELECT source, CAST(count(*) AS BIGINT) AS n_chunks,
       CAST(sum(CASE WHEN is_arr THEN 1 ELSE 0 END) AS BIGINT) AS n_array,
       CAST(sum(CASE WHEN is_arr THEN 0 ELSE 1 END) AS BIGINT) AS n_bitmap,
       CAST(sum(bytes) AS BIGINT) AS roaring_bytes,
       CAST(sum(n) * 8 AS BIGINT) AS naive_bytes,
       CAST(((sum(n) * 8 - sum(bytes)) * 1000000) // (sum(n) * 8) AS BIGINT)
         AS savings_ppm
FROM priced GROUP BY source
"""


# ---------------------------------------------------------------------------
# q176: rank-based feature normalization (percent-rank in integer ppm)
# ---------------------------------------------------------------------------


def q176_percent_rank_normalization(spark, sf_dir):
    """Rank-based feature normalization: each document's n_chars is
    mapped to its within-language percent-rank in integer ppm —
    below·1e6 div (n−1), where `below` counts rows STRICTLY smaller
    (ties share the min rank, the SQL percent_rank convention) — the
    distribution-free scaling a quality-mixing pipeline applies before
    combining heterogeneous signals (raw lengths aren't comparable
    across languages; ranks are).

    Scale shape: the ranking does NOT sort the corpus — the cumulative
    count runs on the grouped (lang, value) relation (bounded domain,
    the q128/q143/q168 argument) and joins back to documents on the
    fixed-width (lang, value) key; per-lang totals ride the same
    grouped relation.  A naive percent_rank() window over raw rows
    would sort every language partition — corpus-scale — for the
    identical answer."""
    docs = _t(spark, sf_dir, "documents")
    vals = docs.groupBy("lang", F.col("n_chars").alias("val")).agg(
        F.count(F.lit(1)).alias("cnt")
    )
    w = Window.partitionBy("lang").orderBy("val")
    ranked = (
        vals.withColumn("cum", F.sum("cnt").over(w))
        .withColumn("below", F.col("cum") - F.col("cnt"))
        .withColumn(
            "ntot", F.sum("cnt").over(Window.partitionBy("lang"))
        )
        .select(
            F.col("lang").alias("rl"),
            "val",
            F.expr(
                "CAST((below * 1000000) div greatest(ntot - 1, 1) AS BIGINT)"
            ).alias("pct_ppm"),
        )
    )
    return docs.join(
        ranked,
        (F.col("lang") == F.col("rl")) & (F.col("n_chars") == F.col("val")),
    ).select(
        "doc_id",
        "lang",
        F.col("n_chars").cast("bigint").alias("n_chars"),
        "pct_ppm",
    )


ORACLE_Q176 = """
WITH vals AS (
  SELECT lang, n_chars AS val, count(*) AS cnt FROM documents GROUP BY 1, 2
),
ranked AS (
  SELECT lang, val,
         sum(cnt) OVER (PARTITION BY lang ORDER BY val) - cnt AS below,
         sum(cnt) OVER (PARTITION BY lang) AS ntot
  FROM vals
)
SELECT d.doc_id, d.lang, CAST(d.n_chars AS BIGINT) AS n_chars,
       CAST((r.below * 1000000) // greatest(r.ntot - 1, 1) AS BIGINT)
         AS pct_ppm
FROM documents d JOIN ranked r ON r.lang = d.lang AND r.val = d.n_chars
"""


# ---------------------------------------------------------------------------
# q159: tokenizer OOV-rate audit (vocabulary coverage gap)
# ---------------------------------------------------------------------------

_Q159_VOCAB_K = 16  # top-K corpus types form the vocabulary


def q159_oov_rate_audit(spark, sf_dir):
    """Tokenizer out-of-vocabulary audit: fix the vocabulary at the
    top-16 corpus token types (orderBy+limit → TakeOrderedAndProject,
    the q158 discipline) and measure, per language, the OOV rate in
    exact integer ppm at BOTH granularities — token occurrences (how
    much raw text falls outside the vocab) and types (how much of the
    lexicon is uncovered).  q88 measures coverage of an EXTERNAL
    vocab-size sweep; this audits ONE induced vocabulary's per-lang
    blind spots — the number that decides whether a tokenizer
    retrains before a new-language crawl is mixed in.

    Scale shape: ONE token explode feeds both the type-frequency
    relation (vocab induction) and the per-lang tallies; membership is
    one broadcast left join against the 16-row vocab; everything
    downstream of the explode is hash aggs."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        "lang",
        F.explode(
            F.flatten(F.transform(F.split(F.col("text"), "\n", -1), tokens_expr))
        ).alias("token"),
    )
    types = toks.groupBy("token").agg(F.count(F.lit(1)).alias("tf"))
    vocab = (
        types.orderBy(F.col("tf").desc(), F.col("token").asc())
        .limit(_Q159_VOCAB_K)
        .select("token", F.lit(1).alias("in_vocab"))
    )
    tagged = toks.join(F.broadcast(vocab), "token", "left")
    return tagged.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tokens"),
        F.sum(F.expr("CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("n_oov_tokens"),
        F.countDistinct("token").cast("bigint").alias("n_types"),
        F.countDistinct(F.expr("CASE WHEN in_vocab IS NULL THEN token END"))
        .cast("bigint")
        .alias("n_oov_types"),
        F.expr(
            "CAST((sum(CASE WHEN in_vocab IS NULL THEN 1 ELSE 0 END)"
            " * 1000000) div count(1) AS BIGINT)"
        ).alias("oov_ppm"),
    )


ORACLE_Q159 = f"""
WITH toks AS (
  SELECT lang,
         unnest(flatten(list_transform(string_split(text, chr(10)),
           ln -> list_filter(string_split(ln, ' '), t -> t <> '')))) AS token
  FROM documents
),
types AS (SELECT token, count(*) AS tf FROM toks GROUP BY 1),
vocab AS (
  SELECT token FROM types ORDER BY tf DESC, token ASC LIMIT {_Q159_VOCAB_K}
),
tagged AS (
  SELECT t.lang, t.token, v.token IS NOT NULL AS in_vocab
  FROM toks t LEFT JOIN vocab v ON v.token = t.token
)
SELECT lang, CAST(count(*) AS BIGINT) AS n_tokens,
       CAST(sum(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) AS BIGINT)
         AS n_oov_tokens,
       CAST(count(DISTINCT token) AS BIGINT) AS n_types,
       CAST(count(DISTINCT CASE WHEN NOT in_vocab THEN token END) AS BIGINT)
         AS n_oov_types,
       CAST((sum(CASE WHEN NOT in_vocab THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS oov_ppm
FROM tagged GROUP BY lang
"""


# ---------------------------------------------------------------------------
# q161: conversion-latency percentiles (time-to-event)
# ---------------------------------------------------------------------------


def q161_conversion_latency(spark, sf_dir):
    """Time-to-event analysis: per first-view cohort day, the exact
    p50/p90 of hours from a user's FIRST view to their FIRST purchase
    (users who never purchase, or purchased before viewing, are out of
    the population — documented censoring rule).  q127 counts WHO
    retains; q135 matches funnel steps; this measures HOW LONG
    conversion takes — the latency distribution a growth team
    watches.  Percentiles are nearest-rank over the grouped
    (cohort, latency-hour) relation (bounded domain, the q143/q168
    discipline) — no sort of the user relation.

    Scale shape: ONE (user, type) min-ts agg (linear); the view/
    purchase pivot is a self-join of that AGGREGATED relation on
    user; latency percentiles run on grouped hour counts."""
    ev = _t(spark, sf_dir, "events")
    firsts = ev.where(
        F.col("event_type").isin("view", "purchase")
    ).groupBy("user_id", "event_type").agg(F.min("ts").alias("t"))
    v = firsts.where(F.col("event_type") == "view").select(
        "user_id", F.col("t").alias("tv")
    )
    p = firsts.where(F.col("event_type") == "purchase").select(
        "user_id", F.col("t").alias("tp")
    )
    lat = (
        v.join(p, "user_id")
        .where(F.col("tp") >= F.col("tv"))
        .select(
            F.to_date("tv").alias("cohort_day"),
            F.expr(
                "(unix_timestamp(tp) - unix_timestamp(tv)) div 3600"
            ).alias("lat_h"),
        )
    )
    hist = lat.groupBy("cohort_day", "lat_h").agg(
        F.count(F.lit(1)).alias("cnt")
    )
    wcum = Window.partitionBy("cohort_day").orderBy("lat_h")
    wall = Window.partitionBy("cohort_day")
    cum = hist.withColumn("cum", F.sum("cnt").over(wcum)).withColumn(
        "tot", F.sum("cnt").over(wall)
    )
    return cum.groupBy("cohort_day").agg(
        F.max("tot").cast("bigint").alias("n_users"),
        F.min(F.when(F.expr("100 * cum >= 50 * tot"), F.col("lat_h")))
        .cast("bigint")
        .alias("p50_hours"),
        F.min(F.when(F.expr("100 * cum >= 90 * tot"), F.col("lat_h")))
        .cast("bigint")
        .alias("p90_hours"),
    ).select(
        F.date_format("cohort_day", "yyyy-MM-dd").alias("cohort_day"),
        "n_users",
        "p50_hours",
        "p90_hours",
    )


__all__ = _star_exports(globals())  # noqa: F405
