"""Registry block q301-q341 — split verbatim from the
single-module catalog (round-4 verdict #2); execution order,
names and behavior identical to the original queries.py."""
from __future__ import annotations

from .block_q257_q300 import *  # noqa: F401,F403



# q301: exact source-overlap Jaccard matrix

def q301_source_overlap_jaccard(spark, sf_dir):
    """Exact pairwise Jaccard similarity between the 20 sources'
    trigram SETS — the feed-overlap audit a corpus curator runs before
    paying for a new feed ("is src7 just src3 re-crawled?").  Distinct
    from q16/q22 (DOC pairs, sampled/sketched) and q293 (distribution
    distance): this is exact SET overlap at the SOURCE grain, where
    exactness is affordable because the pair fan-out per trigram is
    bounded by C(20,2)=190 — the (source, gram) distinct relation
    self-joins on the gram key and can never blow up past
    190x|vocab|.  jaccard_ppm = 1e6*inter div (|A|+|B|-inter), all
    exact integers; top-20 pairs under a pinned total order.

    Scale shape: one distinct shuffle to (source, gram), one
    bounded-fan-out equi-join, one pair agg; per-source set sizes
    REAGGREGATE the same relation (hierarchical rollup, one corpus
    scan)."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    grams = F.when(
        F.size(toks) >= 3,
        F.transform(
            F.sequence(F.lit(1), F.size(toks) - 2),
            lambda i: F.concat_ws(
                " ",
                F.element_at(toks, i),
                F.element_at(toks, i + 1),
                F.element_at(toks, i + 2),
            ),
        ),
    ).otherwise(F.array().cast("array<string>"))
    sg = docs.select("source", F.explode(grams).alias("g")).distinct()
    sizes = sg.groupBy("source").agg(F.count(F.lit(1)).alias("sz"))
    a, b = sg.alias("a"), sg.alias("b")
    inter = (
        a.join(
            b,
            (F.col("a.g") == F.col("b.g"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    return (
        inter.join(
            F.broadcast(sizes.withColumnRenamed("source", "src_a")
                        .withColumnRenamed("sz", "sz_a")),
            "src_a",
        )
        .join(
            F.broadcast(sizes.withColumnRenamed("source", "src_b")
                        .withColumnRenamed("sz", "sz_b")),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "inter",
            F.col("sz_a").cast("bigint").alias("sz_a"),
            F.col("sz_b").cast("bigint").alias("sz_b"),
            F.expr("(inter * 1000000) div (sz_a + sz_b - inter)")
            .cast("bigint")
            .alias("jaccard_ppm"),
        )
        .orderBy(F.desc("jaccard_ppm"), "src_a", "src_b")
        .limit(20)
    )


ORACLE_Q301 = """
WITH toks AS (
  SELECT source,
         list_filter(string_split_regex(lower(text), '\\s+'),
                     t -> t <> '') AS ts
  FROM documents
),
sg AS (
  SELECT DISTINCT source, g FROM (
    SELECT source,
           unnest(list_transform(range(1, greatest(len(ts) - 1, 1)),
                  i -> ts[i] || ' ' || ts[i+1] || ' ' || ts[i+2])) AS g
    FROM toks WHERE len(ts) >= 3
  )
),
sizes AS (SELECT source, count(*) AS sz FROM sg GROUP BY source),
inter AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(count(*) AS BIGINT) AS inter
  FROM sg a JOIN sg b ON a.g = b.g AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, inter,
       CAST(sa.sz AS BIGINT) AS sz_a, CAST(sb.sz AS BIGINT) AS sz_b,
       CAST((inter * 1000000) // (sa.sz + sb.sz - inter) AS BIGINT)
         AS jaccard_ppm
FROM inter
JOIN sizes sa ON sa.source = src_a
JOIN sizes sb ON sb.source = src_b
ORDER BY jaccard_ppm DESC, src_a, src_b
LIMIT 20
"""


# q302: RFM quintile segmentation

def q302_rfm_segments(spark, sf_dir):
    """RFM (recency / frequency / monetary) customer segmentation:
    each purchasing user scored 1-5 on each axis via ntile quintiles
    under PINNED total orders, segment code = 100r + 10f + m, then the
    per-segment census — the lifecycle-marketing workhorse (who are
    the 555 "champions", who is "at risk").  Recency is days since the
    user's last purchase measured against the CORPUS max timestamp (a
    pure function of the data, no wall clock), ordered DESC so quintile
    5 = most recent; frequency = purchase count; monetary = exact cents
    sum.  Every tie is broken by user_id so both engines bucket
    identically (ntile on a non-total order would be
    engine-dependent).

    Scale shape: one per-user agg over the purchase slice, three
    user-table-scale window ranks, one <=125-row census agg."""
    ev = _t(spark, sf_dir, "events")
    anchor = ev.agg(
        F.max(F.unix_timestamp("ts")).cast("bigint").alias("t_max")
    )
    users = (
        ev.where(F.col("event_type") == "purchase")
        .crossJoin(F.broadcast(anchor))
        .groupBy("user_id")
        .agg(
            (F.max("t_max") - F.max(F.unix_timestamp("ts"))).alias("rec_secs"),
            F.count(F.lit(1)).alias("freq"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents"),
        )
    )
    r = F.ntile(5).over(Window.orderBy(F.desc("rec_secs"), F.col("user_id")))
    fq = F.ntile(5).over(Window.orderBy(F.col("freq"), F.col("user_id")))
    mq = F.ntile(5).over(Window.orderBy(F.col("cents"), F.col("user_id")))
    scored = users.select(
        "user_id",
        "cents",
        (r * 100 + fq * 10 + mq).cast("bigint").alias("segment"),
    )
    return (
        scored.groupBy("segment")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("cents").cast("bigint").alias("total_cents"),
            F.expr("sum(cents) div count(*)")
            .cast("bigint")
            .alias("avg_cents"),
        )
        .orderBy("segment")
    )


ORACLE_Q302 = """
WITH anchor AS (
  SELECT CAST(floor(epoch(max(ts))) AS BIGINT) AS t_max FROM events
),
users AS (
  SELECT user_id,
         t_max - CAST(floor(epoch(max(ts))) AS BIGINT) AS rec_secs,
         count(*) AS freq,
         sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events, anchor
  WHERE event_type = 'purchase'
  GROUP BY user_id, t_max
),
scored AS (
  SELECT user_id, cents,
         ntile(5) OVER (ORDER BY rec_secs DESC, user_id) * 100
         + ntile(5) OVER (ORDER BY freq, user_id) * 10
         + ntile(5) OVER (ORDER BY cents, user_id) AS segment
  FROM users
)
SELECT CAST(segment AS BIGINT) AS segment,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(cents) AS BIGINT) AS total_cents,
       CAST(sum(cents) // count(*) AS BIGINT) AS avg_cents
FROM scored GROUP BY segment ORDER BY segment
"""


# q303: business-day shipping latency histogram

def q303_business_day_latency(spark, sf_dir):
    """Order-to-ship latency in BUSINESS DAYS (Mon-Fri), the SLA
    currency ops teams actually contract in — calendar-day latency
    (q251) overstates weekend-spanning shipments by up to 2 days.
    Computed in closed form, no calendar table and no iteration:
    W(d) = weekdays in epoch-days [0, d) = (d div 7)*5 + L[d mod 7]
    where L is the 8-entry lookup for a run starting on the epoch
    anchor (1970-01-01 was a THURSDAY, so L = 0,1,2,2,2,3,4,5); the
    business-day latency of a lineitem is W(ship+1) - W(order+1) —
    weekdays in the half-open interval (order, ship].  Pure integer
    arithmetic, identical lookup tables in both engines.  Restricted
    to FORWARD shipments (ship >= order; the synthetic corpus also
    contains backdated pairs) and summarized per ship year: volume,
    exact mean business-day latency, and the worst case.

    Scale shape: the formula is a map-side expression on the
    orders-lineitem equi-join; ONE <=10-row year rollup after it."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    lut = "array(0, 1, 2, 2, 2, 3, 4, 5)"
    w = lambda col: (  # noqa: E731
        f"(CAST(({col}) AS BIGINT) div 7) * 5"
        f" + element_at({lut}, CAST(({col}) % 7 AS INT) + 1)"
    )
    j = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .where(F.expr("CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)"))
        .select(
            F.year("l_shipdate").cast("bigint").alias("ship_year"),
            F.expr(
                "(" + w("datediff(l_shipdate, DATE'1970-01-01') + 1")
                + ") - ("
                + w("datediff(o_orderdate, DATE'1970-01-01') + 1") + ")"
            ).cast("bigint").alias("biz_days"),
        )
    )
    return (
        j.groupBy("ship_year")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum("biz_days").cast("bigint").alias("total_biz_days"),
            F.expr("sum(biz_days) div count(*)")
            .cast("bigint")
            .alias("avg_biz_days"),
            F.max("biz_days").cast("bigint").alias("max_biz_days"),
        )
        .orderBy("ship_year")
    )


ORACLE_Q303 = """
WITH j AS (
  SELECT CAST(year(l_shipdate) AS BIGINT) AS ship_year,
         ((CAST(datediff('day', DATE '1970-01-01', l_shipdate) AS BIGINT) + 1)
          // 7) * 5
         + ([0, 1, 2, 2, 2, 3, 4, 5])[
             CAST((CAST(datediff('day', DATE '1970-01-01', l_shipdate)
                   AS BIGINT) + 1) % 7 AS INT) + 1]
         - ((CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
             + 1) // 7) * 5
         - ([0, 1, 2, 2, 2, 3, 4, 5])[
             CAST((CAST(datediff('day', DATE '1970-01-01', o_orderdate)
                   AS BIGINT) + 1) % 7 AS INT) + 1]
         AS biz_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE CAST(l_shipdate AS DATE) >= CAST(o_orderdate AS DATE)
)
SELECT ship_year,
       CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(biz_days) AS BIGINT) AS total_biz_days,
       CAST(sum(biz_days) // count(*) AS BIGINT) AS avg_biz_days,
       CAST(max(biz_days) AS BIGINT) AS max_biz_days
FROM j GROUP BY ship_year ORDER BY ship_year
"""


# q304: exact Gini coefficient via the rank formula

def q304_gini_concentration(spark, sf_dir):
    """Exact Gini coefficient of revenue concentration across users —
    "what fraction of spend is carried by the whales", the
    concentration number a monetization team tracks (HHI-style source
    concentration is q125; Gini is the per-INDIVIDUAL inequality
    measure).  Uses the rank formula G = Σ_i (2i − n − 1)·x_(i) /
    (n·Σx) over spend sorted ascending under the pinned (spend,
    user_id) total order — ONE distributed sort + rank instead of the
    O(n²) pairwise |x_i − x_j| definition, and every term is an exact
    BIGINT (gini in ppm by integer division).  Also emits the top-
    decile revenue share (the Pareto check) off the same ranked pass.

    Scale shape: one per-user agg, one global sort (the rank), one
    moment fold — the rank formula is THE way to compute Gini at 10^9
    users because it needs only a sort the engine already
    parallelizes."""
    ev = _t(spark, sf_dir, "events")
    spend = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("cents")
        )
    )
    w = Window.orderBy("cents", "user_id")
    ranked = spend.select(
        "cents", F.row_number().over(w).cast("bigint").alias("i")
    )
    mom = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("cents").cast("bigint").alias("s"),
        F.sum(F.expr("(2 * i - 1) * cents")).cast("bigint").alias("ws"),
    )
    top = (
        ranked.crossJoin(F.broadcast(mom.select("n")))
        .where(F.col("i") * 10 > F.col("n") * 9)
        .agg(F.sum("cents").cast("bigint").alias("top_decile_cents"))
    )
    return mom.crossJoin(F.broadcast(top)).select(
        "n",
        "s",
        F.expr("((ws - n * s) * 1000000) div (n * s)")
        .cast("bigint")
        .alias("gini_ppm"),
        F.expr("(top_decile_cents * 1000000) div s")
        .cast("bigint")
        .alias("top_decile_share_ppm"),
    )


ORACLE_Q304 = """
WITH spend AS (
  SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS cents
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, user_id) AS BIGINT) AS i
  FROM spend
),
mom AS (
  SELECT count(*) AS n, sum(cents) AS s,
         sum((2 * i - 1) * cents) AS ws
  FROM ranked
),
top AS (
  SELECT sum(cents) AS top_decile_cents FROM ranked, mom WHERE i * 10 > n * 9
)
SELECT CAST(n AS BIGINT) AS n, CAST(s AS BIGINT) AS s,
       CAST(((ws - n * s) * 1000000) // (n * s) AS BIGINT) AS gini_ppm,
       CAST((top_decile_cents * 1000000) // s AS BIGINT)
         AS top_decile_share_ppm
FROM mom, top
"""


# q305: decile gains / lift table

def q305_gains_lift_table(spark, sf_dir):
    """Decile gains-and-lift table for an activity-based targeting
    score: rank users by event count (descending, pinned tie order),
    cut into ntile deciles, and report each decile's cumulative
    capture of high-value buyers (max purchase value >= 97) plus the
    lift over random targeting — THE evaluation artifact a marketing
    data scientist ships with any propensity score ("the top 2 deciles
    capture X% of buyers at Y times random").  capture_ppm and
    lift_milli are exact integer rationals: lift = (cum_buyers *
    n_total) / (total_buyers * cum_users) cross-multiplied into
    integer milli-units, no floats.

    Scale shape: one per-user agg, one user-scale ntile, one 10-row
    census + 10-row cumulative window — everything after the first
    shuffle is decile-scale."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).alias("cnt"),
        F.max(
            F.when(
                (F.col("event_type") == "purchase") & (F.col("value") >= 97.0),
                1,
            ).otherwise(0)
        ).alias("buyer"),
    )
    dec = users.select(
        F.ntile(10)
        .over(Window.orderBy(F.desc("cnt"), F.col("user_id")))
        .alias("decile"),
        "buyer",
    )
    cells = dec.groupBy("decile").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("buyer").cast("bigint").alias("n_buyers"),
    )
    wc = Window.orderBy("decile").rowsBetween(
        Window.unboundedPreceding, Window.currentRow
    )
    tot = cells.agg(
        F.sum("n_users").alias("nt"), F.sum("n_buyers").alias("bt")
    )
    return (
        cells.select(
            "decile",
            "n_users",
            "n_buyers",
            F.sum("n_users").over(wc).cast("bigint").alias("cum_users"),
            F.sum("n_buyers").over(wc).cast("bigint").alias("cum_buyers"),
        )
        .crossJoin(F.broadcast(tot))
        .select(
            "decile",
            "n_users",
            "n_buyers",
            F.expr("(cum_buyers * 1000000) div bt")
            .cast("bigint")
            .alias("capture_ppm"),
            F.expr("(cum_buyers * nt * 1000) div (bt * cum_users)")
            .cast("bigint")
            .alias("lift_milli"),
        )
        .orderBy("decile")
    )


ORACLE_Q305 = """
WITH users AS (
  SELECT user_id, count(*) AS cnt,
         max(CASE WHEN event_type = 'purchase' AND value >= 97.0
                  THEN 1 ELSE 0 END) AS buyer
  FROM events GROUP BY user_id
),
dec AS (
  SELECT ntile(10) OVER (ORDER BY cnt DESC, user_id) AS decile, buyer
  FROM users
),
cells AS (
  SELECT decile, CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(buyer) AS BIGINT) AS n_buyers
  FROM dec GROUP BY decile
),
cum AS (
  SELECT decile, n_users, n_buyers,
         sum(n_users) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS cum_users,
         sum(n_buyers) OVER (ORDER BY decile
              ROWS UNBOUNDED PRECEDING) AS cum_buyers
  FROM cells
),
tot AS (SELECT sum(n_users) AS nt, sum(n_buyers) AS bt FROM cells)
SELECT decile, n_users, n_buyers,
       CAST((cum_buyers * 1000000) // bt AS BIGINT) AS capture_ppm,
       CAST((cum_buyers * nt * 1000) // (bt * cum_users) AS BIGINT)
         AS lift_milli
FROM cum, tot
ORDER BY decile
"""


# q306: hierarchical share-of-parent revenue decomposition

def q306_share_of_parent(spark, sf_dir):
    """Share-of-parent revenue decomposition over the geography
    hierarchy: each nation's revenue as a share of ITS REGION and each
    region's share of the world — the drill-down ratio pair every
    OLAP dashboard needs (a plain rollup (q06/q30) gives the levels;
    the share-of-PARENT join is what turns them into percentages a
    human reads).  Revenue in exact cents; shares in truncating
    integer ppm.  The region totals REAGGREGATE the nation cells and
    the world total reaggregates the regions — three cascaded
    aggregates over ONE fact-scan result, never three scans.

    Scale shape: one fact-side agg keyed by nationkey, then
    dimension-scale broadcast joins (nation/region are tiny); the
    cascade after the first shuffle is 25-row arithmetic."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    region = _t(spark, sf_dir, "region")
    cents = F.expr("CAST(round(o_totalprice * 100) AS BIGINT)")
    per_cust = orders.select(F.col("o_custkey"), cents.alias("c"))
    per_nation = (
        per_cust.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            per_cust.o_custkey == F.col("c_custkey"),
        )
        .groupBy("c_nationkey")
        .agg(F.sum("c").alias("cents"))
        .join(
            F.broadcast(
                nation.select("n_nationkey", "n_name", "n_regionkey")
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .join(
            F.broadcast(region.select("r_regionkey", "r_name")),
            F.col("n_regionkey") == F.col("r_regionkey"),
        )
        .select("r_name", "n_name", "cents")
    )
    per_region = per_nation.groupBy("r_name").agg(
        F.sum("cents").alias("region_cents")
    )
    world = per_region.agg(F.sum("region_cents").alias("world_cents"))
    return (
        per_nation.join(F.broadcast(per_region), "r_name")
        .crossJoin(F.broadcast(world))
        .select(
            "r_name",
            "n_name",
            F.col("cents").cast("bigint").alias("cents"),
            F.expr("(cents * 1000000) div region_cents")
            .cast("bigint")
            .alias("share_of_region_ppm"),
            F.expr("(region_cents * 1000000) div world_cents")
            .cast("bigint")
            .alias("region_share_ppm"),
        )
        .orderBy("r_name", "n_name")
    )


ORACLE_Q306 = """
WITH per_nation AS (
  SELECT r_name, n_name,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS cents
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  JOIN region ON n_regionkey = r_regionkey
  GROUP BY 1, 2
),
per_region AS (
  SELECT r_name, sum(cents) AS region_cents FROM per_nation GROUP BY 1
),
world AS (SELECT sum(region_cents) AS world_cents FROM per_region)
SELECT p.r_name, p.n_name, CAST(p.cents AS BIGINT) AS cents,
       CAST((p.cents * 1000000) // region_cents AS BIGINT)
         AS share_of_region_ppm,
       CAST((region_cents * 1000000) // world_cents AS BIGINT)
         AS region_share_ppm
FROM per_nation p JOIN per_region USING (r_name), world
ORDER BY r_name, n_name
"""


# q307: front-coding advisor via adjacent-LCP economics

def q307_front_coding_advisor(spark, sf_dir):
    """Front-coding economics for the sorted URL index: in key order,
    each key stores only its suffix after the longest common prefix
    (LCP) with its predecessor — the sorted-string-table layout every
    LSM/term-dictionary uses.  URLs are synthesized deterministically
    from doc fields (the q140 corpus convention), sorted per source
    partition, and the adjacent LCP is computed EXACTLY by exploding
    candidate prefix lengths 1..min(len) and keeping the longest k
    with substr equality — engine-portable (no LCP builtin exists in
    either engine) and linear in key length.  Per source: key count,
    raw bytes, saved bytes (sum of LCPs), and the front-coded
    compression ratio in ppm — the number that decides whether the
    index block format is worth it.

    Scale shape: sort + lag within each source partition (ONE window
    Exchange), LCP fan-out bounded by key length (~40), one rollup;
    q182/q169 price dictionary and varint coding — this prices the
    third classic layout."""
    docs = _t(spark, sf_dir, "documents")
    url = F.concat(
        F.col("source"),
        F.lit(".example.com/a"),
        (F.col("doc_id") % 5).cast("string"),
        F.lit("/b"),
        (F.col("doc_id") % 7).cast("string"),
        F.lit("/doc"),
        F.col("doc_id").cast("string"),
    )
    w = Window.partitionBy("source").orderBy("url")
    adj = docs.select("source", url.alias("url")).withColumn(
        "prev", F.lag("url").over(w)
    )
    lcp = adj.withColumn(
        "lcp",
        F.when(F.col("prev").isNull(), F.lit(0)).otherwise(
            F.coalesce(
                F.expr(
                    "array_max(filter(transform("
                    "sequence(1, least(length(url), length(prev))),"
                    " k -> CASE WHEN substring(url, 1, k) ="
                    " substring(prev, 1, k) THEN k ELSE 0 END),"
                    " x -> x > 0))"
                ),
                F.lit(0),
            )
        ),
    )
    return (
        lcp.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum(F.length("url")).cast("bigint").alias("raw_bytes"),
            F.sum("lcp").cast("bigint").alias("saved_bytes"),
        )
        .select(
            "source",
            "n_keys",
            "raw_bytes",
            "saved_bytes",
            F.expr("((raw_bytes - saved_bytes) * 1000000) div raw_bytes")
            .cast("bigint")
            .alias("coded_ratio_ppm"),
        )
        .orderBy("source")
    )


ORACLE_Q307 = """
WITH urls AS (
  SELECT source,
         source || '.example.com/a' || CAST(doc_id % 5 AS VARCHAR)
           || '/b' || CAST(doc_id % 7 AS VARCHAR)
           || '/doc' || CAST(doc_id AS VARCHAR) AS url
  FROM documents
),
adj AS (
  SELECT source, url,
         lag(url) OVER (PARTITION BY source ORDER BY url) AS prev
  FROM urls
),
lcp AS (
  SELECT source, url,
         CASE WHEN prev IS NULL THEN 0 ELSE coalesce(
           (SELECT max(k) FROM unnest(range(1,
                least(length(url), length(prev)) + 1)) AS t(k)
            WHERE substring(url, 1, CAST(k AS INT))
                  = substring(prev, 1, CAST(k AS INT))), 0)
         END AS lcp
  FROM adj
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(length(url)) AS BIGINT) AS raw_bytes,
       CAST(sum(lcp) AS BIGINT) AS saved_bytes,
       CAST(((sum(length(url)) - sum(lcp)) * 1000000)
            // sum(length(url)) AS BIGINT) AS coded_ratio_ppm
FROM lcp GROUP BY source ORDER BY source
"""


# q308: weekday-hour traffic independence residuals

def q308_dow_hour_residuals(spark, sf_dir):
    """Weekday × hour-of-day traffic interaction residuals: compare
    each (dow, hour) cell's observed event count against the
    independence expectation rowsum·colsum/total, entirely in
    CROSS-MULTIPLIED integers — resid_ppm = obs·total·1e6 div
    (rowsum·colsum) − 1e6 — the capacity-planning question "is Monday
    9am special, or just Monday times 9am?" (q180 scores entities
    against their own seasonal baseline; this decomposes the GLOBAL
    calendar interaction).  dow/hour are derived from epoch seconds
    ((d+4) mod 7 with the Thursday anchor, q303's discipline) so both
    engines bucket identically with zero timezone surface.  Top-20
    cells by absolute residual under a pinned order.

    Scale shape: ONE map-side-combinable (dow, hour) agg — 168 cells
    — then marginals REAGGREGATE the cells; everything after the
    first shuffle is 168-row arithmetic."""
    ev = _t(spark, sf_dir, "events")
    cells = ev.select(
        F.expr(
            "((CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) + 4) % 7)"
        ).alias("dow"),
        F.expr(
            "CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT) % 24"
        ).alias("hour"),
    ).groupBy("dow", "hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("obs")
    )
    rows_ = cells.groupBy("dow").agg(F.sum("obs").alias("row_n"))
    cols_ = cells.groupBy("hour").agg(F.sum("obs").alias("col_n"))
    tot = cells.agg(F.sum("obs").alias("n"))
    scored = (
        cells.join(F.broadcast(rows_), "dow")
        .join(F.broadcast(cols_), "hour")
        .crossJoin(F.broadcast(tot))
        .select(
            "dow",
            "hour",
            "obs",
            F.expr("(obs * n * 1000000) div (row_n * col_n) - 1000000")
            .cast("bigint")
            .alias("resid_ppm"),
        )
    )
    return scored.orderBy(
        F.abs(F.col("resid_ppm")).desc(), "dow", "hour"
    ).limit(20)


ORACLE_Q308 = """
WITH cells AS (
  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7) AS dow,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hour,
         CAST(count(*) AS BIGINT) AS obs
  FROM events GROUP BY 1, 2
),
rows_ AS (SELECT dow, sum(obs) AS row_n FROM cells GROUP BY dow),
cols_ AS (SELECT hour, sum(obs) AS col_n FROM cells GROUP BY hour),
tot AS (SELECT sum(obs) AS n FROM cells)
SELECT dow, hour, obs,
       CAST((obs * n * 1000000) // (row_n * col_n) - 1000000 AS BIGINT)
         AS resid_ppm
FROM cells JOIN rows_ USING (dow) JOIN cols_ USING (hour), tot
ORDER BY abs((obs * n * 1000000) // (row_n * col_n) - 1000000) DESC,
         dow, hour
LIMIT 20
"""


# q309: MMR diversified retrieval (integer-exact, 5 greedy steps)

def q309_mmr_retrieval(spark, sf_dir):
    """Maximal Marginal Relevance retrieval: shortlist the 12 nearest
    neighbors of the query vector (vec_id 0) by EXACT integer dot
    product of q285-quantized vectors, then run 5 greedy MMR steps —
    each step picks argmax of relevance minus the max similarity to
    anything already selected (lambda = 1/2, so the score is simply
    dq - max_pair, both exact BIGINTs) — the diversified top-k every
    retrieval stack bolts onto a raw ANN shortlist so the user does
    not see five near-duplicates.  Greedy selection is DEFINED by the
    pinned (score desc, vec_id) order, so the 5-row answer is exact
    and engine-independent; q20/q24/q31 rank by pure relevance — this
    is the rerank stage on top.

    Scale shape: relevance is one map-side dot against a broadcast
    query vector; the greedy phase runs entirely on the 12-row
    shortlist (144 pair dots) — distributed shortlist, bounded rerank,
    the production MMR deployment shape."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST(round(x * 128) AS BIGINT))"
        ).alias("qv"),
    )
    qvec = q.where(F.col("vec_id") == 0).select(F.col("qv").alias("q0"))
    dots = (
        q.where(F.col("vec_id") != 0)
        .crossJoin(F.broadcast(qvec))
        .select(
            "vec_id",
            "qv",
            F.expr(
                "aggregate(zip_with(qv, q0, (a, b) -> a * b),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("dq"),
        )
    )
    cand = (
        dots.orderBy(F.desc("dq"), "vec_id")
        .limit(12)
        .localCheckpoint(eager=True)
    )
    a, b = cand.alias("a"), cand.alias("b")
    pair = (
        a.join(b, F.col("a.vec_id") != F.col("b.vec_id"))
        .select(
            F.col("a.vec_id").alias("da"),
            F.col("b.vec_id").alias("db"),
            F.expr(
                "aggregate(zip_with(a.qv, b.qv, (x, y) -> x * y),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("p"),
        )
        .localCheckpoint(eager=True)
    )
    cslim = cand.select("vec_id", "dq")
    sel = (
        cslim.orderBy(F.desc("dq"), "vec_id")
        .limit(1)
        .select(
            F.lit(1).cast("bigint").alias("step"),
            "vec_id",
            "dq",
            F.lit(0).cast("bigint").alias("penalty"),
            F.col("dq").alias("mmr_score"),
        )
        .localCheckpoint(eager=True)
    )
    for step in range(2, 6):
        rem = cslim.join(sel.select("vec_id"), "vec_id", "left_anti")
        pen = (
            rem.join(pair, rem.vec_id == pair.da)
            .join(
                sel.select(F.col("vec_id").alias("sid")),
                F.col("db") == F.col("sid"),
            )
            .groupBy(rem.vec_id, "dq")
            .agg(F.max("p").alias("penalty"))
        )
        nxt = (
            pen.select(
                F.lit(step).cast("bigint").alias("step"),
                "vec_id",
                "dq",
                F.col("penalty").cast("bigint").alias("penalty"),
                (F.col("dq") - F.col("penalty")).cast("bigint").alias("mmr_score"),
            )
            .orderBy(F.desc("mmr_score"), "vec_id")
            .limit(1)
        )
        sel = sel.unionByName(nxt).localCheckpoint(eager=True)
    return sel.orderBy("step")


def _oracle_q309():
    head = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 128) AS BIGINT)) AS qv
  FROM embeddings
),
dots AS (
  SELECT d.vec_id, d.qv,
         CAST((SELECT sum(d.qv[CAST(r.range AS INT)]
                          * q0.qv[CAST(r.range AS INT)])
               FROM range(1, 65) r) AS BIGINT) AS dq
  FROM q d, (SELECT qv FROM q WHERE vec_id = 0) q0
  WHERE d.vec_id <> 0
),
cand AS (
  SELECT vec_id, qv, dq FROM dots ORDER BY dq DESC, vec_id LIMIT 12
),
pair AS (
  SELECT a.vec_id AS da, b.vec_id AS db,
         CAST((SELECT sum(a.qv[CAST(r.range AS INT)]
                          * b.qv[CAST(r.range AS INT)])
               FROM range(1, 65) r) AS BIGINT) AS p
  FROM cand a JOIN cand b ON a.vec_id <> b.vec_id
),
s1 AS (
  SELECT CAST(1 AS BIGINT) AS step, vec_id, dq,
         CAST(0 AS BIGINT) AS penalty, dq AS mmr_score
  FROM cand ORDER BY dq DESC, vec_id LIMIT 1
)"""
    steps = []
    prev_all = "s1"
    for k in range(2, 6):
        sels = " UNION ALL ".join(
            f"SELECT vec_id FROM s{j}" for j in range(1, k)
        )
        steps.append(f""",
sel{k} AS ({sels}),
s{k} AS (
  SELECT CAST({k} AS BIGINT) AS step, c.vec_id, c.dq,
         CAST(max(p.p) AS BIGINT) AS penalty,
         CAST(c.dq - max(p.p) AS BIGINT) AS mmr_score
  FROM cand c
  JOIN pair p ON p.da = c.vec_id
  JOIN sel{k} s ON p.db = s.vec_id
  WHERE c.vec_id NOT IN (SELECT vec_id FROM sel{k})
  GROUP BY c.vec_id, c.dq
  ORDER BY mmr_score DESC, c.vec_id LIMIT 1
)""")
        prev_all = f"s{k}"
    tail = """
SELECT * FROM (
  SELECT * FROM s1 UNION ALL SELECT * FROM s2 UNION ALL
  SELECT * FROM s3 UNION ALL SELECT * FROM s4 UNION ALL
  SELECT * FROM s5
) ORDER BY step
"""
    return head + "".join(steps) + tail


# q310: nearest-centroid label coherence audit

def q310_centroid_coherence(spark, sf_dir):
    """Nearest-centroid self-classification audit of the embedding
    space: quantize vectors (q285 discipline), build per-label
    centroids scaled to a FIXED denominator (mu_hat = sign-explicit
    (S*1024) div n per dimension, so centroids are exact integers and
    cross-label distance comparisons never mix denominators), assign
    every vector to its nearest centroid by exact integer squared
    distance on 1024*q vs mu_hat, and report the (label, assigned)
    confusion census plus overall coherence — the "are the cluster
    labels real in embedding space?" QA gate a curation pipeline runs
    before trusting labels for stratification.  Ties broken by the
    smaller assigned label; every comparison is BIGINT (1024*|q| <=
    79k, squared x 64 dims ~ 4e11 — headroom past 10^12 vectors).

    Scale shape: centroids are ONE d-cell-per-label agg (bounded:
    labels x 64 rows, broadcast back); assignment is a map-side
    argmin over the broadcast centroid table; the census is one
    confusion-matrix-sized agg."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST(round(x * 128) AS BIGINT))"
        ).alias("qv"),
    )
    cells = (
        q.select("label", F.posexplode("qv").alias("i", "x"))
        .groupBy("label", "i")
        .agg(F.sum("x").alias("s"), F.count(F.lit(1)).alias("n"))
        .select(
            "label",
            "i",
            F.expr(
                "(CASE WHEN s >= 0 THEN 1 ELSE -1 END)"
                " * ((abs(s) * 1024) div n)"
            ).alias("mu"),
        )
    )
    cent = cells.groupBy("label").agg(
        F.map_from_arrays(
            F.collect_list("i"), F.collect_list("mu")
        ).alias("mus")
    ).select(
        F.col("label").alias("clabel"),
        F.expr(
            "transform(sequence(0, 63), i -> mus[i])"
        ).alias("muv"),
    )
    dist = (
        q.crossJoin(F.broadcast(cent))
        .select(
            "vec_id",
            "label",
            "clabel",
            F.expr(
                "aggregate(zip_with(qv, muv,"
                " (a, m) -> (a * 1024 - m) * (a * 1024 - m)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("d2"),
        )
    )
    w = Window.partitionBy("vec_id").orderBy("d2", "clabel")
    assigned = dist.withColumn("rk", F.row_number().over(w)).where(
        F.col("rk") == 1
    )
    census = assigned.groupBy("label", F.col("clabel").alias("assigned")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vecs")
    )
    tot = census.agg(
        F.sum("n_vecs").alias("n"),
        F.sum(F.when(F.col("label") == F.col("assigned"), F.col("n_vecs"))
              .otherwise(0)).alias("hit"),
    )
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            F.col("label").cast("bigint").alias("label"),
            F.col("assigned").cast("bigint").alias("assigned"),
            "n_vecs",
            F.expr("(hit * 1000000) div n").cast("bigint")
            .alias("coherence_ppm"),
        )
        .orderBy("label", "assigned")
    )


ORACLE_Q310 = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 128) AS BIGINT)) AS qv
  FROM embeddings
),
cells AS (
  SELECT label, r.range AS i,
         sum(qv[CAST(r.range AS INT)]) AS s, count(*) AS n
  FROM q, range(1, 65) r
  GROUP BY 1, 2
),
mu AS (
  SELECT label AS clabel, i,
         (CASE WHEN s >= 0 THEN 1 ELSE -1 END)
         * ((abs(s) * 1024) // n) AS mu
  FROM cells
),
dist AS (
  SELECT q.vec_id, q.label, mu.clabel,
         sum((qv[CAST(i AS INT)] * 1024 - mu)
             * (qv[CAST(i AS INT)] * 1024 - mu)) AS d2
  FROM q, mu
  GROUP BY 1, 2, 3
),
assigned AS (
  SELECT vec_id, label, clabel,
         row_number() OVER (PARTITION BY vec_id
                            ORDER BY d2, clabel) AS rk
  FROM dist
),
census AS (
  SELECT label, clabel AS assigned, CAST(count(*) AS BIGINT) AS n_vecs
  FROM assigned WHERE rk = 1 GROUP BY 1, 2
),
tot AS (
  SELECT sum(n_vecs) AS n,
         sum(CASE WHEN label = assigned THEN n_vecs ELSE 0 END) AS hit
  FROM census
)
SELECT CAST(label AS BIGINT) AS label,
       CAST(assigned AS BIGINT) AS assigned, n_vecs,
       CAST((hit * 1000000) // n AS BIGINT) AS coherence_ppm
FROM census, tot
ORDER BY label, assigned
"""


# q311: TPC-H Q6 forecast revenue change

def q311_forecast_revenue(spark, sf_dir):
    """TPC-H Q6 (forecasting revenue change): the revenue that would
    have been gained by eliminating small discounts on low-quantity
    1996 lineitems — the canonical pushdown-and-aggregate query, and
    deliberately the SIMPLEST plan in the catalog: every predicate
    reaches the parquet scan, there is no join, and the whole query is
    one map-side-combinable fold.  Revenue is exact: cents x discount-
    hundredths = BIGINT ten-thousandths (the q221 discipline — the
    textbook sum(extendedprice*discount) double fold is order-
    dependent and never lands on the oracle hash).  Completes the
    TPC-H shape family alongside Q1-Q5, Q7-Q11, Q13-Q22.

    Scale shape: scan -> filter (all pushed) -> single partial+final
    agg; at 100 TB this is the query that proves the scan path is not
    the bottleneck."""
    li = _t(spark, sf_dir, "lineitem")
    return (
        li.where(
            (F.col("l_shipdate") >= "1996-01-01")
            & (F.col("l_shipdate") < "1997-01-01")
            & (F.col("l_discount") >= 0.05)
            & (F.col("l_discount") <= 0.07)
            & (F.col("l_quantity") < 24)
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_lines"),
            F.sum(
                F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)")
                * F.expr("CAST(round(l_discount * 100) AS BIGINT)")
            ).cast("bigint").alias("revenue_x10000"),
        )
    )


ORACLE_Q311 = """
SELECT CAST(count(*) AS BIGINT) AS n_lines,
       CAST(sum(CAST(round(l_extendedprice * 100) AS BIGINT)
                * CAST(round(l_discount * 100) AS BIGINT)) AS BIGINT)
         AS revenue_x10000
FROM lineitem
WHERE l_shipdate >= TIMESTAMP '1996-01-01'
  AND l_shipdate < TIMESTAMP '1997-01-01'
  AND l_discount >= 0.05 AND l_discount <= 0.07
  AND l_quantity < 24
"""


# q312: quality-gate co-occurrence census (UpSet)

def q312_gate_cooccurrence(spark, sf_dir):
    """Quality-gate CO-OCCURRENCE census — the UpSet-plot relation
    behind "which filters fire together": every document is scored on
    four deterministic gates (short: n_chars < 250; repetitive:
    type-token ratio < 0.7; long-token: mean token length > 5.5 chars;
    coreless: none of the three highest-df corpus terms present), the
    4-bit mask is the group key, and each combination's count and
    share is reported.  q97 prices a SEQUENTIAL cascade (survivors at
    each stage); this is the joint distribution the cascade DESIGN
    comes from — gates that always co-fire are redundant, gates that
    never co-fire partition the rejects.  All gates are integer/cross-
    multiplied comparisons (TTR and mean length never divide).

    Scale shape: one map-side gate expression per doc, ONE <=16-row
    mask census; no joins."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    gated = docs.select(
        F.col("n_chars"),
        F.size(toks).alias("n_toks"),
        F.size(F.array_distinct(toks)).alias("n_distinct"),
        F.aggregate(
            F.transform(toks, lambda t: F.length(t)),
            F.lit(0).cast("bigint"),
            lambda acc, x: acc + x,
        ).alias("tok_chars"),
        F.size(
            F.array_intersect(
                F.array_distinct(toks),
                F.array(F.lit("scan"), F.lit("column"), F.lit("window")),
            )
        ).alias("n_core"),
    ).select(
        (
            F.when(F.col("n_chars") < 250, 8).otherwise(0)
            + F.when(F.col("n_distinct") * 10 < F.col("n_toks") * 7, 4)
            .otherwise(0)
            + F.when(F.col("tok_chars") * 10 > F.col("n_toks") * 55, 2)
            .otherwise(0)
            + F.when(F.col("n_core") == 0, 1).otherwise(0)
        ).cast("bigint").alias("mask")
    )
    census = gated.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs")
    )
    tot = census.agg(F.sum("n_docs").alias("n"))
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            "mask",
            "n_docs",
            F.expr("(n_docs * 1000000) div n").cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("mask")
    )


ORACLE_Q312 = """
WITH scored AS (
  SELECT n_chars,
         len(ts) AS n_toks,
         len(list_distinct(ts)) AS n_distinct,
         list_sum(list_transform(ts, t -> length(t))) AS tok_chars,
         len(list_intersect(list_distinct(ts),
                            ['scan', 'column', 'window'])) AS n_core
  FROM (
    SELECT n_chars,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> t <> '') AS ts
    FROM documents
  )
),
gated AS (
  SELECT (CASE WHEN n_chars < 250 THEN 8 ELSE 0 END)
         + (CASE WHEN n_distinct * 10 < n_toks * 7 THEN 4 ELSE 0 END)
         + (CASE WHEN tok_chars * 10 > n_toks * 55 THEN 2 ELSE 0 END)
         + (CASE WHEN n_core = 0 THEN 1 ELSE 0 END) AS mask
  FROM scored
),
census AS (
  SELECT CAST(mask AS BIGINT) AS mask, CAST(count(*) AS BIGINT) AS n_docs
  FROM gated GROUP BY 1
),
tot AS (SELECT sum(n_docs) AS n FROM census)
SELECT mask, n_docs,
       CAST((n_docs * 1000000) // n AS BIGINT) AS share_ppm
FROM census, tot
ORDER BY mask
"""


# q313: distributed inversion counting via grid decomposition

def q313_inversion_count(spark, sf_dir):
    """Exact inversion count between two document rankings — by
    n_chars and by vocabulary richness (distinct tokens) — the rank-
    discordance number behind "does length proxy for richness?",
    computed WITHOUT the O(n²) pair join: both ranks are cut into 32
    ntile cells, the 32x32 grid count matrix G settles every pair in
    STRICTLY different row and column cells by a product (coarse term
    = Σ G[i2][j2] · S(i2,j2), where S is a 2-D prefix/suffix sum built
    with two window passes over the 1024-cell relation), and only
    same-row-cell or same-column-cell pairs — O(n²/32) of them — are
    enumerated exactly by bounded equi-joins.  Ranks are pinned total
    orders (measure, doc_id), so inversions are well-defined integers
    and tau = (n(n-1)/2 − 2D) / (n(n-1)/2) in exact ppm.  q277
    computes tau from CONTINGENCY cells of tied integer data; this is
    the permutation form at corpus scale with the grid-decomposition
    shuffle shape.

    Scale shape: two sorts (the ranks), one 1024-cell grid agg, two
    window passes on the grid, two bounded same-cell joins — total
    work O(n log n + n²/C), the classic distributed pair-counting
    decomposition."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(toks)).alias("rich"),
    )
    r1w = Window.orderBy("n_chars", "doc_id")
    r2w = Window.orderBy("rich", "doc_id")
    ranked = base.select(
        "doc_id",
        F.row_number().over(r1w).cast("bigint").alias("r1"),
        F.row_number().over(r2w).cast("bigint").alias("r2"),
    ).localCheckpoint(eager=True)
    cellw1 = Window.orderBy("r1")
    cellw2 = Window.orderBy("r2")
    cells = ranked.select(
        "doc_id",
        "r1",
        "r2",
        F.ntile(32).over(cellw1).cast("bigint").alias("ci"),
        F.ntile(32).over(cellw2).cast("bigint").alias("cj"),
    ).localCheckpoint(eager=True)
    g = cells.groupBy("ci", "cj").agg(F.count(F.lit(1)).alias("gc"))
    # S(i,j) = sum_{i1 < i, j1 > j} G[i1][j1], built on a DENSE 32x32
    # grid (a sparse prefix would silently drop mass whenever cell
    # (i,j) itself is empty above j but lower rows are not): first
    # A[i][j] = sum_{j1 > j} G[i][j1] by joining g to the 32 j values,
    # then an exclusive prefix window over i within each j.
    is_ = spark.range(1, 33).select(F.col("id").cast("bigint").alias("di"))
    js = spark.range(1, 33).select(F.col("id").cast("bigint").alias("dj"))
    a = (
        is_.join(js)
        .join(
            g,
            (F.col("ci") == F.col("di")) & (F.col("cj") > F.col("dj")),
            "left",
        )
        .groupBy("di", "dj")
        .agg(F.coalesce(F.sum("gc"), F.lit(0)).alias("aij"))
    )
    s = a.withColumn(
        "s",
        F.coalesce(
            F.sum("aij").over(
                Window.partitionBy("dj")
                .orderBy("di")
                .rowsBetween(Window.unboundedPreceding, -1)
            ),
            F.lit(0),
        ),
    ).select(F.col("di").alias("si"), F.col("dj").alias("sj"), "s")
    coarse = (
        g.join(
            s, (F.col("ci") == F.col("si")) & (F.col("cj") == F.col("sj"))
        )
        .select((F.col("gc") * F.col("s")).alias("t"))
        .agg(F.coalesce(F.sum("t"), F.lit(0)).cast("bigint").alias("coarse"))
    )
    ca, cb = cells.alias("a"), cells.alias("b")
    same_i = (
        ca.join(cb, (F.col("a.ci") == F.col("b.ci"))
                & (F.col("a.r1") < F.col("b.r1"))
                & (F.col("a.r2") > F.col("b.r2")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_same_i"))
    )
    same_j = (
        ca.join(cb, (F.col("a.cj") == F.col("b.cj"))
                & (F.col("a.ci") < F.col("b.ci"))
                & (F.col("a.r1") < F.col("b.r1"))
                & (F.col("a.r2") > F.col("b.r2")))
        .agg(F.count(F.lit(1)).cast("bigint").alias("d_same_j"))
    )
    n_ = cells.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        coarse.crossJoin(F.broadcast(same_i))
        .crossJoin(F.broadcast(same_j))
        .crossJoin(F.broadcast(n_))
        .select(
            "n",
            F.expr("n * (n - 1) div 2").cast("bigint").alias("total_pairs"),
            F.expr("coarse + d_same_i + d_same_j")
            .cast("bigint")
            .alias("inversions"),
            F.expr(
                "((n * (n - 1) div 2 - 2 * (coarse + d_same_i + d_same_j))"
                " * 1000000) div (n * (n - 1) div 2)"
            ).cast("bigint").alias("tau_ppm"),
        )
    )


ORACLE_Q313 = """
WITH base AS (
  SELECT doc_id, n_chars,
         len(list_distinct(list_filter(
             string_split_regex(lower(text), '\\s+'),
             t -> t <> ''))) AS rich
  FROM documents
),
ranked AS (
  SELECT doc_id,
         CAST(row_number() OVER (ORDER BY n_chars, doc_id) AS BIGINT) AS r1,
         CAST(row_number() OVER (ORDER BY rich, doc_id) AS BIGINT) AS r2
  FROM base
),
d AS (
  SELECT CAST(count(*) AS BIGINT) AS inv
  FROM ranked a JOIN ranked b
    ON a.r1 < b.r1 AND a.r2 > b.r2
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked)
SELECT n,
       CAST(n * (n - 1) // 2 AS BIGINT) AS total_pairs,
       inv AS inversions,
       CAST(((n * (n - 1) // 2 - 2 * inv) * 1000000)
            // (n * (n - 1) // 2) AS BIGINT) AS tau_ppm
FROM d, n_
"""


# q314: Wald-Wolfowitz runs test on the daily error-rate sequence

def q314_runs_test(spark, sf_dir):
    """Wald-Wolfowitz runs test for serial dependence in the daily
    error-RATE sequence: each day is classed above/below the median
    daily rate (cross-multiplied against the exact rolling-free global
    median — no float rates), the number of RUNS of consecutive
    same-class days is counted with one lag pass, and compared against
    the independence expectation E[R] = 1 + 2·n1·n2/n — too few runs
    means the error process is sticky (incidents cluster), too many
    means oscillation; q259's ACF measures LINEAR dependence, the runs
    test catches any sign-level dependence with zero distributional
    assumptions.  E[R] and Var[R] are exact rationals reported as
    cross-multiplied integer numerators/denominators plus a milli
    z-score via the q287 factor-by-factor float conversion.

    Scale shape: the fact table collapses to <=2500 daily rows in ONE
    agg; median, classing, lag and the run count all run at series
    scale."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
        .alias("d")
    ).agg(
        F.count(F.lit(1)).alias("n_ev"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .alias("n_err"),
    )
    # the median day is pinned via the rank formula on the rate order
    # (a float-mediated percentile_approx would not be hash-exact).
    rw = Window.orderBy(
        F.expr("CAST(n_err AS DOUBLE) / CAST(n_ev AS DOUBLE)"), F.col("d")
    )
    ranked = daily.select(
        "d", "n_ev", "n_err", F.row_number().over(rw).alias("rk")
    )
    cnt = ranked.agg(F.count(F.lit(1)).alias("n"))
    medrow = (
        ranked.crossJoin(F.broadcast(cnt))
        .where(F.col("rk") == F.expr("(n + 1) div 2"))
        .select(
            F.col("n_err").alias("m_err"), F.col("n_ev").alias("m_ev")
        )
    )
    classed = (
        ranked.crossJoin(F.broadcast(medrow))
        .select(
            "d",
            F.when(
                F.col("n_err") * F.col("m_ev") > F.col("m_err") * F.col("n_ev"),
                1,
            ).otherwise(0).alias("hi"),
        )
    )
    lw = Window.orderBy("d")
    runs = classed.select(
        "hi", F.lag("hi").over(lw).alias("prev")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("hi").cast("bigint").alias("n1"),
        F.sum(
            F.when(
                F.col("prev").isNull() | (F.col("hi") != F.col("prev")), 1
            ).otherwise(0)
        ).cast("bigint").alias("r"),
    )
    return runs.select(
        "n",
        "n1",
        (F.col("n") - F.col("n1")).cast("bigint").alias("n2"),
        "r",
        F.expr("n + 2 * n1 * (n - n1)").cast("bigint").alias("er_num"),
        F.col("n").cast("bigint").alias("er_den"),
        F.expr(
            "CAST(floor(1000.0 * (CAST(r AS DOUBLE)"
            " - (CAST(n AS DOUBLE) + 2.0 * CAST(n1 AS DOUBLE)"
            " * CAST(n - n1 AS DOUBLE)) / CAST(n AS DOUBLE))"
            " / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)"
            " * (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)"
            " - CAST(n AS DOUBLE))"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)"
            " * CAST(n - 1 AS DOUBLE)))) AS BIGINT)"
        ).alias("z_milli"),
    )


ORACLE_Q314 = """
WITH daily AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
         count(*) AS n_ev,
         sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END) AS n_err
  FROM events GROUP BY 1
),
ranked AS (
  SELECT d, n_ev, n_err,
         row_number() OVER (
           ORDER BY CAST(n_err AS DOUBLE) / CAST(n_ev AS DOUBLE), d
         ) AS rk
  FROM daily
),
cnt AS (SELECT count(*) AS n FROM ranked),
medrow AS (
  SELECT n_err AS m_err, n_ev AS m_ev
  FROM ranked, cnt WHERE rk = (n + 1) // 2
),
classed AS (
  SELECT d,
         CASE WHEN n_err * m_ev > m_err * n_ev THEN 1 ELSE 0 END AS hi
  FROM ranked, medrow
),
lagged AS (
  SELECT hi, lag(hi) OVER (ORDER BY d) AS prev FROM classed
),
runs AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(hi) AS BIGINT) AS n1,
         CAST(sum(CASE WHEN prev IS NULL OR hi <> prev
                       THEN 1 ELSE 0 END) AS BIGINT) AS r
  FROM lagged
)
SELECT n, n1, CAST(n - n1 AS BIGINT) AS n2, r,
       CAST(n + 2 * n1 * (n - n1) AS BIGINT) AS er_num,
       n AS er_den,
       CAST(floor(1000.0 * (CAST(r AS DOUBLE)
            - (CAST(n AS DOUBLE) + 2.0 * CAST(n1 AS DOUBLE)
               * CAST(n - n1 AS DOUBLE)) / CAST(n AS DOUBLE))
            / sqrt(2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
                   * (2.0 * CAST(n1 AS DOUBLE) * CAST(n - n1 AS DOUBLE)
                      - CAST(n AS DOUBLE))
                   / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)
                      * CAST(n - 1 AS DOUBLE)))) AS BIGINT) AS z_milli
FROM runs
"""


# q315: relational division (for-all join)

def q315_relational_division(spark, sf_dir):
    """Relational DIVISION — the for-all join: customers whose orders
    cover EVERY order-priority class that exists in the corpus.  The
    classic double-NOT-EXISTS formulation is quadratic and
    correlated; the scalable form used here is the count-distinct
    reduction: group the (customer, priority) distinct pairs, keep
    groups whose distinct-priority count equals the GLOBAL class count
    (computed, never hardcoded — a new priority class appearing in the
    data automatically tightens the divisor).  Emits each qualifying
    customer with order count and total spend; the only catalog shape
    that quantifies over a SET ("bought one of each"), completing the
    join-shape family next to semi (q03), anti (q04) and division.

    Scale shape: one distinct shuffle on the (cust, priority) pair,
    one customer-keyed agg against a broadcast scalar divisor — never
    the quadratic NOT EXISTS."""
    orders = _t(spark, sf_dir, "orders")
    divisor = orders.agg(
        F.countDistinct("o_orderpriority").alias("n_classes")
    )
    per_cust = orders.groupBy("o_custkey").agg(
        F.countDistinct("o_orderpriority").alias("n_p"),
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("cents"),
    )
    return (
        per_cust.crossJoin(F.broadcast(divisor))
        .where(F.col("n_p") == F.col("n_classes"))
        .select(
            F.col("o_custkey").cast("bigint").alias("custkey"),
            "n_orders",
            "cents",
        )
        .orderBy("custkey")
    )


ORACLE_Q315 = """
WITH divisor AS (
  SELECT count(DISTINCT o_orderpriority) AS n_classes FROM orders
),
per_cust AS (
  SELECT o_custkey,
         count(DISTINCT o_orderpriority) AS n_p,
         CAST(count(*) AS BIGINT) AS n_orders,
         CAST(sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS BIGINT)
           AS cents
  FROM orders GROUP BY o_custkey
)
SELECT CAST(o_custkey AS BIGINT) AS custkey, n_orders, cents
FROM per_cust, divisor
WHERE n_p = n_classes
ORDER BY custkey
"""


# q316: vocabulary turnover between corpus halves

def q316_vocab_turnover(spark, sf_dir):
    """Per-source vocabulary TURNOVER: Jaccard overlap of the top-50
    token sets between the first and second half of each source's
    document stream (halves = ntile(2) over doc_id, the corpus's
    ingestion order) — the "did this feed change what it talks
    about?" audit; q293/q167 compare full DISTRIBUTIONS, but a feed
    can keep its distribution while rotating its HEAD vocabulary, and
    the head is what dedup masks and blocklists key on.  Top-50 per
    (source, half) under the pinned (count desc, token) order; exact
    integer Jaccard in ppm; turnover = 1e6 - jaccard.

    Scale shape: one (source, half, token) count shuffle, one top-50
    window rank per group, one self-join of two 50-row sets per
    source — the rank bounds all later work at 100x source count."""
    docs = _t_wide(spark, sf_dir, "documents")
    half = docs.select(
        "source",
        "doc_id",
        F.ntile(2)
        .over(Window.partitionBy("source").orderBy("doc_id"))
        .alias("half"),
        F.explode(
            F.filter(
                F.split(F.lower(F.col("text")), r"\s+"),
                lambda t: t != F.lit(""),
            )
        ).alias("tok"),
    )
    counts = half.groupBy("source", "half", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    topw = Window.partitionBy("source", "half").orderBy(
        F.desc("c"), F.col("tok")
    )
    top = counts.withColumn("rk", F.row_number().over(topw)).where(
        F.col("rk") <= 50
    )
    a = top.where(F.col("half") == 1).select("source", "tok")
    b = top.where(F.col("half") == 2).select("source", "tok")
    inter = (
        a.join(b, ["source", "tok"])
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("inter"))
    )
    sizes = (
        top.groupBy("source")
        .agg(
            F.sum(F.when(F.col("half") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("sz_a"),
            F.sum(F.when(F.col("half") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("sz_b"),
        )
    )
    return (
        sizes.join(inter, "source", "left")
        .na.fill({"inter": 0})
        .select(
            "source",
            "sz_a",
            "sz_b",
            F.col("inter").cast("bigint").alias("inter"),
            F.expr("(inter * 1000000) div (sz_a + sz_b - inter)")
            .cast("bigint")
            .alias("jaccard_ppm"),
            F.expr("1000000 - (inter * 1000000) div (sz_a + sz_b - inter)")
            .cast("bigint")
            .alias("turnover_ppm"),
        )
        .orderBy("source")
    )


ORACLE_Q316 = """
WITH half AS (
  SELECT source, doc_id,
         ntile(2) OVER (PARTITION BY source ORDER BY doc_id) AS half,
         unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                            t -> t <> '')) AS tok
  FROM documents
),
counts AS (
  SELECT source, half, tok, count(*) AS c FROM half GROUP BY 1, 2, 3
),
top AS (
  SELECT source, half, tok FROM (
    SELECT source, half, tok,
           row_number() OVER (PARTITION BY source, half
                              ORDER BY c DESC, tok) AS rk
    FROM counts
  ) WHERE rk <= 50
),
inter AS (
  SELECT a.source, CAST(count(*) AS BIGINT) AS inter
  FROM (SELECT source, tok FROM top WHERE half = 1) a
  JOIN (SELECT source, tok FROM top WHERE half = 2) b
    ON a.source = b.source AND a.tok = b.tok
  GROUP BY a.source
),
sizes AS (
  SELECT source,
         CAST(sum(CASE WHEN half = 1 THEN 1 ELSE 0 END) AS BIGINT) AS sz_a,
         CAST(sum(CASE WHEN half = 2 THEN 1 ELSE 0 END) AS BIGINT) AS sz_b
  FROM top GROUP BY source
)
SELECT s.source, sz_a, sz_b,
       CAST(coalesce(inter, 0) AS BIGINT) AS inter,
       CAST((coalesce(inter, 0) * 1000000)
            // (sz_a + sz_b - coalesce(inter, 0)) AS BIGINT) AS jaccard_ppm,
       CAST(1000000 - (coalesce(inter, 0) * 1000000)
            // (sz_a + sz_b - coalesce(inter, 0)) AS BIGINT) AS turnover_ppm
FROM sizes s LEFT JOIN inter USING (source)
ORDER BY source
"""


# q317: degree assortativity of the user succession graph

def q317_degree_assortativity(spark, sf_dir):
    """Out-in degree assortativity of the user succession graph (the
    q63 edge construction: u -> v when v's event directly follows u's
    in the same event-type stream): the exact Pearson correlation,
    over edges, between the source's out-degree and the destination's
    in-degree — positive means heavy emitters hand off to heavy
    receivers (a hub-chained graph), negative means hub-periphery
    (the usual web shape).  All five moments (M, Σx, Σy, Σxy, Σx²,
    Σy²) are exact BIGINTs off one edge-table pass after two degree
    aggs; r in milli-units via one pinned float64 expression with one
    sqrt (q291's normalizer discipline).  Headroom: M·Σxy < 2^63 to
    ~10^7-edge-degree scale; past that lift moments to DECIMAL(38,0).

    Scale shape: degree tables are two bounded-key aggs REUSING the
    edge relation; the moment fold is map-side; no quadratic step
    anywhere."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", F.lead("user_id").over(w).alias("next_user"))
        .where(
            F.col("next_user").isNotNull()
            & (F.col("next_user") != F.col("user_id"))
        )
        .select(
            F.col("user_id").alias("src"), F.col("next_user").alias("dst")
        )
        .localCheckpoint(eager=True)
    )
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ind = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    mom = (
        edges.join(outd, "src")
        .join(ind, "dst")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("m"),
            F.sum("od").cast("bigint").alias("sx"),
            F.sum("idg").cast("bigint").alias("sy"),
            F.sum(F.col("od") * F.col("idg")).cast("bigint").alias("sxy"),
            F.sum(F.col("od") * F.col("od")).cast("bigint").alias("sxx"),
            F.sum(F.col("idg") * F.col("idg")).cast("bigint").alias("syy"),
        )
    )
    return mom.select(
        "m",
        "sx",
        "sy",
        F.expr("m * sxy - sx * sy").cast("bigint").alias("cov_num"),
        F.expr(
            "CAST(floor(1000.0 * CAST(m * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)"
            " * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT)"
        ).alias("assortativity_milli"),
    )


ORACLE_Q317 = """
WITH edges AS (
  SELECT src, dst FROM (
    SELECT user_id AS src,
           lead(user_id) OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL AND dst <> src
),
outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
ind AS (SELECT dst, count(*) AS idg FROM edges GROUP BY dst),
mom AS (
  SELECT count(*) AS m, sum(od) AS sx, sum(idg) AS sy,
         sum(od * idg) AS sxy, sum(od * od) AS sxx,
         sum(idg * idg) AS syy
  FROM edges JOIN outd USING (src) JOIN ind USING (dst)
)
SELECT CAST(m AS BIGINT) AS m, CAST(sx AS BIGINT) AS sx,
       CAST(sy AS BIGINT) AS sy,
       CAST(m * sxy - sx * sy AS BIGINT) AS cov_num,
       CAST(floor(1000.0 * CAST(m * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                   * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT)
         AS assortativity_milli
FROM mom
"""


# q318: exact two-sigma day gate (cross-multiplied moments)

def q318_sigma_day_gate(spark, sf_dir):
    """Two-sigma outlier days in the daily event-count series with the
    comparison done ENTIRELY in integers: (n·x − S)² > 4·(n·SS − S²)
    is exactly (x − μ)² > (2σ)² cleared of denominators, so the gate
    never computes a mean, a variance or any float — the moment-based
    sibling of the robust MAD gate (q213), kept for the many shops
    whose alerting contract is written in sigmas.  Every flagged day
    carries its deviation in exact n-scaled units and a direction; the
    gate threshold k=2 is the contract (3σ fires never on a 30-day
    Poisson-ish series — measured, not assumed).

    Scale shape: the fact table collapses to the daily series in ONE
    agg; the moment row broadcasts back; flagging is a map-side
    integer predicate at series scale."""
    ev = _t(spark, sf_dir, "events")
    daily = ev.groupBy(
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    mom = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss"),
    )
    return (
        daily.crossJoin(F.broadcast(mom))
        .where(
            F.expr("(n * x - s) * (n * x - s) > 4 * (n * ss - s * s)")
        )
        .select(
            "d",
            "x",
            F.expr("n * x - s").cast("bigint").alias("dev_nscaled"),
            F.expr("CASE WHEN n * x - s > 0 THEN 'high' ELSE 'low' END")
            .alias("direction"),
        )
        .orderBy("d")
    )


ORACLE_Q318 = """
WITH daily AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
mom AS (
  SELECT count(*) AS n, sum(x) AS s, sum(x * x) AS ss FROM daily
)
SELECT d, x,
       CAST(n * x - s AS BIGINT) AS dev_nscaled,
       CASE WHEN n * x - s > 0 THEN 'high' ELSE 'low' END AS direction
FROM daily, mom
WHERE (n * x - s) * (n * x - s) > 4 * (n * ss - s * s)
ORDER BY d
"""


# q319: seasonal-naive MASE backtest

def q319_seasonal_mase(spark, sf_dir):
    """Seasonal-naive forecast backtest with MASE — forecast(d) =
    value(d−7), scored by the Mean Absolute SCALED Error: MAE of the
    weekly-naive forecast over MAE of the one-step naive, the
    scale-free forecast metric (Hyndman) that is an EXACT integer
    rational here (both MAEs are integer sums; mase_milli is one
    cross-multiplied division).  MASE < 1000 milli means weekly
    seasonality beats persistence — the go/no-go a capacity planner
    needs before buying any fancier model (q245 backtests an OLS
    trend; this is the benchmark every model must beat).  Lags are by
    CALENDAR day (join on day arithmetic, q259 discipline); only days
    with BOTH lags present are scored, and the scored-day count is
    emitted so silent gaps are visible.

    Scale shape: one agg to the daily series, two series-scale
    self-joins, one fold — aggregate first, forecast the aggregate."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr(
            "CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)"
        ).alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    a, b7, b1 = daily.alias("a"), daily.alias("b7"), daily.alias("b1")
    scored = (
        a.join(b7, F.col("b7.d") == F.col("a.d") - 7)
        .join(b1, F.col("b1.d") == F.col("a.d") - 1)
        .select(
            F.col("a.d").alias("d"),
            F.col("a.x").alias("x"),
            F.col("b7.x").alias("x7"),
            F.col("b1.x").alias("x1"),
        )
    )
    return scored.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_scored"),
        F.sum(F.abs(F.col("x") - F.col("x7"))).cast("bigint").alias("mae7_sum"),
        F.sum(F.abs(F.col("x") - F.col("x1"))).cast("bigint").alias("mae1_sum"),
        F.expr(
            "CAST((sum(abs(x - x7)) * 1000) div sum(abs(x - x1)) AS BIGINT)"
        ).alias("mase_milli"),
    )


ORACLE_Q319 = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_scored,
       CAST(sum(abs(a.x - b7.x)) AS BIGINT) AS mae7_sum,
       CAST(sum(abs(a.x - b1.x)) AS BIGINT) AS mae1_sum,
       CAST((sum(abs(a.x - b7.x)) * 1000) // sum(abs(a.x - b1.x))
            AS BIGINT) AS mase_milli
FROM daily a
JOIN daily b7 ON b7.d = a.d - 7
JOIN daily b1 ON b1.d = a.d - 1
"""


# q320: probe-based nearest-neighbor margin audit

def q320_margin_audit(spark, sf_dir):
    """Triplet-margin audit of the embedding space on a deterministic
    PROBE subset (vec_id % 17 = 0): for each probe, the exact integer
    squared distance to its nearest SAME-label and nearest OTHER-label
    vector, the margin d_other − d_same, and per-label violation
    rates (margin <= 0 means metric learning failed that probe) — the
    continuous companion to q310's hard assignment: q310 asks "which
    centroid wins", this asks "by how much, against the worst
    neighbor".  Probe-based is the production deployment shape for
    O(n²) space diagnostics: the probe count fixes the cost at
    |probes|·n exact distance evaluations — monitoring precision
    scales with the probe rate knob, never with n².

    Scale shape: probes broadcast against the full table, one
    zip_with distance expression per pair, one (probe → min) agg and
    one label census; zero Python in the distance path."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        "label",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST(round(x * 128) AS BIGINT))"
        ).alias("qv"),
    )
    probes = q.where(F.col("vec_id") % 17 == 0).select(
        F.col("vec_id").alias("pid"),
        F.col("label").alias("plabel"),
        F.col("qv").alias("pv"),
    )
    d = (
        q.join(F.broadcast(probes), F.col("vec_id") != F.col("pid"))
        .select(
            "pid",
            "plabel",
            (F.col("label") == F.col("plabel")).alias("same"),
            F.expr(
                "aggregate(zip_with(qv, pv, (a, b) -> (a - b) * (a - b)),"
                " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
            ).alias("d2"),
        )
        .groupBy("pid", "plabel")
        .agg(
            F.min(F.when(F.col("same"), F.col("d2"))).alias("d_same"),
            F.min(F.when(~F.col("same"), F.col("d2"))).alias("d_other"),
        )
    )
    return (
        d.groupBy(F.col("plabel").cast("bigint").alias("label"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_probes"),
            F.sum(
                F.when(F.col("d_other") <= F.col("d_same"), 1).otherwise(0)
            ).cast("bigint").alias("n_violations"),
            F.min(F.col("d_other") - F.col("d_same"))
            .cast("bigint")
            .alias("worst_margin"),
            F.expr(
                "(CASE WHEN sum(d_other - d_same) >= 0 THEN 1 ELSE -1 END)"
                " * (abs(sum(d_other - d_same)) div count(*))"
            ).cast("bigint").alias("avg_margin"),
        )
        .orderBy("label")
    )


ORACLE_Q320 = """
WITH q AS (
  SELECT vec_id, label,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 128) AS BIGINT)) AS qv
  FROM embeddings
),
probes AS (
  SELECT vec_id AS pid, label AS plabel, qv AS pv
  FROM q WHERE vec_id % 17 = 0
),
d AS (
  SELECT pid, plabel,
         min(CASE WHEN label = plabel THEN d2 END) AS d_same,
         min(CASE WHEN label <> plabel THEN d2 END) AS d_other
  FROM (
    SELECT pid, plabel, label,
           CAST((SELECT sum((qv[CAST(r.range AS INT)]
                             - pv[CAST(r.range AS INT)])
                            * (qv[CAST(r.range AS INT)]
                               - pv[CAST(r.range AS INT)]))
                 FROM range(1, 65) r) AS BIGINT) AS d2
    FROM q, probes WHERE vec_id <> pid
  )
  GROUP BY pid, plabel
)
SELECT CAST(plabel AS BIGINT) AS label,
       CAST(count(*) AS BIGINT) AS n_probes,
       CAST(sum(CASE WHEN d_other <= d_same THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violations,
       CAST(min(d_other - d_same) AS BIGINT) AS worst_margin,
       CAST((CASE WHEN sum(d_other - d_same) >= 0 THEN 1 ELSE -1 END)
            * (abs(sum(d_other - d_same)) // count(*)) AS BIGINT)
         AS avg_margin
FROM d GROUP BY plabel ORDER BY label
"""


# q321: 2-D prefix-sum range-count index

def q321_range_count_index(spark, sf_dir):
    """Materialized 2-D range-count index: the (quantity, discount)
    plane is collapsed to a dense 50x11 count grid, a single 2-D
    INCLUSIVE prefix sum P is built with two cascaded window passes,
    and a 6-rectangle analyst workload is answered purely by
    inclusion-exclusion — P(a2,b2)−P(a1−1,b2)−P(a2,b1−1)+P(a1−1,b1−1)
    — the summary-serves-the-workload pattern behind every OLAP cube
    and zone-map index (q153 audits skipping; this IS the index).
    The oracle answers every rectangle by direct scan predicates, so
    the cross-engine hash proves the prefix-sum identity itself.

    Scale shape: ONE fact-scan agg to 550 cells; the prefix passes
    and the 6 lookups are grid-scale — adding a rectangle to the
    workload costs four O(1) lookups, not a scan."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.expr("CAST(l_quantity AS BIGINT)").alias("qi"),
        F.expr("CAST(round(l_discount * 100) AS BIGINT)").alias("dj"),
    ).agg(F.count(F.lit(1)).alias("c"))
    qs_ = spark.range(1, 51).select(F.col("id").cast("bigint").alias("di"))
    ds_ = spark.range(0, 11).select(F.col("id").cast("bigint").alias("dd"))
    dense = (
        qs_.join(ds_)
        .join(
            cells,
            (F.col("qi") == F.col("di")) & (F.col("dj") == F.col("dd")),
            "left",
        )
        .select("di", "dd", F.coalesce("c", F.lit(0)).alias("c"))
    )
    wj = (
        Window.partitionBy("di")
        .orderBy("dd")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wi = (
        Window.partitionBy("dd")
        .orderBy("di")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    p = (
        dense.withColumn("pj", F.sum("c").over(wj))
        .withColumn("p", F.sum("pj").over(wi))
        .select("di", "dd", "p")
        .localCheckpoint(eager=True)
    )
    rects = [
        (1, 1, 10, 0, 2),
        (2, 11, 25, 0, 10),
        (3, 26, 50, 5, 10),
        (4, 1, 50, 3, 3),
        (5, 20, 30, 2, 6),
        (6, 40, 50, 0, 1),
    ]

    def lookup(i, j, alias):
        if i < 1 or j < 0:
            return None
        return (
            p.where((F.col("di") == i) & (F.col("dd") == j))
            .select(F.col("p").alias(alias))
        )

    out = None
    for rid, a1, a2, b1, b2 in rects:
        row = lookup(a2, b2, "p22")
        for corner, sign_alias in (
            ((a1 - 1, b2), "p12"),
            ((a2, b1 - 1), "p21"),
            ((a1 - 1, b1 - 1), "p11"),
        ):
            lk = lookup(corner[0], corner[1], sign_alias)
            if lk is None:
                row = row.withColumn(sign_alias, F.lit(0).cast("bigint"))
            else:
                row = row.crossJoin(F.broadcast(lk))
        row = row.select(
            F.lit(rid).cast("bigint").alias("rect_id"),
            F.expr("p22 - p12 - p21 + p11").cast("bigint").alias("n_lines"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("rect_id")


ORACLE_Q321 = """
SELECT CAST(1 AS BIGINT) AS rect_id, CAST(count(*) AS BIGINT) AS n_lines
FROM lineitem WHERE CAST(l_quantity AS BIGINT) BETWEEN 1 AND 10
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 0 AND 2
UNION ALL
SELECT 2, count(*) FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 11 AND 25
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 0 AND 10
UNION ALL
SELECT 3, count(*) FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 26 AND 50
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 5 AND 10
UNION ALL
SELECT 4, count(*) FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 1 AND 50
  AND CAST(round(l_discount * 100) AS BIGINT) = 3
UNION ALL
SELECT 5, count(*) FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 20 AND 30
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 2 AND 6
UNION ALL
SELECT 6, count(*) FROM lineitem
WHERE CAST(l_quantity AS BIGINT) BETWEEN 40 AND 50
  AND CAST(round(l_discount * 100) AS BIGINT) BETWEEN 0 AND 1
ORDER BY rect_id
"""


# q322: distribution-free order-statistic CI for the median

def q322_median_order_ci(spark, sf_dir):
    """Distribution-free confidence interval for the median purchase
    (exact cents): the classic order-statistic construction — the
    interval between ranks floor((n − 1.96·sqrt(n))/2) and
    ceil((n + 2 + 1.96·sqrt(n))/2) covers the true median at ~95%
    with NO distributional assumption — reported alongside the exact
    rank-formula median.  Everything is a rank pick off one sort; the
    only float is 1.96·sqrt(n), computed once from the exact count
    and floored/ceiled identically in both engines (a bootstrap would
    need randomness; order statistics need only a sort — the
    distributed answer).

    Scale shape: one agg for n, ONE global sort with row_number,
    three rank-equality picks — no resampling, no second scan."""
    ev = _t(spark, sf_dir, "events")
    vals = ev.where(F.col("event_type") == "purchase").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("cents"),
        "event_id",
    )
    w = Window.orderBy("cents", "event_id")
    ranked = vals.select(
        "cents", F.row_number().over(w).cast("bigint").alias("rk")
    )
    n_ = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    picks = (
        ranked.crossJoin(F.broadcast(n_))
        .select(
            "cents",
            "rk",
            "n",
            F.expr("(n + 1) div 2").alias("mrk"),
            F.expr(
                "greatest(CAST(1 AS BIGINT), CAST(floor((CAST(n AS DOUBLE)"
                " - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT))"
            ).alias("lrk"),
            F.expr(
                "least(n, CAST(ceil((CAST(n AS DOUBLE) + 2.0"
                " + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT))"
            ).alias("hrk"),
        )
    )
    return picks.agg(
        F.max("n").alias("n"),
        F.max(F.when(F.col("rk") == F.col("mrk"), F.col("cents")))
        .cast("bigint")
        .alias("median_cents"),
        F.max(F.when(F.col("rk") == F.col("lrk"), F.col("cents")))
        .cast("bigint")
        .alias("ci_lo_cents"),
        F.max(F.when(F.col("rk") == F.col("hrk"), F.col("cents")))
        .cast("bigint")
        .alias("ci_hi_cents"),
        F.max("lrk").alias("lo_rank"),
        F.max("hrk").alias("hi_rank"),
    )


ORACLE_Q322 = """
WITH vals AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS cents, event_id
  FROM events WHERE event_type = 'purchase'
),
ranked AS (
  SELECT cents,
         CAST(row_number() OVER (ORDER BY cents, event_id) AS BIGINT) AS rk
  FROM vals
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
picks AS (
  SELECT cents, rk, n,
         (n + 1) // 2 AS mrk,
         greatest(CAST(1 AS BIGINT),
                  CAST(floor((CAST(n AS DOUBLE)
                       - 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT))
           AS lrk,
         least(n, CAST(ceil((CAST(n AS DOUBLE) + 2.0
                  + 1.96 * sqrt(CAST(n AS DOUBLE))) / 2.0) AS BIGINT))
           AS hrk
  FROM ranked, n_
)
SELECT max(n) AS n,
       CAST(max(CASE WHEN rk = mrk THEN cents END) AS BIGINT)
         AS median_cents,
       CAST(max(CASE WHEN rk = lrk THEN cents END) AS BIGINT)
         AS ci_lo_cents,
       CAST(max(CASE WHEN rk = hrk THEN cents END) AS BIGINT)
         AS ci_hi_cents,
       max(lrk) AS lo_rank, max(hrk) AS hi_rank
FROM picks
"""


# q323: price-volume-mix revenue bridge

def q323_pvm_bridge(spark, sf_dir):
    """Price-volume-mix bridge between 1996 and 1997 lineitem revenue
    — the FP&A decomposition "how much of the change was price, how
    much volume": per part present in BOTH years, unit price in
    truncated centi-cents u = (rev_cents * 100) div qty (quantities
    are integral in this corpus, cast exact), volume effect =
    (q2−q1)·u1, price effect = (u2−u1)·q2 — the standard bridge
    identity v+p = q2·u2 − q1·u1 holds EXACTLY in u-units, and the
    truncation residual vs raw cents is reported, not hidden (the
    honest version of a decomposition every BI tool silently floats).
    New/discontinued parts are bridged as their own volume terms.

    Scale shape: one (year, part) agg, one part-keyed self-join of
    two year slices, one fold — the part dimension never rescans the
    fact table."""
    li = _t(spark, sf_dir, "lineitem")
    yearly = (
        li.where(F.year("l_shipdate").isin(1996, 1997))
        .groupBy(
            F.year("l_shipdate").alias("y"), F.col("l_partkey").alias("pk")
        )
        .agg(
            F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("q"),
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .alias("r"),
        )
    )
    y1 = yearly.where(F.col("y") == 1996).select(
        "pk", F.col("q").alias("q1"), F.col("r").alias("r1")
    )
    y2 = yearly.where(F.col("y") == 1997).select(
        "pk", F.col("q").alias("q2"), F.col("r").alias("r2")
    )
    j = y1.join(y2, "pk", "full")
    both = j.where(F.col("q1").isNotNull() & F.col("q2").isNotNull()).select(
        "pk",
        F.expr("(r1 * 100) div q1").alias("u1"),
        F.expr("(r2 * 100) div q2").alias("u2"),
        "q1",
        "q2",
        "r1",
        "r2",
    )
    folded = both.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts_both"),
        F.sum(F.expr("(q2 - q1) * u1")).cast("bigint").alias("volume_cc"),
        F.sum(F.expr("(u2 - u1) * q2")).cast("bigint").alias("price_cc"),
        F.sum(F.expr("r2 - r1")).cast("bigint").alias("change_cents"),
        F.sum(F.expr("(r2 * 100 - r1 * 100) - ((q2 - q1) * u1 + (u2 - u1) * q2)"))
        .cast("bigint")
        .alias("trunc_residual_cc"),
    )
    new_ = j.where(F.col("q1").isNull()).agg(
        F.coalesce(F.sum("r2"), F.lit(0)).cast("bigint").alias("new_cents")
    )
    gone = j.where(F.col("q2").isNull()).agg(
        F.coalesce(F.sum("r1"), F.lit(0)).cast("bigint").alias("gone_cents")
    )
    return folded.crossJoin(F.broadcast(new_)).crossJoin(F.broadcast(gone))


ORACLE_Q323 = """
WITH yearly AS (
  SELECT year(l_shipdate) AS y, l_partkey AS pk,
         sum(CAST(l_quantity AS BIGINT)) AS q,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS r
  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
  GROUP BY 1, 2
),
j AS (
  SELECT coalesce(a.pk, b.pk) AS pk,
         a.q AS q1, a.r AS r1, b.q AS q2, b.r AS r2
  FROM (SELECT * FROM yearly WHERE y = 1996) a
  FULL JOIN (SELECT * FROM yearly WHERE y = 1997) b ON a.pk = b.pk
),
matched AS (
  SELECT pk, (r1 * 100) // q1 AS u1, (r2 * 100) // q2 AS u2,
         q1, q2, r1, r2
  FROM j WHERE q1 IS NOT NULL AND q2 IS NOT NULL
),
folded AS (
  SELECT CAST(count(*) AS BIGINT) AS n_parts_both,
         CAST(sum((q2 - q1) * u1) AS BIGINT) AS volume_cc,
         CAST(sum((u2 - u1) * q2) AS BIGINT) AS price_cc,
         CAST(sum(r2 - r1) AS BIGINT) AS change_cents,
         CAST(sum((r2 * 100 - r1 * 100)
              - ((q2 - q1) * u1 + (u2 - u1) * q2)) AS BIGINT)
           AS trunc_residual_cc
  FROM matched
),
new_ AS (
  SELECT CAST(coalesce(sum(r2), 0) AS BIGINT) AS new_cents
  FROM j WHERE q1 IS NULL
),
gone AS (
  SELECT CAST(coalesce(sum(r1), 0) AS BIGINT) AS gone_cents
  FROM j WHERE q2 IS NULL
)
SELECT * FROM folded, new_, gone
"""


# q324: greedy set-cover probe vocabulary

def q324_greedy_set_cover(spark, sf_dir):
    """Greedy set cover over the token→document incidence: pick the 5
    tokens that together cover the most documents, one GREEDY round at
    a time (each round selects the token covering the most still-
    uncovered docs, ties broken lexicographically) — the probe-
    vocabulary induction a language-ID or routing layer runs ("which 5
    terms should the cheap first-pass probe test for?").  Greedy is
    the canonical 1−1/e-approximation and each round is DEFINED by the
    pinned (gain desc, token) order, so the 5-row answer is exact.
    Candidates are bounded to df >= 10 tokens before any iteration.

    Scale shape: the (token, doc) distinct incidence is built ONCE and
    localCheckpoint'ed; each round is one anti-join against the
    covered-doc set + one token-keyed gain agg + one top-1 — work
    decays as coverage grows; 5 FIXED rounds, no convergence loop.  A
    round that starts with nothing left to cover emits no row (the
    saturated small-SF corpus covers in 4), identically in both
    engines."""
    docs = _t_wide(spark, sf_dir, "documents")
    inc = (
        docs.select(
            "doc_id",
            F.explode(
                F.array_distinct(
                    F.filter(
                        F.split(F.lower(F.col("text")), r"\s+"),
                        lambda t: t != F.lit(""),
                    )
                )
            ).alias("tok"),
        )
        .localCheckpoint(eager=True)
    )
    cand = (
        inc.groupBy("tok")
        .agg(F.count(F.lit(1)).alias("df"))
        .where(F.col("df") >= 10)
        .select("tok")
    )
    inc = inc.join(F.broadcast(cand), "tok").localCheckpoint(eager=True)
    n_docs = docs.agg(F.count(F.lit(1)).cast("bigint").alias("nd"))
    covered = None
    out = None
    for r in range(1, 6):
        rem = (
            inc
            if covered is None
            else inc.join(covered, "doc_id", "left_anti")
        )
        pick = (
            rem.groupBy("tok")
            .agg(F.count(F.lit(1)).cast("bigint").alias("gain"))
            .orderBy(F.desc("gain"), "tok")
            .limit(1)
            .localCheckpoint(eager=True)
        )
        newly = rem.join(
            pick.select("tok"), "tok", "left_semi"
        ).select("doc_id")
        covered = (
            newly
            if covered is None
            else covered.unionByName(newly)
        ).distinct().localCheckpoint(eager=True)
        cum = covered.agg(F.count(F.lit(1)).cast("bigint").alias("cum"))
        row = (
            pick.select(F.lit(r).cast("bigint").alias("round"), "tok", "gain")
            .crossJoin(F.broadcast(cum))
            .crossJoin(F.broadcast(n_docs))
            .select(
                "round",
                "tok",
                "gain",
                "cum",
                F.expr("(cum * 1000000) div nd").cast("bigint")
                .alias("coverage_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("round")


def _oracle_q324():
    head = """
WITH inc AS (
  SELECT DISTINCT doc_id, tok FROM (
    SELECT doc_id,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
  )
),
cand AS (SELECT tok FROM inc GROUP BY tok HAVING count(*) >= 10),
inc2 AS (SELECT inc.doc_id, inc.tok FROM inc JOIN cand USING (tok)),
nd AS (SELECT CAST(count(*) AS BIGINT) AS nd FROM documents)"""
    parts = []
    prev_cov = None
    for r in range(1, 6):
        rem = (
            "inc2"
            if prev_cov is None
            else f"(SELECT * FROM inc2 WHERE doc_id NOT IN"
                 f" (SELECT doc_id FROM {prev_cov})) "
        )
        parts.append(f""",
pick{r} AS (
  SELECT tok, CAST(count(*) AS BIGINT) AS gain
  FROM {rem} r{r} GROUP BY tok
  ORDER BY gain DESC, tok LIMIT 1
),
cov{r} AS (
  SELECT DISTINCT doc_id FROM inc2
  WHERE tok IN ({' UNION ALL '.join(f'SELECT tok FROM pick{j}' for j in range(1, r + 1))})
)""")
        prev_cov = f"cov{r}"
    tail = """
SELECT * FROM (
""" + "\nUNION ALL\n".join(
        f"""  SELECT CAST({r} AS BIGINT) AS round, tok, gain,
         (SELECT CAST(count(*) AS BIGINT) FROM cov{r}) AS cum,
         CAST(((SELECT count(*) FROM cov{r}) * 1000000) // nd AS BIGINT)
           AS coverage_ppm
  FROM pick{r}, nd"""
        for r in range(1, 6)
    ) + """
) ORDER BY round
"""
    return head + "".join(parts) + tail


# q325: token-budget greedy corpus packing

def q325_budget_packing(spark, sf_dir):
    """Token-budget corpus packing: select documents under a global
    token budget (20% of the corpus) by greedy DENSITY order —
    vocabulary richness per token, the knapsack-greedy data-selection
    step a training pipeline runs when compute is priced per token
    ("fill the budget with the most diverse text first"); q47/q94
    allocate QUOTAS by group, this optimizes a VALUE density under a
    global budget.  Density ordering is the pinned integer key
    (distinct_tokens * 1e6 div n_tokens, doc_id); the cut is one
    prefix-sum window (exclusive, so the first doc crossing the budget
    line still fits — the standard greedy-knapsack admission rule).
    Emits the per-lang census of the selection: docs chosen, tokens
    used, budget utilization ppm.

    Scale shape: one map-side density expression, ONE sort, one
    prefix-sum window, one census agg — the greedy knapsack is just a
    sort at scale."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    scored = docs.select(
        "doc_id",
        "lang",
        F.size(toks).cast("bigint").alias("n_toks"),
        F.size(F.array_distinct(toks)).cast("bigint").alias("rich"),
    ).select(
        "doc_id",
        "lang",
        "n_toks",
        F.expr("(rich * 1000000) div n_toks").alias("density"),
    )
    budget = scored.agg(
        F.expr("sum(n_toks) div 5").cast("bigint").alias("budget")
    )
    w = Window.orderBy(F.desc("density"), "doc_id").rowsBetween(
        Window.unboundedPreceding, -1
    )
    chosen = (
        scored.crossJoin(F.broadcast(budget))
        .withColumn(
            "before", F.coalesce(F.sum("n_toks").over(w), F.lit(0))
        )
        .where(F.col("before") < F.col("budget"))
    )
    census = chosen.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("n_toks").cast("bigint").alias("tokens_used"),
    )
    tot = chosen.agg(
        F.sum("n_toks").alias("used"), F.max("budget").alias("b")
    )
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            "lang",
            "n_docs",
            "tokens_used",
            F.expr("(used * 1000000) div b").cast("bigint")
            .alias("budget_util_ppm"),
        )
        .orderBy("lang")
    )


ORACLE_Q325 = """
WITH scored AS (
  SELECT doc_id, lang,
         CAST(len(ts) AS BIGINT) AS n_toks,
         (CAST(len(list_distinct(ts)) AS BIGINT) * 1000000)
           // CAST(len(ts) AS BIGINT) AS density
  FROM (
    SELECT doc_id, lang,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> t <> '') AS ts
    FROM documents
  )
),
budget AS (SELECT CAST(sum(n_toks) // 5 AS BIGINT) AS b FROM scored),
chosen AS (
  SELECT lang, n_toks FROM (
    SELECT lang, n_toks,
           coalesce(sum(n_toks) OVER (ORDER BY density DESC, doc_id
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS before
    FROM scored
  ), budget WHERE before < b
),
census AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(n_toks) AS BIGINT) AS tokens_used
  FROM chosen GROUP BY lang
),
tot AS (SELECT sum(tokens_used) AS used FROM census)
SELECT lang, n_docs, tokens_used,
       CAST((used * 1000000) // b AS BIGINT) AS budget_util_ppm
FROM census, tot, budget
ORDER BY lang
"""


# q326: farthest-point (Gonzalez) k-center seeding

def q326_kcenter_seeding(spark, sf_dir):
    """Farthest-point traversal (Gonzalez) k-center seeding over the
    embedding corpus: start from vec_id 0 and four times pick the
    vector MAXIMIZING its minimum exact integer squared distance to
    everything already chosen — the deterministic seeding that
    replaces kmeans++'s randomness (q122 iterates LLoyd steps; q309
    diversifies a relevance shortlist; this is pure coverage over the
    FULL set, the 2-approximation for the k-center clustering radius).
    Each chosen seed is emitted with its covering radius (its min-
    distance to the prior seeds) — the radius sequence is the
    clusterability profile of the space.

    Scale shape: each round is ONE map-side min-distance expression
    against a <=5-row broadcast seed list + one argmax — 5 fixed
    linear passes, never a pairwise matrix."""
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(CAST(embedding AS ARRAY<DOUBLE>), "
            "x -> CAST(round(x * 128) AS BIGINT))"
        ).alias("qv"),
    ).localCheckpoint(eager=True)
    seeds = q.where(F.col("vec_id") == 0).select(
        F.lit(1).cast("bigint").alias("step"),
        "vec_id",
        F.lit(None).cast("bigint").alias("radius"),
        "qv",
    ).localCheckpoint(eager=True)
    for step in range(2, 6):
        sv = seeds.select(F.col("vec_id").alias("sid"), F.col("qv").alias("sv"))
        mind = (
            q.join(sv)
            .where(F.col("vec_id") != F.col("sid"))
            .select(
                "vec_id",
                "qv",
                F.expr(
                    "aggregate(zip_with(qv, sv, (a, b) -> (a - b) * (a - b)),"
                    " CAST(0 AS BIGINT), (acc, x) -> acc + x)"
                ).alias("d2"),
            )
            .groupBy("vec_id")
            .agg(F.min("d2").alias("mind"), F.first("qv").alias("qv"))
            .join(seeds.select("vec_id"), "vec_id", "left_anti")
        )
        nxt = (
            mind.orderBy(F.desc("mind"), "vec_id")
            .limit(1)
            .select(
                F.lit(step).cast("bigint").alias("step"),
                "vec_id",
                F.col("mind").cast("bigint").alias("radius"),
                "qv",
            )
        )
        seeds = seeds.unionByName(nxt).localCheckpoint(eager=True)
    return seeds.select("step", "vec_id", "radius").orderBy("step")


def _oracle_q326():
    head = """
WITH q AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 128) AS BIGINT)) AS qv
  FROM embeddings
),
s1 AS (SELECT vec_id, qv FROM q WHERE vec_id = 0)"""
    parts = []
    for step in range(2, 6):
        prev = " UNION ALL ".join(
            f"SELECT vec_id, qv FROM s{j}" for j in range(1, step)
        )
        parts.append(f""",
m{step} AS (
  SELECT t.vec_id, t.qv,
         min((SELECT sum((t.qv[CAST(r.range AS INT)]
                          - s.qv[CAST(r.range AS INT)])
                         * (t.qv[CAST(r.range AS INT)]
                            - s.qv[CAST(r.range AS INT)]))
              FROM range(1, 65) r)) AS mind
  FROM q t, ({prev}) s
  WHERE t.vec_id NOT IN (SELECT vec_id FROM ({prev}))
  GROUP BY t.vec_id, t.qv
),
s{step} AS (
  SELECT vec_id, qv, mind FROM m{step}
  ORDER BY mind DESC, vec_id LIMIT 1
)""")
    tail = """
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS step, vec_id,
         CAST(NULL AS BIGINT) AS radius FROM s1
""" + "".join(
        f"""  UNION ALL
  SELECT {step}, vec_id, CAST(mind AS BIGINT) FROM s{step}
"""
        for step in range(2, 6)
    ) + """) ORDER BY step
"""
    return head + "".join(parts) + tail


# q327: ROWS-vs-RANGE window frame tie audit

def q327_rows_vs_range_audit(spark, sf_dir):
    """ROWS-vs-RANGE running-total divergence audit: the cumulative
    order revenue by order date computed under a ROWS frame (with the
    deterministic (date, orderkey) order) versus a RANGE frame
    (ordered by date alone — every tie day's rows share the frame
    END, so each sees the WHOLE day's total) — the classic silent bug
    in financial running totals, quantified instead of hand-waved:
    every non-final order of a multi-order day diverges by exactly
    the remaining same-day revenue.  Emits the corpus-level audit:
    order count, tie-day count, divergent-row count, the maximum and
    total divergence in exact cents — the numbers that tell a
    reviewer whether a RANGE default would have corrupted this
    ledger.

    Scale shape: one sort feeds BOTH window passes (same ordering
    key prefix); the audit fold is map-side after the windows."""
    orders = _t(spark, sf_dir, "orders")
    base = orders.select(
        F.expr(
            "CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)"
        ).alias("d"),
        F.col("o_orderkey").alias("ok"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c"),
    )
    wrows = (
        Window.orderBy("d", "ok")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    wrange = (
        Window.orderBy("d")
        .rangeBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = base.select(
        "d",
        F.sum("c").over(wrows).alias("cum_rows"),
        F.sum("c").over(wrange).alias("cum_range"),
    )
    day_sizes = base.groupBy("d").agg(F.count(F.lit(1)).alias("k"))
    ties = day_sizes.where(F.col("k") > 1).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_tie_days")
    )
    audit = cum.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(
            F.when(F.col("cum_rows") != F.col("cum_range"), 1).otherwise(0)
        ).cast("bigint").alias("n_divergent"),
        F.max(F.col("cum_range") - F.col("cum_rows"))
        .cast("bigint")
        .alias("max_divergence_cents"),
        F.sum(F.col("cum_range") - F.col("cum_rows"))
        .cast("bigint")
        .alias("total_divergence_cents"),
    )
    return audit.crossJoin(F.broadcast(ties))


ORACLE_Q327 = """
WITH base AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS d,
         o_orderkey AS ok,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders
),
cum AS (
  SELECT d,
         sum(c) OVER (ORDER BY d, ok
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_rows,
         sum(c) OVER (ORDER BY d
              RANGE BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum_range
  FROM base
),
ties AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tie_days FROM (
    SELECT d FROM base GROUP BY d HAVING count(*) > 1
  )
)
SELECT CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN cum_rows <> cum_range THEN 1 ELSE 0 END)
            AS BIGINT) AS n_divergent,
       CAST(max(cum_range - cum_rows) AS BIGINT) AS max_divergence_cents,
       CAST(sum(cum_range - cum_rows) AS BIGINT) AS total_divergence_cents,
       (SELECT n_tie_days FROM ties) AS n_tie_days
FROM cum
"""


# q328: FIFO lot matching via cumulative-interval join

def q328_fifo_lot_matching(spark, sf_dir):
    """FIFO lot matching — outflows (error events, as in q275's
    signed-flow convention) matched against inflow lots (purchases)
    in strict first-in-first-out order, implemented as the
    CUMULATIVE-INTERVAL join: each inflow occupies the cents interval
    [cum−c, cum) on its user's inflow axis, each outflow draws
    [cum−c, cum) on the outflow axis, and FIFO matching IS interval
    overlap between the two axes — the one formulation of FIFO
    costing/inventory consumption that is a JOIN instead of a
    sequential queue walk (the reason it scales: the queue state
    never exists).  Matched cents = Σ overlap; the cents-weighted
    mean holding time and each user's unmatched outflow are emitted.
    Top-15 users by matched cents under a pinned order.

    Scale shape: two per-user prefix-sum windows build the axes; the
    overlap join is user-keyed equi + intra-user interval predicate —
    quadratic only within a user's own flow count, never across
    users."""
    ev = _t(spark, sf_dir, "events")
    cents = F.expr("CAST(round(value * 100) AS BIGINT)")

    def axis(kind):
        w = (
            Window.partitionBy("user_id")
            .orderBy("sec", "event_id")
            .rowsBetween(Window.unboundedPreceding, Window.currentRow)
        )
        return (
            ev.where(F.col("event_type") == kind)
            .select(
                "user_id",
                F.unix_timestamp("ts").alias("sec"),
                "event_id",
                cents.alias("c"),
            )
            .withColumn("hi", F.sum("c").over(w))
            .withColumn("lo", F.col("hi") - F.col("c"))
        )
    inflow = axis("purchase").select(
        "user_id",
        F.col("sec").alias("in_sec"),
        F.col("lo").alias("in_lo"),
        F.col("hi").alias("in_hi"),
    )
    outflow = axis("error").select(
        "user_id",
        F.col("sec").alias("out_sec"),
        F.col("lo").alias("out_lo"),
        F.col("hi").alias("out_hi"),
    )
    m = (
        inflow.join(outflow, "user_id")
        .where(
            (F.col("in_lo") < F.col("out_hi"))
            & (F.col("out_lo") < F.col("in_hi"))
        )
        .select(
            "user_id",
            (
                F.least("in_hi", "out_hi") - F.greatest("in_lo", "out_lo")
            ).alias("ov"),
            (F.col("out_sec") - F.col("in_sec")).alias("hold"),
        )
    )
    per_user = m.groupBy("user_id").agg(
        F.sum("ov").cast("bigint").alias("matched_cents"),
        F.expr(
            "(CASE WHEN sum(ov * hold) >= 0 THEN 1 ELSE -1 END)"
            " * (abs(sum(ov * hold)) div sum(ov))"
        ).cast("bigint").alias("avg_holding_secs"),
    )
    tot_out = outflow.groupBy("user_id").agg(
        F.max("out_hi").cast("bigint").alias("total_out")
    )
    return (
        per_user.join(tot_out, "user_id")
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "matched_cents",
            "avg_holding_secs",
            (F.col("total_out") - F.col("matched_cents"))
            .cast("bigint")
            .alias("unmatched_out_cents"),
        )
        .orderBy(F.desc("matched_cents"), "user_id")
        .limit(15)
    )


ORACLE_Q328 = """
WITH flows AS (
  SELECT user_id, event_type,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
         CAST(round(value * 100) AS BIGINT) AS c,
         sum(CAST(round(value * 100) AS BIGINT)) OVER (
           PARTITION BY user_id, event_type ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
           ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS hi
  FROM events WHERE event_type IN ('purchase', 'error')
),
inflow AS (
  SELECT user_id, sec AS in_sec, hi - c AS in_lo, hi AS in_hi
  FROM flows WHERE event_type = 'purchase'
),
outflow AS (
  SELECT user_id, sec AS out_sec, hi - c AS out_lo, hi AS out_hi
  FROM flows WHERE event_type = 'error'
),
m AS (
  SELECT i.user_id,
         least(in_hi, out_hi) - greatest(in_lo, out_lo) AS ov,
         out_sec - in_sec AS hold
  FROM inflow i JOIN outflow o
    ON i.user_id = o.user_id
   AND in_lo < out_hi AND out_lo < in_hi
),
per_user AS (
  SELECT user_id,
         CAST(sum(ov) AS BIGINT) AS matched_cents,
         CAST((CASE WHEN sum(ov * hold) >= 0 THEN 1 ELSE -1 END)
              * (abs(sum(ov * hold)) // sum(ov)) AS BIGINT)
           AS avg_holding_secs
  FROM m GROUP BY user_id
),
tot_out AS (
  SELECT user_id, CAST(max(out_hi) AS BIGINT) AS total_out
  FROM outflow GROUP BY user_id
)
SELECT CAST(p.user_id AS BIGINT) AS user_id, matched_cents,
       avg_holding_secs,
       CAST(total_out - matched_cents AS BIGINT) AS unmatched_out_cents
FROM per_user p JOIN tot_out t ON p.user_id = t.user_id
ORDER BY matched_cents DESC, p.user_id
LIMIT 15
"""


# q329: weighted (multiset) Jaccard between sources

def q329_weighted_jaccard(spark, sf_dir):
    """Weighted (multiset) Jaccard between source token BAGS:
    wJ = Σ_t min(c_a, c_b) / Σ_t max(c_a, c_b) — completes the
    source-comparison trio: q301 compares SETS (is the vocabulary
    shared?), q293 compares DISTRIBUTIONS (is the mix shifted?), this
    compares MULTISETS (is the volume-weighted content the same?) —
    the quantity consistent-weighted-sampling sketches estimate, here
    exact because the per-token pair fan-out is bounded by the source
    count.  Σmax is derived as N_a + N_b − Σmin, so only the INNER
    join on shared tokens is ever materialized; all integers, wJ in
    truncating ppm, top-20 pairs pinned.

    Scale shape: one (source, token) count shuffle; the pair join
    fans out at most C(20,2) per token; totals REAGGREGATE the cells
    (one corpus scan)."""
    docs = _t_wide(spark, sf_dir, "documents")
    cells = (
        docs.select(
            "source",
            F.explode(
                F.filter(
                    F.split(F.lower(F.col("text")), r"\s+"),
                    lambda t: t != F.lit(""),
                )
            ).alias("tok"),
        )
        .groupBy("source", "tok")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    totals = cells.groupBy("source").agg(F.sum("c").alias("n"))
    a, b = cells.alias("a"), cells.alias("b")
    smin = (
        a.join(
            b,
            (F.col("a.tok") == F.col("b.tok"))
            & (F.col("a.source") < F.col("b.source")),
        )
        .groupBy(
            F.col("a.source").alias("src_a"), F.col("b.source").alias("src_b")
        )
        .agg(
            F.sum(F.least("a.c", "b.c")).cast("bigint").alias("sum_min")
        )
    )
    return (
        smin.join(
            F.broadcast(
                totals.withColumnRenamed("source", "src_a")
                .withColumnRenamed("n", "n_a")
            ),
            "src_a",
        )
        .join(
            F.broadcast(
                totals.withColumnRenamed("source", "src_b")
                .withColumnRenamed("n", "n_b")
            ),
            "src_b",
        )
        .select(
            "src_a",
            "src_b",
            "sum_min",
            F.expr("n_a + n_b - sum_min").cast("bigint").alias("sum_max"),
            F.expr("(sum_min * 1000000) div (n_a + n_b - sum_min)")
            .cast("bigint")
            .alias("wjaccard_ppm"),
        )
        .orderBy(F.desc("wjaccard_ppm"), "src_a", "src_b")
        .limit(20)
    )


ORACLE_Q329 = """
WITH cells AS (
  SELECT source, tok, count(*) AS c FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
  ) GROUP BY 1, 2
),
totals AS (SELECT source, sum(c) AS n FROM cells GROUP BY source),
smin AS (
  SELECT a.source AS src_a, b.source AS src_b,
         CAST(sum(least(a.c, b.c)) AS BIGINT) AS sum_min
  FROM cells a JOIN cells b
    ON a.tok = b.tok AND a.source < b.source
  GROUP BY 1, 2
)
SELECT src_a, src_b, sum_min,
       CAST(ta.n + tb.n - sum_min AS BIGINT) AS sum_max,
       CAST((sum_min * 1000000) // (ta.n + tb.n - sum_min) AS BIGINT)
         AS wjaccard_ppm
FROM smin
JOIN totals ta ON ta.source = src_a
JOIN totals tb ON tb.source = src_b
ORDER BY wjaccard_ppm DESC, src_a, src_b
LIMIT 20
"""


# q330: duplicate-payment audit (same payer, amount band, week)

def q330_duplicate_payment_audit(spark, sf_dir):
    """Accounts-payable duplicate-payment audit: pairs of DISTINCT
    purchase events from the same user for the same whole-dollar
    amount within 7 days of each other — the controls test every
    audit firm runs (double-billing, double-keying), which is a
    DIFFERENT animal from content dedup (q15/q22: same bytes; this:
    same business semantics, different rows) and from q12's streaming
    key dedup (exact key match; this: banded amount + time
    proximity).  The join key is (user, dollars) so the candidate
    space is bounded by the amount-band collision rate BEFORE the
    |Δt| <= 7d predicate — the blocking discipline, never a cross
    join; pair order pinned by event_id so each pair emits once.
    Top-20 by (gap asc, keys).

    Scale shape: one self-equi-join on the composite band key, a
    map-side time predicate, one sort — collision-bounded quadratic
    only within a (user, dollar) cell."""
    ev = _t(spark, sf_dir, "events")
    base = ev.where(F.col("event_type") == "purchase").select(
        F.col("user_id").alias("u"),
        F.col("event_id").alias("eid"),
        F.expr("CAST(round(value * 100) AS BIGINT) div 100").alias("dollars"),
        F.unix_timestamp("ts").alias("sec"),
    )
    a, b = base.alias("a"), base.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.u") == F.col("b.u"))
            & (F.col("a.dollars") == F.col("b.dollars"))
            & (F.col("a.eid") < F.col("b.eid")),
        )
        .where(F.abs(F.col("a.sec") - F.col("b.sec")) <= 7 * 86400)
        .select(
            F.col("a.u").cast("bigint").alias("user_id"),
            F.col("a.eid").cast("bigint").alias("event_a"),
            F.col("b.eid").cast("bigint").alias("event_b"),
            F.col("a.dollars").cast("bigint").alias("dollars"),
            F.abs(F.col("a.sec") - F.col("b.sec"))
            .cast("bigint")
            .alias("gap_secs"),
        )
    )
    return pairs.orderBy("gap_secs", "user_id", "event_a", "event_b").limit(20)


ORACLE_Q330 = """
WITH base AS (
  SELECT user_id AS u, event_id AS eid,
         CAST(round(value * 100) AS BIGINT) // 100 AS dollars,
         CAST(floor(epoch(ts)) AS BIGINT) AS sec
  FROM events WHERE event_type = 'purchase'
)
SELECT CAST(a.u AS BIGINT) AS user_id,
       CAST(a.eid AS BIGINT) AS event_a,
       CAST(b.eid AS BIGINT) AS event_b,
       CAST(a.dollars AS BIGINT) AS dollars,
       CAST(abs(a.sec - b.sec) AS BIGINT) AS gap_secs
FROM base a JOIN base b
  ON a.u = b.u AND a.dollars = b.dollars AND a.eid < b.eid
WHERE abs(a.sec - b.sec) <= 7 * 86400
ORDER BY gap_secs, user_id, event_a, event_b
LIMIT 20
"""


# q331: shuffle-partition sizing advisor

_Q331_TABLES = [
    # (table, string cols, fixed-width col count, skew key)
    ("lineitem", ["l_returnflag", "l_linestatus"], 9, "l_orderkey"),
    ("orders", ["o_orderstatus", "o_orderpriority"], 4, "o_custkey"),
    ("events", ["event_type", "props"], 4, "user_id"),
    ("documents", ["text", "lang", "source"], 2, "source"),
]


def q331_partition_sizing_advisor(spark, sf_dir):
    """Shuffle-partition sizing advisor: for each fact table, exact
    row count, an exact integer byte estimate (octet length of every
    string column + 8 per fixed-width column — the schema widths are
    PINNED in code, not reflected, so the estimate is reproducible),
    the recommended partition count at a 1 MiB bench-scale target
    (128 MiB in production — the constant is the knob, the arithmetic
    is the operator), and the hottest-key mass share as the skew
    signal (a partition count is WRONG if one key carries the
    partition) — the planning table an operator reads before setting
    spark.sql.shuffle.partitions, produced by the engine itself
    (q146 forecasts one join; this sizes every shuffle).

    Scale shape: per table ONE map-side byte expression + count agg
    and ONE key-mass agg; 4-row output."""
    target = 1 << 20
    out = None
    for tbl, scols, nfixed, key in _Q331_TABLES:
        df = _t(spark, sf_dir, tbl)
        bexpr = " + ".join(
            [f"octet_length({c})" for c in scols] + [str(nfixed * 8)]
        )
        stats = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_rows"),
            F.sum(F.expr(bexpr)).cast("bigint").alias("est_bytes"),
        )
        hot = (
            df.groupBy(key)
            .agg(F.count(F.lit(1)).alias("kc"))
            .agg(F.max("kc").cast("bigint").alias("hot_key_rows"))
        )
        row = stats.crossJoin(F.broadcast(hot)).select(
            F.lit(tbl).alias("table_name"),
            "n_rows",
            "est_bytes",
            F.expr(f"CAST((est_bytes + {target} - 1) div {target} AS BIGINT)")
            .alias("rec_partitions"),
            F.expr("(hot_key_rows * 1000000) div n_rows")
            .cast("bigint")
            .alias("hot_key_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("table_name")


def _oracle_q331():
    target = 1 << 20
    parts = []
    for tbl, scols, nfixed, key in _Q331_TABLES:
        bexpr = " + ".join(
            [f"strlen({c})" for c in scols] + [str(nfixed * 8)]
        )
        parts.append(f"""
SELECT '{tbl}' AS table_name,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum({bexpr}) AS BIGINT) AS est_bytes,
       CAST((sum({bexpr}) + {target} - 1) // {target} AS BIGINT)
         AS rec_partitions,
       CAST(((SELECT max(kc) FROM (
              SELECT count(*) AS kc FROM {tbl} GROUP BY {key})) * 1000000)
            // count(*) AS BIGINT) AS hot_key_ppm
FROM {tbl}""")
    return "\nUNION ALL".join(parts) + "\nORDER BY table_name"


# q332: Hoover (Robin Hood) index — sort-free inequality

def q332_hoover_index(spark, sf_dir):
    """Hoover ("Robin Hood") index of revenue concentration across
    users: the fraction of total spend that would have to move to
    equalize everyone — H = Σ|n·x_i − X| / (2·n·X), EXACT integers
    end to end, and computable in ONE map-side pass with no sort
    (q304's Gini needs a global sort; Hoover is the inequality number
    you can afford on every micro-batch).  Also emits the share of
    users above the mean and the excess mass they hold — the two
    numbers the redistribution interpretation is made of.

    Scale shape: one per-user agg, one broadcast moment row, one
    map-side fold — no ordering anywhere."""
    ev = _t(spark, sf_dir, "events")
    spend = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)")).alias("c")
        )
    )
    mom = spend.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("c").cast("bigint").alias("x"),
    )
    return (
        spend.crossJoin(F.broadcast(mom))
        .agg(
            F.max("n").alias("n_users"),
            F.max("x").alias("total_cents"),
            F.sum(F.abs(F.col("n") * F.col("c") - F.col("x")))
            .cast("bigint")
            .alias("abs_dev_nscaled"),
            F.sum(
                F.when(F.col("n") * F.col("c") > F.col("x"), 1).otherwise(0)
            ).cast("bigint").alias("n_above_mean"),
            F.expr(
                "CAST((sum(abs(n * c - x)) * 1000000)"
                " div (2 * max(n) * max(x)) AS BIGINT)"
            ).alias("hoover_ppm"),
        )
    )


ORACLE_Q332 = """
WITH spend AS (
  SELECT user_id, sum(CAST(round(value * 100) AS BIGINT)) AS c
  FROM events WHERE event_type = 'purchase' GROUP BY user_id
),
mom AS (SELECT count(*) AS n, sum(c) AS x FROM spend)
SELECT CAST(max(n) AS BIGINT) AS n_users,
       CAST(max(x) AS BIGINT) AS total_cents,
       CAST(sum(abs(n * c - x)) AS BIGINT) AS abs_dev_nscaled,
       CAST(sum(CASE WHEN n * c > x THEN 1 ELSE 0 END) AS BIGINT)
         AS n_above_mean,
       CAST((sum(abs(n * c - x)) * 1000000) // (2 * max(n) * max(x))
            AS BIGINT) AS hoover_ppm
FROM spend, mom
"""


# q333: delta + bit-pack encoding advisor

_Q333_COLS = [
    # (label, table, integer expression, tiebreak key)
    ("events_ts_sec", "events", "CAST(floor(unix_timestamp(ts)) AS BIGINT)",
     "event_id"),
    ("lineitem_orderkey", "lineitem", "CAST(l_orderkey AS BIGINT)",
     "l_linenumber"),
    ("orders_orderdate_day", "orders",
     "CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)",
     "o_orderkey"),
    ("orders_orderkey", "orders", "CAST(o_orderkey AS BIGINT)",
     "o_orderkey"),
]

_Q333_DUCK = {
    "events_ts_sec": ("events", "CAST(floor(epoch(ts)) AS BIGINT)",
                      "event_id"),
    "lineitem_orderkey": ("lineitem", "CAST(l_orderkey AS BIGINT)",
                          "l_linenumber"),
    "orders_orderdate_day": (
        "orders",
        "CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)",
        "o_orderkey"),
    "orders_orderkey": ("orders", "CAST(o_orderkey AS BIGINT)",
                        "o_orderkey"),
}


def q333_delta_bitpack_advisor(spark, sf_dir):
    """Delta + bit-pack encoding advisor — the layout decision parquet
    (DELTA_BINARY_PACKED) and every column store makes: sort the
    column, take adjacent deltas, and measure the bit-width profile
    exactly via length(bin(delta)) (identical minimal-binary
    semantics in both engines — no float log2 whose boundary rounding
    could flip a width).  Per column: delta count, max and
    milli-mean bit width, total packed bits, and the savings vs plain
    int64 in ppm — the numbers that decide whether the sort is worth
    buying at write time (q169 prices varint postings, q250 RLE, q182
    dictionaries, q307 front coding; this completes the encoder
    family for NUMERIC columns).

    Scale shape: per column ONE sort + lag window + map-side width
    expression + one fold; 4-row output."""
    out = None
    for label, tbl, expr, tb in _Q333_COLS:
        df = _t(spark, sf_dir, tbl).select(
            F.expr(expr).alias("v"), F.expr(tb).alias("tb")
        )
        w = Window.orderBy("v", "tb")
        deltas = (
            df.withColumn("prev", F.lag("v").over(w))
            .where(F.col("prev").isNotNull())
            .select((F.col("v") - F.col("prev")).alias("d"))
            .select(F.expr("length(bin(d))").cast("bigint").alias("wbits"))
        )
        row = deltas.agg(
            F.lit(label).alias("column_name"),
            F.count(F.lit(1)).cast("bigint").alias("n_deltas"),
            F.max("wbits").cast("bigint").alias("max_bits"),
            F.expr("(sum(wbits) * 1000) div count(*)")
            .cast("bigint")
            .alias("mean_bits_milli"),
            F.sum("wbits").cast("bigint").alias("packed_bits"),
            F.expr(
                "((count(*) * 64 - sum(wbits)) * 1000000) div (count(*) * 64)"
            ).cast("bigint").alias("savings_ppm"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("column_name")


def _oracle_q333():
    parts = []
    for label in sorted(_Q333_DUCK):
        tbl, expr, tb = _Q333_DUCK[label]
        parts.append(f"""
SELECT '{label}' AS column_name,
       CAST(count(*) AS BIGINT) AS n_deltas,
       CAST(max(wbits) AS BIGINT) AS max_bits,
       CAST((sum(wbits) * 1000) // count(*) AS BIGINT) AS mean_bits_milli,
       CAST(sum(wbits) AS BIGINT) AS packed_bits,
       CAST(((count(*) * 64 - sum(wbits)) * 1000000) // (count(*) * 64)
            AS BIGINT) AS savings_ppm
FROM (
  SELECT CAST(length(bin(v - prev)) AS BIGINT) AS wbits FROM (
    SELECT v, lag(v) OVER (ORDER BY v, tb) AS prev FROM (
      SELECT {expr} AS v, {tb} AS tb FROM {tbl}
    )
  ) WHERE prev IS NOT NULL
)""")
    return "\nUNION ALL".join(parts) + "\nORDER BY column_name"


# q334: k-coverage sourcing profile

def q334_sourcing_coverage(spark, sf_dir):
    """Sourcing-diversity k-coverage profile: for every part, the
    MINIMUM number of suppliers whose combined shipments cover half
    the part's volume (suppliers ranked by shipped lines under a
    pinned (count desc, suppkey) order; the half-coverage test is the
    cross-multiplied 2·cum >= total, no rate division) — then the
    corpus-wide histogram k -> part count, the procurement readout
    "how concentrated is our sourcing really" that stays meaningful
    whatever the concentration level (a single-source flag would be
    vacuous on this uniformly-sourced corpus — measured, which is
    itself the finding the histogram reports).

    Scale shape: one (part, supplier) agg, one part-partitioned rank
    + cumulative window, one min-k agg, one <=50-row histogram."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy("l_partkey", "l_suppkey").agg(
        F.count(F.lit(1)).alias("n")
    )
    w = Window.partitionBy("l_partkey").orderBy(
        F.desc("n"), F.col("l_suppkey")
    )
    wc = (
        Window.partitionBy("l_partkey")
        .orderBy(F.desc("n"), F.col("l_suppkey"))
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    tot = cells.groupBy("l_partkey").agg(F.sum("n").alias("tot"))
    ranked = (
        cells.withColumn("rk", F.row_number().over(w))
        .withColumn("cum", F.sum("n").over(wc))
        .join(tot, "l_partkey")
    )
    k = (
        ranked.where(F.col("cum") * 2 >= F.col("tot"))
        .groupBy("l_partkey")
        .agg(F.min("rk").cast("bigint").alias("k_half"))
    )
    hist = k.groupBy("k_half").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    np_ = hist.agg(F.sum("n_parts").alias("np"))
    return (
        hist.crossJoin(F.broadcast(np_))
        .select(
            "k_half",
            "n_parts",
            F.expr("(n_parts * 1000000) div np").cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("k_half")
    )


ORACLE_Q334 = """
WITH cells AS (
  SELECT l_partkey, l_suppkey, count(*) AS n
  FROM lineitem GROUP BY 1, 2
),
ranked AS (
  SELECT l_partkey,
         row_number() OVER (PARTITION BY l_partkey
                            ORDER BY n DESC, l_suppkey) AS rk,
         sum(n) OVER (PARTITION BY l_partkey
                      ORDER BY n DESC, l_suppkey
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS cum,
         sum(n) OVER (PARTITION BY l_partkey) AS tot
  FROM cells
),
k AS (
  SELECT l_partkey, CAST(min(rk) AS BIGINT) AS k_half
  FROM ranked WHERE cum * 2 >= tot GROUP BY l_partkey
),
hist AS (
  SELECT k_half, CAST(count(*) AS BIGINT) AS n_parts FROM k GROUP BY 1
),
np_ AS (SELECT sum(n_parts) AS np FROM hist)
SELECT k_half, n_parts,
       CAST((n_parts * 1000000) // np AS BIGINT) AS share_ppm
FROM hist, np_
ORDER BY k_half
"""


# q335: cohort payback matrix

def q335_cohort_payback(spark, sf_dir):
    """Cohort payback analysis: customers grouped by first-order
    month (the acquisition cohort), each cohort's order revenue
    accumulated by account-age month, and the PAYBACK month — the
    first age at which cumulative revenue covers a $500k-per-customer
    acquisition cost — the unit-economics readout every growth team
    reports (q127 tracks WHO returns; this tracks when the cohort
    pays for itself).  Months are exact integer (year*12+month)
    arithmetic; cumulative revenue via one window; payback = min age
    clearing the cross-multiplied cost line (never a rate division);
    cohorts that never pay back carry a NULL payback age — visible,
    not dropped.

    Scale shape: one per-customer first-order agg, one (cohort, age)
    revenue agg, one cohort-partitioned cumulative window over the
    tiny cohort-age matrix."""
    orders = _t(spark, sf_dir, "orders")
    month = F.expr("year(o_orderdate) * 12 + month(o_orderdate)")
    first = orders.groupBy("o_custkey").agg(F.min(month).alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users")
    )
    rev = (
        orders
        .join(first, "o_custkey")
        .groupBy(
            "cohort", (month - F.col("cohort")).cast("bigint").alias("age")
        )
        .agg(
            F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
            .alias("c")
        )
    )
    wc = (
        Window.partitionBy("cohort")
        .orderBy("age")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    cum = rev.withColumn("cum", F.sum("c").over(wc)).join(
        F.broadcast(sizes), "cohort"
    )
    payback = (
        cum.where(F.col("cum") >= F.col("n_users") * 50_000_000)
        .groupBy("cohort")
        .agg(F.min("age").cast("bigint").alias("payback_age"))
    )
    tot = cum.groupBy("cohort", "n_users").agg(
        F.max("cum").cast("bigint").alias("total_cents")
    )
    return (
        tot.join(payback, "cohort", "left")
        .select(
            F.col("cohort").cast("bigint").alias("cohort"),
            "n_users",
            "total_cents",
            "payback_age",
        )
        .orderBy("cohort")
    )


ORACLE_Q335 = """
WITH first AS (
  SELECT o_custkey, min(year(o_orderdate) * 12 + month(o_orderdate))
           AS cohort
  FROM orders GROUP BY o_custkey
),
sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS n_users
  FROM first GROUP BY cohort
),
rev AS (
  SELECT cohort,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) - cohort
              AS BIGINT) AS age,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS c
  FROM orders JOIN first USING (o_custkey)
  GROUP BY 1, 2
),
cum AS (
  SELECT cohort, age,
         sum(c) OVER (PARTITION BY cohort ORDER BY age
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS cum
  FROM rev
),
wide AS (SELECT cum.*, n_users FROM cum JOIN sizes USING (cohort)),
payback AS (
  SELECT cohort, CAST(min(age) AS BIGINT) AS payback_age
  FROM wide WHERE cum >= n_users * 50000000 GROUP BY cohort
),
tot AS (
  SELECT cohort, n_users, CAST(max(cum) AS BIGINT) AS total_cents
  FROM wide GROUP BY cohort, n_users
)
SELECT CAST(t.cohort AS BIGINT) AS cohort, n_users, total_cents,
       payback_age
FROM tot t LEFT JOIN payback p ON t.cohort = p.cohort
ORDER BY cohort
"""


# q336: k-step Markov path ranking (exact rationals)

def q336_markov_path_ranking(spark, sf_dir):
    """Top-10 most-probable 3-step event-type paths starting from
    'view' under the empirical per-user transition model — the
    "what actually happens after a view" question q129's transition
    MATRIX cannot answer (path probability multiplies three
    conditionals; the matrix shows one).  Every path carries its
    EXACT integer numerator c(s0,s1)·c(s1,s2)·c(s2,s3) and
    denominator R(s0)·R(s1)·R(s2); the ranking key is the one
    correctly-rounded double division of those exact integers
    (identical bits in both engines), with the path string as the
    pinned tiebreak, and prob_ppm = floor(1e6·num/den) reported.

    Scale shape: ONE per-user lag pass builds the 25-cell bigram
    relation; path enumeration is a 3-way join of the 25-row relation
    against itself — everything after the first shuffle is
    transition-matrix-scale."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    big = (
        ev.select(
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
        )
        .where(F.col("b").isNotNull())
        .groupBy("a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
        .localCheckpoint(eager=True)
    )
    rows = big.groupBy("a").agg(F.sum("c").alias("r"))
    c1 = big.select(
        F.col("a").alias("s0"), F.col("b").alias("s1"), F.col("c").alias("c1")
    ).where(F.col("s0") == "view")
    c2 = big.select(
        F.col("a").alias("s1"), F.col("b").alias("s2"), F.col("c").alias("c2")
    )
    c3 = big.select(
        F.col("a").alias("s2"), F.col("b").alias("s3"), F.col("c").alias("c3")
    )
    r0 = rows.select(F.col("a").alias("s0"), F.col("r").alias("r0"))
    r1 = rows.select(F.col("a").alias("s1"), F.col("r").alias("r1"))
    r2 = rows.select(F.col("a").alias("s2"), F.col("r").alias("r2"))
    paths = (
        c1.join(c2, "s1")
        .join(c3, "s2")
        .join(F.broadcast(r0), "s0")
        .join(F.broadcast(r1), "s1")
        .join(F.broadcast(r2), "s2")
        .select(
            F.concat_ws(">", "s0", "s1", "s2", "s3").alias("path"),
            F.expr("c1 * c2 * c3").cast("bigint").alias("num"),
            F.expr("r0 * r1 * r2").cast("bigint").alias("den"),
            F.expr(
                "CAST(floor(1000000.0 * CAST(c1 * c2 * c3 AS DOUBLE)"
                " / CAST(r0 * r1 * r2 AS DOUBLE)) AS BIGINT)"
            ).alias("prob_ppm"),
        )
    )
    return paths.orderBy(
        F.expr("CAST(num AS DOUBLE) / CAST(den AS DOUBLE)").desc(), "path"
    ).limit(10)


ORACLE_Q336 = """
WITH big AS (
  SELECT a, b, count(*) AS c FROM (
    SELECT event_type AS a,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS b
    FROM events
  ) WHERE b IS NOT NULL GROUP BY a, b
),
rows_ AS (SELECT a, sum(c) AS r FROM big GROUP BY a),
paths AS (
  SELECT c1.a || '>' || c1.b || '>' || c2.b || '>' || c3.b AS path,
         CAST(c1.c * c2.c * c3.c AS BIGINT) AS num,
         CAST(ra.r * rb.r * rc.r AS BIGINT) AS den
  FROM big c1
  JOIN big c2 ON c2.a = c1.b
  JOIN big c3 ON c3.a = c2.b
  JOIN rows_ ra ON ra.a = c1.a
  JOIN rows_ rb ON rb.a = c2.a
  JOIN rows_ rc ON rc.a = c3.a
  WHERE c1.a = 'view'
)
SELECT path, num, den,
       CAST(floor(1000000.0 * CAST(num AS DOUBLE) / CAST(den AS DOUBLE))
            AS BIGINT) AS prob_ppm
FROM paths
ORDER BY CAST(num AS DOUBLE) / CAST(den AS DOUBLE) DESC, path
LIMIT 10
"""


# q337: Copeland tournament ranking of sources

def q337_copeland_ranking(spark, sf_dir):
    """Copeland tournament ranking of sources by median document
    length: every pair of sources is compared on their EXACT median
    n_chars (rank-pinned order statistic, never a float percentile),
    a win scores +1, a loss −1, a tie 0, and the Copeland score ranks
    the field — the voting-theory aggregation that is immune to the
    outlier sensitivity a mean-based leaderboard inherits, and the
    correct way to rank entities when only pairwise comparisons are
    trusted.  All 190 comparisons are integer equality/order tests on
    exact medians.

    Scale shape: per-source medians via one partitioned rank window;
    the tournament is a 20x20 broadcast self-join of the 20-row
    median relation — corpus touched once."""
    docs = _t(spark, sf_dir, "documents")
    w = Window.partitionBy("source").orderBy("n_chars", "doc_id")
    ranked = docs.select(
        "source", "n_chars", F.row_number().over(w).alias("rk")
    )
    sizes = docs.groupBy("source").agg(F.count(F.lit(1)).alias("n"))
    med = (
        ranked.join(F.broadcast(sizes), "source")
        .where(F.col("rk") == F.expr("(n + 1) div 2"))
        .select("source", F.col("n_chars").alias("median_chars"))
        .localCheckpoint(eager=True)
    )
    a, b = med.alias("a"), med.alias("b")
    duels = (
        a.join(b, F.col("a.source") != F.col("b.source"))
        .groupBy(
            F.col("a.source").alias("source"),
            F.col("a.median_chars").alias("median_chars"),
        )
        .agg(
            F.sum(
                F.when(F.col("a.median_chars") > F.col("b.median_chars"), 1)
                .otherwise(0)
            ).cast("bigint").alias("wins"),
            F.sum(
                F.when(F.col("a.median_chars") < F.col("b.median_chars"), 1)
                .otherwise(0)
            ).cast("bigint").alias("losses"),
        )
    )
    return duels.select(
        "source",
        F.col("median_chars").cast("bigint").alias("median_chars"),
        "wins",
        "losses",
        (F.col("wins") - F.col("losses")).cast("bigint").alias("copeland"),
    ).orderBy(F.desc("copeland"), "source")


ORACLE_Q337 = """
WITH ranked AS (
  SELECT source, n_chars,
         row_number() OVER (PARTITION BY source
                            ORDER BY n_chars, doc_id) AS rk,
         count(*) OVER (PARTITION BY source) AS n
  FROM documents
),
med AS (
  SELECT source, n_chars AS median_chars
  FROM ranked WHERE rk = (n + 1) // 2
),
duels AS (
  SELECT a.source, a.median_chars,
         CAST(sum(CASE WHEN a.median_chars > b.median_chars
                       THEN 1 ELSE 0 END) AS BIGINT) AS wins,
         CAST(sum(CASE WHEN a.median_chars < b.median_chars
                       THEN 1 ELSE 0 END) AS BIGINT) AS losses
  FROM med a JOIN med b ON a.source <> b.source
  GROUP BY a.source, a.median_chars
)
SELECT source, CAST(median_chars AS BIGINT) AS median_chars,
       wins, losses,
       CAST(wins - losses AS BIGINT) AS copeland
FROM duels
ORDER BY copeland DESC, source
"""


# q338: succession-graph topology panel

def q338_graph_topology_panel(spark, sf_dir):
    """Structural health panel of the user succession graph (the q63
    edge construction): node and DISTINCT-edge counts, directed
    density in ppm, reciprocity (share of distinct edges whose
    reverse also exists — the mutual-handoff rate), maximum in/out
    degree, and the out-degree Gini (q304's rank formula applied to
    degrees) — the one-row topology summary a graph-pipeline operator
    checks before running anything iterative on the graph (q63
    PageRank, q199 HITS, q317 assortativity all assume a non-
    pathological graph; this is the assumption, measured).

    Scale shape: edges distinct once; reciprocity is a self-semi-join
    on the reversed key; degrees are two bounded-key aggs; the Gini
    sort runs over the NODE relation, not edges."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    edges = (
        ev.select("user_id", F.lead("user_id").over(w).alias("next_user"))
        .where(
            F.col("next_user").isNotNull()
            & (F.col("next_user") != F.col("user_id"))
        )
        .select(
            F.col("user_id").alias("src"), F.col("next_user").alias("dst")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    rev = edges.select(
        F.col("dst").alias("src"), F.col("src").alias("dst")
    )
    mutual = edges.join(rev, ["src", "dst"], "left_semi").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_mutual")
    )
    outd = edges.groupBy("src").agg(F.count(F.lit(1)).alias("od"))
    ind = edges.groupBy("dst").agg(F.count(F.lit(1)).alias("idg"))
    nodes = (
        edges.select(F.col("src").alias("u"))
        .unionByName(edges.select(F.col("dst").alias("u")))
        .distinct()
    )
    deg = nodes.join(
        outd.withColumnRenamed("src", "u"), "u", "left"
    ).na.fill({"od": 0})
    gw = Window.orderBy("od", "u")
    gmom = deg.select(
        "od", F.row_number().over(gw).cast("bigint").alias("i")
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("od").cast("bigint").alias("s"),
        F.sum(F.expr("(2 * i - 1) * od")).cast("bigint").alias("ws"),
    )
    counts = edges.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_edges")
    )
    maxes = (
        outd.agg(F.max("od").cast("bigint").alias("max_out"))
        .crossJoin(ind.agg(F.max("idg").cast("bigint").alias("max_in")))
    )
    return (
        gmom.crossJoin(F.broadcast(counts))
        .crossJoin(F.broadcast(mutual))
        .crossJoin(F.broadcast(maxes))
        .select(
            F.col("n").alias("n_nodes"),
            "n_edges",
            F.expr("(n_edges * 1000000) div (n * (n - 1))")
            .cast("bigint")
            .alias("density_ppm"),
            F.expr("(n_mutual * 1000000) div n_edges")
            .cast("bigint")
            .alias("reciprocity_ppm"),
            "max_out",
            "max_in",
            F.expr("((ws - n * s) * 1000000) div (n * s)")
            .cast("bigint")
            .alias("outdeg_gini_ppm"),
        )
    )


ORACLE_Q338 = """
WITH edges AS (
  SELECT DISTINCT src, dst FROM (
    SELECT user_id AS src,
           lead(user_id) OVER (PARTITION BY event_type
                               ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL AND dst <> src
),
mutual AS (
  SELECT CAST(count(*) AS BIGINT) AS n_mutual
  FROM edges e WHERE EXISTS (
    SELECT 1 FROM edges r WHERE r.src = e.dst AND r.dst = e.src)
),
outd AS (SELECT src, count(*) AS od FROM edges GROUP BY src),
ind AS (SELECT dst, count(*) AS idg FROM edges GROUP BY dst),
nodes AS (
  SELECT DISTINCT u FROM (
    SELECT src AS u FROM edges UNION ALL SELECT dst FROM edges)
),
deg AS (
  SELECT nodes.u, coalesce(od, 0) AS od
  FROM nodes LEFT JOIN outd ON nodes.u = outd.src
),
gmom AS (
  SELECT count(*) AS n, sum(od) AS s, sum((2 * i - 1) * od) AS ws
  FROM (
    SELECT od,
           CAST(row_number() OVER (ORDER BY od, u) AS BIGINT) AS i
    FROM deg
  )
),
counts AS (SELECT CAST(count(*) AS BIGINT) AS n_edges FROM edges),
maxes AS (
  SELECT (SELECT CAST(max(od) AS BIGINT) FROM outd) AS max_out,
         (SELECT CAST(max(idg) AS BIGINT) FROM ind) AS max_in
)
SELECT CAST(n AS BIGINT) AS n_nodes, n_edges,
       CAST((n_edges * 1000000) // (n * (n - 1)) AS BIGINT)
         AS density_ppm,
       CAST((n_mutual * 1000000) // n_edges AS BIGINT)
         AS reciprocity_ppm,
       max_out, max_in,
       CAST(((ws - n * s) * 1000000) // (n * s) AS BIGINT)
         AS outdeg_gini_ppm
FROM gmom, counts, mutual, maxes
"""


# q339: composite-ranking weight sensitivity

def q339_ranking_weight_sensitivity(spark, sf_dir):
    """Weight-sensitivity audit of a composite supplier scorecard:
    suppliers are scored on three metrics (revenue, return rate, mean
    ship lag), each converted to a PINNED RANK (rank-space
    normalization — the one normalization that needs no scale
    constants and no floats), and the composite is re-ranked under
    three explicit weight vectors (balanced 1/1/1, quality-heavy
    1/3/1, speed-heavy 1/1/3).  For each weighting: the winner, its
    composite score, and the top-10 overlap with the balanced
    baseline — the sensitivity number that tells a procurement
    committee whether their "supplier of the year" is a fact or an
    artifact of the weights.  All integer arithmetic.

    Scale shape: one supplier-keyed fact agg, three rank windows over
    the SUPPLIER relation (dimension-scale), the rest is
    supplier-count-sized arithmetic."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
            .alias("rev"),
            F.expr(
                "(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
                " * 1000000) div count(*)"
            ).alias("ret_ppm"),
            F.expr(
                "sum(datediff(l_shipdate, o_orderdate)) div count(*)"
            ).alias("lag_days"),
        )
    )
    ranked = base.select(
        "l_suppkey",
        F.row_number()
        .over(Window.orderBy(F.desc("rev"), F.col("l_suppkey")))
        .cast("bigint")
        .alias("r_rev"),
        F.row_number()
        .over(Window.orderBy(F.col("ret_ppm"), F.col("l_suppkey")))
        .cast("bigint")
        .alias("r_ret"),
        F.row_number()
        .over(Window.orderBy(F.col("lag_days"), F.col("l_suppkey")))
        .cast("bigint")
        .alias("r_lag"),
    ).localCheckpoint(eager=True)
    weightings = [("balanced", 1, 1, 1), ("quality", 1, 3, 1),
                  ("speed", 1, 1, 3)]

    def top10(w1, w2, w3):
        return (
            ranked.select(
                "l_suppkey",
                (w1 * F.col("r_rev") + w2 * F.col("r_ret")
                 + w3 * F.col("r_lag")).alias("score"),
            )
            .orderBy("score", "l_suppkey")
            .limit(10)
            .localCheckpoint(eager=True)
        )
    baseline = top10(1, 1, 1)
    out = None
    for label, w1, w2, w3 in weightings:
        t = top10(w1, w2, w3)
        winner = t.orderBy("score", "l_suppkey").limit(1)
        ov = (
            t.join(baseline.select("l_suppkey"), "l_suppkey", "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("overlap10"))
        )
        row = (
            winner.select(
                F.lit(label).alias("weighting"),
                F.col("l_suppkey").cast("bigint").alias("top_supplier"),
                F.col("score").cast("bigint").alias("top_score"),
            )
            .crossJoin(F.broadcast(ov))
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("weighting")


ORACLE_Q339 = """
WITH base AS (
  SELECT l_suppkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev,
         (sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000000)
           // count(*) AS ret_ppm,
         sum(datediff('day', o_orderdate, l_shipdate)) // count(*)
           AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
),
ranked AS (
  SELECT l_suppkey,
         CAST(row_number() OVER (ORDER BY rev DESC, l_suppkey) AS BIGINT)
           AS r_rev,
         CAST(row_number() OVER (ORDER BY ret_ppm, l_suppkey) AS BIGINT)
           AS r_ret,
         CAST(row_number() OVER (ORDER BY lag_days, l_suppkey) AS BIGINT)
           AS r_lag
  FROM base
),
t_balanced AS (
  SELECT l_suppkey, r_rev + r_ret + r_lag AS score FROM ranked
  ORDER BY score, l_suppkey LIMIT 10
),
t_quality AS (
  SELECT l_suppkey, r_rev + 3 * r_ret + r_lag AS score FROM ranked
  ORDER BY score, l_suppkey LIMIT 10
),
t_speed AS (
  SELECT l_suppkey, r_rev + r_ret + 3 * r_lag AS score FROM ranked
  ORDER BY score, l_suppkey LIMIT 10
)
SELECT * FROM (
  SELECT 'balanced' AS weighting,
         (SELECT CAST(l_suppkey AS BIGINT) FROM t_balanced
          ORDER BY score, l_suppkey LIMIT 1) AS top_supplier,
         (SELECT CAST(min(score) AS BIGINT) FROM t_balanced) AS top_score,
         (SELECT CAST(count(*) AS BIGINT) FROM t_balanced a
          WHERE EXISTS (SELECT 1 FROM t_balanced b
                        WHERE b.l_suppkey = a.l_suppkey)) AS overlap10
  UNION ALL
  SELECT 'quality',
         (SELECT CAST(l_suppkey AS BIGINT) FROM t_quality
          ORDER BY score, l_suppkey LIMIT 1),
         (SELECT CAST(min(score) AS BIGINT) FROM t_quality),
         (SELECT CAST(count(*) AS BIGINT) FROM t_quality a
          WHERE EXISTS (SELECT 1 FROM t_balanced b
                        WHERE b.l_suppkey = a.l_suppkey))
  UNION ALL
  SELECT 'speed',
         (SELECT CAST(l_suppkey AS BIGINT) FROM t_speed
          ORDER BY score, l_suppkey LIMIT 1),
         (SELECT CAST(min(score) AS BIGINT) FROM t_speed),
         (SELECT CAST(count(*) AS BIGINT) FROM t_speed a
          WHERE EXISTS (SELECT 1 FROM t_balanced b
                        WHERE b.l_suppkey = a.l_suppkey))
) ORDER BY weighting
"""


# q340: intra-document topic-shift via half-cosine

def q340_topic_shift_audit(spark, sf_dir):
    """Intra-document topic-shift audit (TextTiling-lite): each
    document is split at its token midpoint, the two halves' token-
    count vectors are compared by cosine — computed as the EXACT
    integer cross-multiplication cos²·1e6 = dot²·1e6 div (‖a‖²·‖b‖²),
    so no square root and no float ever — and the 20 most-divergent
    documents surface (spliced/concatenated pages, template+content
    hybrids: exactly what boilerplate removal and chunking pipelines
    mis-handle).  Documents with an empty half are excluded by
    construction (midpoint split of >= 2 tokens).

    Scale shape: one positional explode with a half tag, one
    (doc, half, token) count agg, an intra-doc equi-join on the token
    key for the dot product, two per-half norm aggs — all keyed by
    doc, nothing cross-document."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    pos = docs.select(
        "doc_id",
        "lang",
        F.size(toks).alias("n"),
        F.posexplode(toks).alias("p", "tok"),
    ).where(F.col("n") >= 2)
    halves = pos.select(
        "doc_id",
        "lang",
        F.when(F.col("p") * 2 < F.col("n"), 1).otherwise(2).alias("half"),
        "tok",
    )
    counts = halves.groupBy("doc_id", "lang", "half", "tok").agg(
        F.count(F.lit(1)).alias("c")
    )
    norms = counts.groupBy("doc_id", "lang", "half").agg(
        F.sum(F.col("c") * F.col("c")).alias("nn")
    )
    n1 = norms.where(F.col("half") == 1).select(
        "doc_id", "lang", F.col("nn").alias("na2")
    )
    n2 = norms.where(F.col("half") == 2).select(
        "doc_id", F.col("nn").alias("nb2")
    )
    a = counts.where(F.col("half") == 1).select(
        "doc_id", "tok", F.col("c").alias("ca")
    )
    b = counts.where(F.col("half") == 2).select(
        "doc_id", "tok", F.col("c").alias("cb")
    )
    dot = (
        a.join(b, ["doc_id", "tok"])
        .groupBy("doc_id")
        .agg(F.sum(F.col("ca") * F.col("cb")).alias("dot"))
    )
    return (
        n1.join(n2, "doc_id")
        .join(dot, "doc_id", "left")
        .na.fill({"dot": 0})
        .select(
            "doc_id",
            "lang",
            F.col("dot").cast("bigint").alias("dot"),
            F.expr("(dot * dot * 1000000) div (na2 * nb2)")
            .cast("bigint")
            .alias("cos2_ppm"),
        )
        .orderBy("cos2_ppm", "doc_id")
        .limit(20)
    )


ORACLE_Q340 = """
WITH pos AS (
  SELECT doc_id, lang, len(ts) AS n,
         generate_subscripts(ts, 1) - 1 AS p,
         unnest(ts) AS tok
  FROM (
    SELECT doc_id, lang,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> t <> '') AS ts
    FROM documents
  ) WHERE len(ts) >= 2
),
counts AS (
  SELECT doc_id, lang,
         CASE WHEN p * 2 < n THEN 1 ELSE 2 END AS half,
         tok, count(*) AS c
  FROM pos GROUP BY 1, 2, 3, 4
),
norms AS (
  SELECT doc_id, lang, half, sum(c * c) AS nn
  FROM counts GROUP BY 1, 2, 3
),
dot AS (
  SELECT a.doc_id, sum(a.c * b.c) AS dot
  FROM (SELECT * FROM counts WHERE half = 1) a
  JOIN (SELECT * FROM counts WHERE half = 2) b
    ON a.doc_id = b.doc_id AND a.tok = b.tok
  GROUP BY a.doc_id
)
SELECT n1.doc_id, n1.lang,
       CAST(coalesce(dot, 0) AS BIGINT) AS dot,
       CAST((coalesce(dot, 0) * coalesce(dot, 0) * 1000000)
            // (n1.nn * n2.nn) AS BIGINT) AS cos2_ppm
FROM (SELECT * FROM norms WHERE half = 1) n1
JOIN (SELECT * FROM norms WHERE half = 2) n2 ON n1.doc_id = n2.doc_id
LEFT JOIN dot ON dot.doc_id = n1.doc_id
ORDER BY cos2_ppm, n1.doc_id
LIMIT 20
"""


# q341: order fill-rate census at a cutoff date

def q341_fill_rate_census(spark, sf_dir):
    """Order fill-rate census at a fixed cutoff (1998-01-01): each
    order is classed by how much of it had shipped by the cutoff —
    'full' (every line), 'partial', or 'none' — per order-month, with
    the shipped-line share in exact ppm; the accumulating-snapshot
    readout a fulfillment dashboard serves ("how much of the March
    book is still open?").  Orders placed after the cutoff are
    excluded — their fill state is undefined, not zero (the silent
    misread a naive version makes).

    Scale shape: one order-keyed agg over the lineitem scan with a
    map-side cutoff flag, a broadcast date filter on orders, one
    (month, class) census."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    cutoff = "1998-01-01"
    per_order = (
        orders.where(F.col("o_orderdate") < cutoff)
        .join(li, orders.o_orderkey == li.l_orderkey)
        .groupBy(
            "o_orderkey",
            F.expr("year(o_orderdate) * 12 + month(o_orderdate)")
            .cast("bigint")
            .alias("order_month"),
        )
        .agg(
            F.count(F.lit(1)).alias("n_lines"),
            F.sum(
                F.when(F.col("l_shipdate") < cutoff, 1).otherwise(0)
            ).alias("n_shipped"),
        )
        .select(
            "order_month",
            F.expr(
                "CASE WHEN n_shipped = n_lines THEN 'full'"
                " WHEN n_shipped = 0 THEN 'none' ELSE 'partial' END"
            ).alias("fill_class"),
            "n_lines",
            "n_shipped",
        )
    )
    return (
        per_order.groupBy("order_month", "fill_class")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_orders"),
            F.expr("(sum(n_shipped) * 1000000) div sum(n_lines)")
            .cast("bigint")
            .alias("line_fill_ppm"),
        )
        .orderBy("order_month", "fill_class")
    )


__all__ = _star_exports(globals())  # noqa: F405
