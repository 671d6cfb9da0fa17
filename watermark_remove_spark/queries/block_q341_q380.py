"""Registry block q341-q380 — split verbatim from the
single-module catalog (round-4 verdict #2); execution order,
names and behavior identical to the original queries.py."""
from __future__ import annotations

from .block_q301_q341 import *  # noqa: F401,F403



ORACLE_Q341 = """
WITH per_order AS (
  SELECT o_orderkey,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
           AS order_month,
         count(*) AS n_lines,
         sum(CASE WHEN l_shipdate < TIMESTAMP '1998-01-01'
                  THEN 1 ELSE 0 END) AS n_shipped
  FROM orders JOIN lineitem ON o_orderkey = l_orderkey
  WHERE o_orderdate < TIMESTAMP '1998-01-01'
  GROUP BY 1, 2
)
SELECT order_month,
       CASE WHEN n_shipped = n_lines THEN 'full'
            WHEN n_shipped = 0 THEN 'none' ELSE 'partial' END
         AS fill_class,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST((sum(n_shipped) * 1000000) // sum(n_lines) AS BIGINT)
         AS line_fill_ppm
FROM per_order
GROUP BY 1, 2
ORDER BY order_month, fill_class
"""


# q342: dyadic rank-biased overlap between two rankings

def q342_rank_biased_overlap(spark, sf_dir):
    """Rank-biased overlap (RBO@16) between the length ranking and
    the vocabulary-richness ranking of documents, with the DYADIC
    persistence p = 1/2 so every term is an exact rational:
    RBO = Σ_d overlap_d/(d·2^d), evaluated as EXACT integers over the
    common denominator D = 2^16·lcm(1..16) (the float p^d of the
    textbook p=0.9 is a libm pow whose last ulp differs across
    engines; p=1/2 costs nothing and buys bit-exactness; depth 16,
    not 20, keeps S·10^6 inside int64 — the depth/headroom trade is
    explicit).  RBO is the top-weighted ranking-agreement measure a
    search or curation team uses where Kendall (q277/q313)
    over-weights the tail; the truncation at depth 16 is reported,
    not hidden (no extrapolation term).  The per-depth sum is folded per-DOC via suffix weights
    W(m) = Σ_{d>=max(ra,rb)} w_d — one join, no depth loop.

    Scale shape: two rank windows, two 20-row heads, one 20x20-bounded
    join, one broadcast suffix-weight spine — corpus touched twice
    (the two sort keys), everything after is top-k-scale."""
    import math as _math

    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    base = docs.select(
        "doc_id",
        "n_chars",
        F.size(F.array_distinct(toks)).alias("rich"),
    )
    ra = base.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("n_chars"), F.col("doc_id")))
        .alias("ra"),
    ).where(F.col("ra") <= 16)
    rb = base.select(
        "doc_id",
        F.row_number()
        .over(Window.orderBy(F.desc("rich"), F.col("doc_id")))
        .alias("rb"),
    ).where(F.col("rb") <= 16)
    lcm = _math.lcm(*range(1, 17))
    d_const = lcm * (1 << 16)
    weights = [(d, d_const // (d * (1 << d))) for d in range(1, 17)]
    suffix = []
    acc = 0
    for d, wd in reversed(weights):
        acc += wd
        suffix.append((d, acc))
    spine = spark.createDataFrame(suffix, ["m", "wsuf"])
    joined = ra.join(rb, "doc_id").select(
        F.greatest("ra", "rb").alias("m")
    )
    s = (
        joined.join(F.broadcast(spine), "m")
        .agg(F.sum("wsuf").cast("bigint").alias("s"))
        .na.fill({"s": 0})
    )
    return s.select(
        F.col("s").alias("rbo_num"),
        F.lit(d_const).cast("bigint").alias("rbo_den"),
        F.expr(f"(s * 1000000) div {d_const}").cast("bigint")
        .alias("rbo_ppm"),
    )


def _oracle_q342():
    import math as _math

    lcm = _math.lcm(*range(1, 17))
    d_const = lcm * (1 << 16)
    weights = [(d, d_const // (d * (1 << d))) for d in range(1, 17)]
    suffix = []
    acc = 0
    for d, wd in reversed(weights):
        acc += wd
        suffix.append((d, acc))
    spine = ", ".join(f"({m}, {w})" for m, w in sorted(suffix))
    return f"""
WITH base AS (
  SELECT doc_id, n_chars,
         len(list_distinct(list_filter(
             string_split_regex(lower(text), '\\s+'),
             t -> t <> ''))) AS rich
  FROM documents
),
ra AS (
  SELECT doc_id, ra FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY n_chars DESC, doc_id) AS ra
    FROM base
  ) WHERE ra <= 16
),
rb AS (
  SELECT doc_id, rb FROM (
    SELECT doc_id,
           row_number() OVER (ORDER BY rich DESC, doc_id) AS rb
    FROM base
  ) WHERE rb <= 16
),
spine(m, wsuf) AS (VALUES {spine}),
joined AS (
  SELECT greatest(ra, rb) AS m FROM ra JOIN rb USING (doc_id)
),
s AS (
  SELECT CAST(coalesce(sum(wsuf), 0) AS BIGINT) AS s
  FROM joined JOIN spine USING (m)
)
SELECT s AS rbo_num,
       CAST({d_const} AS BIGINT) AS rbo_den,
       CAST((s * 1000000) // {d_const} AS BIGINT) AS rbo_ppm
FROM s
"""


# q343: hierarchical forecast reconciliation audit

def q343_forecast_reconciliation(spark, sf_dir):
    """Bottom-up vs top-down forecast reconciliation audit over the
    region hierarchy: the seasonal-naive forecast (q319's baseline,
    value a week ago) is produced two ways — bottom-up (each region's
    own lag-7 count; sums to the total by construction) and top-down
    (the TOTAL lag-7 count apportioned to regions by their all-history
    shares via LARGEST-REMAINDER so the integer split sums EXACTLY to
    the total, the q178 apportionment discipline) — and each method's
    MAE against the actual per-region series is reported.  This is
    the hierarchical-forecasting coherence question (does
    disaggregating a good total beat aggregating noisy leaves?) with
    every number an exact integer.

    Scale shape: one (region, day) agg; lag joins at series scale;
    apportionment is a 5-row-per-day window (rank remainders, grant
    +1 to the top shortfall); MAE folds are map-side."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rd = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.expr(
                "CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)"
            ).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
        .localCheckpoint(eager=True)
    )
    shares = rd.groupBy("region").agg(F.sum("x").alias("rn"))
    tot_share = shares.agg(F.sum("rn").alias("tn"))
    daily_tot = rd.groupBy("d").agg(F.sum("x").alias("xt"))
    # bottom-up: actual region series joined to its own lag-7
    a, b7 = rd.alias("a"), rd.alias("b7")
    bu = a.join(
        b7,
        (F.col("a.region") == F.col("b7.region"))
        & (F.col("b7.d") == F.col("a.d") - 7),
    ).select(
        F.col("a.region").alias("region"),
        F.col("a.d").alias("d"),
        F.col("a.x").alias("actual"),
        F.col("b7.x").alias("bu_f"),
    )
    # top-down: total lag-7 apportioned by all-history shares,
    # largest remainder (quota = xt*rn div tn; grant +1 to the
    # largest remainders until the grants sum to the shortfall)
    td_base = (
        daily_tot.alias("t")
        .join(
            daily_tot.alias("t7"),
            F.col("t7.d") == F.col("t.d") - 7,
        )
        .select(F.col("t.d").alias("d"), F.col("t7.xt").alias("ft"))
        .join(F.broadcast(shares))
        .crossJoin(F.broadcast(tot_share))
        .select(
            "d",
            "region",
            "ft",
            F.expr("(ft * rn) div tn").alias("floor_q"),
            F.expr("(ft * rn) % tn").alias("rem"),
        )
    )
    wday = Window.partitionBy("d").orderBy(
        F.desc("rem"), F.col("region")
    )
    wsum = Window.partitionBy("d")
    td = td_base.select(
        "d",
        "region",
        (
            F.col("floor_q")
            + F.when(
                F.row_number().over(wday)
                <= F.col("ft") - F.sum("floor_q").over(wsum),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("td_f"),
    )
    joined = bu.join(td, ["region", "d"])
    return (
        joined.groupBy("region")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.sum(F.abs(F.col("actual") - F.col("bu_f")))
            .cast("bigint")
            .alias("bu_mae_sum"),
            F.sum(F.abs(F.col("actual") - F.col("td_f")))
            .cast("bigint")
            .alias("td_mae_sum"),
        )
        .orderBy("region")
    )


ORACLE_Q343 = """
WITH rd AS (
  SELECT n_regionkey AS region,
         CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
shares AS (SELECT region, sum(x) AS rn FROM rd GROUP BY region),
tot_share AS (SELECT sum(rn) AS tn FROM shares),
daily_tot AS (SELECT d, sum(x) AS xt FROM rd GROUP BY d),
bu AS (
  SELECT a.region, a.d, a.x AS actual, b7.x AS bu_f
  FROM rd a JOIN rd b7
    ON b7.region = a.region AND b7.d = a.d - 7
),
td_base AS (
  SELECT t.d, region, t7.xt AS ft,
         (t7.xt * rn) // tn AS floor_q,
         (t7.xt * rn) % tn AS rem
  FROM daily_tot t
  JOIN daily_tot t7 ON t7.d = t.d - 7, shares, tot_share
),
td AS (
  SELECT d, region,
         CAST(floor_q + (CASE WHEN row_number() OVER (
                PARTITION BY d ORDER BY rem DESC, region)
                <= ft - sum(floor_q) OVER (PARTITION BY d)
              THEN 1 ELSE 0 END) AS BIGINT) AS td_f
  FROM td_base
)
SELECT region,
       CAST(count(*) AS BIGINT) AS n_days,
       CAST(sum(abs(actual - bu_f)) AS BIGINT) AS bu_mae_sum,
       CAST(sum(abs(actual - td_f)) AS BIGINT) AS td_mae_sum
FROM bu JOIN td USING (region, d)
GROUP BY region ORDER BY region
"""


# q344: recursive-median (kd-tree) grid density audit

def q344_kd_median_grid(spark, sf_dir):
    """Depth-3 kd-tree density audit over the (purchase cents,
    hour-of-day) plane: split on the EXACT rank-pinned median of
    cents, then within each side on the median hour, then within
    each quarter on the median cents again — 8 leaf cells whose
    populations expose joint-density structure a 1-D histogram
    cannot (the kd construction IS the classic spatial indexing /
    isolation-forest primitive, here done wholly in rank windows —
    no sampling, no recursion on the driver beyond three fixed
    levels).  Each leaf reports its path (L/R per level), population
    and share; by construction of median splits the cells are
    near-balanced, so an UNBALANCED leaf is the finding.

    Scale shape: three cascaded partitioned rank windows (level k
    partitions by the k-1 prefix path), one 8-row census — the
    corpus is sorted three times and never joined to itself."""
    ev = _t(spark, sf_dir, "events")
    pts = ev.where(F.col("event_type") == "purchase").select(
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        F.expr("CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT) % 24")
        .alias("h"),
    )

    def med_split(df, part_cols, metric, tag):
        w = Window.partitionBy(*part_cols).orderBy(metric, "event_id") \
            if part_cols else Window.orderBy(metric, "event_id")
        wn = Window.partitionBy(*part_cols) if part_cols else \
            Window.partitionBy(F.lit(1))
        ranked = df.withColumn("_rk", F.row_number().over(w)).withColumn(
            "_n", F.count(F.lit(1)).over(wn)
        )
        med = ranked.withColumn(
            "_med",
            F.max(
                F.when(
                    F.col("_rk") == F.expr("(_n + 1) div 2"), F.col(metric)
                )
            ).over(wn),
        )
        return med.withColumn(
            tag, F.when(F.col(metric) <= F.col("_med"), "L").otherwise("R")
        ).drop("_rk", "_n", "_med")

    l1 = med_split(pts, [], "c", "p1")
    l2 = med_split(l1, ["p1"], "h", "p2")
    l3 = med_split(l2, ["p1", "p2"], "c", "p3")
    cells = l3.groupBy(
        F.concat_ws("", "p1", "p2", "p3").alias("cell")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("n_points"))
    tot = cells.agg(F.sum("n_points").alias("n"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "cell",
            "n_points",
            F.expr("(n_points * 1000000) div n").cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("cell")
    )


ORACLE_Q344 = """
WITH pts AS (
  SELECT event_id,
         CAST(round(value * 100) AS BIGINT) AS c,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS h
  FROM events WHERE event_type = 'purchase'
),
l1 AS (
  SELECT *, CASE WHEN c <= max(CASE WHEN rk1 = (n1 + 1) // 2
                 THEN c END) OVER () THEN 'L' ELSE 'R' END AS p1
  FROM (
    SELECT *, row_number() OVER (ORDER BY c, event_id) AS rk1,
           count(*) OVER () AS n1
    FROM pts
  )
),
l2 AS (
  SELECT *, CASE WHEN h <= max(CASE WHEN rk2 = (n2 + 1) // 2
                 THEN h END) OVER (PARTITION BY p1)
            THEN 'L' ELSE 'R' END AS p2
  FROM (
    SELECT *, row_number() OVER (PARTITION BY p1
                                 ORDER BY h, event_id) AS rk2,
           count(*) OVER (PARTITION BY p1) AS n2
    FROM l1
  )
),
l3 AS (
  SELECT *, CASE WHEN c <= max(CASE WHEN rk3 = (n3 + 1) // 2
                 THEN c END) OVER (PARTITION BY p1, p2)
            THEN 'L' ELSE 'R' END AS p3
  FROM (
    SELECT *, row_number() OVER (PARTITION BY p1, p2
                                 ORDER BY c, event_id) AS rk3,
           count(*) OVER (PARTITION BY p1, p2) AS n3
    FROM l2
  )
),
cells AS (
  SELECT p1 || p2 || p3 AS cell, CAST(count(*) AS BIGINT) AS n_points
  FROM l3 GROUP BY 1
),
tot AS (SELECT sum(n_points) AS n FROM cells)
SELECT cell, n_points,
       CAST((n_points * 1000000) // n AS BIGINT) AS share_ppm
FROM cells, tot
ORDER BY cell
"""


# q345: histogram-resolution advisor (integer cost model)

def q345_histogram_resolution_advisor(spark, sf_dir):
    """Histogram-resolution advisor: how many equi-depth buckets
    should the optimizer keep for the purchase-amount column?  Four
    candidate depths (4/8/16/32) are priced under an explicit integer
    cost model — uncertainty area Σ_b (max_b − min_b)·n_b (what a
    range predicate can't rule out) plus a 1024-unit per-bucket
    maintenance overhead — and the argmin is flagged.  q168 BUILDS the
    histogram at a given depth; this prices the depth itself, the
    ANALYZE-time decision.  One sort serves all four candidates: the
    equi-depth bucket of row r at depth B is (rk−1)·B div n — pure
    rank arithmetic, no second pass per depth.

    Scale shape: ONE global rank window, a 4-way tagged-union
    map-side bucket labeling, one (depth, bucket) agg, a 4-row cost
    fold."""
    ev = _t(spark, sf_dir, "events")
    vals = ev.where(F.col("event_type") == "purchase").select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"), "event_id"
    )
    w = Window.orderBy("c", "event_id")
    cnt = vals.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    ranked = vals.select(
        "c", (F.row_number().over(w) - 1).cast("bigint").alias("rk")
    )
    depths = spark.createDataFrame(
        [(4,), (8,), (16,), (32,)], ["depth"]
    ).select(F.col("depth").cast("bigint").alias("depth"))
    buckets = (
        ranked.join(F.broadcast(depths))
        .crossJoin(F.broadcast(cnt))
        .select(
            "depth",
            F.expr("(rk * depth) div n").alias("b"),
            "c",
        )
        .groupBy("depth", "b")
        .agg(
            F.count(F.lit(1)).alias("n_b"),
            F.min("c").alias("mn"),
            F.max("c").alias("mx"),
        )
    )
    costs = buckets.groupBy("depth").agg(
        F.sum(F.expr("(mx - mn) * n_b")).cast("bigint").alias("area"),
        F.expr("CAST(sum((mx - mn) * n_b) + 1024 * max(depth) AS BIGINT)")
        .alias("cost"),
    )
    best = costs.agg(F.min("cost").alias("best"))
    return (
        costs.crossJoin(F.broadcast(best))
        .select(
            "depth",
            "area",
            "cost",
            (F.col("cost") == F.col("best")).alias("chosen"),
        )
        .orderBy("depth")
    )


def _oracle_q345(sf_dir=None):
    return """
WITH vals AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c, event_id
  FROM events WHERE event_type = 'purchase'
),
cnt AS (SELECT count(*) AS n FROM vals),
ranked AS (
  SELECT c,
         CAST(row_number() OVER (ORDER BY c, event_id) - 1 AS BIGINT)
           AS rk
  FROM vals
),
depths(depth) AS (VALUES (4), (8), (16), (32)),
buckets AS (
  SELECT depth, (rk * depth) // n AS b,
         count(*) AS n_b, min(c) AS mn, max(c) AS mx
  FROM ranked, depths, cnt
  GROUP BY 1, 2
),
costs AS (
  SELECT CAST(depth AS BIGINT) AS depth,
         CAST(sum((mx - mn) * n_b) AS BIGINT) AS area,
         CAST(sum((mx - mn) * n_b) + 1024 * max(depth) AS BIGINT) AS cost
  FROM buckets GROUP BY depth
),
best AS (SELECT min(cost) AS best FROM costs)
SELECT depth, area, cost, cost = best AS chosen
FROM costs, best
ORDER BY depth
"""


# q346: bullwhip variance-amplification ratio

def q346_bullwhip_ratio(spark, sf_dir):
    """Bullwhip variance-amplification audit: per month, the variance
    of the daily SHIPMENT-line count against the variance of the
    daily ORDER count — the supply-chain bullwhip question (does
    execution amplify demand noise?) with both variances as exact
    n-scaled integers (V = 28·SS − S² over the fixed days 1..28 of
    each month — the fixed window makes the two series directly
    comparable and a missing day IS zero activity, densified via a
    generated day spine) and the amplification as one truncating
    milli ratio.  Months with a zero order variance are excluded by
    predicate, not by crash.

    Scale shape: two (month, day) aggs, one 28-day-per-month spine
    join, map-side moment folds at month scale."""
    orders = _t(spark, sf_dir, "orders")
    li = _t(spark, sf_dir, "lineitem")

    def daily(df, datecol):
        return df.where(F.dayofmonth(datecol) <= 28).groupBy(
            F.expr(f"year({datecol}) * 12 + month({datecol})")
            .cast("bigint")
            .alias("m"),
            F.dayofmonth(datecol).cast("bigint").alias("dd"),
        ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    od = daily(orders, "o_orderdate")
    sh = daily(li, "l_shipdate")
    months = od.select("m").union(sh.select("m")).distinct()
    days = spark.range(1, 29).select(F.col("id").cast("bigint").alias("dd"))
    spine = months.join(days)

    def var(df, name):
        dense = spine.join(df, ["m", "dd"], "left").na.fill({"x": 0})
        return dense.groupBy("m").agg(
            F.expr("CAST(28 * sum(x * x) - sum(x) * sum(x) AS BIGINT)")
            .alias(name)
        )
    vo = var(od, "v_ord")
    vs = var(sh, "v_ship")
    return (
        vo.join(vs, "m")
        .where(F.col("v_ord") > 0)
        .select(
            "m",
            "v_ord",
            "v_ship",
            F.expr("(v_ship * 1000) div v_ord").cast("bigint")
            .alias("bullwhip_milli"),
        )
        .orderBy("m")
    )


ORACLE_Q346 = """
WITH od AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         CAST(day(o_orderdate) AS BIGINT) AS dd,
         CAST(count(*) AS BIGINT) AS x
  FROM orders WHERE day(o_orderdate) <= 28 GROUP BY 1, 2
),
sh AS (
  SELECT CAST(year(l_shipdate) * 12 + month(l_shipdate) AS BIGINT) AS m,
         CAST(day(l_shipdate) AS BIGINT) AS dd,
         CAST(count(*) AS BIGINT) AS x
  FROM lineitem WHERE day(l_shipdate) <= 28 GROUP BY 1, 2
),
months AS (SELECT m FROM od UNION SELECT m FROM sh),
spine AS (
  SELECT m, CAST(d.range AS BIGINT) AS dd FROM months, range(1, 29) d
),
vo AS (
  SELECT m, CAST(28 * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS v_ord
  FROM (
    SELECT spine.m, spine.dd, coalesce(od.x, 0) AS x
    FROM spine LEFT JOIN od ON od.m = spine.m AND od.dd = spine.dd
  ) GROUP BY m
),
vs AS (
  SELECT m, CAST(28 * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS v_ship
  FROM (
    SELECT spine.m, spine.dd, coalesce(sh.x, 0) AS x
    FROM spine LEFT JOIN sh ON sh.m = spine.m AND sh.dd = spine.dd
  ) GROUP BY m
)
SELECT vo.m, v_ord, v_ship,
       CAST((v_ship * 1000) // v_ord AS BIGINT) AS bullwhip_milli
FROM vo JOIN vs ON vo.m = vs.m
WHERE v_ord > 0
ORDER BY vo.m
"""


# q347: Heaps-law doubling ratios per language

def q347_heaps_doubling(spark, sf_dir):
    """Heaps-law vocabulary-growth profile per language via the
    DOUBLING method: each language's token stream (in the corpus's
    deterministic (doc_id, position) ingestion order) is cut at N/4,
    N/2 and N, and the distinct-vocabulary ratios across the two
    doublings are reported in exact ppm — sublinear ratios (< 2e6)
    are Heaps' law in action, and a ratio near 1e6 means the
    vocabulary has SATURATED (this corpus's unigram finding, here
    measured per language instead of assumed).  Distinct counting at
    three prefixes costs ONE pass: vocab(P) = #tokens whose FIRST
    occurrence rank <= P, and first occurrences are a (lang, token)
    min-aggregate over the ranked stream.

    Scale shape: one per-lang rank window over the token stream, one
    (lang, token) min agg, three conditional counts — never three
    scans, never a distinct per prefix."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    stream = docs.select(
        "lang", "doc_id", F.posexplode(toks).alias("p", "tok")
    )
    w = Window.partitionBy("lang").orderBy("doc_id", "p")
    ranked = stream.select(
        "lang", "tok", F.row_number().over(w).cast("bigint").alias("rk")
    )
    totals = ranked.groupBy("lang").agg(F.max("rk").alias("n"))
    firsts = ranked.groupBy("lang", "tok").agg(F.min("rk").alias("fr"))
    counts = (
        firsts.join(F.broadcast(totals), "lang")
        .groupBy("lang", "n")
        .agg(
            F.sum(F.when(F.col("fr") <= F.expr("n div 4"), 1).otherwise(0))
            .cast("bigint")
            .alias("v1"),
            F.sum(F.when(F.col("fr") <= F.expr("n div 2"), 1).otherwise(0))
            .cast("bigint")
            .alias("v2"),
            F.count(F.lit(1)).cast("bigint").alias("v3"),
        )
    )
    return counts.select(
        "lang",
        F.col("n").cast("bigint").alias("n_tokens"),
        "v1",
        "v2",
        "v3",
        F.expr("(v2 * 1000000) div v1").cast("bigint").alias("r12_ppm"),
        F.expr("(v3 * 1000000) div v2").cast("bigint").alias("r23_ppm"),
    ).orderBy("lang")


ORACLE_Q347 = """
WITH stream AS (
  SELECT lang, doc_id, generate_subscripts(ts, 1) AS p, unnest(ts) AS tok
  FROM (
    SELECT lang, doc_id,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> t <> '') AS ts
    FROM documents
  )
),
ranked AS (
  SELECT lang, tok,
         CAST(row_number() OVER (PARTITION BY lang
                                 ORDER BY doc_id, p) AS BIGINT) AS rk
  FROM stream
),
totals AS (SELECT lang, max(rk) AS n FROM ranked GROUP BY lang),
firsts AS (
  SELECT lang, tok, min(rk) AS fr FROM ranked GROUP BY lang, tok
),
counts AS (
  SELECT f.lang, n,
         CAST(sum(CASE WHEN fr <= n // 4 THEN 1 ELSE 0 END) AS BIGINT)
           AS v1,
         CAST(sum(CASE WHEN fr <= n // 2 THEN 1 ELSE 0 END) AS BIGINT)
           AS v2,
         CAST(count(*) AS BIGINT) AS v3
  FROM firsts f JOIN totals USING (lang)
  GROUP BY f.lang, n
)
SELECT lang, CAST(n AS BIGINT) AS n_tokens, v1, v2, v3,
       CAST((v2 * 1000000) // v1 AS BIGINT) AS r12_ppm,
       CAST((v3 * 1000000) // v2 AS BIGINT) AS r23_ppm
FROM counts ORDER BY lang
"""


# q348: pseudo-count shrinkage leaderboard

def q348_shrinkage_leaderboard(spark, sf_dir):
    """Empirical-Bayes-style error-rate leaderboard with PSEUDO-COUNT
    shrinkage: each user's rate is pulled toward the global prior by
    m = 20 phantom events — shrunk = (e + m·p0)/(n + m), linearized to
    the exact integer ((e·N + m·E)·1e6) div ((n + m)·N) — the fix for
    the classic leaderboard failure where a 2-event user with 1 error
    tops every list (raw ranking rewards small n; shrinkage prices
    the evidence).  Top-10 by shrunk rate, each row carrying its RAW
    rank so the re-ordering is visible; all integer arithmetic, both
    rankings under pinned total orders.

    Scale shape: one per-user agg, one broadcast prior row, two
    user-table rank windows — nothing rescans the facts."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("e"),
    )
    prior = users.agg(
        F.sum("n").alias("nn"), F.sum("e").alias("ee")
    )
    scored = users.crossJoin(F.broadcast(prior)).select(
        "user_id",
        "n",
        "e",
        F.expr("(e * 1000000) div n").cast("bigint").alias("raw_ppm"),
        F.expr("((e * nn + 20 * ee) * 1000000) div ((n + 20) * nn)")
        .cast("bigint")
        .alias("shrunk_ppm"),
    )
    wraw = Window.orderBy(F.desc("raw_ppm"), F.col("user_id"))
    wshr = Window.orderBy(F.desc("shrunk_ppm"), F.col("user_id"))
    ranked = scored.select(
        "user_id",
        "n",
        "e",
        "raw_ppm",
        "shrunk_ppm",
        F.row_number().over(wraw).cast("bigint").alias("raw_rank"),
        F.row_number().over(wshr).cast("bigint").alias("shrunk_rank"),
    )
    return (
        ranked.where(F.col("shrunk_rank") <= 10)
        .select(
            "shrunk_rank",
            F.col("user_id").cast("bigint").alias("user_id"),
            "n",
            "e",
            "raw_ppm",
            "shrunk_ppm",
            "raw_rank",
        )
        .orderBy("shrunk_rank")
    )


ORACLE_Q348 = """
WITH users AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e
  FROM events GROUP BY user_id
),
prior AS (SELECT sum(n) AS nn, sum(e) AS ee FROM users),
scored AS (
  SELECT user_id, n, e,
         CAST((e * 1000000) // n AS BIGINT) AS raw_ppm,
         CAST(((e * nn + 20 * ee) * 1000000) // ((n + 20) * nn) AS BIGINT)
           AS shrunk_ppm
  FROM users, prior
),
ranked AS (
  SELECT *,
         CAST(row_number() OVER (ORDER BY raw_ppm DESC, user_id)
              AS BIGINT) AS raw_rank,
         CAST(row_number() OVER (ORDER BY shrunk_ppm DESC, user_id)
              AS BIGINT) AS shrunk_rank
  FROM scored
)
SELECT shrunk_rank, CAST(user_id AS BIGINT) AS user_id, n, e,
       raw_ppm, shrunk_ppm, raw_rank
FROM ranked WHERE shrunk_rank <= 10
ORDER BY shrunk_rank
"""


# q349: apportionment method sensitivity (Hamilton vs d'Hondt)

def q349_apportionment_sensitivity(spark, sf_dir):
    """Apportionment-method sensitivity: 100 crawl-budget slots
    allocated across sources by document count under BOTH classic
    methods — Hamilton (largest remainder: floor quotas, then +1 to
    the largest remainders; the q178/q343 discipline) and d'Hondt
    (highest averages: rank the quotients v/k for k = 1..100 and take
    the top 100) — with the per-source seat difference reported.  The
    two methods genuinely disagree (d'Hondt favors large parties;
    Hamilton is quota-faithful but paradox-prone), and WHICH sources
    gain under which rule is the operational finding.  Quotients are
    ranked by their one correctly-rounded double with a pinned
    (source, k) tiebreak (the q336 rule); everything else is exact
    integer.

    Scale shape: one source-count agg (20 rows), a bounded 20x100
    quotient explosion, two rank windows over relations of at most
    2000 rows."""
    docs = _t(spark, sf_dir, "documents")
    v = docs.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("v")
    ).localCheckpoint(eager=True)
    tot = v.agg(F.sum("v").alias("tv"))
    slots = 100
    ham_base = v.crossJoin(F.broadcast(tot)).select(
        "source",
        "v",
        F.expr(f"({slots} * v) div tv").alias("fq"),
        F.expr(f"({slots} * v) % tv").alias("rem"),
    )
    wrem = Window.orderBy(F.desc("rem"), F.col("source"))
    wtot = Window.partitionBy(F.lit(1))
    hamilton = ham_base.select(
        "source",
        "v",
        (
            F.col("fq")
            + F.when(
                F.row_number().over(wrem)
                <= F.lit(slots) - F.sum("fq").over(wtot),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("hamilton"),
    )
    ks = spark.range(1, slots + 1).select(
        F.col("id").cast("bigint").alias("k")
    )
    quot = v.join(ks).select(
        "source",
        "k",
        F.expr("CAST(v AS DOUBLE) / CAST(k AS DOUBLE)").alias("q"),
    )
    wq = Window.orderBy(F.desc("q"), F.col("source"), F.col("k"))
    dh = (
        quot.withColumn("rk", F.row_number().over(wq))
        .where(F.col("rk") <= slots)
        .groupBy("source")
        .agg(F.count(F.lit(1)).cast("bigint").alias("dhondt"))
    )
    return (
        hamilton.join(dh, "source", "left")
        .na.fill({"dhondt": 0})
        .select(
            "source",
            "v",
            "hamilton",
            F.col("dhondt").cast("bigint").alias("dhondt"),
            (F.col("dhondt") - F.col("hamilton")).cast("bigint")
            .alias("seat_diff"),
        )
        .orderBy("source")
    )


ORACLE_Q349 = """
WITH v AS (
  SELECT source, CAST(count(*) AS BIGINT) AS v
  FROM documents GROUP BY source
),
tot AS (SELECT sum(v) AS tv FROM v),
ham_base AS (
  SELECT source, v, (100 * v) // tv AS fq, (100 * v) % tv AS rem
  FROM v, tot
),
hamilton AS (
  SELECT source, v,
         CAST(fq + (CASE WHEN row_number() OVER (
                ORDER BY rem DESC, source)
                <= 100 - sum(fq) OVER () THEN 1 ELSE 0 END) AS BIGINT)
           AS hamilton
  FROM ham_base
),
quot AS (
  SELECT source, CAST(k.range AS BIGINT) AS k,
         CAST(v AS DOUBLE) / CAST(k.range AS DOUBLE) AS q
  FROM v, range(1, 101) k
),
dh AS (
  SELECT source, CAST(count(*) AS BIGINT) AS dhondt FROM (
    SELECT source,
           row_number() OVER (ORDER BY q DESC, source, k) AS rk
    FROM quot
  ) WHERE rk <= 100 GROUP BY source
)
SELECT h.source, h.v, h.hamilton,
       CAST(coalesce(dhondt, 0) AS BIGINT) AS dhondt,
       CAST(coalesce(dhondt, 0) - hamilton AS BIGINT) AS seat_diff
FROM hamilton h LEFT JOIN dh ON h.source = dh.source
ORDER BY h.source
"""


# q350: sessionization gap-threshold sweep

def q350_sessionization_sweep(spark, sf_dir):
    """Sessionization knob sweep: session statistics under FOUR gap
    thresholds (5/15/30/60 min) from ONE lag pass — the sensitivity
    table that should precede every "sessions are defined by a
    30-minute gap" decision (q11/q28 sessionize at a fixed gap; this
    prices the knob).  For each threshold: session count (starts =
    first event or gap > T), events per session in milli, and the
    SINGLETON-session count (a start whose next event is also a start
    or absent — the bounce-like sessions a too-small threshold
    manufactures).  All four thresholds are conditional aggregates
    over the same lag/lead columns — the sweep costs one window pass,
    not four.

    Scale shape: one per-user (ts, event_id) window producing gap and
    next-gap, then a single map-side 4-threshold fold."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    base = ev.select(
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
    ).select(
        "user_id",
        (F.col("sec") - F.lag("sec").over(w)).alias("gap"),
        (F.lead("sec").over(w) - F.col("sec")).alias("next_gap"),
    )
    thresholds = [300, 900, 1800, 3600]
    out = None
    total = base.agg(F.count(F.lit(1)).cast("bigint").alias("n_events"))
    for t in thresholds:
        start = F.col("gap").isNull() | (F.col("gap") > t)
        next_start = F.col("next_gap").isNull() | (F.col("next_gap") > t)
        row = base.agg(
            F.lit(t).cast("bigint").alias("threshold_s"),
            F.sum(F.when(start, 1).otherwise(0))
            .cast("bigint")
            .alias("n_sessions"),
            F.sum(F.when(start & next_start, 1).otherwise(0))
            .cast("bigint")
            .alias("singleton_sessions"),
        )
        out = row if out is None else out.unionByName(row)
    return (
        out.crossJoin(F.broadcast(total))
        .select(
            "threshold_s",
            "n_sessions",
            F.expr("(n_events * 1000) div n_sessions")
            .cast("bigint")
            .alias("events_per_session_milli"),
            "singleton_sessions",
        )
        .orderBy("threshold_s")
    )


ORACLE_Q350 = """
WITH base AS (
  SELECT user_id,
         CAST(floor(epoch(ts)) AS BIGINT)
           - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id) AS gap,
         lead(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
               PARTITION BY user_id
               ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
           - CAST(floor(epoch(ts)) AS BIGINT) AS next_gap
  FROM events
),
total AS (SELECT CAST(count(*) AS BIGINT) AS n_events FROM base),
sweep AS (
  SELECT t.threshold_s,
         CAST(sum(CASE WHEN gap IS NULL OR gap > t.threshold_s
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_sessions,
         CAST(sum(CASE WHEN (gap IS NULL OR gap > t.threshold_s)
                        AND (next_gap IS NULL OR next_gap > t.threshold_s)
                       THEN 1 ELSE 0 END) AS BIGINT)
           AS singleton_sessions
  FROM base, (VALUES (300), (900), (1800), (3600)) t(threshold_s)
  GROUP BY t.threshold_s
)
SELECT CAST(threshold_s AS BIGINT) AS threshold_s, n_sessions,
       CAST((n_events * 1000) // n_sessions AS BIGINT)
         AS events_per_session_milli,
       singleton_sessions
FROM sweep, total
ORDER BY threshold_s
"""


# q351: predicate-ordering cost audit

def q351_predicate_ordering(spark, sf_dir):
    """Predicate-ordering cost audit — the classic query-optimizer
    decision, measured on this corpus's own quality gates: four
    document predicates (q312's gates) have measured pass counts
    p_i and DECLARED per-doc evaluation costs (length check 1,
    TTR 4, mean-token-length 4, core-term lookup 8 — the cheap-to-
    expensive ladder); a cascade evaluated in order g1..g4 costs
    c1 + (p1/N)c2 + (p1p2'/N²)c3 + ... per doc.  Both the NAIVE
    order (as declared) and the GREEDY rank order (by drop-rate per
    cost, the textbook heuristic, compared via exact cross-
    multiplied integers) are priced EXACTLY over the common
    denominator N³ — conditional pass counts measured, not assumed
    independent.  The saving in ppm is the answer to "does predicate
    order matter here".

    Scale shape: ONE corpus scan computes all 2^4-ish conditional
    counters as a 4-bit mask census (q312's shape); both cascade
    costs are scalar arithmetic on the 16-row census."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    gated = docs.select(
        (
            F.when(F.col("n_chars") >= 250, 8).otherwise(0)
            + F.when(
                F.size(F.array_distinct(toks)) * 10 >= F.size(toks) * 7, 4
            ).otherwise(0)
            + F.when(
                F.aggregate(
                    F.transform(toks, lambda t: F.length(t)),
                    F.lit(0).cast("bigint"),
                    lambda acc, x: acc + x,
                ) * 10 <= F.size(toks) * 55,
                2,
            ).otherwise(0)
            + F.when(
                F.size(
                    F.array_intersect(
                        F.array_distinct(toks),
                        F.array(
                            F.lit("scan"), F.lit("column"), F.lit("window")
                        ),
                    )
                ) > 0,
                1,
            ).otherwise(0)
        ).cast("bigint").alias("mask")
    )
    census = gated.groupBy("mask").agg(
        F.count(F.lit(1)).alias("n")
    ).localCheckpoint(eager=True)
    # pass masks: bit set = doc PASSES that gate.  Cascade cost over
    # an order [a, b, c, d] with costs K: N^0 term K_a * N^3, then
    # survivors(a) * K_b * N^2, survivors(a&b) * K_c * N, ...
    bits = {"len": 8, "ttr": 4, "mtl": 2, "core": 1}
    costs = {"len": 1, "ttr": 4, "mtl": 4, "core": 8}

    def surv(mask_bits):
        cond = None
        for b in mask_bits:
            c = (F.col("mask").bitwiseAND(F.lit(bits[b])) != 0)
            cond = c if cond is None else (cond & c)
        return F.sum(F.when(cond, F.col("n")).otherwise(0)) \
            if cond is not None else F.sum("n")

    naive = ["len", "ttr", "mtl", "core"]
    # greedy order by drop-rate per cost: rank via exact comparison
    # (N - p_i) * K_j vs (N - p_j) * K_i requires the single-gate pass
    # counts; compute them, then order in PYTHON over the 4 names with
    # the same integer comparator both engines mirror in SQL.
    aggs = [surv([g]).alias(f"p_{g}") for g in naive] + [
        F.sum("n").alias("nn")
    ]

    def cascade_cost_expr(order):
        # cost * N^3 as exact integer:
        # K1*N^3 + p(g1)*K2*N^2 + p(g1,g2)*K3*N + p(g1,g2,g3)*K4
        terms = [f"{costs[order[0]]} * nn * nn * nn"]
        prefix = []
        for i, g in enumerate(order[:-1]):
            prefix.append(g)
            k = costs[order[i + 1]]
            cname = f"pp_{'_'.join(prefix)}"
            terms.append(f"{cname} * {k}" + " * nn" * (2 - i))
        return " + ".join(terms)

    # all prefix survivor counts needed for both orders
    orders_needed = [naive]
    # greedy order computed from single-gate pass counts at PLAN TIME
    # is data-dependent; instead emit both candidate orders' costs for
    # the two fixed orders: naive and the cost-ladder-reversed
    # (cheapest-drop-first is data-dependent — we pin the comparison
    # to naive vs the declared-selectivity order ['core','ttr','mtl',
    # 'len'] reversed ladder) — both FIXED, both mirrored exactly.
    alt = ["core", "ttr", "mtl", "len"]
    orders_needed.append(alt)
    prefix_aggs = []
    seen = set()
    for order in orders_needed:
        prefix = []
        for g in order[:-1]:
            prefix.append(g)
            cname = f"pp_{'_'.join(prefix)}"
            if cname not in seen:
                seen.add(cname)
                prefix_aggs.append(surv(list(prefix)).alias(cname))
    full = census.agg(
        *(aggs[:-1] + [F.sum("n").alias("nn")] + prefix_aggs)
    )
    return full.select(
        F.col("nn").cast("bigint").alias("n_docs"),
        F.expr(cascade_cost_expr(naive)).cast("bigint")
        .alias("naive_cost_n3"),
        F.expr(cascade_cost_expr(alt)).cast("bigint").alias("alt_cost_n3"),
        F.expr(
            f"(CASE WHEN ({cascade_cost_expr(naive)})"
            f" >= ({cascade_cost_expr(alt)}) THEN 1 ELSE -1 END)"
            f" * (abs(({cascade_cost_expr(naive)})"
            f" - ({cascade_cost_expr(alt)})) * 1000000"
            f" div ({cascade_cost_expr(naive)}))"
        ).cast("bigint").alias("saving_ppm"),
    )


ORACLE_Q351 = """
WITH scored AS (
  SELECT (CASE WHEN n_chars >= 250 THEN 8 ELSE 0 END)
         + (CASE WHEN len(list_distinct(ts)) * 10 >= len(ts) * 7
                 THEN 4 ELSE 0 END)
         + (CASE WHEN list_sum(list_transform(ts, t -> length(t))) * 10
                      <= len(ts) * 55 THEN 2 ELSE 0 END)
         + (CASE WHEN len(list_intersect(list_distinct(ts),
                      ['scan', 'column', 'window'])) > 0
                 THEN 1 ELSE 0 END) AS mask
  FROM (
    SELECT n_chars,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> t <> '') AS ts
    FROM documents
  )
),
census AS (SELECT mask, count(*) AS n FROM scored GROUP BY mask),
agg AS (
  SELECT sum(n) AS nn,
         sum(CASE WHEN (mask & 8) <> 0 THEN n ELSE 0 END) AS p_len,
         sum(CASE WHEN (mask & 8) <> 0 AND (mask & 4) <> 0
                  THEN n ELSE 0 END) AS pp_len_ttr,
         sum(CASE WHEN (mask & 8) <> 0 AND (mask & 4) <> 0
                       AND (mask & 2) <> 0 THEN n ELSE 0 END)
           AS pp_len_ttr_mtl,
         sum(CASE WHEN (mask & 1) <> 0 THEN n ELSE 0 END) AS p_core,
         sum(CASE WHEN (mask & 1) <> 0 AND (mask & 4) <> 0
                  THEN n ELSE 0 END) AS pp_core_ttr,
         sum(CASE WHEN (mask & 1) <> 0 AND (mask & 4) <> 0
                       AND (mask & 2) <> 0 THEN n ELSE 0 END)
           AS pp_core_ttr_mtl
  FROM census
)
SELECT CAST(nn AS BIGINT) AS n_docs,
       CAST(1 * nn * nn * nn + p_len * 4 * nn * nn
            + pp_len_ttr * 4 * nn + pp_len_ttr_mtl * 8 AS BIGINT)
         AS naive_cost_n3,
       CAST(8 * nn * nn * nn + p_core * 4 * nn * nn
            + pp_core_ttr * 4 * nn + pp_core_ttr_mtl * 1 AS BIGINT)
         AS alt_cost_n3,
       CAST((CASE WHEN (1 * nn * nn * nn + p_len * 4 * nn * nn
                         + pp_len_ttr * 4 * nn + pp_len_ttr_mtl * 8)
                        >= (8 * nn * nn * nn + p_core * 4 * nn * nn
                            + pp_core_ttr * 4 * nn + pp_core_ttr_mtl * 1)
                  THEN 1 ELSE -1 END)
            * (abs((1 * nn * nn * nn + p_len * 4 * nn * nn
                    + pp_len_ttr * 4 * nn + pp_len_ttr_mtl * 8)
                   - (8 * nn * nn * nn + p_core * 4 * nn * nn
                      + pp_core_ttr * 4 * nn + pp_core_ttr_mtl * 1))
               * 1000000 // (1 * nn * nn * nn + p_len * 4 * nn * nn
                             + pp_len_ttr * 4 * nn + pp_len_ttr_mtl * 8))
            AS BIGINT) AS saving_ppm
FROM agg
"""


# q352: empirical copula dependence grid

def q352_copula_grid(spark, sf_dir):
    """Empirical copula dependence grid for (quantity, price): both
    lineitem measures are converted to RANKS (pinned total orders)
    and cut into quintiles, and the 5x5 joint census is compared to
    the UNIFORM expectation n/25 — which is exact by construction,
    because ranks make both marginals uniform: unlike the raw-value
    independence test (q308 needs marginal products), the copula
    grid isolates pure DEPENDENCE structure from the marginals.
    Residuals in exact cross-multiplied ppm ((obs·25 − n)·1e6 div n);
    the full 25-cell grid is emitted (the heatmap IS the artifact).

    Scale shape: two rank windows, one map-side quintile label pair,
    one 25-row census — the copula of a 10^12-row table costs two
    sorts."""
    li = _t(spark, sf_dir, "lineitem")
    base = li.select(
        "l_orderkey",
        "l_linenumber",
        F.expr("CAST(l_quantity AS BIGINT)").alias("q"),
        F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)").alias("p"),
    )
    # (l_orderkey, l_linenumber) is NOT unique in this corpus: the
    # tiebreak must include the OTHER measure so that any residual
    # ties are between rows with identical (q, p) — which land in the
    # same cell whichever order the engine picks.
    wq = Window.orderBy("q", "p", "l_orderkey", "l_linenumber")
    wp = Window.orderBy("p", "q", "l_orderkey", "l_linenumber")
    cells = (
        base.select(
            F.ntile(5).over(wq).cast("bigint").alias("qi"),
            F.ntile(5).over(wp).cast("bigint").alias("pi"),
        )
        .groupBy("qi", "pi")
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    tot = cells.agg(F.sum("obs").alias("n"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "qi",
            "pi",
            "obs",
            F.expr("((obs * 25 - n) * 1000000) div n")
            .cast("bigint")
            .alias("resid_ppm"),
        )
        .orderBy("qi", "pi")
    )


ORACLE_Q352 = """
WITH base AS (
  SELECT l_orderkey, l_linenumber,
         CAST(l_quantity AS BIGINT) AS q,
         CAST(round(l_extendedprice * 100) AS BIGINT) AS p
  FROM lineitem
),
cells AS (
  SELECT CAST(ntile(5) OVER (ORDER BY q, p, l_orderkey, l_linenumber)
              AS BIGINT) AS qi,
         CAST(ntile(5) OVER (ORDER BY p, q, l_orderkey, l_linenumber)
              AS BIGINT) AS pi
  FROM base
),
census AS (
  SELECT qi, pi, CAST(count(*) AS BIGINT) AS obs
  FROM cells GROUP BY qi, pi
),
tot AS (SELECT sum(obs) AS n FROM census)
SELECT qi, pi, obs,
       CAST(((obs * 25 - n) * 1000000) // n AS BIGINT) AS resid_ppm
FROM census, tot
ORDER BY qi, pi
"""


# q353: persistence-baseline activity forecast confusion

def q353_persistence_baseline(spark, sf_dir):
    """Persistence-baseline forecast audit for daily user activity:
    predict "user u is active on day d" by yesterday's state
    (active(d) := active(d−1)) over the DENSE user × day grid
    (absent day IS inactive — a sparse join would silently skip the
    true negatives and inflate accuracy), and report the full
    confusion matrix plus accuracy and the all-inactive base rate in
    exact ppm.  Persistence is the baseline every churn/activity
    model must beat (q319 gave forecasting its seasonal-naive floor;
    this gives classification its floor) — and the TN-dominance
    visible here is exactly why accuracy alone misleads.

    Scale shape: one distinct (user, day) projection, a generated
    user × day spine join, one lag window per user, one 4-cell
    fold."""
    ev = _t(spark, sf_dir, "events")
    active = ev.select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
        .alias("d"),
    ).distinct()
    bounds = active.agg(
        F.min("d").alias("d0"), F.max("d").alias("d1")
    )
    users = active.select("user_id").distinct()
    days = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    spine = users.join(days)
    dense = (
        spine.join(active.withColumn("a", F.lit(1)), ["user_id", "d"], "left")
        .na.fill({"a": 0})
    )
    w = Window.partitionBy("user_id").orderBy("d")
    scored = dense.select(
        "a", F.lag("a").over(w).alias("pred")
    ).where(F.col("pred").isNotNull())
    return scored.agg(
        F.sum(F.expr("CASE WHEN a = 1 AND pred = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("tp"),
        F.sum(F.expr("CASE WHEN a = 0 AND pred = 1 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("fp"),
        F.sum(F.expr("CASE WHEN a = 1 AND pred = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("fn"),
        F.sum(F.expr("CASE WHEN a = 0 AND pred = 0 THEN 1 ELSE 0 END"))
        .cast("bigint")
        .alias("tn"),
        F.expr(
            "(sum(CASE WHEN a = pred THEN 1 ELSE 0 END) * 1000000)"
            " div count(*)"
        ).cast("bigint").alias("accuracy_ppm"),
        F.expr(
            "(sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) * 1000000)"
            " div count(*)"
        ).cast("bigint").alias("all_inactive_base_ppm"),
    )


ORACLE_Q353 = """
WITH active AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
  FROM events
),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM active),
users AS (SELECT DISTINCT user_id FROM active),
days AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM bounds),
dense AS (
  SELECT users.user_id, days.d,
         CASE WHEN active.user_id IS NULL THEN 0 ELSE 1 END AS a
  FROM users CROSS JOIN days
  LEFT JOIN active ON active.user_id = users.user_id
                  AND active.d = days.d
),
scored AS (
  SELECT a, lag(a) OVER (PARTITION BY user_id ORDER BY d) AS pred
  FROM dense
)
SELECT CAST(sum(CASE WHEN a = 1 AND pred = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS tp,
       CAST(sum(CASE WHEN a = 0 AND pred = 1 THEN 1 ELSE 0 END)
            AS BIGINT) AS fp,
       CAST(sum(CASE WHEN a = 1 AND pred = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS fn,
       CAST(sum(CASE WHEN a = 0 AND pred = 0 THEN 1 ELSE 0 END)
            AS BIGINT) AS tn,
       CAST((sum(CASE WHEN a = pred THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS accuracy_ppm,
       CAST((sum(CASE WHEN a = 0 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS all_inactive_base_ppm
FROM scored WHERE pred IS NOT NULL
"""


# q354: V-shape pattern scan (MATCH_RECOGNIZE-lite)

def q354_vshape_pattern_scan(spark, sf_dir):
    """Row-pattern V-shape scan over the dense hourly event-count
    series: hours where the series fell strictly twice and rose
    strictly twice (x[t−2] > x[t−1] > x[t] < x[t+1] < x[t+2]) — the
    MATCH_RECOGNIZE pattern DOWN DOWN UP UP that Spark SQL lacks,
    emulated exactly with four lag/lead columns over the q300 dense
    spine (a silent hour IS zero, so a gap can legitimately be the
    bottom of a V).  Each match carries its depth (recovery+drop
    magnitude, exact) and the top-10 deepest Vs are emitted — the
    dip-detection primitive behind incident post-mortems and
    buy-the-dip analytics alike.

    Scale shape: one agg to the hourly series, spine densification,
    ONE window pass with ±2 offsets, one top-k sort at series
    scale."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        (F.unix_timestamp("ts") - (F.unix_timestamp("ts") % 3600))
        .cast("bigint")
        .alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = obs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("h")
    )
    hourly = spine.join(obs, "h", "left").na.fill({"x": 0})
    w = Window.orderBy("h")
    patt = hourly.select(
        "h",
        "x",
        F.lag("x", 2).over(w).alias("m2"),
        F.lag("x", 1).over(w).alias("m1"),
        F.lead("x", 1).over(w).alias("p1"),
        F.lead("x", 2).over(w).alias("p2"),
    ).where(
        F.col("m2").isNotNull()
        & F.col("p2").isNotNull()
        & (F.col("m2") > F.col("m1"))
        & (F.col("m1") > F.col("x"))
        & (F.col("x") < F.col("p1"))
        & (F.col("p1") < F.col("p2"))
    )
    return (
        patt.select(
            "h",
            "x",
            F.expr("(m2 - x) + (p2 - x)").cast("bigint").alias("depth"),
        )
        .orderBy(F.desc("depth"), "h")
        .limit(10)
    )


ORACLE_Q354 = """
WITH obs AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT)
          - CAST(floor(epoch(ts)) AS BIGINT) % 3600) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM obs),
spine AS (SELECT unnest(range(h0, h1 + 1, 3600)) AS h FROM b),
hourly AS (
  SELECT spine.h, coalesce(obs.x, 0) AS x
  FROM spine LEFT JOIN obs ON obs.h = spine.h
),
patt AS (
  SELECT h, x,
         lag(x, 2) OVER (ORDER BY h) AS m2,
         lag(x, 1) OVER (ORDER BY h) AS m1,
         lead(x, 1) OVER (ORDER BY h) AS p1,
         lead(x, 2) OVER (ORDER BY h) AS p2
  FROM hourly
)
SELECT h, x, CAST((m2 - x) + (p2 - x) AS BIGINT) AS depth
FROM patt
WHERE m2 IS NOT NULL AND p2 IS NOT NULL
  AND m2 > m1 AND m1 > x AND x < p1 AND p1 < p2
ORDER BY depth DESC, h
LIMIT 10
"""


# q355: Little's-law sampling-gap audit

def q355_littles_law_gap(spark, sf_dir):
    """Little's-law sampling audit: mean session concurrency measured
    two ways — EXACTLY (L = Σ session-durations / observation span,
    which equals λ·W by algebra) and the way a monitoring system
    actually measures it (sample the number of open sessions at each
    hour tick and average) — and the sampling gap between them in
    ppm.  The law itself cannot fail; what CAN fail, and what this
    audit prices, is the tick-sampled estimator every dashboard
    trusts.  Sessions are the 30-minute-gap kind (q350's middle
    knob); a tick counts sessions with start <= tick < end; all
    arithmetic exact integer / cross-multiplied.

    Scale shape: one lag pass to sessionize, one session-level agg;
    the tick census is a bounded interval join (ticks x open
    sessions) — q227's stabbing-count shape at spine scale."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    base = ev.select(
        "user_id", F.unix_timestamp("ts").alias("sec"), "event_id"
    ).withColumn(
        "new_sess",
        F.when(
            F.col("sec") - F.lag("sec").over(w) > 1800, 1
        ).otherwise(
            F.when(F.lag("sec").over(w).isNull(), 1).otherwise(0)
        ),
    ).withColumn(
        "sess_id",
        F.sum("new_sess").over(
            w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
        ),
    )
    sess = base.groupBy("user_id", "sess_id").agg(
        F.min("sec").alias("s0"), F.max("sec").alias("s1")
    )
    span = ev.agg(
        F.min(F.unix_timestamp("ts")).alias("t0"),
        F.max(F.unix_timestamp("ts")).alias("t1"),
    )
    exact = sess.crossJoin(F.broadcast(span)).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
        F.sum(F.col("s1") - F.col("s0")).cast("bigint").alias("total_dur"),
        F.max(F.expr("t1 - t0")).cast("bigint").alias("span_s"),
    )
    ticks = span.select(
        F.explode(
            F.sequence(
                "t0", "t1", F.lit(3600)
            )
        ).alias("tick")
    )
    sampled = (
        ticks.join(
            sess,
            (F.col("s0") <= F.col("tick")) & (F.col("tick") < F.col("s1")),
            "left",
        )
        .groupBy("tick")
        .agg(
            F.sum(F.when(F.col("s0").isNotNull(), 1).otherwise(0))
            .alias("open_n")
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_ticks"),
            F.sum("open_n").cast("bigint").alias("open_sum"),
        )
    )
    return exact.crossJoin(F.broadcast(sampled)).select(
        "n_sessions",
        F.expr("(total_dur * 1000) div span_s").cast("bigint")
        .alias("l_exact_milli"),
        F.expr("(open_sum * 1000) div n_ticks").cast("bigint")
        .alias("l_sampled_milli"),
        F.expr(
            "(CASE WHEN (open_sum * 1000) div n_ticks"
            " >= (total_dur * 1000) div span_s THEN 1 ELSE -1 END)"
            " * (abs((open_sum * 1000) div n_ticks"
            " - (total_dur * 1000) div span_s))"
        ).cast("bigint").alias("gap_milli"),
    )


ORACLE_Q355 = """
WITH base AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
         CASE WHEN CAST(floor(epoch(ts)) AS BIGINT)
                   - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                event_id) > 1800 THEN 1
              WHEN lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                       PARTITION BY user_id
                       ORDER BY CAST(floor(epoch(ts)) AS BIGINT),
                                event_id) IS NULL THEN 1
              ELSE 0 END AS new_sess
  FROM events
),
tagged AS (
  SELECT user_id, sec,
         sum(new_sess) OVER (PARTITION BY user_id
              ORDER BY sec, event_id
              ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS sess_id
  FROM base
),
sess AS (
  SELECT user_id, sess_id, min(sec) AS s0, max(sec) AS s1
  FROM tagged GROUP BY 1, 2
),
span AS (
  SELECT min(CAST(floor(epoch(ts)) AS BIGINT)) AS t0,
         max(CAST(floor(epoch(ts)) AS BIGINT)) AS t1
  FROM events
),
exact AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sessions,
         CAST(sum(s1 - s0) AS BIGINT) AS total_dur,
         CAST(max(t1 - t0) AS BIGINT) AS span_s
  FROM sess, span
),
ticks AS (SELECT unnest(range(t0, t1 + 1, 3600)) AS tick FROM span),
sampled AS (
  SELECT CAST(count(*) AS BIGINT) AS n_ticks,
         CAST(sum(open_n) AS BIGINT) AS open_sum
  FROM (
    SELECT tick,
           (SELECT count(*) FROM sess
            WHERE s0 <= tick AND tick < s1) AS open_n
    FROM ticks
  )
)
SELECT n_sessions,
       CAST((total_dur * 1000) // span_s AS BIGINT) AS l_exact_milli,
       CAST((open_sum * 1000) // n_ticks AS BIGINT) AS l_sampled_milli,
       CAST((CASE WHEN (open_sum * 1000) // n_ticks
                       >= (total_dur * 1000) // span_s
             THEN 1 ELSE -1 END)
            * abs((open_sum * 1000) // n_ticks
                  - (total_dur * 1000) // span_s) AS BIGINT)
         AS gap_milli
FROM exact, sampled
"""


# q356: dimension utilization census

def q356_dimension_utilization(spark, sf_dir):
    """Dimension-utilization census — the REVERSE of referential
    integrity (q152 checks that facts point at real dimension rows;
    this checks which dimension rows any fact ever points AT): per
    dimension, total members, referenced members, dead rows and
    utilization in exact ppm — the warehouse-hygiene number behind
    "can we archive half the part master?".  Five dimension/fact
    pairs audited in one census (customer←orders, part←lineitem,
    supplier←lineitem, nation←customer, region←nation).

    Scale shape: per pair one DISTINCT key projection of the fact
    side + one left-semi-counted dimension agg — dimension-scale
    output, fact side touched once per pair."""
    specs = [
        ("customer", "c_custkey", "orders", "o_custkey"),
        ("nation", "n_nationkey", "customer", "c_nationkey"),
        ("part", "p_partkey", "lineitem", "l_partkey"),
        ("region", "r_regionkey", "nation", "n_regionkey"),
        ("supplier", "s_suppkey", "lineitem", "l_suppkey"),
    ]
    out = None
    for dim, dkey, fact, fkey in specs:
        d = _t(spark, sf_dir, dim)
        f = _t(spark, sf_dir, fact).select(
            F.col(fkey).alias(dkey)
        ).distinct()
        row = (
            d.join(f, dkey, "left_semi")
            .agg(F.count(F.lit(1)).cast("bigint").alias("referenced"))
            .crossJoin(
                F.broadcast(
                    d.agg(F.count(F.lit(1)).cast("bigint").alias("total"))
                )
            )
            .select(
                F.lit(dim).alias("dimension"),
                "total",
                "referenced",
                (F.col("total") - F.col("referenced"))
                .cast("bigint")
                .alias("dead_rows"),
                F.expr("(referenced * 1000000) div total")
                .cast("bigint")
                .alias("utilization_ppm"),
            )
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("dimension")


ORACLE_Q356 = """
SELECT * FROM (
  SELECT 'customer' AS dimension,
         CAST((SELECT count(*) FROM customer) AS BIGINT) AS total,
         CAST(count(*) AS BIGINT) AS referenced,
         CAST((SELECT count(*) FROM customer) - count(*) AS BIGINT)
           AS dead_rows,
         CAST((count(*) * 1000000) // (SELECT count(*) FROM customer)
              AS BIGINT) AS utilization_ppm
  FROM customer WHERE c_custkey IN (SELECT o_custkey FROM orders)
  UNION ALL
  SELECT 'nation',
         (SELECT count(*) FROM nation), count(*),
         (SELECT count(*) FROM nation) - count(*),
         (count(*) * 1000000) // (SELECT count(*) FROM nation)
  FROM nation WHERE n_nationkey IN (SELECT c_nationkey FROM customer)
  UNION ALL
  SELECT 'part',
         (SELECT count(*) FROM part), count(*),
         (SELECT count(*) FROM part) - count(*),
         (count(*) * 1000000) // (SELECT count(*) FROM part)
  FROM part WHERE p_partkey IN (SELECT l_partkey FROM lineitem)
  UNION ALL
  SELECT 'region',
         (SELECT count(*) FROM region), count(*),
         (SELECT count(*) FROM region) - count(*),
         (count(*) * 1000000) // (SELECT count(*) FROM region)
  FROM region WHERE r_regionkey IN (SELECT n_regionkey FROM nation)
  UNION ALL
  SELECT 'supplier',
         (SELECT count(*) FROM supplier), count(*),
         (SELECT count(*) FROM supplier) - count(*),
         (count(*) * 1000000) // (SELECT count(*) FROM supplier)
  FROM supplier WHERE s_suppkey IN (SELECT l_suppkey FROM lineitem)
) ORDER BY dimension
"""


# q357: growth-accounting lifecycle state machine

def q357_growth_accounting(spark, sf_dir):
    """Daily growth-accounting census — the MAU-accounting identity
    every growth team reports: each active user-day is classed NEW
    (no prior activity), RESURRECTED (last activity more than 7 days
    ago) or RETAINED, and each inactive day flags NEWLY-DORMANT users
    (active yesterday, absent today); the quick ratio
    (new+resurrected)/dormant in milli closes the loop (q127 tracks a
    cohort's decay; this is the day-over-day flow decomposition).
    States are a pure window function of the DENSE user×day grid
    (q353's spine — absence is data): prev_last = max prior active
    day, one window, no state machine code.

    Scale shape: dense spine join, ONE per-user window pass, one
    per-day census agg — day-count rows out."""
    ev = _t(spark, sf_dir, "events")
    active = ev.select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
        .alias("d"),
    ).distinct()
    bounds = active.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    users = active.select("user_id").distinct()
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    dense = (
        users.join(days)
        .join(active.withColumn("a", F.lit(1)), ["user_id", "d"], "left")
        .na.fill({"a": 0})
    )
    w = (
        Window.partitionBy("user_id")
        .orderBy("d")
        .rowsBetween(Window.unboundedPreceding, -1)
    )
    st = dense.withColumn(
        "prev_last",
        F.max(F.when(F.col("a") == 1, F.col("d"))).over(w),
    ).select(
        "d",
        F.when(
            (F.col("a") == 1) & F.col("prev_last").isNull(), "new"
        )
        .when(
            (F.col("a") == 1) & (F.col("d") - F.col("prev_last") > 7),
            "resurrected",
        )
        .when(F.col("a") == 1, "retained")
        .when(
            (F.col("a") == 0) & (F.col("prev_last") == F.col("d") - 1),
            "newly_dormant",
        )
        .otherwise(None)
        .alias("state"),
    ).where(F.col("state").isNotNull())
    census = st.groupBy("d").agg(
        F.sum(F.when(F.col("state") == "new", 1).otherwise(0))
        .cast("bigint")
        .alias("n_new"),
        F.sum(F.when(F.col("state") == "retained", 1).otherwise(0))
        .cast("bigint")
        .alias("n_retained"),
        F.sum(F.when(F.col("state") == "resurrected", 1).otherwise(0))
        .cast("bigint")
        .alias("n_resurrected"),
        F.sum(F.when(F.col("state") == "newly_dormant", 1).otherwise(0))
        .cast("bigint")
        .alias("n_dormant"),
    )
    return census.select(
        "d",
        "n_new",
        "n_retained",
        "n_resurrected",
        "n_dormant",
        F.expr(
            "CASE WHEN n_dormant = 0 THEN NULL"
            " ELSE ((n_new + n_resurrected) * 1000) div n_dormant END"
        ).cast("bigint").alias("quick_ratio_milli"),
    ).orderBy("d")


ORACLE_Q357 = """
WITH active AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
  FROM events
),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM active),
users AS (SELECT DISTINCT user_id FROM active),
days AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM bounds),
dense AS (
  SELECT users.user_id, days.d,
         CASE WHEN active.user_id IS NULL THEN 0 ELSE 1 END AS a
  FROM users CROSS JOIN days
  LEFT JOIN active ON active.user_id = users.user_id
                  AND active.d = days.d
),
st AS (
  SELECT d,
         CASE WHEN a = 1 AND prev_last IS NULL THEN 'new'
              WHEN a = 1 AND d - prev_last > 7 THEN 'resurrected'
              WHEN a = 1 THEN 'retained'
              WHEN a = 0 AND prev_last = d - 1 THEN 'newly_dormant'
         END AS state
  FROM (
    SELECT user_id, d, a,
           max(CASE WHEN a = 1 THEN d END) OVER (
             PARTITION BY user_id ORDER BY d
             ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
             AS prev_last
    FROM dense
  )
  WHERE state IS NOT NULL
),
census AS (
  SELECT d,
         CAST(sum(CASE WHEN state = 'new' THEN 1 ELSE 0 END) AS BIGINT)
           AS n_new,
         CAST(sum(CASE WHEN state = 'retained' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_retained,
         CAST(sum(CASE WHEN state = 'resurrected' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_resurrected,
         CAST(sum(CASE WHEN state = 'newly_dormant' THEN 1 ELSE 0 END)
              AS BIGINT) AS n_dormant
  FROM st GROUP BY d
)
SELECT d, n_new, n_retained, n_resurrected, n_dormant,
       CAST(CASE WHEN n_dormant = 0 THEN NULL
            ELSE ((n_new + n_resurrected) * 1000) // n_dormant END
            AS BIGINT) AS quick_ratio_milli
FROM census ORDER BY d
"""


# q358: category attach-rate matrix

def q358_attach_rate_matrix(spark, sf_dir):
    """Category attach-rate matrix at the order grain: for every
    ordered pair of part categories (partkey mod 8 — the corpus's
    deterministic category proxy), the conditional attach rate
    P(order contains B | contains A) in exact ppm and the lift
    against the unconditional rate — the cross-sell table a
    merchandiser reads ("orders with category 3 attach category 5 at
    1.4x base").  Item-grain rules (q258) starve on sparse pairs;
    the category grain is where attach economics actually have
    support.  All comparisons cross-multiplied; diagonal excluded.

    Scale shape: one DISTINCT (order, category) projection, one
    bounded self-join on the order key (<=8 categories per order),
    category-pair-scale aggregates."""
    li = _t(spark, sf_dir, "lineitem")
    oc = li.select(
        "l_orderkey", (F.col("l_partkey") % 8).cast("bigint").alias("cat")
    ).distinct()
    n_orders = oc.agg(
        F.countDistinct("l_orderkey").cast("bigint").alias("no")
    )
    base = oc.groupBy("cat").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_with")
    )
    a, b = oc.alias("a"), oc.alias("b")
    pairs = (
        a.join(
            b,
            (F.col("a.l_orderkey") == F.col("b.l_orderkey"))
            & (F.col("a.cat") != F.col("b.cat")),
        )
        .groupBy(
            F.col("a.cat").alias("cat_a"), F.col("b.cat").alias("cat_b")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_both"))
    )
    return (
        pairs.join(
            F.broadcast(base.withColumnRenamed("cat", "cat_a")
                        .withColumnRenamed("n_with", "n_a")),
            "cat_a",
        )
        .join(
            F.broadcast(base.withColumnRenamed("cat", "cat_b")
                        .withColumnRenamed("n_with", "n_b")),
            "cat_b",
        )
        .crossJoin(F.broadcast(n_orders))
        .select(
            "cat_a",
            "cat_b",
            "n_both",
            F.expr("(n_both * 1000000) div n_a").cast("bigint")
            .alias("attach_ppm"),
            F.expr("(n_both * no * 1000) div (n_a * n_b)")
            .cast("bigint")
            .alias("lift_milli"),
        )
        .orderBy("cat_a", "cat_b")
    )


ORACLE_Q358 = """
WITH oc AS (
  SELECT DISTINCT l_orderkey, CAST(l_partkey % 8 AS BIGINT) AS cat
  FROM lineitem
),
n_orders AS (SELECT count(DISTINCT l_orderkey) AS no FROM oc),
base AS (SELECT cat, CAST(count(*) AS BIGINT) AS n_with FROM oc GROUP BY cat),
pairs AS (
  SELECT a.cat AS cat_a, b.cat AS cat_b,
         CAST(count(*) AS BIGINT) AS n_both
  FROM oc a JOIN oc b
    ON a.l_orderkey = b.l_orderkey AND a.cat <> b.cat
  GROUP BY 1, 2
)
SELECT cat_a, cat_b, n_both,
       CAST((n_both * 1000000) // ba.n_with AS BIGINT) AS attach_ppm,
       CAST((n_both * no * 1000) // (ba.n_with * bb.n_with) AS BIGINT)
         AS lift_milli
FROM pairs
JOIN base ba ON ba.cat = cat_a
JOIN base bb ON bb.cat = cat_b, n_orders
ORDER BY cat_a, cat_b
"""


# q359: quantile treatment effect table

def q359_quantile_treatment_effects(spark, sf_dir):
    """Quantile treatment effect (QTE) table: the order-value
    DISTRIBUTION of odd-customer orders versus even-customer orders
    compared at the nine deciles — exact rank-pinned order statistics
    per group, differenced in cents — the distributional effect
    readout that a mean comparison (q296's DiD) cannot give: a
    treatment can move the tail and leave the mean alone, and the
    QTE table is where that shows.  Decile ranks are
    max(1, (n·k) div 10) per group — identical integer law in both
    engines; no interpolation (interpolated quantiles are float-
    order-sensitive; order statistics are not).

    Scale shape: two partitioned rank windows (one per group within
    a single window by grouping key), one 9-row spine join per group,
    one pivot to the 9-row QTE table."""
    orders = _t(spark, sf_dir, "orders")
    vals = orders.select(
        (F.col("o_custkey") % 2 == 1).alias("treated"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c"),
        "o_orderkey",
    )
    w = Window.partitionBy("treated").orderBy("c", "o_orderkey")
    wn = Window.partitionBy("treated")
    ranked = vals.select(
        "treated",
        "c",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    ks = spark.range(1, 10).select(F.col("id").cast("bigint").alias("k"))
    picks = (
        ranked.join(
            F.broadcast(ks),
            F.col("rk") == F.expr("greatest(CAST(1 AS BIGINT), (n * k) div 10)"),
        )
        .groupBy("k")
        .agg(
            F.max(F.when(~F.col("treated"), F.col("c"))).alias("q_even"),
            F.max(F.when(F.col("treated"), F.col("c"))).alias("q_odd"),
        )
    )
    return picks.select(
        "k",
        F.col("q_even").cast("bigint").alias("q_even_cents"),
        F.col("q_odd").cast("bigint").alias("q_odd_cents"),
        (F.col("q_odd") - F.col("q_even")).cast("bigint").alias("qte_cents"),
    ).orderBy("k")


ORACLE_Q359 = """
WITH vals AS (
  SELECT (o_custkey % 2 = 1) AS treated,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c,
         o_orderkey
  FROM orders
),
ranked AS (
  SELECT treated, c,
         CAST(row_number() OVER (PARTITION BY treated
                                 ORDER BY c, o_orderkey) AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY treated) AS BIGINT) AS n
  FROM vals
),
picks AS (
  SELECT k.range AS k,
         max(CASE WHEN NOT treated THEN c END) AS q_even,
         max(CASE WHEN treated THEN c END) AS q_odd
  FROM ranked, range(1, 10) k
  WHERE rk = greatest(CAST(1 AS BIGINT), (n * k.range) // 10)
  GROUP BY k.range
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(q_even AS BIGINT) AS q_even_cents,
       CAST(q_odd AS BIGINT) AS q_odd_cents,
       CAST(q_odd - q_even AS BIGINT) AS qte_cents
FROM picks ORDER BY k
"""


# q360: Pareto front peeling (3 layers)

def q360_pareto_front_peeling(spark, sf_dir):
    """Three-layer Pareto front peeling over the supplier
    (return-rate, ship-lag) plane — both objectives minimized — the
    NSGA-style layered ranking that answers "and who is efficient
    once the first-rank suppliers are taken?" (q128 extracts ONE
    skyline; procurement short-lists need depth).  Each peel is the
    O(n log n) sweep, not the O(n²) dominance join: sorted by
    (ret, lag), a point is dominated iff the min lag over STRICTLY
    smaller ret (a RANGE frame — integer strictness for free) is <=
    its lag, or a same-ret point has strictly smaller lag; duplicate
    (ret, lag) points are mutually non-dominated and share a layer.
    Three SYNCHRONOUS peels, localCheckpoint'ed (q289's fixed-round
    discipline).

    Scale shape: per peel one sort + two window minima over the
    SUPPLIER relation — dimension-scale; the fact table is touched
    once for the metrics."""
    li = _t(spark, sf_dir, "lineitem")
    orders = _t(spark, sf_dir, "orders")
    base = (
        li.join(orders, li.l_orderkey == orders.o_orderkey)
        .groupBy("l_suppkey")
        .agg(
            F.expr(
                "(sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END)"
                " * 1000000) div count(*)"
            ).alias("ret_ppm"),
            F.expr(
                "sum(datediff(l_shipdate, o_orderdate)) div count(*)"
            ).alias("lag_days"),
        )
        .localCheckpoint(eager=True)
    )
    remaining = base
    out = None
    for layer in (1, 2, 3):
        wstrict = (
            Window.orderBy("ret_ppm")
            .rangeBetween(Window.unboundedPreceding, -1)
        )
        wsame = (
            Window.partitionBy("ret_ppm")
            .orderBy("lag_days")
            .rowsBetween(Window.unboundedPreceding, -1)
        )
        marked = remaining.select(
            "l_suppkey",
            "ret_ppm",
            "lag_days",
            F.min("lag_days").over(wstrict).alias("m_strict"),
            F.min("lag_days").over(wsame).alias("m_same"),
        )
        front = marked.where(
            (F.col("m_strict").isNull() | (F.col("m_strict") > F.col("lag_days")))
            & (F.col("m_same").isNull() | (F.col("m_same") >= F.col("lag_days")))
        ).select("l_suppkey", "ret_ppm", "lag_days")
        row = front.select(
            F.lit(layer).cast("bigint").alias("layer"),
            F.col("l_suppkey").cast("bigint").alias("suppkey"),
            F.col("ret_ppm").cast("bigint").alias("ret_ppm"),
            F.col("lag_days").cast("bigint").alias("lag_days"),
        )
        out = row if out is None else out.unionByName(row)
        remaining = remaining.join(
            front.select("l_suppkey"), "l_suppkey", "left_anti"
        ).localCheckpoint(eager=True)
    return out.orderBy("layer", "suppkey")


def _oracle_q360():
    head = """
WITH base AS (
  SELECT l_suppkey,
         CAST((sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) * 1000000)
              // count(*) AS BIGINT) AS ret_ppm,
         CAST(sum(datediff('day', o_orderdate, l_shipdate)) // count(*)
              AS BIGINT) AS lag_days
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  GROUP BY l_suppkey
)"""
    parts = []
    prev = "base"
    for layer in (1, 2, 3):
        parts.append(f""",
m{layer} AS (
  SELECT l_suppkey, ret_ppm, lag_days,
         min(lag_days) OVER (ORDER BY ret_ppm
              RANGE BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS m_strict,
         min(lag_days) OVER (PARTITION BY ret_ppm ORDER BY lag_days
              ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING)
           AS m_same
  FROM {prev}
),
f{layer} AS (
  SELECT l_suppkey, ret_ppm, lag_days FROM m{layer}
  WHERE (m_strict IS NULL OR m_strict > lag_days)
    AND (m_same IS NULL OR m_same >= lag_days)
),
r{layer} AS (
  SELECT * FROM {prev}
  WHERE l_suppkey NOT IN (SELECT l_suppkey FROM f{layer})
)""")
        prev = f"r{layer}"
    tail = """
SELECT * FROM (
  SELECT CAST(1 AS BIGINT) AS layer, CAST(l_suppkey AS BIGINT) AS suppkey,
         CAST(ret_ppm AS BIGINT) AS ret_ppm,
         CAST(lag_days AS BIGINT) AS lag_days FROM f1
  UNION ALL
  SELECT 2, l_suppkey, ret_ppm, lag_days FROM f2
  UNION ALL
  SELECT 3, l_suppkey, ret_ppm, lag_days FROM f3
) ORDER BY layer, suppkey
"""
    return head + "".join(parts) + tail


# q361: calendar-adjusted monthly growth

def q361_calendar_adjusted_growth(spark, sf_dir):
    """Calendar-adjusted month-over-month growth: raw monthly revenue
    growth versus growth per BUSINESS DAY (the q303 closed-form
    weekday count applied to each month's span) — compared by exact
    cross-multiplication (rev_m·bd_{m−1} vs rev_{m−1}·bd_m), with a
    flag for months where ADJUSTING FLIPS THE SIGN of the growth
    story — the classic finance gotcha (a 21-business-day month
    "declining" against a 23-day month is often growth in disguise).
    No division anywhere in the comparison.

    Scale shape: one month agg of the fact table; business days are
    O(1) closed-form per month; the MoM join is month-scale."""
    orders = _t(spark, sf_dir, "orders")
    lut = "array(0, 1, 2, 2, 2, 3, 4, 5)"
    wfun = lambda col: (  # noqa: E731
        f"(CAST(({col}) AS BIGINT) div 7) * 5"
        f" + element_at({lut}, CAST(({col}) % 7 AS INT) + 1)"
    )
    monthly = orders.groupBy(
        F.expr("year(o_orderdate) * 12 + month(o_orderdate)")
        .cast("bigint")
        .alias("m"),
        F.expr("trunc(o_orderdate, 'MM')").alias("m_start"),
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .alias("rev"),
    ).select(
        "m",
        "rev",
        F.expr(
            "(" + wfun("datediff(add_months(m_start, 1), DATE'1970-01-01')")
            + ") - ("
            + wfun("datediff(m_start, DATE'1970-01-01')") + ")"
        ).cast("bigint").alias("bd"),
    )
    a, b = monthly.alias("a"), monthly.alias("b")
    return (
        a.join(b, F.col("b.m") == F.col("a.m") - 1)
        .select(
            F.col("a.m").alias("m"),
            F.col("a.rev").cast("bigint").alias("rev"),
            F.col("a.bd").cast("bigint").alias("biz_days"),
            F.expr(
                "CASE WHEN a.rev > b.rev THEN 1"
                " WHEN a.rev < b.rev THEN -1 ELSE 0 END"
            ).cast("bigint").alias("raw_sign"),
            F.expr(
                "CASE WHEN a.rev * b.bd > b.rev * a.bd THEN 1"
                " WHEN a.rev * b.bd < b.rev * a.bd THEN -1 ELSE 0 END"
            ).cast("bigint").alias("adjusted_sign"),
        )
        .withColumn(
            "sign_flipped", F.col("raw_sign") != F.col("adjusted_sign")
        )
        .orderBy("m")
    )


ORACLE_Q361 = """
WITH monthly AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         date_trunc('month', o_orderdate) AS m_start,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1, 2
),
bdm AS (
  SELECT m, rev,
         ((CAST(datediff('day', DATE '1970-01-01',
                m_start + INTERVAL 1 MONTH) AS BIGINT)) // 7) * 5
         + ([0, 1, 2, 2, 2, 3, 4, 5])[
             CAST(CAST(datediff('day', DATE '1970-01-01',
                  m_start + INTERVAL 1 MONTH) AS BIGINT) % 7 AS INT) + 1]
         - ((CAST(datediff('day', DATE '1970-01-01', m_start)
              AS BIGINT)) // 7) * 5
         - ([0, 1, 2, 2, 2, 3, 4, 5])[
             CAST(CAST(datediff('day', DATE '1970-01-01', m_start)
                  AS BIGINT) % 7 AS INT) + 1]
         AS bd
  FROM monthly
)
SELECT a.m, CAST(a.rev AS BIGINT) AS rev,
       CAST(a.bd AS BIGINT) AS biz_days,
       CAST(CASE WHEN a.rev > b.rev THEN 1
                 WHEN a.rev < b.rev THEN -1 ELSE 0 END AS BIGINT)
         AS raw_sign,
       CAST(CASE WHEN a.rev * b.bd > b.rev * a.bd THEN 1
                 WHEN a.rev * b.bd < b.rev * a.bd THEN -1 ELSE 0 END
            AS BIGINT) AS adjusted_sign,
       (CASE WHEN a.rev > b.rev THEN 1
             WHEN a.rev < b.rev THEN -1 ELSE 0 END)
       <> (CASE WHEN a.rev * b.bd > b.rev * a.bd THEN 1
                WHEN a.rev * b.bd < b.rev * a.bd THEN -1 ELSE 0 END)
         AS sign_flipped
FROM bdm a JOIN bdm b ON b.m = a.m - 1
ORDER BY a.m
"""


# q362: transition-matrix stationarity audit

def q362_transition_stationarity(spark, sf_dir):
    """Behavioral-dynamics stationarity audit: each user's event
    stream is split at its midpoint, transition counts are built per
    half (the q336 succession construction), and for every FROM-state
    the total-variation distance between the first-half and
    second-half next-state distributions is computed in exact
    cross-multiplied integers — TV_num(a) = Σ_b |c1(a,b)·R2(a) −
    c2(a,b)·R1(a)|, tv_ppm = TV_num·1e6 div (2·R1·R2).  q129 reports
    ONE transition matrix; this asks whether that matrix is even
    well-defined (a Markov model fitted to drifting dynamics is
    fiction).  States missing from either half are excluded by
    predicate with their absence visible in the row counts.

    Scale shape: one per-user rank to split halves, one lag pass per
    half membership, one (half, a, b) agg — everything after is
    25-cell arithmetic."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    wn = Window.partitionBy("user_id")
    tagged = ev.select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.row_number().over(w).alias("rk"),
        F.count(F.lit(1)).over(wn).alias("nu"),
    ).select(
        "user_id",
        "ts",
        "event_id",
        "event_type",
        F.when(F.col("rk") * 2 <= F.col("nu"), 1).otherwise(2).alias("half"),
    )
    wh = Window.partitionBy("user_id", "half").orderBy("ts", "event_id")
    big = (
        tagged.select(
            "half",
            F.col("event_type").alias("a"),
            F.lead("event_type").over(wh).alias("b"),
        )
        .where(F.col("b").isNotNull())
        .groupBy("half", "a", "b")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    c1 = big.where(F.col("half") == 1).select(
        "a", "b", F.col("c").alias("c1")
    )
    c2 = big.where(F.col("half") == 2).select(
        "a", "b", F.col("c").alias("c2")
    )
    cells = c1.join(c2, ["a", "b"], "full").na.fill({"c1": 0, "c2": 0})
    rows_ = cells.groupBy("a").agg(
        F.sum("c1").alias("r1"), F.sum("c2").alias("r2")
    )
    return (
        cells.join(rows_, "a")
        .where((F.col("r1") > 0) & (F.col("r2") > 0))
        .groupBy("a", "r1", "r2")
        .agg(
            F.sum(
                F.abs(F.col("c1") * F.col("r2") - F.col("c2") * F.col("r1"))
            ).alias("tv_num")
        )
        .select(
            F.col("a").alias("from_state"),
            F.col("r1").cast("bigint").alias("n_first"),
            F.col("r2").cast("bigint").alias("n_second"),
            F.expr("(tv_num * 1000000) div (2 * r1 * r2)")
            .cast("bigint")
            .alias("tv_ppm"),
        )
        .orderBy("from_state")
    )


ORACLE_Q362 = """
WITH tagged AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN rk * 2 <= nu THEN 1 ELSE 2 END AS half
  FROM (
    SELECT user_id, ts, event_id, event_type,
           row_number() OVER (PARTITION BY user_id
                              ORDER BY ts, event_id) AS rk,
           count(*) OVER (PARTITION BY user_id) AS nu
    FROM events
  )
),
big AS (
  SELECT half, a, b, count(*) AS c FROM (
    SELECT half, event_type AS a,
           lead(event_type) OVER (PARTITION BY user_id, half
                                  ORDER BY ts, event_id) AS b
    FROM tagged
  ) WHERE b IS NOT NULL GROUP BY 1, 2, 3
),
cells AS (
  SELECT coalesce(c1.a, c2.a) AS a, coalesce(c1.b, c2.b) AS b,
         coalesce(c1.c, 0) AS c1, coalesce(c2.c, 0) AS c2
  FROM (SELECT a, b, c FROM big WHERE half = 1) c1
  FULL JOIN (SELECT a, b, c FROM big WHERE half = 2) c2
    ON c1.a = c2.a AND c1.b = c2.b
),
rows_ AS (
  SELECT a, sum(c1) AS r1, sum(c2) AS r2 FROM cells GROUP BY a
)
SELECT cells.a AS from_state,
       CAST(r1 AS BIGINT) AS n_first,
       CAST(r2 AS BIGINT) AS n_second,
       CAST((sum(abs(c1 * r2 - c2 * r1)) * 1000000) // (2 * r1 * r2)
            AS BIGINT) AS tv_ppm
FROM cells JOIN rows_ ON cells.a = rows_.a
WHERE r1 > 0 AND r2 > 0
GROUP BY cells.a, r1, r2
ORDER BY from_state
"""


# q363: historical VaR and expected shortfall

def q363_var_expected_shortfall(spark, sf_dir):
    """Historical Value-at-Risk and Expected Shortfall of daily
    revenue: the 5th-percentile worst day (VaR, an exact rank-pinned
    order statistic) and the mean of the days at or below it (ES —
    the coherent tail measure Basel moved to precisely because VaR
    ignores how bad the tail is).  Both in exact cents: ES is a
    truncating integer mean over the exact tail set, never an
    interpolated percentile.  q275 measures PATH risk (drawdown);
    this is DISTRIBUTION risk — the pair a revenue-risk dashboard
    shows side by side.

    Scale shape: one day agg, one global sort, one rank pick, one
    tail fold — two passes over a day-count-sized series."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)")
        .alias("d")
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .alias("rev")
    )
    w = Window.orderBy("rev", "d")
    ranked = daily.select(
        "d", "rev", F.row_number().over(w).cast("bigint").alias("rk")
    )
    n_ = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    var_rank = F.expr("greatest(CAST(1 AS BIGINT), (n * 5) div 100)")
    picks = ranked.crossJoin(F.broadcast(n_))
    var_row = picks.where(F.col("rk") == var_rank).select(
        F.col("rev").alias("var_cents"), F.col("rk").alias("k")
    )
    tail = (
        picks.crossJoin(F.broadcast(var_row.select("k")))
        .where(F.col("rk") <= F.col("k"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_tail"),
            F.expr("sum(rev) div count(*)").cast("bigint").alias("es_cents"),
        )
    )
    return (
        n_.crossJoin(F.broadcast(var_row.select("var_cents")))
        .crossJoin(F.broadcast(tail))
        .select(
            F.col("n").alias("n_days"),
            F.col("var_cents").cast("bigint").alias("var95_cents"),
            "n_tail",
            "es_cents",
        )
    )


ORACLE_Q363 = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS d,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1
),
ranked AS (
  SELECT d, rev,
         CAST(row_number() OVER (ORDER BY rev, d) AS BIGINT) AS rk
  FROM daily
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
var_row AS (
  SELECT rev AS var_cents, rk AS k
  FROM ranked, n_
  WHERE rk = greatest(CAST(1 AS BIGINT), (n * 5) // 100)
),
tail AS (
  SELECT CAST(count(*) AS BIGINT) AS n_tail,
         CAST(sum(rev) // count(*) AS BIGINT) AS es_cents
  FROM ranked, var_row WHERE rk <= k
)
SELECT n AS n_days, CAST(var_cents AS BIGINT) AS var95_cents,
       n_tail, es_cents
FROM n_, var_row, tail
"""


# q364: synthetic-control-lite lift estimate

def q364_synthetic_control(spark, sf_dir):
    """Synthetic-control-lite lift estimate: region 0 is 'treated',
    the other regions' pooled monthly order count is the donor
    control, the control is SCALED by the pre-period ratio (so it
    tracks the treated unit's level by construction), and the
    post-period lift is the cross-multiplied comparison
    treated_post·control_pre vs control_post·treated_pre — in exact
    ppm with no float ratio anywhere.  This is the Abadie-style
    comparative-case method reduced to its exactly-computable core,
    and the fourth causal design in the catalog (q296 DiD assumes
    parallel trends; synthetic control BUILDS the parallel unit).
    Pre = the first half of the month range (a pure function of the
    data).

    Scale shape: one (region-class, month) agg, two scalar folds —
    month-scale everything after the first shuffle."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    tagged = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select(
            (F.col("n_regionkey") == 0).alias("treated"),
            F.expr("year(o_orderdate) * 12 + month(o_orderdate)")
            .cast("bigint")
            .alias("m"),
        )
    )
    bounds = tagged.agg(
        F.expr("(min(m) + max(m)) div 2").cast("bigint").alias("mid")
    )
    folded = tagged.crossJoin(F.broadcast(bounds)).agg(
        F.sum(F.when(F.col("treated") & (F.col("m") <= F.col("mid")), 1)
              .otherwise(0)).cast("bigint").alias("t_pre"),
        F.sum(F.when(F.col("treated") & (F.col("m") > F.col("mid")), 1)
              .otherwise(0)).cast("bigint").alias("t_post"),
        F.sum(F.when(~F.col("treated") & (F.col("m") <= F.col("mid")), 1)
              .otherwise(0)).cast("bigint").alias("c_pre"),
        F.sum(F.when(~F.col("treated") & (F.col("m") > F.col("mid")), 1)
              .otherwise(0)).cast("bigint").alias("c_post"),
    )
    return folded.select(
        "t_pre",
        "t_post",
        "c_pre",
        "c_post",
        F.expr(
            "(CASE WHEN t_post * c_pre >= c_post * t_pre THEN 1"
            " ELSE -1 END)"
            " * (abs(t_post * c_pre - c_post * t_pre) * 1000000"
            " div (c_post * t_pre))"
        ).cast("bigint").alias("lift_ppm"),
    )


ORACLE_Q364 = """
WITH tagged AS (
  SELECT (n_regionkey = 0) AS treated,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
),
bounds AS (SELECT (min(m) + max(m)) // 2 AS mid FROM tagged),
folded AS (
  SELECT CAST(sum(CASE WHEN treated AND m <= mid THEN 1 ELSE 0 END)
              AS BIGINT) AS t_pre,
         CAST(sum(CASE WHEN treated AND m > mid THEN 1 ELSE 0 END)
              AS BIGINT) AS t_post,
         CAST(sum(CASE WHEN NOT treated AND m <= mid THEN 1 ELSE 0 END)
              AS BIGINT) AS c_pre,
         CAST(sum(CASE WHEN NOT treated AND m > mid THEN 1 ELSE 0 END)
              AS BIGINT) AS c_post
  FROM tagged, bounds
)
SELECT t_pre, t_post, c_pre, c_post,
       CAST((CASE WHEN t_post * c_pre >= c_post * t_pre THEN 1
             ELSE -1 END)
            * (abs(t_post * c_pre - c_post * t_pre) * 1000000
               // (c_post * t_pre)) AS BIGINT) AS lift_ppm
FROM folded
"""


# q365: rare-token run (gibberish span) detector

def q365_rare_token_runs(spark, sf_dir):
    """Rare-token RUN detector: per document, the longest consecutive
    streak of tokens whose corpus frequency falls below the median
    token frequency — a long run of uniformly rare tokens is the
    signature of OCR garbage, base64 blobs and mangled encodings that
    per-doc AGGREGATE rarity scores (q87) dilute away (one bad
    paragraph in a good doc barely moves a mean; it owns the max
    run).  Runs are the gaps-and-islands construction on the token
    POSITION stream (island id = position minus rank-among-rare);
    the rarity threshold is the exact rank-pinned median corpus
    frequency.  Top-20 docs by (run desc, doc_id).

    Scale shape: one token-count agg, the median by rank over the
    VOCABULARY (metadata-scale), a broadcast rarity flag joined onto
    the position stream, one per-doc islands window, one max agg."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    stream = docs.select(
        "doc_id", "lang", F.posexplode(toks).alias("p", "tok")
    )
    vocab = stream.groupBy("tok").agg(F.count(F.lit(1)).alias("c"))
    vw = Window.orderBy("c", "tok")
    vn = vocab.agg(F.count(F.lit(1)).cast("bigint").alias("nv"))
    med = (
        vocab.withColumn("rk", F.row_number().over(vw))
        .crossJoin(F.broadcast(vn))
        .where(F.col("rk") == F.expr("(nv + 1) div 2"))
        .select(F.col("c").alias("med_c"))
    )
    rare = (
        vocab.crossJoin(F.broadcast(med))
        .where(F.col("c") < F.col("med_c"))
        .select("tok")
    )
    flagged = stream.join(F.broadcast(rare), "tok", "left_semi")
    iw = Window.partitionBy("doc_id").orderBy("p")
    runs = (
        flagged.withColumn(
            "isl", F.col("p") - F.row_number().over(iw)
        )
        .groupBy("doc_id", "lang", "isl")
        .agg(F.count(F.lit(1)).cast("bigint").alias("run_len"))
        .groupBy("doc_id", "lang")
        .agg(
            F.max("run_len").cast("bigint").alias("max_run"),
            F.sum("run_len").cast("bigint").alias("n_rare_tokens"),
        )
    )
    return runs.orderBy(F.desc("max_run"), "doc_id").limit(20)


ORACLE_Q365 = """
WITH stream AS (
  SELECT doc_id, lang, generate_subscripts(ts, 1) - 1 AS p,
         unnest(ts) AS tok
  FROM (
    SELECT doc_id, lang,
           list_filter(string_split_regex(lower(text), '\\s+'),
                       t -> t <> '') AS ts
    FROM documents
  )
),
vocab AS (SELECT tok, count(*) AS c FROM stream GROUP BY tok),
vn AS (SELECT CAST(count(*) AS BIGINT) AS nv FROM vocab),
med AS (
  SELECT c AS med_c FROM (
    SELECT c, row_number() OVER (ORDER BY c, tok) AS rk FROM vocab
  ), vn WHERE rk = (nv + 1) // 2
),
rare AS (SELECT tok FROM vocab, med WHERE c < med_c),
flagged AS (
  SELECT stream.doc_id, stream.lang, stream.p
  FROM stream JOIN rare USING (tok)
),
runs AS (
  SELECT doc_id, lang,
         CAST(max(run_len) AS BIGINT) AS max_run,
         CAST(sum(run_len) AS BIGINT) AS n_rare_tokens
  FROM (
    SELECT doc_id, lang, isl, count(*) AS run_len FROM (
      SELECT doc_id, lang, p,
             p - row_number() OVER (PARTITION BY doc_id ORDER BY p)
               AS isl
      FROM flagged
    ) GROUP BY 1, 2, 3
  ) GROUP BY 1, 2
)
SELECT doc_id, lang, max_run, n_rare_tokens
FROM runs
ORDER BY max_run DESC, doc_id
LIMIT 20
"""


# q366: panel lag-1 persistence coefficient

def q366_panel_persistence(spark, sf_dir):
    """Pooled within-user lag-1 persistence of daily activity: the
    Pearson correlation over all (x_{u,t-1}, x_{u,t}) pairs on the
    dense user×day grid — the PANEL version of q259's single-series
    ACF, and the number that says whether individual behavior is
    sticky day-over-day (q259 can show strong corpus-level rhythm
    while individuals are memoryless; the panel coefficient cannot
    be fooled that way).  The five moments are exact BIGINTs; r in
    milli via the one-sqrt pinned expression (q291 discipline).
    Adjacent-day pairs only — the grid guarantees calendar
    adjacency, so no gap can masquerade as a lag.

    Scale shape: dense spine join, one per-user lag window, one
    map-side moment fold — a single number from a user×day relation."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = counts.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    users = counts.select("user_id").distinct()
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    dense = (
        users.join(days)
        .join(counts, ["user_id", "d"], "left")
        .na.fill({"x": 0})
    )
    w = Window.partitionBy("user_id").orderBy("d")
    pairs = dense.select(
        F.col("x").alias("y"), F.lag("x").over(w).alias("xp")
    ).where(F.col("xp").isNotNull())
    mom = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("xp").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("xp") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("xp") * F.col("xp")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return mom.select(
        "m",
        F.expr("m * sxy - sx * sy").cast("bigint").alias("cov_num"),
        F.expr(
            "CAST(floor(1000.0 * CAST(m * sxy - sx * sy AS DOUBLE)"
            " / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)"
            " * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT)"
        ).alias("persistence_milli"),
    )


ORACLE_Q366 = """
WITH counts AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM counts),
users AS (SELECT DISTINCT user_id FROM counts),
days AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM bounds),
dense AS (
  SELECT users.user_id, days.d, coalesce(counts.x, 0) AS x
  FROM users CROSS JOIN days
  LEFT JOIN counts ON counts.user_id = users.user_id
                  AND counts.d = days.d
),
pairs AS (
  SELECT x AS y,
         lag(x) OVER (PARTITION BY user_id ORDER BY d) AS xp
  FROM dense
),
mom AS (
  SELECT count(*) AS m, sum(xp) AS sx, sum(y) AS sy,
         sum(xp * y) AS sxy, sum(xp * xp) AS sxx, sum(y * y) AS syy
  FROM pairs WHERE xp IS NOT NULL
)
SELECT CAST(m AS BIGINT) AS m,
       CAST(m * sxy - sx * sy AS BIGINT) AS cov_num,
       CAST(floor(1000.0 * CAST(m * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                   * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT)
         AS persistence_milli
FROM mom
"""


# q367: vocabulary exclusivity census

def q367_vocab_exclusivity(spark, sf_dir):
    """Per-source vocabulary EXCLUSIVITY census: how many of each
    source's distinct tokens appear in NO other source, and what
    share of the source's token mass those exclusive tokens carry —
    the "what do we lose if we drop this feed" number, which overlap
    metrics (q301 Jaccard, q329 weighted, q293 TV) cannot answer
    because they measure sharing, not unique contribution.  A token's
    source spread is ONE vocabulary-scale agg; exclusivity joins back
    on the token key; everything in exact integers.

    Scale shape: one (source, token) count shuffle; the spread
    reaggregates it; one broadcast-joined rollup per source."""
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
    spread = cells.groupBy("tok").agg(
        F.countDistinct("source").alias("ns")
    )
    joined = cells.join(F.broadcast(spread), "tok")
    return (
        joined.groupBy("source")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.sum(F.when(F.col("ns") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("exclusive_vocab"),
            F.sum("c").cast("bigint").alias("mass"),
            F.sum(F.when(F.col("ns") == 1, F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("exclusive_mass"),
        )
        .select(
            "source",
            "vocab",
            "exclusive_vocab",
            F.expr("(exclusive_vocab * 1000000) div vocab")
            .cast("bigint")
            .alias("excl_vocab_ppm"),
            F.expr("(exclusive_mass * 1000000) div mass")
            .cast("bigint")
            .alias("excl_mass_ppm"),
        )
        .orderBy("source")
    )


ORACLE_Q367 = """
WITH cells AS (
  SELECT source, tok, count(*) AS c FROM (
    SELECT source,
           unnest(list_filter(string_split_regex(lower(text), '\\s+'),
                              t -> t <> '')) AS tok
    FROM documents
  ) GROUP BY 1, 2
),
spread AS (SELECT tok, count(DISTINCT source) AS ns FROM cells GROUP BY tok)
SELECT source,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS exclusive_vocab,
       CAST((sum(CASE WHEN ns = 1 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS excl_vocab_ppm,
       CAST((sum(CASE WHEN ns = 1 THEN c ELSE 0 END) * 1000000)
            // sum(c) AS BIGINT) AS excl_mass_ppm
FROM cells JOIN spread USING (tok)
GROUP BY source ORDER BY source
"""


# q368: rollup-boundary leakage audit

def q368_rollup_boundary_leakage(spark, sf_dir):
    """Weekly-vs-monthly rollup BOUNDARY leakage: for each month, the
    share of its revenue that sits in calendar weeks straddling a
    month boundary — the reconciliation gap between weekly and
    monthly reporting that every BI team rediscovers the hard way
    (a straddling week belongs to neither month cleanly).  Weeks are
    Monday-anchored epoch weeks via the pure integer formula
    (d + 3) div 7 (epoch day 0 was a Thursday — the q303 anchor
    discipline; no engine ISO-week builtin, whose year-boundary
    conventions differ, is ever consulted).  A week straddles iff its
    days span two months — computed from the week's own min/max
    month, data-independent of revenue.

    Scale shape: one (day) revenue agg, week/month labels map-side,
    one week-level straddle flag agg, one month rollup."""
    orders = _t(spark, sf_dir, "orders")
    daily = orders.groupBy(
        F.expr("CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)")
        .alias("d"),
        F.expr("year(o_orderdate) * 12 + month(o_orderdate)")
        .cast("bigint")
        .alias("m"),
    ).agg(
        F.sum(F.expr("CAST(round(o_totalprice * 100) AS BIGINT)"))
        .alias("rev")
    ).withColumn("wk", F.expr("(d + 3) div 7"))
    straddle = daily.groupBy("wk").agg(
        (F.min("m") != F.max("m")).alias("straddles")
    )
    return (
        daily.join(F.broadcast(straddle), "wk")
        .groupBy("m")
        .agg(
            F.sum("rev").cast("bigint").alias("rev_cents"),
            F.sum(F.when(F.col("straddles"), F.col("rev")).otherwise(0))
            .cast("bigint")
            .alias("straddle_cents"),
        )
        .select(
            "m",
            "rev_cents",
            "straddle_cents",
            F.expr("(straddle_cents * 1000000) div rev_cents")
            .cast("bigint")
            .alias("leakage_ppm"),
        )
        .orderBy("m")
    )


ORACLE_Q368 = """
WITH daily AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS d,
         CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         sum(CAST(round(o_totalprice * 100) AS BIGINT)) AS rev
  FROM orders GROUP BY 1, 2
),
wk AS (SELECT *, (d + 3) // 7 AS wk FROM daily),
straddle AS (
  SELECT wk, min(m) <> max(m) AS straddles FROM wk GROUP BY wk
)
SELECT m,
       CAST(sum(rev) AS BIGINT) AS rev_cents,
       CAST(sum(CASE WHEN straddles THEN rev ELSE 0 END) AS BIGINT)
         AS straddle_cents,
       CAST((sum(CASE WHEN straddles THEN rev ELSE 0 END) * 1000000)
            // sum(rev) AS BIGINT) AS leakage_ppm
FROM wk JOIN straddle USING (wk)
GROUP BY m ORDER BY m
"""


# q369: mean-of-means bias audit

def q369_mean_of_means_bias(spark, sf_dir):
    """Mean-of-means bias audit — the most common aggregation bug in
    analytics, quantified: the corpus-wide mean tokens per document
    (the correct, size-weighted number) against the unweighted mean
    of per-source means (what a naive per-source dashboard average
    reports), both in exact truncating milli-tokens, with the bias
    and the worst single-source deviation — the reviewer artifact
    (q327's frame-semantics sibling) that turns "avg of avgs is
    wrong" from folklore into a measured number on this corpus.

    Scale shape: one (source) agg over the token counts, one 20-row
    fold — the corpus is scanned once."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    per_src = docs.select(
        "source", F.size(toks).cast("bigint").alias("nt")
    ).groupBy("source").agg(
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("nt").alias("toks"),
    ).select(
        "source",
        "n_docs",
        "toks",
        F.expr("(toks * 1000) div n_docs").alias("src_mean_milli"),
    )
    return per_src.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.expr("(sum(toks) * 1000) div sum(n_docs)")
        .cast("bigint")
        .alias("true_mean_milli"),
        F.expr("sum(src_mean_milli) div count(*)")
        .cast("bigint")
        .alias("mean_of_means_milli"),
        F.expr(
            "sum(src_mean_milli) div count(*)"
            " - (sum(toks) * 1000) div sum(n_docs)"
        ).cast("bigint").alias("bias_milli"),
        F.expr(
            "greatest(max(src_mean_milli) - (sum(toks) * 1000)"
            " div sum(n_docs), (sum(toks) * 1000) div sum(n_docs)"
            " - min(src_mean_milli))"
        ).cast("bigint").alias("worst_src_dev_milli"),
    )


ORACLE_Q369 = """
WITH per_src AS (
  SELECT source, count(*) AS n_docs,
         sum(len(list_filter(string_split_regex(lower(text), '\\s+'),
                             t -> t <> ''))) AS toks
  FROM documents GROUP BY source
),
m AS (
  SELECT source, n_docs, toks,
         (toks * 1000) // n_docs AS src_mean_milli
  FROM per_src
)
SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST((sum(toks) * 1000) // sum(n_docs) AS BIGINT)
         AS true_mean_milli,
       CAST(sum(src_mean_milli) // count(*) AS BIGINT)
         AS mean_of_means_milli,
       CAST(sum(src_mean_milli) // count(*)
            - (sum(toks) * 1000) // sum(n_docs) AS BIGINT) AS bias_milli,
       CAST(greatest(max(src_mean_milli)
                     - (sum(toks) * 1000) // sum(n_docs),
                     (sum(toks) * 1000) // sum(n_docs)
                     - min(src_mean_milli)) AS BIGINT)
         AS worst_src_dev_milli
FROM m
"""


# q370: behavioral stereotypy index

def q370_behavioral_stereotypy(spark, sf_dir):
    """Behavioral stereotypy index: per user, the DISTINCT share of
    their event-type transition bigrams against the possible
    repertoire (min(n_transitions, 25)) in exact ppm — a user who
    cycles the same two transitions forever scores low, and that
    pattern-poverty is the bot signature RATE-based detection (q187)
    misses when the bot politely throttles.  Bottom-15 most
    stereotyped users under a pinned order; repertoire clamping keeps
    short histories honest (3 transitions can show at most 3
    bigrams — that is not stereotypy).

    Scale shape: one per-user lag pass, one (user, bigram) distinct
    agg, one per-user fold — nothing cross-user."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    big = (
        ev.select(
            "user_id",
            F.col("event_type").alias("a"),
            F.lead("event_type").over(w).alias("b"),
        )
        .where(F.col("b").isNotNull())
    )
    per_user = big.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_trans"),
        F.countDistinct("a", "b").cast("bigint").alias("n_distinct"),
    )
    return (
        per_user.select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "n_trans",
            "n_distinct",
            F.expr(
                "(n_distinct * 1000000)"
                " div least(n_trans, CAST(25 AS BIGINT))"
            ).cast("bigint").alias("repertoire_ppm"),
        )
        .orderBy("repertoire_ppm", "user_id")
        .limit(15)
    )


ORACLE_Q370 = """
WITH big AS (
  SELECT user_id, a, b FROM (
    SELECT user_id, event_type AS a,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS b
    FROM events
  ) WHERE b IS NOT NULL
),
per_user AS (
  SELECT user_id,
         CAST(count(*) AS BIGINT) AS n_trans,
         CAST(count(DISTINCT (a, b)) AS BIGINT) AS n_distinct
  FROM big GROUP BY user_id
)
SELECT CAST(user_id AS BIGINT) AS user_id, n_trans, n_distinct,
       CAST((n_distinct * 1000000)
            // least(n_trans, CAST(25 AS BIGINT)) AS BIGINT)
         AS repertoire_ppm
FROM per_user
ORDER BY repertoire_ppm, user_id
LIMIT 15
"""


# q371: risk-pooling variance audit

def q371_risk_pooling(spark, sf_dir):
    """Risk-pooling audit over the region hierarchy: the variance of
    the POOLED daily order count against the SUM of per-region
    variances — Var(ΣX) vs ΣVar(X), whose gap is twice the total
    covariance: ratio < 1000 milli means regions anti-correlate and
    the pool smooths (the portfolio effect capacity planning banks
    on), ratio > 1000 means common shocks and pooling buys nothing.
    All variances are exact n-scaled integers over the SAME dense
    day spine (missing day IS zero — the q300/q346 discipline), so
    the comparison is airtight.

    Scale shape: one (region, day) agg, one spine densification,
    per-region and pooled moment folds — day-scale after the first
    shuffle."""
    orders = _t(spark, sf_dir, "orders")
    cust = _t(spark, sf_dir, "customer")
    nation = _t(spark, sf_dir, "nation")
    rd = (
        orders.join(
            F.broadcast(cust.select("c_custkey", "c_nationkey")),
            orders.o_custkey == F.col("c_custkey"),
        )
        .join(
            F.broadcast(nation.select("n_nationkey", "n_regionkey")),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .groupBy(
            F.col("n_regionkey").alias("region"),
            F.expr(
                "CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)"
            ).alias("d"),
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    )
    bounds = rd.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    regions = rd.select("region").distinct()
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    dense = (
        regions.join(days)
        .join(rd, ["region", "d"], "left")
        .na.fill({"x": 0})
        .localCheckpoint(eager=True)
    )
    per_region = dense.groupBy("region").agg(
        F.count(F.lit(1)).alias("n"),
        F.expr("CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT)")
        .alias("v"),
    )
    pooled = (
        dense.groupBy("d")
        .agg(F.sum("x").alias("xt"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_days"),
            F.expr(
                "CAST(count(*) * sum(xt * xt) - sum(xt) * sum(xt)"
                " AS BIGINT)"
            ).alias("pooled_var"),
        )
    )
    sums = per_region.agg(
        F.sum("v").cast("bigint").alias("sum_var")
    )
    return pooled.crossJoin(F.broadcast(sums)).select(
        "n_days",
        "sum_var",
        "pooled_var",
        F.expr("(pooled_var * 1000) div sum_var").cast("bigint")
        .alias("pooling_ratio_milli"),
    )


ORACLE_Q371 = """
WITH rd AS (
  SELECT n_regionkey AS region,
         CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM orders
  JOIN customer ON o_custkey = c_custkey
  JOIN nation ON c_nationkey = n_nationkey
  GROUP BY 1, 2
),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM rd),
regions AS (SELECT DISTINCT region FROM rd),
days AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM bounds),
dense AS (
  SELECT regions.region, days.d, coalesce(rd.x, 0) AS x
  FROM regions CROSS JOIN days
  LEFT JOIN rd ON rd.region = regions.region AND rd.d = days.d
),
per_region AS (
  SELECT region, count(*) AS n,
         CAST(count(*) * sum(x * x) - sum(x) * sum(x) AS BIGINT) AS v
  FROM dense GROUP BY region
),
pooled AS (
  SELECT CAST(count(*) AS BIGINT) AS n_days,
         CAST(count(*) * sum(xt * xt) - sum(xt) * sum(xt) AS BIGINT)
           AS pooled_var
  FROM (SELECT d, sum(x) AS xt FROM dense GROUP BY d)
),
sums AS (SELECT CAST(sum(v) AS BIGINT) AS sum_var FROM per_region)
SELECT n_days, sum_var, pooled_var,
       CAST((pooled_var * 1000) // sum_var AS BIGINT)
         AS pooling_ratio_milli
FROM pooled, sums
"""


# q372: demand-pattern taxonomy (Syntetos-Boylan quadrants)

def q372_demand_taxonomy(spark, sf_dir):
    """Syntetos-Boylan demand-pattern taxonomy: every part is classed
    SMOOTH / INTERMITTENT / ERRATIC / LUMPY from its daily demand
    series — ADI (average inter-demand interval = span days over
    demand days) against the 1.32 cutoff and CV² of demand sizes
    against 0.49, BOTH as cross-multiplied integer comparisons
    (100·span vs 132·demand_days; 100·(n·ΣS² − S²) vs 49·S²) — the
    inventory-policy router (smooth → exponential smoothing,
    intermittent → Croston, lumpy → don't forecast, stock to
    service level).  The class census plus each class's quantity
    mass; single-demand-day parts (CV² undefined) are their own
    honest class.

    Scale shape: one (part, day) demand agg, one per-part moment
    fold, one <=5-row census."""
    li = _t(spark, sf_dir, "lineitem")
    pd_ = li.groupBy(
        "l_partkey",
        F.expr("CAST(datediff(l_shipdate, DATE'1970-01-01') AS BIGINT)")
        .alias("d"),
    ).agg(F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("s"))
    per_part = pd_.groupBy("l_partkey").agg(
        F.count(F.lit(1)).alias("nd"),
        F.expr("max(d) - min(d) + 1").alias("span"),
        F.sum("s").alias("ss"),
        F.sum(F.col("s") * F.col("s")).alias("ss2"),
    )
    classed = per_part.select(
        F.col("ss").alias("qty"),
        F.expr(
            "CASE WHEN nd = 1 THEN 'single'"
            " WHEN 100 * span > 132 * nd AND"
            "      100 * (nd * ss2 - ss * ss) > 49 * ss * ss"
            " THEN 'lumpy'"
            " WHEN 100 * span > 132 * nd THEN 'intermittent'"
            " WHEN 100 * (nd * ss2 - ss * ss) > 49 * ss * ss"
            " THEN 'erratic' ELSE 'smooth' END"
        ).alias("klass"),
    )
    census = classed.groupBy("klass").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("qty").cast("bigint").alias("qty_mass"),
    )
    tot = census.agg(F.sum("n_parts").alias("np"))
    return (
        census.crossJoin(F.broadcast(tot))
        .select(
            "klass",
            "n_parts",
            "qty_mass",
            F.expr("(n_parts * 1000000) div np").cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("klass")
    )


ORACLE_Q372 = """
WITH pd_ AS (
  SELECT l_partkey,
         CAST(datediff('day', DATE '1970-01-01', l_shipdate) AS BIGINT)
           AS d,
         sum(CAST(l_quantity AS BIGINT)) AS s
  FROM lineitem GROUP BY 1, 2
),
per_part AS (
  SELECT l_partkey, count(*) AS nd, max(d) - min(d) + 1 AS span,
         sum(s) AS ss, sum(s * s) AS ss2
  FROM pd_ GROUP BY l_partkey
),
classed AS (
  SELECT ss AS qty,
         CASE WHEN nd = 1 THEN 'single'
              WHEN 100 * span > 132 * nd AND
                   100 * (nd * ss2 - ss * ss) > 49 * ss * ss
              THEN 'lumpy'
              WHEN 100 * span > 132 * nd THEN 'intermittent'
              WHEN 100 * (nd * ss2 - ss * ss) > 49 * ss * ss
              THEN 'erratic' ELSE 'smooth' END AS klass
  FROM per_part
),
census AS (
  SELECT klass, CAST(count(*) AS BIGINT) AS n_parts,
         CAST(sum(qty) AS BIGINT) AS qty_mass
  FROM classed GROUP BY klass
),
tot AS (SELECT sum(n_parts) AS np FROM census)
SELECT klass, n_parts, qty_mass,
       CAST((n_parts * 1000000) // np AS BIGINT) AS share_ppm
FROM census, tot
ORDER BY klass
"""


# q373: capacitated review assignment

def q373_capacitated_assignment(spark, sf_dir):
    """Capacitated two-round review assignment: documents routed to 4
    reviewers — round 1 honors each doc's LANGUAGE preference (en→r0,
    fr→r1, de→r2, es→r3; zh has no specialist) up to each reviewer's
    capacity (equal quotas via largest remainder, so they differ by
    at most one), with within-preference priority by the portable
    60-bit hash (deterministic, layout-independent, the q47/q272
    discipline); round 2 waterfalls the overflow plus the
    preference-less docs across REMAINING capacity in reviewer order
    by global hash rank — constrained assignment as two window passes
    and a prefix-sum interval lookup, no solver, no loop.  Per
    reviewer: assigned, preference-honored count, fill ppm.

    Scale shape: two rank windows and one 4-row capacity prefix sum;
    the waterfall is a map-side interval comparison against broadcast
    capacity boundaries."""
    from ..functions.portable_hash import md5_i64_expr

    docs = _t(spark, sf_dir, "documents")
    pref = F.expr(
        "CASE lang WHEN 'en' THEN 0 WHEN 'fr' THEN 1"
        " WHEN 'de' THEN 2 WHEN 'es' THEN 3 END"
    )
    base = docs.select(
        "doc_id",
        pref.cast("bigint").alias("pref"),
        md5_i64_expr(F.col("doc_id").cast("string"), salt="assign#")
        .alias("h"),
    ).localCheckpoint(eager=True)
    n_ = base.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    # capacities: equal largest-remainder split of n over 4 reviewers
    caps = (
        spark.range(0, 4)
        .select(F.col("id").cast("bigint").alias("r"))
        .crossJoin(F.broadcast(n_))
        .select(
            "r",
            F.expr("n div 4 + (CASE WHEN r < n % 4 THEN 1 ELSE 0 END)")
            .cast("bigint")
            .alias("cap"),
        )
        .localCheckpoint(eager=True)
    )
    w1 = Window.partitionBy("pref").orderBy("h", "doc_id")
    r1 = (
        base.where(F.col("pref").isNotNull())
        .withColumn("rk", F.row_number().over(w1))
        .join(F.broadcast(caps), F.col("pref") == F.col("r"))
        .select(
            "doc_id",
            "pref",
            "h",
            (F.col("rk") <= F.col("cap")).alias("placed"),
        )
    )
    placed1 = r1.where(F.col("placed")).select(
        "doc_id", F.col("pref").alias("reviewer"), F.lit(1).alias("preferred")
    )
    used = placed1.groupBy("reviewer").agg(
        F.count(F.lit(1)).alias("used")
    )
    rem = (
        caps.join(used, caps.r == used.reviewer, "left")
        .na.fill({"used": 0})
        .select(
            "r", (F.col("cap") - F.col("used")).alias("rem")
        )
    )
    wb = Window.orderBy("r").rowsBetween(Window.unboundedPreceding, -1)
    bounds = rem.select(
        "r",
        "rem",
        F.coalesce(F.sum("rem").over(wb), F.lit(0)).alias("lo"),
    ).select(
        "r", "lo", (F.col("lo") + F.col("rem")).alias("hi")
    ).localCheckpoint(eager=True)
    leftovers = base.join(
        placed1.select("doc_id"), "doc_id", "left_anti"
    )
    w2 = Window.orderBy("h", "doc_id")
    placed2 = (
        leftovers.withColumn("grk", F.row_number().over(w2) - 1)
        .join(
            F.broadcast(bounds),
            (F.col("grk") >= F.col("lo")) & (F.col("grk") < F.col("hi")),
        )
        .select(
            "doc_id", F.col("r").alias("reviewer"), F.lit(0).alias("preferred")
        )
    )
    assigned = placed1.unionByName(placed2)
    return (
        assigned.groupBy("reviewer")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_assigned"),
            F.sum("preferred").cast("bigint").alias("n_preferred"),
        )
        .join(F.broadcast(caps), F.col("reviewer") == F.col("r"))
        .select(
            "reviewer",
            "n_assigned",
            "n_preferred",
            F.col("cap").cast("bigint").alias("capacity"),
            F.expr("(n_assigned * 1000000) div cap").cast("bigint")
            .alias("fill_ppm"),
        )
        .orderBy("reviewer")
    )


ORACLE_Q373 = """
WITH base AS (
  SELECT doc_id,
         CASE lang WHEN 'en' THEN 0 WHEN 'fr' THEN 1
              WHEN 'de' THEN 2 WHEN 'es' THEN 3 END AS pref,
         (('0x' || substr(md5('assign#' || CAST(doc_id AS VARCHAR)),
                          1, 15))::BIGINT) AS h
  FROM documents
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM base),
caps AS (
  SELECT CAST(r.range AS BIGINT) AS r,
         n // 4 + (CASE WHEN r.range < n % 4 THEN 1 ELSE 0 END) AS cap
  FROM range(0, 4) r, n_
),
r1 AS (
  SELECT doc_id, pref, h,
         row_number() OVER (PARTITION BY pref ORDER BY h, doc_id)
           <= cap AS placed
  FROM base JOIN caps ON pref = r
  WHERE pref IS NOT NULL
),
placed1 AS (
  SELECT doc_id, pref AS reviewer, 1 AS preferred
  FROM r1 WHERE placed
),
used AS (SELECT reviewer, count(*) AS used FROM placed1 GROUP BY reviewer),
rem AS (
  SELECT caps.r, cap - coalesce(used, 0) AS rem
  FROM caps LEFT JOIN used ON caps.r = used.reviewer
),
bounds AS (
  SELECT r, lo, lo + rem AS hi FROM (
    SELECT r, rem,
           coalesce(sum(rem) OVER (ORDER BY r
                ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
             AS lo
    FROM rem
  )
),
leftovers AS (
  SELECT * FROM base
  WHERE doc_id NOT IN (SELECT doc_id FROM placed1)
),
placed2 AS (
  SELECT doc_id, r AS reviewer, 0 AS preferred FROM (
    SELECT doc_id, row_number() OVER (ORDER BY h, doc_id) - 1 AS grk
    FROM leftovers
  ) JOIN bounds ON grk >= lo AND grk < hi
),
assigned AS (
  SELECT * FROM placed1 UNION ALL SELECT * FROM placed2
)
SELECT CAST(reviewer AS BIGINT) AS reviewer,
       CAST(count(*) AS BIGINT) AS n_assigned,
       CAST(sum(preferred) AS BIGINT) AS n_preferred,
       CAST(cap AS BIGINT) AS capacity,
       CAST((count(*) * 1000000) // cap AS BIGINT) AS fill_ppm
FROM assigned JOIN caps ON reviewer = caps.r
GROUP BY reviewer, cap
ORDER BY reviewer
"""


# q374: two-way fixed-effects interaction anomalies

def q374_twoway_fe_anomalies(spark, sf_dir):
    """Two-way fixed-effects interaction anomalies: on the DENSE
    user×day activity grid, the additive model x = user effect + day
    effect is fitted EXACTLY by demeaning — and because the grid is
    complete (U users × D days), the residual clears to the pure
    integer U·D·x − U·S_user − D·S_day + G with NO rational
    arithmetic at all (the closed-form OLS solution for a balanced
    two-way layout).  The top-10 |residual| cells are the user-day
    combinations that neither the user's habit nor the day's traffic
    explains — the interaction outliers a one-dimensional outlier
    gate (q318 on days, per-user gates) structurally cannot see.

    Scale shape: dense spine join, two marginal aggs REUSING the
    grid, one broadcast-joined residual expression, one top-k."""
    ev = _t(spark, sf_dir, "events")
    counts = ev.groupBy(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
        .alias("d"),
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = counts.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    users = counts.select("user_id").distinct()
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    dense = (
        users.join(days)
        .join(counts, ["user_id", "d"], "left")
        .na.fill({"x": 0})
        .localCheckpoint(eager=True)
    )
    urow = dense.groupBy("user_id").agg(F.sum("x").alias("su"))
    drow = dense.groupBy("d").agg(F.sum("x").alias("sd"))
    dims = dense.agg(
        F.countDistinct("user_id").cast("bigint").alias("u"),
        F.countDistinct("d").cast("bigint").alias("dd"),
        F.sum("x").cast("bigint").alias("g"),
    )
    res = (
        dense.join(F.broadcast(urow), "user_id")
        .join(F.broadcast(drow), "d")
        .crossJoin(F.broadcast(dims))
        .select(
            F.col("user_id").cast("bigint").alias("user_id"),
            "d",
            "x",
            F.expr("u * dd * x - u * su - dd * sd + g")
            .cast("bigint")
            .alias("resid_scaled"),
        )
    )
    return res.orderBy(
        F.abs(F.col("resid_scaled")).desc(), "user_id", "d"
    ).limit(10)


ORACLE_Q374 = """
WITH counts AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1, 2
),
bounds AS (SELECT min(d) AS d0, max(d) AS d1 FROM counts),
users AS (SELECT DISTINCT user_id FROM counts),
days AS (SELECT unnest(range(d0, d1 + 1)) AS d FROM bounds),
dense AS (
  SELECT users.user_id, days.d, coalesce(counts.x, 0) AS x
  FROM users CROSS JOIN days
  LEFT JOIN counts ON counts.user_id = users.user_id
                  AND counts.d = days.d
),
urow AS (SELECT user_id, sum(x) AS su FROM dense GROUP BY user_id),
drow AS (SELECT d, sum(x) AS sd FROM dense GROUP BY d),
dims AS (
  SELECT count(DISTINCT user_id) AS u, count(DISTINCT d) AS dd,
         sum(x) AS g
  FROM dense
)
SELECT CAST(dense.user_id AS BIGINT) AS user_id, dense.d AS d, x,
       CAST(u * dd * x - u * su - dd * sd + g AS BIGINT)
         AS resid_scaled
FROM dense
JOIN urow ON dense.user_id = urow.user_id
JOIN drow ON dense.d = drow.d, dims
ORDER BY abs(u * dd * x - u * su - dd * sd + g) DESC,
         dense.user_id, dense.d
LIMIT 10
"""


# q375: variance-ratio random-walk test

def q375_variance_ratio(spark, sf_dir):
    """Lo-MacKinlay variance-ratio test on the daily order-count
    series: VR(5) = Var(5-day overlapping sums) / (5 · Var(daily)) —
    near 1000 milli for a random walk, below for mean reversion,
    above for trending — the canonical aggregation-based dependence
    test that summarizes what individual autocorrelations (q259)
    only show lag by lag.  Both variances are exact n-scaled
    integers on the DENSE day spine (q300 discipline); overlapping
    5-day sums come from ONE window pass; the only division is the
    final cross-multiplied milli ratio (m·denominators carried
    explicitly so the two different sample sizes never get silently
    conflated).

    Scale shape: one day agg, spine densification, one rolling-sum
    window, two moment folds — series-scale."""
    orders = _t(spark, sf_dir, "orders")
    obs = orders.groupBy(
        F.expr("CAST(datediff(o_orderdate, DATE'1970-01-01') AS BIGINT)")
        .alias("d")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = obs.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1")).alias("d")
    )
    daily = spine.join(obs, "d", "left").na.fill({"x": 0}) \
        .localCheckpoint(eager=True)
    m1 = daily.agg(
        F.count(F.lit(1)).cast("bigint").alias("n1"),
        F.sum("x").cast("bigint").alias("s1"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("ss1"),
    )
    w = Window.orderBy("d").rowsBetween(-4, 0)
    sums5 = (
        daily.withColumn("s5", F.sum("x").over(w))
        .withColumn("rn", F.row_number().over(Window.orderBy("d")))
        .where(F.col("rn") >= 5)
    )
    m5 = sums5.agg(
        F.count(F.lit(1)).cast("bigint").alias("n5"),
        F.sum("s5").cast("bigint").alias("s5s"),
        F.sum(F.col("s5") * F.col("s5")).cast("bigint").alias("ss5"),
    )
    return m1.crossJoin(F.broadcast(m5)).select(
        "n1",
        "n5",
        F.expr("n1 * ss1 - s1 * s1").cast("bigint").alias("var1_nscaled"),
        F.expr("n5 * ss5 - s5s * s5s").cast("bigint").alias("var5_nscaled"),
        F.expr(
            "((n5 * ss5 - s5s * s5s) * n1 * n1 * 1000)"
            " div ((n1 * ss1 - s1 * s1) * n5 * n5 * 5)"
        ).cast("bigint").alias("vr5_milli"),
    )


ORACLE_Q375 = """
WITH obs AS (
  SELECT CAST(datediff('day', DATE '1970-01-01', o_orderdate) AS BIGINT)
           AS d,
         CAST(count(*) AS BIGINT) AS x
  FROM orders GROUP BY 1
),
b AS (SELECT min(d) AS d0, max(d) AS d1 FROM obs),
daily AS (
  SELECT s.d, coalesce(obs.x, 0) AS x
  FROM (SELECT unnest(range(d0, d1 + 1)) AS d FROM b) s
  LEFT JOIN obs ON obs.d = s.d
),
m1 AS (
  SELECT count(*) AS n1, sum(x) AS s1, sum(x * x) AS ss1 FROM daily
),
sums5 AS (
  SELECT s5 FROM (
    SELECT sum(x) OVER (ORDER BY d
             ROWS BETWEEN 4 PRECEDING AND CURRENT ROW) AS s5,
           row_number() OVER (ORDER BY d) AS rn
    FROM daily
  ) WHERE rn >= 5
),
m5 AS (
  SELECT count(*) AS n5, sum(s5) AS s5s, sum(s5 * s5) AS ss5 FROM sums5
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n5 AS BIGINT) AS n5,
       CAST(n1 * ss1 - s1 * s1 AS BIGINT) AS var1_nscaled,
       CAST(n5 * ss5 - s5s * s5s AS BIGINT) AS var5_nscaled,
       CAST(((n5 * ss5 - s5s * s5s) * n1 * n1 * 1000)
            // ((n1 * ss1 - s1 * s1) * n5 * n5 * 5) AS BIGINT)
         AS vr5_milli
FROM m1, m5
"""


# q376: newsvendor critical-fractile stocking table

def q376_newsvendor_stocking(spark, sf_dir):
    """Newsvendor stocking table per part category (partkey mod 8):
    with underage cost 3 and overage cost 1, the optimal stock is the
    critical fractile cu/(cu+co) = 3/4 of the daily-demand
    distribution — taken as the exact rank-pinned 75th-percentile
    order statistic over the DENSE day spine (a zero-demand day is a
    demand observation, not a gap) — and the counterfactual cost of
    having stocked that level every day is folded in exact integer
    units, next to the cost of the naive mean-demand stock, whose
    EXCESS is the classic penalty for ignoring asymmetric costs.

    Scale shape: one (category, day) agg + spine, one rank window
    per category, two map-side counterfactual folds."""
    li = _t(spark, sf_dir, "lineitem")
    cd = li.groupBy(
        (F.col("l_partkey") % 8).cast("bigint").alias("cat"),
        F.expr("CAST(datediff(l_shipdate, DATE'1970-01-01') AS BIGINT)")
        .alias("d"),
    ).agg(F.sum(F.expr("CAST(l_quantity AS BIGINT)")).alias("q"))
    bounds = cd.agg(F.min("d").alias("d0"), F.max("d").alias("d1"))
    cats = cd.select("cat").distinct()
    days = bounds.select(F.explode(F.sequence("d0", "d1")).alias("d"))
    dense = (
        cats.join(days)
        .join(cd, ["cat", "d"], "left")
        .na.fill({"q": 0})
        .localCheckpoint(eager=True)
    )
    w = Window.partitionBy("cat").orderBy("q", "d")
    wn = Window.partitionBy("cat")
    ranked = dense.select(
        "cat",
        "d",
        "q",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("n"),
    )
    stock = ranked.where(
        F.col("rk") == F.expr("greatest(CAST(1 AS BIGINT), (n * 3) div 4)")
    ).select("cat", F.col("q").alias("s_star"))
    mean_stock = dense.groupBy("cat").agg(
        F.expr("sum(q) div count(*)").cast("bigint").alias("s_mean")
    )
    costed = (
        dense.join(F.broadcast(stock), "cat")
        .join(F.broadcast(mean_stock), "cat")
        .groupBy("cat", "s_star", "s_mean")
        .agg(
            F.sum(
                F.expr(
                    "3 * greatest(q - s_star, CAST(0 AS BIGINT))"
                    " + greatest(s_star - q, CAST(0 AS BIGINT))"
                )
            ).cast("bigint").alias("cost_star"),
            F.sum(
                F.expr(
                    "3 * greatest(q - s_mean, CAST(0 AS BIGINT))"
                    " + greatest(s_mean - q, CAST(0 AS BIGINT))"
                )
            ).cast("bigint").alias("cost_mean"),
        )
    )
    return costed.select(
        "cat",
        F.col("s_star").cast("bigint").alias("stock_star"),
        F.col("s_mean").cast("bigint").alias("stock_mean"),
        "cost_star",
        "cost_mean",
        (F.col("cost_mean") - F.col("cost_star")).cast("bigint")
        .alias("naive_excess_cost"),
    ).orderBy("cat")


ORACLE_Q376 = """
WITH cd AS (
  SELECT CAST(l_partkey % 8 AS BIGINT) AS cat,
         CAST(datediff('day', DATE '1970-01-01', l_shipdate) AS BIGINT)
           AS d,
         sum(CAST(l_quantity AS BIGINT)) AS q
  FROM lineitem GROUP BY 1, 2
),
b AS (SELECT min(d) AS d0, max(d) AS d1 FROM cd),
dense AS (
  SELECT c.cat, s.d, coalesce(cd.q, 0) AS q
  FROM (SELECT DISTINCT cat FROM cd) c
  CROSS JOIN (SELECT unnest(range(d0, d1 + 1)) AS d FROM b) s
  LEFT JOIN cd ON cd.cat = c.cat AND cd.d = s.d
),
ranked AS (
  SELECT cat, d, q,
         CAST(row_number() OVER (PARTITION BY cat ORDER BY q, d)
              AS BIGINT) AS rk,
         CAST(count(*) OVER (PARTITION BY cat) AS BIGINT) AS n
  FROM dense
),
stock AS (
  SELECT cat, q AS s_star FROM ranked
  WHERE rk = greatest(CAST(1 AS BIGINT), (n * 3) // 4)
),
mean_stock AS (
  SELECT cat, CAST(sum(q) // count(*) AS BIGINT) AS s_mean
  FROM dense GROUP BY cat
)
SELECT dense.cat,
       CAST(s_star AS BIGINT) AS stock_star,
       CAST(s_mean AS BIGINT) AS stock_mean,
       CAST(sum(3 * greatest(q - s_star, 0)
                + greatest(s_star - q, 0)) AS BIGINT) AS cost_star,
       CAST(sum(3 * greatest(q - s_mean, 0)
                + greatest(s_mean - q, 0)) AS BIGINT) AS cost_mean,
       CAST(sum(3 * greatest(q - s_mean, 0) + greatest(s_mean - q, 0))
            - sum(3 * greatest(q - s_star, 0) + greatest(s_star - q, 0))
            AS BIGINT) AS naive_excess_cost
FROM dense
JOIN stock ON dense.cat = stock.cat
JOIN mean_stock ON dense.cat = mean_stock.cat
GROUP BY dense.cat, s_star, s_mean
ORDER BY dense.cat
"""


# q377: cohort half-life extraction

def q377_cohort_halflife(spark, sf_dir):
    """Cohort half-life extraction: for each daily signup cohort (the
    q127 construction), the FIRST day-offset at which the cohort's
    active count falls to half or less of its size — an
    interpolation-free first-crossing (min over offsets clearing the
    cross-multiplied 2·active <= size line), with a censored flag for
    cohorts that never halve inside the window (reported, not
    dropped).  The half-life scalar is what q127's full retention
    matrix gets summarized to in every board deck; extracting it
    exactly keeps the deck honest.

    Scale shape: one first-seen agg, one (cohort, offset) activity
    agg, one min-filter per cohort — cohort-scale output."""
    ev = _t(spark, sf_dir, "events")
    days = ev.select(
        "user_id",
        F.expr("CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT)")
        .alias("d"),
    ).distinct()
    first = days.groupBy("user_id").agg(F.min("d").alias("cohort"))
    sizes = first.groupBy("cohort").agg(
        F.count(F.lit(1)).cast("bigint").alias("size")
    )
    act = (
        days.join(first, "user_id")
        .groupBy("cohort", (F.col("d") - F.col("cohort")).alias("off"))
        .agg(F.countDistinct("user_id").alias("active"))
    )
    crossed = (
        act.join(F.broadcast(sizes), "cohort")
        .where((F.col("off") > 0) & (F.col("active") * 2 <= F.col("size")))
        .groupBy("cohort")
        .agg(F.min("off").cast("bigint").alias("halflife_days"))
    )
    return (
        sizes.join(crossed, "cohort", "left")
        .select(
            F.col("cohort").cast("bigint").alias("cohort"),
            "size",
            "halflife_days",
            F.col("halflife_days").isNull().alias("censored"),
        )
        .orderBy("cohort")
    )


ORACLE_Q377 = """
WITH days AS (
  SELECT DISTINCT user_id,
         CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d
  FROM events
),
first AS (SELECT user_id, min(d) AS cohort FROM days GROUP BY user_id),
sizes AS (
  SELECT cohort, CAST(count(*) AS BIGINT) AS size FROM first
  GROUP BY cohort
),
act AS (
  SELECT cohort, d - cohort AS off, count(DISTINCT days.user_id)
           AS active
  FROM days JOIN first ON days.user_id = first.user_id
  GROUP BY 1, 2
),
crossed AS (
  SELECT act.cohort, CAST(min(off) AS BIGINT) AS halflife_days
  FROM act JOIN sizes ON act.cohort = sizes.cohort
  WHERE off > 0 AND active * 2 <= size
  GROUP BY act.cohort
)
SELECT CAST(sizes.cohort AS BIGINT) AS cohort, size, halflife_days,
       halflife_days IS NULL AS censored
FROM sizes LEFT JOIN crossed ON sizes.cohort = crossed.cohort
ORDER BY sizes.cohort
"""


# q378: terminal-digit preference audit

def q378_terminal_digit_audit(spark, sf_dir):
    """Terminal-digit preference audit on purchase amounts: the
    distribution of the last two cent digits against uniform,
    chi-square-style, entirely in integers — Σ(100·obs_c − n)² over
    100 cells, reported with the milli-scaled statistic and the most
    over- and under-represented digits.  Terminal-digit analysis is
    the fabrication/fraud screen (humans inventing numbers avoid
    repeated digits and favor 0/5; q249's Benford checks the FIRST
    digit's natural-growth law — the LAST digits test price-setting
    and data-entry behavior instead).  A flat result on synthetic
    uniform data is the correct negative control, and the audit
    reports it as such.

    Scale shape: one 100-cell agg off the fact scan; everything
    after is 100-row arithmetic."""
    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy(
            F.expr("CAST(round(value * 100) AS BIGINT) % 100").alias("dd")
        )
        .agg(F.count(F.lit(1)).cast("bigint").alias("obs"))
    )
    tot = cells.agg(F.sum("obs").alias("n"))
    scored = cells.crossJoin(F.broadcast(tot)).select(
        "dd",
        "obs",
        F.expr("(100 * obs - n) * (100 * obs - n)").alias("dev2"),
    )
    top = scored.orderBy(F.desc("obs"), "dd").limit(1).select(
        F.col("dd").alias("top_digit")
    )
    bot = scored.orderBy("obs", "dd").limit(1).select(
        F.col("dd").alias("bottom_digit")
    )
    return (
        scored.agg(
            F.count(F.lit(1)).cast("bigint").alias("n_cells"),
            F.sum("obs").cast("bigint").alias("n_values"),
            F.expr("CAST((sum(dev2) * 1000) div (100 * sum(obs)) AS BIGINT)")
            .alias("chi2_milli"),
        )
        .crossJoin(F.broadcast(top))
        .crossJoin(F.broadcast(bot))
    )


ORACLE_Q378 = """
WITH cells AS (
  SELECT CAST(round(value * 100) AS BIGINT) % 100 AS dd,
         CAST(count(*) AS BIGINT) AS obs
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
tot AS (SELECT sum(obs) AS n FROM cells),
scored AS (
  SELECT dd, obs, (100 * obs - n) * (100 * obs - n) AS dev2
  FROM cells, tot
),
top AS (SELECT dd AS top_digit FROM scored ORDER BY obs DESC, dd LIMIT 1),
bot AS (SELECT dd AS bottom_digit FROM scored ORDER BY obs, dd LIMIT 1)
SELECT CAST(count(*) AS BIGINT) AS n_cells,
       CAST(sum(obs) AS BIGINT) AS n_values,
       CAST((sum(dev2) * 1000) // (100 * sum(obs)) AS BIGINT)
         AS chi2_milli,
       (SELECT top_digit FROM top) AS top_digit,
       (SELECT bottom_digit FROM bot) AS bottom_digit
FROM scored
"""


# q379: micro-batch trigger-interval advisor

def q379_trigger_interval_advisor(spark, sf_dir):
    """Micro-batch trigger-interval advisor: for candidate trigger
    periods (60s / 300s / 900s / 3600s), the EXACT total event wait
    (each event waits until its batch boundary, ceil(ts/T)·T − ts —
    integer arithmetic on epoch seconds), the non-empty batch count,
    and an explicit integer cost = total wait seconds + 100·batches
    (the per-batch overhead constant is the knob; the arithmetic is
    the operator), with the argmin flagged — the latency-vs-overhead
    trade every Structured Streaming deployment prices when choosing
    its trigger (this catalog's streaming queries run file triggers;
    this is the sizing table for them).

    Scale shape: the 4-candidate sweep is ONE map-side tagged-union
    expression over the fact scan (q350's sweep discipline), one
    (candidate, batch) distinct count, one 4-row fold."""
    ev = _t(spark, sf_dir, "events")
    cands = spark.createDataFrame(
        [(60,), (300,), (900,), (3600,)], ["t"]
    ).select(F.col("t").cast("bigint").alias("t"))
    base = ev.select(
        F.unix_timestamp("ts").alias("sec")
    ).join(F.broadcast(cands))
    tagged = base.select(
        "t",
        F.expr("((sec + t - 1) div t) * t - sec").alias("wait"),
        F.expr("(sec + t - 1) div t").alias("batch_id"),
    )
    per_cand = tagged.groupBy("t").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum("wait").cast("bigint").alias("total_wait_s"),
        F.countDistinct("batch_id").cast("bigint").alias("n_batches"),
    )
    costed = per_cand.select(
        "t",
        "n_batches",
        "total_wait_s",
        F.expr("(total_wait_s * 1000) div n_events")
        .cast("bigint")
        .alias("mean_wait_milli"),
        F.expr("total_wait_s + 100 * n_batches").cast("bigint")
        .alias("cost"),
    )
    best = costed.agg(F.min("cost").alias("best"))
    return (
        costed.crossJoin(F.broadcast(best))
        .select(
            "t",
            "n_batches",
            "total_wait_s",
            "mean_wait_milli",
            "cost",
            (F.col("cost") == F.col("best")).alias("chosen"),
        )
        .orderBy("t")
    )


ORACLE_Q379 = """
WITH cands(t) AS (VALUES (60), (300), (900), (3600)),
tagged AS (
  SELECT CAST(t AS BIGINT) AS t,
         ((sec + t - 1) // t) * t - sec AS wait,
         (sec + t - 1) // t AS batch_id
  FROM (SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events),
       cands
),
per_cand AS (
  SELECT t, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(wait) AS BIGINT) AS total_wait_s,
         CAST(count(DISTINCT batch_id) AS BIGINT) AS n_batches
  FROM tagged GROUP BY t
),
costed AS (
  SELECT t, n_batches, total_wait_s,
         CAST((total_wait_s * 1000) // n_events AS BIGINT)
           AS mean_wait_milli,
         CAST(total_wait_s + 100 * n_batches AS BIGINT) AS cost
  FROM per_cand
),
best AS (SELECT min(cost) AS best FROM costed)
SELECT t, n_batches, total_wait_s, mean_wait_milli, cost,
       cost = best AS chosen
FROM costed, best
ORDER BY t
"""


# q380: watermark-delay sizing advisor

def q380_watermark_sizing_advisor(spark, sf_dir):
    """Watermark-delay sizing advisor: under a DETERMINISTIC
    simulated out-of-orderness (arrival = event time + portable-hash
    jitter in [0, 600s) — spec'd simulation, reproducible
    bit-for-bit), each candidate watermark delay W (0/60/300/600s)
    drops exactly the events whose jitter exceeds W, and holds state
    proportional to W·event-rate; the advisor prices
    cost = dropped·1000 + state_rows and flags the argmin — the
    completeness-vs-state trade behind every withWatermark() call in
    this engine's streaming pipelines (q40 proves late-data SEMANTICS;
    this sizes the KNOB).

    Scale shape: one map-side jitter expression, a 4-candidate
    tagged-union fold (q350 discipline), 4-row output."""
    from ..functions.portable_hash import md5_i64_expr

    ev = _t(spark, sf_dir, "events")
    cands = spark.createDataFrame(
        [(0,), (60,), (300,), (600,)], ["w"]
    ).select(F.col("w").cast("bigint").alias("w"))
    base = ev.select(
        (md5_i64_expr(F.col("event_id").cast("string"), salt="late#") % 600)
        .alias("delay")
    ).join(F.broadcast(cands))
    span = ev.agg(
        (F.max(F.unix_timestamp("ts")) - F.min(F.unix_timestamp("ts")))
        .cast("bigint")
        .alias("span_s")
    )
    per_cand = base.groupBy("w").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.sum(F.when(F.col("delay") > F.col("w"), 1).otherwise(0))
        .cast("bigint")
        .alias("dropped"),
    )
    costed = per_cand.crossJoin(F.broadcast(span)).select(
        "w",
        "dropped",
        F.expr("(dropped * 1000000) div n_events").cast("bigint")
        .alias("dropped_ppm"),
        F.expr("(w * n_events) div greatest(span_s, CAST(1 AS BIGINT))")
        .cast("bigint")
        .alias("state_rows"),
        F.expr(
            "dropped * 1000 + (w * n_events)"
            " div greatest(span_s, CAST(1 AS BIGINT))"
        ).cast("bigint").alias("cost"),
    )
    best = costed.agg(F.min("cost").alias("best"))
    return (
        costed.crossJoin(F.broadcast(best))
        .select(
            "w",
            "dropped",
            "dropped_ppm",
            "state_rows",
            "cost",
            (F.col("cost") == F.col("best")).alias("chosen"),
        )
        .orderBy("w")
    )


ORACLE_Q380 = """
WITH cands(w) AS (VALUES (0), (60), (300), (600)),
base AS (
  SELECT CAST(w AS BIGINT) AS w,
         (('0x' || substr(md5('late#' || CAST(event_id AS VARCHAR)),
                          1, 15))::BIGINT) % 600 AS delay
  FROM events, cands
),
span AS (
  SELECT CAST(max(CAST(floor(epoch(ts)) AS BIGINT))
              - min(CAST(floor(epoch(ts)) AS BIGINT)) AS BIGINT)
           AS span_s
  FROM events
),
per_cand AS (
  SELECT w, CAST(count(*) AS BIGINT) AS n_events,
         CAST(sum(CASE WHEN delay > w THEN 1 ELSE 0 END) AS BIGINT)
           AS dropped
  FROM base GROUP BY w
),
costed AS (
  SELECT w, dropped,
         CAST((dropped * 1000000) // n_events AS BIGINT) AS dropped_ppm,
         CAST((w * n_events) // greatest(span_s, 1) AS BIGINT)
           AS state_rows,
         CAST(dropped * 1000
              + (w * n_events) // greatest(span_s, 1) AS BIGINT) AS cost
  FROM per_cand, span
),
best AS (SELECT min(cost) AS best FROM costed)
SELECT w, dropped, dropped_ppm, state_rows, cost, cost = best AS chosen
FROM costed, best
ORDER BY w
"""


__all__ = _star_exports(globals())  # noqa: F405
