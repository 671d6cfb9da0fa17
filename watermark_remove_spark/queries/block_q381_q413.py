"""Registry block q381-q413 — split verbatim from the
single-module catalog (round-4 verdict #2); execution order,
names and behavior identical to the original queries.py."""
from __future__ import annotations

from .block_q341_q380 import *  # noqa: F401,F403



# q381: assortment rationalization collateral audit

def q381_assortment_collateral(spark, sf_dir):
    """Assortment-rationalization collateral audit: cutting the
    bottom 10/25/50% of parts by revenue (rank-pinned cut lines on
    the part ledger) loses a trivially small revenue share — the
    concentration story — but the AUDIT measures what the
    concentration story hides: the share of ORDERS that would lose at
    least one line (order-level collateral), which is what actually
    drives customer-visible breakage when a long tail is "cleaned
    up".  All shares in exact ppm; the three cut fractions are one
    tagged sweep over a single part ranking.

    Scale shape: one part-revenue agg + rank, one broadcast cut-line
    join back onto the lineitem scan, one per-cut order-distinct
    fold."""
    li = _t(spark, sf_dir, "lineitem")
    parts = li.groupBy("l_partkey").agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .alias("rev")
    )
    w = Window.orderBy("rev", "l_partkey")
    wn = Window.partitionBy(F.lit(1))
    ranked = parts.select(
        "l_partkey",
        "rev",
        F.row_number().over(w).cast("bigint").alias("rk"),
        F.count(F.lit(1)).over(wn).cast("bigint").alias("np"),
    ).localCheckpoint(eager=True)
    cuts = spark.createDataFrame(
        [(10,), (25,), (50,)], ["pct"]
    ).select(F.col("pct").cast("bigint").alias("pct"))
    cut_parts = ranked.join(F.broadcast(cuts)).where(
        F.col("rk") * 100 <= F.col("np") * F.col("pct")
    ).select("pct", "l_partkey", "rev")
    tot = li.agg(
        F.sum(F.expr("CAST(round(l_extendedprice * 100) AS BIGINT)"))
        .alias("trev"),
        F.countDistinct("l_orderkey").cast("bigint").alias("torders"),
    )
    lost_rev = cut_parts.groupBy("pct").agg(
        F.count(F.lit(1)).cast("bigint").alias("parts_cut"),
        F.sum("rev").cast("bigint").alias("rev_lost"),
    )
    affected = (
        li.join(
            cut_parts.select("pct", "l_partkey").distinct(), "l_partkey"
        )
        .groupBy("pct")
        .agg(
            F.countDistinct("l_orderkey").cast("bigint")
            .alias("orders_affected")
        )
    )
    return (
        lost_rev.join(affected, "pct")
        .crossJoin(F.broadcast(tot))
        .select(
            "pct",
            "parts_cut",
            F.expr("(rev_lost * 1000000) div trev").cast("bigint")
            .alias("rev_lost_ppm"),
            "orders_affected",
            F.expr("(orders_affected * 1000000) div torders")
            .cast("bigint")
            .alias("orders_affected_ppm"),
        )
        .orderBy("pct")
    )


ORACLE_Q381 = """
WITH parts AS (
  SELECT l_partkey,
         sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS rev
  FROM lineitem GROUP BY l_partkey
),
ranked AS (
  SELECT l_partkey, rev,
         CAST(row_number() OVER (ORDER BY rev, l_partkey) AS BIGINT)
           AS rk,
         CAST(count(*) OVER () AS BIGINT) AS np
  FROM parts
),
cuts(pct) AS (VALUES (10), (25), (50)),
cut_parts AS (
  SELECT CAST(pct AS BIGINT) AS pct, l_partkey, rev
  FROM ranked, cuts WHERE rk * 100 <= np * pct
),
tot AS (
  SELECT sum(CAST(round(l_extendedprice * 100) AS BIGINT)) AS trev,
         CAST(count(DISTINCT l_orderkey) AS BIGINT) AS torders
  FROM lineitem
),
lost_rev AS (
  SELECT pct, CAST(count(*) AS BIGINT) AS parts_cut,
         CAST(sum(rev) AS BIGINT) AS rev_lost
  FROM cut_parts GROUP BY pct
),
affected AS (
  SELECT pct, CAST(count(DISTINCT l_orderkey) AS BIGINT)
           AS orders_affected
  FROM lineitem JOIN (SELECT DISTINCT pct, l_partkey FROM cut_parts) c
    USING (l_partkey)
  GROUP BY pct
)
SELECT pct, parts_cut,
       CAST((rev_lost * 1000000) // trev AS BIGINT) AS rev_lost_ppm,
       orders_affected,
       CAST((orders_affected * 1000000) // torders AS BIGINT)
         AS orders_affected_ppm
FROM lost_rev JOIN affected USING (pct), tot
ORDER BY pct
"""


# q382: price-band migration matrix

def q382_price_band_migration(spark, sf_dir):
    """Year-over-year price-band migration matrix: each part's
    truncated centi-cent unit price (the q323 discipline) is banded
    into 5 rank-quintiles WITHIN each year (so the bands are
    relative, immune to inflation), and the 5x5 transition census
    between 1996 and 1997 shows which parts climbed or fell the price
    ladder — the pricing-strategy drift view (diagonal mass = stable
    pricing; off-diagonal = repositioning), a transition matrix over
    a DERIVED attribute where q129/q362 transition over raw events.
    Parts present in only one year are excluded by the inner join,
    with the matched count reported.

    Scale shape: one (year, part) agg, two year-partitioned ntile
    windows, one part-keyed self-join, one 25-cell census."""
    li = _t(spark, sf_dir, "lineitem")
    yearly = (
        li.where(F.year("l_shipdate").isin(1996, 1997))
        .groupBy(
            F.year("l_shipdate").alias("y"), F.col("l_partkey").alias("pk")
        )
        .agg(
            F.expr(
                "(sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100)"
                " div sum(CAST(l_quantity AS BIGINT))"
            ).alias("u")
        )
    )
    w = Window.partitionBy("y").orderBy("u", "pk")
    banded = yearly.select(
        "y", "pk", F.ntile(5).over(w).cast("bigint").alias("band")
    )
    a = banded.where(F.col("y") == 1996).select(
        "pk", F.col("band").alias("band_96")
    )
    b = banded.where(F.col("y") == 1997).select(
        "pk", F.col("band").alias("band_97")
    )
    cells = a.join(b, "pk").groupBy("band_96", "band_97").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts")
    )
    tot = cells.agg(F.sum("n_parts").alias("n"))
    return (
        cells.crossJoin(F.broadcast(tot))
        .select(
            "band_96",
            "band_97",
            "n_parts",
            F.expr("(n_parts * 1000000) div n").cast("bigint")
            .alias("share_ppm"),
        )
        .orderBy("band_96", "band_97")
    )


ORACLE_Q382 = """
WITH yearly AS (
  SELECT year(l_shipdate) AS y, l_partkey AS pk,
         (sum(CAST(round(l_extendedprice * 100) AS BIGINT)) * 100)
           // sum(CAST(l_quantity AS BIGINT)) AS u
  FROM lineitem WHERE year(l_shipdate) IN (1996, 1997)
  GROUP BY 1, 2
),
banded AS (
  SELECT y, pk,
         CAST(ntile(5) OVER (PARTITION BY y ORDER BY u, pk) AS BIGINT)
           AS band
  FROM yearly
),
cells AS (
  SELECT a.band AS band_96, b.band AS band_97,
         CAST(count(*) AS BIGINT) AS n_parts
  FROM (SELECT pk, band FROM banded WHERE y = 1996) a
  JOIN (SELECT pk, band FROM banded WHERE y = 1997) b USING (pk)
  GROUP BY 1, 2
),
tot AS (SELECT sum(n_parts) AS n FROM cells)
SELECT band_96, band_97, n_parts,
       CAST((n_parts * 1000000) // n AS BIGINT) AS share_ppm
FROM cells, tot
ORDER BY band_96, band_97
"""


# q383: shingle-width sensitivity sweep

def q383_shingle_width_sweep(spark, sf_dir):
    """Shingle-width sensitivity sweep — the core knob of THIS
    engine's boilerplate mining and near-dup detection, priced: for
    token-shingle widths w in {3, 5, 9}, the distinct shingle
    vocabulary, the mid-frequency candidate band (3 <= df <= 20, the
    q289 band that bounds all downstream joins), and the banded
    candidate PAIR count — wider shingles shrink the band and the
    pair workload but miss shorter templates; the sweep shows the
    trade on this corpus instead of folklore.  Pair counts are
    Σ C(df, 2) over the band, computed from the df histogram (never
    by materializing pairs).

    Scale shape: per width one explode + distinct + df agg; pair
    counts are an arithmetic fold over the df histogram — the pair
    join itself is never run."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = F.filter(
        F.split(F.lower(F.col("text")), r"\s+"), lambda t: t != F.lit("")
    )
    out = None
    for wsize in (3, 5, 9):
        grams = F.when(
            F.size(toks) >= wsize,
            F.transform(
                F.sequence(F.lit(1), F.size(toks) - (wsize - 1)),
                lambda i: F.concat_ws(
                    " ",
                    *[F.element_at(toks, i + k) for k in range(wsize)],
                ),
            ),
        ).otherwise(F.array().cast("array<string>"))
        df_ = (
            docs.select("doc_id", F.explode(grams).alias("g"))
            .distinct()
            .groupBy("g")
            .agg(F.count(F.lit(1)).alias("df"))
        )
        row = df_.agg(
            F.lit(wsize).cast("bigint").alias("w"),
            F.count(F.lit(1)).cast("bigint").alias("vocab"),
            F.sum(
                F.when((F.col("df") >= 3) & (F.col("df") <= 20), 1)
                .otherwise(0)
            ).cast("bigint").alias("band_size"),
            F.sum(
                F.when(
                    (F.col("df") >= 3) & (F.col("df") <= 20),
                    F.expr("df * (df - 1) div 2"),
                ).otherwise(0)
            ).cast("bigint").alias("band_pairs"),
        )
        out = row if out is None else out.unionByName(row)
    return out.orderBy("w")


def _oracle_q383():
    parts = []
    for wsize in (3, 5, 9):
        concat = " || ' ' || ".join(
            f"ts[i+{k}]" for k in range(wsize)
        )
        parts.append(f"""
SELECT CAST({wsize} AS BIGINT) AS w,
       CAST(count(*) AS BIGINT) AS vocab,
       CAST(sum(CASE WHEN df BETWEEN 3 AND 20 THEN 1 ELSE 0 END)
            AS BIGINT) AS band_size,
       CAST(sum(CASE WHEN df BETWEEN 3 AND 20
                THEN df * (df - 1) // 2 ELSE 0 END) AS BIGINT)
         AS band_pairs
FROM (
  SELECT g, count(*) AS df FROM (
    SELECT DISTINCT doc_id, g FROM (
      SELECT doc_id,
             unnest(list_transform(
               range(1, greatest(len(ts) - {wsize - 2}, 1)),
               i -> {concat})) AS g
      FROM (
        SELECT doc_id,
               list_filter(string_split_regex(lower(text), '\\s+'),
                           t -> t <> '') AS ts
        FROM documents
      ) WHERE len(ts) >= {wsize}
    )
  ) GROUP BY g
)""")
    return "\nUNION ALL".join(parts) + "\nORDER BY w"


# q384: direct standardization (age-adjustment) audit

def q384_direct_standardization(spark, sf_dir):
    """Direct standardization — epidemiology's age-adjustment,
    applied to the parity split: the crude error-rate gap between
    odd and even users versus the gap AFTER standardizing both arms
    to the pooled activity-decile structure (each stratum's rate in
    truncated ppm, weight-summed by the pooled stratum sizes — the
    truncation point is at the stratum level and is spec'd, not
    hidden).  If the crude gap shrinks under standardization, the
    "effect" was composition (who is in each arm), not behavior —
    the q286 Simpson audit gives the warning, standardization gives
    the corrected number.

    Scale shape: one per-user agg, one pooled ntile, one (arm,
    stratum) cell agg, 10-row weighted folds."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("event_type") == "error", 1).otherwise(0))
        .cast("bigint")
        .alias("e"),
    )
    w = Window.orderBy("n", "user_id")
    strat = users.select(
        (F.col("user_id") % 2 == 1).alias("treated"),
        F.ntile(10).over(w).cast("bigint").alias("s"),
        "n",
        "e",
    )
    cells = strat.groupBy("treated", "s").agg(
        F.sum("n").alias("n_ev"), F.sum("e").alias("e_ev")
    )
    sizes = strat.groupBy("s").agg(F.sum("n").alias("w_s"))
    rates = cells.select(
        "treated",
        "s",
        F.expr("(e_ev * 1000000) div n_ev").alias("rate_ppm"),
    )
    std = (
        rates.join(F.broadcast(sizes), "s")
        .groupBy("treated")
        .agg(
            F.expr("sum(rate_ppm * w_s) div sum(w_s)")
            .cast("bigint")
            .alias("std_rate_ppm")
        )
    )
    crude = cells.groupBy("treated").agg(
        F.expr("(sum(e_ev) * 1000000) div sum(n_ev)")
        .cast("bigint")
        .alias("crude_ppm")
    )
    t = std.where(F.col("treated")).select(
        F.col("std_rate_ppm").alias("std_t")
    )
    c = std.where(~F.col("treated")).select(
        F.col("std_rate_ppm").alias("std_c")
    )
    tc = crude.where(F.col("treated")).select(
        F.col("crude_ppm").alias("crude_t")
    )
    cc = crude.where(~F.col("treated")).select(
        F.col("crude_ppm").alias("crude_c")
    )
    return (
        tc.crossJoin(F.broadcast(cc))
        .crossJoin(F.broadcast(t))
        .crossJoin(F.broadcast(c))
        .select(
            "crude_t",
            "crude_c",
            (F.col("crude_t") - F.col("crude_c")).cast("bigint")
            .alias("crude_gap_ppm"),
            "std_t",
            "std_c",
            (F.col("std_t") - F.col("std_c")).cast("bigint")
            .alias("std_gap_ppm"),
        )
    )


ORACLE_Q384 = """
WITH users AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'error' THEN 1 ELSE 0 END)
              AS BIGINT) AS e
  FROM events GROUP BY user_id
),
strat AS (
  SELECT (user_id % 2 = 1) AS treated,
         CAST(ntile(10) OVER (ORDER BY n, user_id) AS BIGINT) AS s,
         n, e
  FROM users
),
cells AS (
  SELECT treated, s, sum(n) AS n_ev, sum(e) AS e_ev
  FROM strat GROUP BY 1, 2
),
sizes AS (SELECT s, sum(n) AS w_s FROM strat GROUP BY s),
rates AS (
  SELECT treated, s, (e_ev * 1000000) // n_ev AS rate_ppm FROM cells
),
std AS (
  SELECT treated,
         CAST(sum(rate_ppm * w_s) // sum(w_s) AS BIGINT) AS std_rate_ppm
  FROM rates JOIN sizes USING (s) GROUP BY treated
),
crude AS (
  SELECT treated,
         CAST((sum(e_ev) * 1000000) // sum(n_ev) AS BIGINT) AS crude_ppm
  FROM cells GROUP BY treated
)
SELECT
  (SELECT crude_ppm FROM crude WHERE treated) AS crude_t,
  (SELECT crude_ppm FROM crude WHERE NOT treated) AS crude_c,
  CAST((SELECT crude_ppm FROM crude WHERE treated)
       - (SELECT crude_ppm FROM crude WHERE NOT treated) AS BIGINT)
    AS crude_gap_ppm,
  (SELECT std_rate_ppm FROM std WHERE treated) AS std_t,
  (SELECT std_rate_ppm FROM std WHERE NOT treated) AS std_c,
  CAST((SELECT std_rate_ppm FROM std WHERE treated)
       - (SELECT std_rate_ppm FROM std WHERE NOT treated) AS BIGINT)
    AS std_gap_ppm
"""


# q385: load-duration curve and load factor

def q385_load_duration_curve(spark, sf_dir):
    """Load-duration curve of hourly event traffic — the
    power-systems capacity artifact: hours sorted by load descending,
    read at the 9 deciles (exact rank-pinned picks over the DENSE
    hour spine, a silent hour being zero load), plus the load factor
    (mean/peak in ppm) — the one chart that says how much provisioned
    peak capacity sits idle (a load factor of 300000 ppm means 70% of
    peak is idle on average).  q300/q354 look at the time ORDER of
    the series; the duration curve deliberately erases it.

    Scale shape: one hour agg + spine, one sort, 9 rank picks and a
    2-moment fold — series-scale."""
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
    hourly = spine.join(obs, "h", "left").na.fill({"x": 0}) \
        .localCheckpoint(eager=True)
    w = Window.orderBy(F.desc("x"), "h")
    ranked = hourly.select(
        "x", F.row_number().over(w).cast("bigint").alias("rk")
    )
    n_ = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("s"),
        F.max("x").cast("bigint").alias("peak"),
    )
    ks = spark.range(1, 10).select(F.col("id").cast("bigint").alias("k"))
    picks = (
        ranked.crossJoin(F.broadcast(n_))
        .join(
            F.broadcast(ks),
            F.col("rk")
            == F.expr("greatest(CAST(1 AS BIGINT), (n * k) div 10)"),
        )
        .groupBy("k")
        .agg(F.max("x").cast("bigint").alias("load_at_decile"))
    )
    lf = n_.select(
        F.lit(0).cast("bigint").alias("k"),
        F.expr("(s * 1000000) div (n * peak)").cast("bigint")
        .alias("load_at_decile"),
    )
    return picks.unionByName(lf).orderBy("k")


ORACLE_Q385 = """
WITH obs AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT)
          - CAST(floor(epoch(ts)) AS BIGINT) % 3600) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM obs),
hourly AS (
  SELECT s.h, coalesce(obs.x, 0) AS x
  FROM (SELECT unnest(range(h0, h1 + 1, 3600)) AS h FROM b) s
  LEFT JOIN obs ON obs.h = s.h
),
ranked AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x DESC, h) AS BIGINT) AS rk
  FROM hourly
),
n_ AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS s,
         CAST(max(x) AS BIGINT) AS peak
  FROM ranked
),
picks AS (
  SELECT CAST(k.range AS BIGINT) AS k,
         CAST(max(x) AS BIGINT) AS load_at_decile
  FROM ranked, n_, range(1, 10) k
  WHERE rk = greatest(CAST(1 AS BIGINT), (n * k.range) // 10)
  GROUP BY 1
)
SELECT * FROM (
  SELECT k, load_at_decile FROM picks
  UNION ALL
  SELECT CAST(0 AS BIGINT), CAST((s * 1000000) // (n * peak) AS BIGINT)
  FROM n_
) ORDER BY k
"""


# q386: order-line fragmentation audit

def q386_line_fragmentation(spark, sf_dir):
    """Order-line fragmentation audit: the same (order, part)
    appearing on MULTIPLE lines is pure processing waste (each line
    is picked, packed and invoiced separately), and this audit
    censuses it — orders with fragmentation, fragmented (order, part)
    groups by line count, the excess lines that consolidation would
    eliminate, and the share of all lines that are redundant, all
    exact integers — the EDI hygiene number an order-management
    review opens with.

    Scale shape: one (order, part) agg with map-side partials, one
    histogram agg, one fold — no joins."""
    li = _t(spark, sf_dir, "lineitem")
    groups = li.groupBy("l_orderkey", "l_partkey").agg(
        F.count(F.lit(1)).cast("bigint").alias("k")
    )
    hist = groups.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_groups")
    )
    return hist.agg(
        F.sum(F.expr("k * n_groups")).cast("bigint").alias("n_lines"),
        F.sum("n_groups").cast("bigint").alias("n_groups"),
        F.sum(F.when(F.col("k") > 1, F.col("n_groups")).otherwise(0))
        .cast("bigint")
        .alias("fragmented_groups"),
        F.sum(
            F.when(F.col("k") > 1, (F.col("k") - 1) * F.col("n_groups"))
            .otherwise(0)
        ).cast("bigint").alias("excess_lines"),
        F.expr(
            "(sum(CASE WHEN k > 1 THEN (k - 1) * n_groups ELSE 0 END)"
            " * 1000000) div sum(k * n_groups)"
        ).cast("bigint").alias("redundant_line_ppm"),
        F.max("k").cast("bigint").alias("worst_fragmentation"),
    )


ORACLE_Q386 = """
WITH groups AS (
  SELECT l_orderkey, l_partkey, CAST(count(*) AS BIGINT) AS k
  FROM lineitem GROUP BY 1, 2
),
hist AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_groups FROM groups GROUP BY k
)
SELECT CAST(sum(k * n_groups) AS BIGINT) AS n_lines,
       CAST(sum(n_groups) AS BIGINT) AS n_groups,
       CAST(sum(CASE WHEN k > 1 THEN n_groups ELSE 0 END) AS BIGINT)
         AS fragmented_groups,
       CAST(sum(CASE WHEN k > 1 THEN (k - 1) * n_groups ELSE 0 END)
            AS BIGINT) AS excess_lines,
       CAST((sum(CASE WHEN k > 1 THEN (k - 1) * n_groups ELSE 0 END)
             * 1000000) // sum(k * n_groups) AS BIGINT)
         AS redundant_line_ppm,
       CAST(max(k) AS BIGINT) AS worst_fragmentation
FROM hist
"""


# q387: attribution lookback sensitivity sweep

def q387_attribution_lookback(spark, sf_dir):
    """Attribution-lookback sensitivity: how many purchases get
    credited to a prior view as the lookback window sweeps
    1h / 6h / 24h / 7d — the marketing knob that silently moves
    revenue between 'organic' and 'attributed' (q174/q229 pick ONE
    window and allocate credit; this prices the window itself, the
    q350 knob-sweep discipline applied to attribution).  A purchase
    is credited iff the same user has ANY view within the window
    before it — an EXISTS per candidate window, computed as one
    per-user window max over view times (never a fan-out join), so a
    purchase counts once per window size regardless of view count.

    Scale shape: one per-user ordered window pass carrying the
    last-view timestamp, then a 4-candidate map-side fold."""
    ev = _t(spark, sf_dir, "events")
    w = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    )
    base = ev.where(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        "event_type",
    ).withColumn(
        "last_view",
        F.max(
            F.when(F.col("event_type") == "view", F.col("sec"))
        ).over(w),
    )
    purchases = base.where(F.col("event_type") == "purchase").select(
        "sec", "last_view"
    )
    cands = spark.createDataFrame(
        [(3600,), (21600,), (86400,), (604800,)], ["lb"]
    ).select(F.col("lb").cast("bigint").alias("lb"))
    swept = purchases.join(F.broadcast(cands)).groupBy("lb").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_purchases"),
        F.sum(
            F.when(
                F.col("last_view").isNotNull()
                & (F.col("sec") - F.col("last_view") <= F.col("lb")),
                1,
            ).otherwise(0)
        ).cast("bigint").alias("credited"),
    )
    return swept.select(
        "lb",
        "n_purchases",
        "credited",
        F.expr("(credited * 1000000) div n_purchases")
        .cast("bigint")
        .alias("credited_ppm"),
    ).orderBy("lb")


ORACLE_Q387 = """
WITH base AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
         event_type,
         max(CASE WHEN event_type = 'view'
                  THEN CAST(floor(epoch(ts)) AS BIGINT) END)
           OVER (PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS last_view
  FROM events WHERE event_type IN ('view', 'purchase')
),
purchases AS (
  SELECT sec, last_view FROM base WHERE event_type = 'purchase'
),
cands(lb) AS (VALUES (3600), (21600), (86400), (604800))
SELECT CAST(lb AS BIGINT) AS lb,
       CAST(count(*) AS BIGINT) AS n_purchases,
       CAST(sum(CASE WHEN last_view IS NOT NULL
                      AND sec - last_view <= lb THEN 1 ELSE 0 END)
            AS BIGINT) AS credited,
       CAST((sum(CASE WHEN last_view IS NOT NULL
                       AND sec - last_view <= lb THEN 1 ELSE 0 END)
             * 1000000) // count(*) AS BIGINT) AS credited_ppm
FROM purchases, cands
GROUP BY lb
ORDER BY lb
"""


# q388: new-vs-returning revenue mix

def q388_new_returning_mix(spark, sf_dir):
    """New-vs-returning revenue mix by month: each order classed by
    whether it falls in its customer's FIRST order month or a return visit, and each month's revenue split
    accordingly with the new share in exact ppm — the e-commerce
    health mix (a business where the new share never falls is a
    business that never retains; q357 counts USERS through lifecycle
    states, this follows the MONEY).  First-month ties (several
    orders in the debut month) all count as new — the convention is
    pinned, not incidental.

    Scale shape: one per-customer first-month agg broadcast back, one
    (month, class) revenue agg — two shuffles total."""
    orders = _t(spark, sf_dir, "orders")
    month = F.expr("year(o_orderdate) * 12 + month(o_orderdate)")
    first = orders.groupBy("o_custkey").agg(
        F.min(month).alias("debut")
    )
    classed = orders.join(F.broadcast(first), "o_custkey").select(
        month.cast("bigint").alias("m"),
        (month == F.col("debut")).alias("is_new"),
        F.expr("CAST(round(o_totalprice * 100) AS BIGINT)").alias("c"),
    )
    return (
        classed.groupBy("m")
        .agg(
            F.sum(F.when(F.col("is_new"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("new_cents"),
            F.sum(F.when(~F.col("is_new"), F.col("c")).otherwise(0))
            .cast("bigint")
            .alias("returning_cents"),
        )
        .select(
            "m",
            "new_cents",
            "returning_cents",
            F.expr(
                "(new_cents * 1000000) div (new_cents + returning_cents)"
            ).cast("bigint").alias("new_share_ppm"),
        )
        .orderBy("m")
    )


ORACLE_Q388 = """
WITH first AS (
  SELECT o_custkey,
         min(year(o_orderdate) * 12 + month(o_orderdate)) AS debut
  FROM orders GROUP BY o_custkey
),
classed AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT)
           AS m,
         (year(o_orderdate) * 12 + month(o_orderdate) = debut) AS is_new,
         CAST(round(o_totalprice * 100) AS BIGINT) AS c
  FROM orders JOIN first USING (o_custkey)
)
SELECT m,
       CAST(sum(CASE WHEN is_new THEN c ELSE 0 END) AS BIGINT)
         AS new_cents,
       CAST(sum(CASE WHEN NOT is_new THEN c ELSE 0 END) AS BIGINT)
         AS returning_cents,
       CAST((sum(CASE WHEN is_new THEN c ELSE 0 END) * 1000000)
            // sum(c) AS BIGINT) AS new_share_ppm
FROM classed
GROUP BY m ORDER BY m
"""


# q389: inter-purchase renewal diagnostics

def q389_renewal_diagnostics(spark, sf_dir):
    """Inter-purchase renewal diagnostics on the pooled gap
    distribution: mean and exact median gap with their ratio in
    milli (an exponential renewal process pins mean/median at
    1/ln 2 ≈ 1443 milli — distance from 1443 is distance from
    memorylessness), plus the lag-1 correlation of CONSECUTIVE gaps
    within a user (clumping: bursts of buying violate renewal
    independence even when the marginal distribution looks
    exponential).  Mean/median machinery is rank-pinned exact; the
    correlation is the q291 five-moment + one-sqrt discipline.

    Scale shape: one per-user lag pass for gaps, one sort for the
    median, one moment fold for the correlation — gap-relation
    scale."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_timestamp("ts").alias("sec"),
            "event_id",
        )
        .withColumn("gap", F.col("sec") - F.lag("sec").over(w))
        .withColumn("prev_gap", F.lag("gap").over(w))
        .where(F.col("gap").isNotNull())
        .localCheckpoint(eager=True)
    )
    rw = Window.orderBy("gap", "user_id", "sec")
    ranked = gaps.select(
        "gap", F.row_number().over(rw).cast("bigint").alias("rk")
    )
    nm = ranked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("gap").cast("bigint").alias("s"),
    )
    med = (
        ranked.crossJoin(F.broadcast(nm))
        .where(F.col("rk") == F.expr("(n + 1) div 2"))
        .select(F.col("gap").alias("median_gap"))
    )
    pairs = gaps.where(F.col("prev_gap").isNotNull())
    mom = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("prev_gap").cast("bigint").alias("sx"),
        F.sum("gap").cast("bigint").alias("sy"),
        F.sum(F.col("prev_gap") * F.col("gap")).cast("bigint").alias("sxy"),
        F.sum(F.col("prev_gap") * F.col("prev_gap")).cast("bigint")
        .alias("sxx"),
        F.sum(F.col("gap") * F.col("gap")).cast("bigint").alias("syy"),
    )
    return (
        nm.crossJoin(F.broadcast(med))
        .crossJoin(F.broadcast(mom))
        .select(
            "n",
            F.expr("(s * 1000) div n").cast("bigint").alias("mean_gap_milli_s"),
            F.col("median_gap").cast("bigint").alias("median_gap_s"),
            F.expr("(s * 1000) div (n * median_gap)")
            .cast("bigint")
            .alias("mean_over_median_milli"),
            F.expr(
                "CAST(floor(1000.0 * CAST(m * sxy - sx * sy AS DOUBLE)"
                " / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)"
                " * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT)"
            ).alias("gap_autocorr_milli"),
        )
    )


ORACLE_Q389 = """
WITH gaps AS (
  SELECT user_id, sec, gap,
         lag(gap) OVER (PARTITION BY user_id ORDER BY sec, event_id)
           AS prev_gap
  FROM (
    SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
           CAST(floor(epoch(ts)) AS BIGINT)
             - lag(CAST(floor(epoch(ts)) AS BIGINT)) OVER (
                 PARTITION BY user_id
                 ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
             AS gap
    FROM events WHERE event_type = 'purchase'
  ) WHERE gap IS NOT NULL
),
ranked AS (
  SELECT gap,
         CAST(row_number() OVER (ORDER BY gap, user_id, sec) AS BIGINT)
           AS rk
  FROM gaps
),
nm AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(gap) AS BIGINT) AS s
  FROM ranked
),
med AS (
  SELECT gap AS median_gap FROM ranked, nm WHERE rk = (n + 1) // 2
),
mom AS (
  SELECT count(*) AS m, sum(prev_gap) AS sx, sum(gap) AS sy,
         sum(prev_gap * gap) AS sxy, sum(prev_gap * prev_gap) AS sxx,
         sum(gap * gap) AS syy
  FROM gaps WHERE prev_gap IS NOT NULL
)
SELECT n,
       CAST((s * 1000) // n AS BIGINT) AS mean_gap_milli_s,
       CAST(median_gap AS BIGINT) AS median_gap_s,
       CAST((s * 1000) // (n * median_gap) AS BIGINT)
         AS mean_over_median_milli,
       CAST(floor(1000.0 * CAST(m * sxy - sx * sy AS DOUBLE)
            / sqrt(CAST(m * sxx - sx * sx AS DOUBLE)
                   * CAST(m * syy - sy * sy AS DOUBLE))) AS BIGINT)
         AS gap_autocorr_milli
FROM nm, med, mom
"""


# q390: peak-shaving counterfactual

def q390_peak_shaving(spark, sf_dir):
    """Peak-shaving counterfactual on hourly load: clip every hour
    above the exact rank-pinned 95th percentile to that level and
    report what capacity planning actually buys — shaved volume, the
    new peak, the capacity saved vs the old peak in ppm, and how many
    hours were touched (q385 shows WHERE the duration curve is
    steep; this prices flattening its top).  Deferred-work semantics
    are out of scope and said so: the counterfactual measures
    capacity, not queueing.

    Scale shape: one hour agg + dense spine, one sort for the p95
    pick, one broadcast clip fold."""
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
    hourly = spine.join(obs, "h", "left").na.fill({"x": 0}) \
        .localCheckpoint(eager=True)
    w = Window.orderBy("x", "h")
    ranked = hourly.select(
        "x", F.row_number().over(w).cast("bigint").alias("rk")
    )
    n_ = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    p95 = (
        ranked.crossJoin(F.broadcast(n_))
        .where(
            F.col("rk")
            == F.expr("greatest(CAST(1 AS BIGINT), (n * 95) div 100)")
        )
        .select(F.col("x").alias("cap"))
    )
    return (
        hourly.crossJoin(F.broadcast(p95))
        .agg(
            F.max("x").cast("bigint").alias("old_peak"),
            F.max("cap").cast("bigint").alias("clip_level"),
            F.sum(
                F.expr("greatest(x - cap, CAST(0 AS BIGINT))")
            ).cast("bigint").alias("shaved_volume"),
            F.sum(F.when(F.col("x") > F.col("cap"), 1).otherwise(0))
            .cast("bigint")
            .alias("hours_touched"),
            F.expr(
                "((max(x) - max(cap)) * 1000000) div max(x)"
            ).cast("bigint").alias("capacity_saved_ppm"),
        )
    )


ORACLE_Q390 = """
WITH obs AS (
  SELECT (CAST(floor(epoch(ts)) AS BIGINT)
          - CAST(floor(epoch(ts)) AS BIGINT) % 3600) AS h,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM obs),
hourly AS (
  SELECT s.h, coalesce(obs.x, 0) AS x
  FROM (SELECT unnest(range(h0, h1 + 1, 3600)) AS h FROM b) s
  LEFT JOIN obs ON obs.h = s.h
),
ranked AS (
  SELECT x, CAST(row_number() OVER (ORDER BY x, h) AS BIGINT) AS rk
  FROM hourly
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
p95 AS (
  SELECT x AS cap FROM ranked, n_
  WHERE rk = greatest(CAST(1 AS BIGINT), (n * 95) // 100)
)
SELECT CAST(max(x) AS BIGINT) AS old_peak,
       CAST(max(cap) AS BIGINT) AS clip_level,
       CAST(sum(greatest(x - cap, 0)) AS BIGINT) AS shaved_volume,
       CAST(sum(CASE WHEN x > cap THEN 1 ELSE 0 END) AS BIGINT)
         AS hours_touched,
       CAST(((max(x) - max(cap)) * 1000000) // max(x) AS BIGINT)
         AS capacity_saved_ppm
FROM hourly, p95
"""


# q391: behavior-trigram novelty drift

def q391_behavior_novelty(spark, sf_dir):
    """Behavioral-sequence novelty drift: the share of second-half
    action TRIGRAM types (three consecutive event types within a
    user, the q336 succession order) that never occurred in the
    first half, plus the occurrence mass those novel patterns carry
    — sequence-level drift that q362's per-state transition TV
    smooths over (a brand-new three-step pattern can leave every
    1-step conditional untouched).  Halves split per user at the
    midpoint (q362 convention; trigrams never span the boundary).

    Scale shape: one per-user rank + two lead columns, one
    (half, trigram) agg, one anti-join of type tables, two folds."""
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
    tri = (
        tagged.select(
            "half",
            F.col("event_type").alias("a"),
            F.lead("event_type", 1).over(wh).alias("b"),
            F.lead("event_type", 2).over(wh).alias("c"),
        )
        .where(F.col("b").isNotNull() & F.col("c").isNotNull())
        .groupBy("half", "a", "b", "c")
        .agg(F.count(F.lit(1)).alias("n"))
        .localCheckpoint(eager=True)
    )
    h1 = tri.where(F.col("half") == 1).select("a", "b", "c")
    h2 = tri.where(F.col("half") == 2)
    novel = h2.join(h1, ["a", "b", "c"], "left_anti")
    tot2 = h2.agg(
        F.count(F.lit(1)).cast("bigint").alias("types2"),
        F.sum("n").cast("bigint").alias("mass2"),
    )
    nov = novel.agg(
        F.count(F.lit(1)).cast("bigint").alias("novel_types"),
        F.coalesce(F.sum("n"), F.lit(0)).cast("bigint").alias("novel_mass"),
    )
    return tot2.crossJoin(F.broadcast(nov)).select(
        "types2",
        "novel_types",
        F.expr("(novel_types * 1000000) div types2").cast("bigint")
        .alias("novel_type_ppm"),
        "mass2",
        "novel_mass",
        F.expr("(novel_mass * 1000000) div mass2").cast("bigint")
        .alias("novel_mass_ppm"),
    )


ORACLE_Q391 = """
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
tri AS (
  SELECT half, a, b, c, count(*) AS n FROM (
    SELECT half, event_type AS a,
           lead(event_type, 1) OVER (PARTITION BY user_id, half
                                     ORDER BY ts, event_id) AS b,
           lead(event_type, 2) OVER (PARTITION BY user_id, half
                                     ORDER BY ts, event_id) AS c
    FROM tagged
  ) WHERE b IS NOT NULL AND c IS NOT NULL
  GROUP BY 1, 2, 3, 4
),
h2 AS (SELECT * FROM tri WHERE half = 2),
novel AS (
  SELECT h2.* FROM h2
  WHERE NOT EXISTS (
    SELECT 1 FROM tri t1 WHERE t1.half = 1
      AND t1.a = h2.a AND t1.b = h2.b AND t1.c = h2.c)
),
tot2 AS (
  SELECT CAST(count(*) AS BIGINT) AS types2,
         CAST(sum(n) AS BIGINT) AS mass2 FROM h2
),
nov AS (
  SELECT CAST(count(*) AS BIGINT) AS novel_types,
         CAST(coalesce(sum(n), 0) AS BIGINT) AS novel_mass FROM novel
)
SELECT types2, novel_types,
       CAST((novel_types * 1000000) // types2 AS BIGINT)
         AS novel_type_ppm,
       mass2, novel_mass,
       CAST((novel_mass * 1000000) // mass2 AS BIGINT) AS novel_mass_ppm
FROM tot2, nov
"""


# q392: exposure-frequency response curve

def q392_exposure_response(spark, sf_dir):
    """Exposure-frequency response curve (ad-fatigue evidence): for
    each view, its per-user EXPOSURE INDEX (1st view, 2nd view, ...,
    capped at 10+), and whether a purchase followed within one hour —
    the conversion rate by exposure count that frequency-capping
    decisions are made from (rising then falling = fatigue; q194's
    COEC corrects position bias, this measures repetition bias).
    "Followed by" is the next-purchase time via one backward-looking
    window from the purchase side (min purchase time after each
    view), never a fan-out join; rates in exact ppm.

    Scale shape: per-user ordered window pass carrying exposure
    index and next-purchase time, one <=10-row census."""
    ev = _t(spark, sf_dir, "events")
    base = ev.where(
        F.col("event_type").isin("view", "purchase")
    ).select(
        "user_id",
        F.unix_timestamp("ts").alias("sec"),
        "event_id",
        "event_type",
    )
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    wfut = (
        Window.partitionBy("user_id")
        .orderBy("sec", "event_id")
        .rowsBetween(1, Window.unboundedFollowing)
    )
    tagged = base.withColumn(
        "expo",
        F.sum(
            F.when(F.col("event_type") == "view", 1).otherwise(0)
        ).over(w),
    ).withColumn(
        "next_purchase",
        F.min(
            F.when(F.col("event_type") == "purchase", F.col("sec"))
        ).over(wfut),
    )
    views = tagged.where(F.col("event_type") == "view").select(
        F.expr("least(expo, CAST(10 AS BIGINT))").alias("k"),
        (
            F.col("next_purchase").isNotNull()
            & (F.col("next_purchase") - F.col("sec") <= 3600)
        ).alias("converted"),
    )
    return (
        views.groupBy("k")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_views"),
            F.sum(F.when(F.col("converted"), 1).otherwise(0))
            .cast("bigint")
            .alias("n_converted"),
        )
        .select(
            "k",
            "n_views",
            "n_converted",
            F.expr("(n_converted * 1000000) div n_views")
            .cast("bigint")
            .alias("cvr_ppm"),
        )
        .orderBy("k")
    )


ORACLE_Q392 = """
WITH base AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec, event_id,
         event_type
  FROM events WHERE event_type IN ('view', 'purchase')
),
tagged AS (
  SELECT *,
         sum(CASE WHEN event_type = 'view' THEN 1 ELSE 0 END)
           OVER (PARTITION BY user_id ORDER BY sec, event_id
                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS expo,
         min(CASE WHEN event_type = 'purchase' THEN sec END)
           OVER (PARTITION BY user_id ORDER BY sec, event_id
                 ROWS BETWEEN 1 FOLLOWING AND UNBOUNDED FOLLOWING)
           AS next_purchase
  FROM base
),
views AS (
  SELECT least(expo, 10) AS k,
         (next_purchase IS NOT NULL AND next_purchase - sec <= 3600)
           AS converted
  FROM tagged WHERE event_type = 'view'
)
SELECT CAST(k AS BIGINT) AS k,
       CAST(count(*) AS BIGINT) AS n_views,
       CAST(sum(CASE WHEN converted THEN 1 ELSE 0 END) AS BIGINT)
         AS n_converted,
       CAST((sum(CASE WHEN converted THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS cvr_ppm
FROM views
GROUP BY k ORDER BY k
"""


# q393: exact Shapley channel attribution

def q393_shapley_attribution(spark, sf_dir):
    """Exact Shapley-value channel attribution over the 4-channel
    universe {click, error, signup, view}: each converter's
    pre-first-purchase touch set becomes a 4-bit mask, the coalition
    value v(S) counts converters whose mask is CONTAINED in S, and
    the Shapley sum runs over all 32 (channel, coalition) terms with
    the exact factorial weights {6,2,2,6}/24 — the game-theoretic
    answer to the credit question q174 (last-touch), q229 (linear)
    and q387 (lookback sweep) each answer by fiat.  phi_x24 is the
    EXACT integer 24*phi (no rounding anywhere); phi_milli is its
    display form.  Efficiency axiom (sum phi = v(full) - v(empty))
    holds by construction and is replay-asserted.

    Scale shape: one per-user first-purchase agg + one user-equi join
    for touches + one mask census; everything after the 16-row mask
    census is metadata-scale broadcast algebra — the factorial
    enumeration never touches the corpus."""
    ev = _t(spark, sf_dir, "events")
    conv = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(F.min("ts").alias("fp"))
    )
    touches = ev.where(
        F.col("event_type").isin("click", "error", "signup", "view")
    ).select(
        F.col("user_id").alias("t_uid"),
        F.col("ts").alias("t_ts"),
        "event_type",
    )
    masks = (
        conv.join(
            touches,
            (F.col("t_uid") == F.col("user_id"))
            & (F.col("t_ts") < F.col("fp")),
            "left",
        )
        .groupBy("user_id")
        .agg(
            (
                F.max(
                    F.when(F.col("event_type") == "click", 1).otherwise(0)
                )
                + F.max(
                    F.when(F.col("event_type") == "error", 1).otherwise(0)
                )
                * 2
                + F.max(
                    F.when(F.col("event_type") == "signup", 1).otherwise(0)
                )
                * 4
                + F.max(
                    F.when(F.col("event_type") == "view", 1).otherwise(0)
                )
                * 8
            )
            .cast("bigint")
            .alias("mask")
        )
    )
    cnt = masks.groupBy("mask").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    subsets = spark.range(16).select(F.col("id").cast("bigint").alias("s"))
    v = (
        subsets.join(
            F.broadcast(cnt),
            F.expr("(mask & s) = mask"),
            "left",
        )
        .groupBy("s")
        .agg(F.coalesce(F.sum("c"), F.lit(0)).cast("bigint").alias("v"))
    )
    channels = spark.createDataFrame(
        [("click", 1), ("error", 2), ("signup", 4), ("view", 8)],
        "channel string, bit bigint",
    )
    vs = v.select(F.col("s").alias("s0"), F.col("v").alias("v0"))
    vsc = v.select(F.col("s").alias("s1"), F.col("v").alias("v1"))
    pairs = (
        channels.join(F.broadcast(vs), F.expr("(s0 & bit) = 0"))
        .join(F.broadcast(vsc), F.expr("s1 = s0 + bit"))
        .select(
            "channel",
            F.expr(
                "CASE (s0 div 1) % 2 + (s0 div 2) % 2"
                "   + (s0 div 4) % 2 + (s0 div 8) % 2"
                " WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END"
                " * (v1 - v0)"
            ).alias("term"),
        )
    )
    return (
        pairs.groupBy("channel")
        .agg(F.sum("term").cast("bigint").alias("phi_x24"))
        .select(
            "channel",
            "phi_x24",
            F.expr("(phi_x24 * 1000) div 24").cast("bigint")
            .alias("phi_milli"),
        )
        .orderBy("channel")
    )


ORACLE_Q393 = """
WITH conv AS (
  SELECT user_id, min(ts) AS fp FROM events
  WHERE event_type = 'purchase' GROUP BY 1
),
masks AS (
  SELECT c.user_id,
         CAST(max(CASE WHEN e.event_type = 'click' THEN 1 ELSE 0 END)
              + max(CASE WHEN e.event_type = 'error' THEN 1 ELSE 0 END) * 2
              + max(CASE WHEN e.event_type = 'signup' THEN 1 ELSE 0 END) * 4
              + max(CASE WHEN e.event_type = 'view' THEN 1 ELSE 0 END) * 8
              AS BIGINT) AS mask
  FROM conv c LEFT JOIN events e
    ON e.user_id = c.user_id AND e.ts < c.fp
   AND e.event_type IN ('click', 'error', 'signup', 'view')
  GROUP BY 1
),
cnt AS (SELECT mask, CAST(count(*) AS BIGINT) AS c FROM masks GROUP BY 1),
subsets AS (SELECT CAST(unnest(range(16)) AS BIGINT) AS s),
v AS (
  SELECT s, CAST(coalesce(sum(c), 0) AS BIGINT) AS v
  FROM subsets LEFT JOIN cnt ON (mask & s) = mask
  GROUP BY 1
),
channels AS (
  SELECT * FROM (VALUES ('click', CAST(1 AS BIGINT)),
                        ('error', CAST(2 AS BIGINT)),
                        ('signup', CAST(4 AS BIGINT)),
                        ('view', CAST(8 AS BIGINT))) t(channel, bit)
),
pairs AS (
  SELECT channel,
         CASE (v0.s // 1) % 2 + (v0.s // 2) % 2
            + (v0.s // 4) % 2 + (v0.s // 8) % 2
           WHEN 0 THEN 6 WHEN 1 THEN 2 WHEN 2 THEN 2 ELSE 6 END
         * (v1.v - v0.v) AS term
  FROM channels
  JOIN v v0 ON (v0.s & channels.bit) = 0
  JOIN v v1 ON v1.s = v0.s + channels.bit
)
SELECT channel, CAST(sum(term) AS BIGINT) AS phi_x24,
       CAST((sum(term) * 1000) // 24 AS BIGINT) AS phi_milli
FROM pairs GROUP BY 1 ORDER BY 1
"""


# q394: FCFS queue waiting-time replay (Lindley recurrence)

def q394_queue_replay(spark, sf_dir):
    """Single-server FCFS queue replay per event_type endpoint: exact
    per-job waiting times via the Lindley recurrence
    W_{k+1} = max(0, W_k + s_k - interarrival), solved IN CLOSED FORM
    as one window pass — W_k = max(0, Q_k - min_{j<k} Q_j) where Q is
    the running sum of (service - interarrival) — so the inherently
    sequential recurrence costs two frames, not a sequential fold.
    Service is deterministic and LOAD-PROPORTIONAL: the per-queue
    budget is 3/4 of the observed mean interarrival, jittered by
    event_id over [4/7, 10/7] of the budget, so the replay exercises
    real contention (util ~ 0.75, bursty-arrival waiting) at EVERY
    scale factor instead of degenerating to zero waits.  Where q355
    (Little's law) and q227 (peak concurrency) describe load, this
    prices it: utilization, mean/max wait, and the fraction of jobs
    that waited at all, all exact integers.

    Scale shape: one per-queue stats agg (broadcast back), then one
    per-queue ordered window pass (the per-queue order is inherent to
    FCFS — the queue IS a total order) + one per-queue agg; queues
    partition the stream, so N queues = N-way parallelism."""
    ev = _t(spark, sf_dir, "events")
    arrivals = ev.select(
        F.col("event_type").alias("queue"),
        F.unix_timestamp("ts").cast("bigint").alias("a"),
        "event_id",
    )
    stats = arrivals.groupBy("queue").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.max("a") - F.min("a")).cast("bigint").alias("span"),
    )
    jobs = arrivals.join(F.broadcast(stats), "queue").select(
        "queue",
        "a",
        "event_id",
        F.greatest(
            F.lit(1),
            F.expr(
                "((span * 3) div ((n - 1) * 4) * (4 + event_id % 7)) div 7"
            ),
        ).cast("bigint").alias("s"),
    )
    w = Window.partitionBy("queue").orderBy("a", "event_id")
    wq = w.rowsBetween(Window.unboundedPreceding, Window.currentRow)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    staged = (
        jobs.withColumn(
            "v",
            F.coalesce(
                F.lag("s").over(w) + F.lag("a").over(w) - F.col("a"),
                F.lit(0),
            ),
        )
        .withColumn("q", F.sum("v").over(wq))
        .withColumn(
            "wait",
            F.greatest(
                F.lit(0),
                F.col("q") - F.coalesce(F.min("q").over(wprev), F.col("q")),
            ),
        )
    )
    return (
        staged.groupBy("queue")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_jobs"),
            F.sum("s").cast("bigint").alias("busy_s"),
            (
                F.max(F.col("a") + F.col("wait") + F.col("s")) - F.min("a")
            ).cast("bigint").alias("makespan_s"),
            F.sum("wait").cast("bigint").alias("total_wait_s"),
            F.max("wait").cast("bigint").alias("max_wait_s"),
            F.sum(F.when(F.col("wait") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("n_waited"),
        )
        .select(
            "queue",
            "n_jobs",
            "busy_s",
            "makespan_s",
            F.expr("(busy_s * 1000000) div makespan_s").cast("bigint")
            .alias("util_ppm"),
            F.expr("(total_wait_s * 1000) div n_jobs").cast("bigint")
            .alias("mean_wait_milli"),
            "max_wait_s",
            F.expr("(n_waited * 1000000) div n_jobs").cast("bigint")
            .alias("waited_ppm"),
        )
        .orderBy("queue")
    )


ORACLE_Q394 = """
WITH arrivals AS (
  SELECT event_type AS queue, CAST(floor(epoch(ts)) AS BIGINT) AS a,
         event_id
  FROM events
),
stats AS (
  SELECT queue, CAST(count(*) AS BIGINT) AS n,
         CAST(max(a) - min(a) AS BIGINT) AS span
  FROM arrivals GROUP BY 1
),
jobs AS (
  SELECT arrivals.queue, a, event_id,
         CAST(greatest(1, ((span * 3) // ((n - 1) * 4)
                           * (4 + event_id % 7)) // 7) AS BIGINT) AS s
  FROM arrivals JOIN stats ON arrivals.queue = stats.queue
),
staged AS (
  SELECT queue, a, event_id, s,
         sum(v) OVER (PARTITION BY queue ORDER BY a, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           AS q
  FROM (
    SELECT *,
           coalesce(lag(s) OVER (PARTITION BY queue ORDER BY a, event_id)
                    + lag(a) OVER (PARTITION BY queue ORDER BY a, event_id)
                    - a, 0) AS v
    FROM jobs
  )
),
waits AS (
  SELECT queue, a, s,
         greatest(0, q - coalesce(
           min(q) OVER (PARTITION BY queue ORDER BY a, event_id
                        ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
           q)) AS wait
  FROM staged
)
SELECT queue,
       CAST(count(*) AS BIGINT) AS n_jobs,
       CAST(sum(s) AS BIGINT) AS busy_s,
       CAST(max(a + wait + s) - min(a) AS BIGINT) AS makespan_s,
       CAST((sum(s) * 1000000) // (max(a + wait + s) - min(a)) AS BIGINT)
         AS util_ppm,
       CAST((sum(wait) * 1000) // count(*) AS BIGINT) AS mean_wait_milli,
       CAST(max(wait) AS BIGINT) AS max_wait_s,
       CAST((sum(CASE WHEN wait > 0 THEN 1 ELSE 0 END) * 1000000)
            // count(*) AS BIGINT) AS waited_ppm
FROM waits GROUP BY 1 ORDER BY 1
"""


# q395: l-diversity release audit

def q395_ldiversity_audit(spark, sf_dir):
    """l-diversity audit of a would-be order release: with
    quasi-identifier (order month, priority) and sensitive attribute
    o_orderstatus, classify every equivalence class by BOTH standard
    criteria — distinct l-diversity (>= 3 distinct sensitive values)
    and frequency l-diversity (no single value holds more than a 1/3
    share) — plus the exact top-value share in ppm.  q118 suppresses
    small groups (k-anonymity, group SIZE); this audits what k-anon
    misses — a huge group whose sensitive column is near-constant
    leaks the attribute for everyone in it.

    Scale shape: one (month, priority, status) agg with map-side
    partials, then a second agg on the group-scale relation
    (months x priorities x statuses — metadata-scale)."""
    orders = _t(spark, sf_dir, "orders")
    by = orders.groupBy(
        (F.year("o_orderdate") * 12 + F.month("o_orderdate"))
        .cast("bigint")
        .alias("m"),
        F.col("o_orderpriority").alias("priority"),
        "o_orderstatus",
    ).agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    return (
        by.groupBy("m", "priority")
        .agg(
            F.sum("c").cast("bigint").alias("n_orders"),
            F.count(F.lit(1)).cast("bigint").alias("n_statuses"),
            F.max("c").cast("bigint").alias("top_c"),
        )
        .select(
            "m",
            "priority",
            "n_orders",
            "n_statuses",
            F.expr("(top_c * 1000000) div n_orders").cast("bigint")
            .alias("top_share_ppm"),
            (F.col("n_statuses") >= 3).alias("distinct_l_ok"),
            (F.col("top_c") * 3 <= F.col("n_orders")).alias("freq_l_ok"),
        )
        .orderBy("m", "priority")
    )


ORACLE_Q395 = """
WITH by AS (
  SELECT CAST(year(o_orderdate) * 12 + month(o_orderdate) AS BIGINT) AS m,
         o_orderpriority AS priority, o_orderstatus,
         CAST(count(*) AS BIGINT) AS c
  FROM orders GROUP BY 1, 2, 3
)
SELECT m, priority,
       CAST(sum(c) AS BIGINT) AS n_orders,
       CAST(count(*) AS BIGINT) AS n_statuses,
       CAST((max(c) * 1000000) // sum(c) AS BIGINT) AS top_share_ppm,
       count(*) >= 3 AS distinct_l_ok,
       max(c) * 3 <= sum(c) AS freq_l_ok
FROM by GROUP BY 1, 2 ORDER BY 1, 2
"""


# q396: v-optimal histogram advisor (exact DP)

def q396_voptimal_histogram(spark, sf_dir):
    """V-optimal histogram advisor: for each bucket budget B=1..6,
    the EXACT minimum total within-bucket SSE (scaled-integer milli
    objective, spec'd as ((len*sumsq - sum^2)*1000) div len per
    segment so both engines optimize the identical integer) over all
    contiguous partitions of the 60-cell order-price frequency
    vector, via the classic O(n^2 B) dynamic program — next to the
    equi-width baseline's SSE for the same B and the saving in ppm.
    q168 BUILDS an equi-depth histogram and q345 prices resolution;
    this is the optimizer's answer to WHERE the bucket boundaries
    should go (Jagadish et al.'s v-optimal DP), run exactly.

    Scale shape: ONE corpus-scale agg (cents -> 60 cell counts);
    prefix sums, the 1830-pair cost relation, and the 6 DP levels are
    all metadata-scale broadcast algebra — the DP never touches the
    corpus."""
    orders = _t(spark, sf_dir, "orders")
    cents = orders.select(
        F.round(F.col("o_totalprice") * 100).cast("bigint").alias("p")
    )
    b = cents.agg(F.min("p").alias("mn"), F.max("p").alias("mx"))
    cells = (
        cents.crossJoin(F.broadcast(b))
        .select(F.expr("((p - mn) * 60) div (mx - mn + 1)").alias("cell"))
        .groupBy("cell")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    spine = spark.range(60).select(F.col("id").cast("bigint").alias("cell"))
    filled = spine.join(F.broadcast(cells), "cell", "left").na.fill({"c": 0})
    word = Window.orderBy("cell").rowsBetween(Window.unboundedPreceding, 0)
    pref = filled.select(
        (F.col("cell") + 1).cast("bigint").alias("k"),
        F.sum("c").over(word).cast("bigint").alias("s"),
        F.sum(F.col("c") * F.col("c")).over(word).cast("bigint").alias("q"),
    )
    zero = spark.range(1).select(
        F.lit(0).cast("bigint").alias("k"),
        F.lit(0).cast("bigint").alias("s"),
        F.lit(0).cast("bigint").alias("q"),
    )
    prefix = zero.unionByName(pref).localCheckpoint(eager=True)
    pi = prefix.select(
        F.col("k").alias("i"), F.col("s").alias("si"), F.col("q").alias("qi")
    )
    pj = prefix.select(
        F.col("k").alias("j"), F.col("s").alias("sj"), F.col("q").alias("qj")
    )
    costs = (
        pi.join(pj, F.col("i") < F.col("j"))
        .select(
            "i",
            "j",
            F.expr(
                "(((j - i) * (qj - qi) - (sj - si) * (sj - si)) * 1000)"
                " div (j - i)"
            ).cast("bigint").alias("cost"),
        )
        .localCheckpoint(eager=True)
    )
    dp = costs.where(F.col("i") == 0).select("j", F.col("cost").alias("best"))
    vopt_parts = [
        dp.where(F.col("j") == 60).select(
            F.lit(1).cast("bigint").alias("b"),
            F.col("best").cast("bigint").alias("vopt_milli"),
        )
    ]
    for level in range(2, 7):
        prev = dp.select(F.col("j").alias("i"), F.col("best").alias("pbest"))
        dp = (
            prev.join(costs, "i")
            .groupBy("j")
            .agg(F.min(F.col("pbest") + F.col("cost")).alias("best"))
        )
        vopt_parts.append(
            dp.where(F.col("j") == 60).select(
                F.lit(level).cast("bigint").alias("b"),
                F.col("best").cast("bigint").alias("vopt_milli"),
            )
        )
    vopt = vopt_parts[0]
    for part in vopt_parts[1:]:
        vopt = vopt.unionByName(part)
    segs = spark.createDataFrame(
        [
            (bb, (k - 1) * 60 // bb, k * 60 // bb)
            for bb in range(1, 7)
            for k in range(1, bb + 1)
        ],
        "b bigint, i bigint, j bigint",
    )
    equi = (
        segs.join(F.broadcast(costs), ["i", "j"])
        .groupBy("b")
        .agg(F.sum("cost").cast("bigint").alias("equiw_milli"))
    )
    return (
        vopt.join(F.broadcast(equi), "b")
        .select(
            "b",
            "vopt_milli",
            "equiw_milli",
            F.expr(
                "((equiw_milli - vopt_milli) * 1000000)"
                " div greatest(CAST(1 AS BIGINT), equiw_milli)"
            ).cast("bigint").alias("saving_ppm"),
        )
        .orderBy("b")
    )


ORACLE_Q396 = """
WITH cents AS (
  SELECT CAST(round(o_totalprice * 100) AS BIGINT) AS p FROM orders
),
bnd AS (SELECT min(p) AS mn, max(p) AS mx FROM cents),
cells AS (
  SELECT ((p - mn) * 60) // (mx - mn + 1) AS cell,
         CAST(count(*) AS BIGINT) AS c
  FROM cents, bnd GROUP BY 1
),
spine AS (SELECT CAST(unnest(range(60)) AS BIGINT) AS cell),
filled AS (
  SELECT s.cell, coalesce(cells.c, 0) AS c
  FROM spine s LEFT JOIN cells ON s.cell = cells.cell
),
pref AS (
  SELECT cell + 1 AS k,
         CAST(sum(c) OVER (ORDER BY cell ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS s,
         CAST(sum(c * c) OVER (ORDER BY cell ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS BIGINT) AS q
  FROM filled
),
prefix AS (
  SELECT CAST(0 AS BIGINT) AS k, CAST(0 AS BIGINT) AS s,
         CAST(0 AS BIGINT) AS q
  UNION ALL SELECT * FROM pref
),
costs AS (
  SELECT i.k AS i, j.k AS j,
         ((((j.k - i.k) * (j.q - i.q) - (j.s - i.s) * (j.s - i.s)) * 1000)
          // (j.k - i.k)) AS cost
  FROM prefix i JOIN prefix j ON i.k < j.k
),
dp1 AS (SELECT j, cost AS best FROM costs WHERE i = 0),
dp2 AS (SELECT c.j, min(p.best + c.cost) AS best
        FROM dp1 p JOIN costs c ON c.i = p.j GROUP BY 1),
dp3 AS (SELECT c.j, min(p.best + c.cost) AS best
        FROM dp2 p JOIN costs c ON c.i = p.j GROUP BY 1),
dp4 AS (SELECT c.j, min(p.best + c.cost) AS best
        FROM dp3 p JOIN costs c ON c.i = p.j GROUP BY 1),
dp5 AS (SELECT c.j, min(p.best + c.cost) AS best
        FROM dp4 p JOIN costs c ON c.i = p.j GROUP BY 1),
dp6 AS (SELECT c.j, min(p.best + c.cost) AS best
        FROM dp5 p JOIN costs c ON c.i = p.j GROUP BY 1),
vopt AS (
  SELECT CAST(1 AS BIGINT) AS b, best AS vopt_milli FROM dp1 WHERE j = 60
  UNION ALL SELECT 2, best FROM dp2 WHERE j = 60
  UNION ALL SELECT 3, best FROM dp3 WHERE j = 60
  UNION ALL SELECT 4, best FROM dp4 WHERE j = 60
  UNION ALL SELECT 5, best FROM dp5 WHERE j = 60
  UNION ALL SELECT 6, best FROM dp6 WHERE j = 60
),
segs AS (
  SELECT b, ((k - 1) * 60) // b AS i, (k * 60) // b AS j
  FROM (SELECT CAST(unnest(range(1, 7)) AS BIGINT) AS b),
       (SELECT CAST(unnest(range(1, 7)) AS BIGINT) AS k)
  WHERE k <= b
),
equi AS (
  SELECT b, CAST(sum(cost) AS BIGINT) AS equiw_milli
  FROM segs JOIN costs USING (i, j) GROUP BY 1
)
SELECT vopt.b, CAST(vopt_milli AS BIGINT) AS vopt_milli, equiw_milli,
       CAST(((equiw_milli - vopt_milli) * 1000000)
            // greatest(CAST(1 AS BIGINT), equiw_milli) AS BIGINT)
         AS saving_ppm
FROM vopt JOIN equi ON vopt.b = equi.b
ORDER BY 1
"""


# q397: windowed-LRU cache hit-rate curve

def q397_lru_hit_curve(spark, sf_dir):
    """Cache-sizing advisor: exact hit-rate curve of a windowed-LRU
    cache (LRU that also evicts anything untouched for K=256
    accesses — the bounded-history window cache of W-TinyLFU-style
    designs) per event_type endpoint, keyed by user_id.  For each
    access, its stack distance = distinct OTHER keys touched since
    its key's last access, read off ONE ordered window frame of the
    last K keys (array fold, no self-join); a hit at capacity C is
    exactly sd < C.  Classic unbounded-LRU needs the sequential
    Mattson pass; the K-window model is its shardable, bounded-work
    analog, and the window cap is part of the SPEC, not an
    approximation leak.  q331/q345 size storage knobs; this sizes
    the cache knob.

    Scale shape: one per-endpoint ordered window pass with a bounded
    K-row frame (O(n*K) work, linear in the corpus), then a
    <=K-row stack-distance census; the capacity sweep joins the
    CENSUS, never the accesses."""
    ev = _t(spark, sf_dir, "events")
    k = 256
    w = Window.partitionBy("event_type").orderBy("ts", "event_id")
    wk = w.rowsBetween(-k, -1)
    acc = (
        ev.select("event_type", "ts", "event_id", "user_id")
        .withColumn("rev", F.reverse(F.collect_list("user_id").over(wk)))
        .withColumn(
            "pos", F.expr("CAST(array_position(rev, user_id) AS BIGINT)")
        )
    )
    sd = acc.select(
        F.when(F.col("pos") == 0, F.lit(-1))
        .otherwise(
            F.expr(
                "size(array_distinct(slice(rev, 1, CAST(pos AS INT) - 1)))"
            )
        )
        .cast("bigint")
        .alias("sd")
    )
    census = sd.groupBy("sd").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    sizes = spark.createDataFrame(
        [(c,) for c in [1, 2, 4, 8, 16, 32, 64, 128]], "c_size bigint"
    )
    return (
        sizes.join(F.broadcast(census), F.lit(True))
        .groupBy("c_size")
        .agg(
            F.sum("n").cast("bigint").alias("accesses"),
            F.sum(F.when(F.col("sd") >= 0, F.col("n")).otherwise(0))
            .cast("bigint")
            .alias("in_window"),
            F.sum(
                F.when(
                    (F.col("sd") >= 0) & (F.col("sd") < F.col("c_size")),
                    F.col("n"),
                ).otherwise(0)
            )
            .cast("bigint")
            .alias("hits"),
        )
        .select(
            "c_size",
            "accesses",
            "in_window",
            "hits",
            F.expr("(hits * 1000000) div accesses").cast("bigint")
            .alias("hit_ppm"),
        )
        .orderBy("c_size")
    )


ORACLE_Q397 = """
WITH acc AS (
  SELECT user_id,
         list_reverse(list(user_id) OVER (
           PARTITION BY event_type ORDER BY ts, event_id
           ROWS BETWEEN 256 PRECEDING AND 1 PRECEDING)) AS rev
  FROM events
),
sd AS (
  -- list_position returns 0 (not NULL) for absent, NULL for a NULL
  -- list (empty first-row frame): both are misses
  SELECT CASE WHEN coalesce(list_position(rev, user_id), 0) = 0 THEN -1
              ELSE CAST(len(list_distinct(list_slice(
                     rev, 1, list_position(rev, user_id) - 1))) AS BIGINT)
         END AS sd
  FROM acc
),
census AS (SELECT sd, CAST(count(*) AS BIGINT) AS n FROM sd GROUP BY 1),
sizes AS (
  SELECT CAST(unnest([1, 2, 4, 8, 16, 32, 64, 128]) AS BIGINT) AS c_size
)
SELECT c_size,
       CAST(sum(n) AS BIGINT) AS accesses,
       CAST(sum(CASE WHEN sd >= 0 THEN n ELSE 0 END) AS BIGINT)
         AS in_window,
       CAST(sum(CASE WHEN sd >= 0 AND sd < c_size THEN n ELSE 0 END)
            AS BIGINT) AS hits,
       CAST((sum(CASE WHEN sd >= 0 AND sd < c_size THEN n ELSE 0 END)
             * 1000000) // sum(n) AS BIGINT) AS hit_ppm
FROM sizes, census
GROUP BY 1 ORDER BY 1
"""


# q398: regression-to-the-mean decile audit

def q398_rtm_deciles(spark, sf_dir):
    """Regression-to-the-mean audit (the 'sophomore slump' screen):
    split the event span at its midpoint, rank first-half-active
    users into activity deciles by first-half count (rank-pinned,
    user_id tie-break), and report each decile's mean first- and
    second-half activity plus the overall OLS slope of H2 on H1 in
    milli — slope < 1000 is the attenuation every naive
    'reward-the-top-decile' program mistakes for decline.  q369
    audits the mean-of-means bias; this audits the selection-on-
    noise bias, the other classic way period-1 winners disappoint.

    Scale shape: one per-user two-half agg, one rank window over the
    user-scale relation, one decile agg + one exact moment agg for
    the slope (single float divide from exact integers)."""
    ev = _t(spark, sf_dir, "events")
    secs = ev.select(
        "user_id", F.unix_timestamp("ts").cast("bigint").alias("sec")
    )
    mid = secs.agg(
        F.expr("(min(sec) + max(sec)) div 2").cast("bigint").alias("mid")
    )
    halves = (
        secs.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(F.when(F.col("sec") <= F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("h1"),
            F.sum(F.when(F.col("sec") > F.col("mid"), 1).otherwise(0))
            .cast("bigint")
            .alias("h2"),
        )
        .where(F.col("h1") > 0)
    )
    wr = Window.orderBy(F.desc("h1"), "user_id")
    ranked = halves.select(
        "h1", "h2", F.row_number().over(wr).cast("bigint").alias("rk")
    )
    n_ = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    deciled = ranked.crossJoin(F.broadcast(n_)).select(
        "h1",
        "h2",
        F.expr("least(CAST(10 AS BIGINT), 1 + ((rk - 1) * 10) div n)")
        .cast("bigint")
        .alias("decile"),
    )
    mom = halves.agg(
        F.count(F.lit(1)).cast("bigint").alias("m"),
        F.sum("h1").cast("bigint").alias("sx"),
        F.sum("h2").cast("bigint").alias("sy"),
        F.sum(F.col("h1") * F.col("h2")).cast("bigint").alias("sxy"),
        F.sum(F.col("h1") * F.col("h1")).cast("bigint").alias("sxx"),
    )
    slope = mom.select(
        F.expr(
            "CAST(floor(1000.0 * CAST(m * sxy - sx * sy AS DOUBLE)"
            " / CAST(m * sxx - sx * sx AS DOUBLE)) AS BIGINT)"
        ).alias("slope_milli")
    )
    return (
        deciled.groupBy("decile")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("h1").cast("bigint").alias("s1"),
            F.sum("h2").cast("bigint").alias("s2"),
        )
        .crossJoin(F.broadcast(slope))
        .select(
            "decile",
            "n_users",
            F.expr("(s1 * 1000) div n_users").cast("bigint")
            .alias("mean_h1_milli"),
            F.expr("(s2 * 1000) div n_users").cast("bigint")
            .alias("mean_h2_milli"),
            "slope_milli",
        )
        .orderBy("decile")
    )


ORACLE_Q398 = """
WITH secs AS (
  SELECT user_id, CAST(floor(epoch(ts)) AS BIGINT) AS sec FROM events
),
mid AS (SELECT (min(sec) + max(sec)) // 2 AS mid FROM secs),
halves AS (
  SELECT user_id,
         CAST(sum(CASE WHEN sec <= mid THEN 1 ELSE 0 END) AS BIGINT) AS h1,
         CAST(sum(CASE WHEN sec > mid THEN 1 ELSE 0 END) AS BIGINT) AS h2
  FROM secs, mid GROUP BY 1
  HAVING sum(CASE WHEN sec <= mid THEN 1 ELSE 0 END) > 0
),
ranked AS (
  SELECT h1, h2,
         CAST(row_number() OVER (ORDER BY h1 DESC, user_id) AS BIGINT)
           AS rk
  FROM halves
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
deciled AS (
  SELECT h1, h2,
         least(CAST(10 AS BIGINT), 1 + ((rk - 1) * 10) // n) AS decile
  FROM ranked, n_
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS m, CAST(sum(h1) AS BIGINT) AS sx,
         CAST(sum(h2) AS BIGINT) AS sy,
         CAST(sum(h1 * h2) AS BIGINT) AS sxy,
         CAST(sum(h1 * h1) AS BIGINT) AS sxx
  FROM halves
),
slope AS (
  SELECT CAST(floor(1000.0 * CAST(m * sxy - sx * sy AS DOUBLE)
              / CAST(m * sxx - sx * sx AS DOUBLE)) AS BIGINT)
           AS slope_milli
  FROM mom
)
SELECT decile,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST((sum(h1) * 1000) // count(*) AS BIGINT) AS mean_h1_milli,
       CAST((sum(h2) * 1000) // count(*) AS BIGINT) AS mean_h2_milli,
       slope_milli
FROM deciled, slope
GROUP BY 1, 5 ORDER BY 1
"""


# q399: isotonic calibration curve (exact PAVA via minimax)

def q399_isotonic_calibration(spark, sf_dir):
    """Isotonic calibration of an activity score against purchase
    outcomes: users ranked by non-purchase activity into 20 bins,
    outcome = above-median purchase count (median rank-pinned; a
    RELATIVE outcome, because in this corpus every user eventually
    purchases, so any ever-purchased label saturates at 100% and the
    curve would be vacuous), then the EXACT isotonic (monotone
    nondecreasing) regression of per-bin conversion computed via the
    minimax identity
    fit_k = max_{i<=k} min_{j>=k} rate(i..j) — the closed form of
    pool-adjacent-violators, so the inherently sequential PAVA sweep
    becomes pure join algebra on the 210-pair bin relation.  Rates
    compared as float64 ratios of exact integers (distinct bounded
    rationals can't collide in double); output ppm is the
    parenthesis-mirrored floor(1e6 * num/den).  q204 bins a
    calibration table; this FITS the monotone curve a serving stack
    would actually apply.

    Scale shape: one per-user agg + one rank window over the
    user-scale relation + one 20-bin census; the minimax runs on
    20 x 210 metadata-scale rows."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.sum(F.when(F.col("event_type") != "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("score"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("pc"),
    )
    wm = Window.orderBy("pc", "user_id")
    med_ranked = users.select(
        "pc", F.row_number().over(wm).cast("bigint").alias("mrk")
    )
    nm = med_ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    med = (
        med_ranked.crossJoin(F.broadcast(nm))
        .where(F.col("mrk") == F.expr("(n + 1) div 2"))
        .select(F.col("pc").alias("med"))
    )
    wr = Window.orderBy("score", "user_id")
    ranked = users.crossJoin(F.broadcast(med)).select(
        "score",
        (F.col("pc") > F.col("med")).cast("bigint").alias("converted"),
        F.row_number().over(wr).cast("bigint").alias("rk"),
    )
    n_ = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    bins = (
        ranked.crossJoin(F.broadcast(n_))
        .select(
            F.expr("least(CAST(20 AS BIGINT), 1 + ((rk - 1) * 20) div n)")
            .alias("b"),
            "converted",
        )
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nu"),
            F.sum("converted").cast("bigint").alias("conv"),
        )
        .localCheckpoint(eager=True)
    )
    wb = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    pref = bins.select(
        "b",
        F.sum("nu").over(wb).cast("bigint").alias("cn"),
        F.sum("conv").over(wb).cast("bigint").alias("cc"),
    )
    # prefix points: cn/cc at b, plus the zero point for i-1 = 0
    p0 = spark.range(1).select(
        F.lit(0).cast("bigint").alias("b"),
        F.lit(0).cast("bigint").alias("cn"),
        F.lit(0).cast("bigint").alias("cc"),
    )
    prefix = p0.unionByName(pref)
    pi = prefix.select(
        (F.col("b") + 1).alias("i"),
        F.col("cn").alias("ni"),
        F.col("cc").alias("ci"),
    )
    pj = prefix.select(
        F.col("b").alias("j"), F.col("cn").alias("nj"), F.col("cc").alias("cj")
    )
    segs = pi.join(pj, F.col("i") <= F.col("j")).select(
        "i",
        "j",
        (F.col("cj") - F.col("ci")).alias("num"),
        (F.col("nj") - F.col("ni")).alias("den"),
    )
    ks = spark.range(1, 21).select(F.col("id").cast("bigint").alias("k"))
    inner = (
        ks.join(
            F.broadcast(segs),
            (F.col("i") <= F.col("k")) & (F.col("j") >= F.col("k")),
        )
        .groupBy("k", "i")
        .agg(
            F.min(
                F.col("num").cast("double") / F.col("den").cast("double")
            ).alias("mn")
        )
    )
    fit = inner.groupBy("k").agg(
        F.expr("CAST(floor(1000000.0 * max(mn)) AS BIGINT)").alias("fit_ppm")
    )
    return (
        bins.join(fit, bins["b"] == fit["k"])
        .select(
            "b",
            F.col("nu").alias("n_users"),
            "conv",
            F.expr("(conv * 1000000) div nu").cast("bigint")
            .alias("raw_ppm"),
            "fit_ppm",
        )
        .orderBy("b")
    )


ORACLE_Q399 = """
WITH users AS (
  SELECT user_id,
         CAST(sum(CASE WHEN event_type <> 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS score,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS pc
  FROM events GROUP BY 1
),
med_ranked AS (
  SELECT pc, CAST(row_number() OVER (ORDER BY pc, user_id) AS BIGINT)
           AS mrk
  FROM users
),
nm AS (SELECT CAST(count(*) AS BIGINT) AS n FROM med_ranked),
med AS (
  SELECT pc AS med FROM med_ranked, nm WHERE mrk = (n + 1) // 2
),
ranked AS (
  SELECT score, CAST(pc > med AS BIGINT) AS converted,
         CAST(row_number() OVER (ORDER BY score, user_id) AS BIGINT) AS rk
  FROM users, med
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM ranked),
bins AS (
  SELECT least(CAST(20 AS BIGINT), 1 + ((rk - 1) * 20) // n) AS b,
         CAST(count(*) AS BIGINT) AS nu,
         CAST(sum(converted) AS BIGINT) AS conv
  FROM ranked, n_ GROUP BY 1
),
pref AS (
  SELECT b,
         CAST(sum(nu) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cn,
         CAST(sum(conv) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS BIGINT) AS cc
  FROM bins
),
prefix AS (
  SELECT CAST(0 AS BIGINT) AS b, CAST(0 AS BIGINT) AS cn,
         CAST(0 AS BIGINT) AS cc
  UNION ALL SELECT * FROM pref
),
segs AS (
  SELECT i.b + 1 AS i, j.b AS j, j.cc - i.cc AS num, j.cn - i.cn AS den
  FROM prefix i JOIN prefix j ON i.b + 1 <= j.b
),
ks AS (SELECT CAST(unnest(range(1, 21)) AS BIGINT) AS k),
inner_ AS (
  SELECT k, i, min(CAST(num AS DOUBLE) / CAST(den AS DOUBLE)) AS mn
  FROM ks JOIN segs ON i <= k AND j >= k
  GROUP BY 1, 2
),
fit AS (
  SELECT k, CAST(floor(1000000.0 * max(mn)) AS BIGINT) AS fit_ppm
  FROM inner_ GROUP BY 1
)
SELECT b, nu AS n_users, conv,
       CAST((conv * 1000000) // nu AS BIGINT) AS raw_ppm, fit_ppm
FROM bins JOIN fit ON b = k
ORDER BY 1
"""


# q400: A/B test duration advisor

def q400_ab_duration_advisor(spark, sf_dir):
    """A/B test duration advisor priced from THIS corpus: baseline
    conversion measured on the USER-DAY unit (share of active
    user-days containing a purchase — the same unit enrollment
    accrues in, and non-saturating where ever-purchased would be
    100% here) and enrollable traffic (mean daily active user-days,
    halved per arm) measured exactly,
    then for each relative MDE (1/2/5/10%) the required per-arm
    sample via the standard two-proportion normal approximation
    n = 2*p*(1-p)*(z_alpha + z_beta)^2 / delta^2 (alpha=5% two-sided,
    80% power; z constants literal, formula parenthesis-mirrored so
    both engines produce the identical float64 before the ceil) and
    the days of enrollment that buys.  The why-your-test-takes-a-
    quarter table: q157 gates a RUNNING experiment, q279 stops one —
    this prices STARTING one.

    Scale shape: one per-user agg, one per-day distinct agg (both
    map-side-combinable), then a 4-row literal sweep over broadcast
    scalars."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.groupBy(
        F.to_date("ts").alias("d"), "user_id"
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("converted")
    )
    base = ud.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_users"),
        F.sum("converted").cast("bigint").alias("n_conv"),
        F.countDistinct("d").cast("bigint").alias("n_days"),
    )
    rels = spark.createDataFrame(
        [(1,), (2,), (5,), (10,)], "rel_pct bigint"
    )
    return (
        rels.crossJoin(F.broadcast(base))
        .select(
            "rel_pct",
            F.expr("(n_conv * 1000000) div n_users").cast("bigint")
            .alias("baseline_ppm"),
            F.expr("n_users div (2 * n_days)").cast("bigint")
            .alias("daily_per_arm"),
            F.expr(
                "CAST(ceil((2.0 * (CAST(n_conv AS DOUBLE) /"
                " CAST(n_users AS DOUBLE)) * (1.0 - (CAST(n_conv AS DOUBLE)"
                " / CAST(n_users AS DOUBLE))) * ((1.959964 + 0.841621)"
                " * (1.959964 + 0.841621))) / (((CAST(n_conv AS DOUBLE) /"
                " CAST(n_users AS DOUBLE)) * (CAST(rel_pct AS DOUBLE) /"
                " 100.0)) * ((CAST(n_conv AS DOUBLE) / CAST(n_users AS"
                " DOUBLE)) * (CAST(rel_pct AS DOUBLE) / 100.0)))) AS BIGINT)"
            ).alias("n_per_arm"),
        )
        .select(
            "rel_pct",
            "baseline_ppm",
            "daily_per_arm",
            "n_per_arm",
            F.expr(
                "CAST(ceil(CAST(n_per_arm AS DOUBLE) /"
                " CAST(daily_per_arm AS DOUBLE)) AS BIGINT)"
            ).alias("days_needed"),
        )
        .orderBy("rel_pct")
    )


ORACLE_Q400 = """
WITH ud AS (
  SELECT CAST(ts AS DATE) AS d, user_id,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS converted
  FROM events GROUP BY 1, 2
),
base AS (
  SELECT CAST(count(*) AS BIGINT) AS n_users,
         CAST(sum(converted) AS BIGINT) AS n_conv,
         CAST(count(DISTINCT d) AS BIGINT) AS n_days
  FROM ud
),
rels AS (SELECT CAST(unnest([1, 2, 5, 10]) AS BIGINT) AS rel_pct),
sized AS (
  SELECT rel_pct,
         CAST((n_conv * 1000000) // n_users AS BIGINT) AS baseline_ppm,
         CAST(n_users // (2 * n_days) AS BIGINT) AS daily_per_arm,
         CAST(ceil((2.0 * (CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
               * (1.0 - (CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE)))
               * ((1.959964 + 0.841621) * (1.959964 + 0.841621)))
              / (((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
                  * (CAST(rel_pct AS DOUBLE) / 100.0))
                 * ((CAST(n_conv AS DOUBLE) / CAST(n_users AS DOUBLE))
                    * (CAST(rel_pct AS DOUBLE) / 100.0)))) AS BIGINT)
           AS n_per_arm
  FROM rels, base
)
SELECT rel_pct, baseline_ppm, daily_per_arm, n_per_arm,
       CAST(ceil(CAST(n_per_arm AS DOUBLE)
                 / CAST(daily_per_arm AS DOUBLE)) AS BIGINT) AS days_needed
FROM sized ORDER BY 1
"""


# q401: threshold-algorithm early-termination advisor

def q401_ta_early_termination(spark, sf_dir):
    """Fagin threshold-algorithm early-termination advisor: for
    top-k retrieval by the SUM of two per-document scores (chars +
    7x tokens), the certified scan depth — the first rank d where
    the TA threshold T_d = score1@d + score2@d falls to or below the
    true k-th best total, i.e. the depth at which sorted-list scans
    can PROVABLY stop — for k in {1,5,10,25}, plus the scan saving
    in ppm.  The index-planning number behind every top-k-over-
    sorted-postings design (q79/q188 plan which lists to read; this
    prices how DEEP to read them).

    Scale shape: three rank windows over the doc-scale relation
    (rank lists ARE global total orders — inherent), one rank-equi
    join for the threshold curve, then a 4-row sweep that counts
    threshold exceedances with one conditional agg."""
    docs = _t(spark, sf_dir, "documents")
    from ..functions.text import token_count_expr

    scored = docs.select(
        "doc_id",
        F.col("n_chars").cast("bigint").alias("s1"),
        (token_count_expr(F.col("text")) * 7).cast("bigint").alias("s2"),
    ).withColumn("tot", F.col("s1") + F.col("s2"))
    w1 = Window.orderBy(F.desc("s1"), "doc_id")
    w2 = Window.orderBy(F.desc("s2"), "doc_id")
    wt = Window.orderBy(F.desc("tot"), "doc_id")
    r1 = scored.select(
        F.row_number().over(w1).cast("bigint").alias("d"),
        F.col("s1").alias("a1"),
    )
    r2 = scored.select(
        F.row_number().over(w2).cast("bigint").alias("d"),
        F.col("s2").alias("a2"),
    )
    thresholds = r1.join(r2, "d").select(
        "d", (F.col("a1") + F.col("a2")).alias("t")
    )
    totals = scored.select(
        F.row_number().over(wt).cast("bigint").alias("rk"), "tot"
    )
    ks = spark.createDataFrame([(1,), (5,), (10,), (25,)], "k bigint")
    kth = ks.join(totals, F.col("rk") == F.col("k")).select(
        "k", F.col("tot").alias("kth_total")
    )
    n_ = scored.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    return (
        kth.join(F.broadcast(thresholds), F.lit(True))
        .groupBy("k", "kth_total")
        .agg(
            (
                F.sum(F.when(F.col("t") > F.col("kth_total"), 1).otherwise(0))
                + 1
            ).cast("bigint").alias("depth")
        )
        .crossJoin(F.broadcast(n_))
        .select(
            "k",
            "kth_total",
            "depth",
            F.expr("((n - depth) * 1000000) div n").cast("bigint")
            .alias("saving_ppm"),
        )
        .orderBy("k")
    )


ORACLE_Q401 = """
WITH scored AS (
  SELECT doc_id, CAST(n_chars AS BIGINT) AS s1,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              * 7 AS BIGINT) AS s2,
         CAST(n_chars + len(list_filter(string_split(text, ' '),
              t -> t <> '')) * 7 AS BIGINT) AS tot
  FROM documents
),
r1 AS (
  SELECT CAST(row_number() OVER (ORDER BY s1 DESC, doc_id) AS BIGINT) AS d,
         s1 AS a1
  FROM scored
),
r2 AS (
  SELECT CAST(row_number() OVER (ORDER BY s2 DESC, doc_id) AS BIGINT) AS d,
         s2 AS a2
  FROM scored
),
thresholds AS (SELECT r1.d, a1 + a2 AS t FROM r1 JOIN r2 ON r1.d = r2.d),
totals AS (
  SELECT CAST(row_number() OVER (ORDER BY tot DESC, doc_id) AS BIGINT)
           AS rk, tot
  FROM scored
),
ks AS (SELECT CAST(unnest([1, 5, 10, 25]) AS BIGINT) AS k),
kth AS (
  SELECT k, tot AS kth_total FROM ks JOIN totals ON rk = k
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM scored)
SELECT k, kth_total,
       CAST(sum(CASE WHEN t > kth_total THEN 1 ELSE 0 END) + 1 AS BIGINT)
         AS depth,
       CAST(((n - (sum(CASE WHEN t > kth_total THEN 1 ELSE 0 END) + 1))
             * 1000000) // n AS BIGINT) AS saving_ppm
FROM kth, thresholds, n_
GROUP BY 1, 2, n ORDER BY 1
"""


# q402: retry-storm load projection

def q402_retry_storm(spark, sf_dir):
    """Retry-storm capacity projection: every error event spawns a
    deterministic exponential-backoff retry schedule (+60/+120/+240/
    +480 s) and the superimposed load is re-bucketed into 10-minute
    windows next to the organic load — peak amplification, total
    injected retries, and the windows where retries OUTNUMBER
    organic traffic.  The what-if behind every client backoff-policy
    review: q126 detects bursts that happened, q284 alarms on them;
    this projects the burst your own retry policy would ADD.

    Scale shape: one bounded 4x explode of the error slice + two
    window aggs + one full-outer window join (windows are
    metadata-scale)."""
    ev = _t(spark, sf_dir, "events")
    base = (
        ev.select(
            F.expr(
                "CAST(unix_timestamp(ts) - unix_timestamp(ts) % 600"
                " AS BIGINT)"
            ).alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("b"))
    )
    retries = (
        ev.where(F.col("event_type") == "error")
        .select(F.unix_timestamp("ts").cast("bigint").alias("sec"))
        .select(
            F.explode(
                F.array(*[F.lit(d) for d in (60, 120, 240, 480)])
            ).alias("d"),
            "sec",
        )
        .select(
            F.expr("CAST((sec + d) - (sec + d) % 600 AS BIGINT)").alias("w")
        )
        .groupBy("w")
        .agg(F.count(F.lit(1)).cast("bigint").alias("r"))
    )
    loads = (
        base.join(retries, "w", "full_outer")
        .select(
            F.coalesce(F.col("b"), F.lit(0)).alias("b"),
            F.coalesce(F.col("r"), F.lit(0)).alias("r"),
        )
    )
    return loads.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_windows"),
        F.max("b").cast("bigint").alias("base_peak"),
        F.max(F.col("b") + F.col("r")).cast("bigint").alias("storm_peak"),
        F.sum("r").cast("bigint").alias("total_retries"),
        F.sum(F.when(F.col("r") > F.col("b"), 1).otherwise(0))
        .cast("bigint")
        .alias("retry_dominated_windows"),
    ).select(
        "n_windows",
        "base_peak",
        "storm_peak",
        F.expr("(storm_peak * 1000000) div base_peak").cast("bigint")
        .alias("amplification_ppm"),
        "total_retries",
        "retry_dominated_windows",
    )


ORACLE_Q402 = """
WITH base AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 600 AS w,
         CAST(count(*) AS BIGINT) AS b
  FROM events GROUP BY 1
),
retries AS (
  SELECT (sec + d) - (sec + d) % 600 AS w, CAST(count(*) AS BIGINT) AS r
  FROM (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec,
           unnest([60, 120, 240, 480]) AS d
    FROM events WHERE event_type = 'error'
  ) GROUP BY 1
),
loads AS (
  SELECT coalesce(b, 0) AS b, coalesce(r, 0) AS r
  FROM base FULL OUTER JOIN retries ON base.w = retries.w
)
SELECT CAST(count(*) AS BIGINT) AS n_windows,
       CAST(max(b) AS BIGINT) AS base_peak,
       CAST(max(b + r) AS BIGINT) AS storm_peak,
       CAST((max(b + r) * 1000000) // max(b) AS BIGINT)
         AS amplification_ppm,
       CAST(sum(r) AS BIGINT) AS total_retries,
       CAST(sum(CASE WHEN r > b THEN 1 ELSE 0 END) AS BIGINT)
         AS retry_dominated_windows
FROM loads
"""


# q403: Tukey median polish of the weekday x hour matrix

def q403_median_polish(spark, sf_dir):
    """Tukey median polish of the dense 7x24 weekday-by-hour traffic
    matrix: two full sweeps of alternating row/column LOWER-median
    extraction (rank 12 of 24 and rank 4 of 7 — the matrix is dense
    by construction, so the median ranks are literals), leaving the
    robust decomposition count = row_effect + column_effect +
    residual that q308's mean-based independence residuals are the
    fragile version of (one anomalous day drags a mean but not a
    median).  The overall level folds into the row effect, spec'd.
    After the final column step the per-column lower median of the
    residuals is exactly zero — replay-asserted.

    Scale shape: ONE map-side-combinable (dow, hour) corpus agg;
    the polish itself is four rank windows + joins on the 168-cell
    relation — metadata-scale."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.select(
        F.expr(
            "((CAST(floor(unix_timestamp(ts) / 86400) AS BIGINT) + 4) % 7)"
        ).alias("dow"),
        F.expr(
            "CAST(floor(unix_timestamp(ts) / 3600) AS BIGINT) % 24"
        ).alias("hour"),
    ).groupBy("dow", "hour").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    spine = (
        spark.range(7)
        .select(F.col("id").cast("bigint").alias("dow"))
        .crossJoin(
            spark.range(24).select(F.col("id").cast("bigint").alias("hour"))
        )
    )
    cells = (
        spine.join(obs, ["dow", "hour"], "left")
        .na.fill({"n": 0})
        .withColumn("x", F.col("n"))
        .localCheckpoint(eager=True)
    )

    def _extract(df, col_in, group, tiebreak, rank, name):
        w = Window.partitionBy(group).orderBy(col_in, tiebreak)
        med = (
            df.withColumn("_rn", F.row_number().over(w))
            .where(F.col("_rn") == rank)
            .select(group, F.col(col_in).alias(name))
        )
        return (
            df.join(F.broadcast(med), group)
            .withColumn(col_in, F.col(col_in) - F.col(name))
        )

    out = _extract(cells, "x", "dow", "hour", 12, "m1")
    out = _extract(out, "x", "hour", "dow", 4, "m2")
    out = _extract(out, "x", "dow", "hour", 12, "m3")
    out = _extract(out, "x", "hour", "dow", 4, "m4")
    return out.select(
        "dow",
        "hour",
        "n",
        (F.col("m1") + F.col("m3")).cast("bigint").alias("row_eff"),
        (F.col("m2") + F.col("m4")).cast("bigint").alias("col_eff"),
        F.col("x").cast("bigint").alias("resid"),
    ).orderBy("dow", "hour")


ORACLE_Q403 = """
WITH obs AS (
  SELECT ((CAST(floor(epoch(ts)) AS BIGINT) // 86400 + 4) % 7) AS dow,
         (CAST(floor(epoch(ts)) AS BIGINT) // 3600) % 24 AS hour,
         CAST(count(*) AS BIGINT) AS n
  FROM events GROUP BY 1, 2
),
spine AS (
  SELECT d.dow, h.hour
  FROM (SELECT CAST(unnest(range(7)) AS BIGINT) AS dow) d,
       (SELECT CAST(unnest(range(24)) AS BIGINT) AS hour) h
),
cells AS (
  SELECT s.dow, s.hour, coalesce(obs.n, 0) AS n, coalesce(obs.n, 0) AS x
  FROM spine s LEFT JOIN obs ON s.dow = obs.dow AND s.hour = obs.hour
),
r1 AS (
  SELECT dow, x AS m1 FROM (
    SELECT dow, x, row_number() OVER (PARTITION BY dow
                                      ORDER BY x, hour) AS rn
    FROM cells
  ) WHERE rn = 12
),
s1 AS (
  SELECT c.dow, c.hour, c.n, c.x - m1 AS x, m1
  FROM cells c JOIN r1 ON c.dow = r1.dow
),
c1 AS (
  SELECT hour, x AS m2 FROM (
    SELECT hour, x, row_number() OVER (PARTITION BY hour
                                       ORDER BY x, dow) AS rn
    FROM s1
  ) WHERE rn = 4
),
s2 AS (
  SELECT s1.dow, s1.hour, s1.n, s1.x - m2 AS x, m1, m2
  FROM s1 JOIN c1 ON s1.hour = c1.hour
),
r2 AS (
  SELECT dow, x AS m3 FROM (
    SELECT dow, x, row_number() OVER (PARTITION BY dow
                                      ORDER BY x, hour) AS rn
    FROM s2
  ) WHERE rn = 12
),
s3 AS (
  SELECT s2.dow, s2.hour, s2.n, s2.x - m3 AS x, m1, m2, m3
  FROM s2 JOIN r2 ON s2.dow = r2.dow
),
c2 AS (
  SELECT hour, x AS m4 FROM (
    SELECT hour, x, row_number() OVER (PARTITION BY hour
                                       ORDER BY x, dow) AS rn
    FROM s3
  ) WHERE rn = 4
)
SELECT s3.dow, s3.hour, s3.n,
       CAST(m1 + m3 AS BIGINT) AS row_eff,
       CAST(m2 + m4 AS BIGINT) AS col_eff,
       CAST(s3.x - m4 AS BIGINT) AS resid
FROM s3 JOIN c2 ON s3.hour = c2.hour
ORDER BY 1, 2
"""


# q404: Johnson-Lindenstrauss projection quality audit

def q404_jl_projection_audit(spark, sf_dir):
    """Johnson-Lindenstrauss sign-projection audit: project the
    64-dim embeddings to 16 dims with a deterministic portable-hash
    +/-1 matrix (Achlioptas construction — the signs are literals
    derived from md5, identical in Spark, DuckDB and Python), and
    measure how well scaled projected distances d16^2/16 track true
    quantized distances d64^2 over the consecutive-id pair set:
    aggregate ratio, rank-pinned p10/p50/p90 of the per-pair ratio,
    and the share inside a +/-30% band — all EXACT integers
    (quantized coords keep every dot product under 2^53).  The
    measured answer to "how low can my ANN index project before
    recall dies" next to q235's quantization audit and q172's recall
    audit.

    Scale shape: per-row array folds (no explode — 16 dot products
    against literal sign arrays), one equi-join on consecutive ids,
    one rank window over the pair-scale relation."""
    from ..functions.portable_hash import md5_i64_py

    dim, kd = 64, 16
    signs = [
        [1 if md5_i64_py(f"jl{j}#{i}") % 2 == 0 else -1 for i in range(dim)]
        for j in range(kd)
    ]
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(x * 128) AS BIGINT))"
        ).alias("q"),
    )
    y_cols = [
        F.expr(
            "aggregate(zip_with(q, array({}), (x, s) -> x * s),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)".format(
                ",".join(f"CAST({s} AS BIGINT)" for s in signs[j])
            )
        ).alias(f"y{j}")
        for j in range(kd)
    ]
    proj = q.select("vec_id", "q", *y_cols).select(
        "vec_id", "q", F.array(*[F.col(f"y{j}") for j in range(kd)]).alias("y")
    )
    a = proj.where(F.col("vec_id") % 2 == 0).select(
        (F.col("vec_id") + 1).alias("pid"),
        F.col("q").alias("qa"),
        F.col("y").alias("ya"),
    )
    b = proj.select(
        F.col("vec_id").alias("pid"),
        F.col("q").alias("qb"),
        F.col("y").alias("yb"),
    )
    pairs = (
        a.join(b, "pid")
        .select(
            "pid",
            F.expr(
                "aggregate(zip_with(qa, qb, (x, z) -> (x - z) * (x - z)),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d64sq"),
            F.expr(
                "aggregate(zip_with(ya, yb, (x, z) -> (x - z) * (x - z)),"
                " CAST(0 AS BIGINT), (acc, v) -> acc + v)"
            ).alias("d16sq"),
        )
        .where(F.col("d64sq") > 0)
        .select(
            "pid",
            "d64sq",
            "d16sq",
            F.expr("(d16sq * 1000000) div (16 * d64sq)").cast("bigint")
            .alias("ratio_ppm"),
        )
        .localCheckpoint(eager=True)
    )
    stats = pairs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.expr(
            "CAST((sum(d16sq) * 1000000) div (16 * sum(d64sq)) AS BIGINT)"
        ).alias("agg_ratio_ppm"),
        F.sum(
            F.when(F.abs(F.col("ratio_ppm") - 1000000) <= 300000, 1)
            .otherwise(0)
        ).cast("bigint").alias("n_within"),
    )
    wq = Window.orderBy("ratio_ppm", "pid")
    ranked = pairs.select(
        "ratio_ppm", F.row_number().over(wq).cast("bigint").alias("rk")
    )
    picks = None
    for p in (10, 50, 90):
        pick = (
            ranked.crossJoin(
                F.broadcast(stats.select("n_pairs"))
            )
            .where(
                F.col("rk")
                == F.expr(
                    f"greatest(CAST(1 AS BIGINT), (n_pairs * {p}) div 100)"
                )
            )
            .select(F.col("ratio_ppm").alias(f"p{p}_ppm"))
        )
        picks = pick if picks is None else picks.crossJoin(F.broadcast(pick))
    return stats.crossJoin(F.broadcast(picks)).select(
        "n_pairs",
        "agg_ratio_ppm",
        "p10_ppm",
        "p50_ppm",
        "p90_ppm",
        F.expr("(n_within * 1000000) div n_pairs").cast("bigint")
        .alias("within30_ppm"),
    )


def _oracle_q404() -> str:
    from ..functions.portable_hash import md5_i64_py

    dim, kd = 64, 16
    arrays = []
    for j in range(kd):
        signs = [
            "1" if md5_i64_py(f"jl{j}#{i}") % 2 == 0 else "-1"
            for i in range(dim)
        ]
        arrays.append(
            "CAST(list_dot_product(q, [{}]) AS BIGINT)".format(
                ", ".join(f"CAST({s} AS DOUBLE)" for s in signs)
            )
        )
    y_list = "[" + ", ".join(arrays) + "]"
    return f"""
WITH qv AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 128) AS DOUBLE))
           AS q
  FROM embeddings
),
proj AS (SELECT vec_id, q, {y_list} AS y FROM qv),
pairs AS (
  SELECT a.vec_id + 1 AS pid,
         CAST(list_dot_product(a.q, a.q) - 2 * list_dot_product(a.q, b.q)
              + list_dot_product(b.q, b.q) AS BIGINT) AS d64sq,
         CAST(list_dot_product(a.y::DOUBLE[], a.y::DOUBLE[])
              - 2 * list_dot_product(a.y::DOUBLE[], b.y::DOUBLE[])
              + list_dot_product(b.y::DOUBLE[], b.y::DOUBLE[])
              AS BIGINT) AS d16sq
  FROM proj a JOIN proj b ON b.vec_id = a.vec_id + 1
  WHERE a.vec_id % 2 = 0
),
rp AS (
  SELECT pid, d64sq, d16sq,
         (d16sq * 1000000) // (16 * d64sq) AS ratio_ppm
  FROM pairs WHERE d64sq > 0
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST((sum(d16sq) * 1000000) // (16 * sum(d64sq)) AS BIGINT)
           AS agg_ratio_ppm,
         CAST(sum(CASE WHEN abs(ratio_ppm - 1000000) <= 300000
                       THEN 1 ELSE 0 END) AS BIGINT) AS n_within
  FROM rp
),
ranked AS (
  SELECT ratio_ppm,
         CAST(row_number() OVER (ORDER BY ratio_ppm, pid) AS BIGINT) AS rk
  FROM rp
),
p10 AS (SELECT ratio_ppm AS p10_ppm FROM ranked, stats
        WHERE rk = greatest(CAST(1 AS BIGINT), (n_pairs * 10) // 100)),
p50 AS (SELECT ratio_ppm AS p50_ppm FROM ranked, stats
        WHERE rk = greatest(CAST(1 AS BIGINT), (n_pairs * 50) // 100)),
p90 AS (SELECT ratio_ppm AS p90_ppm FROM ranked, stats
        WHERE rk = greatest(CAST(1 AS BIGINT), (n_pairs * 90) // 100))
SELECT n_pairs, agg_ratio_ppm, p10_ppm, p50_ppm, p90_ppm,
       CAST((n_within * 1000000) // n_pairs AS BIGINT) AS within30_ppm
FROM stats, p10, p50, p90
"""


# q405: graph modularity of the language partition

def q405_lang_modularity(spark, sf_dir):
    """Newman modularity of the LANGUAGE partition over the near-dup
    candidate graph (the q62 edge derivation, verbatim — so the
    driver cross-checks edges AND the quality functional): per
    community, within-edge count e_c and degree mass d_c, and the
    exact contribution (4*m*e_c - d_c^2) / (4*m^2) in ppm plus the
    total Q in milli — both mirrored float-floors of exact-integer
    numerators (contributions can be negative, where trunc-vs-floor
    `div` semantics diverge between engines, so the catalog's
    signed-ratio discipline applies).  q62 CLUSTERS the graph; this
    scores whether an a-priori partition (language) explains its
    structure — the community-quality audit run before anyone trusts
    per-lang dedup sharding.

    Scale shape: the q62 edge join (df-pruned shingle equi-join,
    never all-pairs), then two label joins + one per-lang agg; the
    modularity algebra runs on the |langs|-row relation."""
    docs = _t_wide(spark, sf_dir, "documents")
    edges = _q62_edges(docs).select("src", "dst").localCheckpoint(eager=True)
    labels = docs.select("doc_id", "lang")
    lab = (
        edges.join(
            labels.select(
                F.col("doc_id").alias("src"), F.col("lang").alias("lang_s")
            ),
            "src",
        )
        .join(
            labels.select(
                F.col("doc_id").alias("dst"), F.col("lang").alias("lang_d")
            ),
            "dst",
        )
    )
    m_ = lab.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    nodes = (
        edges.select(F.col("src").alias("doc_id"))
        .unionByName(edges.select(F.col("dst").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .join(labels, "doc_id")
    )
    per_lang = (
        nodes.groupBy("lang")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("nodes"),
            F.sum("deg").cast("bigint").alias("d_sum"),
        )
        .join(
            lab.where(F.col("lang_s") == F.col("lang_d"))
            .groupBy(F.col("lang_s").alias("lang"))
            .agg(F.count(F.lit(1)).cast("bigint").alias("e_within")),
            "lang",
            "left",
        )
        .na.fill({"e_within": 0})
    )
    num = per_lang.crossJoin(F.broadcast(m_)).select(
        "lang",
        "nodes",
        "e_within",
        "d_sum",
        F.expr("4 * m * e_within - d_sum * d_sum").alias("contrib_num"),
        F.expr("4 * m * m").alias("den"),
    )
    total = num.agg(
        F.expr(
            "CAST(floor(1000.0 * CAST(sum(contrib_num) AS DOUBLE)"
            " / CAST(max(den) AS DOUBLE)) AS BIGINT)"
        ).alias("q_milli")
    )
    return (
        num.crossJoin(F.broadcast(total))
        .select(
            "lang",
            "nodes",
            "e_within",
            "d_sum",
            F.expr(
                "CAST(floor(1000000.0 * CAST(contrib_num AS DOUBLE)"
                " / CAST(den AS DOUBLE)) AS BIGINT)"
            ).alias("contrib_ppm"),
            "q_milli",
        )
        .orderBy("lang")
    )


def _oracle_q405() -> str:
    return f"""
WITH {_Q62_EDGES_SQL},
e AS (SELECT src, dst FROM edges),
lab AS (
  SELECT e.src, e.dst, ds.lang AS lang_s, dd.lang AS lang_d
  FROM e JOIN documents ds ON e.src = ds.doc_id
         JOIN documents dd ON e.dst = dd.doc_id
),
m_ AS (SELECT CAST(count(*) AS BIGINT) AS m FROM lab),
nodes AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT src AS doc_id FROM e UNION ALL SELECT dst FROM e
  ) GROUP BY 1
),
per_lang AS (
  SELECT d.lang, CAST(count(*) AS BIGINT) AS nodes,
         CAST(sum(deg) AS BIGINT) AS d_sum
  FROM nodes n JOIN documents d ON n.doc_id = d.doc_id
  GROUP BY 1
),
within AS (
  SELECT lang_s AS lang, CAST(count(*) AS BIGINT) AS e_within
  FROM lab WHERE lang_s = lang_d GROUP BY 1
),
num AS (
  SELECT p.lang, p.nodes, coalesce(w.e_within, 0) AS e_within, p.d_sum,
         4 * m * coalesce(w.e_within, 0) - p.d_sum * p.d_sum
           AS contrib_num,
         4 * m * m AS den
  FROM per_lang p LEFT JOIN within w ON p.lang = w.lang, m_
),
total AS (
  SELECT CAST(floor(1000.0 * CAST(sum(contrib_num) AS DOUBLE)
              / CAST(max(den) AS DOUBLE)) AS BIGINT) AS q_milli
  FROM num
)
SELECT lang, nodes, e_within, d_sum,
       CAST(floor(1000000.0 * CAST(contrib_num AS DOUBLE)
            / CAST(den AS DOUBLE)) AS BIGINT) AS contrib_ppm,
       q_milli
FROM num, total
ORDER BY 1
"""


# q406: bounded-load consistent hashing audit

def q406_bounded_load_chash(spark, sf_dir):
    """Consistent-hashing-with-bounded-loads placement audit
    (Mirrokni et al.): 16 shards, capacity 105% of mean, home shard
    by portable hash; within each home shard docs are admitted in
    (hash, doc_id) rank order up to capacity, overflow spills ONE
    ring hop to (home+1) % 16 where it competes — again rank-pinned
    — for the residual capacity, and what still doesn't fit is
    counted unplaced (one-hop spill is the SPEC; cascades are
    order-dependent and don't belong in a declarative audit).  q116
    audits a rebalance, q272 picks owners; this audits the load CAP
    that keeps p99 shards from melting.

    Scale shape: one hash projection + two rank windows partitioned
    by shard + one shard census; nothing global."""
    docs = _t(spark, sf_dir, "documents")
    n_ = docs.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    hashed = docs.select(
        "doc_id",
        md5_i64_expr(F.col("doc_id").cast("string"), salt="ch").alias("h"),
    ).withColumn("home", F.col("h") % 16)
    wr = Window.partitionBy("home").orderBy("h", "doc_id")
    ranked = (
        hashed.crossJoin(F.broadcast(n_))
        .withColumn("cap", F.expr("((n div 16) * 21) div 20 + 1"))
        .withColumn("rk", F.row_number().over(wr).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    kept = ranked.where(F.col("rk") <= F.col("cap"))
    spilled = ranked.where(F.col("rk") > F.col("cap")).withColumn(
        "tgt", (F.col("home") + 1) % 16
    )
    kept_per = kept.groupBy("home").agg(
        F.count(F.lit(1)).cast("bigint").alias("kept_home")
    )
    shards = spark.range(16).select(F.col("id").cast("bigint").alias("shard"))
    base = (
        shards.join(
            kept_per.select(F.col("home").alias("shard"), "kept_home"),
            "shard",
            "left",
        )
        .na.fill({"kept_home": 0})
        .join(
            F.broadcast(
                ranked.groupBy(F.col("home").alias("shard")).agg(
                    F.count(F.lit(1)).cast("bigint").alias("home_n"),
                    F.max("cap").cast("bigint").alias("cap"),
                )
            ),
            "shard",
            "left",
        )
        .na.fill({"home_n": 0})
    )
    # residual capacity of the spill TARGET, competed for in rank order
    ws = Window.partitionBy("tgt").orderBy("h", "doc_id")
    spill_ranked = spilled.withColumn(
        "srk", F.row_number().over(ws).cast("bigint")
    ).join(
        F.broadcast(
            base.select(
                F.col("shard").alias("tgt"),
                (F.col("cap") - F.col("kept_home")).alias("rem"),
            )
        ),
        "tgt",
    )
    placed = spill_ranked.where(
        F.col("srk") <= F.greatest(F.lit(0), F.col("rem"))
    )
    placed_per = placed.groupBy(F.col("tgt").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("spill_in")
    )
    out_per = spilled.groupBy(F.col("home").alias("shard")).agg(
        F.count(F.lit(1)).cast("bigint").alias("spill_out")
    )
    unplaced = spill_ranked.where(
        F.col("srk") > F.greatest(F.lit(0), F.col("rem"))
    ).agg(F.count(F.lit(1)).cast("bigint").alias("unplaced"))
    return (
        base.join(F.broadcast(placed_per), "shard", "left")
        .join(F.broadcast(out_per), "shard", "left")
        .na.fill({"spill_in": 0, "spill_out": 0})
        .crossJoin(F.broadcast(unplaced))
        .select(
            "shard",
            "home_n",
            "cap",
            "kept_home",
            "spill_in",
            "spill_out",
            (F.col("kept_home") + F.col("spill_in")).cast("bigint")
            .alias("final_load"),
            F.expr("((kept_home + spill_in) * 1000000) div cap")
            .cast("bigint")
            .alias("fill_ppm"),
            "unplaced",
        )
        .orderBy("shard")
    )


def _oracle_q406() -> str:
    h = duck_md5_i64("CAST(doc_id AS VARCHAR)", salt="ch")
    return f"""
WITH n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM documents),
hashed AS (
  SELECT doc_id, {h} AS h, {h} % 16 AS home FROM documents
),
ranked AS (
  SELECT doc_id, h, home,
         ((n // 16) * 21) // 20 + 1 AS cap,
         CAST(row_number() OVER (PARTITION BY home ORDER BY h, doc_id)
              AS BIGINT) AS rk
  FROM hashed, n_
),
kept AS (SELECT * FROM ranked WHERE rk <= cap),
spilled AS (
  SELECT *, (home + 1) % 16 AS tgt FROM ranked WHERE rk > cap
),
shards AS (SELECT CAST(unnest(range(16)) AS BIGINT) AS shard),
base AS (
  SELECT s.shard,
         coalesce(hn.home_n, 0) AS home_n,
         coalesce(hn.cap, (SELECT ((n // 16) * 21) // 20 + 1 FROM n_))
           AS cap,
         coalesce(k.kept_home, 0) AS kept_home
  FROM shards s
  LEFT JOIN (SELECT home, CAST(count(*) AS BIGINT) AS home_n,
                    CAST(max(cap) AS BIGINT) AS cap
             FROM ranked GROUP BY 1) hn ON s.shard = hn.home
  LEFT JOIN (SELECT home, CAST(count(*) AS BIGINT) AS kept_home
             FROM kept GROUP BY 1) k ON s.shard = k.home
),
spill_ranked AS (
  SELECT sp.*, b.cap - b.kept_home AS rem,
         CAST(row_number() OVER (PARTITION BY tgt ORDER BY h, doc_id)
              AS BIGINT) AS srk
  FROM spilled sp JOIN base b ON sp.tgt = b.shard
),
placed AS (
  SELECT tgt, CAST(count(*) AS BIGINT) AS spill_in
  FROM spill_ranked WHERE srk <= greatest(CAST(0 AS BIGINT), rem)
  GROUP BY 1
),
outp AS (
  SELECT home, CAST(count(*) AS BIGINT) AS spill_out
  FROM spilled GROUP BY 1
),
unplaced AS (
  SELECT CAST(count(*) AS BIGINT) AS unplaced
  FROM spill_ranked WHERE srk > greatest(CAST(0 AS BIGINT), rem)
)
SELECT b.shard, b.home_n, b.cap, b.kept_home,
       coalesce(p.spill_in, 0) AS spill_in,
       coalesce(o.spill_out, 0) AS spill_out,
       CAST(b.kept_home + coalesce(p.spill_in, 0) AS BIGINT)
         AS final_load,
       CAST(((b.kept_home + coalesce(p.spill_in, 0)) * 1000000) // b.cap
            AS BIGINT) AS fill_ppm,
       unplaced
FROM base b
LEFT JOIN placed p ON b.shard = p.tgt
LEFT JOIN outp o ON b.shard = o.home, unplaced
ORDER BY 1
"""


# q407: exact least-squares changepoint

def q407_ls_changepoint(spark, sf_dir):
    """Exact single-changepoint least-squares split of the daily
    event-count series (the regression-tree root over time): on the
    dense day spine, the split day minimizing two-segment SSE under
    the catalog's scaled-integer objective (q396's milli convention,
    so both engines optimize the identical integer; tie -> earliest
    split), with segment means and the variance explained by the
    break.  q144's CUSUM flags WHERE drift accumulates; this fits
    the best STEP model — the structural-break answer.

    Scale shape: one day agg + dense spine + prefix sums, then the
    |days|-row split sweep (each split cost is O(1) off the
    prefixes) and one rank-1 pick — metadata-scale after the first
    shuffle."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.expr(
            "CAST(unix_timestamp(ts) - unix_timestamp(ts) % 86400"
            " AS BIGINT)"
        ).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = obs.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.lit(86400))).alias("day")
    )
    daily = (
        spine.join(obs, "day", "left")
        .na.fill({"x": 0})
        .localCheckpoint(eager=True)
    )
    wd = Window.orderBy("day").rowsBetween(Window.unboundedPreceding, 0)
    pref = daily.select(
        "day",
        F.row_number().over(Window.orderBy("day")).cast("bigint").alias("t"),
        F.sum("x").over(wd).cast("bigint").alias("s"),
        F.sum(F.col("x") * F.col("x")).over(wd).cast("bigint").alias("q"),
    ).localCheckpoint(eager=True)
    tot = pref.agg(
        F.max("t").cast("bigint").alias("nd"),
        F.max("s").cast("bigint").alias("st"),
        F.max("q").cast("bigint").alias("qt"),
    )
    splits = (
        pref.crossJoin(F.broadcast(tot))
        .where(F.col("t") < F.col("nd"))
        .select(
            "day",
            "t",
            "s",
            "q",
            "nd",
            "st",
            "qt",
            F.expr(
                "((t * q - s * s) * 1000) div t"
                " + (((nd - t) * (qt - q) - (st - s) * (st - s)) * 1000)"
                " div (nd - t)"
            ).alias("cost"),
        )
    )
    wmin = Window.orderBy("cost", "t")
    best = (
        splits.withColumn("rk", F.row_number().over(wmin))
        .where(F.col("rk") == 1)
    )
    return best.select(
        F.col("day").alias("split_day_epoch"),
        F.col("nd").alias("n_days"),
        F.expr("(s * 1000) div t").cast("bigint").alias("left_mean_milli"),
        F.expr("((st - s) * 1000) div (nd - t)").cast("bigint")
        .alias("right_mean_milli"),
        F.expr("((nd * qt - st * st) * 1000) div nd").cast("bigint")
        .alias("total_sse_milli"),
        F.col("cost").cast("bigint").alias("split_sse_milli"),
        F.expr(
            "((((nd * qt - st * st) * 1000) div nd - cost) * 1000000)"
            " div greatest(CAST(1 AS BIGINT), ((nd * qt - st * st) * 1000)"
            " div nd)"
        ).cast("bigint").alias("explained_ppm"),
    )


ORACLE_Q407 = """
WITH obs AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM obs),
daily AS (
  SELECT s.day, coalesce(obs.x, 0) AS x
  FROM (SELECT unnest(range(d0, d1 + 1, 86400)) AS day FROM b) s
  LEFT JOIN obs ON obs.day = s.day
),
pref AS (
  SELECT day,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS t,
         CAST(sum(x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED PRECEDING
                           AND CURRENT ROW) AS BIGINT) AS s,
         CAST(sum(x * x) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                               PRECEDING AND CURRENT ROW) AS BIGINT) AS q
  FROM daily
),
tot AS (
  SELECT CAST(max(t) AS BIGINT) AS nd, CAST(max(s) AS BIGINT) AS st,
         CAST(max(q) AS BIGINT) AS qt
  FROM pref
),
splits AS (
  SELECT day, t, s, q, nd, st, qt,
         ((t * q - s * s) * 1000) // t
         + (((nd - t) * (qt - q) - (st - s) * (st - s)) * 1000) // (nd - t)
           AS cost
  FROM pref, tot WHERE t < nd
),
best AS (
  SELECT * FROM (
    SELECT *, row_number() OVER (ORDER BY cost, t) AS rk FROM splits
  ) WHERE rk = 1
)
SELECT day AS split_day_epoch, nd AS n_days,
       CAST((s * 1000) // t AS BIGINT) AS left_mean_milli,
       CAST(((st - s) * 1000) // (nd - t) AS BIGINT) AS right_mean_milli,
       CAST(((nd * qt - st * st) * 1000) // nd AS BIGINT)
         AS total_sse_milli,
       CAST(cost AS BIGINT) AS split_sse_milli,
       CAST(((((nd * qt - st * st) * 1000) // nd - cost) * 1000000)
            // greatest(CAST(1 AS BIGINT),
                        ((nd * qt - st * st) * 1000) // nd) AS BIGINT)
         AS explained_ppm
FROM best
"""


# q408: second-price auction replay

def q408_second_price_auction(spark, sf_dir):
    """Second-price (Vickrey) auction replay: every 1-hour window is
    an auction, every event's cent value a bid; clearing at the
    second-highest bid vs first-price, with exact totals — the
    revenue discount the truthful mechanism costs, the per-auction
    depth that drives it, and the single-bid auctions that clear at
    zero without a reserve (counted, not hidden).  The ad-exchange /
    spot-market accounting view of the event stream; q220/q238
    aggregate prices, this clears MARKETS over them.

    Scale shape: one window agg via two rank picks per window
    (rank-1 and rank-2 bids off ONE ordered window), then a
    single-row census."""
    ev = _t(spark, sf_dir, "events")
    bids = ev.select(
        F.expr(
            "CAST(unix_timestamp(ts) - unix_timestamp(ts) % 3600"
            " AS BIGINT)"
        ).alias("w"),
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        "event_id",
    )
    wr = Window.partitionBy("w").orderBy(F.desc("c"), "event_id")
    ranked = bids.withColumn("rk", F.row_number().over(wr))
    auctions = (
        ranked.where(F.col("rk") <= 2)
        .groupBy("w")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("depth2"),
            F.max(F.when(F.col("rk") == 1, F.col("c"))).alias("first_c"),
            F.coalesce(
                F.max(F.when(F.col("rk") == 2, F.col("c"))), F.lit(0)
            ).alias("second_c"),
        )
    )
    return auctions.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_auctions"),
        F.sum(F.when(F.col("depth2") < 2, 1).otherwise(0))
        .cast("bigint")
        .alias("single_bid_auctions"),
        F.sum("first_c").cast("bigint").alias("first_price_cents"),
        F.sum("second_c").cast("bigint").alias("second_price_cents"),
    ).select(
        "n_auctions",
        "single_bid_auctions",
        "first_price_cents",
        "second_price_cents",
        F.expr(
            "((first_price_cents - second_price_cents) * 1000000)"
            " div first_price_cents"
        ).cast("bigint").alias("discount_ppm"),
    )


ORACLE_Q408 = """
WITH bids AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS w,
         CAST(round(value * 100) AS BIGINT) AS c, event_id
  FROM events
),
ranked AS (
  SELECT w, c,
         row_number() OVER (PARTITION BY w ORDER BY c DESC, event_id)
           AS rk
  FROM bids
),
auctions AS (
  SELECT w, CAST(count(*) AS BIGINT) AS depth2,
         max(CASE WHEN rk = 1 THEN c END) AS first_c,
         coalesce(max(CASE WHEN rk = 2 THEN c END), 0) AS second_c
  FROM ranked WHERE rk <= 2 GROUP BY 1
)
SELECT CAST(count(*) AS BIGINT) AS n_auctions,
       CAST(sum(CASE WHEN depth2 < 2 THEN 1 ELSE 0 END) AS BIGINT)
         AS single_bid_auctions,
       CAST(sum(first_c) AS BIGINT) AS first_price_cents,
       CAST(sum(second_c) AS BIGINT) AS second_price_cents,
       CAST(((sum(first_c) - sum(second_c)) * 1000000) // sum(first_c)
            AS BIGINT) AS discount_ppm
FROM auctions
"""


# q409: split-half ranking stability

def q409_splithalf_stability(spark, sf_dir):
    """Split-half stability of the top-10 token leaderboard: docs
    partitioned into two disjoint halves by portable hash parity,
    the frequency top-10 ranked independently in each half
    (deterministic tie-break), and the agreement profile measured —
    overlap at depth 10 and a depth-averaged overlap (RBO-lite:
    mean over d=1..10 of |A_d ∩ B_d|·1e6/d, integer formula spec'd)
    — the sampling-noise floor under any 'top tokens changed!'
    alert.  q342 compares two GIVEN rankings; this manufactures the
    null comparison every ranking monitor needs.

    Scale shape: one token explode with a map-side hash half-tag,
    one (token, half) agg, two rank windows on the half censuses,
    then the 10x10 depth profile on the <=20-row top-list join."""
    docs = _t_wide(spark, sf_dir, "documents")
    toks = docs.select(
        md5_i64_expr(F.col("doc_id").cast("string"), salt="sh")
        .alias("h"),
        F.explode(tokens_expr(F.col("text"))).alias("token"),
    ).select((F.col("h") % 2).alias("half"), "token")
    counts = toks.groupBy("half", "token").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    wr = Window.partitionBy("half").orderBy(F.desc("n"), "token")
    top = (
        counts.withColumn("rk", F.row_number().over(wr).cast("bigint"))
        .where(F.col("rk") <= 10)
        .localCheckpoint(eager=True)
    )
    a = top.where(F.col("half") == 0).select(
        "token", F.col("rk").alias("ra")
    )
    b = top.where(F.col("half") == 1).select(
        "token", F.col("rk").alias("rb")
    )
    both = a.join(b, "token")
    depths = spark.range(1, 11).select(F.col("id").cast("bigint").alias("d"))
    profile = (
        depths.join(
            F.broadcast(both),
            (F.col("ra") <= F.col("d")) & (F.col("rb") <= F.col("d")),
            "left",
        )
        .groupBy("d")
        .agg(
            F.sum(F.when(F.col("token").isNotNull(), 1).otherwise(0))
            .cast("bigint")
            .alias("ov")
        )
    )
    return profile.agg(
        F.max(F.when(F.col("d") == 10, F.col("ov"))).cast("bigint")
        .alias("overlap_at_10"),
        F.sum(F.expr("(ov * 1000000) div d")).cast("bigint").alias("_s"),
        F.max(
            F.when(F.col("d") == 1, (F.col("ov") == 1).cast("bigint"))
        ).cast("bigint").alias("top1_agree"),
    ).select(
        "overlap_at_10",
        F.expr("_s div 10").cast("bigint").alias("avg_overlap_ppm"),
        "top1_agree",
    )


def _oracle_q409() -> str:
    h = duck_md5_i64("CAST(doc_id AS VARCHAR)", salt="sh")
    return f"""
WITH toks AS (
  SELECT {h} % 2 AS half,
         unnest(list_filter(string_split(text, ' '), t -> t <> ''))
           AS token
  FROM documents
),
counts AS (
  SELECT half, token, CAST(count(*) AS BIGINT) AS n
  FROM toks GROUP BY 1, 2
),
top AS (
  SELECT * FROM (
    SELECT half, token,
           CAST(row_number() OVER (PARTITION BY half
                                   ORDER BY n DESC, token) AS BIGINT)
             AS rk
    FROM counts
  ) WHERE rk <= 10
),
both_ AS (
  SELECT a.token, a.rk AS ra, b.rk AS rb
  FROM top a JOIN top b ON a.token = b.token
  WHERE a.half = 0 AND b.half = 1
),
depths AS (SELECT CAST(unnest(range(1, 11)) AS BIGINT) AS d),
profile AS (
  SELECT d,
         CAST(sum(CASE WHEN token IS NOT NULL THEN 1 ELSE 0 END)
              AS BIGINT) AS ov
  FROM depths LEFT JOIN both_ ON ra <= d AND rb <= d
  GROUP BY 1
)
SELECT CAST(max(CASE WHEN d = 10 THEN ov END) AS BIGINT)
         AS overlap_at_10,
       CAST(sum((ov * 1000000) // d) // 10 AS BIGINT)
         AS avg_overlap_ppm,
       CAST(max(CASE WHEN d = 1 THEN CASE WHEN ov = 1 THEN 1 ELSE 0 END
                END) AS BIGINT) AS top1_agree
FROM profile
"""


# q410: bin-packing optimality-gap audit

def q410_binpack_bounds(spark, sf_dir):
    """Bin-packing optimality-gap audit for file compaction at
    C=2048 bytes: the EXACT Martello-Toth L2 lower bound (the alpha
    sweep over candidate thresholds, each bound read off one size
    histogram with conditional aggregation) against the HARMONIC
    size-class upper bound (class (C/(k+1), C/k] packs k per bin —
    a valid packing with zero sequential state, unlike first-fit).
    Oversize files (> C) are split into their own ceil(size/C)
    dedicated bins on BOTH sides, spec'd — that is what compaction
    services actually do with huge files.  The certificate that
    q298's one-pass packing plan is within X ppm of optimal, not
    just plausible.

    Scale shape: one size histogram off the corpus; the alpha sweep
    joins candidates x histogram (both bounded by <=C distinct
    sizes) — metadata-scale; zero sequential packing state
    anywhere."""
    c = 2048
    docs = _t(spark, sf_dir, "documents")
    sizes = docs.select(
        F.octet_length("text").cast("bigint").alias("sz")
    )
    over = sizes.where(F.col("sz") > c).agg(
        F.count(F.lit(1)).cast("bigint").alias("oversize_items"),
        F.coalesce(
            F.sum(F.expr(f"(sz + {c} - 1) div {c}")), F.lit(0)
        ).cast("bigint").alias("oversize_bins"),
    )
    hist = (
        sizes.where(F.col("sz") <= c)
        .groupBy("sz")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
        .localCheckpoint(eager=True)
    )
    base = hist.agg(
        F.sum("n").cast("bigint").alias("n_items"),
        F.sum(F.col("sz") * F.col("n")).cast("bigint").alias("mass"),
    )
    # Martello-Toth L2: sweep alpha over candidate sizes <= C/2 (+ 0)
    cands = (
        hist.where(F.col("sz") * 2 <= c)
        .select(F.col("sz").alias("alpha"))
        .unionByName(
            spark.range(1).select(F.lit(0).cast("bigint").alias("alpha"))
        )
        .distinct()
    )
    l2_terms = (
        cands.join(F.broadcast(hist), F.lit(True))
        .groupBy("alpha")
        .agg(
            F.sum(
                F.when(F.col("sz") * 2 > c, 0)
                .when(F.col("sz") >= F.col("alpha"), F.col("sz") * F.col("n"))
                .otherwise(0)
            ).alias("s3"),
            F.sum(
                F.when(
                    (F.col("sz") * 2 > c) & (F.col("sz") <= c - F.col("alpha")),
                    F.col("n"),
                ).otherwise(0)
            ).alias("n2"),
            F.sum(
                F.when(
                    (F.col("sz") * 2 > c) & (F.col("sz") <= c - F.col("alpha")),
                    F.col("sz") * F.col("n"),
                ).otherwise(0)
            ).alias("s2"),
            F.sum(
                F.when(F.col("sz") > c - F.col("alpha"), F.col("n"))
                .otherwise(0)
            ).alias("n1"),
        )
        .select(
            F.expr(
                f"n1 + n2 + CASE WHEN s3 - (n2 * {c} - s2) > 0"
                f" THEN (s3 - (n2 * {c} - s2) + {c} - 1) div {c}"
                " ELSE 0 END"
            ).alias("lb")
        )
    )
    l2 = l2_terms.agg(F.max("lb").cast("bigint").alias("l2_lower"))
    # Harmonic upper bound: class k packs k items per bin, k = 1..7,
    # tail class (<= C/8) packs 8 per bin
    harmonic = hist.select(
        F.expr(
            f"CASE WHEN sz * 2 > {c} THEN 1 WHEN sz * 3 > {c} THEN 2"
            f" WHEN sz * 4 > {c} THEN 3 WHEN sz * 5 > {c} THEN 4"
            f" WHEN sz * 6 > {c} THEN 5 WHEN sz * 7 > {c} THEN 6"
            f" WHEN sz * 8 > {c} THEN 7 ELSE 8 END"
        ).alias("k"),
        "n",
    ).groupBy("k").agg(F.sum("n").alias("nk")).agg(
        F.sum(F.expr("(nk + k - 1) div k")).cast("bigint")
        .alias("harmonic_upper")
    )
    return (
        base.crossJoin(F.broadcast(over))
        .crossJoin(F.broadcast(l2))
        .crossJoin(F.broadcast(harmonic))
        .select(
            "n_items",
            "oversize_items",
            "oversize_bins",
            F.expr(f"(mass + {c} - 1) div {c}").cast("bigint")
            .alias("naive_lower"),
            "l2_lower",
            "harmonic_upper",
            F.expr(
                "((harmonic_upper - l2_lower) * 1000000)"
                " div harmonic_upper"
            ).cast("bigint").alias("gap_ppm"),
        )
    )


ORACLE_Q410 = """
WITH sizes AS (
  SELECT CAST(strlen(text) AS BIGINT) AS sz FROM documents
),
over_ AS (
  SELECT CAST(count(*) AS BIGINT) AS oversize_items,
         CAST(coalesce(sum((sz + 2047) // 2048), 0) AS BIGINT)
           AS oversize_bins
  FROM sizes WHERE sz > 2048
),
hist AS (
  SELECT sz, CAST(count(*) AS BIGINT) AS n
  FROM sizes WHERE sz <= 2048 GROUP BY 1
),
base AS (
  SELECT CAST(sum(n) AS BIGINT) AS n_items,
         CAST(sum(sz * n) AS BIGINT) AS mass
  FROM hist
),
cands AS (
  SELECT DISTINCT alpha FROM (
    SELECT sz AS alpha FROM hist WHERE sz * 2 <= 2048
    UNION ALL SELECT CAST(0 AS BIGINT)
  )
),
l2_terms AS (
  SELECT alpha,
         sum(CASE WHEN sz * 2 > 2048 THEN 0
                  WHEN sz >= alpha THEN sz * n ELSE 0 END) AS s3,
         sum(CASE WHEN sz * 2 > 2048 AND sz <= 2048 - alpha
                  THEN n ELSE 0 END) AS n2,
         sum(CASE WHEN sz * 2 > 2048 AND sz <= 2048 - alpha
                  THEN sz * n ELSE 0 END) AS s2,
         sum(CASE WHEN sz > 2048 - alpha THEN n ELSE 0 END) AS n1
  FROM cands, hist GROUP BY 1
),
l2 AS (
  SELECT CAST(max(n1 + n2 + CASE WHEN s3 - (n2 * 2048 - s2) > 0
              THEN (s3 - (n2 * 2048 - s2) + 2047) // 2048
              ELSE 0 END) AS BIGINT) AS l2_lower
  FROM l2_terms
),
harmonic AS (
  SELECT CAST(sum((nk + k - 1) // k) AS BIGINT) AS harmonic_upper
  FROM (
    SELECT CASE WHEN sz * 2 > 2048 THEN 1 WHEN sz * 3 > 2048 THEN 2
                WHEN sz * 4 > 2048 THEN 3 WHEN sz * 5 > 2048 THEN 4
                WHEN sz * 6 > 2048 THEN 5 WHEN sz * 7 > 2048 THEN 6
                WHEN sz * 8 > 2048 THEN 7 ELSE 8 END AS k,
           CAST(sum(n) AS BIGINT) AS nk
    FROM hist GROUP BY 1
  )
)
SELECT n_items, oversize_items, oversize_bins,
       CAST((mass + 2047) // 2048 AS BIGINT) AS naive_lower,
       l2_lower, harmonic_upper,
       CAST(((harmonic_upper - l2_lower) * 1000000) // harmonic_upper
            AS BIGINT) AS gap_ppm
FROM base, over_, l2, harmonic
"""


# q411: exact Markov hitting times (absorbing-chain solve via Cramer)

_Q411_STATES = ["click", "error", "signup", "view"]


def _det4(m) -> str:
    """24-term Leibniz expansion of a 4x4 determinant over column-name
    strings — ONE generator feeds both engines (and the pytest
    replay), so the algebra cannot diverge.  Exact when the entries
    are exact integers (DECIMAL(38,0) in Spark, HUGEINT in DuckDB:
    |entry|^4 * 24 stays far under 10^38)."""
    from itertools import permutations

    def sgn(p):
        s = 1
        for i in range(4):
            for j in range(i + 1, 4):
                if p[i] > p[j]:
                    s = -s
        return s

    parts = ["0"]
    for p in permutations(range(4)):
        term = " * ".join(m[r][p[r]] for r in range(4))
        parts.append(("+ (" if sgn(p) > 0 else "- (") + term + ")")
    return "(" + " ".join(parts) + ")"


def _q411_mat_names():
    a = [[f"a{i}{j}" for j in range(4)] for i in range(4)]
    r = [f"rr{i}" for i in range(4)]
    return a, r


def q411_markov_hitting_time(spark, sf_dir):
    """Expected steps to PURCHASE from each behavioral state — the
    absorbing-Markov-chain hitting time h = (diag(r) - C)^-1 r
    solved EXACTLY in pure SQL via Cramer's rule: the 4x4 integer
    system's determinants expand as generated 24-term Leibniz sums
    over DECIMAL(38,0) (|entry|^4 * 24 << 10^38 at any plausible
    sf), one shared expression generator feeding Spark, DuckDB and
    the pytest replay; only the final milli division touches float,
    parenthesis-mirrored.  q129 estimates the transition MATRIX and
    q336 ranks paths; this solves the chain — the number marketing
    actually asks for ('how many touches until purchase from
    state X?').

    Scale shape: one per-user lag window + one 20-cell conditional
    agg; the linear solve is a single-row expression."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    pairs = (
        ev.select(
            "user_id",
            "ts",
            "event_id",
            F.col("event_type").alias("src"),
            F.lead("event_type").over(w).alias("dst"),
        )
        .where(F.col("dst").isNotNull())
        .where(F.col("src") != "purchase")
    )
    aggs = []
    for i, si in enumerate(_Q411_STATES):
        aggs.append(
            F.sum(F.when(F.col("src") == si, 1).otherwise(0))
            .cast("bigint")
            .alias(f"r{i}")
        )
        for j, sj in enumerate(_Q411_STATES):
            aggs.append(
                F.sum(
                    F.when(
                        (F.col("src") == si) & (F.col("dst") == sj), 1
                    ).otherwise(0)
                )
                .cast("bigint")
                .alias(f"c{i}{j}")
            )
    one = pairs.agg(*aggs)
    a, r = _q411_mat_names()
    mat_cols = []
    for i in range(4):
        mat_cols.append(
            F.expr(f"CAST(r{i} AS DECIMAL(38,0))").alias(r[i])
        )
        for j in range(4):
            diag = f"r{i} - c{i}{j}" if i == j else f"0 - c{i}{j}"
            mat_cols.append(
                F.expr(f"CAST({diag} AS DECIMAL(38,0))").alias(a[i][j])
            )
    mat = one.select(*mat_cols).localCheckpoint(eager=True)
    det = _det4(a)
    outs = []
    for k, st in enumerate(_Q411_STATES):
        ak = [
            [r[i] if j == k else a[i][j] for j in range(4)]
            for i in range(4)
        ]
        detk = _det4(ak)
        outs.append(
            mat.select(
                F.lit(st).alias("state"),
                F.expr(
                    f"CAST(floor(1000.0 * CAST({detk} AS DOUBLE)"
                    f" / CAST({det} AS DOUBLE)) AS BIGINT)"
                ).alias("hitting_steps_milli"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    return res.orderBy("state")


def _oracle_q411() -> str:
    a, r = _q411_mat_names()
    cells = []
    for i, si in enumerate(_Q411_STATES):
        cells.append(
            f"CAST(sum(CASE WHEN src = '{si}' THEN 1 ELSE 0 END)"
            f" AS HUGEINT) AS r{i}"
        )
        for j, sj in enumerate(_Q411_STATES):
            cells.append(
                f"CAST(sum(CASE WHEN src = '{si}' AND dst = '{sj}'"
                f" THEN 1 ELSE 0 END) AS HUGEINT) AS c{i}{j}"
            )
    mat_cols = []
    for i in range(4):
        mat_cols.append(f"r{i} AS {r[i]}")
        for j in range(4):
            diag = f"r{i} - c{i}{j}" if i == j else f"0 - c{i}{j}"
            mat_cols.append(f"({diag}) AS {a[i][j]}")
    det = _det4(a)
    sels = []
    for k, st in enumerate(_Q411_STATES):
        ak = [
            [r[i] if j == k else a[i][j] for j in range(4)]
            for i in range(4)
        ]
        detk = _det4(ak)
        sels.append(
            f"SELECT '{st}' AS state,"
            f" CAST(floor(1000.0 * CAST({detk} AS DOUBLE)"
            f" / CAST({det} AS DOUBLE)) AS BIGINT)"
            " AS hitting_steps_milli FROM mat"
        )
    union = "\nUNION ALL ".join(sels)
    return f"""
WITH pairs AS (
  SELECT src, dst FROM (
    SELECT event_type AS src,
           lead(event_type) OVER (PARTITION BY user_id
                                  ORDER BY ts, event_id) AS dst
    FROM events
  ) WHERE dst IS NOT NULL AND src <> 'purchase'
),
one AS (SELECT {", ".join(cells)} FROM pairs),
mat AS (SELECT {", ".join(mat_cols)} FROM one)
{union}
ORDER BY 1
"""


# q412: LSM compaction-strategy advisor

def q412_lsm_compaction_advisor(spark, sf_dir):
    """LSM-tree compaction-strategy advisor priced from THIS corpus:
    with the corpus as the stored volume and a 64 KiB memtable, for
    each size-ratio candidate {4, 8, 10, 16} the level count (first
    L with memtable * ratio^L >= volume — the ratio powers are
    Python-generated literals, so neither engine computes a float
    log) and the standard leveled-vs-tiered cost model: write
    amplification levels*ratio vs levels, read amplification levels
    vs levels*ratio, space amplification (ratio+1)/ratio vs 2x —
    the classic RUM trade-off as a table, spec'd formulas stated.
    q333/q250/q182/q307 price encodings; this prices the TREE the
    encodings live in.

    Scale shape: one corpus byte-sum; the sweep is a literal
    (ratio, L, ratio^L) relation joined against one scalar."""
    memtable = 65536
    docs = _t(spark, sf_dir, "documents")
    vol = docs.agg(
        F.sum(F.octet_length("text")).cast("bigint").alias("volume")
    )
    # literal power table, bounded so memtable * pw stays inside
    # int64 (ANSI Spark hard-errors on overflow); depth 20 covers
    # exabyte volumes at every ratio
    powers = spark.createDataFrame(
        [
            (ratio, level, ratio**level)
            for ratio in (4, 8, 10, 16)
            for level in range(1, 21)
            if 65536 * ratio**level < 2**63
        ],
        "ratio bigint, lvl bigint, pw bigint",
    )
    levels = (
        powers.crossJoin(F.broadcast(vol))
        .where(F.lit(memtable) * F.col("pw") >= F.col("volume"))
        .groupBy("ratio", "volume")
        .agg(F.min("lvl").cast("bigint").alias("levels"))
    )
    return levels.select(
        "ratio",
        "volume",
        "levels",
        (F.col("levels") * F.col("ratio")).cast("bigint")
        .alias("leveled_write_amp"),
        F.col("levels").cast("bigint").alias("tiered_write_amp"),
        F.col("levels").cast("bigint").alias("leveled_read_amp"),
        (F.col("levels") * F.col("ratio")).cast("bigint")
        .alias("tiered_read_amp"),
        F.expr("((ratio + 1) * 1000000) div ratio").cast("bigint")
        .alias("leveled_space_ppm"),
        F.lit(2000000).cast("bigint").alias("tiered_space_ppm"),
    ).orderBy("ratio")


def _oracle_q412() -> str:
    rows = ", ".join(
        f"({ratio}, {level}, {ratio**level})"
        for ratio in (4, 8, 10, 16)
        for level in range(1, 21)
        if 65536 * ratio**level < 2**63
    )
    return f"""
WITH vol AS (
  SELECT CAST(sum(strlen(text)) AS BIGINT) AS volume FROM documents
),
powers AS (
  SELECT CAST(ratio AS BIGINT) AS ratio, CAST(lvl AS BIGINT) AS lvl,
         CAST(pw AS BIGINT) AS pw
  FROM (VALUES {rows}) t(ratio, lvl, pw)
),
levels AS (
  SELECT ratio, volume, CAST(min(lvl) AS BIGINT) AS levels
  FROM powers, vol WHERE 65536 * pw >= volume
  GROUP BY 1, 2
)
SELECT ratio, volume, levels,
       CAST(levels * ratio AS BIGINT) AS leveled_write_amp,
       levels AS tiered_write_amp,
       levels AS leveled_read_amp,
       CAST(levels * ratio AS BIGINT) AS tiered_read_amp,
       CAST(((ratio + 1) * 1000000) // ratio AS BIGINT)
         AS leveled_space_ppm,
       CAST(2000000 AS BIGINT) AS tiered_space_ppm
FROM levels ORDER BY 1
"""


# q413: greedy data-cube view selection (Harinarayan-Rajaraman-Ullman)

def q413_cube_view_selection(spark, sf_dir):
    """Greedy view selection on the 3-dim data-cube lattice
    (Harinarayan-Rajaraman-Ullman '96): cuboid sizes over (lang,
    source, 512-char size bucket) measured exactly with ONE cube
    pass (grouping-id census), then three unrolled greedy rounds
    pick the views whose materialization maximizes total benefit
    sum_w max(0, cost(w) - size(v)) over the cuboids w <= v they can
    answer (cost(w) = smallest materialized superset; the base
    cuboid starts materialized; ties -> smaller size, then mask).
    Each round is join algebra on the 8-row lattice — the greedy's
    sequentiality is bounded by the PICK COUNT, not the data.  The
    OLAP companion to q356 (which dims are USED) and q123 (how to
    lay files out): which rollups to PRECOMPUTE.

    Scale shape: one cube pass over the corpus; three rounds of
    8x8 bitmask-subset joins — metadata-scale."""
    docs = _t(spark, sf_dir, "documents")
    cube = (
        docs.cube(
            "lang", "source", (F.col("n_chars") / 512).cast("bigint")
            .alias("bucket")
        )
        .agg(F.grouping_id().alias("gid"))
        .groupBy("gid")
        .agg(F.count(F.lit(1)).cast("bigint").alias("size"))
    )
    # gid bits: lang=4, source=2, bucket=1; 1 = EXCLUDED from the
    # grouping -> included-dims mask = 7 - gid
    sizes = cube.select(
        (7 - F.col("gid")).cast("bigint").alias("mask"), "size"
    ).localCheckpoint(eager=True)

    def costs_for(materialized):
        m = materialized.select(
            F.col("mask").alias("vm"), F.col("size").alias("vs")
        )
        return (
            sizes.join(
                F.broadcast(m), F.expr("(mask & vm) = mask")
            )
            .groupBy("mask")
            .agg(F.min("vs").cast("bigint").alias("cost"))
        )

    base = sizes.where(F.col("mask") == 7)
    materialized = base
    picked = []
    for round_i in range(3):
        cost = costs_for(materialized)
        cands = sizes.join(
            materialized.select(F.col("mask").alias("done")),
            F.col("mask") == F.col("done"),
            "left_anti",
        ).select(F.col("mask").alias("cm"), F.col("size").alias("cs"))
        bene = (
            cands.join(
                F.broadcast(cost.select(F.col("mask").alias("wm"),
                                        "cost")),
                F.expr("(wm & cm) = wm"),
            )
            .groupBy("cm", "cs")
            .agg(
                F.sum(
                    F.greatest(F.lit(0), F.col("cost") - F.col("cs"))
                ).cast("bigint").alias("benefit")
            )
        )
        wpick = Window.orderBy(
            F.desc("benefit"), "cs", "cm"
        )
        pick = (
            bene.withColumn("rk", F.row_number().over(wpick))
            .where(F.col("rk") == 1)
            .select(
                F.lit(round_i + 1).cast("bigint").alias("round"),
                F.col("cm").alias("mask"),
                F.col("cs").alias("size"),
                "benefit",
            )
            .localCheckpoint(eager=True)
        )
        picked.append(pick)
        materialized = materialized.unionByName(
            pick.select("mask", "size")
        )
    res = picked[0]
    for p in picked[1:]:
        res = res.unionByName(p)
    return res.orderBy("round")


ORACLE_Q413 = """
WITH sizes AS (
  SELECT CAST(7 - grouping(lang, source, bucket) AS BIGINT) AS mask,
         CAST(count(*) AS BIGINT) AS size
  FROM (
    SELECT lang, source, CAST(n_chars // 512 AS BIGINT) AS bucket
    FROM documents
  )
  GROUP BY CUBE (lang, source, bucket)
),
census AS (
  SELECT mask, CAST(count(*) AS BIGINT) AS size
  FROM sizes GROUP BY 1
),
-- round 1: base cuboid (mask 7) is the only materialized view
cost1 AS (
  SELECT c.mask, CAST(min(m.size) AS BIGINT) AS cost
  FROM census c JOIN census m ON (c.mask & m.mask) = c.mask
  WHERE m.mask = 7 GROUP BY 1
),
bene1 AS (
  SELECT c.mask AS cm, c.size AS cs,
         CAST(sum(greatest(0, w.cost - c.size)) AS BIGINT) AS benefit
  FROM census c JOIN cost1 w ON (w.mask & c.mask) = w.mask
  WHERE c.mask <> 7
  GROUP BY 1, 2
),
pick1 AS (
  SELECT * FROM (
    SELECT cm, cs, benefit,
           row_number() OVER (ORDER BY benefit DESC, cs, cm) AS rk
    FROM bene1
  ) WHERE rk = 1
),
mat2 AS (
  SELECT mask, size FROM census WHERE mask = 7
  UNION ALL SELECT cm, cs FROM pick1
),
cost2 AS (
  SELECT c.mask, CAST(min(m.size) AS BIGINT) AS cost
  FROM census c JOIN mat2 m ON (c.mask & m.mask) = c.mask
  GROUP BY 1
),
bene2 AS (
  SELECT c.mask AS cm, c.size AS cs,
         CAST(sum(greatest(0, w.cost - c.size)) AS BIGINT) AS benefit
  FROM census c JOIN cost2 w ON (w.mask & c.mask) = w.mask
  WHERE c.mask NOT IN (SELECT mask FROM mat2)
  GROUP BY 1, 2
),
pick2 AS (
  SELECT * FROM (
    SELECT cm, cs, benefit,
           row_number() OVER (ORDER BY benefit DESC, cs, cm) AS rk
    FROM bene2
  ) WHERE rk = 1
),
mat3 AS (
  SELECT * FROM mat2 UNION ALL SELECT cm, cs FROM pick2
),
cost3 AS (
  SELECT c.mask, CAST(min(m.size) AS BIGINT) AS cost
  FROM census c JOIN mat3 m ON (c.mask & m.mask) = c.mask
  GROUP BY 1
),
bene3 AS (
  SELECT c.mask AS cm, c.size AS cs,
         CAST(sum(greatest(0, w.cost - c.size)) AS BIGINT) AS benefit
  FROM census c JOIN cost3 w ON (w.mask & c.mask) = w.mask
  WHERE c.mask NOT IN (SELECT mask FROM mat3)
  GROUP BY 1, 2
),
pick3 AS (
  SELECT * FROM (
    SELECT cm, cs, benefit,
           row_number() OVER (ORDER BY benefit DESC, cs, cm) AS rk
    FROM bene3
  ) WHERE rk = 1
)
SELECT CAST(1 AS BIGINT) AS round, cm AS mask, cs AS size, benefit
FROM pick1
UNION ALL
SELECT 2, cm, cs, benefit FROM pick2
UNION ALL
SELECT 3, cm, cs, benefit FROM pick3
ORDER BY 1
"""


__all__ = _star_exports(globals())  # noqa: F405
