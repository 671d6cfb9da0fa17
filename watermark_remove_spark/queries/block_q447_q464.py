"""Registry block q447-q464 — split verbatim from the
single-module catalog (round-4 verdict #2); execution order,
names and behavior identical to the original queries.py."""
from __future__ import annotations

from .block_q414_q446 import *  # noqa: F401,F403



# q447: partial-aggregation (map-side combine) advisor

def q447_partial_agg_advisor(spark, sf_dir):
    """Map-side-combine effectiveness advisor: for three candidate
    groupings (event_type; user_id; user_id x day), the exact rows
    a 32-split ingest would shuffle WITH partial aggregation — sum
    over input splits of distinct keys present, with the split a
    deterministic stand-in (event_id % 32, spec'd — the split must
    be independent of the KEY, which is also why a hash-of-key
    split would be wrong: it makes every key single-split and the
    ratio degenerate) — vs the raw row count without it, and the
    reduction ppm.  THE number behind 'why is this groupBy cheap
    and that one not': low-cardinality keys combine 200:1,
    user-day keys barely combine at all.  q331 sizes partition
    counts; this predicts what the combiner buys per grouping.

    Scale shape: one (key, partition) distinct-agg per grouping —
    each map-side combinable itself — then a 3-row census."""
    ev = _t(spark, sf_dir, "events")
    groupings = [
        ("event_type", F.col("event_type").cast("string")),
        ("user_id", F.col("user_id").cast("string")),
        (
            "user_day",
            F.concat_ws(
                "/",
                F.col("user_id").cast("string"),
                F.expr("CAST(unix_timestamp(ts) div 86400 AS STRING)"),
            ),
        ),
    ]
    parts = []
    for name, key in groupings:
        tagged = ev.select(
            key.alias("k"),
            (F.col("event_id") % 32).alias("p"),
        )
        parts.append(
            tagged.agg(
                F.count(F.lit(1)).cast("bigint").alias("rows_in"),
                F.countDistinct("k", "p").cast("bigint")
                .alias("combined_rows"),
                F.countDistinct("k").cast("bigint").alias("n_keys"),
            ).select(
                F.lit(name).alias("grouping"),
                "rows_in",
                "n_keys",
                "combined_rows",
                F.expr(
                    "((rows_in - combined_rows) * 1000000) div rows_in"
                ).cast("bigint").alias("reduction_ppm"),
            )
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out.orderBy("grouping")


def _oracle_q447() -> str:
    blocks = []
    for name, key in (
        ("event_type", "event_type"),
        ("user_id", "CAST(user_id AS VARCHAR)"),
        (
            "user_day",
            "CAST(user_id AS VARCHAR) || '/' ||"
            " CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS VARCHAR)",
        ),
    ):
        blocks.append(f"""
  SELECT '{name}' AS grouping,
         CAST(count(*) AS BIGINT) AS rows_in,
         CAST(count(DISTINCT k) AS BIGINT) AS n_keys,
         CAST(count(DISTINCT (k, p)) AS BIGINT) AS combined_rows,
         CAST(((count(*) - count(DISTINCT (k, p))) * 1000000)
              // count(*) AS BIGINT) AS reduction_ppm
  FROM (SELECT {key} AS k, event_id % 32 AS p, ts FROM events)""")
    union = "\n  UNION ALL".join(blocks)
    return f"""
SELECT * FROM ({union})
ORDER BY grouping
"""


# q448: watermark partition-skew audit

def q448_watermark_skew_audit(spark, sf_dir):
    """Watermark partition-skew audit: with the stream hashed into
    32 partitions by user (portable hash, spec'd — the state-store
    partitioning this engine's streaming queries actually use), the
    watermark a min-of-partition-maxima policy could advance to vs
    the global max event time — the straggler lag in seconds, the
    straggler partition, and the spread of per-partition maxima
    (p10 pin).  Why real pipelines stall: ONE quiet partition holds
    the watermark for everyone; q380 sizes the delay KNOB, this
    measures the topology-induced floor under it.

    Scale shape: one (partition) max agg + single-row algebra +
    one rank pin over 32 rows."""
    ev = _t(spark, sf_dir, "events")
    per = (
        ev.select(
            (
                md5_i64_expr(F.col("user_id").cast("string"), salt="wm#")
                % 32
            ).alias("p"),
            F.unix_timestamp("ts").cast("bigint").alias("sec"),
        )
        .groupBy("p")
        .agg(F.max("sec").cast("bigint").alias("pmax"))
        .localCheckpoint(eager=True)
    )
    wlow = Window.orderBy("pmax", "p")
    ranked = per.withColumn(
        "rk", F.row_number().over(wlow).cast("bigint")
    )
    np_ = per.agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    straggler = ranked.where(F.col("rk") == 1).select(
        F.col("p").alias("straggler_partition"),
        F.col("pmax").alias("watermark_epoch"),
    )
    p10 = (
        ranked.crossJoin(F.broadcast(np_))
        .where(
            F.col("rk")
            == F.expr("greatest(CAST(1 AS BIGINT), (np * 10) div 100)")
        )
        .select(F.col("pmax").alias("p10_epoch"))
    )
    glob = per.agg(F.max("pmax").cast("bigint").alias("global_max_epoch"))
    return (
        np_.crossJoin(F.broadcast(glob))
        .crossJoin(F.broadcast(straggler))
        .crossJoin(F.broadcast(p10))
        .select(
            F.col("np").alias("n_partitions"),
            "global_max_epoch",
            "watermark_epoch",
            "straggler_partition",
            (F.col("global_max_epoch") - F.col("watermark_epoch"))
            .cast("bigint").alias("watermark_lag_s"),
            (F.col("global_max_epoch") - F.col("p10_epoch"))
            .cast("bigint").alias("p10_lag_s"),
        )
    )


def _oracle_q448() -> str:
    h = duck_md5_i64("CAST(user_id AS VARCHAR)", salt="wm#")
    return f"""
WITH per AS (
  SELECT {h} % 32 AS p,
         CAST(max(floor(epoch(ts))) AS BIGINT) AS pmax
  FROM events GROUP BY 1
),
ranked AS (
  SELECT *, CAST(row_number() OVER (ORDER BY pmax, p) AS BIGINT) AS rk
  FROM per
),
np_ AS (SELECT CAST(count(*) AS BIGINT) AS np FROM per),
straggler AS (
  SELECT p AS straggler_partition, pmax AS watermark_epoch
  FROM ranked WHERE rk = 1
),
p10 AS (
  SELECT pmax AS p10_epoch FROM ranked, np_
  WHERE rk = greatest(CAST(1 AS BIGINT), (np * 10) // 100)
),
gmax AS (SELECT CAST(max(pmax) AS BIGINT) AS global_max_epoch FROM per)
SELECT np AS n_partitions, global_max_epoch, watermark_epoch,
       straggler_partition,
       CAST(global_max_epoch - watermark_epoch AS BIGINT)
         AS watermark_lag_s,
       CAST(global_max_epoch - p10_epoch AS BIGINT) AS p10_lag_s
FROM np_, gmax, straggler, p10
"""


# q449: Zipf doubling profile

def q449_zipf_doubling_profile(spark, sf_dir):
    """Log-free Zipf evidence: the token rank-frequency DOUBLING
    profile f(r)/f(2r) in milli at ranks r in {1, 2, 4, 8, 16, 32}
    — for a Zipf law with exponent s the ratio is the constant 2^s,
    so a flat profile IS the law and its level IS the exponent,
    read without a single logarithm (the q347 Heaps-doubling trick
    turned on the rank-frequency axis).  The profile runs on the
    SHINGLE vocabulary (the closed ~31-word unigram set cannot
    reach rank 64 — said so); ranks pinned (count desc, token).

    Scale shape: one shingle count agg + one rank window; the
    profile reads 12 pinned rows."""
    docs = _t_wide(spark, sf_dir, "documents")
    counts = (
        docs.select(
            F.explode(doc_shingles_expr(F.col("text"))).alias("token")
        )
        .groupBy("token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    )
    wr = Window.orderBy(F.desc("n"), "token")
    ranked = counts.withColumn(
        "rk", F.row_number().over(wr).cast("bigint")
    ).localCheckpoint(eager=True)
    parts = []
    for r in (1, 2, 4, 8, 16, 32):
        fr = ranked.where(F.col("rk") == r).select(
            F.col("n").alias("f_r")
        )
        f2r = ranked.where(F.col("rk") == 2 * r).select(
            F.col("n").alias("f_2r")
        )
        parts.append(
            fr.crossJoin(F.broadcast(f2r)).select(
                F.lit(r).cast("bigint").alias("r"),
                "f_r",
                "f_2r",
                F.expr("(f_r * 1000) div f_2r").cast("bigint")
                .alias("doubling_milli"),
            )
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out.orderBy("r")


ORACLE_Q449 = f"""
WITH counts AS (
  SELECT token, CAST(count(*) AS BIGINT) AS n
  FROM (
    SELECT unnest({_DUCK_SHINGLES.format(col='text')}) AS token
    FROM documents
  ) GROUP BY 1
),
ranked AS (
  SELECT n, CAST(row_number() OVER (ORDER BY n DESC, token) AS BIGINT)
           AS rk
  FROM counts
),
rs AS (SELECT CAST(unnest([1, 2, 4, 8, 16, 32]) AS BIGINT) AS r)
SELECT r,
       (SELECT n FROM ranked WHERE rk = r) AS f_r,
       (SELECT n FROM ranked WHERE rk = 2 * r) AS f_2r,
       CAST(((SELECT n FROM ranked WHERE rk = r) * 1000)
            // (SELECT n FROM ranked WHERE rk = 2 * r) AS BIGINT)
         AS doubling_milli
FROM rs ORDER BY r
"""


# q450: interrupted time-series analysis

def q450_interrupted_time_series(spark, sf_dir):
    """Interrupted time-series (segmented regression) at the KNOWN
    span midpoint: an independent exact-moment OLS line per segment
    of the dense daily series (the simplest ITS parameterization,
    spec'd), reporting each segment's slope plus the LEVEL change
    (the two fits evaluated at the boundary day) and the SLOPE
    change in milli — the policy-evaluation workhorse when you know
    WHEN the intervention happened; q407 finds an unknown break,
    q296's DiD needs a control group, ITS needs neither.

    Scale shape: one day agg + dense spine + one conditional
    6-moment agg (both segments in one pass); single-row algebra."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.expr(
            "CAST(unix_timestamp(ts) - unix_timestamp(ts) % 86400"
            " AS BIGINT)"
        ).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("x"))
    bounds = obs.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    daily = (
        bounds.select(
            F.explode(F.sequence("d0", "d1", F.lit(86400))).alias("day")
        )
        .join(obs, "day", "left")
        .na.fill({"x": 0})
        .crossJoin(F.broadcast(bounds))
        .select(
            F.expr("(day - d0) div 86400").cast("bigint").alias("t"),
            "x",
            F.expr("((d1 - d0) div 86400) div 2").cast("bigint")
            .alias("t0"),
        )
    )
    mom = daily.agg(
        F.max("t0").cast("bigint").alias("t0"),
        *[
            agg
            for seg, cond in (
                ("a", F.col("t") < F.col("t0")),
                ("b", F.col("t") >= F.col("t0")),
            )
            for agg in (
                F.sum(F.when(cond, 1).otherwise(0)).cast("bigint")
                .alias(f"n{seg}"),
                F.sum(F.when(cond, F.col("t")).otherwise(0)).cast("bigint")
                .alias(f"st{seg}"),
                F.sum(F.when(cond, F.col("x")).otherwise(0)).cast("bigint")
                .alias(f"sx{seg}"),
                F.sum(F.when(cond, F.col("t") * F.col("x")).otherwise(0))
                .cast("bigint").alias(f"stx{seg}"),
                F.sum(F.when(cond, F.col("t") * F.col("t")).otherwise(0))
                .cast("bigint").alias(f"stt{seg}"),
            )
        ],
    )
    slope = {
        s: (
            f"(CAST(n{s} * stx{s} - st{s} * sx{s} AS DOUBLE)"
            f" / CAST(n{s} * stt{s} - st{s} * st{s} AS DOUBLE))"
        )
        for s in ("a", "b")
    }
    icept = {
        s: (
            f"((CAST(sx{s} AS DOUBLE) / CAST(n{s} AS DOUBLE))"
            f" - {slope[s]} * (CAST(st{s} AS DOUBLE)"
            f" / CAST(n{s} AS DOUBLE)))"
        )
        for s in ("a", "b")
    }
    level_a = f"({icept['a']} + {slope['a']} * CAST(t0 AS DOUBLE))"
    level_b = f"({icept['b']} + {slope['b']} * CAST(t0 AS DOUBLE))"
    return mom.select(
        "t0",
        F.expr(f"CAST(floor(1000.0 * {slope['a']}) AS BIGINT)")
        .alias("pre_slope_milli"),
        F.expr(f"CAST(floor(1000.0 * {slope['b']}) AS BIGINT)")
        .alias("post_slope_milli"),
        F.expr(
            f"CAST(floor(1000.0 * ({level_b} - {level_a})) AS BIGINT)"
        ).alias("level_change_milli"),
        F.expr(
            f"CAST(floor(1000.0 * ({slope['b']} - {slope['a']}))"
            " AS BIGINT)"
        ).alias("slope_change_milli"),
    )


ORACLE_Q450 = """
WITH obs AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM obs),
daily AS (
  SELECT CAST((s.day - d0) // 86400 AS BIGINT) AS t,
         coalesce(obs.x, 0) AS x,
         CAST(((d1 - d0) // 86400) // 2 AS BIGINT) AS t0
  FROM (SELECT unnest(range(d0, d1 + 1, 86400)) AS day, d0, d1
        FROM b) s
  LEFT JOIN obs ON obs.day = s.day
),
mom AS (
  SELECT CAST(max(t0) AS BIGINT) AS t0,
         CAST(sum(CASE WHEN t < t0 THEN 1 ELSE 0 END) AS BIGINT) AS na,
         CAST(sum(CASE WHEN t < t0 THEN t ELSE 0 END) AS BIGINT) AS sta,
         CAST(sum(CASE WHEN t < t0 THEN x ELSE 0 END) AS BIGINT) AS sxa,
         CAST(sum(CASE WHEN t < t0 THEN t * x ELSE 0 END) AS BIGINT)
           AS stxa,
         CAST(sum(CASE WHEN t < t0 THEN t * t ELSE 0 END) AS BIGINT)
           AS stta,
         CAST(sum(CASE WHEN t >= t0 THEN 1 ELSE 0 END) AS BIGINT) AS nb,
         CAST(sum(CASE WHEN t >= t0 THEN t ELSE 0 END) AS BIGINT)
           AS stb,
         CAST(sum(CASE WHEN t >= t0 THEN x ELSE 0 END) AS BIGINT)
           AS sxb,
         CAST(sum(CASE WHEN t >= t0 THEN t * x ELSE 0 END) AS BIGINT)
           AS stxb,
         CAST(sum(CASE WHEN t >= t0 THEN t * t ELSE 0 END) AS BIGINT)
           AS sttb
  FROM daily
)
SELECT t0,
       CAST(floor(1000.0 * (CAST(na * stxa - sta * sxa AS DOUBLE)
            / CAST(na * stta - sta * sta AS DOUBLE))) AS BIGINT)
         AS pre_slope_milli,
       CAST(floor(1000.0 * (CAST(nb * stxb - stb * sxb AS DOUBLE)
            / CAST(nb * sttb - stb * stb AS DOUBLE))) AS BIGINT)
         AS post_slope_milli,
       CAST(floor(1000.0 * ((((CAST(sxb AS DOUBLE) / CAST(nb AS DOUBLE))
            - (CAST(nb * stxb - stb * sxb AS DOUBLE)
               / CAST(nb * sttb - stb * stb AS DOUBLE))
              * (CAST(stb AS DOUBLE) / CAST(nb AS DOUBLE)))
            + (CAST(nb * stxb - stb * sxb AS DOUBLE)
               / CAST(nb * sttb - stb * stb AS DOUBLE))
              * CAST(t0 AS DOUBLE))
            - (((CAST(sxa AS DOUBLE) / CAST(na AS DOUBLE))
            - (CAST(na * stxa - sta * sxa AS DOUBLE)
               / CAST(na * stta - sta * sta AS DOUBLE))
              * (CAST(sta AS DOUBLE) / CAST(na AS DOUBLE)))
            + (CAST(na * stxa - sta * sxa AS DOUBLE)
               / CAST(na * stta - sta * sta AS DOUBLE))
              * CAST(t0 AS DOUBLE)))) AS BIGINT)
         AS level_change_milli,
       CAST(floor(1000.0 * ((CAST(nb * stxb - stb * sxb AS DOUBLE)
            / CAST(nb * sttb - stb * stb AS DOUBLE))
            - (CAST(na * stxa - sta * sxa AS DOUBLE)
               / CAST(na * stta - sta * sta AS DOUBLE)))) AS BIGINT)
         AS slope_change_milli
FROM mom
"""


# q451: streaming join-state forecast

def q451_join_state_forecast(spark, sf_dir):
    """Streaming join-state forecast via exact sweep integrals: for
    interval-join horizons {1 h, 6 h}, the state a watermark-bounded
    stream-stream join must hold at time t is the events in
    (t - h, t] — peak rows AND the exact TIME-WEIGHTED mean, both
    read off one +1/-1 boundary sweep (each event contributes +1 at
    its timestamp and -1 at ts + h; between boundaries the count is
    constant, so the integral is sum(count * dt) — no per-second
    explosion).  The capacity-planning number behind q75/q82's
    bounded-state claim: the horizon knob times arrival rate IS the
    state bill, and this measures it exactly.

    Scale shape: one 2x tagged-union explode + one global sort
    window per horizon (the sweep IS a total order) + one agg."""
    ev = _t(spark, sf_dir, "events")
    parts = []
    for h, name in ((3600, "1h"), (21600, "6h")):
        marks = ev.select(
            F.unix_timestamp("ts").cast("bigint").alias("sec")
        ).select(
            F.explode(
                F.array(
                    F.struct(
                        F.col("sec").alias("t"), F.lit(1).alias("d")
                    ),
                    F.struct(
                        (F.col("sec") + h).alias("t"),
                        F.lit(-1).alias("d"),
                    ),
                )
            ).alias("m")
        ).select(F.col("m.t").alias("t"), F.col("m.d").alias("d"))
        # collapse simultaneous boundaries, then sweep
        merged = marks.groupBy("t").agg(
            F.sum("d").cast("bigint").alias("dd")
        )
        w = Window.orderBy("t")
        wc = w.rowsBetween(Window.unboundedPreceding, 0)
        swept = merged.select(
            "t",
            F.sum("dd").over(wc).cast("bigint").alias("cnt"),
            (F.lead("t").over(w) - F.col("t")).alias("dt"),
        ).where(F.col("dt").isNotNull())
        parts.append(
            swept.agg(
                F.max("cnt").cast("bigint").alias("peak_state_rows"),
                F.sum(F.col("cnt") * F.col("dt")).cast("bigint")
                .alias("area"),
                F.sum("dt").cast("bigint").alias("span"),
            ).select(
                F.lit(name).alias("horizon"),
                F.lit(h).cast("bigint").alias("h_s"),
                "peak_state_rows",
                F.expr("(area * 1000) div span").cast("bigint")
                .alias("mean_state_rows_milli"),
            )
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out.orderBy("h_s")


ORACLE_Q451 = """
WITH marks1 AS (
  SELECT t, CAST(sum(d) AS BIGINT) AS dd FROM (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, 1 AS d FROM events
    UNION ALL
    SELECT CAST(floor(epoch(ts)) AS BIGINT) + 3600, -1 FROM events
  ) GROUP BY 1
),
sweep1 AS (
  SELECT t,
         CAST(sum(dd) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cnt,
         lead(t) OVER (ORDER BY t) - t AS dt
  FROM marks1
),
agg1 AS (
  SELECT '1h' AS horizon, CAST(3600 AS BIGINT) AS h_s,
         CAST(max(cnt) AS BIGINT) AS peak_state_rows,
         CAST((sum(cnt * dt) * 1000) // sum(dt) AS BIGINT)
           AS mean_state_rows_milli
  FROM sweep1 WHERE dt IS NOT NULL
),
marks6 AS (
  SELECT t, CAST(sum(d) AS BIGINT) AS dd FROM (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS t, 1 AS d FROM events
    UNION ALL
    SELECT CAST(floor(epoch(ts)) AS BIGINT) + 21600, -1 FROM events
  ) GROUP BY 1
),
sweep6 AS (
  SELECT t,
         CAST(sum(dd) OVER (ORDER BY t ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS cnt,
         lead(t) OVER (ORDER BY t) - t AS dt
  FROM marks6
),
agg6 AS (
  SELECT '6h', CAST(21600 AS BIGINT),
         CAST(max(cnt) AS BIGINT),
         CAST((sum(cnt * dt) * 1000) // sum(dt) AS BIGINT)
  FROM sweep6 WHERE dt IS NOT NULL
)
SELECT * FROM agg1 UNION ALL SELECT * FROM agg6
ORDER BY h_s
"""


# q452: multiplicative KPI bridge

def q452_kpi_bridge(spark, sf_dir):
    """Multiplicative KPI bridge between the two half-periods:
    revenue = users x purchases-per-user x revenue-per-purchase,
    decomposed by SEQUENTIAL SUBSTITUTION in that spec'd order
    (traffic first, then frequency, then basket — the standard
    e-commerce bridge; q323's PVM bridge decomposes by SEGMENT,
    this decomposes by FACTOR), every factor an exact integer
    ratio, contributions as mirrored float floors, and the
    telescoping identity sum(contributions) = revenue delta checked
    against the floor residual (<= 3 milli-cents, reported not
    hidden).

    Scale shape: two conditional aggs over one scan; single-row
    algebra."""
    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr(
            "(min(unix_timestamp(ts)) + max(unix_timestamp(ts))) div 2"
        ).cast("bigint").alias("mid")
    )
    halves = ev.crossJoin(F.broadcast(mid)).select(
        (F.unix_timestamp("ts") <= F.col("mid")).alias("h1"),
        "user_id",
        "event_type",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    )
    per = halves.groupBy("h1").agg(
        F.countDistinct("user_id").cast("bigint").alias("u"),
        F.sum(F.when(F.col("event_type") == "purchase", 1).otherwise(0))
        .cast("bigint")
        .alias("p"),
        F.sum(
            F.when(F.col("event_type") == "purchase", F.col("c"))
            .otherwise(0)
        ).cast("bigint").alias("r"),
    )
    one = (
        per.where(F.col("h1"))
        .select(
            F.col("u").alias("u1"),
            F.col("p").alias("p1"),
            F.col("r").alias("r1"),
        )
        .crossJoin(
            F.broadcast(
                per.where(~F.col("h1")).select(
                    F.col("u").alias("u2"),
                    F.col("p").alias("p2"),
                    F.col("r").alias("r2"),
                )
            )
        )
    )
    # sequential substitution: R = U * (P/U) * (R/P)
    f = {
        "base": "(CAST(u1 AS DOUBLE) * (CAST(p1 AS DOUBLE)"
        " / CAST(u1 AS DOUBLE)) * (CAST(r1 AS DOUBLE)"
        " / CAST(p1 AS DOUBLE)))",
        "t": "(CAST(u2 AS DOUBLE) * (CAST(p1 AS DOUBLE)"
        " / CAST(u1 AS DOUBLE)) * (CAST(r1 AS DOUBLE)"
        " / CAST(p1 AS DOUBLE)))",
        "tf": "(CAST(u2 AS DOUBLE) * (CAST(p2 AS DOUBLE)"
        " / CAST(u2 AS DOUBLE)) * (CAST(r1 AS DOUBLE)"
        " / CAST(p1 AS DOUBLE)))",
        "tfb": "(CAST(u2 AS DOUBLE) * (CAST(p2 AS DOUBLE)"
        " / CAST(u2 AS DOUBLE)) * (CAST(r2 AS DOUBLE)"
        " / CAST(p2 AS DOUBLE)))",
    }
    return one.select(
        "u1",
        "u2",
        "p1",
        "p2",
        F.col("r1").alias("rev1_cents"),
        F.col("r2").alias("rev2_cents"),
        F.expr(
            f"CAST(floor(1000.0 * ({f['t']} - {f['base']})) AS BIGINT)"
        ).alias("traffic_contrib_milli"),
        F.expr(
            f"CAST(floor(1000.0 * ({f['tf']} - {f['t']})) AS BIGINT)"
        ).alias("frequency_contrib_milli"),
        F.expr(
            f"CAST(floor(1000.0 * ({f['tfb']} - {f['tf']})) AS BIGINT)"
        ).alias("basket_contrib_milli"),
        F.expr("(r2 - r1) * 1000").cast("bigint")
        .alias("delta_rev_milli"),
    )


ORACLE_Q452 = """
WITH mid AS (
  SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
          + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
  FROM events
),
halves AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) <= mid AS h1, user_id,
         event_type, CAST(round(value * 100) AS BIGINT) AS c
  FROM events, mid
),
per AS (
  SELECT h1, CAST(count(DISTINCT user_id) AS BIGINT) AS u,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS p,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN c ELSE 0 END)
              AS BIGINT) AS r
  FROM halves GROUP BY 1
),
one AS (
  SELECT a.u AS u1, a.p AS p1, a.r AS r1,
         b.u AS u2, b.p AS p2, b.r AS r2
  FROM per a, per b WHERE a.h1 AND NOT b.h1
)
SELECT u1, u2, p1, p2, r1 AS rev1_cents, r2 AS rev2_cents,
       CAST(floor(1000.0 * ((CAST(u2 AS DOUBLE) * (CAST(p1 AS DOUBLE)
            / CAST(u1 AS DOUBLE)) * (CAST(r1 AS DOUBLE)
            / CAST(p1 AS DOUBLE)))
            - (CAST(u1 AS DOUBLE) * (CAST(p1 AS DOUBLE)
            / CAST(u1 AS DOUBLE)) * (CAST(r1 AS DOUBLE)
            / CAST(p1 AS DOUBLE))))) AS BIGINT)
         AS traffic_contrib_milli,
       CAST(floor(1000.0 * ((CAST(u2 AS DOUBLE) * (CAST(p2 AS DOUBLE)
            / CAST(u2 AS DOUBLE)) * (CAST(r1 AS DOUBLE)
            / CAST(p1 AS DOUBLE)))
            - (CAST(u2 AS DOUBLE) * (CAST(p1 AS DOUBLE)
            / CAST(u1 AS DOUBLE)) * (CAST(r1 AS DOUBLE)
            / CAST(p1 AS DOUBLE))))) AS BIGINT)
         AS frequency_contrib_milli,
       CAST(floor(1000.0 * ((CAST(u2 AS DOUBLE) * (CAST(p2 AS DOUBLE)
            / CAST(u2 AS DOUBLE)) * (CAST(r2 AS DOUBLE)
            / CAST(p2 AS DOUBLE)))
            - (CAST(u2 AS DOUBLE) * (CAST(p2 AS DOUBLE)
            / CAST(u2 AS DOUBLE)) * (CAST(r1 AS DOUBLE)
            / CAST(p1 AS DOUBLE))))) AS BIGINT)
         AS basket_contrib_milli,
       CAST((r2 - r1) * 1000 AS BIGINT) AS delta_rev_milli
FROM one
"""


# q453: sortedness (ascending-runs) audit

def q453_sortedness_runs_audit(spark, sf_dir):
    """Sortedness audit via ascending-run counts: for three physical
    orderings of the event stream — arrival order on the value
    column, arrival order on user_id, user-grouped order on ts —
    the exact number of ascending runs (a new run starts wherever
    the next element is strictly smaller; one lag window each) vs
    the (2n+1)/3 expected runs of a random permutation, as a
    presortedness ratio in ppm.  Runs are the other sortedness
    measure next to q313's inversions, and the one incremental/
    merge sort actually exploits: 1 run = free sort, n/2 runs =
    full sort.

    Scale shape: one lag window + one agg per ordering (three
    linear passes)."""
    ev = _t(spark, sf_dir, "events")
    parts = []
    specs = [
        (
            "value_by_arrival",
            ["ts", "event_id"],
            F.expr("CAST(round(value * 100) AS BIGINT)"),
        ),
        ("user_by_arrival", ["ts", "event_id"], F.col("user_id")),
        (
            "ts_by_user_blocks",
            ["user_id", "ts", "event_id"],
            F.unix_timestamp("ts").cast("bigint"),
        ),
    ]
    for name, order_cols, val in specs:
        w = Window.orderBy(*order_cols)
        runs = (
            ev.select(val.alias("v"), *[F.col(c) for c in order_cols])
            .withColumn("pv", F.lag("v").over(w))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                (
                    F.sum(
                        F.when(
                            F.col("pv").isNull()
                            | (F.col("v") < F.col("pv")),
                            1,
                        ).otherwise(0)
                    )
                ).cast("bigint").alias("runs"),
            )
            .select(
                F.lit(name).alias("ordering"),
                "n",
                "runs",
                F.expr("(runs * 3000000) div (2 * n + 1)")
                .cast("bigint")
                .alias("vs_random_ppm"),
            )
        )
        parts.append(runs)
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out.orderBy("ordering")


ORACLE_Q453 = """
WITH a AS (
  SELECT 'value_by_arrival' AS ordering,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pv IS NULL OR v < pv THEN 1 ELSE 0 END)
              AS BIGINT) AS runs
  FROM (
    SELECT CAST(round(value * 100) AS BIGINT) AS v,
           lag(CAST(round(value * 100) AS BIGINT))
             OVER (ORDER BY ts, event_id) AS pv
    FROM events
  )
),
b AS (
  SELECT 'user_by_arrival',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN pv IS NULL OR v < pv THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM (
    SELECT user_id AS v,
           lag(user_id) OVER (ORDER BY ts, event_id) AS pv
    FROM events
  )
),
c AS (
  SELECT 'ts_by_user_blocks',
         CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN pv IS NULL OR v < pv THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS v,
           lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (ORDER BY user_id, ts, event_id) AS pv
    FROM events
  )
),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c)
SELECT ordering, n, runs,
       CAST((runs * 3000000) // (2 * n + 1) AS BIGINT) AS vs_random_ppm
FROM u ORDER BY 1
"""


# q454: RLE layout-sensitivity audit

def q454_rle_layout_sensitivity(spark, sf_dir):
    """Run-length-encoding layout sensitivity: exact RLE run counts
    of the event_type column under three physical orderings —
    arrival order, sorted by user (type runs inside user blocks),
    sorted by type itself — with the implied encoded size at 5
    bytes/run vs 1 byte/value plain, in ppm of plain.  The same
    column costs 99% or 1% depending on sort order; q250 audits the
    layout you HAVE, this prices the three you could choose,
    completing the write-side story of q446 (which prices keeping
    such an order under ingest).

    Scale shape: one lag window + one agg per ordering."""
    ev = _t(spark, sf_dir, "events")
    parts = []
    specs = [
        ("arrival", ["ts", "event_id"]),
        ("by_user", ["user_id", "ts", "event_id"]),
        ("by_type", ["event_type", "ts", "event_id"]),
    ]
    for name, order_cols in specs:
        w = Window.orderBy(*order_cols)
        parts.append(
            ev.select(
                F.col("event_type").alias("v"),
                *[F.col(c) for c in order_cols],
            )
            .withColumn("pv", F.lag("v").over(w))
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n"),
                F.sum(
                    F.when(
                        F.col("pv").isNull() | (F.col("v") != F.col("pv")),
                        1,
                    ).otherwise(0)
                ).cast("bigint").alias("runs"),
            )
            .select(
                F.lit(name).alias("ordering"),
                "n",
                "runs",
                F.expr("(runs * 5 * 1000000) div n").cast("bigint")
                .alias("rle_vs_plain_ppm"),
            )
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out.orderBy("ordering")


ORACLE_Q454 = """
WITH a AS (
  SELECT 'arrival' AS ordering, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
              AS BIGINT) AS runs
  FROM (
    SELECT event_type AS v,
           lag(event_type) OVER (ORDER BY ts, event_id) AS pv
    FROM events
  )
),
b AS (
  SELECT 'by_user', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM (
    SELECT event_type AS v,
           lag(event_type) OVER (ORDER BY user_id, ts, event_id) AS pv
    FROM events
  )
),
c AS (
  SELECT 'by_type', CAST(count(*) AS BIGINT),
         CAST(sum(CASE WHEN pv IS NULL OR v <> pv THEN 1 ELSE 0 END)
              AS BIGINT)
  FROM (
    SELECT event_type AS v,
           lag(event_type) OVER (ORDER BY event_type, ts, event_id)
             AS pv
    FROM events
  )
),
u AS (SELECT * FROM a UNION ALL SELECT * FROM b UNION ALL SELECT * FROM c)
SELECT ordering, n, runs,
       CAST((runs * 5 * 1000000) // n AS BIGINT) AS rle_vs_plain_ppm
FROM u ORDER BY 1
"""


# q455: sequential-peeking false-alarm audit

def q455_peeking_audit(spark, sf_dir):
    """Sequential-peeking false-alarm audit on a NULL experiment:
    users split A/B by portable-hash parity (no true effect by
    construction), the two-proportion z^2 test evaluated at every
    daily look on cumulative purchase counts via the cleared
    integer comparison (n*(a*nb - b*na)^2 vs 3.841*na*nb*(a+b)*
    (n-a-b) cross-multiplied in DECIMAL(38,0)/HUGEINT — no float
    test statistic anywhere), against the naive 3.84 threshold and
    a Bonferroni-corrected one (chi2 quantile for alpha/looks,
    literal 11.07 for ~30 looks) — how many looks the naive
    experimenter 'wins' on pure noise vs the corrected one.  q279
    implements principled stopping; this measures what skipping it
    costs, exactly.

    Scale shape: one per-(day, arm) agg + cumulative windows over
    the day-scale relation; the decision algebra is integer."""
    ev = _t(spark, sf_dir, "events")
    daily = (
        ev.select(
            F.expr(
                "CAST(unix_timestamp(ts) div 86400 AS BIGINT)"
            ).alias("day"),
            (
                md5_i64_expr(F.col("user_id").cast("string"), salt="peek#")
                % 2
            ).alias("arm"),
            "user_id",
            (F.col("event_type") == "purchase").cast("bigint").alias("y"),
        )
        .groupBy("day", "arm")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("y").cast("bigint").alias("conv"),
        )
    )
    wc = Window.partitionBy("arm").orderBy("day").rowsBetween(
        Window.unboundedPreceding, 0
    )
    cum = daily.select(
        "day",
        "arm",
        F.sum("n").over(wc).cast("bigint").alias("cn"),
        F.sum("conv").over(wc).cast("bigint").alias("cc"),
    )
    looks = (
        cum.groupBy("day")
        .agg(
            F.max(F.when(F.col("arm") == 0, F.col("cn"))).alias("na"),
            F.max(F.when(F.col("arm") == 0, F.col("cc"))).alias("a"),
            F.max(F.when(F.col("arm") == 1, F.col("cn"))).alias("nb"),
            F.max(F.when(F.col("arm") == 1, F.col("cc"))).alias("b"),
        )
        .where(
            F.col("na").isNotNull()
            & F.col("nb").isNotNull()
            & (F.col("a") + F.col("b") > 0)
            & (F.col("a") + F.col("b") < F.col("na") + F.col("nb"))
        )
    )
    # z^2 = n*(a*nb - b*na)^2 / (na*nb*(a+b)*(n-a-b)); cleared:
    # 1000 * lhs >= thresh_milli * rhs
    lhs = (
        "CAST(na + nb AS DECIMAL(38,0))"
        " * CAST(a * nb - b * na AS DECIMAL(38,0))"
        " * CAST(a * nb - b * na AS DECIMAL(38,0))"
    )
    rhs = (
        "CAST(na AS DECIMAL(38,0)) * CAST(nb AS DECIMAL(38,0))"
        " * CAST(a + b AS DECIMAL(38,0))"
        " * CAST(na + nb - a - b AS DECIMAL(38,0))"
    )
    flagged = looks.select(
        "day",
        F.expr(
            f"CASE WHEN 1000 * {lhs} >= 3841 * {rhs} THEN 1 ELSE 0 END"
        ).cast("bigint").alias("naive_cross"),
        F.expr(
            f"CASE WHEN 1000 * {lhs} >= 11070 * {rhs} THEN 1 ELSE 0 END"
        ).cast("bigint").alias("bonf_cross"),
    )
    return flagged.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_looks"),
        F.sum("naive_cross").cast("bigint").alias("naive_crossings"),
        F.sum("bonf_cross").cast("bigint").alias("bonferroni_crossings"),
        F.coalesce(
            F.min(F.when(F.col("naive_cross") == 1, F.col("day"))),
            F.lit(-1),
        ).cast("bigint").alias("first_naive_cross_day"),
    )


def _oracle_q455() -> str:
    h = duck_md5_i64("CAST(user_id AS VARCHAR)", salt="peek#")
    lhs = (
        "CAST(na + nb AS HUGEINT)"
        " * CAST(a * nb - b * na AS HUGEINT)"
        " * CAST(a * nb - b * na AS HUGEINT)"
    )
    rhs = (
        "CAST(na AS HUGEINT) * CAST(nb AS HUGEINT)"
        " * CAST(a + b AS HUGEINT)"
        " * CAST(na + nb - a - b AS HUGEINT)"
    )
    return f"""
WITH daily AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS day,
         {h} % 2 AS arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS conv
  FROM events GROUP BY 1, 2
),
cum AS (
  SELECT day, arm,
         CAST(sum(n) OVER (PARTITION BY arm ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cn,
         CAST(sum(conv) OVER (PARTITION BY arm ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              AS BIGINT) AS cc
  FROM daily
),
looks AS (
  SELECT day,
         max(CASE WHEN arm = 0 THEN cn END) AS na,
         max(CASE WHEN arm = 0 THEN cc END) AS a,
         max(CASE WHEN arm = 1 THEN cn END) AS nb,
         max(CASE WHEN arm = 1 THEN cc END) AS b
  FROM cum GROUP BY 1
),
valid AS (
  SELECT * FROM looks
  WHERE na IS NOT NULL AND nb IS NOT NULL
    AND a + b > 0 AND a + b < na + nb
),
flagged AS (
  SELECT day,
         CASE WHEN 1000 * {lhs} >= 3841 * {rhs} THEN 1 ELSE 0 END
           AS naive_cross,
         CASE WHEN 1000 * {lhs} >= 11070 * {rhs} THEN 1 ELSE 0 END
           AS bonf_cross
  FROM valid
)
SELECT CAST(count(*) AS BIGINT) AS n_looks,
       CAST(sum(naive_cross) AS BIGINT) AS naive_crossings,
       CAST(sum(bonf_cross) AS BIGINT) AS bonferroni_crossings,
       CAST(coalesce(min(CASE WHEN naive_cross = 1 THEN day END), -1)
            AS BIGINT) AS first_naive_cross_day
FROM flagged
"""


# q456: event-time disorder profile

def q456_disorder_profile(spark, sf_dir):
    """Empirical event-time disorder profile on the ORDERS ingest:
    o_orderkey is the insert sequence (keys assigned at write time),
    o_orderdate the business event time — the classic CDC shape
    where arrival order and event time disagree violently (the
    events table is generated time-ordered and would be vacuous
    here, said so).  Each row's LATENESS is the running max event
    time at its arrival minus its own (one running-max window);
    reported as the in-order share plus rank-pinned p50/p90/p99/max
    lateness in seconds — the MEASURED disorder a withWatermark()
    delay must cover.  q380 prices the knob against simulated
    jitter; this is the real input: a watermark at the p99 here
    drops 1% of late rows, exactly.

    Scale shape: one running-max window over ingest order (the
    ingest sequence IS a total order) + one rank window over the
    LATE rows only + pins."""
    ev = _t(spark, sf_dir, "orders").select(
        F.col("o_orderkey").alias("event_id"),
        F.col("o_orderdate").alias("ts"),
    )
    w = Window.orderBy("event_id")
    wm = w.rowsBetween(Window.unboundedPreceding, -1)
    lateness = ev.select(
        "event_id",
        F.unix_timestamp("ts").cast("bigint").alias("sec"),
    ).select(
        "event_id",
        F.greatest(
            F.lit(0),
            F.coalesce(F.max("sec").over(wm), F.col("sec")) - F.col("sec"),
        ).cast("bigint").alias("late"),
    ).localCheckpoint(eager=True)
    tot = lateness.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.when(F.col("late") == 0, 1).otherwise(0))
        .cast("bigint")
        .alias("in_order"),
        F.max("late").cast("bigint").alias("max_late_s"),
    )
    lr = Window.orderBy("late", "event_id")
    late_ranked = (
        lateness.where(F.col("late") > 0)
        .withColumn("rk", F.row_number().over(lr).cast("bigint"))
        .localCheckpoint(eager=True)
    )
    nl = late_ranked.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    picks = None
    for p in (50, 90, 99):
        pick = (
            late_ranked.crossJoin(F.broadcast(nl))
            .where(
                F.col("rk")
                == F.expr(
                    f"greatest(CAST(1 AS BIGINT), (m * {p}) div 100)"
                )
            )
            .select(F.col("late").alias(f"p{p}_late_s"))
        )
        picks = pick if picks is None else picks.crossJoin(F.broadcast(pick))
    return tot.crossJoin(F.broadcast(picks)).select(
        "n",
        F.expr("(in_order * 1000000) div n").cast("bigint")
        .alias("in_order_ppm"),
        "p50_late_s",
        "p90_late_s",
        "p99_late_s",
        "max_late_s",
    )


ORACLE_Q456 = """
WITH lateness AS (
  SELECT event_id,
         CAST(greatest(0, coalesce(mx, sec) - sec) AS BIGINT) AS late
  FROM (
    SELECT event_id, sec,
           max(sec) OVER (ORDER BY event_id ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING) AS mx
    FROM (
      SELECT o_orderkey AS event_id,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS sec
      FROM orders
    )
  )
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN late = 0 THEN 1 ELSE 0 END) AS BIGINT)
           AS in_order,
         CAST(max(late) AS BIGINT) AS max_late_s
  FROM lateness
),
late_ranked AS (
  SELECT late,
         CAST(row_number() OVER (ORDER BY late, event_id) AS BIGINT)
           AS rk
  FROM lateness WHERE late > 0
),
nl AS (SELECT CAST(count(*) AS BIGINT) AS m FROM late_ranked),
p50 AS (SELECT late AS p50_late_s FROM late_ranked, nl
        WHERE rk = greatest(CAST(1 AS BIGINT), (m * 50) // 100)),
p90 AS (SELECT late AS p90_late_s FROM late_ranked, nl
        WHERE rk = greatest(CAST(1 AS BIGINT), (m * 90) // 100)),
p99 AS (SELECT late AS p99_late_s FROM late_ranked, nl
        WHERE rk = greatest(CAST(1 AS BIGINT), (m * 99) // 100))
SELECT n, CAST((in_order * 1000000) // n AS BIGINT) AS in_order_ppm,
       p50_late_s, p90_late_s, p99_late_s, max_late_s
FROM tot, p50, p90, p99
"""


# q457: fan-out tail-latency amplification

def q457_fanout_tail_audit(spark, sf_dir):
    """Fan-out tail amplification (Dean & Barroso's 'tail at
    scale'): treating event cent-values as per-shard service
    latencies, a request that fans out to k shards completes at the
    MAX of k draws — replayed deterministically by blocking each
    event type's ingest sequence into consecutive groups of k
    (block = row_number div k, spec'd) and averaging the block
    maxima, for k in {1, 2, 4, 8, 16}.  The mean-of-max climbing
    with k while the mean stays flat IS the amplification — the
    measured argument for hedged requests and for q406's load
    bounds.

    Scale shape: one rank window per type + one (k-variant) block
    agg per k off the SAME ranked relation + a 5-row census."""
    ev = _t(spark, sf_dir, "events")
    wr = Window.partitionBy("event_type").orderBy("event_id")
    ranked = ev.select(
        "event_type",
        "event_id",
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
    ).withColumn(
        "rn", (F.row_number().over(wr) - 1).cast("bigint")
    ).localCheckpoint(eager=True)
    parts = []
    for k in (1, 2, 4, 8, 16):
        blocks = (
            ranked.groupBy(
                "event_type", F.expr(f"rn div {k}").alias("blk")
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("bn"),
                F.max("c").cast("bigint").alias("bmax"),
            )
            .where(F.col("bn") == k)
        )
        parts.append(
            blocks.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_blocks"),
                F.sum("bmax").cast("bigint").alias("s"),
            ).select(
                F.lit(k).cast("bigint").alias("k"),
                "n_blocks",
                F.expr("(s * 1000) div n_blocks").cast("bigint")
                .alias("mean_max_milli"),
            )
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    base = out.where(F.col("k") == 1).select(
        F.col("mean_max_milli").alias("base_milli")
    )
    return (
        out.crossJoin(F.broadcast(base))
        .select(
            "k",
            "n_blocks",
            "mean_max_milli",
            F.expr("(mean_max_milli * 1000) div base_milli")
            .cast("bigint")
            .alias("amplification_milli"),
        )
        .orderBy("k")
    )


ORACLE_Q457 = """
WITH ranked AS (
  SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c,
         CAST(row_number() OVER (PARTITION BY event_type
                                 ORDER BY event_id) - 1 AS BIGINT)
           AS rn
  FROM events
),
ks AS (SELECT CAST(unnest([1, 2, 4, 8, 16]) AS BIGINT) AS k),
blocks AS (
  SELECT k, event_type, rn // k AS blk,
         CAST(count(*) AS BIGINT) AS bn,
         CAST(max(c) AS BIGINT) AS bmax
  FROM ks, ranked GROUP BY 1, 2, 3
),
per_k AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_blocks,
         CAST((sum(bmax) * 1000) // count(*) AS BIGINT)
           AS mean_max_milli
  FROM blocks WHERE bn = k GROUP BY 1
),
base AS (SELECT mean_max_milli AS base_milli FROM per_k WHERE k = 1)
SELECT k, n_blocks, mean_max_milli,
       CAST((mean_max_milli * 1000) // base_milli AS BIGINT)
         AS amplification_milli
FROM per_k, base
ORDER BY k
"""


# q458: aggregation-tree fan-in advisor

def q458_agg_tree_advisor(spark, sf_dir):
    """Combiner-tree fan-in advisor: for a reduction over n leaves
    (n = corpus partitions at 64 MB-equivalent, derived exactly
    from total bytes) and fan-in f in {2, 4, 8, 16, 32}, the tree
    depth (first power of f reaching n — literal power table, the
    q412 no-log trick) and total messages sum of ceil(n/f^i) over
    levels — the latency (depth) vs coordinator-load (width) trade
    every treeReduce/treeAggregate call hides behind its `depth`
    parameter.  q447 prices WHAT the combiner saves; this prices
    HOW to wire it.

    Scale shape: one byte-sum agg; the sweep is a literal
    (f, level, f^level) relation against one scalar."""
    docs = _t(spark, sf_dir, "documents")
    vol = docs.agg(
        F.expr(
            "CAST((sum(octet_length(text)) + 65535) div 65536 AS BIGINT)"
        ).alias("n_leaves")
    )
    rows = [
        (f, lvl, f**lvl)
        for f in (2, 4, 8, 16, 32)
        for lvl in range(1, 33)
        if f**lvl < 2**62
    ]
    powers = spark.createDataFrame(
        rows, "f bigint, lvl bigint, pw bigint"
    )
    depth = (
        powers.crossJoin(F.broadcast(vol))
        .where(F.col("pw") >= F.col("n_leaves"))
        .groupBy("f", "n_leaves")
        .agg(F.min("lvl").cast("bigint").alias("depth"))
    )
    msgs = (
        powers.crossJoin(F.broadcast(vol))
        .join(
            depth.select(F.col("f").alias("df"), "depth"),
            F.col("f") == F.col("df"),
        )
        .where(F.col("lvl") <= F.col("depth"))
        .groupBy("f", "n_leaves", "depth")
        .agg(
            F.sum(F.expr("(n_leaves + pw - 1) div pw"))
            .cast("bigint")
            .alias("total_msgs")
        )
    )
    return msgs.select(
        "f",
        "n_leaves",
        "depth",
        "total_msgs",
        F.expr("(n_leaves + f - 1) div f").cast("bigint")
        .alias("level1_width"),
    ).orderBy("f")


def _oracle_q458() -> str:
    rows = ", ".join(
        f"({f}, {lvl}, {f**lvl})"
        for f in (2, 4, 8, 16, 32)
        for lvl in range(1, 33)
        if f**lvl < 2**62
    )
    return f"""
WITH vol AS (
  SELECT CAST((sum(strlen(text)) + 65535) // 65536 AS BIGINT)
           AS n_leaves
  FROM documents
),
powers AS (
  SELECT CAST(f AS BIGINT) AS f, CAST(lvl AS BIGINT) AS lvl,
         CAST(pw AS BIGINT) AS pw
  FROM (VALUES {rows}) t(f, lvl, pw)
),
depth AS (
  SELECT f, n_leaves, CAST(min(lvl) AS BIGINT) AS depth
  FROM powers, vol WHERE pw >= n_leaves
  GROUP BY 1, 2
),
msgs AS (
  SELECT p.f, d.n_leaves, d.depth,
         CAST(sum((d.n_leaves + p.pw - 1) // p.pw) AS BIGINT)
           AS total_msgs
  FROM powers p JOIN depth d ON p.f = d.f
  WHERE p.lvl <= d.depth
  GROUP BY 1, 2, 3
)
SELECT f, n_leaves, depth, total_msgs,
       CAST((n_leaves + f - 1) // f AS BIGINT) AS level1_width
FROM msgs ORDER BY f
"""


# q459: two-proportion equivalence test (TOST)

def q459_equivalence_tost(spark, sf_dir):
    """Two-one-sided-tests EQUIVALENCE on the null hash split: are
    the two arms' user-day purchase rates equivalent within a +/-1%
    absolute margin?  Both one-sided z tests cleared to integer
    comparisons — sign guard first, then the squared form
    1000*n*(margin-adjusted delta)^2 >= 2706*na*nb*pq cross-
    multiplied in DECIMAL(38,0)/HUGEINT (1.645^2 = 2.706; no float
    statistic anywhere).  The inference family's missing member:
    q157 tests DIFFERENCE, this certifies SAMENESS — the test a
    no-regression launch gate actually needs (failing to reject
    difference is not equivalence).

    Scale shape: one user-day agg + single-row integer algebra."""
    ev = _t(spark, sf_dir, "events")
    ud = ev.groupBy(
        F.expr("CAST(unix_timestamp(ts) div 86400 AS BIGINT)").alias("d"),
        "user_id",
    ).agg(
        F.max(
            F.when(F.col("event_type") == "purchase", 1).otherwise(0)
        ).cast("bigint").alias("y")
    )
    arms = ud.select(
        (
            md5_i64_expr(F.col("user_id").cast("string"), salt="tost#") % 2
        ).alias("arm"),
        "y",
    ).groupBy("arm").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("c"),
    )
    one = (
        arms.where(F.col("arm") == 0)
        .select(F.col("n").alias("na"), F.col("c").alias("a"))
        .crossJoin(
            F.broadcast(
                arms.where(F.col("arm") == 1).select(
                    F.col("n").alias("nb"), F.col("c").alias("b")
                )
            )
        )
    )
    # margin delta = 1% absolute: scaled by 100*na*nb the adjusted
    # deltas are d_plus = 100*(a*nb - b*na) + na*nb and
    # d_minus = na*nb - 100*(a*nb - b*na); pooled pq on the same
    # scale: se^2*(100*na*nb)^2 = 10000*na*nb*(a+b)*(n-a-b)*n ... the
    # cleared forms below carry every factor explicitly
    d = "(100 * (a * nb - b * na) + na * nb)"
    d2 = "(na * nb - 100 * (a * nb - b * na))"
    pq = (
        "CAST(10000 AS DECIMAL(38,0)) * CAST(na AS DECIMAL(38,0))"
        " * CAST(nb AS DECIMAL(38,0)) * CAST(a + b AS DECIMAL(38,0))"
        " * CAST(na + nb - a - b AS DECIMAL(38,0))"
    )
    test1 = (
        f"{d} > 0 AND CAST(1000 AS DECIMAL(38,0))"
        f" * CAST(na + nb AS DECIMAL(38,0))"
        f" * CAST({d} AS DECIMAL(38,0)) * CAST({d} AS DECIMAL(38,0))"
        f" >= 2706 * {pq}"
    )
    test2 = (
        f"{d2} > 0 AND CAST(1000 AS DECIMAL(38,0))"
        f" * CAST(na + nb AS DECIMAL(38,0))"
        f" * CAST({d2} AS DECIMAL(38,0)) * CAST({d2} AS DECIMAL(38,0))"
        f" >= 2706 * {pq}"
    )
    return one.select(
        "na",
        "a",
        "nb",
        "b",
        F.expr("(a * 1000000) div na").cast("bigint").alias("rate_a_ppm"),
        F.expr("(b * 1000000) div nb").cast("bigint").alias("rate_b_ppm"),
        F.expr(test1).alias("lower_bound_holds"),
        F.expr(test2).alias("upper_bound_holds"),
        F.expr(f"({test1}) AND ({test2})").alias("equivalent"),
    )


def _oracle_q459() -> str:
    h = duck_md5_i64("CAST(user_id AS VARCHAR)", salt="tost#")
    d = "(100 * (a * nb - b * na) + na * nb)"
    d2 = "(na * nb - 100 * (a * nb - b * na))"
    pq = (
        "CAST(10000 AS HUGEINT) * CAST(na AS HUGEINT)"
        " * CAST(nb AS HUGEINT) * CAST(a + b AS HUGEINT)"
        " * CAST(na + nb - a - b AS HUGEINT)"
    )
    t1 = (
        f"{d} > 0 AND CAST(1000 AS HUGEINT)"
        f" * CAST(na + nb AS HUGEINT)"
        f" * CAST({d} AS HUGEINT) * CAST({d} AS HUGEINT) >= 2706 * {pq}"
    )
    t2 = (
        f"{d2} > 0 AND CAST(1000 AS HUGEINT)"
        f" * CAST(na + nb AS HUGEINT)"
        f" * CAST({d2} AS HUGEINT) * CAST({d2} AS HUGEINT)"
        f" >= 2706 * {pq}"
    )
    return f"""
WITH ud AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS d, user_id,
         CAST(max(CASE WHEN event_type = 'purchase' THEN 1 ELSE 0 END)
              AS BIGINT) AS y
  FROM events GROUP BY 1, 2
),
arms AS (
  SELECT {h} % 2 AS arm, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(y) AS BIGINT) AS c
  FROM ud GROUP BY 1
),
one AS (
  SELECT x.n AS na, x.c AS a, y.n AS nb, y.c AS b
  FROM arms x, arms y WHERE x.arm = 0 AND y.arm = 1
)
SELECT na, a, nb, b,
       CAST((a * 1000000) // na AS BIGINT) AS rate_a_ppm,
       CAST((b * 1000000) // nb AS BIGINT) AS rate_b_ppm,
       {t1} AS lower_bound_holds,
       {t2} AS upper_bound_holds,
       ({t1}) AND ({t2}) AS equivalent
FROM one
"""


# q460: dedup ROI ranking

def q460_dedup_roi_ranking(spark, sf_dir):
    """Dedup return-on-investment ranking: per source, the
    within-source near-duplicate pair count (the q62 edge relation,
    diagonal only) divided by the source's bytes — pairs per
    megabyte in milli, rank-pinned — the order in which a curation
    team should spend its dedup budget (q435 maps WHO duplicates
    WHOM; this prices WHERE deduping pays per byte processed).

    Scale shape: the q62 edge join once + one per-source byte agg +
    a |sources|-row rank."""
    docs = _t_wide(spark, sf_dir, "documents")
    edges = _q62_edges(docs).select("src", "dst")
    lab = docs.select("doc_id", "source")
    within = (
        edges.join(
            lab.select(
                F.col("doc_id").alias("src"), F.col("source").alias("sa")
            ),
            "src",
        )
        .join(
            lab.select(
                F.col("doc_id").alias("dst"), F.col("source").alias("sb")
            ),
            "dst",
        )
        .where(F.col("sa") == F.col("sb"))
        .groupBy(F.col("sa").alias("source"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("dup_pairs"))
    )
    sizes = docs.groupBy("source").agg(
        F.sum(F.octet_length("text")).cast("bigint").alias("bytes")
    )
    scored = (
        sizes.join(within, "source", "left")
        .na.fill({"dup_pairs": 0})
        .select(
            "source",
            "bytes",
            "dup_pairs",
            F.expr("(dup_pairs * 1048576 * 1000) div bytes")
            .cast("bigint")
            .alias("pairs_per_mb_milli"),
        )
    )
    wr = Window.orderBy(
        F.desc("pairs_per_mb_milli"), "source"
    )
    return scored.withColumn(
        "roi_rank", F.row_number().over(wr).cast("bigint")
    ).orderBy("roi_rank")


def _oracle_q460() -> str:
    return f"""
WITH {_Q62_EDGES_SQL},
within AS (
  SELECT da.source, CAST(count(*) AS BIGINT) AS dup_pairs
  FROM edges e
  JOIN documents da ON e.src = da.doc_id
  JOIN documents db ON e.dst = db.doc_id
  WHERE da.source = db.source
  GROUP BY 1
),
sizes AS (
  SELECT source, CAST(sum(strlen(text)) AS BIGINT) AS bytes
  FROM documents GROUP BY 1
),
scored AS (
  SELECT s.source, s.bytes, coalesce(w.dup_pairs, 0) AS dup_pairs,
         CAST((coalesce(w.dup_pairs, 0) * 1048576 * 1000) // s.bytes
              AS BIGINT) AS pairs_per_mb_milli
  FROM sizes s LEFT JOIN within w ON s.source = w.source
)
SELECT source, bytes, dup_pairs, pairs_per_mb_milli,
       CAST(row_number() OVER (ORDER BY pairs_per_mb_milli DESC,
                               source) AS BIGINT) AS roi_rank
FROM scored ORDER BY roi_rank
"""


# q461: new-better-than-used aging test

def q461_nbu_aging_test(spark, sf_dir):
    """New-better-than-used aging test on inter-purchase gaps: for
    grid points (a, b) from the gap quartiles (rank-pinned), compare
    the survival product — NBU holds where
    S(a+b) <= S(a)*S(b), checked as the exact integer
    cross-multiplication n(a+b)*n_total <= n(a)*n(b) (counts of
    gaps exceeding each threshold; no rates materialize).  NBU
    means the renewal process ages (a long-quiet customer is
    further from purchasing than a fresh one — burn-in); NWU means
    the opposite (clumping).  q389 pins the exponential's
    memorylessness ratio; this tests WHICH SIDE of memoryless the
    process falls on, per grid point.

    Scale shape: one gap window + one rank pin + a 4-row grid of
    conditional count aggs off one cached gap relation."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("sec", "event_id")
    gaps = (
        ev.where(F.col("event_type") == "purchase")
        .select(
            "user_id",
            F.unix_timestamp("ts").cast("bigint").alias("sec"),
            "event_id",
        )
        .withColumn("prev", F.lag("sec").over(w))
        .where(F.col("prev").isNotNull())
        .select((F.col("sec") - F.col("prev")).cast("bigint").alias("g"))
        .localCheckpoint(eager=True)
    )
    wr = Window.orderBy("g")
    ranked = gaps.withColumn(
        "rk", F.row_number().over(wr).cast("bigint")
    )
    n_ = gaps.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    q25 = (
        ranked.crossJoin(F.broadcast(n_))
        .where(F.col("rk") == F.expr("greatest(CAST(1 AS BIGINT), (n * 25) div 100)"))
        .select(F.col("g").alias("qa"))
    )
    q50 = (
        ranked.crossJoin(F.broadcast(n_))
        .where(F.col("rk") == F.expr("greatest(CAST(1 AS BIGINT), (n * 50) div 100)"))
        .select(F.col("g").alias("qb"))
    )
    grid = (
        q25.crossJoin(F.broadcast(q50))
        .select(
            F.explode(
                F.array(
                    F.struct(F.col("qa").alias("a"), F.col("qa").alias("b")),
                    F.struct(F.col("qa").alias("a"), F.col("qb").alias("b")),
                    F.struct(F.col("qb").alias("a"), F.col("qb").alias("b")),
                )
            ).alias("p")
        )
        .select(F.col("p.a").alias("a"), F.col("p.b").alias("b"))
    )
    counts = (
        grid.crossJoin(gaps)
        .groupBy("a", "b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.when(F.col("g") > F.col("a"), 1).otherwise(0))
            .cast("bigint").alias("sa"),
            F.sum(F.when(F.col("g") > F.col("b"), 1).otherwise(0))
            .cast("bigint").alias("sb"),
            F.sum(
                F.when(F.col("g") > F.col("a") + F.col("b"), 1)
                .otherwise(0)
            ).cast("bigint").alias("sab"),
        )
    )
    return counts.select(
        "a",
        "b",
        "n",
        "sa",
        "sb",
        "sab",
        (F.col("sab") * F.col("n") <= F.col("sa") * F.col("sb"))
        .alias("nbu_holds"),
        F.expr(
            "CAST(floor(1000000.0 * (CAST(sab AS DOUBLE)"
            " * CAST(n AS DOUBLE)) / (CAST(sa AS DOUBLE)"
            " * CAST(sb AS DOUBLE))) AS BIGINT)"
        ).alias("aging_ratio_ppm"),
    ).orderBy("a", "b")


ORACLE_Q461 = """
WITH gaps AS (
  SELECT CAST(sec - prev AS BIGINT) AS g FROM (
    SELECT CAST(floor(epoch(ts)) AS BIGINT) AS sec,
           lag(CAST(floor(epoch(ts)) AS BIGINT))
             OVER (PARTITION BY user_id
                   ORDER BY CAST(floor(epoch(ts)) AS BIGINT), event_id)
             AS prev
    FROM events WHERE event_type = 'purchase'
  ) WHERE prev IS NOT NULL
),
ranked AS (
  SELECT g, CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS rk
  FROM gaps
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM gaps),
q25 AS (SELECT g AS qa FROM ranked, n_
        WHERE rk = greatest(CAST(1 AS BIGINT), (n * 25) // 100)),
q50 AS (SELECT g AS qb FROM ranked, n_
        WHERE rk = greatest(CAST(1 AS BIGINT), (n * 50) // 100)),
grid AS (
  SELECT qa AS a, qa AS b FROM q25
  UNION ALL SELECT qa, qb FROM q25, q50
  UNION ALL SELECT qb, qb FROM q50
),
counts AS (
  SELECT a, b, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN g > a THEN 1 ELSE 0 END) AS BIGINT) AS sa,
         CAST(sum(CASE WHEN g > b THEN 1 ELSE 0 END) AS BIGINT) AS sb,
         CAST(sum(CASE WHEN g > a + b THEN 1 ELSE 0 END) AS BIGINT)
           AS sab
  FROM grid, gaps GROUP BY 1, 2
)
SELECT a, b, n, sa, sb, sab,
       sab * n <= sa * sb AS nbu_holds,
       CAST(floor(1000000.0 * (CAST(sab AS DOUBLE) * CAST(n AS DOUBLE))
            / (CAST(sa AS DOUBLE) * CAST(sb AS DOUBLE))) AS BIGINT)
         AS aging_ratio_ppm
FROM counts ORDER BY 1, 2
"""


# q462: watermark completeness curve

def q462_watermark_completeness_curve(spark, sf_dir):
    """Watermark-delay completeness curve from MEASURED disorder:
    for candidate delays {1, 7, 30, 90} days over the orders ingest
    (q456's running-max lateness — the CDC shape), the exact share
    of rows a withWatermark(delay) pipeline would admit, plus the
    state-cost proxy delay x mean daily arrivals.  q456 profiles
    the disorder distribution; this reads the OPERATING POINTS off
    it — the completeness-vs-state menu an SRE actually chooses
    from (q380 prices simulated jitter, this prices the real
    thing).

    Scale shape: one running-max window + ONE conditional agg for
    all four candidates; 4 output rows from a literal sweep."""
    orders = _t(spark, sf_dir, "orders")
    w = Window.orderBy("o_orderkey")
    wm = w.rowsBetween(Window.unboundedPreceding, -1)
    late = orders.select(
        "o_orderkey",
        F.unix_timestamp("o_orderdate").cast("bigint").alias("sec"),
    ).select(
        F.greatest(
            F.lit(0),
            F.coalesce(F.max("sec").over(wm), F.col("sec")) - F.col("sec"),
        ).cast("bigint").alias("late"),
        "sec",
    ).localCheckpoint(eager=True)
    stats = late.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.expr(
            "(max(sec) - min(sec)) div 86400"
        ).cast("bigint").alias("span_days"),
        *[
            F.sum(F.when(F.col("late") <= d * 86400, 1).otherwise(0))
            .cast("bigint")
            .alias(f"ok{d}")
            for d in (1, 7, 30, 90)
        ],
    )
    delays = spark.createDataFrame(
        [(1,), (7,), (30,), (90,)], "delay_days bigint"
    )
    return (
        delays.crossJoin(F.broadcast(stats))
        .select(
            "delay_days",
            "n",
            F.expr(
                "CASE delay_days WHEN 1 THEN ok1 WHEN 7 THEN ok7"
                " WHEN 30 THEN ok30 ELSE ok90 END"
            ).cast("bigint").alias("admitted"),
            F.expr(
                "(CASE delay_days WHEN 1 THEN ok1 WHEN 7 THEN ok7"
                " WHEN 30 THEN ok30 ELSE ok90 END * 1000000) div n"
            ).cast("bigint").alias("completeness_ppm"),
            F.expr(
                "(delay_days * n) div greatest(CAST(1 AS BIGINT),"
                " span_days)"
            ).cast("bigint").alias("state_rows_proxy"),
        )
        .orderBy("delay_days")
    )


ORACLE_Q462 = """
WITH late AS (
  SELECT CAST(greatest(0, coalesce(mx, sec) - sec) AS BIGINT) AS late,
         sec
  FROM (
    SELECT sec,
           max(sec) OVER (ORDER BY o_orderkey ROWS BETWEEN UNBOUNDED
                          PRECEDING AND 1 PRECEDING) AS mx
    FROM (
      SELECT o_orderkey,
             CAST(floor(epoch(o_orderdate)) AS BIGINT) AS sec
      FROM orders
    )
  )
),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST((max(sec) - min(sec)) // 86400 AS BIGINT) AS span_days,
         CAST(sum(CASE WHEN late <= 1 * 86400 THEN 1 ELSE 0 END)
              AS BIGINT) AS ok1,
         CAST(sum(CASE WHEN late <= 7 * 86400 THEN 1 ELSE 0 END)
              AS BIGINT) AS ok7,
         CAST(sum(CASE WHEN late <= 30 * 86400 THEN 1 ELSE 0 END)
              AS BIGINT) AS ok30,
         CAST(sum(CASE WHEN late <= 90 * 86400 THEN 1 ELSE 0 END)
              AS BIGINT) AS ok90
  FROM late
),
delays AS (SELECT CAST(unnest([1, 7, 30, 90]) AS BIGINT) AS delay_days)
SELECT delay_days, n,
       CAST(CASE delay_days WHEN 1 THEN ok1 WHEN 7 THEN ok7
            WHEN 30 THEN ok30 ELSE ok90 END AS BIGINT) AS admitted,
       CAST((CASE delay_days WHEN 1 THEN ok1 WHEN 7 THEN ok7
             WHEN 30 THEN ok30 ELSE ok90 END * 1000000) // n AS BIGINT)
         AS completeness_ppm,
       CAST((delay_days * n) // greatest(CAST(1 AS BIGINT), span_days)
            AS BIGINT) AS state_rows_proxy
FROM delays, stats
ORDER BY delay_days
"""


# q463: backlog capacity sweep

def q463_backlog_capacity_sweep(spark, sf_dir):
    """Daily backlog replay under a capacity sweep: with daily order
    arrivals a_t and service capacity c per day, the backlog
    recurrence B_t = max(0, B_{t-1} + a_t - c) solves in closed
    window form (q394's Lindley prefix trick at daily granularity)
    for c at the rank-pinned {p50, p75, p90} of daily arrivals —
    peak backlog, total order-days of delay (the backlog integral),
    and backlogged-day count per candidate.  The staffing curve:
    capacity at the median drowns, at the p90 it merely ripples —
    quantified exactly.

    Scale shape: one day agg + dense spine; per candidate one
    running-sum + running-min window over the day-scale series."""
    ev = _t(spark, sf_dir, "orders")
    obs = ev.groupBy(
        F.expr(
            "CAST(unix_timestamp(o_orderdate) - unix_timestamp(o_orderdate)"
            " % 86400 AS BIGINT)"
        ).alias("day")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("a"))
    bounds = obs.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    daily = (
        bounds.select(
            F.explode(F.sequence("d0", "d1", F.lit(86400))).alias("day")
        )
        .join(obs, "day", "left")
        .na.fill({"a": 0})
        .localCheckpoint(eager=True)
    )
    wr = Window.orderBy("a", "day")
    ranked = daily.withColumn(
        "rk", F.row_number().over(wr).cast("bigint")
    )
    nd = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    caps = None
    for p in (50, 75, 90):
        pick = (
            ranked.crossJoin(F.broadcast(nd))
            .where(
                F.col("rk")
                == F.expr(
                    f"greatest(CAST(1 AS BIGINT), (n * {p}) div 100)"
                )
            )
            .select(
                F.lit(f"p{p}").alias("cap_name"),
                F.col("a").alias("c"),
            )
        )
        caps = pick if caps is None else caps.unionByName(pick)
    w = Window.partitionBy("cap_name").orderBy("day")
    wq = w.rowsBetween(Window.unboundedPreceding, 0)
    wprev = w.rowsBetween(Window.unboundedPreceding, -1)
    swept = (
        caps.crossJoin(daily)
        .withColumn("u", F.col("a") - F.col("c"))
        .withColumn("q", F.sum("u").over(wq))
        .withColumn(
            "backlog",
            F.greatest(
                F.lit(0),
                F.col("q")
                - F.least(
                    F.lit(0), F.coalesce(F.min("q").over(wprev), F.lit(0))
                ),
            ),
        )
    )
    return (
        swept.groupBy("cap_name", "c")
        .agg(
            F.max("backlog").cast("bigint").alias("peak_backlog"),
            F.sum("backlog").cast("bigint").alias("backlog_integral"),
            F.sum(F.when(F.col("backlog") > 0, 1).otherwise(0))
            .cast("bigint")
            .alias("backlogged_days"),
        )
        .orderBy("cap_name")
    )


ORACLE_Q463 = """
WITH obs AS (
  SELECT CAST(floor(epoch(o_orderdate)) AS BIGINT)
         - CAST(floor(epoch(o_orderdate)) AS BIGINT) % 86400 AS day,
         CAST(count(*) AS BIGINT) AS a
  FROM orders GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM obs),
daily AS (
  SELECT s.day, coalesce(obs.a, 0) AS a
  FROM (SELECT unnest(range(d0, d1 + 1, 86400)) AS day FROM b) s
  LEFT JOIN obs ON obs.day = s.day
),
ranked AS (
  SELECT a, day,
         CAST(row_number() OVER (ORDER BY a, day) AS BIGINT) AS rk
  FROM daily
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
caps AS (
  SELECT 'p50' AS cap_name, a AS c FROM ranked, nd
  WHERE rk = greatest(CAST(1 AS BIGINT), (n * 50) // 100)
  UNION ALL
  SELECT 'p75', a FROM ranked, nd
  WHERE rk = greatest(CAST(1 AS BIGINT), (n * 75) // 100)
  UNION ALL
  SELECT 'p90', a FROM ranked, nd
  WHERE rk = greatest(CAST(1 AS BIGINT), (n * 90) // 100)
),
swept AS (
  SELECT cap_name, c, day, a, q,
         greatest(0, q - least(0, coalesce(
           min(q) OVER (PARTITION BY cap_name ORDER BY day
                        ROWS BETWEEN UNBOUNDED PRECEDING AND
                        1 PRECEDING), 0))) AS backlog
  FROM (
    SELECT cap_name, c, day, a,
           sum(a - c) OVER (PARTITION BY cap_name ORDER BY day
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW) AS q
    FROM caps, daily
  )
)
SELECT cap_name, c,
       CAST(max(backlog) AS BIGINT) AS peak_backlog,
       CAST(sum(backlog) AS BIGINT) AS backlog_integral,
       CAST(sum(CASE WHEN backlog > 0 THEN 1 ELSE 0 END) AS BIGINT)
         AS backlogged_days
FROM swept GROUP BY 1, 2 ORDER BY 1
"""


# q464: fingerprint collision audit

def q464_fingerprint_collision_audit(spark, sf_dir):
    """Winnowing-fingerprint collision audit: group the corpus by
    q32's rolling fingerprint and separate EXACT duplicates (same
    fingerprint, same text — what the fingerprint exists to catch)
    from TRUE COLLISIONS (same fingerprint, different text — the
    false-merge risk every fingerprint-keyed dedup carries), with
    the colliding-doc share in ppm and the largest group.  q50
    gates new crawls on this fingerprint; this measures what that
    gate would wrongly merge.

    Scale shape: one fingerprint projection + one group agg with
    distinct-text counting + a single-row census."""
    from ..functions.text import rolling_fingerprint_md5_expr

    docs = _t_wide(spark, sf_dir, "documents")
    fp = docs.select(
        rolling_fingerprint_md5_expr(F.col("text")).alias("fp"),
        "text",
    )
    groups = fp.groupBy("fp").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.countDistinct("text").cast("bigint").alias("n_texts"),
    )
    return groups.agg(
        F.sum("n_docs").cast("bigint").alias("n_docs"),
        F.count(F.lit(1)).cast("bigint").alias("n_fingerprints"),
        F.sum(F.when(F.col("n_docs") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("multi_doc_groups"),
        F.sum(F.when(F.col("n_texts") > 1, 1).otherwise(0))
        .cast("bigint")
        .alias("true_collision_groups"),
        F.sum(
            F.when(F.col("n_texts") > 1, F.col("n_docs")).otherwise(0)
        ).cast("bigint").alias("colliding_docs"),
        F.max("n_docs").cast("bigint").alias("largest_group"),
    ).select(
        "n_docs",
        "n_fingerprints",
        "multi_doc_groups",
        "true_collision_groups",
        "colliding_docs",
        F.expr("(colliding_docs * 1000000) div n_docs").cast("bigint")
        .alias("colliding_ppm"),
        "largest_group",
    )


def _oracle_q464() -> str:
    return f"""
WITH fp AS (
  SELECT list_min(list_transform({_duck_kgrams("text", 5)},
                                 w -> md5(w))) AS fp,
         text
  FROM documents
),
groups AS (
  SELECT fp, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(count(DISTINCT text) AS BIGINT) AS n_texts
  FROM fp GROUP BY 1
)
SELECT CAST(sum(n_docs) AS BIGINT) AS n_docs,
       CAST(count(*) AS BIGINT) AS n_fingerprints,
       CAST(sum(CASE WHEN n_docs > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS multi_doc_groups,
       CAST(sum(CASE WHEN n_texts > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS true_collision_groups,
       CAST(sum(CASE WHEN n_texts > 1 THEN n_docs ELSE 0 END)
            AS BIGINT) AS colliding_docs,
       CAST((sum(CASE WHEN n_texts > 1 THEN n_docs ELSE 0 END)
             * 1000000) // sum(n_docs) AS BIGINT) AS colliding_ppm,
       CAST(max(n_docs) AS BIGINT) AS largest_group
FROM groups
"""


__all__ = _star_exports(globals())  # noqa: F405
