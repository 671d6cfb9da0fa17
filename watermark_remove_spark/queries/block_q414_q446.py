"""Registry block q414-q446 — split verbatim from the
single-module catalog (round-4 verdict #2); execution order,
names and behavior identical to the original queries.py."""
from __future__ import annotations

from .block_q381_q413 import *  # noqa: F401,F403



# q414: Wilcoxon signed-rank test

def q414_wilcoxon_signed_rank(spark, sf_dir):
    """Wilcoxon SIGNED-RANK test on the per-user first-vs-second-half
    activity pairing — the magnitude-aware upgrade of q246's sign
    test: zero differences dropped, |d| ranked with AVERAGE ranks
    carried exactly as 2x-scaled integers (tie block average = first
    + last row number — no halves ever materialize), W+ against its
    exact null mean with the tie-corrected variance
    Var12 = 2n(n+1)(2n+1) - sum(t^3 - t) in 12x scale, and the 5%
    decision made by the cleared integer comparison
    3000*(W2-E2)^2 >= 3841*Var12 in DECIMAL(38,0) (the squared
    delta overflows int64 at sf0.1 — said so, not discovered).

    Scale shape: one (user, half) agg, one rank window over the
    user-scale |d| relation + one tie-group agg, then single-row
    algebra."""
    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr(
            "(min(unix_timestamp(ts)) + max(unix_timestamp(ts))) div 2"
        ).cast("bigint").alias("mid")
    )
    diffs = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            (
                F.sum(
                    F.when(F.unix_timestamp("ts") > F.col("mid"), 1)
                    .otherwise(0)
                )
                - F.sum(
                    F.when(F.unix_timestamp("ts") <= F.col("mid"), 1)
                    .otherwise(0)
                )
            ).cast("bigint").alias("d")
        )
        .where(F.col("d") != 0)
        .select("user_id", "d", F.abs("d").alias("ad"))
    )
    wr = Window.orderBy("ad", "user_id")
    rn = diffs.withColumn("rn", F.row_number().over(wr).cast("bigint"))
    ties = rn.groupBy("ad").agg(
        (F.min("rn") + F.max("rn")).cast("bigint").alias("rank2"),
        F.count(F.lit(1)).cast("bigint").alias("t"),
    )
    joined = rn.join(F.broadcast(ties), "ad")
    return joined.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
        F.sum(F.when(F.col("d") > 0, F.col("rank2")).otherwise(0))
        .cast("bigint")
        .alias("w_plus_x2"),
    ).crossJoin(
        F.broadcast(
            ties.agg(
                F.sum(F.expr("t * t * t - t")).cast("bigint").alias("tie3")
            )
        )
    ).select(
        "n_pairs",
        "w_plus_x2",
        F.expr("n_pairs * (n_pairs + 1) div 2").cast("bigint")
        .alias("e_x2"),
        F.expr(
            "2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) - tie3"
        ).cast("bigint").alias("var_x12"),
        F.expr(
            "CAST(floor(1000.0 * (CAST(w_plus_x2 AS DOUBLE)"
            " - CAST(n_pairs * (n_pairs + 1) div 2 AS DOUBLE))"
            " / sqrt((CAST(2 * n_pairs * (n_pairs + 1)"
            " * (2 * n_pairs + 1) - tie3 AS DOUBLE)) / 12.0))"
            " AS BIGINT)"
        ).alias("z_milli"),
        F.expr(
            "CAST(12000 AS DECIMAL(38,0))"
            " * CAST((w_plus_x2 - n_pairs * (n_pairs + 1) div 2)"
            " AS DECIMAL(38,0))"
            " * CAST((w_plus_x2 - n_pairs * (n_pairs + 1) div 2)"
            " AS DECIMAL(38,0))"
            " >= CAST(3841 AS DECIMAL(38,0))"
            " * CAST(2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1)"
            " - tie3 AS DECIMAL(38,0))"
        ).alias("significant"),
    )


ORACLE_Q414 = """
WITH mid AS (
  SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
          + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
  FROM events
),
diffs AS (
  SELECT user_id, d, abs(d) AS ad FROM (
    SELECT user_id,
           CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) > mid
                         THEN 1 ELSE 0 END)
                - sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) <= mid
                           THEN 1 ELSE 0 END) AS BIGINT) AS d
    FROM events, mid GROUP BY 1
  ) WHERE d <> 0
),
rn AS (
  SELECT *, CAST(row_number() OVER (ORDER BY ad, user_id) AS BIGINT)
           AS rn
  FROM diffs
),
ties AS (
  SELECT ad, CAST(min(rn) + max(rn) AS BIGINT) AS rank2,
         CAST(count(*) AS BIGINT) AS t
  FROM rn GROUP BY 1
),
tt AS (SELECT CAST(sum(t * t * t - t) AS BIGINT) AS tie3 FROM ties),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CASE WHEN d > 0 THEN rank2 ELSE 0 END) AS BIGINT)
           AS w_plus_x2
  FROM rn JOIN ties USING (ad)
)
SELECT n_pairs, w_plus_x2,
       CAST(n_pairs * (n_pairs + 1) // 2 AS BIGINT) AS e_x2,
       CAST(2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) - tie3
            AS BIGINT) AS var_x12,
       CAST(floor(1000.0 * (CAST(w_plus_x2 AS DOUBLE)
            - CAST(n_pairs * (n_pairs + 1) // 2 AS DOUBLE))
            / sqrt((CAST(2 * n_pairs * (n_pairs + 1)
            * (2 * n_pairs + 1) - tie3 AS DOUBLE)) / 12.0))
            AS BIGINT) AS z_milli,
       CAST(12000 AS HUGEINT)
         * CAST(w_plus_x2 - n_pairs * (n_pairs + 1) // 2 AS HUGEINT)
         * CAST(w_plus_x2 - n_pairs * (n_pairs + 1) // 2 AS HUGEINT)
       >= CAST(3841 AS HUGEINT)
         * CAST(2 * n_pairs * (n_pairs + 1) * (2 * n_pairs + 1) - tie3
                AS HUGEINT) AS significant
FROM stats, tt
"""


# q415: Dorfman pooled-testing advisor

def _pow_chain(var: str, s: int) -> str:
    """(var * var * ... * var), s factors, left-assoc — integer-
    exponent powers as explicit product chains so no engine's pow()
    rounding enters the mirror (shared by q415's two engines)."""
    return "(" + " * ".join([var] * s) + ")"


def q415_dorfman_pooling(spark, sf_dir):
    """Dorfman pooled-testing advisor for corpus QC: with the
    measured defect rate p (deterministic portable-hash 5% defect
    FIXTURE on doc_id — the advisor prices the POOLING MATH; the
    flag is a stand-in for any expensive per-doc safety check), the
    expected tests per item 1/s + 1 - (1-p)^s for pool sizes
    s in {2,3,4,5,6,8,10,12,16} — (1-p)^s as an explicit product
    chain (no pow(), whose rounding is not cross-engine safe) — and
    the argmin pool size flagged.  The 1943 answer to 'screening
    every doc is too expensive': at 5% defects the optimal pool
    cuts test volume ~4x.  q312/q352 audit gates that exist; this
    SIZES the batch the gate should run on.

    Scale shape: one corpus agg for (n, defects); the sweep is a
    9-row literal joined against one scalar."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(
            F.when(
                md5_i64_expr(F.col("doc_id").cast("string"), salt="qc")
                % 20
                < 1,
                1,
            ).otherwise(0)
        ).cast("bigint").alias("defects"),
    )
    sizes = spark.createDataFrame(
        [(s,) for s in (2, 3, 4, 5, 6, 8, 10, 12, 16)], "s bigint"
    )
    per_s = []
    for s in (2, 3, 4, 5, 6, 8, 10, 12, 16):
        chain = _pow_chain("qq", s)
        per_s.append(
            f"WHEN s = {s} THEN CAST(floor(1000000.0 * ((1.0"
            f" / CAST(s AS DOUBLE)) + 1.0 - {chain})) AS BIGINT)"
        )
    exp_expr = (
        "CASE " + " ".join(per_s) + " END"
    )
    swept = (
        sizes.crossJoin(F.broadcast(base))
        .withColumn(
            "qq",
            F.expr(
                "(CAST(n AS DOUBLE) - CAST(defects AS DOUBLE))"
                " / CAST(n AS DOUBLE)"
            ),
        )
        .select(
            "s",
            "n",
            "defects",
            F.expr(exp_expr).alias("exp_tests_ppm"),
        )
    )
    wbest = Window.orderBy("exp_tests_ppm", "s")
    return (
        swept.withColumn("rk", F.row_number().over(wbest))
        .select(
            "s",
            "n",
            "defects",
            F.expr("(defects * 1000000) div n").cast("bigint")
            .alias("defect_ppm"),
            "exp_tests_ppm",
            (F.lit(1000000) - F.col("exp_tests_ppm")).cast("bigint")
            .alias("saving_ppm"),
            (F.col("rk") == 1).alias("is_optimal"),
        )
        .orderBy("s")
    )


def _oracle_q415() -> str:
    h = duck_md5_i64("CAST(doc_id AS VARCHAR)", salt="qc")
    cases = " ".join(
        f"WHEN s = {s} THEN CAST(floor(1000000.0 * ((1.0"
        f" / CAST(s AS DOUBLE)) + 1.0 - {_pow_chain('qq', s)}))"
        " AS BIGINT)"
        for s in (2, 3, 4, 5, 6, 8, 10, 12, 16)
    )
    return f"""
WITH base AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN {h} % 20 < 1 THEN 1 ELSE 0 END) AS BIGINT)
           AS defects
  FROM documents
),
sizes AS (
  SELECT CAST(unnest([2, 3, 4, 5, 6, 8, 10, 12, 16]) AS BIGINT) AS s
),
swept AS (
  SELECT s, n, defects,
         CASE {cases} END AS exp_tests_ppm
  FROM sizes, base,
       (SELECT (CAST(n AS DOUBLE) - CAST(defects AS DOUBLE))
               / CAST(n AS DOUBLE) AS qq FROM base)
),
ranked AS (
  SELECT *, row_number() OVER (ORDER BY exp_tests_ppm, s) AS rk
  FROM swept
)
SELECT s, n, defects,
       CAST((defects * 1000000) // n AS BIGINT) AS defect_ppm,
       exp_tests_ppm,
       CAST(1000000 - exp_tests_ppm AS BIGINT) AS saving_ppm,
       rk = 1 AS is_optimal
FROM ranked ORDER BY s
"""


# q416: empirical Bloom-filter sizing sweep

def q416_bloom_sizing_sweep(spark, sf_dir):
    """Empirical Bloom-filter sizing sweep: for bitmap sizes
    m in {64, 128, 256, 512, 1024} bits (k=2 portable-md5 positions,
    the q54 construction), build the filter over the purchasing-user
    key set and measure the ACTUAL false-positive rate on an equal-
    size disjoint negative-control key set (user_id + 10^6) — exact
    counts, no fpp formula, no pow(): the set-bit relation per m is
    tiny, membership is a positions-vs-set-bits join, and a probe
    passes iff BOTH its k positions hit.  q54 proves pruning with
    ONE deliberately undersized filter; this prices the m KNOB the
    way q383/q345 price theirs — with measurements.

    Scale shape: one build-key agg; per-m set-bit relations are
    <= m rows; the probe join is (probes x k) vs those tiny
    relations — broadcast, zero shuffle on the probe side."""
    ev = _t(spark, sf_dir, "events")
    keys = (
        ev.where(F.col("event_type") == "purchase")
        .select(F.col("user_id").alias("k"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    probes = keys.select((F.col("k") + 1000000).alias("k"))
    ms = [64, 128, 256, 512, 1024]
    mdf = spark.createDataFrame([(m,) for m in ms], "m bigint")

    def positions(df):
        return df.select(
            "m",
            "k",
            *[
                (
                    md5_i64_expr(F.col("k").cast("string"), salt=f"bf{i}#")
                    % F.col("m")
                ).alias(f"p{i}")
                for i in range(2)
            ],
        )

    build_pos = positions(keys.crossJoin(mdf)).select(
        "m", F.explode(F.array("p0", "p1")).alias("p")
    ).distinct()
    probe_pos = positions(probes.crossJoin(mdf))
    # a probe passes iff BOTH positions are set; when p0 = p1 the
    # single distinct matched bit suffices
    passed = (
        probe_pos.join(
            F.broadcast(
                build_pos.select(
                    F.col("m").alias("bm"), F.col("p").alias("bp")
                )
            ),
            F.expr("m = bm AND (p0 = bp OR p1 = bp)"),
            "left",
        )
        .groupBy("m", "k", "p0", "p1")
        .agg(F.countDistinct("bp").alias("nmatch"))
        .withColumn(
            "need",
            F.when(F.col("p0") == F.col("p1"), 1).otherwise(2),
        )
        .where(F.col("nmatch") >= F.col("need"))
        .groupBy("m")
        .agg(F.count(F.lit(1)).cast("bigint").alias("fp"))
    )
    counts = keys.agg(F.count(F.lit(1)).cast("bigint").alias("n_keys"))
    set_bits = build_pos.groupBy("m").agg(
        F.count(F.lit(1)).cast("bigint").alias("bits_set")
    )
    return (
        mdf.join(F.broadcast(passed), "m", "left")
        .na.fill({"fp": 0})
        .join(F.broadcast(set_bits), "m")
        .crossJoin(F.broadcast(counts))
        .select(
            F.col("m").alias("m_bits"),
            "n_keys",
            "bits_set",
            F.expr("(m * 1000) div n_keys").cast("bigint")
            .alias("bits_per_key_milli"),
            F.col("fp").cast("bigint").alias("fp_count"),
            F.expr("(fp * 1000000) div n_keys").cast("bigint")
            .alias("fpp_ppm"),
        )
        .orderBy("m_bits")
    )


def _oracle_q416() -> str:
    h0 = duck_md5_i64("CAST(k AS VARCHAR)", salt="bf0#")
    h1 = duck_md5_i64("CAST(k AS VARCHAR)", salt="bf1#")
    p0 = duck_md5_i64("CAST(k + 1000000 AS VARCHAR)", salt="bf0#")
    p1 = duck_md5_i64("CAST(k + 1000000 AS VARCHAR)", salt="bf1#")
    return f"""
WITH keys AS (
  SELECT DISTINCT user_id AS k FROM events
  WHERE event_type = 'purchase'
),
ms AS (SELECT CAST(unnest([64, 128, 256, 512, 1024]) AS BIGINT) AS m),
build_pos AS (
  SELECT DISTINCT m, p FROM (
    SELECT m, {h0} % m AS p FROM keys, ms
    UNION ALL
    SELECT m, {h1} % m FROM keys, ms
  )
),
probe_pos AS (
  SELECT m, k + 1000000 AS k, {p0} % m AS p0, {p1} % m AS p1
  FROM keys, ms
),
matched AS (
  SELECT pp.m, pp.k, pp.p0, pp.p1,
         count(DISTINCT bp.p) AS nmatch
  FROM probe_pos pp
  LEFT JOIN build_pos bp
    ON bp.m = pp.m AND (bp.p = pp.p0 OR bp.p = pp.p1)
  GROUP BY 1, 2, 3, 4
),
passed AS (
  SELECT m, CAST(count(*) AS BIGINT) AS fp
  FROM matched
  WHERE nmatch >= CASE WHEN p0 = p1 THEN 1 ELSE 2 END
  GROUP BY 1
),
counts AS (SELECT CAST(count(*) AS BIGINT) AS n_keys FROM keys),
set_bits AS (
  SELECT m, CAST(count(*) AS BIGINT) AS bits_set
  FROM build_pos GROUP BY 1
)
SELECT ms.m AS m_bits, n_keys, bits_set,
       CAST((ms.m * 1000) // n_keys AS BIGINT) AS bits_per_key_milli,
       CAST(coalesce(fp, 0) AS BIGINT) AS fp_count,
       CAST((coalesce(fp, 0) * 1000000) // n_keys AS BIGINT)
         AS fpp_ppm
FROM ms
LEFT JOIN passed ON ms.m = passed.m
JOIN set_bits ON ms.m = set_bits.m, counts
ORDER BY 1
"""


# q417: coupon-collector coverage projection

def q417_coupon_collector(spark, sf_dir):
    """Coupon-collector projection for crawl coverage: after the
    first 50 docs (by doc_id) have revealed k of the n (source,
    lang) cells (the SOURCE alone saturates within 50 docs on any
    round-robin corpus — said so, and the cell grid is the coverage
    unit that matters for mixture curation anyway), the
    expected number of FURTHER uniform doc draws to see every source
    is n*H_{n-k} (n-k coupons still missing, each next-new-coupon
    wait geometric with success j/n for j = n-k .. 1; zero when
    k = n) — with the harmonic numbers carried as EXACT
    integers at 1e-12 resolution (H~_i = sum of 10^12 div j, a
    running integer window sum — float harmonic folds are not
    cross-engine safe because DuckDB's segment-tree window
    aggregation reorders additions).  The 'how much more crawling
    until full source coverage' planning number; q334 audits
    coverage that EXISTS, this projects the wait for the rest.

    Scale shape: one distinct-source agg, one first-K semi-scan,
    one integer window sum over the n-row source spine."""
    docs = _t(spark, sf_dir, "documents")
    n_ = docs.agg(
        F.countDistinct("source", "lang").cast("bigint").alias("n")
    )
    first_k = (
        docs.select("doc_id", "source", "lang")
        .orderBy("doc_id")
        .limit(50)
        .agg(F.countDistinct("source", "lang").cast("bigint").alias("k"))
    )
    spine = (
        n_.select(F.explode(F.sequence(F.lit(1), F.col("n"))).alias("i"))
    )
    wh = Window.orderBy("i").rowsBetween(Window.unboundedPreceding, 0)
    harm = spine.select(
        "i",
        F.sum(F.expr("CAST(1000000000000 AS BIGINT) div i"))
        .over(wh)
        .cast("bigint")
        .alias("h"),
    ).localCheckpoint(eager=True)
    hn = harm.crossJoin(F.broadcast(n_)).where(
        F.col("i") == F.col("n")
    ).select(F.col("h").alias("hn"))
    # H_{n-k} via a conditional sum over the spine so k = n (nothing
    # missing) yields an exact 0 instead of an empty join
    hrem = (
        harm.crossJoin(F.broadcast(n_))
        .crossJoin(F.broadcast(first_k))
        .agg(
            F.coalesce(
                F.sum(
                    F.when(
                        F.col("i") == F.col("n") - F.col("k"), F.col("h")
                    ).otherwise(0)
                ),
                F.lit(0),
            )
            .cast("bigint")
            .alias("hrem")
        )
    )
    return (
        n_.crossJoin(F.broadcast(first_k))
        .crossJoin(F.broadcast(hn))
        .crossJoin(F.broadcast(hrem))
        .select(
            F.col("n").alias("n_cells"),
            F.col("k").alias("seen_after_50"),
            F.expr("(n * hrem * 1000) div 1000000000000")
            .cast("bigint")
            .alias("e_more_draws_milli"),
            F.expr("(n * hn * 1000) div 1000000000000")
            .cast("bigint")
            .alias("e_full_milli"),
        )
    )


ORACLE_Q417 = """
WITH n_ AS (
  SELECT CAST(count(DISTINCT source || '/' || lang) AS BIGINT) AS n
  FROM documents
),
first_k AS (
  SELECT CAST(count(DISTINCT source || '/' || lang) AS BIGINT) AS k
  FROM (SELECT source, lang FROM documents ORDER BY doc_id LIMIT 50)
),
spine AS (
  SELECT CAST(unnest(range(1, n + 1)) AS BIGINT) AS i FROM n_
),
harm AS (
  SELECT i,
         CAST(sum(CAST(1000000000000 AS BIGINT) // i)
              OVER (ORDER BY i ROWS BETWEEN UNBOUNDED PRECEDING AND
                    CURRENT ROW) AS BIGINT) AS h
  FROM spine
),
hn AS (SELECT h AS hn FROM harm, n_ WHERE i = n),
hrem AS (
  SELECT CAST(coalesce(sum(CASE WHEN i = n - k THEN h ELSE 0 END), 0)
              AS BIGINT) AS hrem
  FROM harm, n_, first_k
)
SELECT n AS n_cells, k AS seen_after_50,
       CAST((n * hrem * 1000) // 1000000000000 AS BIGINT)
         AS e_more_draws_milli,
       CAST((n * hn * 1000) // 1000000000000 AS BIGINT) AS e_full_milli
FROM n_, first_k, hn, hrem
"""


# q418: Chao1 vocabulary-richness estimator

def q418_chao1_richness(spark, sf_dir):
    """Chao1 unseen-species estimate of per-language SHINGLE
    vocabulary (3-gram phrases — the unigram vocabulary here is a
    closed ~31-word set with zero singletons, which would make the
    estimator vacuous; said so): from the frequency spectrum (f1
    singletons, f2 doubletons), the
    bias-corrected S_obs + f1(f1-1)/(2(f2+1)) lower bound on TRUE
    vocabulary size, plus Good's sample coverage 1 - f1/N in ppm —
    both exact integer arithmetic end to end.  q280 smooths
    probability mass for the words you HAVE; Chao1 counts the words
    you HAVEN'T SEEN YET — the 'how much vocabulary is this crawl
    still missing' number behind corpus-growth decisions (q347's
    Heaps law fits the growth curve; this bounds its ceiling).

    Scale shape: one token explode + one (lang, token) agg, one
    spectrum agg per lang — the estimator runs on the |langs|-row
    relation."""
    docs = _t_wide(spark, sf_dir, "documents")
    counts = (
        docs.select(
            "lang",
            F.explode(doc_shingles_expr(F.col("text"))).alias("token"),
        )
        .groupBy("lang", "token")
        .agg(F.count(F.lit(1)).cast("bigint").alias("c"))
    )
    return (
        counts.groupBy("lang")
        .agg(
            F.sum("c").cast("bigint").alias("n_tokens"),
            F.count(F.lit(1)).cast("bigint").alias("s_obs"),
            F.sum(F.when(F.col("c") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("f1"),
            F.sum(F.when(F.col("c") == 2, 1).otherwise(0))
            .cast("bigint")
            .alias("f2"),
        )
        .select(
            "lang",
            "n_tokens",
            "s_obs",
            "f1",
            "f2",
            F.expr(
                "s_obs * 1000 + (f1 * (f1 - 1) * 1000) div (2 * (f2 + 1))"
            ).cast("bigint").alias("chao1_milli"),
            F.expr("((n_tokens - f1) * 1000000) div n_tokens")
            .cast("bigint")
            .alias("coverage_ppm"),
        )
        .orderBy("lang")
    )


ORACLE_Q418 = f"""
WITH counts AS (
  SELECT lang, token, CAST(count(*) AS BIGINT) AS c
  FROM (
    SELECT lang,
           unnest({_DUCK_SHINGLES.format(col='text')}) AS token
    FROM documents
  ) GROUP BY 1, 2
)
SELECT lang,
       CAST(sum(c) AS BIGINT) AS n_tokens,
       CAST(count(*) AS BIGINT) AS s_obs,
       CAST(sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) AS BIGINT) AS f1,
       CAST(sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) AS BIGINT) AS f2,
       CAST(count(*) * 1000
            + (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END)
               * (sum(CASE WHEN c = 1 THEN 1 ELSE 0 END) - 1) * 1000)
              // (2 * (sum(CASE WHEN c = 2 THEN 1 ELSE 0 END) + 1))
            AS BIGINT) AS chao1_milli,
       CAST(((sum(c) - sum(CASE WHEN c = 1 THEN 1 ELSE 0 END))
             * 1000000) // sum(c) AS BIGINT) AS coverage_ppm
FROM counts GROUP BY 1 ORDER BY 1
"""


# q419: Horvitz-Thompson estimator audit

def q419_horvitz_thompson_audit(spark, sf_dir):
    """Horvitz-Thompson audit of the q76 weighted sample: estimate
    the corpus's TOTAL characters from the sample alone via
    inclusion-probability reweighting (pi = min(n_chars, 1000)/1000
    — so each small sampled doc contributes exactly 1000 and each
    always-sampled large doc contributes itself: the estimator is
    pure integers) next to the NAIVE sample-mean scale-up that
    ignores the length bias, each with its signed error vs the true
    total in ppm (mirrored float floor — signed `div` semantics
    diverge between engines).  Closes the statistical loop on q76:
    a weighted sample is only useful if its consumers reweight, and
    this measures exactly what forgetting costs.

    Scale shape: two map-side-combinable aggs over one scan each
    (sample membership is q76's zero-shuffle hash filter)."""
    docs = _t(spark, sf_dir, "documents")
    truth = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_total"),
        F.sum("n_chars").cast("bigint").alias("true_total"),
    )
    w = F.least(F.col("n_chars"), F.lit(1000)).cast("bigint")
    h = md5_i64_expr(F.col("doc_id").cast("string"), salt="wsamp#") % 1000
    sample = docs.where(h < w).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_sampled"),
        F.sum("n_chars").cast("bigint").alias("sample_chars"),
        F.sum(
            F.when(F.col("n_chars") <= 1000, 1000)
            .otherwise(F.col("n_chars"))
        ).cast("bigint").alias("ht_estimate"),
    )
    return truth.crossJoin(F.broadcast(sample)).select(
        "n_total",
        "n_sampled",
        "true_total",
        "ht_estimate",
        F.expr(
            "CAST(floor(1000000.0 * (CAST(ht_estimate AS DOUBLE)"
            " - CAST(true_total AS DOUBLE))"
            " / CAST(true_total AS DOUBLE)) AS BIGINT)"
        ).alias("ht_err_ppm"),
        F.expr("(sample_chars * n_total) div n_sampled")
        .cast("bigint")
        .alias("naive_estimate"),
        F.expr(
            "CAST(floor(1000000.0"
            " * (CAST((sample_chars * n_total) div n_sampled AS DOUBLE)"
            " - CAST(true_total AS DOUBLE))"
            " / CAST(true_total AS DOUBLE)) AS BIGINT)"
        ).alias("naive_err_ppm"),
    )


def _oracle_q419() -> str:
    hh = duck_md5_i64("doc_id::VARCHAR", salt="wsamp#")
    return f"""
WITH truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n_total,
         CAST(sum(n_chars) AS BIGINT) AS true_total
  FROM documents
),
sample AS (
  SELECT CAST(count(*) AS BIGINT) AS n_sampled,
         CAST(sum(n_chars) AS BIGINT) AS sample_chars,
         CAST(sum(CASE WHEN n_chars <= 1000 THEN 1000 ELSE n_chars END)
              AS BIGINT) AS ht_estimate
  FROM documents
  WHERE {hh} % 1000 < least(n_chars, 1000)
)
SELECT n_total, n_sampled, true_total, ht_estimate,
       CAST(floor(1000000.0 * (CAST(ht_estimate AS DOUBLE)
            - CAST(true_total AS DOUBLE)) / CAST(true_total AS DOUBLE))
            AS BIGINT) AS ht_err_ppm,
       CAST((sample_chars * n_total) // n_sampled AS BIGINT)
         AS naive_estimate,
       CAST(floor(1000000.0
            * (CAST((sample_chars * n_total) // n_sampled AS DOUBLE)
               - CAST(true_total AS DOUBLE))
            / CAST(true_total AS DOUBLE)) AS BIGINT) AS naive_err_ppm
FROM truth, sample
"""


# q420: leave-one-out source influence

def q420_loo_source_influence(spark, sf_dir):
    """Leave-one-out source influence on corpus quality: per source,
    the exact change in mean quality score if that source were
    dropped (micro-units; per-row scores integerized FIRST — round
    (score*1e6) — so all sums are integer and shuffle-order-exact;
    the signed delta is a mirrored float floor because signed `div`
    semantics diverge).  The data-valuation screen behind source
    curation: q125 measures source CONCENTRATION, q19 scores docs —
    this prices each source's marginal effect on the corpus, which
    is what actually decides a drop.

    Scale shape: one per-source agg off one scan; the LOO algebra
    runs on the |sources|-row relation against one broadcast
    total."""
    from ..functions.text import quality_score_expr

    docs = _t(spark, sf_dir, "documents")
    scored = docs.select(
        "source",
        F.round(quality_score_expr(F.col("text")) * 1000000)
        .cast("bigint")
        .alias("q"),
    )
    per = scored.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_docs"),
        F.sum("q").cast("bigint").alias("s"),
    )
    tot = per.agg(
        F.sum("n_docs").cast("bigint").alias("nt"),
        F.sum("s").cast("bigint").alias("st"),
    )
    return (
        per.crossJoin(F.broadcast(tot))
        .select(
            "source",
            "n_docs",
            F.expr("s div n_docs").cast("bigint").alias("mean_q_micro"),
            F.expr(
                "CAST(floor((CAST(st - s AS DOUBLE)"
                " / CAST(nt - n_docs AS DOUBLE))"
                " - (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE)))"
                " AS BIGINT)"
            ).alias("loo_delta_micro"),
        )
        .orderBy("source")
    )


ORACLE_Q420 = """
WITH m AS (
  SELECT source,
         length(text) AS n_chars,
         len(list_filter(string_split(text, ' '), t -> t <> ''))
           AS n_tokens,
         len(string_split(text, chr(10))) AS n_lines,
         len(list_filter(string_split(text, chr(10)),
             l -> length(l) > 0)) AS non_empty
  FROM documents
),
scored AS (
  SELECT source,
         CAST(round(round(0.4 * least(n_chars / 500.0, 1.0)
           + 0.4 * (CASE WHEN n_tokens > 0 AND
                    (n_chars - (n_tokens - 1.0)) / n_tokens
                      BETWEEN 3.0 AND 10.0
                    THEN 1.0 ELSE 0.5 END)
           + 0.2 * (CASE WHEN n_lines > 0
                    THEN non_empty * 1.0 / n_lines ELSE 0.0 END), 6)
           * 1000000) AS BIGINT) AS q
  FROM m
),
per AS (
  SELECT source, CAST(count(*) AS BIGINT) AS n_docs,
         CAST(sum(q) AS BIGINT) AS s
  FROM scored GROUP BY 1
),
tot AS (
  SELECT CAST(sum(n_docs) AS BIGINT) AS nt, CAST(sum(s) AS BIGINT) AS st
  FROM per
)
SELECT source, n_docs,
       CAST(s // n_docs AS BIGINT) AS mean_q_micro,
       CAST(floor((CAST(st - s AS DOUBLE) / CAST(nt - n_docs AS DOUBLE))
            - (CAST(st AS DOUBLE) / CAST(nt AS DOUBLE))) AS BIGINT)
         AS loo_delta_micro
FROM per, tot
ORDER BY 1
"""


# q421: event-sourcing snapshot-interval advisor

def q421_snapshot_interval_advisor(spark, sf_dir):
    """Event-sourcing snapshot-interval advisor: for snapshot-every-k
    candidates {8, 16, 32, 64}, the exact snapshot count
    sum ceil(n_u/k) and the exact total replay work — a random read
    of user u replays (position mod k) prior events, and summing
    that over every position has the CLOSED FORM q*k(k-1)/2 +
    r(r-1)/2 per user (q = n_u div k, r = n_u mod k), so the sweep
    never explodes positions.  Total cost under a literal
    10-events-per-snapshot write equivalence, argmin flagged — the
    storage-vs-read-latency knob of every event-sourced state store
    (this engine's own sink ledger included).

    Scale shape: one per-user count agg; the sweep is a 4-row
    literal joined against the user-scale relation with map-side
    arithmetic, then one agg per candidate."""
    ev = _t(spark, sf_dir, "events")
    users = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("nu")
    )
    ks = spark.createDataFrame([(8,), (16,), (32,), (64,)], "k bigint")
    per = (
        ks.crossJoin(users)
        .select(
            "k",
            "nu",
            F.expr("(nu + k - 1) div k").alias("snaps"),
            F.expr(
                "(nu div k) * (k * (k - 1) div 2)"
                " + (nu % k) * ((nu % k) - 1) div 2"
            ).alias("replay"),
        )
        .groupBy("k")
        .agg(
            F.sum("snaps").cast("bigint").alias("n_snapshots"),
            F.sum("replay").cast("bigint").alias("total_replay_events"),
            F.sum("nu").cast("bigint").alias("n_events"),
        )
    )
    wbest = Window.orderBy(
        F.expr("10 * n_snapshots + total_replay_events"), "k"
    )
    return (
        per.withColumn("rk", F.row_number().over(wbest))
        .select(
            "k",
            "n_snapshots",
            "total_replay_events",
            F.expr("(total_replay_events * 1000) div n_events")
            .cast("bigint")
            .alias("mean_replay_milli"),
            F.expr("10 * n_snapshots + total_replay_events")
            .cast("bigint")
            .alias("cost_events"),
            (F.col("rk") == 1).alias("is_optimal"),
        )
        .orderBy("k")
    )


ORACLE_Q421 = """
WITH users AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS nu FROM events GROUP BY 1
),
ks AS (SELECT CAST(unnest([8, 16, 32, 64]) AS BIGINT) AS k),
per AS (
  SELECT k,
         CAST(sum((nu + k - 1) // k) AS BIGINT) AS n_snapshots,
         CAST(sum((nu // k) * (k * (k - 1) // 2)
                  + (nu % k) * ((nu % k) - 1) // 2) AS BIGINT)
           AS total_replay_events,
         CAST(sum(nu) AS BIGINT) AS n_events
  FROM ks, users GROUP BY 1
),
ranked AS (
  SELECT *, row_number() OVER (
           ORDER BY 10 * n_snapshots + total_replay_events, k) AS rk
  FROM per
)
SELECT k, n_snapshots, total_replay_events,
       CAST((total_replay_events * 1000) // n_events AS BIGINT)
         AS mean_replay_milli,
       CAST(10 * n_snapshots + total_replay_events AS BIGINT)
         AS cost_events,
       rk = 1 AS is_optimal
FROM ranked ORDER BY k
"""


# q422: ski-rental cache-lease advisor

def q422_ski_rental_advisor(spark, sf_dir):
    """Ski-rental (rent-vs-buy) replay on per-(user, week) active-day
    spans (the WEEK granularity keeps both branches live — every
    user's full-history span exceeds any sane break-even, which
    would leave the rent branch dead; said so): for break-even B in
    {2, 3, 4, 6}, the classic deterministic policy (rent daily, buy
    on day B) replayed EXACTLY against every user-week's observed
    active-day count — total policy cost vs the
    clairvoyant optimum min(days, B), the realized competitive ratio
    in ppm, and the (2B-1)/B worst-case bound it must stay under.
    The cache-lease / reserved-instance decision as measurement:
    q115/q200 decay the past, this prices committing to the future
    with zero distributional assumptions.

    Scale shape: one per-user distinct-day agg; the sweep is a
    4-row literal with map-side arithmetic + one agg per
    candidate."""
    ev = _t(spark, sf_dir, "events")
    users = (
        ev.select(
            "user_id",
            F.expr(
                "CAST(unix_timestamp(ts) AS BIGINT) div 604800"
            ).alias("wk"),
            F.to_date("ts").alias("d"),
        )
        .distinct()
        .groupBy("user_id", "wk")
        .agg(F.count(F.lit(1)).cast("bigint").alias("days"))
    )
    bs = spark.createDataFrame([(2,), (3,), (4,), (6,)], "b bigint")
    return (
        bs.crossJoin(users)
        .select(
            "b",
            F.when(F.col("days") < F.col("b"), F.col("days"))
            .otherwise(2 * F.col("b") - 1)
            .alias("policy"),
            F.least(F.col("days"), F.col("b")).alias("opt"),
            F.when(F.col("days") >= F.col("b"), 1).otherwise(0)
            .alias("bought"),
        )
        .groupBy("b")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_spans"),
            F.sum("policy").cast("bigint").alias("policy_cost"),
            F.sum("opt").cast("bigint").alias("opt_cost"),
            F.sum("bought").cast("bigint").alias("n_bought"),
        )
        .select(
            "b",
            "n_spans",
            "policy_cost",
            "opt_cost",
            F.expr("(policy_cost * 1000000) div opt_cost").cast("bigint")
            .alias("ratio_ppm"),
            F.expr("((2 * b - 1) * 1000000) div b").cast("bigint")
            .alias("bound_ppm"),
            "n_bought",
        )
        .orderBy("b")
    )


ORACLE_Q422 = """
WITH users AS (
  SELECT user_id, wk, CAST(count(*) AS BIGINT) AS days FROM (
    SELECT DISTINCT user_id,
           CAST(floor(epoch(ts)) AS BIGINT) // 604800 AS wk,
           CAST(ts AS DATE) AS d
    FROM events
  ) GROUP BY 1, 2
),
bs AS (SELECT CAST(unnest([2, 3, 4, 6]) AS BIGINT) AS b),
per AS (
  SELECT b,
         CASE WHEN days < b THEN days ELSE 2 * b - 1 END AS policy,
         least(days, b) AS opt,
         CASE WHEN days >= b THEN 1 ELSE 0 END AS bought
  FROM bs, users
)
SELECT b, CAST(count(*) AS BIGINT) AS n_spans,
       CAST(sum(policy) AS BIGINT) AS policy_cost,
       CAST(sum(opt) AS BIGINT) AS opt_cost,
       CAST((sum(policy) * 1000000) // sum(opt) AS BIGINT) AS ratio_ppm,
       CAST(((2 * b - 1) * 1000000) // b AS BIGINT) AS bound_ppm,
       CAST(sum(bought) AS BIGINT) AS n_bought
FROM per GROUP BY b ORDER BY b
"""


# q423: FCFS-vs-SJF offline scheduling counterfactual

def q423_sjf_counterfactual(spark, sf_dir):
    """Offline batch-scheduling counterfactual per event_type queue:
    with every job available at t=0 and deterministic service
    s = 1 + event_id % 7, total waiting time under FCFS (arrival
    order) vs SJF (shortest-job-first) — each an exclusive running
    sum under its own total order, two windows, zero simulation
    state.  SJF's optimality for mean wait (the exchange argument)
    must hold on EVERY replay and is asserted; the saving ppm is
    what a queue re-ordering buys.  q394 prices the ONLINE queue
    with real arrival dynamics; this isolates the pure ordering
    effect.

    Scale shape: two per-queue rank windows + one agg; queues
    partition the work."""
    ev = _t(spark, sf_dir, "events")
    jobs = ev.select(
        F.col("event_type").alias("queue"),
        F.unix_timestamp("ts").cast("bigint").alias("a"),
        "event_id",
        (1 + F.col("event_id") % 7).cast("bigint").alias("s"),
    )
    wf = Window.partitionBy("queue").orderBy("a", "event_id")
    wj = Window.partitionBy("queue").orderBy("s", "a", "event_id")
    staged = jobs.select(
        "queue",
        "s",
        (F.sum("s").over(
            wf.rowsBetween(Window.unboundedPreceding, 0)
        ) - F.col("s")).alias("fcfs_wait"),
        (F.sum("s").over(
            wj.rowsBetween(Window.unboundedPreceding, 0)
        ) - F.col("s")).alias("sjf_wait"),
    )
    return (
        staged.groupBy("queue")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_jobs"),
            F.sum("s").cast("bigint").alias("total_service"),
            F.sum("fcfs_wait").cast("bigint").alias("fcfs_total_wait"),
            F.sum("sjf_wait").cast("bigint").alias("sjf_total_wait"),
        )
        .select(
            "queue",
            "n_jobs",
            "total_service",
            "fcfs_total_wait",
            "sjf_total_wait",
            F.expr(
                "((fcfs_total_wait - sjf_total_wait) * 1000000)"
                " div greatest(CAST(1 AS BIGINT), fcfs_total_wait)"
            ).cast("bigint").alias("saving_ppm"),
        )
        .orderBy("queue")
    )


ORACLE_Q423 = """
WITH jobs AS (
  SELECT event_type AS queue, CAST(floor(epoch(ts)) AS BIGINT) AS a,
         event_id, CAST(1 + event_id % 7 AS BIGINT) AS s
  FROM events
),
staged AS (
  SELECT queue, s,
         sum(s) OVER (PARTITION BY queue ORDER BY a, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - s AS fcfs_wait,
         sum(s) OVER (PARTITION BY queue ORDER BY s, a, event_id
                      ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
           - s AS sjf_wait
  FROM jobs
)
SELECT queue, CAST(count(*) AS BIGINT) AS n_jobs,
       CAST(sum(s) AS BIGINT) AS total_service,
       CAST(sum(fcfs_wait) AS BIGINT) AS fcfs_total_wait,
       CAST(sum(sjf_wait) AS BIGINT) AS sjf_total_wait,
       CAST(((sum(fcfs_wait) - sum(sjf_wait)) * 1000000)
            // greatest(CAST(1 AS BIGINT), sum(fcfs_wait)) AS BIGINT)
         AS saving_ppm
FROM staged GROUP BY 1 ORDER BY 1
"""


# q424: Siegel repeated-median slope

def q424_siegel_repeated_median(spark, sf_dir):
    """Siegel REPEATED-median trend slope of the daily event series
    (dense spine): slope_i = median_j slope(i, j), slope =
    median_i slope_i — the 50%-breakdown robust regressor, next to
    Theil-Sen (q225's single-median construction, breakdown 29%)
    computed here too from the same pairwise relation so the two
    estimators are directly comparable.  All medians are rank-pinned
    lower medians over float64 pair slopes of exact integers
    (bounded rationals can't collide in double); outputs as
    mirrored micro floors.

    Scale shape: one day agg + dense spine, one O(n^2) pair
    relation over the |days|-row series (bounded — this is a
    SERIES regressor, not a corpus one), two rank windows."""
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
        .select(
            F.expr("(day div 86400)").cast("bigint").alias("t"), "x"
        )
        .localCheckpoint(eager=True)
    )
    n_ = daily.agg(F.count(F.lit(1)).cast("bigint").alias("n"))
    a = daily.select(F.col("t").alias("ti"), F.col("x").alias("xi"))
    b = daily.select(F.col("t").alias("tj"), F.col("x").alias("xj"))
    pairs = a.join(b, F.col("ti") != F.col("tj")).select(
        "ti",
        "tj",
        F.expr(
            "(CAST(xj AS DOUBLE) - CAST(xi AS DOUBLE))"
            " / (CAST(tj AS DOUBLE) - CAST(ti AS DOUBLE))"
        ).alias("sl"),
    ).localCheckpoint(eager=True)
    wper = Window.partitionBy("ti").orderBy("sl", "tj")
    per_i = (
        pairs.withColumn("rn", F.row_number().over(wper).cast("bigint"))
        .crossJoin(F.broadcast(n_))
        .where(F.col("rn") == F.expr("((n - 1) + 1) div 2"))
        .select("ti", F.col("sl").alias("mi"))
    )
    wglob = Window.orderBy("mi", "ti")
    siegel = (
        per_i.withColumn("rn", F.row_number().over(wglob).cast("bigint"))
        .crossJoin(F.broadcast(n_))
        .where(F.col("rn") == F.expr("(n + 1) div 2"))
        .select(
            F.expr("CAST(floor(1000000.0 * mi) AS BIGINT)")
            .alias("siegel_slope_micro")
        )
    )
    half = pairs.where(F.col("ti") < F.col("tj"))
    nh = half.agg(F.count(F.lit(1)).cast("bigint").alias("np"))
    wts = Window.orderBy("sl", "ti", "tj")
    theil = (
        half.withColumn("rn", F.row_number().over(wts).cast("bigint"))
        .crossJoin(F.broadcast(nh))
        .where(F.col("rn") == F.expr("(np + 1) div 2"))
        .select(
            F.expr("CAST(floor(1000000.0 * sl) AS BIGINT)")
            .alias("theil_sen_slope_micro")
        )
    )
    return (
        n_.select(F.col("n").alias("n_days"))
        .crossJoin(F.broadcast(siegel))
        .crossJoin(F.broadcast(theil))
    )


ORACLE_Q424 = """
WITH obs AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS day,
         CAST(count(*) AS BIGINT) AS x
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM obs),
daily AS (
  SELECT CAST(s.day // 86400 AS BIGINT) AS t, coalesce(obs.x, 0) AS x
  FROM (SELECT unnest(range(d0, d1 + 1, 86400)) AS day FROM b) s
  LEFT JOIN obs ON obs.day = s.day
),
n_ AS (SELECT CAST(count(*) AS BIGINT) AS n FROM daily),
pairs AS (
  SELECT a.t AS ti, c.t AS tj,
         (CAST(c.x AS DOUBLE) - CAST(a.x AS DOUBLE))
         / (CAST(c.t AS DOUBLE) - CAST(a.t AS DOUBLE)) AS sl
  FROM daily a JOIN daily c ON a.t <> c.t
),
per_i AS (
  SELECT ti, sl AS mi FROM (
    SELECT ti, tj, sl,
           CAST(row_number() OVER (PARTITION BY ti ORDER BY sl, tj)
                AS BIGINT) AS rn
    FROM pairs
  ), n_ WHERE rn = ((n - 1) + 1) // 2
),
siegel AS (
  SELECT CAST(floor(1000000.0 * mi) AS BIGINT) AS siegel_slope_micro
  FROM (
    SELECT mi, ti,
           CAST(row_number() OVER (ORDER BY mi, ti) AS BIGINT) AS rn
    FROM per_i
  ), n_ WHERE rn = (n + 1) // 2
),
half AS (SELECT * FROM pairs WHERE ti < tj),
nh AS (SELECT CAST(count(*) AS BIGINT) AS np FROM half),
theil AS (
  SELECT CAST(floor(1000000.0 * sl) AS BIGINT) AS theil_sen_slope_micro
  FROM (
    SELECT sl, CAST(row_number() OVER (ORDER BY sl, ti, tj) AS BIGINT)
             AS rn
    FROM half
  ), nh WHERE rn = (np + 1) // 2
)
SELECT n AS n_days, siegel_slope_micro, theil_sen_slope_micro
FROM n_, siegel, theil
"""


# q425: distinct-count sketch selection advisor

def q425_sketch_selection_advisor(spark, sf_dir):
    """Distinct-count strategy advisor with MEASURED errors: the
    daily-active-user-key cardinality computed exactly, by the
    engine's own portable HLL (m=256, raw estimate — the one that is
    oracle-bit-exact), and by KMV at k=64 and k=256 (estimate
    (k-1)*2^60/h_(k) from the k-th smallest portable hash,
    rank-pinned; exact count when the key space is smaller than k) —
    each with its signed error ppm (mirrored float floor) and state
    footprint in rows.  The pick-your-sketch table every metrics
    pipeline argues about, priced on THIS corpus; q49/q142 prove
    the sketches, this compares them.

    Scale shape: one distinct-key relation feeds everything; HLL is
    two bounded shuffles, each KMV one rank window; the advisor
    table is 4 rows."""
    from ..functions.sketches import hll_distinct

    ev = _t(spark, sf_dir, "events")
    kv = (
        ev.select(
            F.concat_ws(
                "/",
                F.col("user_id").cast("string"),
                F.expr("CAST(unix_timestamp(ts) div 86400 AS STRING)"),
            ).alias("v")
        )
        .distinct()
        .localCheckpoint(eager=True)
    )
    exact = kv.agg(F.count(F.lit(1)).cast("bigint").alias("exact"))
    hll = (
        hll_distinct(kv.withColumn("g", F.lit(1)), ["g"], "v")
        .select(
            F.expr("CAST(floor(estimate_raw) AS BIGINT)").alias("est")
        )
    )
    hashed = kv.select(
        md5_i64_expr(F.col("v"), salt="kmv#").alias("h")
    )
    wk = Window.orderBy("h")
    ranked = hashed.withColumn(
        "rn", F.row_number().over(wk).cast("bigint")
    ).localCheckpoint(eager=True)
    parts = []
    for k in (64, 256):
        kth = ranked.where(F.col("rn") == k).select(
            F.expr(
                f"CAST(floor((CAST({k} - 1 AS DOUBLE)"
                " * 1152921504606846976.0) / CAST(h AS DOUBLE))"
                " AS BIGINT)"
            ).alias("est")
        )
        est = kth.select("est")
        # if fewer than k keys exist, the rank-k pick is EMPTY (KMV
        # stores everything it saw — the exact count IS the answer);
        # the two branches are disjoint by construction, so the union
        # always carries exactly one row
        fallback = exact.where(F.col("exact") < k).select(
            F.col("exact").alias("est")
        )
        est_or = est.unionByName(fallback)
        parts.append(
            est_or.select(
                F.lit(f"kmv{k}").alias("sketch"),
                F.lit(k).cast("bigint").alias("state_rows"),
                F.col("est").cast("bigint").alias("estimate"),
            )
        )
    rows = (
        exact.select(
            F.lit("exact").alias("sketch"),
            F.col("exact").alias("state_rows"),
            F.col("exact").alias("estimate"),
        )
        .unionByName(
            hll.select(
                F.lit("hll256").alias("sketch"),
                F.lit(256).cast("bigint").alias("state_rows"),
                F.col("est").alias("estimate"),
            )
        )
        .unionByName(parts[0])
        .unionByName(parts[1])
    )
    return (
        rows.crossJoin(F.broadcast(exact))
        .select(
            "sketch",
            "state_rows",
            "estimate",
            F.col("exact").alias("exact_distinct"),
            F.expr(
                "CAST(floor(1000000.0 * (CAST(estimate AS DOUBLE)"
                " - CAST(exact AS DOUBLE)) / CAST(exact AS DOUBLE))"
                " AS BIGINT)"
            ).alias("err_ppm"),
        )
        .orderBy("sketch")
    )


def _oracle_q425() -> str:
    from ..functions.sketches import A_SCALED, K, M_REGISTERS, P

    hv = duck_md5_i64("v", salt="hll#")
    kh = duck_md5_i64("v", salt="kmv#")
    return f"""
WITH kv AS (
  SELECT DISTINCT CAST(user_id AS VARCHAR) || '/'
         || CAST(CAST(floor(epoch(ts)) AS BIGINT) // 86400 AS VARCHAR)
           AS v
  FROM events
),
exact AS (SELECT CAST(count(*) AS BIGINT) AS exact FROM kv),
br AS (
  SELECT {hv} & {M_REGISTERS - 1} AS b,
         CASE WHEN ({hv} >> {P}) = 0 THEN {K}
              ELSE {K} - length(bin({hv} >> {P})) END AS r
  FROM kv WHERE v IS NOT NULL
),
regs AS (SELECT b, max(r) AS m FROM br GROUP BY 1),
agg AS (
  SELECT CAST(sum(1::BIGINT << ({K} - m)) AS BIGINT) AS s_present,
         count(*) AS n_present
  FROM regs
),
hll AS (
  SELECT CAST(floor(CAST({A_SCALED!r} AS DOUBLE)
         / CAST(s_present + (256 - n_present) * (1::BIGINT << {K})
                AS DOUBLE)) AS BIGINT) AS est
  FROM agg
),
ranked AS (
  SELECT {kh} AS h,
         CAST(row_number() OVER (ORDER BY {kh}) AS BIGINT) AS rn
  FROM kv
),
kmv64 AS (
  SELECT CASE WHEN exact < 64 THEN exact
         ELSE (SELECT CAST(floor((63.0 * 1152921504606846976.0)
                     / CAST(h AS DOUBLE)) AS BIGINT)
               FROM ranked WHERE rn = 64) END AS est
  FROM exact
),
kmv256 AS (
  SELECT CASE WHEN exact < 256 THEN exact
         ELSE (SELECT CAST(floor((255.0 * 1152921504606846976.0)
                     / CAST(h AS DOUBLE)) AS BIGINT)
               FROM ranked WHERE rn = 256) END AS est
  FROM exact
),
rows_ AS (
  SELECT 'exact' AS sketch, exact AS state_rows, exact AS estimate
  FROM exact
  UNION ALL
  SELECT 'hll256', CAST(256 AS BIGINT), est FROM hll
  UNION ALL
  SELECT 'kmv64', CAST(64 AS BIGINT), est FROM kmv64
  UNION ALL
  SELECT 'kmv256', CAST(256 AS BIGINT), est FROM kmv256
)
SELECT sketch, state_rows, CAST(estimate AS BIGINT) AS estimate,
       exact AS exact_distinct,
       CAST(floor(1000000.0 * (CAST(estimate AS DOUBLE)
            - CAST(exact AS DOUBLE)) / CAST(exact AS DOUBLE))
            AS BIGINT) AS err_ppm
FROM rows_, exact
ORDER BY 1
"""


# q426: sampling error-bound tightness audit

def q426_sampling_bound_audit(spark, sf_dir):
    """Concentration-bound tightness audit: for deterministic hash
    samples at 1/5/10/25%, the ACTUAL error of the sample-mean
    estimate of mean doc length vs the 95% Chebyshev half-width
    sqrt(20 * s^2 / n) (sample variance from exact integer moments)
    and the 95% Hoeffding half-width R * sqrt(1.8444/n) (range from
    the corpus; ln(40)/2 = 1.8444 as a LITERAL — no engine computes
    a log) — bounds that must HOLD on every draw and usually hold by
    a mile, which is exactly what the audit shows.  The
    how-big-a-sample-do-I-need companion measured from the truth
    side; q400 sizes tests a priori, this validates the machinery a
    posteriori.

    Scale shape: one truth agg + one conditional moment agg per
    scan; the sweep is map-side hash arithmetic, 4 output rows."""
    docs = _t(spark, sf_dir, "documents")
    h = md5_i64_expr(F.col("doc_id").cast("string"), salt="esb#") % 100
    rates = [(1,), (5,), (10,), (25,)]
    rdf = spark.createDataFrame(rates, "r_pct bigint")
    truth = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("s"),
        (F.max("n_chars") - F.min("n_chars")).cast("bigint").alias("rng"),
    )
    tagged = docs.select("n_chars", h.alias("hh"))
    samples = (
        rdf.crossJoin(tagged)
        .where(F.col("hh") < F.col("r_pct"))
        .groupBy("r_pct")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("ns"),
            F.sum("n_chars").cast("bigint").alias("ss"),
            F.sum(F.col("n_chars") * F.col("n_chars"))
            .cast("bigint")
            .alias("qq"),
        )
    )
    return (
        samples.crossJoin(F.broadcast(truth))
        .select(
            "r_pct",
            "ns",
            F.expr(
                "CAST(floor(abs((CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))"
                " - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) * 1000.0)"
                " AS BIGINT)"
            ).alias("actual_err_milli"),
            F.expr(
                "CAST(floor(1000.0 * sqrt(20.0"
                " * ((CAST(qq AS DOUBLE) / CAST(ns AS DOUBLE))"
                " - ((CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))"
                " * (CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))))"
                " / CAST(ns AS DOUBLE))) AS BIGINT)"
            ).alias("cheb_hw_milli"),
            F.expr(
                "CAST(floor(1000.0 * CAST(rng AS DOUBLE)"
                " * sqrt(1.8444 / CAST(ns AS DOUBLE))) AS BIGINT)"
            ).alias("hoeff_hw_milli"),
        )
        .withColumn(
            "cheb_holds", F.col("actual_err_milli") <= F.col("cheb_hw_milli")
        )
        .withColumn(
            "hoeff_holds",
            F.col("actual_err_milli") <= F.col("hoeff_hw_milli"),
        )
        .orderBy("r_pct")
    )


def _oracle_q426() -> str:
    hh = duck_md5_i64("CAST(doc_id AS VARCHAR)", salt="esb#")
    return f"""
WITH truth AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(n_chars) AS BIGINT) AS s,
         CAST(max(n_chars) - min(n_chars) AS BIGINT) AS rng
  FROM documents
),
rates AS (SELECT CAST(unnest([1, 5, 10, 25]) AS BIGINT) AS r_pct),
samples AS (
  SELECT r_pct, CAST(count(*) AS BIGINT) AS ns,
         CAST(sum(n_chars) AS BIGINT) AS ss,
         CAST(sum(n_chars * n_chars) AS BIGINT) AS qq
  FROM rates, documents
  WHERE {hh} % 100 < r_pct
  GROUP BY 1
)
SELECT r_pct, ns,
       CAST(floor(abs((CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))
            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) * 1000.0)
            AS BIGINT) AS actual_err_milli,
       CAST(floor(1000.0 * sqrt(20.0
            * ((CAST(qq AS DOUBLE) / CAST(ns AS DOUBLE))
               - ((CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))
                  * (CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))))
            / CAST(ns AS DOUBLE))) AS BIGINT) AS cheb_hw_milli,
       CAST(floor(1000.0 * CAST(rng AS DOUBLE)
            * sqrt(1.8444 / CAST(ns AS DOUBLE))) AS BIGINT)
         AS hoeff_hw_milli,
       CAST(floor(abs((CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))
            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) * 1000.0)
            AS BIGINT)
       <= CAST(floor(1000.0 * sqrt(20.0
            * ((CAST(qq AS DOUBLE) / CAST(ns AS DOUBLE))
               - ((CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))
                  * (CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))))
            / CAST(ns AS DOUBLE))) AS BIGINT) AS cheb_holds,
       CAST(floor(abs((CAST(ss AS DOUBLE) / CAST(ns AS DOUBLE))
            - (CAST(s AS DOUBLE) / CAST(n AS DOUBLE))) * 1000.0)
            AS BIGINT)
       <= CAST(floor(1000.0 * CAST(rng AS DOUBLE)
            * sqrt(1.8444 / CAST(ns AS DOUBLE))) AS BIGINT)
         AS hoeff_holds
FROM samples, truth
ORDER BY 1
"""


# q427: rich-club connectivity profile

def q427_rich_club_profile(spark, sf_dir):
    """Rich-club connectivity profile of the near-dup graph (q62
    edges, verbatim): for degree thresholds k in {2, 4, 8}, the
    density among nodes of degree > k — raw phi(k) =
    2*E_k / (N_k*(N_k-1)) in ppm, exact integers until one mirrored
    ppm floor.  A rising phi(k) means the best-connected documents
    (template hubs) preferentially interlink — exactly the
    boilerplate-cluster signature that makes hub-first mask mining
    pay; q289 peels cores, q317 measures degree mixing, this
    measures elite cohesion.

    Scale shape: the q62 edge join once, one degree agg, then per-k
    semi-join edge counts on the degree-filtered node sets —
    threshold sweep joins the NODE relation, never re-derives
    edges."""
    docs = _t_wide(spark, sf_dir, "documents")
    edges = _q62_edges(docs).select("src", "dst").localCheckpoint(eager=True)
    deg = (
        edges.select(F.col("src").alias("doc_id"))
        .unionByName(edges.select(F.col("dst").alias("doc_id")))
        .groupBy("doc_id")
        .agg(F.count(F.lit(1)).cast("bigint").alias("deg"))
        .localCheckpoint(eager=True)
    )
    ks = spark.createDataFrame([(1,), (2,), (3,)], "k bigint")
    rich = ks.join(
        deg, F.col("deg") > F.col("k")
    ).select("k", "doc_id")
    n_rich = rich.groupBy("k").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rich")
    )
    e_rich = (
        edges.join(
            rich.select(F.col("k").alias("k1"), F.col("doc_id").alias("src")),
            "src",
        )
        .join(
            rich.select(
                F.col("k").alias("k2"), F.col("doc_id").alias("dst")
            ),
            "dst",
        )
        .where(F.col("k1") == F.col("k2"))
        .groupBy(F.col("k1").alias("k"))
        .agg(F.count(F.lit(1)).cast("bigint").alias("e_rich"))
    )
    return (
        ks.join(F.broadcast(n_rich), "k", "left")
        .na.fill({"n_rich": 0})
        .join(F.broadcast(e_rich), "k", "left")
        .na.fill({"e_rich": 0})
        .select(
            "k",
            "n_rich",
            "e_rich",
            F.when(
                F.col("n_rich") >= 2,
                F.expr(
                    "CAST(floor(1000000.0 * (2.0 * CAST(e_rich AS DOUBLE))"
                    " / (CAST(n_rich AS DOUBLE)"
                    " * (CAST(n_rich AS DOUBLE) - 1.0))) AS BIGINT)"
                ),
            ).alias("phi_ppm"),
        )
        .orderBy("k")
    )


def _oracle_q427() -> str:
    return f"""
WITH {_Q62_EDGES_SQL},
e AS (SELECT src, dst FROM edges),
deg AS (
  SELECT doc_id, CAST(count(*) AS BIGINT) AS deg FROM (
    SELECT src AS doc_id FROM e UNION ALL SELECT dst FROM e
  ) GROUP BY 1
),
ks AS (SELECT CAST(unnest([1, 2, 3]) AS BIGINT) AS k),
rich AS (SELECT k, doc_id FROM ks JOIN deg ON deg > k),
n_rich AS (
  SELECT k, CAST(count(*) AS BIGINT) AS n_rich FROM rich GROUP BY 1
),
e_rich AS (
  SELECT a.k, CAST(count(*) AS BIGINT) AS e_rich
  FROM e JOIN rich a ON e.src = a.doc_id
         JOIN rich b ON e.dst = b.doc_id AND a.k = b.k
  GROUP BY 1
)
SELECT ks.k, coalesce(n_rich, 0) AS n_rich,
       coalesce(e_rich, 0) AS e_rich,
       CASE WHEN coalesce(n_rich, 0) >= 2 THEN
         CAST(floor(1000000.0
              * (2.0 * CAST(coalesce(e_rich, 0) AS DOUBLE))
              / (CAST(n_rich AS DOUBLE)
                 * (CAST(n_rich AS DOUBLE) - 1.0))) AS BIGINT)
       END AS phi_ppm
FROM ks
LEFT JOIN n_rich ON ks.k = n_rich.k
LEFT JOIN e_rich ON ks.k = e_rich.k
ORDER BY 1
"""


# q428: Kish effective-sample-size audit

def q428_kish_ess_audit(spark, sf_dir):
    """Kish effective-sample-size audit of two corpus weightings:
    the length-weighted view (w = n_chars — what token-level
    training actually samples) and the inverse-language-frequency
    view (w = 1/n_lang scaled to integers — the balanced-training
    reweight), each reduced to ESS = (sum w)^2 / (sum w^2) — exact
    integer numerators, one mirrored ppm floor against n.  An ESS
    far below n says the weighting concentrated the corpus into few
    effective documents; the single number behind 'we have 10M docs
    but effectively train on 2M'.  Pairs with q419: HT reweights
    estimates, Kish prices the variance that reweighting costs.

    Scale shape: one agg for the length view; one lang census
    (|langs| rows, broadcast back) + one agg for the balanced
    view."""
    docs = _t(spark, sf_dir, "documents")
    length_view = docs.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("n_chars").cast("bigint").alias("sw"),
        F.sum(F.col("n_chars") * F.col("n_chars"))
        .cast("bigint")
        .alias("sw2"),
    ).select(
        F.lit("length_weighted").alias("weighting"),
        "n",
        F.expr(
            "CAST(floor((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))"
            " / CAST(sw2 AS DOUBLE)) AS BIGINT)"
        ).alias("ess"),
    )
    langs = docs.groupBy("lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("nl")
    )
    # integer weights: w_doc = LCM-free scale N / n_lang would be
    # fractional; use w = product of other langs' sizes? overflow.
    # ESS is scale-invariant, so use w = 10^9 div n_lang (floor) —
    # spec'd integer weights, engines identical.
    balanced = (
        docs.join(F.broadcast(langs), "lang")
        .select(F.expr("CAST(1000000000 AS BIGINT) div nl").alias("w"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum("w").cast("bigint").alias("sw"),
            F.sum(F.col("w") * F.col("w")).cast("bigint").alias("sw2"),
        )
        .select(
            F.lit("lang_balanced").alias("weighting"),
            "n",
            F.expr(
                "CAST(floor((CAST(sw AS DOUBLE) * CAST(sw AS DOUBLE))"
                " / CAST(sw2 AS DOUBLE)) AS BIGINT)"
            ).alias("ess"),
        )
    )
    return (
        length_view.unionByName(balanced)
        .select(
            "weighting",
            "n",
            "ess",
            F.expr("(ess * 1000000) div n").cast("bigint")
            .alias("ess_ppm_of_n"),
        )
        .orderBy("weighting")
    )


ORACLE_Q428 = """
WITH length_view AS (
  SELECT 'length_weighted' AS weighting,
         CAST(count(*) AS BIGINT) AS n,
         CAST(floor((CAST(sum(n_chars) AS DOUBLE)
              * CAST(sum(n_chars) AS DOUBLE))
              / CAST(sum(n_chars * n_chars) AS DOUBLE)) AS BIGINT)
           AS ess
  FROM documents
),
langs AS (
  SELECT lang, CAST(count(*) AS BIGINT) AS nl FROM documents GROUP BY 1
),
balanced AS (
  SELECT 'lang_balanced' AS weighting,
         CAST(count(*) AS BIGINT) AS n,
         CAST(floor((CAST(sum(w) AS DOUBLE) * CAST(sum(w) AS DOUBLE))
              / CAST(sum(w * w) AS DOUBLE)) AS BIGINT) AS ess
  FROM (
    SELECT CAST(1000000000 AS BIGINT) // nl AS w
    FROM documents JOIN langs USING (lang)
  )
),
u AS (SELECT * FROM length_view UNION ALL SELECT * FROM balanced)
SELECT weighting, n, ess,
       CAST((ess * 1000000) // n AS BIGINT) AS ess_ppm_of_n
FROM u ORDER BY 1
"""


# q429: CUPED variance-reduction audit

def q429_cuped_variance_reduction(spark, sf_dir):
    """CUPED variance-reduction audit on the per-user half-split:
    with pre-period activity as the covariate and post-period
    activity as the metric, theta = cov(pre, post)/var(pre) from
    EXACT integer moments (one agg), and the variance an adjusted
    metric Y - theta*X would have — the reduction is exactly
    rho^2 = cov^2/(var_pre * var_post), reported in ppm with every
    float expression parenthesis-mirrored.  The
    experiment-sensitivity multiplier behind modern A/B platforms:
    q400 prices a test WITHOUT covariates; this measures how much
    cheaper CUPED would make it on THIS population.

    Scale shape: one per-user two-half agg + one 6-moment agg;
    single-row algebra after that."""
    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr(
            "(min(unix_timestamp(ts)) + max(unix_timestamp(ts))) div 2"
        ).cast("bigint").alias("mid")
    )
    halves = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                F.when(F.unix_timestamp("ts") <= F.col("mid"), 1)
                .otherwise(0)
            ).cast("bigint").alias("x"),
            F.sum(
                F.when(F.unix_timestamp("ts") > F.col("mid"), 1)
                .otherwise(0)
            ).cast("bigint").alias("y"),
        )
    )
    mom = halves.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("x").cast("bigint").alias("sx"),
        F.sum("y").cast("bigint").alias("sy"),
        F.sum(F.col("x") * F.col("y")).cast("bigint").alias("sxy"),
        F.sum(F.col("x") * F.col("x")).cast("bigint").alias("sxx"),
        F.sum(F.col("y") * F.col("y")).cast("bigint").alias("syy"),
    )
    return mom.select(
        F.col("n").alias("n_users"),
        F.expr(
            "CAST(floor(1000.0 * CAST(n * sxy - sx * sy AS DOUBLE)"
            " / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)"
        ).alias("theta_milli"),
        F.expr(
            "CAST(floor(1000000.0 * (CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE))"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)"
        ).alias("rho2_ppm"),
        F.expr(
            "CAST(floor(1000.0 * CAST(n * syy - sy * sy AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)"
        ).alias("var_post_milli"),
        F.expr(
            "CAST(floor((1000.0 * CAST(n * syy - sy * sy AS DOUBLE)"
            " / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))"
            " * (1.0 - (CAST(n * sxy - sx * sy AS DOUBLE)"
            " * CAST(n * sxy - sx * sy AS DOUBLE))"
            " / (CAST(n * sxx - sx * sx AS DOUBLE)"
            " * CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)"
        ).alias("var_adj_milli"),
    )


ORACLE_Q429 = """
WITH mid AS (
  SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
          + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
  FROM events
),
halves AS (
  SELECT user_id,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) <= mid
                       THEN 1 ELSE 0 END) AS BIGINT) AS x,
         CAST(sum(CASE WHEN CAST(floor(epoch(ts)) AS BIGINT) > mid
                       THEN 1 ELSE 0 END) AS BIGINT) AS y
  FROM events, mid GROUP BY 1
),
mom AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(x) AS BIGINT) AS sx,
         CAST(sum(y) AS BIGINT) AS sy,
         CAST(sum(x * y) AS BIGINT) AS sxy,
         CAST(sum(x * x) AS BIGINT) AS sxx,
         CAST(sum(y * y) AS BIGINT) AS syy
  FROM halves
)
SELECT n AS n_users,
       CAST(floor(1000.0 * CAST(n * sxy - sx * sy AS DOUBLE)
            / CAST(n * sxx - sx * sx AS DOUBLE)) AS BIGINT)
         AS theta_milli,
       CAST(floor(1000000.0 * (CAST(n * sxy - sx * sy AS DOUBLE)
            * CAST(n * sxy - sx * sy AS DOUBLE))
            / (CAST(n * sxx - sx * sx AS DOUBLE)
               * CAST(n * syy - sy * sy AS DOUBLE))) AS BIGINT)
         AS rho2_ppm,
       CAST(floor(1000.0 * CAST(n * syy - sy * sy AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE))) AS BIGINT)
         AS var_post_milli,
       CAST(floor((1000.0 * CAST(n * syy - sy * sy AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(n AS DOUBLE)))
            * (1.0 - (CAST(n * sxy - sx * sy AS DOUBLE)
               * CAST(n * sxy - sx * sy AS DOUBLE))
               / (CAST(n * sxx - sx * sx AS DOUBLE)
                  * CAST(n * syy - sy * sy AS DOUBLE)))) AS BIGINT)
         AS var_adj_milli
FROM mom
"""


# q430: incremental (delta) join maintenance audit

def q430_delta_join_audit(spark, sf_dir):
    """Incremental join-view maintenance audit: split orders and
    lineitem at a cutoff (7 days before the last order date) into
    base and delta, and verify the differential-dataflow identity
    |O'
    join L'| = |Ob join Lb| + |dO join Lb| + |Ob join dL| +
    |dO join dL| EXACTLY — the four disjoint terms a view maintainer
    computes instead of a full re-join — plus the input-rows cost of
    incremental maintenance vs recompute and the share of join
    output the delta terms carry.  q74 maintains an AGGREGATE
    incrementally; this audits the JOIN layer underneath every such
    view at 100 TB (where re-joining history every refresh is the
    bill that kills you).

    Scale shape: one equi-join per term on the same shuffle key
    (orderkey) — Catalyst reuses the layout; counts only, no
    materialization."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    cutoff = orders.agg(
        (F.max(F.unix_timestamp("o_orderdate")) - 7 * 86400)
        .cast("bigint")
        .alias("cut")
    )
    o = orders.crossJoin(F.broadcast(cutoff)).select(
        "o_orderkey",
        (F.unix_timestamp("o_orderdate") <= F.col("cut")).alias("is_base"),
    )
    l = lineitem.crossJoin(F.broadcast(cutoff)).select(
        "l_orderkey",
        (F.unix_timestamp("l_shipdate") <= F.col("cut")).alias("is_base"),
    )
    joined = o.join(
        l.select(
            F.col("l_orderkey").alias("o_orderkey"),
            F.col("is_base").alias("l_base"),
        ),
        "o_orderkey",
    ).select(
        F.col("is_base").alias("o_base"), "l_base"
    )
    cells = joined.groupBy("o_base", "l_base").agg(
        F.count(F.lit(1)).cast("bigint").alias("c")
    )
    sizes = (
        o.agg(
            F.sum(F.when(F.col("is_base"), 1).otherwise(0))
            .cast("bigint")
            .alias("o_base_rows"),
            F.sum(F.when(~F.col("is_base"), 1).otherwise(0))
            .cast("bigint")
            .alias("o_delta_rows"),
        )
        .crossJoin(
            F.broadcast(
                l.agg(
                    F.sum(F.when(F.col("is_base"), 1).otherwise(0))
                    .cast("bigint")
                    .alias("l_base_rows"),
                    F.sum(F.when(~F.col("is_base"), 1).otherwise(0))
                    .cast("bigint")
                    .alias("l_delta_rows"),
                )
            )
        )
    )
    agg = cells.agg(
        F.sum("c").cast("bigint").alias("full_join_rows"),
        F.sum(F.when(F.col("o_base") & F.col("l_base"), F.col("c")))
        .cast("bigint")
        .alias("base_join_rows"),
        F.coalesce(
            F.sum(
                F.when(~F.col("o_base") & F.col("l_base"), F.col("c"))
            ),
            F.lit(0),
        ).cast("bigint").alias("do_lb_rows"),
        F.coalesce(
            F.sum(
                F.when(F.col("o_base") & ~F.col("l_base"), F.col("c"))
            ),
            F.lit(0),
        ).cast("bigint").alias("ob_dl_rows"),
        F.coalesce(
            F.sum(
                F.when(~F.col("o_base") & ~F.col("l_base"), F.col("c"))
            ),
            F.lit(0),
        ).cast("bigint").alias("do_dl_rows"),
    )
    return agg.crossJoin(F.broadcast(sizes)).select(
        "full_join_rows",
        "base_join_rows",
        "do_lb_rows",
        "ob_dl_rows",
        "do_dl_rows",
        (
            F.col("full_join_rows")
            == F.col("base_join_rows")
            + F.col("do_lb_rows")
            + F.col("ob_dl_rows")
            + F.col("do_dl_rows")
        ).alias("identity_holds"),
        F.expr(
            "((do_lb_rows + ob_dl_rows + do_dl_rows) * 1000000)"
            " div greatest(CAST(1 AS BIGINT), full_join_rows)"
        ).cast("bigint").alias("delta_output_ppm"),
        (F.col("o_delta_rows") + F.col("l_delta_rows")).cast("bigint")
        .alias("incr_input_rows"),
        (
            F.col("o_base_rows")
            + F.col("o_delta_rows")
            + F.col("l_base_rows")
            + F.col("l_delta_rows")
        ).cast("bigint").alias("full_input_rows"),
    )


ORACLE_Q430 = """
WITH cutoff AS (
  SELECT CAST(max(floor(epoch(o_orderdate))) AS BIGINT) - 7 * 86400
           AS cut
  FROM orders
),
o AS (
  SELECT o_orderkey,
         CAST(floor(epoch(o_orderdate)) AS BIGINT) <= cut AS is_base
  FROM orders, cutoff
),
l AS (
  SELECT l_orderkey,
         CAST(floor(epoch(l_shipdate)) AS BIGINT) <= cut AS is_base
  FROM lineitem, cutoff
),
cells AS (
  SELECT o.is_base AS o_base, l.is_base AS l_base,
         CAST(count(*) AS BIGINT) AS c
  FROM o JOIN l ON o.o_orderkey = l.l_orderkey
  GROUP BY 1, 2
),
sizes AS (
  SELECT (SELECT CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END)
                 AS BIGINT) FROM o) AS o_base_rows,
         (SELECT CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END)
                 AS BIGINT) FROM o) AS o_delta_rows,
         (SELECT CAST(sum(CASE WHEN is_base THEN 1 ELSE 0 END)
                 AS BIGINT) FROM l) AS l_base_rows,
         (SELECT CAST(sum(CASE WHEN is_base THEN 0 ELSE 1 END)
                 AS BIGINT) FROM l) AS l_delta_rows
),
agg AS (
  SELECT CAST(sum(c) AS BIGINT) AS full_join_rows,
         CAST(sum(CASE WHEN o_base AND l_base THEN c END) AS BIGINT)
           AS base_join_rows,
         CAST(coalesce(sum(CASE WHEN NOT o_base AND l_base THEN c END),
              0) AS BIGINT) AS do_lb_rows,
         CAST(coalesce(sum(CASE WHEN o_base AND NOT l_base THEN c END),
              0) AS BIGINT) AS ob_dl_rows,
         CAST(coalesce(sum(CASE WHEN NOT o_base AND NOT l_base
                           THEN c END), 0) AS BIGINT) AS do_dl_rows
  FROM cells
)
SELECT full_join_rows, base_join_rows, do_lb_rows, ob_dl_rows,
       do_dl_rows,
       full_join_rows = base_join_rows + do_lb_rows + ob_dl_rows
         + do_dl_rows AS identity_holds,
       CAST(((do_lb_rows + ob_dl_rows + do_dl_rows) * 1000000)
            // greatest(CAST(1 AS BIGINT), full_join_rows) AS BIGINT)
         AS delta_output_ppm,
       CAST(o_delta_rows + l_delta_rows AS BIGINT) AS incr_input_rows,
       CAST(o_base_rows + o_delta_rows + l_base_rows + l_delta_rows
            AS BIGINT) AS full_input_rows
FROM agg, sizes
"""


# q431: embedding layout locality audit

def q431_embedding_layout_audit(spark, sf_dir):
    """Embedding storage-layout locality audit: total adjacent-pair
    quantized squared distance along two physical orderings — (a)
    sorted by the first JL sign-projection coordinate (q404's y0, a
    1-D locality key) vs (b) raw vec_id order — exact integers end
    to end.  Lower adjacent distance = better page locality for
    sequential ANN scans and better delta-compression of vectors;
    the measured justification for re-clustering an embedding table
    before writing, the vector-column sibling of q77's Z-order
    audit.

    Scale shape: one projection scan, two rank windows + lag
    windows over the vector relation, one 2-row census."""
    from ..functions.portable_hash import md5_i64_py

    dim = 64
    signs0 = [
        1 if md5_i64_py(f"jl0#{i}") % 2 == 0 else -1 for i in range(dim)
    ]
    emb = _t(spark, sf_dir, "embeddings")
    q = emb.select(
        "vec_id",
        F.expr(
            "transform(embedding, x -> CAST(round(x * 128) AS BIGINT))"
        ).alias("q"),
    ).withColumn(
        "y0",
        F.expr(
            "aggregate(zip_with(q, array({}), (x, s) -> x * s),"
            " CAST(0 AS BIGINT), (acc, v) -> acc + v)".format(
                ",".join(f"CAST({s} AS BIGINT)" for s in signs0)
            )
        ),
    ).localCheckpoint(eager=True)

    def adjacent_cost(df, order_cols, name):
        w = Window.orderBy(*order_cols)
        lagged = df.withColumn("pq", F.lag("q").over(w))
        return (
            lagged.where(F.col("pq").isNotNull())
            .select(
                F.expr(
                    "aggregate(zip_with(q, pq, (x, z) -> (x - z)"
                    " * (x - z)), CAST(0 AS BIGINT),"
                    " (acc, v) -> acc + v)"
                ).alias("d")
            )
            .agg(
                F.count(F.lit(1)).cast("bigint").alias("n_pairs"),
                F.sum("d").cast("bigint").alias("total_adj_distsq"),
            )
            .select(
                F.lit(name).alias("ordering"),
                "n_pairs",
                "total_adj_distsq",
            )
        )

    by_proj = adjacent_cost(q, ["y0", "vec_id"], "jl_projected")
    by_id = adjacent_cost(q, ["vec_id"], "vec_id_order")
    return (
        by_proj.unionByName(by_id)
        .select(
            "ordering",
            "n_pairs",
            "total_adj_distsq",
            F.expr("total_adj_distsq div n_pairs").cast("bigint")
            .alias("mean_adj_distsq"),
        )
        .orderBy("ordering")
    )


def _oracle_q431() -> str:
    from ..functions.portable_hash import md5_i64_py

    dim = 64
    signs0 = ", ".join(
        f"CAST({1 if md5_i64_py(f'jl0#{i}') % 2 == 0 else -1} AS DOUBLE)"
        for i in range(dim)
    )
    return f"""
WITH q AS (
  SELECT vec_id,
         list_transform(embedding, x -> CAST(round(x * 128) AS DOUBLE))
           AS q,
         CAST(list_dot_product(
           list_transform(embedding,
                          x -> CAST(round(x * 128) AS DOUBLE)),
           [{signs0}]) AS BIGINT) AS y0
  FROM embeddings
),
proj AS (
  SELECT q,
         lag(q) OVER (ORDER BY y0, vec_id) AS pq
  FROM q
),
byid AS (
  SELECT q, lag(q) OVER (ORDER BY vec_id) AS pq FROM q
),
cost_proj AS (
  SELECT 'jl_projected' AS ordering,
         CAST(count(*) AS BIGINT) AS n_pairs,
         CAST(sum(CAST(list_dot_product(q, q)
              - 2 * list_dot_product(q, pq)
              + list_dot_product(pq, pq) AS BIGINT)) AS BIGINT)
           AS total_adj_distsq
  FROM proj WHERE pq IS NOT NULL
),
cost_id AS (
  SELECT 'vec_id_order', CAST(count(*) AS BIGINT),
         CAST(sum(CAST(list_dot_product(q, q)
              - 2 * list_dot_product(q, pq)
              + list_dot_product(pq, pq) AS BIGINT)) AS BIGINT)
  FROM byid WHERE pq IS NOT NULL
),
u AS (SELECT * FROM cost_proj UNION ALL SELECT * FROM cost_id)
SELECT ordering, n_pairs, total_adj_distsq,
       CAST(total_adj_distsq // n_pairs AS BIGINT) AS mean_adj_distsq
FROM u ORDER BY 1
"""


# q432: largest-triangle downsampling (LTOB)

def q432_lttb_downsample(spark, sf_dir):
    """Largest-Triangle-One-Bucket visual downsampling of the hourly
    event series into 20 buckets: per bucket, keep the point whose
    triangle with its IMMEDIATE neighbors has the largest doubled
    area |(x1-x0)(y2-y0) - (x2-x0)(y1-y0)| — exact integer cross
    products, rank-pinned ties (area desc, earliest hour) — the
    one-bucket variant is SPEC'd deliberately: classic LTTB chains
    on the previously SELECTED point and is inherently sequential,
    LTOB keeps the visual-salience idea fully parallel.  The
    dashboard-pipeline operator the OLAP stack hands to charting:
    q238 downsamples to OHLC (finance semantics), this downsamples
    to SHAPE.

    Scale shape: one hour agg + dense spine + two lag/lead columns,
    one rank window per bucket over the |hours|-row series."""
    ev = _t(spark, sf_dir, "events")
    obs = ev.groupBy(
        F.expr(
            "CAST(unix_timestamp(ts) - unix_timestamp(ts) % 3600"
            " AS BIGINT)"
        ).alias("h")
    ).agg(F.count(F.lit(1)).cast("bigint").alias("y"))
    bounds = obs.agg(F.min("h").alias("h0"), F.max("h").alias("h1"))
    spine = bounds.select(
        F.explode(F.sequence("h0", "h1", F.lit(3600))).alias("h")
    )
    hourly = (
        spine.join(obs, "h", "left")
        .na.fill({"y": 0})
        .select(F.expr("h div 3600").cast("bigint").alias("x"), "y", "h")
        .localCheckpoint(eager=True)
    )
    n_ = hourly.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.min("x").cast("bigint").alias("x0"),
    )
    w = Window.orderBy("x")
    tri = (
        hourly.withColumn("px", F.lag("x").over(w))
        .withColumn("py", F.lag("y").over(w))
        .withColumn("nx", F.lead("x").over(w))
        .withColumn("ny", F.lead("y").over(w))
        .where(F.col("px").isNotNull() & F.col("nx").isNotNull())
        .crossJoin(F.broadcast(n_))
        .select(
            "h",
            "x",
            "y",
            F.expr("least(CAST(19 AS BIGINT), ((x - x0) * 20) div n)")
            .alias("bucket"),
            F.abs(
                (F.col("x") - F.col("px")) * (F.col("ny") - F.col("py"))
                - (F.col("nx") - F.col("px"))
                * (F.col("y") - F.col("py"))
            ).cast("bigint").alias("area_x2"),
        )
    )
    wb = Window.partitionBy("bucket").orderBy(F.desc("area_x2"), "x")
    return (
        tri.withColumn("rk", F.row_number().over(wb))
        .where(F.col("rk") == 1)
        .select(
            "bucket",
            F.col("h").alias("hour_epoch"),
            F.col("y").alias("value"),
            "area_x2",
        )
        .orderBy("bucket")
    )


ORACLE_Q432 = """
WITH obs AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS h,
         CAST(count(*) AS BIGINT) AS y
  FROM events GROUP BY 1
),
b AS (SELECT min(h) AS h0, max(h) AS h1 FROM obs),
hourly AS (
  SELECT CAST(s.h // 3600 AS BIGINT) AS x, coalesce(obs.y, 0) AS y,
         s.h
  FROM (SELECT unnest(range(h0, h1 + 1, 3600)) AS h FROM b) s
  LEFT JOIN obs ON obs.h = s.h
),
n_ AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(min(x) AS BIGINT) AS x0
  FROM hourly
),
tri AS (
  SELECT h, x, y,
         least(CAST(19 AS BIGINT), ((x - x0) * 20) // n) AS bucket,
         CAST(abs((x - px) * (ny - py) - (nx - px) * (y - py))
              AS BIGINT) AS area_x2
  FROM (
    SELECT h, x, y,
           lag(x) OVER (ORDER BY x) AS px,
           lag(y) OVER (ORDER BY x) AS py,
           lead(x) OVER (ORDER BY x) AS nx,
           lead(y) OVER (ORDER BY x) AS ny
    FROM hourly
  ), n_
  WHERE px IS NOT NULL AND nx IS NOT NULL
)
SELECT bucket, h AS hour_epoch, y AS value, area_x2 FROM (
  SELECT *, row_number() OVER (PARTITION BY bucket
                               ORDER BY area_x2 DESC, x) AS rk
  FROM tri
) WHERE rk = 1
ORDER BY bucket
"""


# q433: pagination strategy cost advisor

def q433_pagination_cost_advisor(spark, sf_dir):
    """OFFSET-vs-keyset pagination cost advisor: treating each
    user's event history as a paginated result (page size 10,
    ordered by event time — the feed/history endpoint shape; the
    documents table's 25-doc sources never leave page one, said
    so), the exact rows an engine SCANS to serve every page —
    OFFSET re-reads the prefix, so a full paginate-through costs
    the closed form 10*P(P+1)/2 for full pages plus n for the
    partial last page, computed exactly per user from n alone — vs
    keyset (WHERE ts > last) which scans exactly n.  The
    quadratic-vs-linear cliff that kills deep pagination at 100 TB;
    summarized as a per-page-count census so the output is
    user-scale-free.

    Scale shape: one per-user count agg; closed-form arithmetic +
    one census agg on the page-count relation."""
    ev = _t(spark, sf_dir, "events")
    per = ev.groupBy("user_id").agg(
        F.count(F.lit(1)).cast("bigint").alias("n")
    )
    costed = per.select(
        "n",
        F.expr("(n + 9) div 10").cast("bigint").alias("n_pages"),
        F.expr(
            "10 * (((n div 10) * ((n div 10) + 1)) div 2)"
            " + CASE WHEN n % 10 = 0 THEN 0 ELSE n END"
        ).cast("bigint").alias("offset_rows"),
    )
    return (
        costed.groupBy("n_pages")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum("n").cast("bigint").alias("keyset_scan_rows"),
            F.sum("offset_rows").cast("bigint").alias("offset_scan_rows"),
        )
        .select(
            "n_pages",
            "n_users",
            "keyset_scan_rows",
            "offset_scan_rows",
            F.expr("(offset_scan_rows * 1000) div keyset_scan_rows")
            .cast("bigint")
            .alias("amplification_milli"),
        )
        .orderBy("n_pages")
    )


ORACLE_Q433 = """
WITH per AS (
  SELECT user_id, CAST(count(*) AS BIGINT) AS n FROM events GROUP BY 1
),
costed AS (
  SELECT n, CAST((n + 9) // 10 AS BIGINT) AS n_pages,
         CAST(10 * (((n // 10) * ((n // 10) + 1)) // 2)
              + CASE WHEN n % 10 = 0 THEN 0 ELSE n END AS BIGINT)
           AS offset_rows
  FROM per
)
SELECT n_pages, CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(n) AS BIGINT) AS keyset_scan_rows,
       CAST(sum(offset_rows) AS BIGINT) AS offset_scan_rows,
       CAST((sum(offset_rows) * 1000) // sum(n) AS BIGINT)
         AS amplification_milli
FROM costed GROUP BY 1 ORDER BY 1
"""


# q434: exact 1-D earth-mover drift

def q434_emd_drift(spark, sf_dir):
    """Exact 1-D earth-mover (Wasserstein-1) drift between the
    first- and second-half event-VALUE distributions: cent values
    into 100 equal bins over the global range, EMD = sum over bins
    of |CDF1 - CDF2| carried as the exact integer
    sum |c1_k*N2 - c2_k*N1| over cumulative counts, one final ppm
    division (units: fraction of total mass per bin step).  The
    drift metric that charges for DISTANCE moved — q293's total
    variation counts relabeled mass as 1 regardless of how far it
    moved; EMD is what distinguishes 'prices shifted 2%' from
    'prices bimodalized'.

    Scale shape: one conditional bin agg (map-side combinable) +
    one 100-row cumulative window; nothing else touches the
    corpus."""
    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        F.expr(
            "(min(unix_timestamp(ts)) + max(unix_timestamp(ts))) div 2"
        ).cast("bigint").alias("mid")
    )
    cents = ev.crossJoin(F.broadcast(mid)).select(
        F.expr("CAST(round(value * 100) AS BIGINT)").alias("c"),
        (F.unix_timestamp("ts") <= F.col("mid")).alias("h1"),
    )
    rng = cents.agg(
        F.min("c").alias("lo"), F.max("c").alias("hi")
    )
    binned = (
        cents.crossJoin(F.broadcast(rng))
        .select(
            F.expr("((c - lo) * 100) div (hi - lo + 1)").alias("b"),
            "h1",
        )
        .groupBy("b")
        .agg(
            F.sum(F.when(F.col("h1"), 1).otherwise(0))
            .cast("bigint")
            .alias("c1"),
            F.sum(F.when(~F.col("h1"), 1).otherwise(0))
            .cast("bigint")
            .alias("c2"),
        )
    )
    spine = spark.range(100).select(F.col("id").cast("bigint").alias("b"))
    filled = spine.join(F.broadcast(binned), "b", "left").na.fill(
        {"c1": 0, "c2": 0}
    )
    wc = Window.orderBy("b").rowsBetween(Window.unboundedPreceding, 0)
    cum = filled.select(
        "b",
        F.sum("c1").over(wc).cast("bigint").alias("k1"),
        F.sum("c2").over(wc).cast("bigint").alias("k2"),
    )
    tot = filled.agg(
        F.sum("c1").cast("bigint").alias("n1"),
        F.sum("c2").cast("bigint").alias("n2"),
    )
    return (
        cum.crossJoin(F.broadcast(tot))
        .agg(
            F.max("n1").cast("bigint").alias("n1"),
            F.max("n2").cast("bigint").alias("n2"),
            F.sum(
                F.abs(F.col("k1") * F.col("n2") - F.col("k2") * F.col("n1"))
            ).cast("bigint").alias("emd_num"),
        )
        .select(
            "n1",
            "n2",
            "emd_num",
            F.expr("(emd_num * 1000000) div (n1 * n2)").cast("bigint")
            .alias("emd_ppm_binsteps"),
        )
    )


ORACLE_Q434 = """
WITH mid AS (
  SELECT (min(CAST(floor(epoch(ts)) AS BIGINT))
          + max(CAST(floor(epoch(ts)) AS BIGINT))) // 2 AS mid
  FROM events
),
cents AS (
  SELECT CAST(round(value * 100) AS BIGINT) AS c,
         CAST(floor(epoch(ts)) AS BIGINT) <= mid AS h1
  FROM events, mid
),
rng AS (SELECT min(c) AS lo, max(c) AS hi FROM cents),
binned AS (
  SELECT ((c - lo) * 100) // (hi - lo + 1) AS b,
         CAST(sum(CASE WHEN h1 THEN 1 ELSE 0 END) AS BIGINT) AS c1,
         CAST(sum(CASE WHEN h1 THEN 0 ELSE 1 END) AS BIGINT) AS c2
  FROM cents, rng GROUP BY 1
),
spine AS (SELECT CAST(unnest(range(100)) AS BIGINT) AS b),
filled AS (
  SELECT s.b, coalesce(c1, 0) AS c1, coalesce(c2, 0) AS c2
  FROM spine s LEFT JOIN binned ON s.b = binned.b
),
cum AS (
  SELECT b,
         CAST(sum(c1) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS k1,
         CAST(sum(c2) OVER (ORDER BY b ROWS BETWEEN UNBOUNDED PRECEDING
                            AND CURRENT ROW) AS BIGINT) AS k2
  FROM filled
),
tot AS (
  SELECT CAST(sum(c1) AS BIGINT) AS n1, CAST(sum(c2) AS BIGINT) AS n2
  FROM filled
)
SELECT n1, n2,
       CAST(sum(abs(k1 * n2 - k2 * n1)) AS BIGINT) AS emd_num,
       CAST((sum(abs(k1 * n2 - k2 * n1)) * 1000000) // (n1 * n2)
            AS BIGINT) AS emd_ppm_binsteps
FROM cum, tot
GROUP BY n1, n2
"""


# q435: cross-source syndication matrix

def q435_syndication_matrix(spark, sf_dir):
    """Cross-source content-syndication matrix: the q62 near-dup
    edge relation rolled up to ORDERED source pairs — how many
    near-duplicate document pairs link each (source_a <= source_b)
    — the who-republishes-whom map that decides which sources are
    redundant feeds vs independent coverage.  Within-source pairs
    (the diagonal) are reported in the same relation so
    cross-source leakage can be read against each source's internal
    duplication base rate.  q62 clusters documents, q301 overlaps
    source VOCABULARIES; this maps DOCUMENT-level syndication flows.

    Scale shape: the q62 edge join once, two label joins, one
    (source_a, source_b) agg on the edge-scale relation."""
    docs = _t_wide(spark, sf_dir, "documents")
    edges = _q62_edges(docs).select("src", "dst").localCheckpoint(eager=True)
    lab = docs.select("doc_id", "source")
    paired = (
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
        .select(
            F.least("sa", "sb").alias("source_a"),
            F.greatest("sa", "sb").alias("source_b"),
        )
    )
    return (
        paired.groupBy("source_a", "source_b")
        .agg(F.count(F.lit(1)).cast("bigint").alias("n_dup_pairs"))
        .withColumn(
            "is_cross", F.col("source_a") != F.col("source_b")
        )
        .orderBy("source_a", "source_b")
    )


def _oracle_q435() -> str:
    return f"""
WITH {_Q62_EDGES_SQL},
paired AS (
  SELECT least(da.source, db.source) AS source_a,
         greatest(da.source, db.source) AS source_b
  FROM edges e
  JOIN documents da ON e.src = da.doc_id
  JOIN documents db ON e.dst = db.doc_id
)
SELECT source_a, source_b, CAST(count(*) AS BIGINT) AS n_dup_pairs,
       source_a <> source_b AS is_cross
FROM paired GROUP BY 1, 2 ORDER BY 1, 2
"""


# q436: exact decision stump

def q436_decision_stump(spark, sf_dir):
    """Exact decision stump (one-split tree) on the activity ->
    above-median-purchases problem (q399's label): sweep EVERY
    distinct activity-score threshold via prefix counts over the
    rank-ordered user relation, score each split by weighted Gini
    impurity compared EXACTLY as cross-multiplied integers scaled
    to the common denominator (left impurity numerator * right size
    + right numerator * left size, all over n*nl*nr — so the argmin
    is integer-exact, no float Gini anywhere until the report), tie
    -> lowest threshold.  q257 ranks FEATURES by impurity drop at
    fixed splits; this finds the exact OPTIMAL threshold the way
    CART actually does.

    Scale shape: one per-user agg + one rank window + prefix sums;
    the sweep is the user-scale relation, each split O(1) off the
    prefixes."""
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
    labeled = users.crossJoin(F.broadcast(med)).select(
        "user_id",
        "score",
        (F.col("pc") > F.col("med")).cast("bigint").alias("y"),
    )
    wr = Window.orderBy("score", "user_id")
    wcum = wr.rowsBetween(Window.unboundedPreceding, 0)
    ranked = labeled.select(
        "score",
        F.row_number().over(wr).cast("bigint").alias("rk"),
        F.sum("y").over(wcum).cast("bigint").alias("pos_left"),
        F.lead("score").over(wr).alias("next_score"),
    )
    tot = labeled.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum("y").cast("bigint").alias("pos"),
    )
    # candidate splits: between distinct scores only (next differs)
    splits = (
        ranked.crossJoin(F.broadcast(tot))
        .where(
            F.col("next_score").isNotNull()
            & (F.col("next_score") != F.col("score"))
        )
        .select(
            "score",
            "rk",
            "pos_left",
            "n",
            "pos",
            # weighted Gini numerator on the common denominator
            # n*nl*nr: cost = nr*(nl^2 - pl^2 - (nl-pl)^2)
            #               + nl*(nr^2 - pr^2 - (nr-pr)^2)
            F.expr(
                "(n - rk) * (rk * rk - pos_left * pos_left"
                " - (rk - pos_left) * (rk - pos_left))"
                " + rk * ((n - rk) * (n - rk)"
                " - (pos - pos_left) * (pos - pos_left)"
                " - ((n - rk) - (pos - pos_left))"
                " * ((n - rk) - (pos - pos_left)))"
            ).alias("cost_num"),
        )
    )
    wbest = Window.orderBy("cost_num", "score")
    return (
        splits.withColumn("brk", F.row_number().over(wbest))
        .where(F.col("brk") == 1)
        .select(
            F.col("score").alias("threshold"),
            F.col("rk").alias("n_left"),
            (F.col("n") - F.col("rk")).cast("bigint").alias("n_right"),
            "pos_left",
            (F.col("pos") - F.col("pos_left")).cast("bigint")
            .alias("pos_right"),
            F.expr(
                "CAST(floor(1000000.0 * CAST(cost_num AS DOUBLE)"
                " / (CAST(n AS DOUBLE) * CAST(rk AS DOUBLE)"
                " * CAST(n - rk AS DOUBLE))) AS BIGINT)"
            ).alias("gini_ppm"),
            F.expr(
                "CAST(floor(1000000.0 * (1.0"
                " - (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))"
                " * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))"
                " - (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))"
                " * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))))"
                " AS BIGINT)"
            ).alias("root_gini_ppm"),
        )
    )


ORACLE_Q436 = """
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
med AS (SELECT pc AS med FROM med_ranked, nm WHERE mrk = (n + 1) // 2),
labeled AS (
  SELECT user_id, score, CAST(pc > med AS BIGINT) AS y
  FROM users, med
),
ranked AS (
  SELECT score,
         CAST(row_number() OVER (ORDER BY score, user_id) AS BIGINT)
           AS rk,
         CAST(sum(y) OVER (ORDER BY score, user_id
                           ROWS BETWEEN UNBOUNDED PRECEDING AND
                           CURRENT ROW) AS BIGINT) AS pos_left,
         lead(score) OVER (ORDER BY score, user_id) AS next_score
  FROM labeled
),
tot AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(y) AS BIGINT) AS pos
  FROM labeled
),
splits AS (
  SELECT score, rk, pos_left, n, pos,
         (n - rk) * (rk * rk - pos_left * pos_left
           - (rk - pos_left) * (rk - pos_left))
         + rk * ((n - rk) * (n - rk)
           - (pos - pos_left) * (pos - pos_left)
           - ((n - rk) - (pos - pos_left))
             * ((n - rk) - (pos - pos_left))) AS cost_num
  FROM ranked, tot
  WHERE next_score IS NOT NULL AND next_score <> score
)
SELECT score AS threshold, rk AS n_left,
       CAST(n - rk AS BIGINT) AS n_right, pos_left,
       CAST(pos - pos_left AS BIGINT) AS pos_right,
       CAST(floor(1000000.0 * CAST(cost_num AS DOUBLE)
            / (CAST(n AS DOUBLE) * CAST(rk AS DOUBLE)
               * CAST(n - rk AS DOUBLE))) AS BIGINT) AS gini_ppm,
       CAST(floor(1000000.0 * (1.0
            - (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
              * (CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
            - (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))
              * (1.0 - CAST(pos AS DOUBLE) / CAST(n AS DOUBLE))))
            AS BIGINT) AS root_gini_ppm
FROM (
  SELECT *, row_number() OVER (ORDER BY cost_num, score) AS brk
  FROM splits
) WHERE brk = 1
"""


# q437: time-underwater (drawdown duration) analysis

def q437_time_underwater(spark, sf_dir):
    """Time-underwater analysis of the daily cumulative net-value
    series (q275's signed flow): a day is UNDERWATER when the
    running equity sits strictly below its prior running maximum;
    spells are contiguous underwater runs found with the
    rank-difference islands trick (two windows, no iteration) —
    longest spell, total underwater days, spell count, and the
    share of days underwater in ppm.  q275 measures drawdown DEPTH;
    recovery TIME is the other axis risk reports require, and it
    needs island detection, not a running min.

    Scale shape: one day agg + dense spine + three global-series
    windows (the equity curve IS a total order) + one islands
    agg."""
    ev = _t(spark, sf_dir, "events")
    flows = ev.groupBy(
        F.expr(
            "CAST(unix_timestamp(ts) - unix_timestamp(ts) % 86400"
            " AS BIGINT)"
        ).alias("day")
    ).agg(
        F.sum(
            F.when(
                F.col("event_type") == "purchase",
                F.expr("CAST(round(value * 100) AS BIGINT)"),
            ).otherwise(
                F.expr("0 - CAST(round(value * 10) AS BIGINT)")
            )
        ).cast("bigint").alias("flow")
    )
    bounds = flows.agg(F.min("day").alias("d0"), F.max("day").alias("d1"))
    spine = bounds.select(
        F.explode(F.sequence("d0", "d1", F.lit(86400))).alias("day")
    )
    daily = spine.join(flows, "day", "left").na.fill({"flow": 0})
    w = Window.orderBy("day")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    curve = daily.select(
        "day",
        F.sum("flow").over(wc).cast("bigint").alias("eq"),
    ).withColumn(
        "peak", F.max("eq").over(wc.rowsBetween(Window.unboundedPreceding, -1))
    ).withColumn(
        "under",
        (
            F.col("peak").isNotNull() & (F.col("eq") < F.col("peak"))
        ).cast("bigint"),
    )
    islands = (
        curve.withColumn(
            "rn", F.row_number().over(w).cast("bigint")
        )
        .where(F.col("under") == 1)
        .withColumn(
            "grp",
            F.col("rn")
            - F.row_number().over(Window.orderBy("rn")).cast("bigint"),
        )
        .groupBy("grp")
        .agg(F.count(F.lit(1)).cast("bigint").alias("len"))
    )
    spells = islands.agg(
        F.coalesce(F.count(F.lit(1)), F.lit(0)).cast("bigint")
        .alias("n_spells"),
        F.coalesce(F.max("len"), F.lit(0)).cast("bigint")
        .alias("longest_spell_days"),
        F.coalesce(F.sum("len"), F.lit(0)).cast("bigint")
        .alias("underwater_days"),
    )
    nd = curve.agg(F.count(F.lit(1)).cast("bigint").alias("n_days"))
    return spells.crossJoin(F.broadcast(nd)).select(
        "n_days",
        "n_spells",
        "longest_spell_days",
        "underwater_days",
        F.expr("(underwater_days * 1000000) div n_days").cast("bigint")
        .alias("underwater_ppm"),
    )


ORACLE_Q437 = """
WITH flows AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS day,
         CAST(sum(CASE WHEN event_type = 'purchase'
                  THEN CAST(round(value * 100) AS BIGINT)
                  ELSE 0 - CAST(round(value * 10) AS BIGINT) END)
              AS BIGINT) AS flow
  FROM events GROUP BY 1
),
b AS (SELECT min(day) AS d0, max(day) AS d1 FROM flows),
daily AS (
  SELECT s.day, coalesce(flows.flow, 0) AS flow
  FROM (SELECT unnest(range(d0, d1 + 1, 86400)) AS day FROM b) s
  LEFT JOIN flows ON flows.day = s.day
),
equity AS (
  SELECT day,
         CAST(sum(flow) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                              PRECEDING AND CURRENT ROW) AS BIGINT)
           AS eq
  FROM daily
),
curve AS (
  SELECT day, eq,
         CAST(max(eq) OVER (ORDER BY day ROWS BETWEEN UNBOUNDED
                            PRECEDING AND 1 PRECEDING) AS BIGINT)
           AS peak
  FROM equity
),
flagged AS (
  SELECT day,
         CASE WHEN peak IS NOT NULL AND eq < peak THEN 1 ELSE 0 END
           AS under,
         CAST(row_number() OVER (ORDER BY day) AS BIGINT) AS rn
  FROM curve
),
islands AS (
  SELECT grp, count(*) AS len FROM (
    SELECT rn - CAST(row_number() OVER (ORDER BY rn) AS BIGINT) AS grp
    FROM flagged WHERE under = 1
  ) GROUP BY grp
),
spells AS (
  SELECT CAST(coalesce(count(*), 0) AS BIGINT) AS n_spells,
         CAST(coalesce(max(len), 0) AS BIGINT) AS longest_spell_days,
         CAST(coalesce(sum(len), 0) AS BIGINT) AS underwater_days
  FROM islands
),
nd AS (SELECT CAST(count(*) AS BIGINT) AS n_days FROM curve)
SELECT n_days, n_spells, longest_spell_days, underwater_days,
       CAST((underwater_days * 1000000) // n_days AS BIGINT)
         AS underwater_ppm
FROM spells, nd
"""


# q438: Jarque-Bera normality screen

def q438_jarque_bera(spark, sf_dir):
    """Jarque-Bera normality screen per event type: skewness and
    excess kurtosis assembled from EXACT integer power sums (cents;
    one conditional agg, central moments by the binomial expansion
    — no subtract-the-mean pass), JB = n/6*(S^2 + K^2/4) in milli,
    decided against the chi-square(2) 5.991 literal.  The
    moments-based normality gate that decides whether q300's
    normal-theory control limits are even admissible per stream;
    q314 tests RANDOMNESS of signs, this tests SHAPE.

    Scale shape: one map-side-combinable 5-moment agg; 5-row
    algebra after."""
    ev = _t(spark, sf_dir, "events")
    mom = ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .cast("bigint")
        .alias("s1"),
        F.sum(
            F.expr(
                "CAST(round(value * 100) AS BIGINT)"
                " * CAST(round(value * 100) AS BIGINT)"
            )
        ).cast("bigint").alias("s2"),
        F.sum(
            F.expr(
                "CAST(CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))"
                " * CAST(round(value * 100) AS BIGINT)"
                " * CAST(round(value * 100) AS BIGINT)"
            )
        ).cast("decimal(38,0)").alias("s3"),
        F.sum(
            F.expr(
                "CAST(CAST(round(value * 100) AS BIGINT)"
                " * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))"
                " * CAST(CAST(round(value * 100) AS BIGINT)"
                " * CAST(round(value * 100) AS BIGINT) AS DECIMAL(38,0))"
            )
        ).cast("decimal(38,0)").alias("s4"),
    )
    e = _q438_exprs()
    return mom.select(
        "event_type",
        "n",
        F.expr(f"CAST(floor(1000.0 * {e['skew']}) AS BIGINT)")
        .alias("skew_milli"),
        F.expr(f"CAST(floor(1000.0 * {e['kurt']}) AS BIGINT)")
        .alias("ex_kurtosis_milli"),
        F.expr(f"CAST(floor(1000.0 * {e['jb']}) AS BIGINT)")
        .alias("jb_milli"),
        F.expr(f"{e['jb']} >= 5.991").alias("reject_normality"),
    ).orderBy("event_type")


def _q438_exprs() -> dict:
    """Shared float-expression strings for q438 — ONE source feeds
    the Spark select and the DuckDB oracle (the expressions are pure
    float arithmetic, identical in both dialects), so the 4th-moment
    algebra cannot diverge by a paren."""
    m2 = (
        "((CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
        " - (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    m3 = (
        "((CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
        " - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
        " + 2.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    m4 = (
        "((CAST(s4 AS DOUBLE) / CAST(n AS DOUBLE))"
        " - 4.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s3 AS DOUBLE) / CAST(n AS DOUBLE))"
        " + 6.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s2 AS DOUBLE) / CAST(n AS DOUBLE))"
        " - 3.0 * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE))"
        " * (CAST(s1 AS DOUBLE) / CAST(n AS DOUBLE)))"
    )
    skew = f"({m3} / sqrt({m2} * {m2} * {m2}))"
    kurt = f"(({m4} / ({m2} * {m2})) - 3.0)"
    jb = (
        f"((CAST(n AS DOUBLE) / 6.0) * ({skew} * {skew}"
        f" + ({kurt} * {kurt}) / 4.0))"
    )
    return {"skew": skew, "kurt": kurt, "jb": jb}


def _oracle_q438() -> str:
    e = _q438_exprs()
    return f"""
WITH mom AS (
  SELECT event_type, CAST(count(*) AS BIGINT) AS n,
         CAST(sum(c) AS BIGINT) AS s1,
         CAST(sum(c * c) AS BIGINT) AS s2,
         CAST(sum(CAST(c AS HUGEINT) * c * c) AS HUGEINT) AS s3,
         CAST(sum(CAST(c * c AS HUGEINT) * CAST(c * c AS HUGEINT))
              AS HUGEINT) AS s4
  FROM (
    SELECT event_type, CAST(round(value * 100) AS BIGINT) AS c
    FROM events
  ) GROUP BY 1
)
SELECT event_type, n,
       CAST(floor(1000.0 * {e['skew']}) AS BIGINT) AS skew_milli,
       CAST(floor(1000.0 * {e['kurt']}) AS BIGINT) AS ex_kurtosis_milli,
       CAST(floor(1000.0 * {e['jb']}) AS BIGINT) AS jb_milli,
       {e['jb']} >= 5.991 AS reject_normality
FROM mom ORDER BY 1
"""


# q439: portable-hash spacings uniformity audit

def q439_hash_spacings_audit(spark, sf_dir):
    """Uniformity audit of the engine's OWN portable 60-bit hash via
    order-statistic spacings: hash every doc_id, sort, and compare
    the rank-pinned p50/p90/max consecutive gaps against the
    uniform-spacings yardstick R/(n+1) (exact integer expectation),
    in milli-units of that yardstick.  For true uniforms the median
    gap sits near ln(2) = 693 milli and the max gap near
    ln(n)+gamma yardsticks — gross clustering or lattice artifacts
    in the hash would bend these numbers immediately.  Every
    oracle-checked sketch in this catalog (q49/q54/q64/q142/q416)
    leans on this hash being uniform; this measures it on live
    keys.

    Scale shape: one hash projection + one global sort window over
    the key relation + one gap census."""
    docs = _t(spark, sf_dir, "documents")
    hashed = docs.select(
        md5_i64_expr(F.col("doc_id").cast("string"), salt="sp#")
        .alias("h")
    )
    w = Window.orderBy("h")
    gaps = (
        hashed.withColumn("ph", F.lag("h").over(w))
        .where(F.col("ph").isNotNull())
        .select((F.col("h") - F.col("ph")).cast("bigint").alias("g"))
    )
    stats = hashed.agg(
        F.count(F.lit(1)).cast("bigint").alias("n"),
        (F.max("h") - F.min("h")).cast("bigint").alias("r"),
    )
    wg = Window.orderBy("g")
    ranked = gaps.withColumn(
        "rk", F.row_number().over(wg).cast("bigint")
    ).localCheckpoint(eager=True)
    ng = ranked.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    picks = []
    for p, name in ((50, "p50"), (90, "p90")):
        picks.append(
            ranked.crossJoin(F.broadcast(ng))
            .where(
                F.col("rk")
                == F.expr(f"greatest(CAST(1 AS BIGINT), (m * {p}) div 100)")
            )
            .select(F.col("g").alias(f"{name}_gap"))
        )
    mx = ranked.agg(F.max("g").cast("bigint").alias("max_gap"))
    out = stats
    for p_df in picks:
        out = out.crossJoin(F.broadcast(p_df))
    # gaps are ~2^60-scale: gap*1000 overflows int64, so the milli
    # ratio divides by a pre-scaled yardstick instead (spec'd)
    return out.crossJoin(F.broadcast(mx)).select(
        "n",
        F.expr("r div (n + 1)").cast("bigint").alias("yardstick"),
        F.expr(
            "p50_gap div greatest(CAST(1 AS BIGINT),"
            " (r div (n + 1)) div 1000)"
        ).cast("bigint").alias("p50_milli"),
        F.expr(
            "p90_gap div greatest(CAST(1 AS BIGINT),"
            " (r div (n + 1)) div 1000)"
        ).cast("bigint").alias("p90_milli"),
        F.expr(
            "max_gap div greatest(CAST(1 AS BIGINT),"
            " (r div (n + 1)) div 1000)"
        ).cast("bigint").alias("max_milli"),
    )


def _oracle_q439() -> str:
    hh = duck_md5_i64("CAST(doc_id AS VARCHAR)", salt="sp#")
    return f"""
WITH hashed AS (SELECT {hh} AS h FROM documents),
stats AS (
  SELECT CAST(count(*) AS BIGINT) AS n,
         CAST(max(h) - min(h) AS BIGINT) AS r
  FROM hashed
),
gaps AS (
  SELECT CAST(h - ph AS BIGINT) AS g FROM (
    SELECT h, lag(h) OVER (ORDER BY h) AS ph FROM hashed
  ) WHERE ph IS NOT NULL
),
ranked AS (
  SELECT g, CAST(row_number() OVER (ORDER BY g) AS BIGINT) AS rk
  FROM gaps
),
ng AS (SELECT CAST(count(*) AS BIGINT) AS m FROM ranked),
p50 AS (SELECT g AS p50_gap FROM ranked, ng
        WHERE rk = greatest(CAST(1 AS BIGINT), (m * 50) // 100)),
p90 AS (SELECT g AS p90_gap FROM ranked, ng
        WHERE rk = greatest(CAST(1 AS BIGINT), (m * 90) // 100)),
mx AS (SELECT CAST(max(g) AS BIGINT) AS max_gap FROM ranked)
SELECT n, CAST(r // (n + 1) AS BIGINT) AS yardstick,
       CAST(p50_gap // greatest(CAST(1 AS BIGINT),
            (r // (n + 1)) // 1000) AS BIGINT) AS p50_milli,
       CAST(p90_gap // greatest(CAST(1 AS BIGINT),
            (r // (n + 1)) // 1000) AS BIGINT) AS p90_milli,
       CAST(max_gap // greatest(CAST(1 AS BIGINT),
            (r // (n + 1)) // 1000) AS BIGINT) AS max_milli
FROM stats, p50, p90, mx
"""


# q440: Lorenz asymmetry coefficient

def q440_lorenz_asymmetry(spark, sf_dir):
    """Lorenz asymmetry coefficient for two mass distributions (doc
    chars over documents; purchase cents over users): LAC =
    F(mu) + L(mu) where F(mu) is the POPULATION share of units
    below the mean and L(mu) the MASS share those units carry —
    both exact integer ratios, summed in milli.  LAC < 1000 means
    inequality comes from a few giants (the long-tail-of-whales
    shape), > 1000 from many dwarfs; q304's Gini says HOW MUCH
    inequality, LAC says WHICH KIND — a different curation action
    each way (cap the giants vs prune the dwarfs).

    Scale shape: one mean agg broadcast back + one conditional agg
    per distribution; two output rows."""
    docs = _t(spark, sf_dir, "documents")
    ev = _t(spark, sf_dir, "events")

    def lac(df, val_col, name):
        tot = df.agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(val_col).cast("bigint").alias("s"),
        )
        return (
            df.crossJoin(F.broadcast(tot))
            .agg(
                F.max("n").cast("bigint").alias("n"),
                F.max("s").cast("bigint").alias("s"),
                F.sum(
                    F.when(F.col(val_col) * F.col("n") < F.col("s"), 1)
                    .otherwise(0)
                ).cast("bigint").alias("n_below"),
                F.sum(
                    F.when(
                        F.col(val_col) * F.col("n") < F.col("s"),
                        F.col(val_col),
                    ).otherwise(0)
                ).cast("bigint").alias("s_below"),
            )
            .select(
                F.lit(name).alias("distribution"),
                "n",
                "n_below",
                F.expr(
                    "(n_below * 1000) div n + (s_below * 1000) div s"
                ).cast("bigint").alias("lac_milli"),
            )
        )

    d1 = lac(docs.select(F.col("n_chars").alias("v")), "v", "doc_chars")
    purch = (
        ev.where(F.col("event_type") == "purchase")
        .groupBy("user_id")
        .agg(
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("v")
        )
    )
    d2 = lac(purch, "v", "user_purchase_cents")
    return d1.unionByName(d2).orderBy("distribution")


ORACLE_Q440 = """
WITH d1 AS (
  SELECT 'doc_chars' AS distribution,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CASE WHEN n_chars * (SELECT count(*) FROM documents)
                       < (SELECT sum(n_chars) FROM documents)
                  THEN 1 ELSE 0 END) AS BIGINT) AS n_below,
         CAST(sum(CASE WHEN n_chars * (SELECT count(*) FROM documents)
                       < (SELECT sum(n_chars) FROM documents)
                  THEN 1 ELSE 0 END) * 1000
              // count(*)
              + sum(CASE WHEN n_chars
                         * (SELECT count(*) FROM documents)
                         < (SELECT sum(n_chars) FROM documents)
                    THEN n_chars ELSE 0 END) * 1000
              // sum(n_chars) AS BIGINT) AS lac_milli
  FROM documents
),
purch AS (
  SELECT user_id,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS v
  FROM events WHERE event_type = 'purchase' GROUP BY 1
),
pt AS (
  SELECT CAST(count(*) AS BIGINT) AS n, CAST(sum(v) AS BIGINT) AS s
  FROM purch
),
d2 AS (
  SELECT 'user_purchase_cents' AS distribution, pt.n,
         CAST(sum(CASE WHEN v * pt.n < pt.s THEN 1 ELSE 0 END)
              AS BIGINT) AS n_below,
         CAST(sum(CASE WHEN v * pt.n < pt.s THEN 1 ELSE 0 END) * 1000
              // pt.n
              + sum(CASE WHEN v * pt.n < pt.s THEN v ELSE 0 END) * 1000
              // pt.s AS BIGINT) AS lac_milli
  FROM purch, pt GROUP BY pt.n, pt.s
)
SELECT * FROM d1 UNION ALL SELECT * FROM d2 ORDER BY 1
"""


# q441: deterministic greedy-bandit replay

def q441_greedy_bandit_replay(spark, sf_dir):
    """Deterministic greedy-bandit replay at hourly granularity: the
    five event types are arms, an hour's reward for an arm is its
    mean cent value that hour (exact integer ratio; an absent
    arm-hour pays zero — spec'd), and the greedy policy plays, each
    hour, the arm with the best CUMULATIVE mean through the previous
    hour (exact cross-multiplied comparison via rank window, ties ->
    arm name; the first hour plays the alphabetically first arm).
    Reported against the best-fixed-arm oracle and the uniform
    policy — the exploration-free baseline every bandit paper
    compares against, replayed exactly with window functions instead
    of simulation state.

    Scale shape: one (hour, arm) agg; the policy is two windows
    over the hour-arm relation (cumulative sums + rank), the
    comparison a 3-row census."""
    ev = _t(spark, sf_dir, "events")
    cells = (
        ev.groupBy(
            F.expr(
                "CAST(unix_timestamp(ts) - unix_timestamp(ts) % 3600"
                " AS BIGINT)"
            ).alias("h"),
            F.col("event_type").alias("arm"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n"),
            F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
            .cast("bigint")
            .alias("s"),
        )
    )
    hours = cells.select("h").distinct()
    arms = cells.select("arm").distinct()
    dense = (
        hours.crossJoin(arms)
        .join(cells, ["h", "arm"], "left")
        .na.fill({"n": 0, "s": 0})
    )
    warm = Window.partitionBy("arm").orderBy("h").rowsBetween(
        Window.unboundedPreceding, -1
    )
    cum = dense.select(
        "h",
        "arm",
        "n",
        "s",
        F.coalesce(F.sum("n").over(warm), F.lit(0)).alias("cn"),
        F.coalesce(F.sum("s").over(warm), F.lit(0)).alias("cs"),
    )
    # greedy pick per hour: max cumulative mean cs/cn (cn=0 -> 0)
    cum = cum.withColumn(
        "cmean",
        F.expr(
            "CASE WHEN cn = 0 THEN 0.0"
            " ELSE CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) END"
        ),
    )
    wpick = Window.partitionBy("h").orderBy(F.desc("cmean"), "arm")
    picked = (
        cum.withColumn("rk", F.row_number().over(wpick))
        .where(F.col("rk") == 1)
        .select(
            "h",
            F.expr(
                "CASE WHEN n = 0 THEN 0.0"
                " ELSE CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END"
            ).alias("reward"),
        )
    )
    greedy = picked.agg(
        F.count(F.lit(1)).cast("bigint").alias("n_hours"),
        F.expr("CAST(floor(sum(reward) * 1000.0) AS BIGINT)")
        .alias("total_milli"),
    ).select(
        F.lit("greedy").alias("policy"), "n_hours", "total_milli"
    )
    per_arm = (
        dense.groupBy("arm")
        .agg(
            F.expr(
                "CAST(floor(sum(CASE WHEN n = 0 THEN 0.0"
                " ELSE CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)"
                " * 1000.0) AS BIGINT)"
            ).alias("tot")
        )
    )
    best_fixed = (
        per_arm.orderBy(F.desc("tot"), "arm")
        .limit(1)
        .crossJoin(F.broadcast(hours.agg(F.count(F.lit(1))
                                         .cast("bigint").alias("n_hours"))))
        .select(
            F.lit("best_fixed").alias("policy"),
            "n_hours",
            F.col("tot").alias("total_milli"),
        )
    )
    uniform = (
        dense.agg(
            F.expr(
                "CAST(floor(sum(CASE WHEN n = 0 THEN 0.0"
                " ELSE CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)"
                " * 1000.0 / 5.0) AS BIGINT)"
            ).alias("total_milli")
        )
        .crossJoin(F.broadcast(hours.agg(F.count(F.lit(1))
                                         .cast("bigint").alias("n_hours"))))
        .select(F.lit("uniform").alias("policy"), "n_hours", "total_milli")
    )
    return greedy.unionByName(best_fixed).unionByName(uniform).orderBy(
        "policy"
    )


ORACLE_Q441 = """
WITH cells AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS h,
         event_type AS arm,
         CAST(count(*) AS BIGINT) AS n,
         CAST(sum(CAST(round(value * 100) AS BIGINT)) AS BIGINT) AS s
  FROM events GROUP BY 1, 2
),
hours AS (SELECT DISTINCT h FROM cells),
arms AS (SELECT DISTINCT arm FROM cells),
dense AS (
  SELECT hours.h, arms.arm, coalesce(n, 0) AS n, coalesce(s, 0) AS s
  FROM hours CROSS JOIN arms
  LEFT JOIN cells ON cells.h = hours.h AND cells.arm = arms.arm
),
cum AS (
  SELECT h, arm, n, s,
         coalesce(sum(n) OVER (PARTITION BY arm ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cn,
         coalesce(sum(s) OVER (PARTITION BY arm ORDER BY h
                   ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
                  0) AS cs
  FROM dense
),
picked AS (
  SELECT h, CASE WHEN n = 0 THEN 0.0
            ELSE CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END AS reward
  FROM (
    SELECT *, row_number() OVER (PARTITION BY h ORDER BY
             CAST(CASE WHEN cn = 0 THEN 0.0
                  ELSE CAST(cs AS DOUBLE) / CAST(cn AS DOUBLE) END
                  AS DOUBLE) DESC, arm) AS rk
    FROM cum
  ) WHERE rk = 1
),
greedy AS (
  SELECT 'greedy' AS policy, CAST(count(*) AS BIGINT) AS n_hours,
         CAST(floor(sum(reward) * 1000.0) AS BIGINT) AS total_milli
  FROM picked
),
per_arm AS (
  SELECT arm,
         CAST(floor(sum(CASE WHEN n = 0 THEN 0.0
              ELSE CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END) * 1000.0)
              AS BIGINT) AS tot
  FROM dense GROUP BY 1
),
nh AS (SELECT CAST(count(*) AS BIGINT) AS n_hours FROM hours),
best_fixed AS (
  SELECT 'best_fixed' AS policy, n_hours, tot AS total_milli
  FROM (SELECT * FROM per_arm ORDER BY tot DESC, arm LIMIT 1), nh
),
uniform AS (
  SELECT 'uniform' AS policy, n_hours,
         CAST(floor(sum(CASE WHEN n = 0 THEN 0.0
              ELSE CAST(s AS DOUBLE) / CAST(n AS DOUBLE) END)
              * 1000.0 / 5.0) AS BIGINT) AS total_milli
  FROM dense, nh GROUP BY n_hours
)
SELECT * FROM greedy UNION ALL SELECT * FROM best_fixed
UNION ALL SELECT * FROM uniform
ORDER BY 1
"""


# q442: working-set curve

def q442_working_set_curve(spark, sf_dir):
    """Denning working-set curve: mean and peak DISTINCT users per
    tumbling window for widths {1 h, 6 h, 24 h} — the W(tau) curve
    that sizes session caches, state stores and q397's LRU capacity
    from the demand side (q397 asks 'how well would capacity C
    hit?'; this asks 'how much state does width tau imply?').
    Tumbling windows are SPEC (sliding working sets re-count every
    offset; the tumbling curve is the standard capacity-planning
    read and one shuffle per width).

    Scale shape: one (window, user) distinct agg + one window census
    per width — three linear passes, each map-side combinable."""
    ev = _t(spark, sf_dir, "events")
    parts = []
    for tau, name in ((3600, "1h"), (21600, "6h"), (86400, "24h")):
        per_w = (
            ev.select(
                F.expr(
                    f"CAST(unix_timestamp(ts) - unix_timestamp(ts)"
                    f" % {tau} AS BIGINT)"
                ).alias("w"),
                "user_id",
            )
            .distinct()
            .groupBy("w")
            .agg(F.count(F.lit(1)).cast("bigint").alias("d"))
        )
        parts.append(
            per_w.agg(
                F.count(F.lit(1)).cast("bigint").alias("n_windows"),
                F.sum("d").cast("bigint").alias("sd"),
                F.max("d").cast("bigint").alias("peak_distinct"),
            ).select(
                F.lit(name).alias("width"),
                F.lit(tau).cast("bigint").alias("tau_s"),
                "n_windows",
                F.expr("(sd * 1000) div n_windows").cast("bigint")
                .alias("mean_distinct_milli"),
                "peak_distinct",
            )
        )
    out = parts[0]
    for p_df in parts[1:]:
        out = out.unionByName(p_df)
    return out.orderBy("tau_s")


ORACLE_Q442 = """
WITH w1 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS w, user_id
    FROM events
  ) GROUP BY 1
),
w6 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % 21600 AS w, user_id
    FROM events
  ) GROUP BY 1
),
w24 AS (
  SELECT w, CAST(count(*) AS BIGINT) AS d FROM (
    SELECT DISTINCT CAST(floor(epoch(ts)) AS BIGINT)
           - CAST(floor(epoch(ts)) AS BIGINT) % 86400 AS w, user_id
    FROM events
  ) GROUP BY 1
),
u AS (
  SELECT '1h' AS width, CAST(3600 AS BIGINT) AS tau_s,
         CAST(count(*) AS BIGINT) AS n_windows,
         CAST((sum(d) * 1000) // count(*) AS BIGINT)
           AS mean_distinct_milli,
         CAST(max(d) AS BIGINT) AS peak_distinct
  FROM w1
  UNION ALL
  SELECT '6h', 21600, CAST(count(*) AS BIGINT),
         CAST((sum(d) * 1000) // count(*) AS BIGINT),
         CAST(max(d) AS BIGINT)
  FROM w6
  UNION ALL
  SELECT '24h', 86400, CAST(count(*) AS BIGINT),
         CAST((sum(d) * 1000) // count(*) AS BIGINT),
         CAST(max(d) AS BIGINT)
  FROM w24
)
SELECT * FROM u ORDER BY tau_s
"""


# q443: Markov removal-effect attribution

def _det3(m) -> str:
    """6-term Leibniz expansion of a 3x3 determinant over column-name
    strings (q411's 4x4 generator's little sibling — one source for
    both engines and the replay)."""
    a, b, c = m[0], m[1], m[2]
    return (
        f"(0 + ({a[0]} * {b[1]} * {c[2]}) - ({a[0]} * {b[2]} * {c[1]})"
        f" - ({a[1]} * {b[0]} * {c[2]}) + ({a[1]} * {b[2]} * {c[0]})"
        f" + ({a[2]} * {b[0]} * {c[1]}) - ({a[2]} * {b[1]} * {c[0]}))"
    )


def _q443_reach_exprs() -> dict:
    """Generated float expressions for the full-chain reach and each
    channel-removed reach — shared by Spark, DuckDB and the replay.

    Full chain: solve (diag(r) - C) b = p over the 4 transient
    states via Cramer (q411's _det4); removed chain k: the 3x3 minor
    system.  reach = sum_i w_i b_i / sum_i w_i with journeys that
    START at a removed channel contributing zero."""
    a, _ = _q411_mat_names()
    p = [f"p{i}" for i in range(4)]
    w = [f"w{i}" for i in range(4)]
    det = _det4(a)
    full_terms = []
    for i in range(4):
        ai = [
            [p[r] if j == i else a[r][j] for j in range(4)]
            for r in range(4)
        ]
        full_terms.append(
            f"(CAST({w[i]} AS DOUBLE) * (CAST({_det4(ai)} AS DOUBLE)"
            f" / CAST({det} AS DOUBLE)))"
        )
    wsum = " + ".join(f"CAST({x} AS DOUBLE)" for x in w)
    exprs = {
        "full": "((" + " + ".join(full_terms) + f") / ({wsum}))"
    }
    for k in range(4):
        keep = [i for i in range(4) if i != k]
        m3 = [[a[r][j] for j in keep] for r in keep]
        det3 = _det3(m3)
        terms = []
        for pos, i in enumerate(keep):
            mi = [
                [
                    (p[rr] if jpos == pos else a[rr][keep[jpos]])
                    for jpos in range(3)
                ]
                for rr in keep
            ]
            terms.append(
                f"(CAST({w[i]} AS DOUBLE) * (CAST({_det3(mi)} AS DOUBLE)"
                f" / CAST({det3} AS DOUBLE)))"
            )
        exprs[f"wo{k}"] = "((" + " + ".join(terms) + f") / ({wsum}))"
    return exprs


def q443_markov_removal_attribution(spark, sf_dir):
    """Markov removal-effect attribution — the fourth member of the
    catalog's attribution family (q174 last-touch, q229 linear, q393
    Shapley): model journeys as an absorbing chain over the four
    behavioral states with purchase as the WIN absorber and journey
    end as the LOSS absorber, solve absorption-into-purchase
    exactly via Cramer (q411's generated 4x4 determinants over
    DECIMAL(38,0)/HUGEINT), then re-solve the 3x3 minor chain with
    each channel REMOVED (its traffic routed to loss, journeys
    starting there lost outright — the standard removal-effect
    convention) and report each channel's reach drop in ppm plus
    its normalized attribution share.  One expression generator
    feeds Spark, DuckDB and the replay.

    Scale shape: one per-user lag window + one 24-cell conditional
    agg; five linear solves as single-row generated expressions."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    seq = ev.select(
        "user_id",
        "ts",
        "event_id",
        F.col("event_type").alias("src"),
        F.lead("event_type").over(w).alias("nxt"),
        F.row_number().over(w).alias("pos"),
    )
    pairs = seq.where(F.col("src") != "purchase").select(
        "src", F.coalesce(F.col("nxt"), F.lit("END")).alias("dst")
    )
    aggs = []
    for i, si in enumerate(_Q411_STATES):
        aggs.append(
            F.sum(F.when(F.col("src") == si, 1).otherwise(0))
            .cast("bigint")
            .alias(f"r{i}")
        )
        aggs.append(
            F.sum(
                F.when(
                    (F.col("src") == si) & (F.col("dst") == "purchase"), 1
                ).otherwise(0)
            ).cast("bigint").alias(f"p{i}")
        )
        for j, sj in enumerate(_Q411_STATES):
            aggs.append(
                F.sum(
                    F.when(
                        (F.col("src") == si) & (F.col("dst") == sj), 1
                    ).otherwise(0)
                ).cast("bigint").alias(f"c{i}{j}")
            )
    counts = pairs.agg(*aggs)
    starts = seq.where(
        (F.col("pos") == 1) & (F.col("src") != "purchase")
    ).agg(
        *[
            F.sum(F.when(F.col("src") == si, 1).otherwise(0))
            .cast("bigint")
            .alias(f"w{i}")
            for i, si in enumerate(_Q411_STATES)
        ]
    )
    a, r = _q411_mat_names()
    mat_cols = []
    for i in range(4):
        for j in range(4):
            diag = f"r{i} - c{i}{j}" if i == j else f"0 - c{i}{j}"
            mat_cols.append(
                F.expr(f"CAST({diag} AS DECIMAL(38,0))").alias(a[i][j])
            )
        mat_cols.append(
            F.expr(f"CAST(p{i} AS DECIMAL(38,0))").alias(f"p{i}")
        )
    mat = (
        counts.crossJoin(F.broadcast(starts))
        .select(*mat_cols, *[F.col(f"w{i}") for i in range(4)])
        .localCheckpoint(eager=True)
    )
    e = _q443_reach_exprs()
    outs = []
    for k, st in enumerate(_Q411_STATES):
        outs.append(
            mat.select(
                F.lit(st).alias("channel"),
                F.expr(
                    f"CAST(floor(1000000.0 * {e['full']}) AS BIGINT)"
                ).alias("reach_full_ppm"),
                F.expr(
                    f"CAST(floor(1000000.0 * {e[f'wo{k}']}) AS BIGINT)"
                ).alias("reach_without_ppm"),
                F.expr(
                    f"CAST(floor(1000000.0 * ({e['full']}"
                    f" - {e[f'wo{k}']})) AS BIGINT)"
                ).alias("removal_effect_ppm"),
            )
        )
    res = outs[0]
    for o in outs[1:]:
        res = res.unionByName(o)
    tot = res.agg(
        F.sum("removal_effect_ppm").cast("bigint").alias("te")
    )
    return (
        res.crossJoin(F.broadcast(tot))
        .select(
            "channel",
            "reach_full_ppm",
            "reach_without_ppm",
            "removal_effect_ppm",
            F.expr(
                "(removal_effect_ppm * 1000000)"
                " div greatest(CAST(1 AS BIGINT), te)"
            ).cast("bigint").alias("attribution_ppm"),
        )
        .orderBy("channel")
    )


def _oracle_q443() -> str:
    a, _ = _q411_mat_names()
    cells = []
    for i, si in enumerate(_Q411_STATES):
        cells.append(
            f"CAST(sum(CASE WHEN src = '{si}' THEN 1 ELSE 0 END)"
            f" AS HUGEINT) AS r{i}"
        )
        cells.append(
            f"CAST(sum(CASE WHEN src = '{si}' AND dst = 'purchase'"
            f" THEN 1 ELSE 0 END) AS HUGEINT) AS p{i}"
        )
        for j, sj in enumerate(_Q411_STATES):
            cells.append(
                f"CAST(sum(CASE WHEN src = '{si}' AND dst = '{sj}'"
                f" THEN 1 ELSE 0 END) AS HUGEINT) AS c{i}{j}"
            )
    wcells = [
        f"CAST(sum(CASE WHEN src = '{si}' THEN 1 ELSE 0 END)"
        f" AS BIGINT) AS w{i}"
        for i, si in enumerate(_Q411_STATES)
    ]
    mat_cols = []
    for i in range(4):
        for j in range(4):
            diag = f"r{i} - c{i}{j}" if i == j else f"0 - c{i}{j}"
            mat_cols.append(f"({diag}) AS {a[i][j]}")
        mat_cols.append(f"p{i}")
    e = _q443_reach_exprs()
    sels = []
    for k, st in enumerate(_Q411_STATES):
        sels.append(
            f"SELECT '{st}' AS channel,"
            f" CAST(floor(1000000.0 * {e['full']}) AS BIGINT)"
            " AS reach_full_ppm,"
            f" CAST(floor(1000000.0 * {e[f'wo{k}']}) AS BIGINT)"
            " AS reach_without_ppm,"
            f" CAST(floor(1000000.0 * ({e['full']} - {e[f'wo{k}']}))"
            " AS BIGINT) AS removal_effect_ppm FROM mat"
        )
    union = "\nUNION ALL ".join(sels)
    return f"""
WITH seq AS (
  SELECT user_id, event_type AS src,
         lead(event_type) OVER (PARTITION BY user_id
                                ORDER BY ts, event_id) AS nxt,
         row_number() OVER (PARTITION BY user_id
                            ORDER BY ts, event_id) AS pos
  FROM events
),
pairs AS (
  SELECT src, coalesce(nxt, 'END') AS dst
  FROM seq WHERE src <> 'purchase'
),
counts AS (SELECT {", ".join(cells)} FROM pairs),
starts AS (
  SELECT {", ".join(wcells)} FROM seq
  WHERE pos = 1 AND src <> 'purchase'
),
mat AS (
  SELECT {", ".join(mat_cols)}, w0, w1, w2, w3
  FROM counts, starts
),
res AS (
{union}
),
tot AS (
  SELECT CAST(sum(removal_effect_ppm) AS BIGINT) AS te FROM res
)
SELECT channel, reach_full_ppm, reach_without_ppm, removal_effect_ppm,
       CAST((removal_effect_ppm * 1000000)
            // greatest(CAST(1 AS BIGINT), te) AS BIGINT)
         AS attribution_ppm
FROM res, tot
ORDER BY 1
"""


# q444: auction reserve-price sweep

def q444_reserve_price_sweep(spark, sf_dir):
    """Reserve-price sweep over q408's hourly second-price auctions:
    candidate reserves at the rank-pinned p25/p50/p75/p90 of ALL
    bids, each replayed exactly — an auction pays 0 if the top bid
    misses the reserve, the reserve itself if only the top clears,
    else the second bid — plus the no-reserve baseline and the
    argmax flag.  Myerson says the optimal reserve ignores bidder
    count; the sweep SHOWS the empirical revenue curve doing
    exactly that.  The monetization knob on top of q408's
    mechanism.

    Scale shape: one rank window over bids for the percentile
    pins, one (auction, rank<=2) agg reused across candidates (the
    sweep joins the 5-row reserve table against the auction-scale
    relation)."""
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
    top2 = (
        bids.withColumn("rk", F.row_number().over(wr))
        .where(F.col("rk") <= 2)
        .groupBy("w")
        .agg(
            F.max(F.when(F.col("rk") == 1, F.col("c"))).alias("b1"),
            F.coalesce(
                F.max(F.when(F.col("rk") == 2, F.col("c"))), F.lit(0)
            ).alias("b2"),
        )
        .localCheckpoint(eager=True)
    )
    wall = Window.orderBy("c", "event_id")
    ranked = bids.withColumn(
        "brk", F.row_number().over(wall).cast("bigint")
    )
    nb = bids.agg(F.count(F.lit(1)).cast("bigint").alias("m"))
    reserves = None
    for pct in (25, 50, 75, 90):
        pick = (
            ranked.crossJoin(F.broadcast(nb))
            .where(
                F.col("brk")
                == F.expr(
                    f"greatest(CAST(1 AS BIGINT), (m * {pct}) div 100)"
                )
            )
            .select(
                F.lit(f"p{pct}").alias("reserve_name"),
                F.col("c").alias("reserve"),
            )
        )
        reserves = pick if reserves is None else reserves.unionByName(pick)
    reserves = reserves.unionByName(
        spark.range(1).select(
            F.lit("none").alias("reserve_name"),
            F.lit(0).cast("bigint").alias("reserve"),
        )
    )
    swept = (
        reserves.crossJoin(top2)
        .select(
            "reserve_name",
            "reserve",
            F.expr(
                "CASE WHEN b1 < reserve THEN 0"
                " WHEN b2 < reserve THEN reserve ELSE b2 END"
            ).alias("rev"),
            F.expr("CASE WHEN b1 < reserve THEN 1 ELSE 0 END")
            .alias("unsold"),
        )
        .groupBy("reserve_name", "reserve")
        .agg(
            F.sum("rev").cast("bigint").alias("revenue_cents"),
            F.sum("unsold").cast("bigint").alias("unsold_auctions"),
        )
    )
    wbest = Window.orderBy(F.desc("revenue_cents"), "reserve")
    return (
        swept.withColumn("rk", F.row_number().over(wbest))
        .select(
            "reserve_name",
            "reserve",
            "revenue_cents",
            "unsold_auctions",
            (F.col("rk") == 1).alias("is_optimal"),
        )
        .orderBy("reserve")
    )


ORACLE_Q444 = """
WITH bids AS (
  SELECT CAST(floor(epoch(ts)) AS BIGINT)
         - CAST(floor(epoch(ts)) AS BIGINT) % 3600 AS w,
         CAST(round(value * 100) AS BIGINT) AS c, event_id
  FROM events
),
top2 AS (
  SELECT w, max(CASE WHEN rk = 1 THEN c END) AS b1,
         coalesce(max(CASE WHEN rk = 2 THEN c END), 0) AS b2
  FROM (
    SELECT w, c,
           row_number() OVER (PARTITION BY w ORDER BY c DESC, event_id)
             AS rk
    FROM bids
  ) WHERE rk <= 2 GROUP BY 1
),
ranked AS (
  SELECT c, CAST(row_number() OVER (ORDER BY c, event_id) AS BIGINT)
           AS brk
  FROM bids
),
nb AS (SELECT CAST(count(*) AS BIGINT) AS m FROM bids),
reserves AS (
  SELECT 'p25' AS reserve_name, c AS reserve FROM ranked, nb
  WHERE brk = greatest(CAST(1 AS BIGINT), (m * 25) // 100)
  UNION ALL
  SELECT 'p50', c FROM ranked, nb
  WHERE brk = greatest(CAST(1 AS BIGINT), (m * 50) // 100)
  UNION ALL
  SELECT 'p75', c FROM ranked, nb
  WHERE brk = greatest(CAST(1 AS BIGINT), (m * 75) // 100)
  UNION ALL
  SELECT 'p90', c FROM ranked, nb
  WHERE brk = greatest(CAST(1 AS BIGINT), (m * 90) // 100)
  UNION ALL
  SELECT 'none', CAST(0 AS BIGINT)
),
swept AS (
  SELECT reserve_name, reserve,
         CAST(sum(CASE WHEN b1 < reserve THEN 0
                  WHEN b2 < reserve THEN reserve ELSE b2 END)
              AS BIGINT) AS revenue_cents,
         CAST(sum(CASE WHEN b1 < reserve THEN 1 ELSE 0 END) AS BIGINT)
           AS unsold_auctions
  FROM reserves, top2
  GROUP BY 1, 2
)
SELECT reserve_name, reserve, revenue_cents, unsold_auctions,
       rk = 1 AS is_optimal
FROM (
  SELECT *, row_number() OVER (ORDER BY revenue_cents DESC, reserve)
           AS rk
  FROM swept
)
ORDER BY reserve
"""


# q445: eager-aggregation (group-by pushdown) advisor

def q445_eager_agg_advisor(spark, sf_dir):
    """Eager-aggregation rewrite advisor: revenue per order priority
    computed BOTH ways — join lineitem to orders then aggregate
    (the naive plan) vs pre-aggregate lineitem by orderkey then
    join (the pushed-down plan) — with the value results asserted
    IDENTICAL in-query (DECIMAL sums, the q01 discipline) and the
    row flows that differ reported: rows entering the join under
    each plan and the reduction ppm.  The classic optimizer rewrite
    (Yan-Larson eager aggregation) measured rather than assumed;
    q351 orders predicates, this orders the AGGREGATE against the
    join.

    Scale shape: one pre-agg + two equi-joins on the same key;
    counts only beyond the value check."""
    orders = _t(spark, sf_dir, "orders")
    lineitem = _t(spark, sf_dir, "lineitem")
    li = lineitem.select(
        "l_orderkey",
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2))"
            " * (1 - CAST(l_discount AS DECIMAL(18,2))) AS DECIMAL(38,6))"
        ).alias("rev"),
    )
    naive = (
        orders.select("o_orderkey", "o_orderpriority")
        .join(li, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(F.sum("rev").alias("naive_rev"))
    )
    pre = li.groupBy("l_orderkey").agg(
        F.sum("rev").alias("ord_rev"),
        F.count(F.lit(1)).cast("bigint").alias("n_lines"),
    )
    pushed = (
        orders.select("o_orderkey", "o_orderpriority")
        .join(pre, F.col("o_orderkey") == F.col("l_orderkey"))
        .groupBy("o_orderpriority")
        .agg(
            F.sum("ord_rev").alias("pushed_rev"),
            F.sum("n_lines").cast("bigint").alias("n_lines"),
        )
    )
    flows = li.agg(
        F.count(F.lit(1)).cast("bigint").alias("naive_join_rows")
    ).crossJoin(
        F.broadcast(
            pre.agg(
                F.count(F.lit(1)).cast("bigint").alias("pushed_join_rows")
            )
        )
    )
    return (
        naive.join(pushed, "o_orderpriority")
        .crossJoin(F.broadcast(flows))
        .select(
            F.col("o_orderpriority").alias("priority"),
            F.expr("CAST(naive_rev AS DOUBLE)").alias("revenue"),
            (
                F.col("naive_rev") == F.col("pushed_rev")
            ).alias("plans_agree"),
            "n_lines",
            "naive_join_rows",
            "pushed_join_rows",
            F.expr(
                "((naive_join_rows - pushed_join_rows) * 1000000)"
                " div naive_join_rows"
            ).cast("bigint").alias("flow_reduction_ppm"),
        )
        .orderBy("priority")
    )


ORACLE_Q445 = """
WITH li AS (
  SELECT l_orderkey,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2))
              * (1 - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(38,6)) AS rev
  FROM lineitem
),
naive AS (
  SELECT o_orderpriority, sum(rev) AS naive_rev
  FROM orders JOIN li ON o_orderkey = l_orderkey
  GROUP BY 1
),
pre AS (
  SELECT l_orderkey, sum(rev) AS ord_rev,
         CAST(count(*) AS BIGINT) AS n_lines
  FROM li GROUP BY 1
),
pushed AS (
  SELECT o_orderpriority, sum(ord_rev) AS pushed_rev,
         CAST(sum(n_lines) AS BIGINT) AS n_lines
  FROM orders JOIN pre ON o_orderkey = l_orderkey
  GROUP BY 1
),
flows AS (
  SELECT (SELECT CAST(count(*) AS BIGINT) FROM li) AS naive_join_rows,
         (SELECT CAST(count(*) AS BIGINT) FROM pre)
           AS pushed_join_rows
)
SELECT naive.o_orderpriority AS priority,
       CAST(naive_rev AS DOUBLE) AS revenue,
       naive_rev = pushed_rev AS plans_agree,
       n_lines, naive_join_rows, pushed_join_rows,
       CAST(((naive_join_rows - pushed_join_rows) * 1000000)
            // naive_join_rows AS BIGINT) AS flow_reduction_ppm
FROM naive JOIN pushed ON naive.o_orderpriority = pushed.o_orderpriority,
     flows
ORDER BY 1
"""


# q446: clustered-index insert scatter audit

def q446_insert_scatter_audit(spark, sf_dir):
    """Clustered-layout insert-scatter audit: with the order table
    physically sorted by (custkey, orderkey) and the last 7 days of
    orders arriving as the delta, each delta row's insertion
    position in the base = its rank among base rows (one window
    over the flag-tagged union — no inequality join), rolled up to
    256-row pages: pages touched, share of the base's pages dirtied
    in ppm, and pure tail-appends.  The why-your-clustered-key-
    matters number: a time-clustered table absorbs the same delta
    into ONE page tail; a customer-clustered table dirties
    everything — q77/q123 choose layouts, this prices re-sorting
    under ingest.

    Scale shape: one flag-tagged union + one global rank window +
    one page census (the sort order IS a total order — inherent)."""
    orders = _t(spark, sf_dir, "orders")
    cutoff = orders.agg(
        (F.max(F.unix_timestamp("o_orderdate")) - 7 * 86400)
        .cast("bigint")
        .alias("cut")
    )
    tagged = orders.crossJoin(F.broadcast(cutoff)).select(
        "o_custkey",
        "o_orderkey",
        (F.unix_timestamp("o_orderdate") > F.col("cut"))
        .cast("bigint")
        .alias("is_delta"),
    )
    w = Window.orderBy("o_custkey", "o_orderkey")
    wc = w.rowsBetween(Window.unboundedPreceding, 0)
    pos = tagged.select(
        "is_delta",
        (
            F.sum(F.lit(1) - F.col("is_delta")).over(wc)
            - (F.lit(1) - F.col("is_delta"))
        ).cast("bigint").alias("ins_pos"),
    )
    base_n = tagged.agg(
        F.sum(F.lit(1) - F.col("is_delta")).cast("bigint").alias("nb")
    )
    deltas = pos.where(F.col("is_delta") == 1)
    return (
        deltas.crossJoin(F.broadcast(base_n))
        .select(
            "ins_pos",
            "nb",
            F.expr("ins_pos div 256").alias("page"),
            (F.col("ins_pos") >= F.col("nb")).cast("bigint")
            .alias("is_tail"),
        )
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_delta"),
            F.max("nb").cast("bigint").alias("n_base"),
            F.countDistinct("page").cast("bigint").alias("pages_touched"),
            F.sum("is_tail").cast("bigint").alias("tail_appends"),
        )
        .select(
            "n_delta",
            "n_base",
            F.expr("(n_base + 255) div 256").cast("bigint")
            .alias("base_pages"),
            "pages_touched",
            F.expr(
                "(pages_touched * 1000000) div ((n_base + 255) div 256)"
            ).cast("bigint").alias("dirty_ppm"),
            "tail_appends",
        )
    )


ORACLE_Q446 = """
WITH cutoff AS (
  SELECT CAST(max(floor(epoch(o_orderdate))) AS BIGINT) - 7 * 86400
           AS cut
  FROM orders
),
tagged AS (
  SELECT o_custkey, o_orderkey,
         CAST(CAST(floor(epoch(o_orderdate)) AS BIGINT) > cut
              AS BIGINT) AS is_delta
  FROM orders, cutoff
),
pos AS (
  SELECT is_delta,
         CAST(sum(1 - is_delta) OVER (ORDER BY o_custkey, o_orderkey
                ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
              - (1 - is_delta) AS BIGINT) AS ins_pos
  FROM tagged
),
base_n AS (
  SELECT CAST(sum(1 - is_delta) AS BIGINT) AS nb FROM tagged
),
agg AS (
  SELECT CAST(count(*) AS BIGINT) AS n_delta,
         CAST(max(nb) AS BIGINT) AS n_base,
         CAST(count(DISTINCT ins_pos // 256) AS BIGINT)
           AS pages_touched,
         CAST(sum(CASE WHEN ins_pos >= nb THEN 1 ELSE 0 END) AS BIGINT)
           AS tail_appends
  FROM pos, base_n WHERE is_delta = 1
)
SELECT n_delta, n_base,
       CAST((n_base + 255) // 256 AS BIGINT) AS base_pages,
       pages_touched,
       CAST((pages_touched * 1000000) // ((n_base + 255) // 256)
            AS BIGINT) AS dirty_ppm,
       tail_appends
FROM agg
"""


__all__ = _star_exports(globals())  # noqa: F405
