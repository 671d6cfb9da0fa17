"""Registry block q213-q257 — split verbatim from the
single-module catalog (round-4 verdict #2); execution order,
names and behavior identical to the original queries.py."""
from __future__ import annotations

from .block_q161_q212 import *  # noqa: F401,F403



# ---------------------------------------------------------------------------
# q213: MAD robust outlier gate
# ---------------------------------------------------------------------------


def q213_mad_outlier_gate(spark, sf_dir):
    """Robust outlier gate via MAD (median absolute deviation): per
    lang, the exact nearest-rank median of doc token counts, then the
    exact median of |x - median| — the robust dispersion that
    survives the heavy-tailed doc-length distributions where stddev
    is dominated by the very outliers it should flag, and docs with
    |x - med| > 3*MAD are counted as outliers (the robust analog of
    the 3-sigma rule).  q104 CLIPS at fixed percentiles (p05/p95 —
    always marks 10% regardless of shape); MAD flags by DISTANCE
    from center, so a clean lang flags ~nothing and a contaminated
    one flags its true tail — and it chains TWO dependent exact
    medians, a composition no other query exercises.

    Exactness: both medians are nearest-rank (value at row_number
    (n+1) div 2 in value order — q104's discipline), the gate is
    pure integer comparison; every output column is an integer.

    Scale shape: two per-lang window sorts (the per-key sort a
    100-TB corpus can afford, never a global ORDER BY), each
    reduced to a one-row-per-lang relation broadcast back."""
    docs = _t(spark, sf_dir, "documents")
    d = docs.select(
        "lang", token_count_expr(F.col("text")).cast("bigint").alias("x")
    )
    w1 = Window.partitionBy("lang").orderBy("x")
    med = (
        d.select(
            "lang",
            "x",
            F.row_number().over(w1).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("cnt"),
        )
        .groupBy("lang")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(cnt + 1) div 2"), F.col("x"))
            ).alias("median_tokens")
        )
    )
    dev = d.join(F.broadcast(med), "lang").select(
        "lang",
        "x",
        "median_tokens",
        F.abs(F.col("x") - F.col("median_tokens")).alias("dev"),
    )
    w2 = Window.partitionBy("lang").orderBy("dev")
    mad = (
        dev.select(
            "lang",
            "dev",
            F.row_number().over(w2).alias("rn"),
            F.count(F.lit(1)).over(Window.partitionBy("lang")).alias("cnt"),
        )
        .groupBy("lang")
        .agg(
            F.max(
                F.when(F.col("rn") == F.expr("(cnt + 1) div 2"), F.col("dev"))
            ).alias("mad_tokens")
        )
    )
    return (
        dev.join(F.broadcast(mad), "lang")
        .groupBy("lang", "median_tokens", "mad_tokens")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_docs"),
            F.sum(
                (F.col("dev") > 3 * F.col("mad_tokens")).cast("int")
            )
            .cast("bigint")
            .alias("n_outliers"),
        )
        .withColumn(
            "outlier_ppm",
            F.expr("CAST(n_outliers * 1000000 div n_docs AS BIGINT)"),
        )
    )


ORACLE_Q213 = """
WITH d AS (
  SELECT lang,
         CAST(len(list_filter(string_split(text, ' '), t -> t <> ''))
              AS BIGINT) AS x
  FROM documents
), r1 AS (
  SELECT lang, x,
         row_number() OVER (PARTITION BY lang ORDER BY x) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM d
), med AS (
  SELECT lang, max(CASE WHEN rn = (cnt + 1) // 2 THEN x END)
           AS median_tokens
  FROM r1 GROUP BY 1
), dev AS (
  SELECT d.lang, d.x, m.median_tokens,
         abs(d.x - m.median_tokens) AS dev
  FROM d JOIN med m ON m.lang = d.lang
), r2 AS (
  SELECT lang, dev,
         row_number() OVER (PARTITION BY lang ORDER BY dev) AS rn,
         count(*) OVER (PARTITION BY lang) AS cnt
  FROM dev
), mad AS (
  SELECT lang, max(CASE WHEN rn = (cnt + 1) // 2 THEN dev END)
           AS mad_tokens
  FROM r2 GROUP BY 1
)
SELECT v.lang, v.median_tokens, a.mad_tokens,
       CAST(count(*) AS BIGINT) AS n_docs,
       CAST(sum(CASE WHEN v.dev > 3 * a.mad_tokens THEN 1 ELSE 0 END)
            AS BIGINT) AS n_outliers,
       CAST(sum(CASE WHEN v.dev > 3 * a.mad_tokens THEN 1 ELSE 0 END)
            * 1000000 // count(*) AS BIGINT) AS outlier_ppm
FROM dev v JOIN mad a ON a.lang = v.lang
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# q214: redirect-chain resolution via pointer doubling
# ---------------------------------------------------------------------------

_Q214_ROUNDS = 3  # pointer doublings: resolves chains up to 2^3 hops


def q214_redirect_resolution(spark, sf_dir):
    """Redirect/alias-chain resolution over a FUNCTIONAL graph
    (every url has at most ONE redirect target) with pointer
    DOUBLING: p := p(p) for {_Q214_ROUNDS} rounds resolves chains up
    to 2^{_Q214_ROUNDS} hops in O(log chain) shuffles while carrying
    the EXACT hop count (d := d + d[p]), and nodes whose final
    pointer is not a terminal are flagged as members of a redirect
    CYCLE (the crawl-trap case).  q62's components are UNDIRECTED
    fixpoint labels; this is the directed functional-graph terminal
    map — the url -> canonical-url table a crawler consults before
    every fetch, where "how many hops" and "is it a loop" are the
    operational outputs.

    Fixture: deterministic redirects derived from doc_id — chains
    u -> u-1 for u % 10 in {{1,2,3}} (terminals at u % 10 == 0) and a
    deliberate 2-cycle per hundred block (u%100==97 <-> 98), so
    multi-hop chains AND cycles exist at every SF; both engines
    rebuild the identical edge set with pure arithmetic.

    Scale shape: each round is ONE self-equi-join on the pointer key
    + localCheckpoint (the q62/q63 iterative-lineage discipline);
    state per node is (pointer, dist) — fixed width."""
    docs = _t_wide(spark, sf_dir, "documents").select("doc_id")
    r = (
        F.when(
            F.col("doc_id") % 100 == 97, F.col("doc_id") + 1
        )
        .when(F.col("doc_id") % 100 == 98, F.col("doc_id") - 1)
        .when(F.col("doc_id") % 10 == 1, F.col("doc_id") - 1)
        .when(F.col("doc_id") % 10 == 2, F.col("doc_id") - 1)
        .when(F.col("doc_id") % 10 == 3, F.col("doc_id") - 1)
    )
    nodes = docs.select(
        F.col("doc_id").alias("u"),
        F.coalesce(r, F.col("doc_id")).alias("p"),
        F.when(r.isNull(), 0).otherwise(1).cast("bigint").alias("d"),
    ).localCheckpoint()
    cur = nodes
    for _ in range(_Q214_ROUNDS):
        nxt = cur.select(
            F.col("u").alias("pu"),
            F.col("p").alias("pp"),
            F.col("d").alias("pd"),
        )
        cur = (
            cur.join(nxt, cur["p"] == nxt["pu"])
            .select(
                "u",
                F.col("pp").alias("p"),
                (F.col("d") + F.col("pd")).alias("d"),
            )
            .localCheckpoint()
        )
    term = nodes.select(
        F.col("u").alias("p"), (F.col("d") == 0).alias("p_is_term")
    )
    return (
        cur.join(term, "p")
        .select(
            F.col("u").alias("url_id"),
            F.when(F.col("p_is_term"), F.col("p"))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("terminal_id"),
            F.when(F.col("p_is_term"), F.col("d"))
            .otherwise(F.lit(-1))
            .cast("bigint")
            .alias("hops"),
            (~F.col("p_is_term")).cast("int").alias("is_cycle"),
        )
    )


ORACLE_Q214 = f"""
WITH nodes AS (
  SELECT doc_id AS u,
         CASE WHEN doc_id % 100 = 97 THEN doc_id + 1
              WHEN doc_id % 100 = 98 THEN doc_id - 1
              WHEN doc_id % 10 IN (1, 2, 3) THEN doc_id - 1
              ELSE doc_id END AS p,
         CASE WHEN doc_id % 100 IN (97, 98) OR doc_id % 10 IN (1, 2, 3)
              THEN 1 ELSE 0 END AS d
  FROM documents
),
-- unrolled pointer doubling, {_Q214_ROUNDS} rounds (chains <= 2^{_Q214_ROUNDS})
r1 AS (
  SELECT a.u, b.p, a.d + b.d AS d FROM nodes a JOIN nodes b ON a.p = b.u
),
r2 AS (
  SELECT a.u, b.p, a.d + b.d AS d FROM r1 a JOIN r1 b ON a.p = b.u
),
r3 AS (
  SELECT a.u, b.p, a.d + b.d AS d FROM r2 a JOIN r2 b ON a.p = b.u
)
SELECT r.u AS url_id,
       CAST(CASE WHEN t.d = 0 THEN r.p ELSE -1 END AS BIGINT)
         AS terminal_id,
       CAST(CASE WHEN t.d = 0 THEN r.d ELSE -1 END AS BIGINT) AS hops,
       CAST(CASE WHEN t.d = 0 THEN 0 ELSE 1 END AS INTEGER) AS is_cycle
FROM r3 r JOIN nodes t ON t.u = r.p
"""


# ---------------------------------------------------------------------------
# q215: keyword-in-context (KWIC) concordance extraction
# ---------------------------------------------------------------------------

_Q215_TERM = "data"
_Q215_CTX = 2  # context tokens each side


def q215_kwic_concordance(spark, sf_dir):
    """Keyword-in-context (KWIC) concordance — the corpus-inspection
    artifact behind every annotation UI and "show me how this term is
    actually used" review: every occurrence of the target term is
    emitted with its aligned +-{_Q215_CTX}-token context within its
    line.  q96's phrase search returns DOCUMENTS; this returns
    ALIGNED OCCURRENCES, the row shape a labeling queue consumes.

    Scale shape: pure map-side higher-order functions — tokenize each
    line, transform-with-index to find matches, slice the context
    windows, one explode of the per-line match array; NO joins, NO
    window functions, no UDFs — the whole operator is a single
    narrow projection over the corpus scan (plan-asserted joinless
    and exchange-free up to the driver collect)."""
    docs = _t_wide(spark, sf_dir, "documents")
    k = _Q215_CTX
    lines = docs.select(
        "doc_id",
        F.posexplode(F.split(F.col("text"), "\n", -1)).alias(
            "line_no", "line"
        ),
    )
    toks = F.filter(F.split(F.col("line"), " ", -1), lambda t: t != F.lit(""))
    matches = F.filter(
        F.transform(
            toks,
            lambda t, i: F.when(
                t == F.lit(_Q215_TERM), i + 1
            ).otherwise(F.lit(None).cast("int")),
        ),
        lambda p: p.isNotNull(),
    )
    hits = lines.select(
        "doc_id",
        "line_no",
        toks.alias("toks"),
        F.explode(matches).alias("pos"),
    )
    left_start = F.greatest(F.lit(1), F.col("pos") - k)
    return hits.select(
        "doc_id",
        F.col("line_no").cast("int").alias("line_no"),
        F.col("pos").cast("int").alias("pos"),
        F.array_join(
            F.slice(F.col("toks"), left_start, F.col("pos") - left_start),
            " ",
        ).alias("left_ctx"),
        F.array_join(
            F.slice(
                F.col("toks"),
                F.col("pos") + 1,
                F.least(F.lit(k), F.size("toks") - F.col("pos")),
            ),
            " ",
        ).alias("right_ctx"),
    )


ORACLE_Q215 = f"""
WITH lines AS (
  SELECT doc_id, ln - 1 AS line_no,
         list_filter(string_split(line, ' '), t -> t <> '') AS toks
  FROM (
    SELECT doc_id,
           unnest(string_split(text, chr(10))) AS line,
           unnest(generate_series(1, len(string_split(text, chr(10)))))
             AS ln
    FROM documents
  )
), hits AS (
  SELECT doc_id, line_no, toks, unnest(
           list_filter(
             list_transform(toks, (t, i) ->
               CASE WHEN t = '{_Q215_TERM}' THEN i END),
             p -> p IS NOT NULL)
         ) AS pos
  FROM lines
)
SELECT doc_id, CAST(line_no AS INTEGER) AS line_no,
       CAST(pos AS INTEGER) AS pos,
       coalesce(array_to_string(
         list_slice(toks, greatest(1, pos - {_Q215_CTX}), pos - 1), ' '),
         '') AS left_ctx,
       coalesce(array_to_string(
         list_slice(toks, pos + 1,
                    least(len(toks), pos + {_Q215_CTX})), ' '),
         '') AS right_ctx
FROM hits
"""


# ---------------------------------------------------------------------------
# q216: mutual nearest-neighbor pairs (alignment mining)
# ---------------------------------------------------------------------------


def q216_mutual_nn_pairs(spark, sf_dir):
    """Mutual nearest-neighbor pair mining — the alignment primitive
    behind bitext/translation-pair extraction and cross-crawl page
    matching: a pair survives only if each side is the OTHER's
    nearest neighbor, the reciprocal filter that kills the hub
    problem (one popular point being "nearest" to thousands it does
    not match).  Candidates come from q210's exact grid radius join
    (symmetrized), so the semantics are mutual eps-NN: a point whose
    true NN lies beyond eps has no candidates and drops out —
    exactly the behavior a threshold-gated aligner wants.  q20/q24
    emit top-k LISTS; q172 audits recall; this emits the RECIPROCAL
    matches, a different (and much smaller) artifact.

    Scale shape: the grid join's bounded 9x explode + (cell, cell)
    equi-join, then TWO rank windows over the candidate relation
    keyed by source id — never the point relation squared; ranking
    uses the rounded distance both engines share, ties broken by
    id."""
    cand = q210_grid_epsilon_join(spark, sf_dir)
    sym = cand.select(
        F.col("id_a").alias("src"), F.col("id_b").alias("dst"), "dist"
    ).unionByName(
        cand.select(
            F.col("id_b").alias("src"), F.col("id_a").alias("dst"), "dist"
        )
    )
    wr = Window.partitionBy("src").orderBy(
        F.col("dist").asc(), F.col("dst").asc()
    )
    nn = (
        sym.withColumn("rn", F.row_number().over(wr))
        .where(F.col("rn") == 1)
        .select("src", "dst", "dist")
    )
    a = nn.select(
        F.col("src").alias("id_a"), F.col("dst").alias("id_b"), "dist"
    ).where(F.col("id_a") < F.col("id_b"))
    b = nn.select(
        F.col("dst").alias("id_a"), F.col("src").alias("id_b")
    ).where(F.col("id_a") < F.col("id_b"))
    return a.join(b, ["id_a", "id_b"]).select("id_a", "id_b", "dist")


ORACLE_Q216 = f"""
WITH cand AS (
{ORACLE_Q210}
), sym AS (
  SELECT id_a AS src, id_b AS dst, dist FROM cand
  UNION ALL
  SELECT id_b AS src, id_a AS dst, dist FROM cand
), nn AS (
  SELECT src, dst, dist FROM (
    SELECT *, row_number() OVER (PARTITION BY src
                                 ORDER BY dist ASC, dst ASC) AS rn
    FROM sym
  ) WHERE rn = 1
)
SELECT a.src AS id_a, a.dst AS id_b, a.dist
FROM nn a JOIN nn b ON a.src = b.dst AND a.dst = b.src
WHERE a.src < a.dst
"""


# ---------------------------------------------------------------------------
# q217: discrete-time hazard table with right-censoring
# ---------------------------------------------------------------------------

_Q217_T0 = "2024-01-01"
_Q217_END_DAY = 29  # last fully-observed day offset (2024-01-30)


def q217_discrete_hazard_table(spark, sf_dir):
    """Discrete-time survival hazard table with RIGHT-CENSORING — the
    at-risk-conditional churn curve (life-table method): per user,
    duration = span from first to last observed day (inclusive);
    users still active on the study's final observed day are
    CENSORED (their churn day is unknowable, they leave the risk set
    without counting as churn — the accounting a naive "days until
    last event" table silently gets wrong).  Per duration d:
    n_at_risk (duration >= d), observed churns and censorings AT d,
    and hazard_ppm = churned/at_risk — the conditional quantity;
    q127's retention grid is the UNconditional complement and has no
    censoring concept.

    Scale shape: one user-keyed agg to (duration, censored), then
    everything runs on the DURATION-grouped relation (<= 30 rows):
    the at-risk denominators are one reverse running sum over that
    tiny relation (q143/q184 grouped-relation discipline).  All
    integer."""
    ev = _t(spark, sf_dir, "events")
    per_user = ev.groupBy("user_id").agg(
        F.datediff(F.min(F.col("ts").cast("date")), F.lit(_Q217_T0).cast("date"))
        .alias("fd"),
        F.datediff(F.max(F.col("ts").cast("date")), F.lit(_Q217_T0).cast("date"))
        .alias("ld"),
    )
    durs = per_user.select(
        (F.col("ld") - F.col("fd") + 1).cast("bigint").alias("d"),
        (F.col("ld") >= _Q217_END_DAY).cast("int").alias("censored"),
    )
    grouped = durs.groupBy("d").agg(
        F.sum(1 - F.col("censored")).cast("bigint").alias("n_churned"),
        F.sum("censored").cast("bigint").alias("n_censored"),
    )
    w = Window.orderBy(F.col("d").desc()).rowsBetween(
        Window.unboundedPreceding, 0
    )
    return (
        grouped.withColumn(
            "n_at_risk",
            F.sum(F.col("n_churned") + F.col("n_censored")).over(w)
            .cast("bigint"),
        )
        .select(
            "d",
            "n_at_risk",
            "n_churned",
            "n_censored",
            F.expr(
                "CAST(n_churned * 1000000 div n_at_risk AS BIGINT)"
            ).alias("hazard_ppm"),
        )
    )


ORACLE_Q217 = f"""
WITH per_user AS (
  SELECT user_id,
         date_diff('day', DATE '{_Q217_T0}', min(ts)::DATE) AS fd,
         date_diff('day', DATE '{_Q217_T0}', max(ts)::DATE) AS ld
  FROM events GROUP BY 1
), durs AS (
  SELECT CAST(ld - fd + 1 AS BIGINT) AS d,
         CASE WHEN ld >= {_Q217_END_DAY} THEN 1 ELSE 0 END AS censored
  FROM per_user
), grouped AS (
  SELECT d, CAST(sum(1 - censored) AS BIGINT) AS n_churned,
         CAST(sum(censored) AS BIGINT) AS n_censored
  FROM durs GROUP BY 1
)
SELECT d,
       CAST(sum(n_churned + n_censored)
              OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS n_at_risk,
       n_churned, n_censored,
       CAST(n_churned * 1000000 //
            sum(n_churned + n_censored)
              OVER (ORDER BY d DESC ROWS UNBOUNDED PRECEDING)
            AS BIGINT) AS hazard_ppm
FROM grouped
"""


# ---------------------------------------------------------------------------
# q218: STREAMING sequence-gap / completeness audit
# ---------------------------------------------------------------------------

_Q218_NA = 400  # feed_a sequence numbers
_Q218_NB = 200  # feed_b sequence numbers


def q218_streaming_sequence_gaps(spark, sf_dir):
    """STREAMING per-feed sequence-completeness audit: producers
    stamp a monotone sequence number per feed; per (10-min window,
    feed) the audit emits distinct-received count, observed seq
    min/max, the MISSING count (expected span minus received) and
    completeness ppm — the exactly-once SLO dashboard that catches a
    producer dropping records where q179 (whole-feed silence) and
    q185 (unknown keys) see nothing wrong.  Redelivered duplicates
    are killed by streaming dropDuplicates on (feed, seq) BEFORE the
    count — so the audit measures the PRODUCER's holes, not the
    transport's retries (chained dedup-state -> agg-state, the q27
    discipline; dedup state evicted by the same watermark).

    Fixture: two feeds with deterministic holes (feed_a drops
    seq % 19 == 7 of {_Q218_NA}, feed_b drops seq % 23 == 5 of
    {_Q218_NB}), a redelivery batch duplicating seq % 31 == 2 rows,
    and sentinel pusher batches that flush every real window (q150
    pattern — the whole timeline is pure arithmetic both engines
    rebuild)."""
    import pandas as pd

    from ..sources.pages import stream_events_files, write_batch_files

    t0 = pd.Timestamp(STATIC_T0_EPOCH, unit="s")

    def feed_batch(rows, id_base):
        # event_id IS the (feed-scoped) sequence number; the fixture
        # namespaces feeds by event_type
        return pd.DataFrame(
            {
                "event_id": [s for s, _, _ in rows],
                "ts": [t0 + pd.Timedelta(seconds=sec) for _, sec, _ in rows],
                "user_id": [0] * len(rows),
                "event_type": [f for _, _, f in rows],
                "value": [0.0] * len(rows),
                "props": ["{}"] * len(rows),
            }
        )

    fa = [
        (s, s * 4, "feed_a")
        for s in range(_Q218_NA)
        if s % 19 != 7
    ]
    fb = [
        (s, s * 8, "feed_b")
        for s in range(_Q218_NB)
        if s % 23 != 5
    ]
    dups = [r for r in fa if r[0] % 31 == 2] + [
        r for r in fb if r[0] % 31 == 2
    ]
    batches = [
        feed_batch(fa[: len(fa) // 2] + fb[: len(fb) // 2], 0),
        feed_batch(fa[len(fa) // 2 :] + fb[len(fb) // 2 :], 0),
        feed_batch(dups, 0),  # transport retries — must not count
        feed_batch([(0, 7200, "sentinel"), (1, 7207, "sentinel")], 0),
        feed_batch([(2, 7214, "sentinel"), (3, 7221, "sentinel")], 0),
    ]
    src = _q_tmpdir("wrs-q-seqgap-")
    write_batch_files(batches, src)

    stream = (
        stream_events_files(spark, src, 1)
        .withWatermark("ts", "10 minutes")
        .dropDuplicates(["event_type", "event_id"])
    )
    agg = stream.groupBy(
        F.window("ts", "10 minutes").alias("w"),
        F.col("event_type").alias("feed"),
    ).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_received"),
        F.min("event_id").cast("bigint").alias("seq_min"),
        F.max("event_id").cast("bigint").alias("seq_max"),
    )
    out = _drain(
        agg.select(
            F.unix_timestamp("w.start").cast("bigint").alias(
                "window_start_epoch"
            ),
            "feed",
            "n_received",
            "seq_min",
            "seq_max",
        ),
        spark,
    )
    return (
        out.where(
            (F.col("window_start_epoch") < STATIC_T0_EPOCH + 3600)
            & (F.col("feed") != "sentinel")
        )
        .select(
            "window_start_epoch",
            "feed",
            "n_received",
            "seq_min",
            "seq_max",
            F.expr(
                "CAST(seq_max - seq_min + 1 - n_received AS BIGINT)"
            ).alias("n_missing"),
            F.expr(
                "CAST(n_received * 1000000 div (seq_max - seq_min + 1) "
                "AS BIGINT)"
            ).alias("completeness_ppm"),
        )
    )


ORACLE_Q218 = f"""
WITH ev AS (
  SELECT CAST(u.i AS BIGINT) AS seq, 'feed_a' AS feed,
         {STATIC_T0_EPOCH} + u.i * 4 AS epoch
  FROM UNNEST(range({_Q218_NA})) AS u(i) WHERE u.i % 19 <> 7
  UNION ALL
  SELECT CAST(u.i AS BIGINT), 'feed_b', {STATIC_T0_EPOCH} + u.i * 8
  FROM UNNEST(range({_Q218_NB})) AS u(i) WHERE u.i % 23 <> 5
)
SELECT (epoch // 600) * 600 AS window_start_epoch, feed,
       CAST(count(*) AS BIGINT) AS n_received,
       CAST(min(seq) AS BIGINT) AS seq_min,
       CAST(max(seq) AS BIGINT) AS seq_max,
       CAST(max(seq) - min(seq) + 1 - count(*) AS BIGINT) AS n_missing,
       CAST(count(*) * 1000000 // (max(seq) - min(seq) + 1) AS BIGINT)
         AS completeness_ppm
FROM ev GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q219: approximate functional-dependency profiling (g3 error)
# ---------------------------------------------------------------------------


def q219_fd_profile(spark, sf_dir):
    """Approximate functional-dependency profiling over a fixed
    candidate set — the schema-discovery / data-contract audit
    ("does source determine lang? is event_id really a key for
    event_type?") scored with the PRINCIPLED violation measure from
    the FD-discovery literature: g3 = the minimum number of rows one
    would have to delete for the FD to hold exactly (total rows
    minus, per LHS key, the majority RHS class), not the naive
    "keys with >1 value" count that weights a 2-row conflict equal
    to a 10^6-row one.  q131 profiles single COLUMNS; q152 checks a
    DECLARED foreign key; this measures whether an UNDECLARED
    column-to-column dependency actually holds and how badly it
    fails.

    Four candidates spanning hold-exactly (key FDs) and
    partially-violated (real-world FDs): event_id->event_type,
    doc_id->lang, source->lang, o_custkey->o_orderpriority.

    Scale shape: per candidate, one (lhs, rhs) hash agg then one
    lhs hash agg (both map-side-combinable); the four tiny result
    rows union at the end — no joins anywhere."""

    def g3(df, lhs, rhs, label):
        per_pair = df.groupBy(
            F.col(lhs).alias("k"), F.col(rhs).alias("v")
        ).agg(F.count(F.lit(1)).alias("c"))
        per_key = per_pair.groupBy("k").agg(
            F.sum("c").alias("n"),
            F.max("c").alias("mx"),
            F.count(F.lit(1)).alias("nv"),
        )
        return per_key.agg(
            F.lit(label).alias("fd"),
            F.count(F.lit(1)).cast("bigint").alias("n_keys"),
            F.sum((F.col("nv") > 1).cast("int"))
            .cast("bigint")
            .alias("n_violating_keys"),
            F.sum("n").cast("bigint").alias("n_rows"),
            F.sum(F.col("n") - F.col("mx"))
            .cast("bigint")
            .alias("g3_rows"),
            F.expr(
                "CAST((sum(n) - sum(n - mx)) * 1000000 div sum(n) "
                "AS BIGINT)"
            ).alias("fd_strength_ppm"),
        )

    ev = _t(spark, sf_dir, "events")
    docs = _t(spark, sf_dir, "documents")
    orders = _t(spark, sf_dir, "orders")
    return (
        g3(ev, "event_id", "event_type", "event_id->event_type")
        .unionByName(g3(docs, "doc_id", "lang", "doc_id->lang"))
        .unionByName(g3(docs, "source", "lang", "source->lang"))
        .unionByName(
            g3(orders, "o_custkey", "o_orderpriority", "o_custkey->o_orderpriority")
        )
    )


def _oracle_q219() -> str:
    def g3(table, lhs, rhs, label):
        return f"""
SELECT '{label}' AS fd,
       CAST(count(*) AS BIGINT) AS n_keys,
       CAST(sum(CASE WHEN nv > 1 THEN 1 ELSE 0 END) AS BIGINT)
         AS n_violating_keys,
       CAST(sum(n) AS BIGINT) AS n_rows,
       CAST(sum(n - mx) AS BIGINT) AS g3_rows,
       CAST((sum(n) - sum(n - mx)) * 1000000 // sum(n) AS BIGINT)
         AS fd_strength_ppm
FROM (
  SELECT k, sum(c) AS n, max(c) AS mx, count(*) AS nv
  FROM (SELECT {lhs} AS k, {rhs} AS v, count(*) AS c
        FROM {table} GROUP BY 1, 2)
  GROUP BY 1
)"""

    return " UNION ALL ".join(
        [
            g3("events", "event_id", "event_type", "event_id->event_type"),
            g3("documents", "doc_id", "lang", "doc_id->lang"),
            g3("documents", "source", "lang", "source->lang"),
            g3(
                "orders",
                "o_custkey",
                "o_orderpriority",
                "o_custkey->o_orderpriority",
            ),
        ]
    )


ORACLE_Q219 = _oracle_q219()


# ---------------------------------------------------------------------------
# q220: time-weighted average (step-function integration)
# ---------------------------------------------------------------------------


def q220_time_weighted_average(spark, sf_dir):
    """Time-weighted average of a sampled metric per (user, day) —
    the billing/telemetry mean ("average concurrent value"), where
    each observation HOLDS until the next one and the last holds to
    the day boundary: a plain AVG over irregular samples
    over-weights bursts of readings, the classic telemetry bug.
    q102 FILLS gaps (emits rows); this INTEGRATES the step function
    (emits the exact weighted mean).

    Exactness: weights are integer seconds, values go through
    DECIMAL(18,6) (the q209 discipline), the weighted sum stays
    DECIMAL (associative, order-free), and the final mean is an
    integer micro-value via CAST(sum*1e6 AS BIGINT) div total_dt —
    no float summation anywhere.

    Scale shape: one (user, day)-keyed window shuffle for the lead,
    then one hash agg on the same key — Catalyst plans a single
    Exchange for both."""
    ev = _t(spark, sf_dir, "events")
    day = F.col("ts").cast("date")
    wo = Window.partitionBy("user_id", day).orderBy("ts", "event_id")
    nxt = F.lead(F.unix_timestamp("ts")).over(wo)
    day_end = F.unix_timestamp(
        F.date_add(day, 1).cast("timestamp")
    )
    d = ev.select(
        "user_id",
        day.alias("day"),
        F.col("value").cast("decimal(18,6)").alias("v"),
        (F.coalesce(nxt, day_end) - F.unix_timestamp("ts")).alias("dt_s"),
    )
    return (
        d.groupBy("user_id", "day")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_samples"),
            F.sum("dt_s").cast("bigint").alias("total_dt_s"),
            F.sum(F.col("v") * F.col("dt_s")).alias("num"),
        )
        .select(
            "user_id",
            F.col("day").cast("string").alias("day"),
            "n_samples",
            "total_dt_s",
            F.expr(
                "CAST(CAST(num * 1000000 AS BIGINT) div total_dt_s "
                "AS BIGINT)"
            ).alias("twa_micro"),
        )
    )


ORACLE_Q220 = """
WITH d AS (
  SELECT user_id, ts::DATE AS day,
         CAST(value AS DECIMAL(18,6)) AS v,
         coalesce(
           lead(floor(epoch(ts))::BIGINT) OVER
             (PARTITION BY user_id, ts::DATE ORDER BY ts, event_id),
           floor(epoch((ts::DATE + 1)::TIMESTAMP))::BIGINT
         ) - floor(epoch(ts))::BIGINT AS dt_s
  FROM events
)
SELECT user_id, CAST(day AS VARCHAR) AS day,
       CAST(count(*) AS BIGINT) AS n_samples,
       CAST(sum(dt_s) AS BIGINT) AS total_dt_s,
       CAST(CAST(sum(v * dt_s) * 1000000 AS BIGINT) // sum(dt_s)
            AS BIGINT) AS twa_micro
FROM d GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q221: TPC-H Q14 promotion revenue share
# ---------------------------------------------------------------------------


def q221_promo_revenue_share(spark, sf_dir):
    """TPC-H Q14 (promotion effect), per ship month of 1995: the
    share of revenue from PROMO-type parts — the conditional-
    aggregation-over-a-dimension-attribute join shape (Q1=scan agg,
    Q5=star, Q7=two-role dim, Q10=double fact filter; Q14's twist is
    the dimension ATTRIBUTE driving a conditional numerator inside
    one aggregate).  The textbook 100*sum(case)/sum() is float
    division; here both revenues are DECIMAL(18,4) cleared to exact
    BIGINT ten-thousandths and the share is integer ppm — the
    q105-style integer-rational clearing, so the ratio itself sits
    on the hash-compared oracle.

    Scale shape: part dim broadcast, ship-date filter pushed to the
    lineitem scan, ONE hash agg on the 12-row month key."""
    li = _t(spark, sf_dir, "lineitem").where(
        (F.col("l_shipdate") >= F.lit("1995-01-01").cast("timestamp"))
        & (F.col("l_shipdate") < F.lit("1996-01-01").cast("timestamp"))
    )
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_type")
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    ).cast("decimal(18,4)")
    promo = F.when(F.col("p_type") == "PROMO", rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
        .groupBy(F.month("l_shipdate").alias("ship_month"))
        .agg(
            (F.sum(promo) * 10000).cast("bigint").alias("promo_rev_e4"),
            (F.sum(rev) * 10000).cast("bigint").alias("total_rev_e4"),
        )
        .select(
            F.col("ship_month").cast("int").alias("ship_month"),
            "promo_rev_e4",
            "total_rev_e4",
            F.expr(
                "CAST(promo_rev_e4 * 1000000 div total_rev_e4 AS BIGINT)"
            ).alias("promo_ppm"),
        )
    )


ORACLE_Q221 = """
WITH j AS (
  SELECT month(l_shipdate) AS ship_month, p_type,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(18,4)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE l_shipdate >= TIMESTAMP '1995-01-01'
    AND l_shipdate <  TIMESTAMP '1996-01-01'
)
SELECT CAST(ship_month AS INTEGER) AS ship_month,
       CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                     ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT)
         AS promo_rev_e4,
       CAST(sum(rev) * 10000 AS BIGINT) AS total_rev_e4,
       CAST(CAST(sum(CASE WHEN p_type = 'PROMO' THEN rev
                          ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000
                 AS BIGINT) * 1000000
            // CAST(sum(rev) * 10000 AS BIGINT) AS BIGINT) AS promo_ppm
FROM j GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q222-q224: correlated-subquery / decorrelation family (TPC-H Q17/Q18/Q22
# shapes) — the one classic plan axis the catalog did not yet exercise:
# a correlated scalar subquery decorrelated into an aggregate join, a
# HAVING-subquery semi join, and a global-scalar-subquery + anti join.
# ---------------------------------------------------------------------------


def q222_small_quantity_revenue(spark, sf_dir):
    """TPC-H Q17 shape (small-quantity-order revenue): revenue from
    lineitems whose quantity is below 20% of the average quantity
    ordered for THAT part — the canonical CORRELATED SCALAR SUBQUERY
    (`l_quantity < 0.2 * (SELECT avg(l_quantity) WHERE same part)`),
    written the way an optimizer decorrelates it: one per-part
    aggregate relation, joined back to the fact on the same key.

    Exactness: the 0.2*avg comparison is cleared of division —
    `5 * qty * n_part < sum_qty_part` over e2-scaled BIGINT
    quantities (quantities carry <=2 decimals by schema contract),
    so the predicate is integer-exact in both engines; revenue is
    DECIMAL(18,4) summed then cleared to BIGINT ten-thousandths.

    Scale shape: the per-part aggregate shuffles lineitem once on
    l_partkey and the join back lands on the SAME key — Catalyst
    co-partitions the pair (one Exchange feeds both); the part dim
    joins broadcast.  No row ever compares against more than one
    aggregate row (the subquery is keyed), so fan-out is 1."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand")
    qty_e2 = F.expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)")
    per_part = li.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.count(F.lit(1)).alias("n_li"),
        F.sum(qty_e2).alias("sum_qty_e2"),
    )
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    ).cast("decimal(18,4)")
    small = (
        li.join(per_part, F.col("l_partkey") == F.col("pk"))
        .where(F.lit(5) * qty_e2 * F.col("n_li") < F.col("sum_qty_e2"))
        .join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    )
    return small.groupBy("p_brand").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_small"),
        (F.sum(rev) * 10000).cast("bigint").alias("small_rev_e4"),
    )


ORACLE_Q222 = """
WITH pa AS (
  SELECT l_partkey AS pk, count(*) AS n_li,
         sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
           AS sum_qty_e2
  FROM lineitem GROUP BY 1
)
SELECT p_brand,
       CAST(count(*) AS BIGINT) AS n_small,
       CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                     (CAST(1 AS DECIMAL(18,2)) -
                      CAST(l_discount AS DECIMAL(18,2)))
                     AS DECIMAL(18,4))) * 10000 AS BIGINT) AS small_rev_e4
FROM lineitem
JOIN pa ON l_partkey = pk
JOIN part ON p_partkey = l_partkey
WHERE 5 * CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) * n_li
      < sum_qty_e2
GROUP BY 1
"""


def q223_large_volume_orders(spark, sf_dir):
    """TPC-H Q18 shape (large-volume customers): orders whose total
    lineitem quantity exceeds 250 units — the HAVING-subquery semi
    join (`o_orderkey IN (SELECT l_orderkey ... GROUP BY ... HAVING
    sum(qty) > t)`): the filter runs on an AGGREGATED relation, and
    only qualifying keys ever touch the orders table.

    Exactness: quantities e2-scaled to BIGINT before summing; the
    top-20 total order is pinned by (order_qty_e2 DESC, o_orderkey)
    — o_orderkey is unique, so the limit is deterministic.

    Scale shape: the qty rollup is lineitem's one shuffle (orderkey,
    map-side combinable); the HAVING filter drops ~99% of keys
    BEFORE the join to orders, so the join moves the small surviving
    set; the customer dim broadcasts; top-20 plans as
    TakeOrderedAndProject (per-partition heaps + a 20-row driver
    merge), never a global sort."""
    li = _t(spark, sf_dir, "lineitem")
    qty_e2 = F.expr("CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)")
    big = (
        li.groupBy("l_orderkey")
        .agg(F.sum(qty_e2).alias("order_qty_e2"))
        .where(F.col("order_qty_e2") > 250 * 100)
    )
    o = _t(spark, sf_dir, "orders")
    c = _t(spark, sf_dir, "customer").select("c_custkey", "c_name")
    return (
        o.join(big, F.col("o_orderkey") == F.col("l_orderkey"))
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
        .select(
            "c_name",
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.date_format("o_orderdate", "yyyy-MM-dd").alias("o_orderdate"),
            F.expr(
                "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            ).alias("o_totalprice_e2"),
            "order_qty_e2",
        )
        .orderBy(F.desc("order_qty_e2"), "o_orderkey")
        .limit(20)
    )


ORACLE_Q223 = """
WITH big AS (
  SELECT l_orderkey,
         CAST(sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
              AS BIGINT) AS order_qty_e2
  FROM lineitem GROUP BY 1
  HAVING sum(CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT))
         > 25000
)
SELECT c_name,
       o_orderkey,
       strftime(o_orderdate, '%Y-%m-%d') AS o_orderdate,
       CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)
         AS o_totalprice_e2,
       order_qty_e2
FROM orders
JOIN big ON o_orderkey = l_orderkey
JOIN customer ON o_custkey = c_custkey
ORDER BY order_qty_e2 DESC, o_orderkey
LIMIT 20
"""


def q224_dormant_high_balance(spark, sf_dir):
    """TPC-H Q22 shape (global-market opportunity): customers whose
    account balance beats the GLOBAL positive-balance average
    (scalar subquery over the whole relation) but who placed no
    order since 2000-01-01 (anti join against the recent-order key
    set), rolled up per market segment — the uncorrelated-scalar +
    NOT-EXISTS pair that completes the subquery family started by
    q222 (correlated scalar) and q223 (HAVING semi).

    Exactness: `bal > avg(bal)` is cleared of division as
    `bal_e2 * n_pos > sum_pos_e2` over cent-scaled BIGINTs —
    `round()` pins the double->cents conversion identically in both
    engines.

    Scale shape: the global aggregate is ONE row, broadcast into a
    map-side predicate (the q174/q98 1-row-denominator discipline);
    the recent-buyer key set is distinct fixed-width keys anti-
    joined on custkey (one equi shuffle; at 100 TB the date filter
    pushes to the orders scan and the distinct halves the shuffle);
    the final rollup is segment-scale."""
    c = _t(spark, sf_dir, "customer")
    o = _t(spark, sf_dir, "orders")
    bal_e2 = F.expr("CAST(round(c_acctbal * 100) AS BIGINT)")
    glob = c.where(F.col("c_acctbal") > 0).agg(
        F.count(F.lit(1)).alias("n_pos"),
        F.sum(bal_e2).alias("sum_pos_e2"),
    )
    recent = (
        o.where(F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp"))
        .select("o_custkey")
        .distinct()
    )
    rich = c.crossJoin(F.broadcast(glob)).where(
        bal_e2 * F.col("n_pos") > F.col("sum_pos_e2")
    )
    dormant = rich.join(
        recent, F.col("c_custkey") == F.col("o_custkey"), "left_anti"
    )
    return dormant.groupBy("c_mktsegment").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_cust"),
        F.sum(bal_e2).cast("bigint").alias("total_bal_e2"),
    )


ORACLE_Q224 = """
WITH g AS (
  SELECT count(*) AS n_pos,
         sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS sum_pos_e2
  FROM customer WHERE c_acctbal > 0
),
recent AS (
  SELECT DISTINCT o_custkey FROM orders
  WHERE o_orderdate >= TIMESTAMP '2000-01-01'
)
SELECT c_mktsegment,
       CAST(count(*) AS BIGINT) AS n_cust,
       CAST(sum(CAST(round(c_acctbal * 100) AS BIGINT)) AS BIGINT)
         AS total_bal_e2
FROM customer, g
WHERE CAST(round(c_acctbal * 100) AS BIGINT) * g.n_pos > g.sum_pos_e2
  AND c_custkey NOT IN (SELECT o_custkey FROM recent)
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q225: Theil–Sen robust trend slope (median of pairwise slopes)
# ---------------------------------------------------------------------------

# LCM(1..29): every possible day-gap dx in a <=30-day window divides it,
# so (dy * LCM) / dx is an EXACT integer — pairwise slopes become
# comparable/sortable BIGINTs with zero rounding.  2.33e12; with daily
# counts |dy| <= ~4e5 the product stays under 2^63 (document DECIMAL(38)
# intermediates if a deployment's daily deltas exceed ~3.9e6).
_TS_LCM = 2329089562800


def q225_theil_sen_slope(spark, sf_dir):
    """Per-event-type Theil–Sen activity trend: the MEDIAN of all
    pairwise day-to-day slopes — the robust complement of q164's OLS
    (one crazy crawl day drags a least-squares slope arbitrarily far;
    the median of C(n,2) pairwise slopes moves only when HALF the
    pairs move, breakdown point ~29%).

    Exactness: slope(i,j) = (y_j−y_i)/(x_j−x_i) is scaled by
    LCM(1..29) — every gap in a ≤30-day window divides it, so each
    pairwise slope is an EXACT BIGINT and the median is nearest-rank
    (lower) over those integers; the reported milli-slope uses the
    q164 sign-explicit truncation (Spark `div` truncates, DuckDB `//`
    floors — they differ on the negative slopes this data produces).

    Scale shape: the corpus is touched by ONE linear (type, day) hash
    agg; the pair generator self-joins the DAYS relation per type
    (≤ C(30,2) = 435 rows/type — the q171 bounded-pair argument);
    the median rank window runs on that same bounded relation."""
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
    a = pts.select("event_type", F.col("x").alias("x1"), F.col("y").alias("y1"))
    b = pts.select(
        F.col("event_type").alias("et2"),
        F.col("x").alias("x2"),
        F.col("y").alias("y2"),
    )
    pairs = (
        a.join(b, (F.col("event_type") == F.col("et2")) & (F.col("x2") > F.col("x1")))
        .select(
            "event_type",
            F.expr(f"(y2 - y1) * {_TS_LCM} div (x2 - x1)").alias("slope_scaled"),
            "x1",
            "x2",
        )
    )
    wrank = Window.partitionBy("event_type").orderBy("slope_scaled", "x1", "x2")
    wall = Window.partitionBy("event_type")
    ranked = pairs.withColumn("rk", F.row_number().over(wrank)).withColumn(
        "n_pairs", F.count(F.lit(1)).over(wall)
    )
    med = ranked.where(F.expr("rk = (n_pairs + 1) div 2")).select(
        "event_type",
        F.col("n_pairs").cast("bigint").alias("n_pairs"),
        F.col("slope_scaled").alias("med_slope_scaled"),
    )
    ndays = pts.groupBy("event_type").agg(F.count(F.lit(1)).alias("n_days"))
    return med.join(ndays, "event_type").select(
        "event_type",
        F.col("n_days").cast("bigint").alias("n_days"),
        "n_pairs",
        "med_slope_scaled",
        F.expr(
            "CAST((CASE WHEN med_slope_scaled > 0 THEN 1 "
            "WHEN med_slope_scaled < 0 THEN -1 ELSE 0 END) "
            f"* ((1000 * abs(med_slope_scaled)) div {_TS_LCM}) AS BIGINT)"
        ).alias("slope_milli"),
    )


ORACLE_Q225 = f"""
WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*) AS y
  FROM events GROUP BY 1, 2
),
d0 AS (SELECT min(ts::DATE) AS d0 FROM events),
pts AS (
  SELECT event_type, CAST(d - d0.d0 AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM daily, d0
),
pairs AS (
  SELECT a.event_type,
         (b.y - a.y) * {_TS_LCM} // (b.x - a.x) AS slope_scaled,
         a.x AS x1, b.x AS x2
  FROM pts a JOIN pts b
    ON a.event_type = b.event_type AND b.x > a.x
),
ranked AS (
  SELECT event_type, slope_scaled,
         row_number() OVER (PARTITION BY event_type
                            ORDER BY slope_scaled, x1, x2) AS rk,
         count(*) OVER (PARTITION BY event_type) AS n_pairs
  FROM pairs
),
med AS (
  SELECT event_type, CAST(n_pairs AS BIGINT) AS n_pairs,
         slope_scaled AS med_slope_scaled
  FROM ranked WHERE rk = (n_pairs + 1) // 2
),
nd AS (SELECT event_type, CAST(count(*) AS BIGINT) AS n_days FROM pts GROUP BY 1)
SELECT med.event_type, nd.n_days, med.n_pairs, med.med_slope_scaled,
       CAST((CASE WHEN med_slope_scaled > 0 THEN 1
                  WHEN med_slope_scaled < 0 THEN -1 ELSE 0 END)
            * ((1000 * abs(med_slope_scaled)) // {_TS_LCM}) AS BIGINT)
         AS slope_milli
FROM med JOIN nd ON med.event_type = nd.event_type
"""


# ---------------------------------------------------------------------------
# q226: Merkle-style hierarchical snapshot diff (anti-entropy sync audit)
# ---------------------------------------------------------------------------


def q226_merkle_snapshot_diff(spark, sf_dir):
    """Hierarchical (Merkle-tree-style) diff between two corpus
    snapshots — the rsync/anti-entropy discipline: compare 64 BUCKET
    digests first, drill to row level ONLY inside dirty buckets.
    q119 diffs two snapshots row by row (one full-outer join over
    everything); at 100 TB the bucket pass is a pair of linear aggs
    and the expensive row-level join touches only the dirty slice —
    `rows_rowlevel` prices exactly that saving.

    Snapshot B is a documented deterministic perturbation of A
    (the q119 fixture discipline): doc_id%101==0 deleted,
    doc_id%17==0 re-digested (changed), and for doc_id%97==0 a new
    row appears at doc_id+1000000.

    Exactness: row digest = portable 60-bit md5; bucket digest =
    commutative DECIMAL(38,0) SUM of row digests (the q92 checksum
    discipline — order- and partitioning-independent, no overflow at
    any corpus size); a bucket is dirty iff (count, sum) differ.

    Scale shape: two linear (bucket) aggs with map-side partials; the
    64-row bucket join is metadata-scale; the row-level full-outer
    join is gated by a semi join against the dirty-bucket list."""
    docs = _t(spark, sf_dir, "documents").select("doc_id", "text")
    dig_a = md5_i64_expr(F.col("text"), salt="snap#")
    a = docs.select(
        F.col("doc_id").alias("id"), dig_a.alias("dig")
    )
    changed = md5_i64_expr(F.col("text"), salt="v2#")
    b_kept = docs.where(F.expr("doc_id % 101 != 0")).select(
        F.col("doc_id").alias("id"),
        F.when(F.expr("doc_id % 17 = 0"), changed).otherwise(dig_a).alias("dig"),
    )
    b_new = docs.where(F.expr("doc_id % 97 = 0")).select(
        (F.col("doc_id") + 1000000).alias("id"),
        md5_i64_expr(F.col("text"), salt="new#").alias("dig"),
    )
    b = b_kept.unionByName(b_new)

    def level1(df, n_name, s_name):
        return df.groupBy(F.expr("id % 64").alias("bucket")).agg(
            F.count(F.lit(1)).alias(n_name),
            F.sum(F.col("dig").cast("decimal(38,0)")).alias(s_name),
        )

    l1 = (
        level1(a, "n_a", "s_a")
        .join(level1(b, "n_b", "s_b"), "bucket", "full")
        .select(
            "bucket",
            F.coalesce("n_a", F.lit(0)).cast("bigint").alias("n_a"),
            F.coalesce("n_b", F.lit(0)).cast("bigint").alias("n_b"),
            (
                ~(
                    F.col("n_a").eqNullSafe(F.col("n_b"))
                    & F.col("s_a").eqNullSafe(F.col("s_b"))
                )
            )
            .cast("int")
            .alias("dirty"),
        )
    )
    dirty = l1.where(F.col("dirty") == 1).select("bucket")
    aj = a.withColumn("bucket", F.expr("id % 64")).join(
        F.broadcast(dirty), "bucket", "left_semi"
    )
    bj = b.withColumn("bucket", F.expr("id % 64")).join(
        F.broadcast(dirty), "bucket", "left_semi"
    )
    drill = (
        aj.select("bucket", "id", F.col("dig").alias("da"))
        .join(
            bj.select(F.col("id").alias("idb"), F.col("dig").alias("db")),
            F.col("id") == F.col("idb"),
            "full",
        )
        .select(
            F.coalesce("bucket", F.expr("idb % 64")).alias("bkt"),
            F.when(F.col("id").isNotNull() & F.col("idb").isNotNull()
                   & (F.col("da") != F.col("db")), 1).otherwise(0).alias("chg"),
            F.when(F.col("idb").isNull(), 1).otherwise(0).alias("rem"),
            F.when(F.col("id").isNull(), 1).otherwise(0).alias("add"),
            F.lit(1).alias("one"),
        )
        .groupBy("bkt")
        .agg(
            F.sum("chg").alias("n_changed"),
            F.sum("rem").alias("n_removed"),
            F.sum("add").alias("n_added"),
        )
    )
    return (
        l1.join(drill, l1.bucket == drill.bkt, "left")
        .select(
            "bucket",
            "n_a",
            "n_b",
            "dirty",
            F.coalesce("n_changed", F.lit(0)).cast("bigint").alias("n_changed"),
            F.coalesce("n_added", F.lit(0)).cast("bigint").alias("n_added"),
            F.coalesce("n_removed", F.lit(0)).cast("bigint").alias("n_removed"),
            F.when(F.col("dirty") == 1, F.col("n_a") + F.col("n_b"))
            .otherwise(F.lit(0))
            .cast("bigint")
            .alias("rows_rowlevel"),
        )
    )


def _oracle_q226() -> str:
    dig_a = duck_md5_i64("text", salt="snap#")
    dig_c = duck_md5_i64("text", salt="v2#")
    dig_n = duck_md5_i64("text", salt="new#")
    return f"""
WITH a AS (
  SELECT doc_id AS id, {dig_a} AS dig FROM documents
),
b AS (
  SELECT doc_id AS id,
         CASE WHEN doc_id % 17 = 0 THEN {dig_c} ELSE {dig_a} END AS dig
  FROM documents WHERE doc_id % 101 != 0
  UNION ALL
  SELECT doc_id + 1000000 AS id, {dig_n} AS dig
  FROM documents WHERE doc_id % 97 = 0
),
la AS (SELECT id % 64 AS bucket, count(*) AS n_a,
              sum(CAST(dig AS DECIMAL(38,0))) AS s_a FROM a GROUP BY 1),
lb AS (SELECT id % 64 AS bucket, count(*) AS n_b,
              sum(CAST(dig AS DECIMAL(38,0))) AS s_b FROM b GROUP BY 1),
l1 AS (
  SELECT coalesce(la.bucket, lb.bucket) AS bucket,
         CAST(coalesce(n_a, 0) AS BIGINT) AS n_a,
         CAST(coalesce(n_b, 0) AS BIGINT) AS n_b,
         CASE WHEN n_a IS NOT DISTINCT FROM n_b
               AND s_a IS NOT DISTINCT FROM s_b THEN 0 ELSE 1 END AS dirty
  FROM la FULL JOIN lb ON la.bucket = lb.bucket
),
dirtyb AS (SELECT bucket FROM l1 WHERE dirty = 1),
aj AS (SELECT id % 64 AS bucket, id, dig FROM a
       WHERE id % 64 IN (SELECT bucket FROM dirtyb)),
bj AS (SELECT id % 64 AS bucket, id, dig FROM b
       WHERE id % 64 IN (SELECT bucket FROM dirtyb)),
drill AS (
  SELECT coalesce(aj.bucket, bj.bucket) AS bkt,
         sum(CASE WHEN aj.id IS NOT NULL AND bj.id IS NOT NULL
                   AND aj.dig != bj.dig THEN 1 ELSE 0 END) AS n_changed,
         sum(CASE WHEN bj.id IS NULL THEN 1 ELSE 0 END) AS n_removed,
         sum(CASE WHEN aj.id IS NULL THEN 1 ELSE 0 END) AS n_added
  FROM aj FULL JOIN bj ON aj.id = bj.id
  GROUP BY 1
)
SELECT l1.bucket, l1.n_a, l1.n_b, l1.dirty,
       CAST(coalesce(n_changed, 0) AS BIGINT) AS n_changed,
       CAST(coalesce(n_added, 0) AS BIGINT) AS n_added,
       CAST(coalesce(n_removed, 0) AS BIGINT) AS n_removed,
       CAST(CASE WHEN dirty = 1 THEN n_a + n_b ELSE 0 END AS BIGINT)
         AS rows_rowlevel
FROM l1 LEFT JOIN drill ON l1.bucket = drill.bkt
"""


ORACLE_Q226 = _oracle_q226()


# ---------------------------------------------------------------------------
# q227: peak session concurrency via distributed sweep line
# ---------------------------------------------------------------------------


def q227_peak_concurrency(spark, sf_dir):
    """Peak concurrent sessions per day — the interval-stabbing /
    sweep-line statistic (capacity planning: "how many sessions were
    EVER open at once?").  Sessions are q11's 5-minute-gap windows;
    each emits a +1 boundary at its start and a −1 at its end, and
    concurrency is the running sum over boundaries ordered by
    (t, delta) — delta −1 sorting first, so a session ending exactly
    when another starts never overlaps it.

    Scale shape: the running sum is NOT a global single-partition
    window — it is the classic two-phase distributed prefix sum:
    per-hour partial sums, a cumulative pass over the HOURS relation
    (metadata-scale, the q128 bounded-domain argument), offsets
    joined back, and the within-hour window partitioned BY HOUR
    (parallel).  The oracle computes the same thing with one flat
    window, proving the two-phase decomposition exact.  RANGE frames
    (both engines' default) make tie groups atomic, so equal-(t,
    delta) boundaries collapse deterministically."""
    ev = _t(spark, sf_dir, "events")
    sess = (
        ev.groupBy(F.session_window("ts", "5 minutes").alias("sw"), "user_id")
        .agg(F.count(F.lit(1)).alias("n_events"))
        .select(
            F.unix_timestamp("sw.start").alias("t0"),
            F.unix_timestamp("sw.end").alias("t1"),
        )
    )
    bounds = sess.select(F.col("t0").alias("t"), F.lit(1).alias("delta")).unionByName(
        sess.select(F.col("t1").alias("t"), F.lit(-1).alias("delta"))
    )
    bounds = bounds.withColumn("h", F.expr("t div 3600"))
    hourly = bounds.groupBy("h").agg(F.sum("delta").alias("hsum"))
    wh = Window.orderBy("h").rowsBetween(Window.unboundedPreceding, -1)
    offsets = hourly.select(
        "h", F.coalesce(F.sum("hsum").over(wh), F.lit(0)).alias("off")
    )
    wrun = Window.partitionBy("h").orderBy("t", "delta")
    running = (
        bounds.join(offsets, "h")
        .withColumn("run", F.sum("delta").over(wrun) + F.col("off"))
    )
    return (
        running.groupBy(F.expr("t div 86400").alias("day_idx"))
        .agg(
            F.max("run").cast("bigint").alias("peak_concurrent"),
            F.sum(F.when(F.col("delta") == 1, 1).otherwise(0))
            .cast("bigint")
            .alias("n_starts"),
        )
        .select(F.col("day_idx").cast("bigint"), "peak_concurrent", "n_starts")
    )


ORACLE_Q227 = """
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
), sess AS (
  SELECT CAST(floor(epoch(min(ts))) AS BIGINT) AS t0,
         CAST(floor(epoch(max(ts) + INTERVAL 5 minutes)) AS BIGINT) AS t1
  FROM numbered GROUP BY user_id, session_id
), bounds AS (
  SELECT t0 AS t, 1 AS delta FROM sess
  UNION ALL
  SELECT t1 AS t, -1 AS delta FROM sess
), running AS (
  SELECT t, delta,
         sum(delta) OVER (ORDER BY t, delta) AS run
  FROM bounds
)
SELECT CAST(t // 86400 AS BIGINT) AS day_idx,
       CAST(max(run) AS BIGINT) AS peak_concurrent,
       CAST(sum(CASE WHEN delta = 1 THEN 1 ELSE 0 END) AS BIGINT) AS n_starts
FROM running GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q228: STREAMING event-time re-sequencer (out-of-order -> ordered repair)
# ---------------------------------------------------------------------------


def _events_stream_fixture_scrambled(spark, sf_dir, n_files: int = 4) -> str:
    """The q66/q75 time-ordered fixture with each micro-batch's rows
    SCRAMBLED (sorted by md5 of event_id): cross-batch event-time
    monotonicity holds (so nothing is late), but within-batch arrival
    order is garbage — exactly the input a re-sequencer exists for."""
    import hashlib

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
    batches = []
    for i in range(n_files):
        b = ev.iloc[i * per : (i + 1) * per]
        if len(b):
            key = b["event_id"].map(
                lambda x: hashlib.md5(str(x).encode()).hexdigest()
            )
            batches.append(b.assign(_k=key).sort_values("_k").drop(columns="_k"))
    batches += [sent.iloc[:1], sent.iloc[1:]]
    src = _q_tmpdir("wrs-q-reseq-")
    write_batch_files(batches, src)
    return src


def q228_streaming_resequencer(spark, sf_dir):
    """STREAMING event-time re-sequencer: per-user events released in
    (ts, event_id) order with a per-key emission sequence number,
    each exactly once, as soon as the watermark proves no earlier
    event can still arrive — the out-of-order-to-ordered repair
    operator every in-order consumer (CDC apply, per-user timeline,
    change feed) needs in front of it.  Nothing else in the catalog
    emits ORDER on a stream: the stateful aggs emit aggregates and
    the joins emit matches; this emits the rows themselves, ordered.

    ORACLE-CHECKED: arrival order within each micro-batch is
    deliberately SCRAMBLED (md5 order) — only cross-batch event-time
    monotonicity holds, as in any log-structured ingest — and the
    emitted seq must still equal the batch row_number() over
    (ts, event_id) per user: flushes release only watermark-proven
    prefixes, so concatenated flushes ARE the sorted order
    (streaming/resequence.py has the two-line proof).

    Scale shape: buffered rows per key are bounded by the watermark
    horizon; the seq counter is one int64 per ever-seen key (the
    q108 user-universe bound); keys re-arm an event-time timeout at
    watermark+1ms so buffers drain without new arrivals."""
    from ..sources.pages import stream_events_files
    from ..streaming.resequence import resequence_stream

    src = _events_stream_fixture_scrambled(spark, sf_dir)
    ev = stream_events_files(spark, src, 1)
    out = _drain(resequence_stream(ev), spark)
    return out.where(F.col("user_id") != SENTINEL_USER).select(
        "user_id", "event_id", "seq", "ts_epoch"
    )


ORACLE_Q228 = """
SELECT user_id, event_id,
       CAST(row_number() OVER (PARTITION BY user_id ORDER BY ts, event_id)
            AS BIGINT) AS seq,
       CAST(floor(epoch(ts)) AS BIGINT) AS ts_epoch
FROM events
"""


# ---------------------------------------------------------------------------
# q229: multi-touch linear attribution with exact credit conservation
# ---------------------------------------------------------------------------


def q229_linear_attribution(spark, sf_dir):
    """Multi-touch LINEAR attribution: each purchase's 1000
    milli-credits are split equally over ALL the user's preceding
    touches in the 24 h before it (q174 gives everything to the last
    touch; production attribution reads both and argues).  Integer
    credits conserve EXACTLY: base = 1000 div k per touch and the
    remainder goes to the r EARLIEST touches (largest-remainder rule,
    deterministic because every remainder ties and (ts, event_id) is
    unique) — so sum(credit) == 1000 * attributed_purchases, an
    identity the result exposes and the driver re-hashes every run.

    Scale shape: purchases join touches on user_id (ONE equi
    shuffle); fan-out is the user's 24 h activity, bounded by the
    horizon like the streaming interval joins (q75); the rank window
    partitions by purchase (parallel, fan-out-scale); channel rollup
    is TYPE-scale."""
    ev = _t(spark, sf_dir, "events")
    purchases = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.col("ts").alias("p_ts"),
    )
    touches = ev.where(F.col("event_type") != "purchase").select(
        "user_id",
        F.col("event_id").alias("t_id"),
        F.col("event_type").alias("channel"),
        F.col("ts").alias("t_ts"),
    )
    joined = purchases.join(
        touches,
        (F.col("p_user") == F.col("user_id"))
        & (F.col("t_ts") < F.col("p_ts"))
        & (F.col("t_ts") >= F.col("p_ts") - F.expr("INTERVAL 24 HOURS")),
    )
    wp = Window.partitionBy("p_id").orderBy("t_ts", "t_id")
    wk = Window.partitionBy("p_id")
    credited = (
        joined.withColumn("rk", F.row_number().over(wp))
        .withColumn("k", F.count(F.lit(1)).over(wk))
        .withColumn(
            "credit_milli",
            F.expr("1000 div k + CASE WHEN rk <= 1000 % k THEN 1 ELSE 0 END"),
        )
    )
    return credited.groupBy("channel").agg(
        F.sum("credit_milli").cast("bigint").alias("credit_milli"),
        F.count(F.lit(1)).cast("bigint").alias("n_touches"),
        F.countDistinct("p_id").cast("bigint").alias("n_purchases_touched"),
    )


ORACLE_Q229 = """
WITH joined AS (
  SELECT p.event_id AS p_id, t.event_id AS t_id,
         t.event_type AS channel, t.ts AS t_ts
  FROM events p JOIN events t
    ON p.user_id = t.user_id
   AND p.event_type = 'purchase' AND t.event_type != 'purchase'
   AND t.ts < p.ts AND t.ts >= p.ts - INTERVAL 24 HOURS
),
credited AS (
  SELECT channel,
         1000 // k + CASE WHEN rk <= 1000 % k THEN 1 ELSE 0 END
           AS credit_milli,
         p_id
  FROM (
    SELECT channel, p_id,
           row_number() OVER (PARTITION BY p_id ORDER BY t_ts, t_id) AS rk,
           count(*) OVER (PARTITION BY p_id) AS k
    FROM joined
  )
)
SELECT channel,
       CAST(sum(credit_milli) AS BIGINT) AS credit_milli,
       CAST(count(*) AS BIGINT) AS n_touches,
       CAST(count(DISTINCT p_id) AS BIGINT) AS n_purchases_touched
FROM credited GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q230: linear-interpolation gap fill (the numeric complement of q102)
# ---------------------------------------------------------------------------


def q230_interpolated_gapfill(spark, sf_dir):
    """Per-user hourly gap fill by LINEAR INTERPOLATION between the
    surrounding samples — q102 forward-fills (a step function); a
    numeric telemetry series (load, temperature, queue depth) wants
    the line between samples instead.  For each consecutive pair of
    sample hours (h0,v0) -> (h1,v1), the missing hours strictly
    between get v0 + (v1-v0)·(h-h0)/(h1-h0), computed in cent-scaled
    integers with the q164 sign-explicit truncation (deltas CAN be
    negative, and Spark's div truncates where DuckDB's // floors).

    Hour value = the LAST sample in the hour by (ts, event_id) —
    deterministic under ties.  No extrapolation: leading/trailing
    hours stay absent (interpolation needs both endpoints; q102 owns
    the hold-last semantics).

    Scale shape: ONE (user, hour) agg (max_by, map-side combinable),
    one lead window per user over the HOURS relation (bounded-domain,
    the q102/q128 argument), missing hours generated DISTRIBUTED via
    sequence()+explode — never a calendar crossJoin."""
    ev = _t(spark, sf_dir, "events")
    hourly = ev.groupBy(
        "user_id",
        (F.expr("floor(unix_timestamp(ts) / 3600)") * 3600)
        .cast("bigint")
        .alias("h"),
    ).agg(
        F.expr(
            "max_by(CAST(round(value * 100) AS BIGINT), struct(ts, event_id))"
        ).alias("v_e2")
    )
    wl = Window.partitionBy("user_id").orderBy("h")
    seg = hourly.select(
        "user_id",
        F.col("h").alias("h0"),
        F.col("v_e2").alias("v0"),
        F.lead("h").over(wl).alias("h1"),
        F.lead("v_e2").over(wl).alias("v1"),
    ).where(F.col("h1").isNotNull() & (F.col("h1") > F.col("h0") + 3600))
    filled = seg.select(
        "user_id",
        F.explode(
            F.sequence(
                F.col("h0") + 3600, F.col("h1") - 3600, F.lit(3600)
            )
        ).alias("hour_epoch"),
        "h0",
        "v0",
        "h1",
        "v1",
    ).select(
        "user_id",
        "hour_epoch",
        F.expr(
            "CAST(v0 + (CASE WHEN v1 >= v0 THEN 1 ELSE -1 END) * "
            "((abs(v1 - v0) * ((hour_epoch - h0) div 3600)) "
            "div ((h1 - h0) div 3600)) AS BIGINT)"
        ).alias("v_e2"),
        F.lit(1).alias("interpolated"),
    )
    present = hourly.select(
        "user_id",
        F.col("h").alias("hour_epoch"),
        F.col("v_e2").cast("bigint").alias("v_e2"),
        F.lit(0).alias("interpolated"),
    )
    return present.unionByName(filled).select(
        "user_id",
        "hour_epoch",
        "v_e2",
        F.col("interpolated").cast("int").alias("interpolated"),
    )


ORACLE_Q230 = """
WITH ranked AS (
  SELECT user_id,
         CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS h,
         CAST(round(value * 100) AS BIGINT) AS v_e2,
         row_number() OVER (
           PARTITION BY user_id,
                        CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)
           ORDER BY ts DESC, event_id DESC) AS rn
  FROM events
),
hourly AS (
  SELECT user_id, h, v_e2 FROM ranked WHERE rn = 1
),
seg AS (
  SELECT user_id, h AS h0, v_e2 AS v0,
         lead(h) OVER (PARTITION BY user_id ORDER BY h) AS h1,
         lead(v_e2) OVER (PARTITION BY user_id ORDER BY h) AS v1
  FROM hourly
),
filled AS (
  SELECT user_id, CAST(unnest(generate_series(h0 + 3600, h1 - 3600, 3600))
           AS BIGINT) AS hour_epoch,
         h0, v0, h1, v1
  FROM seg WHERE h1 IS NOT NULL AND h1 > h0 + 3600
)
SELECT user_id, hour_epoch,
       CAST(v0 + (CASE WHEN v1 >= v0 THEN 1 ELSE -1 END) *
            ((abs(v1 - v0) * ((hour_epoch - h0) // 3600))
             // ((h1 - h0) // 3600)) AS BIGINT) AS v_e2,
       1 AS interpolated
FROM filled
UNION ALL
SELECT user_id, h AS hour_epoch, CAST(v_e2 AS BIGINT) AS v_e2,
       0 AS interpolated
FROM hourly
"""


# ---------------------------------------------------------------------------
# q231: per-group argmin equality join (TPC-H Q2 shape)
# ---------------------------------------------------------------------------


def q231_preferred_supplier(spark, sf_dir):
    """TPC-H Q2 shape (min-cost supplier): for every part, the
    supplier(s) achieving the MINIMUM unit price across its
    lineitems — the correlated-min subquery (`price = (SELECT
    min(price) WHERE same part)`) decorrelated into a per-part min
    relation joined back on EQUALITY of (part, min) — the argmin
    join, third member of the subquery family after q222 (correlated
    avg), q223 (HAVING semi) and q224 (global scalar + anti).

    Exactness: unit price is DEFINED as integer micro-units with
    explicit truncation — (price_e2 * 10000) div qty_e2 — so the
    argmin is over BIGINTs and tie sets are identical in both
    engines; Q2 keeps all ties, here they are counted and the
    reported winner is the deterministic min suppkey among them.

    Scale shape: unit prices shuffle once on l_partkey; the min
    relation and the join back land on the SAME key (one Exchange
    feeds both, the q222 pattern); output is part-relation scale."""
    li = _t(spark, sf_dir, "lineitem")
    up = li.select(
        "l_partkey",
        "l_suppkey",
        F.expr(
            "(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " * 10000) div CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100"
            " AS BIGINT)"
        ).alias("unit_micro"),
    )
    mins = up.groupBy(F.col("l_partkey").alias("pk")).agg(
        F.min("unit_micro").alias("min_unit_micro")
    )
    best = up.join(
        mins,
        (F.col("l_partkey") == F.col("pk"))
        & (F.col("unit_micro") == F.col("min_unit_micro")),
    )
    return best.groupBy("l_partkey").agg(
        F.max("min_unit_micro").cast("bigint").alias("min_unit_micro"),
        F.countDistinct("l_suppkey").cast("bigint").alias("n_best_suppliers"),
        F.min("l_suppkey").cast("bigint").alias("best_suppkey"),
    )


ORACLE_Q231 = """
WITH up AS (
  SELECT l_partkey, l_suppkey,
         (CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
          * 10000) // CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)
           AS unit_micro
  FROM lineitem
),
mins AS (
  SELECT l_partkey AS pk, min(unit_micro) AS min_unit_micro
  FROM up GROUP BY 1
)
SELECT l_partkey,
       CAST(max(min_unit_micro) AS BIGINT) AS min_unit_micro,
       CAST(count(DISTINCT l_suppkey) AS BIGINT) AS n_best_suppliers,
       CAST(min(l_suppkey) AS BIGINT) AS best_suppkey
FROM up JOIN mins ON l_partkey = pk AND unit_micro = min_unit_micro
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q232: time-RANGE-frame trailing window features
# ---------------------------------------------------------------------------


def q232_trailing_window_features(spark, sf_dir):
    """Per-event TRAILING 30-MINUTE activity features via a RANGE
    window frame over epoch seconds — the frame mechanism nothing
    else in the catalog exercises: q55's moving frame counts ROWS
    (3 rows regardless of how much time they span); a rate/burst
    feature needs "everything in the last 1800 seconds", which is a
    VALUE-based frame.  RANGE frames are also tie-deterministic by
    construction: rows with equal order keys share one frame, so no
    tie-break column is needed (both engines define RANGE this way).

    Output per event: trailing count, trailing cent-exact value sum,
    and a burst flag (>= 8 events in the half hour) — the sustained-
    pressure feature q187's per-minute peak cannot see.

    Scale shape: one user-key window shuffle; the frame is evaluated
    by each engine's sliding algorithm over the per-user sort — no
    self-join blowup (the naive form is an interval self-join)."""
    ev = _t(spark, sf_dir, "events")
    e = F.unix_timestamp("ts").alias("es")
    w = (
        Window.partitionBy("user_id")
        .orderBy(F.unix_timestamp("ts"))
        .rangeBetween(-1799, 0)
    )
    return ev.select(
        "user_id",
        "event_id",
        e,
        F.count(F.lit(1)).over(w).cast("bigint").alias("n_30m"),
        F.sum(F.expr("CAST(round(value * 100) AS BIGINT)"))
        .over(w)
        .cast("bigint")
        .alias("sum_e2_30m"),
    ).select(
        "user_id",
        "event_id",
        F.col("es").cast("bigint").alias("ts_epoch"),
        "n_30m",
        "sum_e2_30m",
        (F.col("n_30m") >= 8).cast("int").alias("burst"),
    )


ORACLE_Q232 = """
SELECT user_id, event_id,
       CAST(es AS BIGINT) AS ts_epoch,
       CAST(count(*) OVER w AS BIGINT) AS n_30m,
       CAST(sum(v_e2) OVER w AS BIGINT) AS sum_e2_30m,
       CAST(CASE WHEN count(*) OVER w >= 8 THEN 1 ELSE 0 END AS INT) AS burst
FROM (
  SELECT user_id, event_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS es,
         CAST(round(value * 100) AS BIGINT) AS v_e2
  FROM events
)
WINDOW w AS (PARTITION BY user_id ORDER BY es
             RANGE BETWEEN 1799 PRECEDING AND CURRENT ROW)
"""


# ---------------------------------------------------------------------------
# q233: disjunctive multi-band predicate join (TPC-H Q19 shape)
# ---------------------------------------------------------------------------


def q233_multiband_disjunctive_revenue(spark, sf_dir):
    """TPC-H Q19 shape (discounted revenue under an OR-of-ANDs): each
    disjunct pairs a part-side condition (brand + size band) with a
    fact-side condition (quantity band), and the query is their OR —
    the predicate STRUCTURE that separates an optimizer that can only
    push conjuncts from one that derives pushable residuals (the
    fact-side OR of quantity bands confines the scan to qty <= 30
    regardless of brand).  Everything else in the catalog filters
    with conjunctions; this is the catalog's disjunction stress.

    Exactness: revenue DECIMAL(18,4) cleared to BIGINT
    ten-thousandths (q221 discipline); quantity bands compared on
    e2-scaled BIGINTs.

    Scale shape: part dim broadcast; the OR evaluates map-side after
    the join; per-band rollup is 3 rows.  The fact-side qty<=30
    envelope is applied EXPLICITLY before the join — the manual form
    of the residual derivation, guaranteeing the scan prunes even
    where the engine's CNF conversion would not."""
    li = _t(spark, sf_dir, "lineitem")
    p = _t(spark, sf_dir, "part").select("p_partkey", "p_brand", "p_size")
    qty_e2 = "CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT)"
    li = li.where(F.expr(f"{qty_e2} <= 4000"))  # derived envelope
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    ).cast("decimal(18,4)")
    j = li.join(F.broadcast(p), F.col("l_partkey") == F.col("p_partkey"))
    band = F.expr(
        f"""CASE
          WHEN p_brand = 'Brand#12' AND p_size <= 20
               AND {qty_e2} BETWEEN 100 AND 1500 THEN 'band1'
          WHEN p_brand = 'Brand#23' AND p_size <= 30
               AND {qty_e2} BETWEEN 1000 AND 2500 THEN 'band2'
          WHEN p_brand = 'Brand#9' AND p_size <= 40
               AND {qty_e2} BETWEEN 2000 AND 4000 THEN 'band3'
          ELSE NULL END"""
    )
    return (
        j.withColumn("band", band)
        .where(F.col("band").isNotNull())
        .groupBy("band")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_items"),
            (F.sum(rev) * 10000).cast("bigint").alias("revenue_e4"),
        )
    )


ORACLE_Q233 = """
WITH j AS (
  SELECT p_brand, p_size,
         CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) AS q_e2,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(18,4)) AS rev
  FROM lineitem JOIN part ON l_partkey = p_partkey
  WHERE CAST(CAST(l_quantity AS DECIMAL(18,2)) * 100 AS BIGINT) <= 4000
),
banded AS (
  SELECT CASE
           WHEN p_brand = 'Brand#12' AND p_size <= 20
                AND q_e2 BETWEEN 100 AND 1500 THEN 'band1'
           WHEN p_brand = 'Brand#23' AND p_size <= 30
                AND q_e2 BETWEEN 1000 AND 2500 THEN 'band2'
           WHEN p_brand = 'Brand#9' AND p_size <= 40
                AND q_e2 BETWEEN 2000 AND 4000 THEN 'band3'
           ELSE NULL END AS band,
         rev
  FROM j
)
SELECT band,
       CAST(count(*) AS BIGINT) AS n_items,
       CAST(sum(rev) * 10000 AS BIGINT) AS revenue_e4
FROM banded WHERE band IS NOT NULL
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q234: exact global quantiles via two-pass bucket selection (no global sort)
# ---------------------------------------------------------------------------


def q234_exact_global_quantiles(spark, sf_dir):
    """EXACT global p50/p90/p99 of a corpus-scale high-cardinality
    column WITHOUT a global sort — the two-pass selection every
    warehouse runs where `ORDER BY` over 10^12 rows is not an option:
    pass 1 is a linear bucket histogram (value div 4096) whose
    cumulative walk locates, per target rank, THE bucket containing
    it; pass 2 ranks only inside those buckets (a ~1/4096 slice).
    q36's exact percentiles sort per small GROUP (state = the group's
    multiset); q71's HDR sketch is approximate; this is exact AND
    global.

    Nearest-rank convention: r = (N·p + 99) div 100 (the q71
    convention), value = the r-th smallest.  All integer.

    Scale shape: ONE linear (bucket) hash agg; the cumulative walk
    and target location run on the BUCKET relation (bounded domain —
    price span / 4096); pass 2 is a broadcast semi join of the corpus
    against ≤3 bucket ids, and the rank window sees only in-bucket
    rows."""
    li = _t(spark, sf_dir, "lineitem")
    vals = li.select(
        F.expr(
            "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
        ).alias("v")
    ).withColumn("bucket", F.expr("v div 4096"))
    hist = vals.groupBy("bucket").agg(F.count(F.lit(1)).alias("cnt"))
    wcum = Window.orderBy("bucket").rowsBetween(Window.unboundedPreceding, -1)
    cum = hist.withColumn(
        "cum_before", F.coalesce(F.sum("cnt").over(wcum), F.lit(0))
    )
    total = vals.agg(F.count(F.lit(1)).alias("n"))
    targets = (
        cum.crossJoin(F.broadcast(total))
        .select(
            "bucket",
            "cum_before",
            "cnt",
            "n",
            F.explode(F.array(F.lit(50), F.lit(90), F.lit(99))).alias("p"),
        )
        .withColumn("rnk", F.expr("(n * p + 99) div 100"))
        .where(
            (F.col("cum_before") < F.col("rnk"))
            & (F.col("rnk") <= F.col("cum_before") + F.col("cnt"))
        )
        .select("p", "rnk", "n", F.col("bucket").alias("tb"), "cum_before")
    )
    cand = vals.join(F.broadcast(targets), F.col("bucket") == F.col("tb"))
    wrk = Window.partitionBy("p").orderBy("v")
    return (
        cand.withColumn("rk", F.row_number().over(wrk))
        .where(F.expr("rk = rnk - cum_before"))
        .select(
            F.col("p").cast("int").alias("p"),
            F.col("n").cast("bigint").alias("n_rows"),
            F.col("v").cast("bigint").alias("value_e2"),
        )
    )


ORACLE_Q234 = """
WITH v AS (
  SELECT CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT) AS v
  FROM lineitem
),
n AS (SELECT count(*) AS n FROM v),
t(p) AS (VALUES (50), (90), (99)),
r AS (SELECT p, (n.n * p + 99) // 100 AS rnk, n.n FROM t, n),
o AS (SELECT v, row_number() OVER (ORDER BY v) AS rn FROM v)
SELECT CAST(p AS INT) AS p,
       CAST(n AS BIGINT) AS n_rows,
       CAST(v AS BIGINT) AS value_e2
FROM r JOIN o ON o.rn = r.rnk
"""


# ---------------------------------------------------------------------------
# q235: int8 embedding quantization (ANN-serving compression)
# ---------------------------------------------------------------------------


def q235_embedding_quantization(spark, sf_dir):
    """Symmetric int8 quantization of the embedding column — the
    compression step an ANN serving tier runs before shipping vectors
    to memory-bound index nodes (4x smaller, SIMD-dot-product-ready).
    Per vector: scale = max|component|, q_i = trunc(127·x_i / scale)
    — and the whole thing is INTEGER-EXACT cross-engine because
    components are first cleared to micro-units via round(x·10^6)
    (the q122 discipline) and the per-element quantization uses
    sign-explicit integer division.

    The result carries its own error certificate: max_err_scaled =
    max_i |127·s_i − q_i·scale| is the exact numerator of the
    reconstruction error, provably < scale (division remainder), so
    relative error ≤ 1/127 — asserted per row in-query via err_ok.

    Scale shape: pure map-side higher-order array functions (zero
    shuffle, zero Python); the checksum is position-weighted so a
    permutation cannot hash-collide."""
    emb = _t(spark, sf_dir, "embeddings")
    return (
        emb.select(
            "vec_id",
            F.expr(
                "transform(CAST(embedding AS ARRAY<DOUBLE>), "
                "x -> CAST(round(x * 1000000) AS BIGINT))"
            ).alias("s"),
        )
        .withColumn(
            "scale",
            F.expr("greatest(array_max(transform(s, x -> abs(x))), 1L)"),
        )
        .withColumn(
            "q",
            F.expr(
                "transform(s, x -> (CASE WHEN x >= 0 THEN 1 ELSE -1 END) "
                "* ((abs(x) * 127) div scale))"
            ),
        )
        .select(
            "vec_id",
            F.col("scale").cast("bigint").alias("scale"),
            F.expr(
                "aggregate(zip_with(q, sequence(1, size(q)), (a, b) -> a * b), "
                "0L, (acc, x) -> acc + x)"
            )
            .cast("bigint")
            .alias("q_checksum"),
            F.expr(
                "array_max(zip_with(s, q, (a, b) -> abs(127 * a - b * scale)))"
            )
            .cast("bigint")
            .alias("max_err_scaled"),
            F.expr(
                "CAST(array_max(zip_with(s, q, (a, b) -> "
                "abs(127 * a - b * scale))) < scale AS INT)"
            ).alias("err_ok"),
        )
    )


ORACLE_Q235 = """
WITH s AS (
  SELECT vec_id,
         list_transform(embedding::DOUBLE[],
                        x -> CAST(round(x * 1000000) AS BIGINT)) AS sv
  FROM embeddings
),
sc AS (
  SELECT vec_id, sv,
         greatest(list_max(list_transform(sv, x -> abs(x))), 1) AS scale
  FROM s
),
q AS (
  SELECT vec_id, sv, scale,
         list_transform(sv, x -> (CASE WHEN x >= 0 THEN 1 ELSE -1 END)
                                 * ((abs(x) * 127) // scale)) AS qv
  FROM sc
)
SELECT vec_id,
       CAST(scale AS BIGINT) AS scale,
       CAST(list_sum(list_transform(range(1, len(qv) + 1),
                                    i -> qv[i] * i)) AS BIGINT) AS q_checksum,
       CAST(list_max(list_transform(range(1, len(qv) + 1),
            i -> abs(127 * sv[i] - qv[i] * scale))) AS BIGINT)
         AS max_err_scaled,
       CAST(CASE WHEN list_max(list_transform(range(1, len(qv) + 1),
            i -> abs(127 * sv[i] - qv[i] * scale))) < scale
            THEN 1 ELSE 0 END AS INT) AS err_ok
FROM q
"""


# ---------------------------------------------------------------------------
# q236: one-pass multi-distinct aggregate (Expand plan)
# ---------------------------------------------------------------------------


def q236_multi_distinct_profile(spark, sf_dir):
    """Several COUNT(DISTINCT ...) over DIFFERENT key sets in ONE
    statement — distinct users, distinct active days, and distinct
    (user, day) pairs per event type, plus the plain count.  The plan
    axis this exercises is Expand: the engine replicates each input
    row once per distinct-group and de-duplicates all groups through
    a single shuffle — one pass over the corpus where the naive form
    is three separate scans/shuffles (q131 profiles per-column NDV by
    melting; this is the native multi-distinct path a BI layer
    emits).

    All-integer output; day derived with to_date under the session's
    pinned UTC zone (both engines agree)."""
    ev = _t(spark, sf_dir, "events")
    d = F.to_date("ts")
    return ev.groupBy("event_type").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_events"),
        F.countDistinct("user_id").cast("bigint").alias("nd_users"),
        F.countDistinct(d).cast("bigint").alias("nd_days"),
        F.countDistinct("user_id", d).cast("bigint").alias("nd_user_days"),
    )


ORACLE_Q236 = """
SELECT event_type,
       CAST(count(*) AS BIGINT) AS n_events,
       CAST(count(DISTINCT user_id) AS BIGINT) AS nd_users,
       CAST(count(DISTINCT ts::DATE) AS BIGINT) AS nd_days,
       CAST(count(DISTINCT (user_id, ts::DATE)) AS BIGINT) AS nd_user_days
FROM events GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q237: top navigation paths (session path mining)
# ---------------------------------------------------------------------------


def q237_top_session_paths(spark, sf_dir):
    """Top-10 session PATHS — the ordered event-type string of each
    5-minute-gap session ('view>click>purchase'), counted across the
    corpus: the product-analytics "top paths" report.  q129 counts
    individual transitions and q202 keeps only the endpoints; the
    path keeps the WHOLE ordered journey as the unit of counting.

    Determinism: the per-session event order is (ts, event_id) —
    enforced by sorting the collected (ts, event_id, type) structs
    (collect_list order is partition-arbitrary; array_sort pins it);
    DuckDB mirrors with ORDER BY inside string_agg.  Top-10 under
    (n DESC, path ASC).

    Scale shape: ONE user-key window shuffle for sessionization, one
    (user, session) agg whose state is the session's own events
    (bounded by the gap rule — the q86 reassembly argument), a
    PATH-relation hash agg, and TakeOrderedAndProject for the
    top-10."""
    ev = _t(spark, sf_dir, "events")
    w = Window.partitionBy("user_id").orderBy("ts", "event_id")
    marked = ev.withColumn(
        "new_s",
        F.when(F.lag("ts").over(w).isNull(), 1)
        .when(
            # exact timestamp arithmetic (microsecond gaps count), the
            # same `>` the oracle's interval comparison uses
            F.col("ts") > F.lag("ts").over(w) + F.expr("INTERVAL 5 MINUTES"),
            1,
        )
        .otherwise(0),
    ).withColumn(
        "sid", F.sum("new_s").over(w.rowsBetween(Window.unboundedPreceding, 0))
    )
    paths = marked.groupBy("user_id", "sid").agg(
        F.expr(
            "array_join(transform(array_sort(collect_list("
            "struct(ts, event_id, event_type))), x -> x.event_type), '>')"
        ).alias("path")
    )
    return (
        paths.groupBy("path")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_sessions"),
            F.countDistinct("user_id").cast("bigint").alias("n_users"),
        )
        .orderBy(F.desc("n_sessions"), "path")
        .limit(10)
    )


ORACLE_Q237 = """
WITH marked AS (
  SELECT user_id, ts, event_id, event_type,
         CASE WHEN ts - lag(ts) OVER (PARTITION BY user_id
                                      ORDER BY ts, event_id)
                   > INTERVAL 5 minutes OR
                   lag(ts) OVER (PARTITION BY user_id
                                 ORDER BY ts, event_id) IS NULL
              THEN 1 ELSE 0 END AS new_s
  FROM events
),
numbered AS (
  SELECT user_id, ts, event_id, event_type,
         sum(new_s) OVER (PARTITION BY user_id ORDER BY ts, event_id
                          ROWS UNBOUNDED PRECEDING) AS sid
  FROM marked
),
paths AS (
  SELECT user_id, sid,
         string_agg(event_type, '>' ORDER BY ts, event_id) AS path
  FROM numbered GROUP BY 1, 2
)
SELECT path,
       CAST(count(*) AS BIGINT) AS n_sessions,
       CAST(count(DISTINCT user_id) AS BIGINT) AS n_users
FROM paths GROUP BY 1
ORDER BY n_sessions DESC, path
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q238: OHLC time-bucket downsampling
# ---------------------------------------------------------------------------


def q238_ohlc_downsample(spark, sf_dir):
    """OHLC downsampling — compact an event-value series to one
    (open, high, low, close, n) row per (user, hour): the lossy
    compaction telemetry and market-data stores run before archival,
    preserving the envelope a dashboard actually draws.  q220
    integrates the step function (one mean); OHLC keeps the
    endpoints and extremes instead.

    Determinism: open/close are the values at the MIN/MAX
    (ts, event_id) struct — unique because event_id is; values
    cent-scaled BIGINTs.

    Scale shape: ONE (user, hour) hash agg — min_by/max_by carry a
    single (key, value) pair of state per group, fully map-side
    combinable; no window, no sort."""
    ev = _t(spark, sf_dir, "events")
    v = "CAST(round(value * 100) AS BIGINT)"
    return ev.groupBy(
        "user_id",
        (F.expr("floor(unix_timestamp(ts) / 3600)") * 3600)
        .cast("bigint")
        .alias("hour_epoch"),
    ).agg(
        F.expr(f"min_by({v}, struct(ts, event_id))").alias("open_e2"),
        F.expr(f"max({v})").alias("high_e2"),
        F.expr(f"min({v})").alias("low_e2"),
        F.expr(f"max_by({v}, struct(ts, event_id))").alias("close_e2"),
        F.count(F.lit(1)).cast("bigint").alias("n_samples"),
    )


ORACLE_Q238 = """
WITH base AS (
  SELECT user_id,
         CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT) AS hour_epoch,
         CAST(round(value * 100) AS BIGINT) AS v_e2,
         row_number() OVER (
           PARTITION BY user_id,
                        CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)
           ORDER BY ts, event_id) AS rn_open,
         row_number() OVER (
           PARTITION BY user_id,
                        CAST(floor(floor(epoch(ts)) / 3600) * 3600 AS BIGINT)
           ORDER BY ts DESC, event_id DESC) AS rn_close
  FROM events
)
SELECT user_id, hour_epoch,
       CAST(max(CASE WHEN rn_open = 1 THEN v_e2 END) AS BIGINT) AS open_e2,
       CAST(max(v_e2) AS BIGINT) AS high_e2,
       CAST(min(v_e2) AS BIGINT) AS low_e2,
       CAST(max(CASE WHEN rn_close = 1 THEN v_e2 END) AS BIGINT) AS close_e2,
       CAST(count(*) AS BIGINT) AS n_samples
FROM base GROUP BY 1, 2
"""


# ---------------------------------------------------------------------------
# q239: nearest as-of join with tolerance (bidirectional, argmin |dt|)
# ---------------------------------------------------------------------------


def q239_nearest_asof_join(spark, sf_dir):
    """NEAREST as-of join with tolerance — for every purchase, the
    user's view event with the SMALLEST |time difference| within
    ±30 minutes, or null if none (pandas merge_asof's
    direction='nearest', the mode the catalog's backward as-of
    family — q29/q93/q163 — cannot express): sensor/event alignment
    where the reference reading may sit on either side.

    Determinism: argmin by (|dt|, view_ts, view_id) — a backward and
    a forward candidate at the same distance resolve to the earlier
    view.

    Scale shape: the q210 grid discipline on the time axis —
    purchases explode to their tolerance-sized bucket ±1 (bounded
    3x), candidates join on pure (user, bucket) EQUALITY with the
    |dt| residual inside the join (each view sits in exactly ONE
    bucket, so a pair meets exactly once); the argmin window runs on
    the candidate relation; unmatched purchases return via one left
    join on the purchase key."""
    ev = _t(spark, sf_dir, "events")
    tol = 1800
    p = ev.where(F.col("event_type") == "purchase").select(
        F.col("event_id").alias("p_id"),
        F.col("user_id").alias("p_user"),
        F.unix_timestamp("ts").alias("p_es"),
    )
    v = ev.where(F.col("event_type") == "view").select(
        F.col("user_id").alias("v_user"),
        F.col("event_id").alias("v_id"),
        F.unix_timestamp("ts").alias("v_es"),
    ).withColumn("vb", F.expr(f"v_es div {tol}"))
    pex = p.select(
        "p_id",
        "p_user",
        "p_es",
        F.explode(
            F.expr(f"sequence(p_es div {tol} - 1, p_es div {tol} + 1)")
        ).alias("pb"),
    )
    cand = pex.join(
        v,
        (F.col("p_user") == F.col("v_user")) & (F.col("pb") == F.col("vb")),
    ).where(F.expr(f"abs(v_es - p_es) <= {tol}"))
    wbest = Window.partitionBy("p_id").orderBy(
        F.expr("abs(v_es - p_es)"), "v_es", "v_id"
    )
    best = (
        cand.withColumn("rk", F.row_number().over(wbest))
        .where(F.col("rk") == 1)
        .select(
            F.col("p_id").alias("b_id"),
            "v_id",
            (F.col("v_es") - F.col("p_es")).alias("dt_sec"),
        )
    )
    return p.join(best, F.col("p_id") == F.col("b_id"), "left").select(
        "p_id",
        F.col("p_user").alias("user_id"),
        F.col("p_es").cast("bigint").alias("purchase_epoch"),
        F.col("v_id").cast("bigint").alias("nearest_view_id"),
        F.col("dt_sec").cast("bigint").alias("dt_sec"),
        F.col("v_id").isNotNull().cast("int").alias("matched"),
    )


ORACLE_Q239 = """
WITH p AS (
  SELECT event_id AS p_id, user_id AS p_user,
         CAST(floor(epoch(ts)) AS BIGINT) AS p_es
  FROM events WHERE event_type = 'purchase'
),
v AS (
  SELECT user_id AS v_user, event_id AS v_id,
         CAST(floor(epoch(ts)) AS BIGINT) AS v_es
  FROM events WHERE event_type = 'view'
),
cand AS (
  SELECT p_id, v_id, v_es - p_es AS dt_sec,
         row_number() OVER (PARTITION BY p_id
                            ORDER BY abs(v_es - p_es), v_es, v_id) AS rk
  FROM p JOIN v ON p_user = v_user AND abs(v_es - p_es) <= 1800
)
SELECT p.p_id, p.p_user AS user_id, p.p_es AS purchase_epoch,
       CAST(c.v_id AS BIGINT) AS nearest_view_id,
       CAST(c.dt_sec AS BIGINT) AS dt_sec,
       CAST(CASE WHEN c.v_id IS NULL THEN 0 ELSE 1 END AS INT) AS matched
FROM p LEFT JOIN (SELECT * FROM cand WHERE rk = 1) c ON p.p_id = c.p_id
"""


# ---------------------------------------------------------------------------
# q240: SCD2 validity-interval integrity audit (gaps / overlaps / no-current)
# ---------------------------------------------------------------------------

_Q240_FAR = 9_000_000_000


def q240_scd2_integrity_audit(spark, sf_dir):
    """SCD2 dimension QA — the three invariants every temporal join
    (q29/q93/q163) silently ASSUMES and nothing so far AUDITS: per
    key, consecutive versions must tile the timeline with no GAP
    (lead vf > vt: as-of lookups inside the hole match nothing), no
    OVERLAP (lead vf < vt: lookups match two versions — fan-out), and
    exactly one CURRENT row (vt = the far sentinel).  A dimension
    team runs this as a load gate; a violation here is why an
    enrichment join suddenly drops or duplicates rows.

    Fixture: a deterministic 3-version dimension per source with
    INJECTED defects — src%5==0 gets a 50 s gap, src%7==0 a 60 s
    overlap, src%11==0 a closed (no-current) tail — so every defect
    class is live and the clean keys prove the audit doesn't
    over-flag.

    Scale shape: ONE key-ordered window (lead) over the VERSIONS
    relation (dimension-scale, never facts), one per-key agg."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("source").distinct().select(
        "source", F.expr("CAST(substring(source, 4) AS BIGINT)").alias("s")
    )
    t0 = 1_000_000
    dim = base.select(
        "source",
        F.explode(
            F.expr(
                f"""array(
              struct(CAST({t0} AS BIGINT) AS vf,
                     CAST({t0} + 1000 AS BIGINT) AS vt),
              struct(CAST({t0} + 1000 + (CASE WHEN s % 5 = 0 THEN 50
                                         ELSE 0 END) AS BIGINT) AS vf,
                     CAST({t0} + 2000 AS BIGINT) AS vt),
              struct(CAST({t0} + 2000 - (CASE WHEN s % 7 = 0 THEN 60
                                         ELSE 0 END) AS BIGINT) AS vf,
                     CAST(CASE WHEN s % 11 = 0 THEN {t0} + 3000
                          ELSE {_Q240_FAR} END AS BIGINT) AS vt))"""
            )
        ).alias("v"),
    ).select("source", "v.vf", "v.vt")
    w = Window.partitionBy("source").orderBy("vf")
    audited = dim.withColumn("next_vf", F.lead("vf").over(w))
    return audited.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_versions"),
        F.sum(
            F.when(F.col("next_vf") > F.col("vt"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_gaps"),
        F.sum(
            F.when(F.col("next_vf") < F.col("vt"), 1).otherwise(0)
        )
        .cast("bigint")
        .alias("n_overlaps"),
        F.max(
            (F.col("vt") == F.lit(_Q240_FAR)).cast("int")
        )
        .cast("int")
        .alias("has_current"),
    )


ORACLE_Q240 = f"""
WITH base AS (
  SELECT DISTINCT source,
         CAST(substring(source, 4, 10) AS BIGINT) AS s
  FROM documents
),
dim AS (
  SELECT source, CAST(1000000 AS BIGINT) AS vf,
         CAST(1001000 AS BIGINT) AS vt FROM base
  UNION ALL
  SELECT source,
         CAST(1001000 + (CASE WHEN s % 5 = 0 THEN 50 ELSE 0 END) AS BIGINT),
         CAST(1002000 AS BIGINT) FROM base
  UNION ALL
  SELECT source,
         CAST(1002000 - (CASE WHEN s % 7 = 0 THEN 60 ELSE 0 END) AS BIGINT),
         CAST(CASE WHEN s % 11 = 0 THEN 1003000
              ELSE {_Q240_FAR} END AS BIGINT) FROM base
),
audited AS (
  SELECT source, vf, vt,
         lead(vf) OVER (PARTITION BY source ORDER BY vf) AS next_vf
  FROM dim
)
SELECT source,
       CAST(count(*) AS BIGINT) AS n_versions,
       CAST(sum(CASE WHEN next_vf > vt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_gaps,
       CAST(sum(CASE WHEN next_vf < vt THEN 1 ELSE 0 END) AS BIGINT)
         AS n_overlaps,
       CAST(max(CASE WHEN vt = {_Q240_FAR} THEN 1 ELSE 0 END) AS INT)
         AS has_current
FROM audited GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q241: expanding distinct count (running first-seen accumulation)
# ---------------------------------------------------------------------------


def q241_expanding_distinct(spark, sf_dir):
    """EXPANDING distinct count — at every event, how many DISTINCT
    event types has this user produced so far?  The engagement-
    breadth curve feature stores materialize per interaction.  A
    naive implementation is count(distinct) over an expanding frame —
    quadratic state; here it is two windows over ONE user-key
    Exchange: a first-seen flag (row_number over (user, type) = 1)
    and its running sum — O(1) state per row, exact.

    Determinism: both windows order by the unique (ts, event_id);
    ROWS frames throughout.

    Scale shape: one Exchange on user_id feeds both windows (Catalyst
    plans a single sort); no joins, no distinct shuffle."""
    ev = _t(spark, sf_dir, "events")
    wt = Window.partitionBy("user_id", "event_type").orderBy("ts", "event_id")
    wu = (
        Window.partitionBy("user_id")
        .orderBy("ts", "event_id")
        .rowsBetween(Window.unboundedPreceding, 0)
    )
    return (
        ev.withColumn(
            "is_new_type", (F.row_number().over(wt) == 1).cast("int")
        )
        .withColumn(
            "distinct_types_so_far",
            F.sum("is_new_type").over(wu).cast("bigint"),
        )
        .select("user_id", "event_id", "is_new_type", "distinct_types_so_far")
    )


ORACLE_Q241 = """
WITH flagged AS (
  SELECT user_id, event_id, ts,
         CASE WHEN row_number() OVER (PARTITION BY user_id, event_type
                                      ORDER BY ts, event_id) = 1
              THEN 1 ELSE 0 END AS is_new_type
  FROM events
)
SELECT user_id, event_id,
       CAST(is_new_type AS INT) AS is_new_type,
       CAST(sum(is_new_type) OVER (PARTITION BY user_id
                                   ORDER BY ts, event_id
                                   ROWS UNBOUNDED PRECEDING) AS BIGINT)
         AS distinct_types_so_far
FROM flagged
"""


# ---------------------------------------------------------------------------
# q242: customer order-count distribution (TPC-H Q13 shape)
# ---------------------------------------------------------------------------


def q242_order_count_distribution(spark, sf_dir):
    """TPC-H Q13 shape (customer distribution): the HISTOGRAM OF
    COUNTS — how many customers placed exactly k orders since
    2000-01-01, INCLUDING k = 0 — the left-outer-join-into-aggregate
    shape whose trap is the zero class: an inner join silently drops
    the customers with no orders, and they are exactly the rows a
    churn analysis is after (the recency filter keeps the zero class
    non-empty on this data, where every customer has SOME order).

    Scale shape: the left join shuffles on custkey; the per-customer
    count is map-side combinable; the final histogram groups the
    CUSTOMER-scale relation by count."""
    c = _t(spark, sf_dir, "customer").select("c_custkey")
    o = _t(spark, sf_dir, "orders").where(
        F.col("o_orderdate") >= F.lit("2000-01-01").cast("timestamp")
    ).select("o_custkey", "o_orderkey")
    per_cust = (
        c.join(o, F.col("c_custkey") == F.col("o_custkey"), "left")
        .groupBy("c_custkey")
        .agg(F.count("o_orderkey").alias("c_count"))
    )
    return per_cust.groupBy("c_count").agg(
        F.count(F.lit(1)).cast("bigint").alias("custdist")
    ).select(F.col("c_count").cast("bigint"), "custdist")


ORACLE_Q242 = """
WITH per_cust AS (
  SELECT c_custkey, count(o_orderkey) AS c_count
  FROM customer
  LEFT JOIN (SELECT o_custkey, o_orderkey FROM orders
             WHERE o_orderdate >= TIMESTAMP '2000-01-01') o
    ON c_custkey = o_custkey
  GROUP BY 1
)
SELECT CAST(c_count AS BIGINT) AS c_count,
       CAST(count(*) AS BIGINT) AS custdist
FROM per_cust GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q243: majority-vote NULL imputation (constraint-based data repair)
# ---------------------------------------------------------------------------


def q243_majority_imputation(spark, sf_dir):
    """Constraint-based DATA REPAIR: rows with a NULL lang are imputed
    with their source's MODAL lang (q219 measured that source->lang
    mostly holds; this puts the dependency to work) — the standard
    repair before a lang-partitioned write or per-lang budget.  Ties
    break alphabetically; a source with NO non-null rows cannot be
    repaired and is reported as residual, never guessed.

    Null injection is structural and mirrored in both engines (the
    q60/q131 discipline): doc_id%13==0 nulls, plus src7 nulled WHOLE
    so the unrepairable class is live.

    Scale shape: modal lang via one (source, lang) hash agg + a rank
    window on that GROUPED relation (q51 discipline); the repair
    itself is a broadcast join of the source-scale modal table."""
    docs = _t(spark, sf_dir, "documents").select(
        "doc_id",
        "source",
        F.when(
            (F.expr("doc_id % 13 = 0")) | (F.col("source") == "src7"), None
        )
        .otherwise(F.col("lang"))
        .alias("lang"),
    )
    counts = (
        docs.where(F.col("lang").isNotNull())
        .groupBy("source", "lang")
        .agg(F.count(F.lit(1)).alias("c"))
    )
    wm = Window.partitionBy("source").orderBy(F.desc("c"), "lang")
    modal = (
        counts.withColumn("rk", F.row_number().over(wm))
        .where(F.col("rk") == 1)
        .select(F.col("source").alias("msrc"), F.col("lang").alias("modal_lang"))
    )
    joined = docs.join(
        F.broadcast(modal), F.col("source") == F.col("msrc"), "left"
    )
    return joined.groupBy("source").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_rows"),
        F.sum(F.col("lang").isNull().cast("int")).cast("bigint").alias("n_nulls"),
        F.max("modal_lang").alias("modal_lang"),
        F.sum(
            (F.col("lang").isNull() & F.col("modal_lang").isNotNull()).cast("int")
        )
        .cast("bigint")
        .alias("n_imputed"),
        F.sum(
            (F.col("lang").isNull() & F.col("modal_lang").isNull()).cast("int")
        )
        .cast("bigint")
        .alias("n_residual"),
    )


ORACLE_Q243 = """
WITH docs AS (
  SELECT doc_id, source,
         CASE WHEN doc_id % 13 = 0 OR source = 'src7' THEN NULL
              ELSE lang END AS lang
  FROM documents
),
counts AS (
  SELECT source, lang, count(*) AS c
  FROM docs WHERE lang IS NOT NULL GROUP BY 1, 2
),
modal AS (
  SELECT source AS msrc, lang AS modal_lang
  FROM (SELECT source, lang,
               row_number() OVER (PARTITION BY source
                                  ORDER BY c DESC, lang) AS rk
        FROM counts)
  WHERE rk = 1
)
SELECT d.source,
       CAST(count(*) AS BIGINT) AS n_rows,
       CAST(sum(CASE WHEN d.lang IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_nulls,
       max(m.modal_lang) AS modal_lang,
       CAST(sum(CASE WHEN d.lang IS NULL AND m.modal_lang IS NOT NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_imputed,
       CAST(sum(CASE WHEN d.lang IS NULL AND m.modal_lang IS NULL
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_residual
FROM docs d LEFT JOIN modal m ON d.source = m.msrc
GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q244: bitemporal as-of lookup (valid time x transaction time)
# ---------------------------------------------------------------------------

_Q244_FAR = 9_000_000_000


def q244_bitemporal_lookup(spark, sf_dir):
    """BITEMPORAL as-of — the two-axis temporal lookup an audited
    warehouse must answer: "what tier did we BELIEVE (transaction
    time) source s had, EFFECTIVE AT (valid time) v?"  q59 time-
    travels transaction time only; q163 joins valid time only; real
    corrections need both — a tx-200 correction rewrites the PAST
    (splits validity at 1000) without destroying what tx-150 readers
    saw.

    Fixture: per source, initial belief (tier 1, valid forever,
    known from tx 100); at tx 200 a correction supersedes it with a
    split (tier 1 before valid-1000, tier 2 after) — EXCEPT src%3==0
    sources, where the correction never arrived.  The probe grid is
    (tx 150, 250) x (valid 500, 1500).

    The bitemporal INVARIANT — for any (tx, v) instant exactly ONE
    row is current-and-effective — is emitted per probe (n_matches)
    so the driver hash re-proves it every run.

    Scale shape: the dimension is versions-scale; the 4-instant probe
    grid broadcasts; predicates (tf <= tx < tt AND vf <= v < vt)
    evaluate inside one join."""
    docs = _t(spark, sf_dir, "documents")
    base = docs.select("source").distinct().select(
        "source", F.expr("CAST(substring(source, 4) AS BIGINT)").alias("s")
    )
    far = _Q244_FAR
    dim = base.select(
        "source",
        "s",
        F.explode(
            F.expr(
                f"""CASE WHEN s % 3 = 0 THEN array(
              struct(CAST(0 AS BIGINT) AS vf, CAST({far} AS BIGINT) AS vt,
                     CAST(100 AS BIGINT) AS tf, CAST({far} AS BIGINT) AS tt,
                     1 AS tier))
            ELSE array(
              struct(CAST(0 AS BIGINT) AS vf, CAST({far} AS BIGINT) AS vt,
                     CAST(100 AS BIGINT) AS tf, CAST(200 AS BIGINT) AS tt,
                     1 AS tier),
              struct(CAST(0 AS BIGINT) AS vf, CAST(1000 AS BIGINT) AS vt,
                     CAST(200 AS BIGINT) AS tf, CAST({far} AS BIGINT) AS tt,
                     1 AS tier),
              struct(CAST(1000 AS BIGINT) AS vf, CAST({far} AS BIGINT) AS vt,
                     CAST(200 AS BIGINT) AS tf, CAST({far} AS BIGINT) AS tt,
                     2 AS tier)) END"""
            )
        ).alias("r"),
    ).select("source", "r.vf", "r.vt", "r.tf", "r.tt", "r.tier")
    grid = spark.createDataFrame(
        [(150, 500), (150, 1500), (250, 500), (250, 1500)],
        "tx_asof long, valid_at long",
    )
    probed = dim.crossJoin(F.broadcast(grid)).where(
        (F.col("tf") <= F.col("tx_asof"))
        & (F.col("tx_asof") < F.col("tt"))
        & (F.col("vf") <= F.col("valid_at"))
        & (F.col("valid_at") < F.col("vt"))
    )
    return probed.groupBy("source", "tx_asof", "valid_at").agg(
        F.max("tier").cast("int").alias("tier"),
        F.count(F.lit(1)).cast("bigint").alias("n_matches"),
    )


ORACLE_Q244 = f"""
WITH base AS (
  SELECT DISTINCT source, CAST(substring(source, 4, 10) AS BIGINT) AS s
  FROM documents
),
dim AS (
  SELECT source, CAST(0 AS BIGINT) AS vf, CAST({_Q244_FAR} AS BIGINT) AS vt,
         CAST(100 AS BIGINT) AS tf,
         CAST(CASE WHEN s % 3 = 0 THEN {_Q244_FAR} ELSE 200 END AS BIGINT)
           AS tt,
         1 AS tier
  FROM base
  UNION ALL
  SELECT source, 0, 1000, 200, {_Q244_FAR}, 1 FROM base WHERE s % 3 != 0
  UNION ALL
  SELECT source, 1000, {_Q244_FAR}, 200, {_Q244_FAR}, 2 FROM base
  WHERE s % 3 != 0
),
grid(tx_asof, valid_at) AS (
  VALUES (CAST(150 AS BIGINT), CAST(500 AS BIGINT)), (150, 1500),
         (250, 500), (250, 1500)
)
SELECT source, tx_asof, valid_at,
       CAST(max(tier) AS INT) AS tier,
       CAST(count(*) AS BIGINT) AS n_matches
FROM dim, grid
WHERE tf <= tx_asof AND tx_asof < tt AND vf <= valid_at AND valid_at < vt
GROUP BY 1, 2, 3
"""


# ---------------------------------------------------------------------------
# q245: OLS forecast backtest (temporal train/test split, integer-exact)
# ---------------------------------------------------------------------------


def q245_forecast_backtest(spark, sf_dir):
    """Temporally-split FORECAST BACKTEST — fit q164's integer OLS on
    all days EXCEPT the last, predict the held-out final day, report
    the signed error: the train/test discipline every forecasting
    pipeline needs (fitting on everything and scoring in-sample
    flatters the model; the split must be TEMPORAL, not random).

    Exactness: prediction ŷ(x*) = (i_num + s_num·x*) / den where
    s_num = n·Σxy − Σx·Σy, i_num = Σy·Σx² − Σx·Σxy, den = n·Σx² −
    (Σx)² — one shared denominator, all BIGINT; the error milli-count
    uses the q164 sign-explicit truncation.

    Scale shape: ONE (type, day) corpus agg; train filter, moments,
    and the prediction all run on the DAYS relation; the test row
    joins back on the type key."""
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
    xmax = pts.groupBy(F.col("event_type").alias("et2")).agg(
        F.max("x").alias("x_test")
    )
    px = pts.join(xmax, F.col("event_type") == F.col("et2"))
    train = px.where(F.col("x") < F.col("x_test")).groupBy("event_type").agg(
        F.count(F.lit(1)).alias("n"),
        F.sum("x").alias("sx"),
        F.sum("y").alias("sy"),
        F.sum(F.expr("x * y")).alias("sxy"),
        F.sum(F.expr("x * x")).alias("sxx"),
    )
    test = px.where(F.col("x") == F.col("x_test")).select(
        F.col("event_type").alias("et3"),
        F.col("x").alias("xt"),
        F.col("y").alias("y_actual"),
    )
    return (
        train.join(test, F.col("event_type") == F.col("et3"))
        .withColumn("s_num", F.expr("n * sxy - sx * sy"))
        .withColumn("i_num", F.expr("sy * sxx - sx * sxy"))
        .withColumn("den", F.expr("n * sxx - sx * sx"))
        .withColumn("pred_num", F.expr("i_num + s_num * xt"))
        .withColumn("err_num", F.expr("pred_num - y_actual * den"))
        .select(
            "event_type",
            F.col("n").cast("bigint").alias("n_train_days"),
            F.col("xt").cast("bigint").alias("x_test"),
            F.col("y_actual").cast("bigint").alias("y_actual"),
            F.col("pred_num").cast("bigint").alias("pred_num"),
            F.col("den").cast("bigint").alias("den"),
            F.expr(
                "CAST((CASE WHEN err_num > 0 THEN 1 WHEN err_num < 0 THEN -1"
                " ELSE 0 END) * ((1000 * abs(err_num)) div den) AS BIGINT)"
            ).alias("err_milli"),
        )
    )


ORACLE_Q245 = """
WITH daily AS (
  SELECT event_type, ts::DATE AS d, count(*) AS y
  FROM events GROUP BY 1, 2
),
d0 AS (SELECT min(ts::DATE) AS d0 FROM events),
pts AS (
  SELECT event_type, CAST(d - d0.d0 AS BIGINT) AS x, CAST(y AS BIGINT) AS y
  FROM daily, d0
),
xmax AS (SELECT event_type, max(x) AS x_test FROM pts GROUP BY 1),
train AS (
  SELECT p.event_type, count(*) AS n, sum(x) AS sx, sum(y) AS sy,
         sum(x * y) AS sxy, sum(x * x) AS sxx
  FROM pts p JOIN xmax m ON p.event_type = m.event_type
  WHERE p.x < m.x_test GROUP BY 1
),
test AS (
  SELECT p.event_type, p.x AS xt, p.y AS y_actual
  FROM pts p JOIN xmax m ON p.event_type = m.event_type AND p.x = m.x_test
),
calc AS (
  SELECT t.event_type, t.n, s.xt, s.y_actual,
         t.sy * t.sxx - t.sx * t.sxy
           + (t.n * t.sxy - t.sx * t.sy) * s.xt AS pred_num,
         t.n * t.sxx - t.sx * t.sx AS den
  FROM train t JOIN test s ON t.event_type = s.event_type
)
SELECT event_type,
       CAST(n AS BIGINT) AS n_train_days,
       CAST(xt AS BIGINT) AS x_test,
       CAST(y_actual AS BIGINT) AS y_actual,
       CAST(pred_num AS BIGINT) AS pred_num,
       CAST(den AS BIGINT) AS den,
       CAST((CASE WHEN pred_num - y_actual * den > 0 THEN 1
                  WHEN pred_num - y_actual * den < 0 THEN -1 ELSE 0 END)
            * ((1000 * abs(pred_num - y_actual * den)) // den) AS BIGINT)
         AS err_milli
FROM calc
"""


# ---------------------------------------------------------------------------
# q246: paired sign test (nonparametric engagement-shift guardrail)
# ---------------------------------------------------------------------------


def q246_paired_sign_test(spark, sf_dir):
    """PAIRED SIGN TEST — per user-cohort, did per-user activity shift
    between the first and second half of the observation window?
    Each user is their own control (the pairing kills between-user
    variance); the statistic needs no distributional assumption:
    count users who went up vs down, drop ties, and test
    |pos − neg| against the binomial null via the cleared normal
    approximation 1000·(pos−neg)² ≥ 3841·(pos+neg) — all integers,
    the q157 discipline (q157 compares two INDEPENDENT cohorts;
    pairing is the within-subject member of the family).

    Scale shape: ONE linear (user, half) agg with map-side partials;
    the pairing pivot and sign counts run on the USER-scale relation;
    the 1-row midpoint broadcasts."""
    ev = _t(spark, sf_dir, "events")
    mid = ev.agg(
        (
            (F.min(F.unix_timestamp("ts")) + F.max(F.unix_timestamp("ts")))
            / 2
        )
        .cast("bigint")
        .alias("mid")
    )
    halves = (
        ev.crossJoin(F.broadcast(mid))
        .groupBy("user_id")
        .agg(
            F.sum(
                (F.unix_timestamp("ts") < F.col("mid")).cast("int")
            ).alias("n_early"),
            F.sum(
                (F.unix_timestamp("ts") >= F.col("mid")).cast("int")
            ).alias("n_late"),
        )
        .withColumn("diff", F.col("n_late") - F.col("n_early"))
    )
    return (
        halves.groupBy(F.expr("user_id % 4").alias("cohort"))
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("n_users"),
            F.sum((F.col("diff") > 0).cast("int")).cast("bigint").alias("n_up"),
            F.sum((F.col("diff") < 0).cast("int")).cast("bigint").alias("n_down"),
            F.sum((F.col("diff") == 0).cast("int")).cast("bigint").alias("n_tied"),
        )
        .select(
            F.col("cohort").cast("bigint"),
            "n_users",
            "n_up",
            "n_down",
            "n_tied",
            F.expr(
                "CAST(CASE WHEN 1000 * (n_up - n_down) * (n_up - n_down)"
                " >= 3841 * (n_up + n_down) THEN 1 ELSE 0 END AS INT)"
            ).alias("significant"),
        )
    )


ORACLE_Q246 = """
WITH mid AS (
  SELECT CAST((min(floor(epoch(ts))::BIGINT)
               + max(floor(epoch(ts))::BIGINT)) / 2 AS BIGINT) AS mid
  FROM events
),
halves AS (
  SELECT user_id,
         sum(CASE WHEN floor(epoch(ts))::BIGINT < mid THEN 1 ELSE 0 END)
           AS n_early,
         sum(CASE WHEN floor(epoch(ts))::BIGINT >= mid THEN 1 ELSE 0 END)
           AS n_late
  FROM events, mid GROUP BY user_id, mid
),
signs AS (
  SELECT user_id % 4 AS cohort, n_late - n_early AS diff FROM halves
)
SELECT CAST(cohort AS BIGINT) AS cohort,
       CAST(count(*) AS BIGINT) AS n_users,
       CAST(sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_up,
       CAST(sum(CASE WHEN diff < 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_down,
       CAST(sum(CASE WHEN diff = 0 THEN 1 ELSE 0 END) AS BIGINT) AS n_tied,
       CAST(CASE WHEN 1000 * (sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
                              - sum(CASE WHEN diff < 0 THEN 1 ELSE 0 END))
                       * (sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
                          - sum(CASE WHEN diff < 0 THEN 1 ELSE 0 END))
                 >= 3841 * (sum(CASE WHEN diff > 0 THEN 1 ELSE 0 END)
                            + sum(CASE WHEN diff < 0 THEN 1 ELSE 0 END))
            THEN 1 ELSE 0 END AS INT) AS significant
FROM signs GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q247: ABC (Pareto) revenue classification
# ---------------------------------------------------------------------------


def q247_abc_classification(spark, sf_dir):
    """ABC / Pareto classification — parts bucketed by cumulative
    revenue share (A: the head making up the first 80%, B: to 95%,
    C: the tail), the inventory-policy partition every supply-chain
    and catalog team maintains.  q125 measures concentration as one
    Gini number; this yields the actionable PARTITION.

    Determinism: parts ordered by (revenue DESC, partkey); class by
    cross-multiplied integer thresholds on the INCLUSIVE cumulative
    (5·cum ≤ 4·total → A; 20·cum ≤ 19·total → B; else C) — no float
    shares anywhere.

    Scale shape: ONE corpus-linear (part) revenue agg; the ordering,
    cumulative window and classification run on the PART-scale
    relation (the q128/q143 bounded-relation argument); output is 3
    rows."""
    li = _t(spark, sf_dir, "lineitem")
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    ).cast("decimal(18,4)")
    per_part = li.groupBy("l_partkey").agg(
        (F.sum(rev) * 10000).cast("bigint").alias("rev_e4")
    )
    wc = Window.orderBy(F.desc("rev_e4"), "l_partkey").rowsBetween(
        Window.unboundedPreceding, 0
    )
    total = per_part.agg(F.sum("rev_e4").alias("total_e4"))
    classed = (
        per_part.withColumn("cum", F.sum("rev_e4").over(wc))
        .crossJoin(F.broadcast(total))
        .withColumn(
            "abc",
            F.expr(
                "CASE WHEN 5 * cum <= 4 * total_e4 THEN 'A' "
                "WHEN 20 * cum <= 19 * total_e4 THEN 'B' ELSE 'C' END"
            ),
        )
    )
    return classed.groupBy("abc").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_parts"),
        F.sum("rev_e4").cast("bigint").alias("revenue_e4"),
        # shares in whole currency units (e4 scaled down): rev_e4*1e6
        # overflows int64 at corpus scale, and routing through DECIMAL
        # hits Spark's rounding (not flooring) integral divide — the
        # e0 form keeps the whole expression BIGINT-exact in both
        # engines with an identical definition
        F.expr(
            "CAST(((sum(rev_e4) div 10000) * 1000000)"
            " div (max(total_e4) div 10000) AS BIGINT)"
        ).alias("share_ppm"),
    )


ORACLE_Q247 = """
WITH per_part AS (
  SELECT l_partkey,
         CAST(sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
                       (CAST(1 AS DECIMAL(18,2)) -
                        CAST(l_discount AS DECIMAL(18,2)))
                       AS DECIMAL(18,4))) * 10000 AS BIGINT) AS rev_e4
  FROM lineitem GROUP BY 1
),
cum AS (
  SELECT l_partkey, rev_e4,
         sum(rev_e4) OVER (ORDER BY rev_e4 DESC, l_partkey
                           ROWS UNBOUNDED PRECEDING) AS cum,
         sum(rev_e4) OVER () AS total_e4
  FROM per_part
),
classed AS (
  SELECT CASE WHEN 5 * cum <= 4 * total_e4 THEN 'A'
              WHEN 20 * cum <= 19 * total_e4 THEN 'B' ELSE 'C' END AS abc,
         rev_e4, total_e4
  FROM cum
)
SELECT abc,
       CAST(count(*) AS BIGINT) AS n_parts,
       CAST(sum(rev_e4) AS BIGINT) AS revenue_e4,
       CAST(((sum(rev_e4) // 10000) * 1000000) // (max(total_e4) // 10000)
            AS BIGINT) AS share_ppm
FROM classed GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q248: books-vs-subledger reconciliation (financial variance audit)
# ---------------------------------------------------------------------------


def q248_order_value_reconciliation(spark, sf_dir):
    """Books-vs-subledger RECONCILIATION: recompute every order's
    value from its lineitems — Σ price·(1−discount)·(1+tax), the
    first use of l_tax in the catalog — and reconcile against the
    stored o_totalprice, classifying per priority bucket into
    over/under/missing-lineitems with the exact net variance.  The
    month-end-close audit shape: the number must be EXACT (a float
    recompute that differs in the 4th decimal is a false variance).

    Exactness: value_e6 = ep_e2 · (100 − d_e2) · (100 + t_e2) — pure
    BIGINT fixed-point at 10^-6 (inputs carry ≤2 decimals by schema
    contract); per-order sums then DECIMAL(38,0) for the rollup so
    no corpus size overflows.

    Scale shape: one lineitem shuffle on orderkey, a LEFT join from
    orders (missing-lineitem class preserved), a priority-scale
    rollup."""
    li = _t(spark, sf_dir, "lineitem")
    recomputed = li.groupBy("l_orderkey").agg(
        F.sum(
            F.expr(
                "CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
                " * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100"
                " AS BIGINT))"
                " * (100 + CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT))"
            )
        ).alias("recomputed_e6")
    )
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey",
        "o_orderpriority",
        F.expr(
            "CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT)"
            " * 10000"
        ).alias("stored_e6"),
    )
    j = o.join(
        recomputed, F.col("o_orderkey") == F.col("l_orderkey"), "left"
    ).withColumn("diff_e6", F.expr("stored_e6 - coalesce(recomputed_e6, 0)"))
    return j.groupBy("o_orderpriority").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_orders"),
        F.sum(F.col("recomputed_e6").isNull().cast("int"))
        .cast("bigint")
        .alias("n_missing_lineitems"),
        F.sum(
            (
                F.col("recomputed_e6").isNotNull()
                & (F.col("diff_e6") > 0)
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_over"),
        F.sum(
            (
                F.col("recomputed_e6").isNotNull()
                & (F.col("diff_e6") < 0)
            ).cast("int")
        )
        .cast("bigint")
        .alias("n_under"),
        F.sum(F.col("diff_e6").cast("decimal(38,0)"))
        .cast("decimal(38,0)")
        .cast("string")
        .alias("net_diff_e6"),
    )


ORACLE_Q248 = """
WITH recomputed AS (
  SELECT l_orderkey,
         sum(CAST(CAST(l_extendedprice AS DECIMAL(18,2)) * 100 AS BIGINT)
             * (100 - CAST(CAST(l_discount AS DECIMAL(18,2)) * 100 AS BIGINT))
             * (100 + CAST(CAST(l_tax AS DECIMAL(18,2)) * 100 AS BIGINT)))
           AS recomputed_e6
  FROM lineitem GROUP BY 1
),
j AS (
  SELECT o_orderpriority,
         recomputed_e6,
         CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100 AS BIGINT) * 10000
           - coalesce(recomputed_e6, 0) AS diff_e6
  FROM orders LEFT JOIN recomputed ON o_orderkey = l_orderkey
)
SELECT o_orderpriority,
       CAST(count(*) AS BIGINT) AS n_orders,
       CAST(sum(CASE WHEN recomputed_e6 IS NULL THEN 1 ELSE 0 END) AS BIGINT)
         AS n_missing_lineitems,
       CAST(sum(CASE WHEN recomputed_e6 IS NOT NULL AND diff_e6 > 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_over,
       CAST(sum(CASE WHEN recomputed_e6 IS NOT NULL AND diff_e6 < 0
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_under,
       CAST(CAST(sum(CAST(diff_e6 AS DECIMAL(38,0))) AS DECIMAL(38,0))
            AS VARCHAR) AS net_diff_e6
FROM j GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q249: Benford first-digit audit (numeric forensics)
# ---------------------------------------------------------------------------


def q249_benford_audit(spark, sf_dir):
    """Benford first-significant-digit audit over order values — the
    numeric-forensics screen (fabricated or unit-mangled figures
    flunk it; organic multi-scale money roughly follows
    log10(1+1/d)).  Emitted per digit: observed count, the Benford
    expectation in exact integer ppm, and the absolute deviation —
    plus the corpus-level max deviation replicated per row so the
    driver hash pins the verdict, not just the histogram.

    Exactness: first digit via string head of the e2-scaled BIGINT
    (no float log10); expected ppm are the CONSTANTS
    301030/176091/124939/96910/79181/66947/57992/51153/45757
    (floor(1e6*log10(1+1/d)) — precomputed, both engines share the
    literals).

    Scale shape: ONE linear digit hash agg; everything after runs on
    the 9-row digit relation."""
    benford = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]
    o = _t(spark, sf_dir, "orders")
    digits = o.select(
        F.expr(
            "CAST(substring(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2))"
            " * 100 AS BIGINT) AS STRING), 1, 1) AS INT)"
        ).alias("d")
    ).where(F.col("d") >= 1)
    counts = digits.groupBy("d").agg(F.count(F.lit(1)).alias("n"))
    exp_map = "map(" + ", ".join(
        f"{i + 1}, {p}" for i, p in enumerate(benford)
    ) + ")"
    total = counts.agg(F.sum("n").alias("tot"))
    scored = (
        counts.crossJoin(F.broadcast(total))
        .withColumn("obs_ppm", F.expr("n * 1000000 div tot"))
        .withColumn("exp_ppm", F.expr(f"element_at({exp_map}, d)"))
        .withColumn("dev_ppm", F.expr("abs(obs_ppm - exp_ppm)"))
    )
    wmax = Window.partitionBy()
    return scored.select(
        F.col("d").cast("int").alias("first_digit"),
        F.col("n").cast("bigint").alias("n_values"),
        F.col("obs_ppm").cast("bigint").alias("obs_ppm"),
        F.col("exp_ppm").cast("bigint").alias("exp_ppm"),
        F.col("dev_ppm").cast("bigint").alias("dev_ppm"),
        F.max("dev_ppm").over(wmax).cast("bigint").alias("max_dev_ppm"),
    )


def _oracle_q249() -> str:
    benford = [301030, 176091, 124939, 96910, 79181, 66947, 57992, 51153, 45757]
    cases = " ".join(
        f"WHEN {i + 1} THEN {p}" for i, p in enumerate(benford)
    )
    return f"""
WITH digits AS (
  SELECT CAST(substr(CAST(CAST(CAST(o_totalprice AS DECIMAL(18,2)) * 100
                          AS BIGINT) AS VARCHAR), 1, 1) AS INT) AS d
  FROM orders
),
counts AS (
  SELECT d, count(*) AS n FROM digits WHERE d >= 1 GROUP BY 1
),
scored AS (
  SELECT d, n,
         n * 1000000 // (SELECT sum(n) FROM counts) AS obs_ppm,
         CASE d {cases} END AS exp_ppm
  FROM counts
)
SELECT CAST(d AS INT) AS first_digit,
       CAST(n AS BIGINT) AS n_values,
       CAST(obs_ppm AS BIGINT) AS obs_ppm,
       CAST(exp_ppm AS BIGINT) AS exp_ppm,
       CAST(abs(obs_ppm - exp_ppm) AS BIGINT) AS dev_ppm,
       CAST(max(abs(obs_ppm - exp_ppm)) OVER () AS BIGINT) AS max_dev_ppm
FROM scored
"""


ORACLE_Q249 = _oracle_q249()


# ---------------------------------------------------------------------------
# q250: run-length-encoding layout economics (sorted-column RLE audit)
# ---------------------------------------------------------------------------


def q250_rle_layout_audit(spark, sf_dir):
    """RLE layout economics — for each candidate sort column, how
    compressible does sorting BY IT make it?  Parquet's RLE/dict
    machinery pays off exactly when equal values are ADJACENT; the
    decision number is runs = count of distinct (value, island)
    stretches under that ordering, computable WITHOUT materializing
    any sort as Σ per value of (1 + gaps), where a gap is a
    same-value adjacency break in the candidate order — here
    evaluated exactly for the 'order by this column' layout, where
    runs = NDV (each value one run) vs the CURRENT physical order's
    runs measured by a lag window over the natural (doc_id) order.
    Completes the storage family: q182 prices dictionary, q169 prices
    varint gaps, q153 prices zone maps — this prices adjacency.

    Output per candidate column: rows, NDV (= runs if sorted by it),
    runs in doc_id order, the adjacency ratio in ppm, and bytes-ish
    estimates (runs x (value width + 4-byte run length)).

    Scale shape: ONE melt (the q131 Generate discipline), a (col,
    value) hash agg for NDV, and a lag window per column over the
    doc_id order for current-order runs."""
    docs = _t(spark, sf_dir, "documents")
    melted = docs.select(
        "doc_id",
        F.explode(
            F.expr(
                "array(named_struct('col', 'lang', 'val', lang),"
                " named_struct('col', 'source', 'val', source))"
            )
        ).alias("kv"),
    ).select("doc_id", F.col("kv.col").alias("col"), F.col("kv.val").alias("val"))
    ndv = melted.groupBy("col").agg(
        F.countDistinct("val").alias("ndv"),
        F.count(F.lit(1)).alias("n_rows"),
        F.sum(F.length("val")).alias("value_bytes"),
    )
    wlag = Window.partitionBy("col").orderBy("doc_id")
    runs = (
        melted.withColumn(
            "brk",
            F.when(
                F.lag("val").over(wlag).isNull()
                | (F.lag("val").over(wlag) != F.col("val")),
                1,
            ).otherwise(0),
        )
        .groupBy(F.col("col").alias("col2"))
        .agg(F.sum("brk").alias("runs_natural"))
    )
    return (
        ndv.join(runs, F.col("col") == F.col("col2"))
        .select(
            "col",
            F.col("n_rows").cast("bigint").alias("n_rows"),
            F.col("ndv").cast("bigint").alias("runs_sorted"),
            F.col("runs_natural").cast("bigint").alias("runs_natural"),
            F.expr("runs_natural * 1000000 div n_rows").alias(
                "natural_run_ppm"
            ),
            F.expr(
                "runs_natural * ((value_bytes div n_rows) + 4)"
            ).alias("rle_bytes_natural"),
            F.expr("ndv * ((value_bytes div n_rows) + 4)").alias(
                "rle_bytes_sorted"
            ),
        )
    )


ORACLE_Q250 = """
WITH melted AS (
  SELECT doc_id, 'lang' AS col, lang AS val FROM documents
  UNION ALL
  SELECT doc_id, 'source', source FROM documents
),
ndv AS (
  SELECT col, count(DISTINCT val) AS ndv, count(*) AS n_rows,
         sum(length(val)) AS value_bytes
  FROM melted GROUP BY 1
),
runs AS (
  SELECT col, sum(brk) AS runs_natural FROM (
    SELECT col,
           CASE WHEN lag(val) OVER (PARTITION BY col ORDER BY doc_id)
                     IS NULL
                OR lag(val) OVER (PARTITION BY col ORDER BY doc_id)
                     != val
                THEN 1 ELSE 0 END AS brk
    FROM melted
  ) GROUP BY 1
)
SELECT ndv.col,
       CAST(n_rows AS BIGINT) AS n_rows,
       CAST(ndv AS BIGINT) AS runs_sorted,
       CAST(runs_natural AS BIGINT) AS runs_natural,
       CAST(runs_natural * 1000000 // n_rows AS BIGINT) AS natural_run_ppm,
       CAST(runs_natural * ((value_bytes // n_rows) + 4) AS BIGINT)
         AS rle_bytes_natural,
       CAST(ndv * ((value_bytes // n_rows) + 4) AS BIGINT)
         AS rle_bytes_sorted
FROM ndv JOIN runs ON ndv.col = runs.col
"""


# ---------------------------------------------------------------------------
# q251: shipping-delay service classes (TPC-H Q12 shape)
# ---------------------------------------------------------------------------


def q251_ship_delay_classes(spark, sf_dir):
    """TPC-H Q12 shape (shipping modes and order priority): bucket
    every lineitem by its shipping DELAY (days from order date to
    ship date: on-time <= 30, late <= 90, very-late > 90) and count
    urgent vs non-urgent orders per bucket — the conditional-count-
    over-a-join shape where the measure is a CASE on the DIMENSION
    side (Q12 counts priority classes per shipmode; the delay bucket
    stands in for the absent shipmode column).

    Scale shape: orders joins lineitem on the fact key (one
    shuffle); the date difference and bucket are map-side; the
    rollup is 3 rows."""
    li = _t(spark, sf_dir, "lineitem").select("l_orderkey", "l_shipdate")
    o = _t(spark, sf_dir, "orders").select(
        "o_orderkey", "o_orderdate", "o_orderpriority"
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "delay_d", F.datediff("l_shipdate", "o_orderdate")
    )
    bucket = F.expr(
        "CASE WHEN delay_d <= 30 THEN 'on_time'"
        " WHEN delay_d <= 90 THEN 'late' ELSE 'very_late' END"
    )
    urgent = F.col("o_orderpriority").isin("1-URGENT", "2-HIGH")
    return j.groupBy(bucket.alias("delay_class")).agg(
        F.count(F.lit(1)).cast("bigint").alias("n_lineitems"),
        F.sum(urgent.cast("int")).cast("bigint").alias("n_urgent"),
        F.sum((~urgent).cast("int")).cast("bigint").alias("n_normal"),
        F.min("delay_d").cast("bigint").alias("min_delay_d"),
        F.max("delay_d").cast("bigint").alias("max_delay_d"),
    )


ORACLE_Q251 = """
WITH j AS (
  SELECT date_diff('day', o_orderdate, l_shipdate) AS delay_d,
         o_orderpriority
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
)
SELECT CASE WHEN delay_d <= 30 THEN 'on_time'
            WHEN delay_d <= 90 THEN 'late' ELSE 'very_late' END
         AS delay_class,
       CAST(count(*) AS BIGINT) AS n_lineitems,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 1 ELSE 0 END) AS BIGINT) AS n_urgent,
       CAST(sum(CASE WHEN o_orderpriority IN ('1-URGENT', '2-HIGH')
                     THEN 0 ELSE 1 END) AS BIGINT) AS n_normal,
       CAST(min(delay_d) AS BIGINT) AS min_delay_d,
       CAST(max(delay_d) AS BIGINT) AS max_delay_d
FROM j GROUP BY 1
"""


# ---------------------------------------------------------------------------
# q252: shipping-priority top-k revenue (TPC-H Q3 shape)
# ---------------------------------------------------------------------------


def q252_shipping_priority(spark, sf_dir):
    """TPC-H Q3 shape (shipping priority): the 10 highest-revenue
    not-yet-shipped orders for one market segment as of a cutoff
    date — the double-sided date filter (orders placed BEFORE the
    cutoff, lineitems shipping AFTER it) over a 3-way join, rolled up
    per order and top-k'd under a pinned total order (revenue DESC,
    o_orderdate, o_orderkey — the tie-break TPC-H itself leaves
    unspecified, pinned here so the driver hash is deterministic).

    Exactness: revenue DECIMAL(18,4) summed then cleared to BIGINT
    ten-thousandths (the q221 discipline).

    Scale shape: the segment-filtered customer KEY SET broadcasts
    into orders (a semi-reduction before the fact join — at 100 TB
    this is the runtime-filter shape, never a customer-side
    shuffle); orders then joins lineitem on the fact key — the one
    real shuffle; both date filters push to the scans; the top-10 is
    a TakeOrdered over the per-order aggregate, never a global
    sort."""
    cutoff = F.lit("1998-01-01").cast("timestamp")
    c = (
        _t(spark, sf_dir, "customer")
        .where(F.col("c_mktsegment") == "BUILDING")
        .select("c_custkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderdate") < cutoff)
        .select("o_orderkey", "o_custkey", "o_orderdate", "o_orderpriority")
        .join(F.broadcast(c), F.col("o_custkey") == F.col("c_custkey"))
    )
    li = (
        _t(spark, sf_dir, "lineitem")
        .where(F.col("l_shipdate") > cutoff)
        .select("l_orderkey", "l_extendedprice", "l_discount")
    )
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    ).cast("decimal(18,4)")
    return (
        li.join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("o_orderkey", "o_orderdate", "o_orderpriority")
        .agg((F.sum(rev) * 10000).cast("bigint").alias("revenue_e4"))
        .orderBy(F.desc("revenue_e4"), F.asc("o_orderdate"), F.asc("o_orderkey"))
        .limit(10)
        .select(
            F.col("o_orderkey").cast("bigint").alias("o_orderkey"),
            F.col("revenue_e4"),
            F.to_date("o_orderdate").alias("order_date"),
            F.col("o_orderpriority").alias("o_orderpriority"),
        )
    )


ORACLE_Q252 = """
WITH j AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(18,4)) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  WHERE c_mktsegment = 'BUILDING'
    AND o_orderdate < TIMESTAMP '1998-01-01'
    AND l_shipdate > TIMESTAMP '1998-01-01'
),
agg AS (
  SELECT o_orderkey, o_orderdate, o_orderpriority,
         CAST(sum(rev) * 10000 AS BIGINT) AS revenue_e4
  FROM j GROUP BY 1, 2, 3
)
SELECT CAST(o_orderkey AS BIGINT) AS o_orderkey,
       revenue_e4,
       CAST(o_orderdate AS DATE) AS order_date,
       o_orderpriority
FROM agg
ORDER BY revenue_e4 DESC, o_orderdate ASC, o_orderkey ASC
LIMIT 10
"""


# ---------------------------------------------------------------------------
# q253: national market share (TPC-H Q8 shape)
# ---------------------------------------------------------------------------


def q253_market_share(spark, sf_dir):
    """TPC-H Q8 shape (national market share): per order YEAR, the
    share of ASIA-region customers' order revenue delivered by
    suppliers from one target nation — the two-role dimension
    lattice where nation joins TWICE with different duties (customer
    side: region gate; supplier side: share numerator) and the
    measure is a conditional share inside one aggregate.

    Exactness: revenues DECIMAL(18,4) cleared to BIGINT
    ten-thousandths, share in integer ppm — the textbook
    sum(case)/sum() float division never touches the oracle.

    Scale shape: region→nation→customer collapses to a customer KEY
    SET broadcast into orders (semi-reduction); supplier⋈nation
    collapses to a (suppkey, is_target) broadcast into lineitem —
    both dimension lattices move map-side; the single real shuffle
    is the orders⋈lineitem fact-key join, then a 7-row year agg."""
    n = _t(spark, sf_dir, "nation")
    r = _t(spark, sf_dir, "region").where(F.col("r_name") == "ASIA")
    asia_cust = (
        _t(spark, sf_dir, "customer")
        .join(
            F.broadcast(
                n.join(r, F.col("n_regionkey") == F.col("r_regionkey")).select(
                    "n_nationkey"
                )
            ),
            F.col("c_nationkey") == F.col("n_nationkey"),
        )
        .select("c_custkey")
    )
    o = (
        _t(spark, sf_dir, "orders")
        .join(F.broadcast(asia_cust), F.col("o_custkey") == F.col("c_custkey"))
        .select("o_orderkey", F.year("o_orderdate").alias("order_year"))
    )
    supp = (
        _t(spark, sf_dir, "supplier")
        .join(
            F.broadcast(n.select("n_nationkey", "n_name")),
            F.col("s_nationkey") == F.col("n_nationkey"),
        )
        .select(
            "s_suppkey",
            (F.col("n_name") == "NATION_8").alias("is_target"),
        )
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_extendedprice", "l_discount"
    )
    rev = (
        F.col("l_extendedprice").cast(DEC)
        * (F.lit(1).cast(DEC) - F.col("l_discount").cast(DEC))
    ).cast("decimal(18,4)")
    target_rev = F.when(F.col("is_target"), rev).otherwise(
        F.lit(0).cast("decimal(18,4)")
    )
    return (
        li.join(F.broadcast(supp), F.col("l_suppkey") == F.col("s_suppkey"))
        .join(o, F.col("l_orderkey") == F.col("o_orderkey"))
        .groupBy("order_year")
        .agg(
            (F.sum(target_rev) * 10000).cast("bigint").alias("target_rev_e4"),
            (F.sum(rev) * 10000).cast("bigint").alias("total_rev_e4"),
        )
        .select(
            F.col("order_year").cast("int").alias("order_year"),
            "target_rev_e4",
            "total_rev_e4",
            F.expr(
                "CAST(target_rev_e4 * 1000000 div total_rev_e4 AS BIGINT)"
            ).alias("share_ppm"),
        )
    )


ORACLE_Q253 = """
WITH j AS (
  SELECT year(o_orderdate) AS order_year,
         sn.n_name = 'NATION_8' AS is_target,
         CAST(CAST(l_extendedprice AS DECIMAL(18,2)) *
              (CAST(1 AS DECIMAL(18,2)) - CAST(l_discount AS DECIMAL(18,2)))
              AS DECIMAL(18,4)) AS rev
  FROM lineitem
  JOIN orders ON l_orderkey = o_orderkey
  JOIN customer ON o_custkey = c_custkey
  JOIN nation cn ON c_nationkey = cn.n_nationkey
  JOIN region ON cn.n_regionkey = r_regionkey AND r_name = 'ASIA'
  JOIN supplier ON l_suppkey = s_suppkey
  JOIN nation sn ON s_nationkey = sn.n_nationkey
),
agg AS (
  SELECT order_year,
         CAST(sum(CASE WHEN is_target THEN rev
                       ELSE CAST(0 AS DECIMAL(18,4)) END) * 10000 AS BIGINT)
           AS target_rev_e4,
         CAST(sum(rev) * 10000 AS BIGINT) AS total_rev_e4
  FROM j GROUP BY 1
)
SELECT CAST(order_year AS INTEGER) AS order_year,
       target_rev_e4,
       total_rev_e4,
       CAST(target_rev_e4 * 1000000 // total_rev_e4 AS BIGINT) AS share_ppm
FROM agg
"""


# ---------------------------------------------------------------------------
# q254: waiting-supplier culprit analysis (TPC-H Q21 shape)
# ---------------------------------------------------------------------------


def q254_waiting_suppliers(spark, sf_dir):
    """TPC-H Q21 shape (suppliers who kept orders waiting): per
    supplier, the late lineitems in finished multi-supplier orders
    where that supplier was the ONLY late one — the classic
    EXISTS (another supplier in the order) + NOT EXISTS (another
    LATE supplier) double correlation, written the way an optimizer
    decorrelates it: ONE per-order aggregate (distinct suppliers,
    distinct LATE suppliers) joined back on the order key, the pair
    of correlated subqueries collapsing to `n_supp > 1 AND
    n_late_supp = 1`.  Late = shipped > 365 days after the order
    date (this corpus has no commit/receipt dates; the fixture
    yields 106 culprit orders vs 194 excluded-by-the-NOT-EXISTS at
    sf0.001, both classes live).  Counts are per late LINEITEM (Q21
    counts l1 rows, not orders); n_orders is also emitted.

    Scale shape: lineitem⋈orders on the fact key is the one real
    shuffle; the per-order aggregate and the join back land on the
    SAME key (one Exchange feeds both); supplier names broadcast;
    output is supplier-scale."""
    o = (
        _t(spark, sf_dir, "orders")
        .where(F.col("o_orderstatus") == "F")
        .select("o_orderkey", "o_orderdate")
    )
    li = _t(spark, sf_dir, "lineitem").select(
        "l_orderkey", "l_suppkey", "l_shipdate"
    )
    j = li.join(o, F.col("l_orderkey") == F.col("o_orderkey")).withColumn(
        "late", F.datediff("l_shipdate", "o_orderdate") > 365
    )
    per_order = j.groupBy(F.col("l_orderkey").alias("ok")).agg(
        F.countDistinct("l_suppkey").alias("n_supp"),
        F.countDistinct(
            F.when(F.col("late"), F.col("l_suppkey"))
        ).alias("n_late_supp"),
    )
    culprits = (
        j.where(F.col("late"))
        .join(per_order, F.col("l_orderkey") == F.col("ok"))
        .where((F.col("n_supp") > 1) & (F.col("n_late_supp") == 1))
    )
    s = _t(spark, sf_dir, "supplier").select("s_suppkey", "s_name")
    return (
        culprits.join(F.broadcast(s), F.col("l_suppkey") == F.col("s_suppkey"))
        .groupBy("s_name")
        .agg(
            F.count(F.lit(1)).cast("bigint").alias("numwait"),
            F.countDistinct("l_orderkey").cast("bigint").alias("n_orders"),
        )
    )


ORACLE_Q254 = """
WITH j AS (
  SELECT l_orderkey, l_suppkey,
         date_diff('day', o_orderdate, l_shipdate) > 365 AS late
  FROM lineitem JOIN orders ON l_orderkey = o_orderkey
  WHERE o_orderstatus = 'F'
),
per_order AS (
  SELECT l_orderkey AS ok,
         count(DISTINCT l_suppkey) AS n_supp,
         count(DISTINCT CASE WHEN late THEN l_suppkey END) AS n_late_supp
  FROM j GROUP BY 1
)
SELECT s_name,
       CAST(count(*) AS BIGINT) AS numwait,
       CAST(count(DISTINCT l_orderkey) AS BIGINT) AS n_orders
FROM j
JOIN per_order ON l_orderkey = ok
JOIN supplier ON l_suppkey = s_suppkey
WHERE late AND n_supp > 1 AND n_late_supp = 1
GROUP BY 1
"""


# q255: Mann-Whitney U rank-sum test (tie-corrected, integer-exact)

def q255_mann_whitney(spark, sf_dir):
    """Distributed Mann-Whitney U (Wilcoxon rank-sum) test comparing
    the l_quantity distribution of returned ('R') vs accepted ('A')
    lineitems — the nonparametric two-sample location test a data-
    quality pipeline runs when a feed's numeric distribution may have
    shifted.  Everything is integer-exact: with per-value counts
    (n1_v, n2_v) over the sorted value domain, 2*U1 = sum_v n1_v *
    (2*cum2_below_v + n2_v) (the tie term contributes the half-count,
    kept doubled so no fractions exist), U1 + U2 = n1*n2, and the
    tie-correction mass sum_v (t_v^3 - t_v) is emitted so a consumer
    can form the normal-approximation variance without re-scanning.
    The identity U1 = R1 - n1(n1+1)/2 (rank-sum form) is what the
    DuckDB oracle computes, so the hash match proves the two classic
    formulations agree on this corpus.

    Scale shape: ONE bounded-key shuffle (l_quantity has <=50 distinct
    values; counts combine map-side), then a cumulative window and a
    1-row fold over the <=50-row value domain — metadata-scale no
    matter how many rows the fact table has.  No global rank/sort of
    the raw rows ever happens (the naive rank() over all rows would be
    a single-partition window at 10^12 scale)."""
    li = _t(spark, sf_dir, "lineitem").where(
        F.col("l_returnflag").isin("R", "A")
    )
    per_v = li.groupBy(F.col("l_quantity").cast("bigint").alias("v")).agg(
        F.sum(F.when(F.col("l_returnflag") == "R", 1).otherwise(0))
        .cast("bigint")
        .alias("n1_v"),
        F.sum(F.when(F.col("l_returnflag") == "A", 1).otherwise(0))
        .cast("bigint")
        .alias("n2_v"),
    )
    w = Window.orderBy("v").rowsBetween(Window.unboundedPreceding, -1)
    cum = per_v.select(
        "v",
        "n1_v",
        "n2_v",
        F.coalesce(F.sum("n2_v").over(w), F.lit(0)).alias("cum2_below"),
    )
    return cum.agg(
        F.sum("n1_v").cast("bigint").alias("n1"),
        F.sum("n2_v").cast("bigint").alias("n2"),
        F.sum(F.col("n1_v") * (2 * F.col("cum2_below") + F.col("n2_v")))
        .cast("bigint")
        .alias("u1_x2"),
        (
            2 * F.sum("n1_v") * F.sum("n2_v")
            - F.sum(F.col("n1_v") * (2 * F.col("cum2_below") + F.col("n2_v")))
        )
        .cast("bigint")
        .alias("u2_x2"),
        F.sum(
            (F.col("n1_v") + F.col("n2_v"))
            * (F.col("n1_v") + F.col("n2_v"))
            * (F.col("n1_v") + F.col("n2_v"))
            - (F.col("n1_v") + F.col("n2_v"))
        )
        .cast("bigint")
        .alias("tie_mass"),
    )


ORACLE_Q255 = """
WITH per_v AS (
  SELECT CAST(l_quantity AS BIGINT) AS v,
         sum(CASE WHEN l_returnflag = 'R' THEN 1 ELSE 0 END) AS n1_v,
         sum(CASE WHEN l_returnflag = 'A' THEN 1 ELSE 0 END) AS n2_v
  FROM lineitem WHERE l_returnflag IN ('R','A') GROUP BY 1
),
cum AS (
  SELECT v, n1_v, n2_v,
         coalesce(sum(n1_v + n2_v) OVER
           (ORDER BY v ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
           AS cum_below
  FROM per_v
),
-- rank-sum formulation: avg rank of value v (doubled to stay integral)
-- is 2*cum_below + (n_v + 1); R1_x2 = sum n1_v * that.
fold AS (
  SELECT sum(n1_v) AS n1, sum(n2_v) AS n2,
         sum(n1_v * (2 * cum_below + n1_v + n2_v + 1)) AS r1_x2,
         sum((n1_v + n2_v) * (n1_v + n2_v) * (n1_v + n2_v)
             - (n1_v + n2_v)) AS tie_mass
  FROM cum
)
SELECT CAST(n1 AS BIGINT) AS n1, CAST(n2 AS BIGINT) AS n2,
       CAST(r1_x2 - n1 * (n1 + 1) AS BIGINT) AS u1_x2,
       CAST(2 * n1 * n2 - (r1_x2 - n1 * (n1 + 1)) AS BIGINT) AS u2_x2,
       CAST(tie_mass AS BIGINT) AS tie_mass
FROM fold
"""


# q256: Spearman rank correlation via tie-averaged ranks (contingency form)

def q256_spearman_correlation(spark, sf_dir):
    """Spearman rank correlation between l_quantity and l_discount —
    the monotone-association check a feature-engineering pipeline runs
    before trusting a linear model.  Both variables have small value
    domains (50 / 11 distinct), so the tie-averaged rank of every row
    is a pure function of its VALUE: doubled average rank r2(v) =
    2*cum_below(v) + cnt(v) + 1 (doubling keeps midranks integral).
    rho is then the Pearson correlation of the integer rank pairs,
    assembled from five exact DECIMAL(38,0) moments (n, Sx, Sy, Sxx,
    Syy, Sxy).  The final rho = num / sqrt(den1*den2) is evaluated in
    float64 from those exact integer moments: every input converts
    identically and /,*,sqrt are all IEEE correctly-rounded, so the
    result bits match across engines; floor at ppm makes the emitted
    value integer.

    Scale shape: one (qty, disc) contingency shuffle with map-side
    combine (<=550 cells), two value-domain cumulative windows over
    <=50/<=11 rows, a broadcast rank-map join back onto the CELLS (not
    the raw rows), and a 1-row moment fold — the raw fact table is
    touched exactly once."""
    li = _t(spark, sf_dir, "lineitem")
    cells = li.groupBy(
        F.col("l_quantity").cast("bigint").alias("x"),
        (F.col("l_discount") * 100).cast("bigint").alias("y"),
    ).agg(F.count(F.lit(1)).alias("cnt"))
    xc = cells.groupBy("x").agg(F.sum("cnt").alias("xcnt"))
    wx = Window.orderBy("x").rowsBetween(Window.unboundedPreceding, -1)
    xrank = xc.select(
        "x",
        (
            2 * F.coalesce(F.sum("xcnt").over(wx), F.lit(0))
            + F.col("xcnt")
            + 1
        ).alias("rx2"),
    )
    yc = cells.groupBy("y").agg(F.sum("cnt").alias("ycnt"))
    wy = Window.orderBy("y").rowsBetween(Window.unboundedPreceding, -1)
    yrank = yc.select(
        "y",
        (
            2 * F.coalesce(F.sum("ycnt").over(wy), F.lit(0))
            + F.col("ycnt")
            + 1
        ).alias("ry2"),
    )
    D = "decimal(38,0)"
    m = (
        cells.join(F.broadcast(xrank), "x")
        .join(F.broadcast(yrank), "y")
        .agg(
            F.sum("cnt").cast(D).alias("n"),
            F.sum(F.col("cnt") * F.col("rx2")).cast(D).alias("sx"),
            F.sum(F.col("cnt") * F.col("ry2")).cast(D).alias("sy"),
            F.sum(F.col("cnt").cast(D) * F.col("rx2") * F.col("rx2"))
            .cast(D)
            .alias("sxx"),
            F.sum(F.col("cnt").cast(D) * F.col("ry2") * F.col("ry2"))
            .cast(D)
            .alias("syy"),
            F.sum(F.col("cnt").cast(D) * F.col("rx2") * F.col("ry2"))
            .cast(D)
            .alias("sxy"),
        )
    )
    num = (F.col("n") * F.col("sxy") - F.col("sx") * F.col("sy")).cast(
        "double"
    )
    den1 = (F.col("n") * F.col("sxx") - F.col("sx") * F.col("sx")).cast(
        "double"
    )
    den2 = (F.col("n") * F.col("syy") - F.col("sy") * F.col("sy")).cast(
        "double"
    )
    return m.select(
        F.col("n").cast("bigint").alias("n"),
        F.floor(
            F.lit(1000000.0) * num / F.sqrt(den1 * den2)
        )
        .cast("bigint")
        .alias("rho_ppm"),
    )


ORACLE_Q256 = """
WITH cells AS (
  SELECT CAST(l_quantity AS BIGINT) AS x,
         CAST(l_discount * 100 AS BIGINT) AS y,
         count(*) AS cnt
  FROM lineitem GROUP BY 1, 2
),
xrank AS (
  SELECT x, 2 * coalesce(sum(xcnt) OVER
           (ORDER BY x ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + xcnt + 1 AS rx2
  FROM (SELECT x, sum(cnt) AS xcnt FROM cells GROUP BY 1)
),
yrank AS (
  SELECT y, 2 * coalesce(sum(ycnt) OVER
           (ORDER BY y ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING), 0)
         + ycnt + 1 AS ry2
  FROM (SELECT y, sum(cnt) AS ycnt FROM cells GROUP BY 1)
),
m AS (
  SELECT CAST(sum(cnt) AS DECIMAL(38,0)) AS n,
         CAST(sum(cnt * rx2) AS DECIMAL(38,0)) AS sx,
         CAST(sum(cnt * ry2) AS DECIMAL(38,0)) AS sy,
         CAST(sum(CAST(cnt AS DECIMAL(38,0)) * rx2 * rx2) AS DECIMAL(38,0)) AS sxx,
         CAST(sum(CAST(cnt AS DECIMAL(38,0)) * ry2 * ry2) AS DECIMAL(38,0)) AS syy,
         CAST(sum(CAST(cnt AS DECIMAL(38,0)) * rx2 * ry2) AS DECIMAL(38,0)) AS sxy
  FROM cells JOIN xrank USING (x) JOIN yrank USING (y)
)
SELECT CAST(n AS BIGINT) AS n,
       CAST(floor(1000000.0
                  * CAST(n * sxy - sx * sy AS DOUBLE)
                  / sqrt(CAST(n * sxx - sx * sx AS DOUBLE)
                         * CAST(n * syy - sy * sy AS DOUBLE)))
            AS BIGINT) AS rho_ppm
FROM m
"""


# q257: CART-style Gini-gain feature ranking (integer-exact impurity)

def q257_gini_gain_features(spark, sf_dir):
    """Feature-usefulness ranking for a lang classifier over the
    documents corpus: for each cheap candidate feature (char-length
    bucket, contains-a-digit, contains-sentence-punctuation), the
    Gini impurity reduction a single CART split on that feature would
    achieve against the lang label.  Entropy needs log(); Gini is
    purely rational — 1 - sum_c p_c^2 — so the whole score stays in
    integer arithmetic: per feature value v with class counts n_vc,
    child purity term S_v = sum_c n_vc^2, and
      gain ~ (1/n) * [ sum_v S_v/n_v  -  P/n ],  P = sum_c n_c^2.
    Each per-value division is floored at x1e8 scale ((1e8*S_v) div
    n_v — BIGINT-safe and order-insensitive, unlike a float sum), the
    parent term likewise, and the emitted gain_ppb = (10*(child -
    parent)) div n.  The quantization is part of the DEFINED semantics
    (identical in the oracle), so the hash compare is exact.

    Scale shape: one tagged-union explode (3 feature rows per doc, the
    q78 drift-monitor shape) into a (feature, value, lang) count
    shuffle with map-side combine; everything after the first agg is
    feature x value x class scale (tens of rows).  The parent term is
    computed once from the same counts (grouped under feature), not by
    re-scanning the corpus."""
    docs = _t_wide(spark, sf_dir, "documents")
    feats = docs.select(
        "lang",
        F.explode(
            F.array(
                F.struct(
                    F.lit("len_bucket").alias("feature"),
                    F.least(
                        F.floor(F.col("n_chars") / 400), F.lit(4)
                    ).cast("bigint").alias("value"),
                ),
                F.struct(
                    F.lit("has_digit").alias("feature"),
                    F.col("text").rlike("[0-9]").cast("bigint").alias("value"),
                ),
                F.struct(
                    F.lit("has_sentence_punct").alias("feature"),
                    (
                        F.col("text").contains("!")
                        | F.col("text").contains("?")
                    ).cast("bigint").alias("value"),
                ),
            )
        ).alias("f"),
    ).select("lang", F.col("f.feature").alias("feature"), F.col("f.value").alias("value"))
    vc = feats.groupBy("feature", "value", "lang").agg(
        F.count(F.lit(1)).cast("bigint").alias("n_vc")
    )
    per_v = vc.groupBy("feature", "value").agg(
        F.sum(F.col("n_vc") * F.col("n_vc")).alias("s_v"),
        F.sum("n_vc").alias("n_v"),
    )
    child = per_v.groupBy("feature").agg(
        F.sum(F.expr("(100000000 * s_v) div n_v")).alias("child_x1e8"),
        F.sum("n_v").alias("n"),
    )
    # parent class counts are feature-independent but derived from the
    # same cell counts so no second corpus scan happens
    parent = (
        vc.groupBy("feature", "lang")
        .agg(F.sum("n_vc").alias("n_c"))
        .groupBy("feature")
        .agg(F.sum(F.col("n_c") * F.col("n_c")).alias("p"))
    )
    return (
        child.join(parent, "feature")
        .select(
            "feature",
            F.col("n").cast("bigint").alias("n"),
            F.expr(
                "(10 * (child_x1e8 - ((100000000 * p) div n))) div n"
            )
            .cast("bigint")
            .alias("gain_ppb"),
        )
        .orderBy("feature")
    )


__all__ = _star_exports(globals())  # noqa: F405
