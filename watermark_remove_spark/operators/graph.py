"""Distributed graph operators: connected components and integer
PageRank — the clustering/centrality step a near-dup pipeline runs
AFTER candidate pairs exist (pairs alone don't answer "which doc do I
keep?"; the component does).

Both are iterative and therefore not single-statement SQL in Spark,
but both are DRIVER-checkable:

- connected components: the oracle is a recursive CTE computing the
  min reachable id per node (DuckDB ``WITH RECURSIVE`` with UNION
  dedup semantics guarantees termination);
- PageRank runs a FIXED iteration count in pure BIGINT arithmetic
  (floor division), so the oracle is the same recurrence unrolled as
  chained CTEs — every value bit-identical, no float summation order.

100-TB posture: each CC iteration is two shuffles on a fixed-width
node key (min-over-neighbors, then pointer-jump self-join); min-label
propagation alone needs O(diameter) rounds, and the pointer-jump halves
label-tree depth each round, giving the O(log n) behavior of the
large-star/small-star family (Kiveris et al., MapReduce CC — public).
The per-round convergence probe is a single scalar aggregate (count of
changed labels), the only driver-side value — metadata-scale by
design, like the IVF centroid collect.  Lineage is truncated per round
with ``localCheckpoint`` (GC-managed); at 100 TB you'd point reliable
``checkpoint()`` at object storage — same plan shape.

Reference scaffold (282-LoC PIL/FastAPI app, SURVEY.md §1) has no
graph surface; this is engine-native depth per the graft mandate.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, functions as F


def connected_components(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    max_iter: int = 50,
) -> DataFrame:
    """Min-label connected components over an undirected edge list.

    Returns (node BIGINT, component BIGINT) where component is the
    smallest node id reachable from ``node``.  Isolated endpoints are
    their own component (every node appearing in ``edges`` is emitted).

    Algorithm per round:
      1. gather: cand(node) = min over undirected neighbors of their
         current label (one shuffle on the node key, map-side
         combinable because min is associative);
      2. adopt:  label = least(label, cand);
      3. pointer-jump: label = label's label (self-equi-join on the
         label key) — halves the depth of label chains, the step that
         turns O(diameter) propagation into O(log n) rounds.
    Terminates when no label changed (scalar count).
    """
    sym = (
        edges.select(F.col(src).alias("a"), F.col(dst).alias("b"))
        .union(edges.select(F.col(dst).alias("a"), F.col(src).alias("b")))
        .where(F.col("a") != F.col("b"))
        .distinct()
        .localCheckpoint(eager=True)
    )
    labels = (
        sym.select(F.col("a").alias("node"))
        .distinct()
        .withColumn("label", F.col("node"))
        .localCheckpoint(eager=True)
    )
    for _ in range(max_iter):
        cand = (
            sym.join(labels.withColumnRenamed("node", "b"), "b")
            .groupBy(F.col("a").alias("node"))
            .agg(F.min("label").alias("cand"))
        )
        adopted = (
            labels.join(cand, "node", "left")
            .select(
                "node",
                F.least(F.col("label"), F.coalesce("cand", "label")).alias("label"),
            )
        )
        # pointer jump: follow one hop of the label forest
        jump = adopted.select(
            F.col("node").alias("label"), F.col("label").alias("jumped")
        )
        new_labels = (
            adopted.join(jump, "label", "left")
            .select("node", F.coalesce("jumped", "label").alias("label"))
            .localCheckpoint(eager=True)
        )
        changed = (
            new_labels.alias("n")
            .join(labels.alias("o"), "node")
            .where(F.col("n.label") != F.col("o.label"))
            .count()
        )
        labels = new_labels
        if changed == 0:
            return labels.select("node", F.col("label").alias("component"))
    # fail loud: silently returning a non-fixpoint labeling would split
    # components (wrong KEEP/DROP decisions downstream)
    raise RuntimeError(
        f"connected_components did not converge in {max_iter} iterations; "
        "with pointer jumping this needs O(log n) rounds — raise max_iter"
    )


def duck_connected_components_sql(edges_cte: str) -> str:
    """DuckDB oracle: min reachable id per node via recursive CTE.

    ``edges_cte`` must define a relation ``edges(src, dst)``; UNION
    (not UNION ALL) dedups (node, label) states so the recursion
    terminates at the reachability fixpoint.
    """
    return f"""
WITH RECURSIVE {edges_cte},
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
SELECT node, min(label) AS component FROM reach GROUP BY node
"""


# ---------------------------------------------------------------------------
# Integer PageRank
# ---------------------------------------------------------------------------

PR_SCALE = 10**12       # fixed-point unit: rank 1.0 == 10^12
PR_DAMP_NUM = 85        # damping 0.85 as an exact rational 85/100
PR_DAMP_DEN = 100


def pagerank_integer(
    edges: DataFrame,
    iterations: int = 5,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration PageRank in pure BIGINT arithmetic.

    rank_0(v) = SCALE;
    rank_{i+1}(v) = (15*SCALE) DIV 100
                  + (85 * sum_{u->v} (rank_i(u) DIV outdeg(u))) DIV 100

    Floor division on non-negative BIGINTs is identical in Spark
    (``DIV``) and DuckDB (``//``), and integer sums are order-free, so
    every iteration is bit-exact vs the unrolled-CTE oracle — no float
    mass whose summation order could diverge across 32 shuffle
    partitions.  Dangling nodes (no out-edges) keep receiving the
    teleport term but redistribute nothing — the standard sparse
    simplification, mirrored exactly in the oracle.

    Overflow: sum of contributions <= total mass <= n * SCALE; with
    SCALE=10^12 this holds to ~9 million nodes of mass, and 85 * that
    stays under 2^63.  At larger n, drop SCALE a decade per 10x nodes.

    One shuffle per iteration (the contribution sum keyed on dst);
    outdeg is computed once and the rank<->edges join is a fixed-width
    equi-join on the node key.  Returns (node, rank_scaled BIGINT).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    outdeg = e.groupBy(F.col("u").alias("node")).agg(
        F.count(F.lit(1)).alias("outdeg")
    )
    # edges carry their source's outdeg so each iteration joins ranks
    # once (on u), not twice
    e_deg = e.join(outdeg, e["u"] == outdeg["node"]).select("u", "v", "outdeg")
    e_deg = e_deg.localCheckpoint(eager=True)

    teleport = (15 * PR_SCALE) // PR_DAMP_DEN
    ranks = nodes.withColumn("rank_scaled", F.lit(PR_SCALE).cast("long"))
    for _ in range(iterations):
        contrib = (
            e_deg.join(ranks, e_deg["u"] == ranks["node"])
            .select(
                F.col("v").alias("node"),
                F.expr("rank_scaled DIV outdeg").alias("c"),
            )
            .groupBy("node")
            .agg(F.sum("c").alias("s"))
        )
        ranks = (
            nodes.join(contrib, "node", "left")
            .select(
                "node",
                (
                    F.lit(teleport).cast("long")
                    + F.expr(
                        f"({PR_DAMP_NUM} * coalesce(s, CAST(0 AS BIGINT))) DIV {PR_DAMP_DEN}"
                    )
                ).alias("rank_scaled"),
            )
            .localCheckpoint(eager=True)
        )
    return ranks


def duck_pagerank_sql(edges_cte: str, iterations: int = 5) -> str:
    """DuckDB oracle: the identical integer recurrence unrolled as
    chained CTEs (recursive CTEs disallow aggregation in the recursive
    term, so fixed iterations are materialized r0..r{n})."""
    teleport = (15 * PR_SCALE) // PR_DAMP_DEN
    parts = [
        edges_cte,
        "e AS (SELECT src AS u, dst AS v FROM edges)",
        """nodes AS (
  SELECT u AS node FROM e UNION SELECT v AS node FROM e
)""",
        """outdeg AS (
  SELECT u AS node, count(*) AS outdeg FROM e GROUP BY 1
)""",
        "e_deg AS (SELECT e.u, e.v, o.outdeg FROM e JOIN outdeg o ON e.u = o.node)",
        f"r0 AS (SELECT node, CAST({PR_SCALE} AS BIGINT) AS rank_scaled FROM nodes)",
    ]
    for i in range(iterations):
        parts.append(f"""c{i} AS (
  SELECT ed.v AS node, sum(r.rank_scaled // ed.outdeg) AS s
  FROM e_deg ed JOIN r{i} r ON ed.u = r.node GROUP BY 1
)""")
        parts.append(f"""r{i + 1} AS (
  SELECT n.node,
         CAST(CAST({teleport} AS BIGINT)
              + ({PR_DAMP_NUM} * COALESCE(c.s, 0)) // {PR_DAMP_DEN}
              AS BIGINT) AS rank_scaled
  FROM nodes n LEFT JOIN c{i} c ON n.node = c.node
)""")
    return (
        "WITH " + ",\n".join(parts)
        + f"\nSELECT node, rank_scaled FROM r{iterations}"
    )


def hits_integer(
    edges: DataFrame,
    iterations: int = 3,
    src: str = "src",
    dst: str = "dst",
) -> DataFrame:
    """Fixed-iteration HITS (hubs & authorities) in pure BIGINT
    arithmetic — the OTHER classic link-analysis fixpoint: where
    PageRank is a damped random walk (one score, teleport mass), HITS
    is the MUTUAL-reinforcement pair h(u) = sum of a over u's
    out-neighbors / a(v) = sum of h over v's in-neighbors, no damping,
    no division at all, so every iteration is exact integer sums:

        a_0(v) = 1
        h_t(u) = sum_{u->v} a_{t-1}(v)
        a_t(v) = sum_{u->v} h_t(u)

    Parallel edges act as weights (a u->v transition seen 3 times
    reinforces 3x) — the natural semantics for a co-occurrence graph.
    Production HITS L1-normalizes per iteration to keep magnitudes
    bounded; the normalization-free integer form is exact and
    oracle-mirrorable, growing like (mean degree)^(2*iterations):
    3 iterations stay far inside BIGINT for any graph whose mean
    weighted degree is under ~10^3 (10^18 headroom); drop an
    iteration per decade beyond that.

    Two fixed-width equi-join + hash-agg shuffles per iteration (one
    keyed on u, one on v); nodes with no out-edges get hub 0, no
    in-edges get authority 0 (kept, not dropped).
    """
    e = edges.select(F.col(src).alias("u"), F.col(dst).alias("v"))
    nodes = (
        e.select(F.col("u").alias("node"))
        .union(e.select(F.col("v").alias("node")))
        .distinct()
        .localCheckpoint(eager=True)
    )
    e = e.localCheckpoint(eager=True)
    auth = nodes.withColumn("a", F.lit(1).cast("long"))
    hub = None
    for _ in range(iterations):
        hub = (
            e.join(auth, e["v"] == auth["node"])
            .groupBy(F.col("u").alias("node"))
            .agg(F.sum("a").alias("h"))
        )
        auth = (
            e.join(hub, e["u"] == hub["node"])
            .groupBy(F.col("v").alias("node"))
            .agg(F.sum("h").alias("a"))
        )
    return (
        nodes.join(hub, "node", "left")
        .join(auth, "node", "left")
        .select(
            "node",
            F.coalesce(F.col("h"), F.lit(0)).cast("long").alias("hub_score"),
            F.coalesce(F.col("a"), F.lit(0)).cast("long").alias("auth_score"),
        )
    )


def duck_hits_sql(edges_cte: str, iterations: int = 3) -> str:
    """DuckDB oracle for :func:`hits_integer`: the identical integer
    recurrence unrolled as chained CTEs."""
    parts = [
        edges_cte,
        "e AS (SELECT src AS u, dst AS v FROM edges)",
        """nodes AS (
  SELECT u AS node FROM e UNION SELECT v AS node FROM e
)""",
        "a0 AS (SELECT node, CAST(1 AS BIGINT) AS a FROM nodes)",
    ]
    for i in range(iterations):
        parts.append(f"""h{i + 1} AS (
  SELECT e.u AS node, sum(a.a) AS h FROM e JOIN a{i} a ON a.node = e.v
  GROUP BY 1
)""")
        parts.append(f"""a{i + 1} AS (
  SELECT e.v AS node, sum(h.h) AS a FROM e JOIN h{i + 1} h ON h.node = e.u
  GROUP BY 1
)""")
    n = iterations
    return (
        "WITH " + ",\n".join(parts)
        + f"""
SELECT n.node, CAST(coalesce(h.h, 0) AS BIGINT) AS hub_score,
       CAST(coalesce(a.a, 0) AS BIGINT) AS auth_score
FROM nodes n LEFT JOIN h{n} h ON h.node = n.node
LEFT JOIN a{n} a ON a.node = n.node"""
    )
