"""Graph centrality for corpus curation — integer-exact PageRank.

Web-scale training pipelines rank crawl hosts by link-graph centrality
(the CommonCrawl-derived corpora gate on harmonic/PageRank priors —
public technique, e.g. the Common Crawl host-level ranking datasets).
This is the distributed-iteration shape Spark expresses naturally:
contribution join on src → groupBy dst, once per iteration — the same
unrolled-loop design as ``similarity.kmeans_quantized``.

All arithmetic is integer so the oracle replays bit-for-bit: ranks are
scaled by ``scale`` (default 1e9 ≙ rank 1.0), every per-edge
contribution is ``(damping_pct · (rank DIV out_degree)) DIV 100`` in
exact BIGINT ops, and the per-node sum accumulates in decimal(38,0)
(addition only — exact) before the teleport term is added.  No libm,
no float division anywhere.

Reference analogue: none (Kafka Streams has no graph surface,
SURVEY.md §2) — beyond-parity curation machinery.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def pagerank_scaled(
    edges: DataFrame,
    src: str = "src",
    dst: str = "dst",
    iters: int = 2,
    damping_pct: int = 85,
    scale: int = 10 ** 9,
) -> DataFrame:
    """Scaled-integer PageRank over a directed edge list (one row per
    distinct edge; callers dedup multi-edges or accept them as
    weights).  Returns (node, rank) with rank ≈ pagerank · ``scale``.

    Semantics: ``r₀ = scale`` for every node appearing as src or dst;
    each iteration, node v receives
    ``(100−d)·scale DIV 100  +  Σ_{u→v} (d · (r_u DIV deg⁺(u))) DIV 100``.
    Dangling-node mass (nodes with no out-edges) is dropped, not
    redistributed — the standard simplification for quality-prior use,
    stated here because it changes absolute values (not the ranking of
    well-connected nodes).

    Integer-overflow domain (documented, not silent): per-edge
    contributions are < ``scale``, so the decimal(38,0) accumulation
    is exact for any in-degree a real graph has; the final rank must
    fit BIGINT, which holds while ``n_nodes · scale < 2^63`` (at the
    default scale: up to ~9e9 nodes).

    Scale ledger (per iteration): one broadcast-or-shuffle join of the
    rank table onto edges keyed src, one exchange keyed dst with
    map-side partial sums (hub in-degree skew is absorbed by partial
    aggregation, the same argument as every groupBy here); the rank
    table is nodes-sized, never edges-sized.  Plan depth grows
    linearly with ``iters`` — callers running deep iteration should
    localCheckpoint every few rounds (the connected-components loop's
    pattern, functions/dedup.py:_cc_loop).
    """
    if iters < 1:
        raise ValueError("iters must be >= 1")
    if not (0 < damping_pct < 100):
        raise ValueError("damping_pct must be in (0, 100)")
    e = edges.select(F.col(src).alias("__src"), F.col(dst).alias("__dst"))
    nodes = (e.select(F.col("__src").alias("node"))
             .unionByName(e.select(F.col("__dst").alias("node")))
             .distinct())
    deg = e.groupBy("__src").agg(F.count(F.lit(1)).alias("__deg"))
    teleport = ((100 - damping_pct) * scale) // 100
    ranks = nodes.withColumn("rank", F.lit(scale).cast("long"))
    for _ in range(iters):
        contrib = (
            e.join(deg, "__src")
            .join(ranks.withColumnRenamed("node", "__src"), "__src")
            .select(
                F.col("__dst").alias("node"),
                F.expr(f"CAST({damping_pct} AS BIGINT)"
                       " * (rank DIV __deg) DIV 100")
                .cast("decimal(38,0)").alias("__c"),
            )
        )
        sums = contrib.groupBy("node").agg(F.sum("__c").alias("__s"))
        ranks = (
            nodes.join(sums, "node", "left")
            .select(
                "node",
                (F.lit(teleport).cast("decimal(38,0)")
                 + F.coalesce(F.col("__s"), F.lit(0).cast("decimal(38,0)")))
                .cast("long").alias("rank"),
            )
        )
    return ranks


def _orient(pairs: DataFrame, a_col: str, b_col: str):
    """Shared front half of the triangle family: canonical deduped
    edges, degrees, and the (degree, id)-oriented edge frame
    (lo, hi, hs) with hs = the hi endpoint's (degree, id) struct.

    The edge frame is PERSISTED (released via
    ``dedup.release_caches``): the family's DAG references it from
    five branches (two degree joins, the wedge self-join's two
    sides, the census aggregates), and without the cache each branch
    re-runs the ENTIRE upstream candidate generator — measured 2-5×
    the operator's own wall on the LSH pipeline at sf0.1.  The frame
    is candidate-pair-sized (bounded by the generator's own caps),
    never corpus-sized."""
    from kafkadirect_spark.functions.dedup import _persist

    e = _persist(
        pairs.select(
            F.least(F.col(a_col), F.col(b_col)).alias("u"),
            F.greatest(F.col(a_col), F.col(b_col)).alias("v"))
        .filter(F.col("u") < F.col("v"))
        .distinct())
    deg = (e.select(F.col("u").alias("n"))
           .unionAll(e.select(F.col("v").alias("n")))
           .groupBy("n").agg(F.count(F.lit(1)).alias("d")))
    ed = (e.join(deg.withColumnRenamed("n", "u")
                 .withColumnRenamed("d", "du"), "u")
          .join(deg.withColumnRenamed("n", "v")
                .withColumnRenamed("d", "dv"), "v"))
    lo_first = (F.struct(F.col("du"), F.col("u"))
                < F.struct(F.col("dv"), F.col("v")))
    # The ORIENTED frame is persisted too: it feeds the wedge
    # self-join's two sides, the closure semi-join and (in
    # local_clustering) the role explode — without its own cache each
    # consumer re-ran the two degree joins from the cached edge list
    # as its own AQE stage materialization.  Same boundedness as
    # ``e``: candidate-pair-sized.
    o = _persist(ed.select(
        F.when(lo_first, F.col("u")).otherwise(F.col("v")).alias("lo"),
        F.when(lo_first, F.col("v")).otherwise(F.col("u")).alias("hi"),
        F.when(lo_first, F.struct("dv", "v"))
         .otherwise(F.struct(F.col("du").alias("dv"),
                             F.col("u").alias("v"))).alias("hs")))
    return e, deg, o


def _wedges(o: DataFrame) -> DataFrame:
    """Wedges at each edge's low endpoint: (lo, x, y) with x before y
    in the (degree, id) order."""
    w1, w2 = o.alias("w1"), o.alias("w2")
    return (w1.join(w2, (F.col("w1.lo") == F.col("w2.lo"))
                    & (F.col("w1.hs") < F.col("w2.hs")))
            .select(F.col("w1.lo").alias("lo"),
                    F.col("w1.hi").alias("x"),
                    F.col("w2.hi").alias("y")))


def triangle_stats(pairs: DataFrame, a_col: str = "id_a",
                   b_col: str = "id_b") -> DataFrame:
    """Exact triangle census of an undirected graph — the structure
    report for a near-duplicate candidate graph (LSH / SimHash pairs):
    high triangle closure means candidate pairs form tight copy
    cliques (safe to collapse per cluster); low closure means chains
    of borderline matches (transitive merging over-collapses).  One
    row: ``(n_nodes, n_edges, n_wedges, n_triangles,
    global_clustering_permille)`` where the coefficient is the
    truncating ``1000·3·triangles DIV wedges`` (Watts-Strogatz global
    form) — all BIGINT, oracle-replayable.

    Algorithm (the standard distributed one — Suri & Vassilvitskii
    2011 "Counting Triangles and the Curse of the Last Reducer"):
    orient every edge from its lower to its higher endpoint in the
    total order (degree, id); wedges are built ONLY at each edge's
    low-order endpoint, and a wedge (v, w) closes iff the oriented
    edge v→w exists.  Each triangle u<v<w (in order) is counted
    exactly once, at u.

    Scale shape: dedup + degree are two hash exchanges; orientation
    is row-local against a degree join; the wedge self-join hashes on
    the LOW endpoint — and orientation caps every node's low-side
    out-degree at O(√m) amortized (a 10^6-degree hub emits its wedges
    from its NEIGHBORS' low sides, not its own), which is exactly the
    "curse of the last reducer" fix; closure is one (v, w) equi-join
    back to the oriented edges.  No per-node adjacency collect, no
    unpartitioned window, no nested loop.

    Reference analogue: none (SURVEY.md §2 — no graph surface);
    beyond-parity structure diagnostics beside
    ``dedup.connected_components`` / ``graph.pagerank_scaled``.
    """
    e, deg, o = _orient(pairs, a_col, b_col)
    wedges = _wedges(o).select("x", "y")
    tri = wedges.join(o.select(F.col("lo").alias("x"),
                               F.col("hi").alias("y")),
                      ["x", "y"], "left_semi")
    # One-row aggregates combined through a UNION + max instead of two
    # broadcast joins: the broadcast form materialized each agg
    # as its own driver-blocking job; union branches materialize
    # concurrently inside the single final job.  Values are identical
    # (each column is non-null in exactly one branch).
    nulls = F.lit(None).cast("long")
    parts = (deg.agg(
        F.count(F.lit(1)).cast("long").alias("n_nodes"),
        F.expr("CAST(sum(CAST(d AS BIGINT) * (d - 1)) DIV 2 "
               "AS BIGINT)").alias("n_wedges"),
        nulls.alias("n_edges"), nulls.alias("n_triangles"))
        .unionByName(e.agg(
            nulls.alias("n_nodes"), nulls.alias("n_wedges"),
            F.count(F.lit(1)).cast("long").alias("n_edges"),
            nulls.alias("n_triangles")))
        .unionByName(tri.agg(
            nulls.alias("n_nodes"), nulls.alias("n_wedges"),
            nulls.alias("n_edges"),
            F.count(F.lit(1)).cast("long").alias("n_triangles"))))
    stats = parts.agg(
        F.max("n_nodes").alias("n_nodes"),
        F.max("n_edges").alias("n_edges"),
        F.max("n_wedges").alias("n_wedges"),
        F.max("n_triangles").alias("n_triangles"))
    return stats.select(
        "n_nodes", "n_edges", "n_wedges", "n_triangles",
        F.expr("CAST(1000 * 3 * n_triangles DIV "
               "greatest(n_wedges, 1) AS BIGINT)")
        .alias("global_clustering_permille"))


def triangle_stats_oracle_sql(pairs_sql: str,
                              a_col: str = "id_a",
                              b_col: str = "id_b") -> str:
    """DuckDB replay of ``triangle_stats`` over ANY candidate-pair
    SELECT (e.g. the registered simhash pairs' own oracle SQL) —
    identical (degree, id) orientation via row-value comparisons,
    wedge construction at the low endpoint, semi-join closure."""
    return f"""
    WITH cand AS ({pairs_sql}),
    e AS (
      SELECT DISTINCT least({a_col}, {b_col}) AS u,
             greatest({a_col}, {b_col}) AS v
      FROM cand WHERE {a_col} <> {b_col}),
    deg AS (
      SELECT n, count(*)::BIGINT AS d
      FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
      GROUP BY n),
    o AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN e.u ELSE e.v END AS lo,
             CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN e.v ELSE e.u END AS hi,
             CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN dv.d ELSE du.d END AS dh
      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
    wedges AS (
      SELECT w1.hi AS x, w2.hi AS y
      FROM o w1 JOIN o w2
        ON w1.lo = w2.lo AND (w1.dh, w1.hi) < (w2.dh, w2.hi)),
    tri AS (
      SELECT count(*)::BIGINT AS n_triangles
      FROM wedges w
      WHERE EXISTS (SELECT 1 FROM o
                    WHERE o.lo = w.x AND o.hi = w.y)),
    s AS (
      SELECT count(*)::BIGINT AS n_nodes,
             (sum(d * (d - 1)) // 2)::BIGINT AS n_wedges
      FROM deg),
    m AS (SELECT count(*)::BIGINT AS n_edges FROM e)
    SELECT s.n_nodes, m.n_edges, s.n_wedges, tri.n_triangles,
           (1000 * 3 * tri.n_triangles
            // greatest(s.n_wedges, 1))::BIGINT
             AS global_clustering_permille
    FROM s, m, tri
    """


def local_clustering(pairs: DataFrame, a_col: str = "id_a",
                     b_col: str = "id_b") -> DataFrame:
    """Per-node triangle counts and local clustering coefficients —
    the keep-best signal ``triangle_stats``'s single global row
    cannot give: a node whose neighborhood closes (high local
    coefficient) sits inside a copy-clique and is safe to collapse;
    a low-coefficient node is a chain hub whose cluster membership
    deserves verification before merging.  Returns one row per node:
    ``(node, degree, n_triangles, local_clustering_permille)`` with
    the Watts-Strogatz local form ``1000·2·t DIV (d·(d−1))``
    (0 for degree < 2) — all BIGINT, oracle-replayable.

    Same machinery and ledger as ``triangle_stats`` (shared
    ``_orient`` / ``_wedges`` construction — the Suri &
    Vassilvitskii orientation), plus: closed wedges keep all three
    roles (lo, x, y), explode into one row per vertex (exactly 3
    rows per triangle), and one count exchange on the node id.
    """
    e, deg, o = _orient(pairs, a_col, b_col)
    closed = _wedges(o).join(
        o.select(F.col("lo").alias("x"), F.col("hi").alias("y")),
        ["x", "y"], "left_semi")
    # one explode, not a 3-way unionAll: union branches each
    # RECOMPUTE the full wedge pipeline (the signatures/orient path
    # is row-local, so nothing is reused across branches — measured
    # 3× the census wall at sf0.1 before this shape)
    roles = closed.select(
        F.explode(F.array("lo", "x", "y")).alias("n"))
    tcnt = roles.groupBy("n").agg(
        F.count(F.lit(1)).cast("long").alias("t"))
    return (deg.join(tcnt, "n", "left")
            .select(F.col("n").alias("node"),
                    F.col("d").cast("long").alias("degree"),
                    F.coalesce("t", F.lit(0).cast("long"))
                    .alias("n_triangles"))
            .withColumn(
                "local_clustering_permille",
                F.expr("CAST(CASE WHEN degree < 2 THEN 0 ELSE "
                       "1000 * 2 * n_triangles DIV "
                       "(degree * (degree - 1)) END AS BIGINT)")))


def local_clustering_oracle_sql(pairs_sql: str,
                                a_col: str = "id_a",
                                b_col: str = "id_b") -> str:
    """DuckDB replay of ``local_clustering`` over ANY candidate-pair
    SELECT — the same orientation, closed-wedge roles, and the
    truncating local coefficient."""
    return f"""
    WITH cand AS ({pairs_sql}),
    e AS (
      SELECT DISTINCT least({a_col}, {b_col}) AS u,
             greatest({a_col}, {b_col}) AS v
      FROM cand WHERE {a_col} <> {b_col}),
    deg AS (
      SELECT n, count(*)::BIGINT AS d
      FROM (SELECT u AS n FROM e UNION ALL SELECT v FROM e)
      GROUP BY n),
    o AS (
      SELECT CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN e.u ELSE e.v END AS lo,
             CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN e.v ELSE e.u END AS hi,
             CASE WHEN (du.d, e.u) < (dv.d, e.v)
                  THEN dv.d ELSE du.d END AS dh
      FROM e JOIN deg du ON du.n = e.u JOIN deg dv ON dv.n = e.v),
    closed AS (
      SELECT w1.lo AS a, w1.hi AS b, w2.hi AS c
      FROM o w1 JOIN o w2
        ON w1.lo = w2.lo AND (w1.dh, w1.hi) < (w2.dh, w2.hi)
      WHERE EXISTS (SELECT 1 FROM o
                    WHERE o.lo = w1.hi AND o.hi = w2.hi)),
    roles AS (
      SELECT a AS n FROM closed
      UNION ALL SELECT b FROM closed
      UNION ALL SELECT c FROM closed),
    t AS (SELECT n, count(*)::BIGINT AS t FROM roles GROUP BY n)
    SELECT deg.n AS node, deg.d AS degree,
           coalesce(t.t, 0)::BIGINT AS n_triangles,
           (CASE WHEN deg.d < 2 THEN 0
                 ELSE 1000 * 2 * coalesce(t.t, 0)
                      // (deg.d * (deg.d - 1)) END)::BIGINT
             AS local_clustering_permille
    FROM deg LEFT JOIN t ON t.n = deg.n
    """
