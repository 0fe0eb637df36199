"""Hybrid retrieval: lexical BM25 ∪ embedding cosine, fused with
reciprocal-rank fusion (RRF, Cormack & Clarke 2009 SIGIR) — the
standard RAG-retrieval shape (a keyword index and a vector index
answer independently; ranks fuse, scores never mix).

Integer-exact by construction: each system contributes
``scale DIV (c + rank)`` (truncating division, the classic RRF
1/(c+rank) in fixed point), so the fused score is a BIGINT that both
engines reproduce bit-for-bit; only RANKS cross the fusion boundary —
the BM25 decimals and the cosine floats stay inside their systems.
Cross-engine caveat: the semantic arm's RANKS come from
float64 cosine ordering (numpy matmul engine-side vs DuckDB
``list_cosine_similarity`` in the oracle), so the post-rank integer
arithmetic is exact GIVEN equal ranks — near-tied cosines could in
principle order differently across engines; the parity guarantee is
therefore "integer-exact downstream of float-agreeing ranks", not
float-free end to end like this module's integer-only siblings.

Reference analogue: none (SURVEY.md §2 — the reference has no
document or retrieval model); beyond-parity machinery composing
``curation.bm25_rank`` (lexical) with ``similarity.cosine_topk_blas``
(semantic) over aligned id spaces (embeddings derived 1:1 from
documents, as in any embedding-indexed corpus).
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.functions.curation import bm25_rank, bm25_rank_sql
from kafkadirect_spark.functions.similarity import cosine_topk_blas

RRF_C = 60  # the Cormack & Clarke constant


def hybrid_rank_rrf(docs: DataFrame, emb: DataFrame,
                    query_terms: list[str], probe_id: int,
                    doc_id_col: str = "doc_id", text_col: str = "text",
                    emb_id_col: str = "vec_id",
                    vec_col: str = "embedding",
                    k: int = 10, topn: int = 20, c: int = RRF_C,
                    scale: int = 1_000_000) -> DataFrame:
    """Top-``k`` documents for a (term query, probe embedding) pair by
    reciprocal-rank fusion of the BM25 top-``topn`` and the exact
    cosine top-``topn`` of the probe: ``rrf_score = Σ_systems
    scale DIV (c + rank)``, a document absent from a system's top-n
    contributing nothing there (its rank column reports 0).

    Returns ``(doc_id_col, rrf_score, rank_lex, rank_sem)`` ordered by
    (rrf_score desc, id) — scalar BIGINTs only, driver-oracle ready.

    Scale shape: both arms are already bounded retrievals (BM25's
    match-bounded exchange + TakeOrdered; the BLAS matmul scan with a
    1-row probe matrix broadcast).  Fusion touches ≤ 2·topn rows: the
    lexical rank window runs over the ≤ topn-row BM25 result (bounded
    by construction — the ``_GLOBAL_WINDOW_OK`` shape), the two rank
    lists union and group on the id, and the final top-k is a
    TakeOrdered.  Nothing corpus-sized crosses the fusion.
    """
    from pyspark.sql import Window

    if k < 1 or topn < 1:
        raise ValueError("k and topn must be >= 1")
    if c < 1:
        raise ValueError("c must be >= 1")
    lex = bm25_rank(docs, doc_id_col, text_col, query_terms, k=topn)
    # ≤ topn rows by construction (bm25_rank ends in LIMIT topn)
    wl = Window.orderBy(F.col("score").desc(), F.col(doc_id_col).asc())
    lex_r = lex.select(F.col(doc_id_col),
                       F.row_number().over(wl).alias("rank_lex"))
    probes = emb.filter(F.col(emb_id_col) == probe_id)
    if probes.limit(1).count() == 0:
        # probe id absent -> the semantic arm is empty, fusion
        # degrades to pure BM25 (1-row bounded action, not a scan)
        sem_r = emb.sparkSession.createDataFrame(
            [], f"{doc_id_col} long, rank_sem int")
    else:
        sem_r = (cosine_topk_blas(emb, emb_id_col, vec_col, k=topn,
                                  probes=probes)
                 .select(F.col("neighbor_id").alias(doc_id_col),
                         F.col("rank").alias("rank_sem")))

    def pts(rank_col: str):
        return F.expr(f"CAST({scale} DIV ({c} + {rank_col}) AS LONG)")

    zero = F.lit(0).cast("int")
    contrib = (lex_r.select(F.col(doc_id_col), pts("rank_lex").alias("__p"),
                            F.col("rank_lex"), zero.alias("rank_sem"))
               .unionByName(
                   sem_r.select(F.col(doc_id_col), pts("rank_sem").alias("__p"),
                                zero.alias("rank_lex"), F.col("rank_sem"))))
    fused = (contrib.groupBy(doc_id_col)
             .agg(F.sum("__p").cast("long").alias("rrf_score"),
                  F.max("rank_lex").cast("long").alias("rank_lex"),
                  F.max("rank_sem").cast("long").alias("rank_sem")))
    return (fused.orderBy(F.col("rrf_score").desc(),
                          F.col(doc_id_col).asc())
            .limit(k))


def hybrid_rank_rrf_oracle_sql(query_terms: list[str], probe_id: int,
                               k: int = 10, topn: int = 20,
                               c: int = RRF_C,
                               scale: int = 1_000_000,
                               id_col: str = "doc_id") -> str:
    """DuckDB replay of ``hybrid_rank_rrf`` over the ``documents`` and
    ``embeddings`` views: the BM25 arm IS ``bm25_rank_sql`` (composed
    verbatim as a CTE), the cosine arm ranks
    ``list_cosine_similarity`` against the probe row, and the fusion
    replays the truncating fixed-point sum exactly."""
    bm25 = bm25_rank_sql(query_terms, k=topn, id_col=id_col)
    return f"""
    WITH lex AS ({bm25}),
    lexr AS (
      SELECT {id_col},
             row_number() OVER (ORDER BY score DESC, {id_col})
               AS rank_lex
      FROM lex),
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    p AS (SELECT e FROM v WHERE vec_id = {probe_id}),
    semr AS (
      SELECT {id_col}, rank_sem FROM (
        SELECT b.vec_id AS {id_col},
               row_number() OVER (
                 ORDER BY list_cosine_similarity(p.e, b.e) DESC,
                          b.vec_id) AS rank_sem
        FROM v b, p WHERE b.vec_id <> {probe_id})
      WHERE rank_sem <= {topn}),
    contrib AS (
      SELECT {id_col}, {scale} // ({c} + rank_lex) AS p,
             rank_lex, 0 AS rank_sem
      FROM lexr
      UNION ALL
      SELECT {id_col}, {scale} // ({c} + rank_sem), 0, rank_sem
      FROM semr)
    SELECT {id_col}, SUM(p)::BIGINT AS rrf_score,
           MAX(rank_lex)::BIGINT AS rank_lex,
           MAX(rank_sem)::BIGINT AS rank_sem
    FROM contrib GROUP BY {id_col}
    ORDER BY rrf_score DESC, {id_col} LIMIT {k}
    """


def mmr_diversify_topk(emb: DataFrame, id_col: str, vec_col: str,
                       probe_id: int, n: int = 20, k: int = 5,
                       lam_milli: int = 700) -> DataFrame:
    """Diversified top-``k`` retrieval — Maximal Marginal Relevance
    (Carbonell & Goldstein 1998, public) over EXACT integer
    similarities: the greedy re-rank every RAG pipeline wants when
    the raw top-k is five near-duplicates of the same document.
    Step by step the next pick maximizes::

        mmr_score = lam_milli·rel − (1000 − lam_milli)·maxsim

    where ``rel`` is the candidate's dot product with the probe and
    ``maxsim`` its largest dot with anything ALREADY selected — all
    computed on the int8-quantized grid (``similarity.quantize_int8``
    — floors pinned engine==oracle by the registered
    `embedding_quantize`), so every score is an exact BIGINT and the
    DuckDB oracle replays the greedy bit-for-bit (ties break (score
    desc, id asc), deterministically).  Returns ``(rank, id_col,
    rel_dot, maxsim_dot, mmr_score)`` — ``rank`` is pick order.

    Scale shape: relevance is one scan with the probe's quantized
    vector riding as a one-row broadcast (the scalar-subquery shape,
    ``_BNLJ_OK`` rationale if registered); the candidate pool is
    TakeOrdered ``n`` — the ONLY thing the greedy ever touches — and
    is collected driver-side (≤ n ≤ 64 rows of int8 vectors, the
    register-sized-collect convention the k-means/PQ codebooks use).
    The O(k·n) greedy with O(n²) worst-case dot reuse runs on that
    bounded pool; nothing data-sized sorts, shuffles or collects.
    """
    if not 1 <= k <= n:
        raise ValueError("need 1 <= k <= n")
    if n > 64:
        raise ValueError("n must be <= 64 (bounded driver pool)")
    if not 0 <= lam_milli <= 1000:
        raise ValueError("lam_milli must be in [0, 1000]")
    from kafkadirect_spark.functions.similarity import quantize_int8

    q = quantize_int8(emb, id_col, vec_col).select(id_col, "qvec")
    probe = (q.filter(F.col(id_col) == probe_id)
             .select(F.col("qvec").alias("__p")))
    dot = F.aggregate(
        F.zip_with("qvec", "__p",
                   lambda x, y: x.cast("long") * y),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    rel = (q.filter(F.col(id_col) != probe_id)
           .join(F.broadcast(probe))
           .select(F.col(id_col), "qvec", dot.alias("__rel")))
    pool = (rel.orderBy(F.col("__rel").desc(), F.col(id_col))
            .limit(n).collect())

    def pdot(a, b):
        return sum(int(x) * int(y) for x, y in zip(a, b))

    chosen: list = []
    remaining = [(r[0], int(r["__rel"]), list(r["qvec"]))
                 for r in pool]
    rows = []
    while remaining and len(rows) < k:
        best = None
        for cid, crel, cvec in remaining:
            ms = max((pdot(cvec, svec) for _, _, svec in chosen),
                     default=0)
            score = lam_milli * crel - (1000 - lam_milli) * ms
            key = (-score, cid)
            if best is None or key < best[0]:
                best = (key, cid, crel, ms, score, cvec)
        _, cid, crel, ms, score, cvec = best
        chosen.append((cid, crel, cvec))
        rows.append((len(rows) + 1, cid, crel, ms, score))
        remaining = [c for c in remaining if c[0] != cid]
    id_type = emb.schema[id_col].dataType.simpleString()
    return emb.sparkSession.createDataFrame(
        rows, f"rank long, `{id_col}` {id_type}, rel_dot long, "
              "maxsim_dot long, mmr_score long")


def mmr_oracle_sql(probe_id: int, n: int = 20, k: int = 5,
                   lam_milli: int = 700, table: str = "embeddings",
                   id_col: str = "vec_id",
                   vec_col: str = "embedding") -> str:
    """DuckDB replay of ``mmr_diversify_topk`` — the same int8
    quantization CTE as the registered `embedding_quantize` oracle,
    exact integer dots via per-position unnest joins, and the greedy
    as a single-row recursive CTE whose LATERAL argmax carries the
    chosen-id list (the recursive-Viterbi discipline)."""
    mu = 1000 - lam_milli
    return f"""
    WITH RECURSIVE d AS (
      SELECT {id_col} AS id,
             list_transform({vec_col}, v -> CAST(v AS DOUBLE)) AS x
      FROM {table}),
    s AS (
      SELECT id, x,
             list_max(list_transform(x, v -> abs(v))) AS scale
      FROM d),
    q AS (
      SELECT id,
             CASE WHEN scale = 0 THEN list_transform(x, v -> 0)
                  ELSE list_transform(
                    x, v -> CAST(floor(v * 127 / scale) AS INT))
             END AS qvec
      FROM s),
    px AS (
      SELECT unnest(qvec) AS pv,
             generate_subscripts(qvec, 1) AS i
      FROM q WHERE id = {probe_id}),
    bx AS (
      SELECT id, unnest(qvec) AS bv,
             generate_subscripts(qvec, 1) AS i
      FROM q WHERE id <> {probe_id}),
    rel AS (
      SELECT bx.id, SUM(bx.bv * px.pv)::BIGINT AS rel
      FROM bx JOIN px ON bx.i = px.i GROUP BY bx.id),
    cand AS (
      SELECT r.id, r.rel FROM rel r
      ORDER BY r.rel DESC, r.id LIMIT {n}),
    cx AS (
      SELECT q.id, unnest(q.qvec) AS v,
             generate_subscripts(q.qvec, 1) AS i
      FROM q JOIN cand ON cand.id = q.id),
    sims AS (
      SELECT a.id AS ia, b.id AS ib, SUM(a.v * b.v)::BIGINT AS s
      FROM cx a JOIN cx b ON a.i = b.i AND a.id <> b.id
      GROUP BY a.id, b.id),
    sel(step, id, rel, maxsim, score, chosen) AS (
      (SELECT 1, id, rel, 0::BIGINT, {lam_milli} * rel, [id]
       FROM cand ORDER BY {lam_milli} * rel DESC, id LIMIT 1)
      UNION ALL
      (SELECT prev.step + 1, pick.id, pick.rel, pick.ms, pick.score,
              list_append(prev.chosen, pick.id)
       FROM sel prev,
            LATERAL (
              SELECT c.id, c.rel,
                     COALESCE((SELECT MAX(s.s) FROM sims s
                               WHERE s.ia = c.id
                                 AND list_contains(prev.chosen,
                                                   s.ib)),
                              0)::BIGINT AS ms,
                     {lam_milli} * c.rel
                     - {mu} * COALESCE(
                         (SELECT MAX(s.s) FROM sims s
                          WHERE s.ia = c.id
                            AND list_contains(prev.chosen, s.ib)),
                         0) AS score
              FROM cand c
              WHERE NOT list_contains(prev.chosen, c.id)
              ORDER BY score DESC, c.id LIMIT 1) pick
       WHERE prev.step < {k}))
    SELECT step::BIGINT AS rank, id AS {id_col},
           rel::BIGINT AS rel_dot, maxsim AS maxsim_dot,
           score::BIGINT AS mmr_score
    FROM sel
    """
