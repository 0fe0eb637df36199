"""Warehouse/pipeline analytics beyond the reference surface, round 5
batch 4 — sketches and deterministic ordering primitives, oracle-paired.

The reference engine has neither approximate aggregation nor a global
ordering primitive (Kafka Streams state is exact and per-partition;
SURVEY.md §2.4).  These are the operations a 100 TB training-data
warehouse adds on top: cardinality sketches whose registers merge
without re-reading data, and hash-deterministic global
shuffles/samples that are stable under re-runs and data growth.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkadirect_spark.functions import diagnostics, sketch
from kafkadirect_spark.plans.queries import query
from kafkadirect_spark.sources.batch import load_table


_H = ("(('0x' || substr(md5('{seed}' || doc_id::VARCHAR), 1, 14))::BIGINT"
      " % 2147483647)")


@query(
    "global_shuffle",
    oracle=f"""
    WITH h AS (
      SELECT doc_id, {_H.format(seed='shuffle')} AS h FROM documents)
    SELECT doc_id,
           CAST(ROW_NUMBER() OVER (ORDER BY h % 1024, h, doc_id)
                AS BIGINT) AS pos
    FROM h
    """,
)
def global_shuffle(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic global training-shuffle positions
    (functions/curation.py shuffle_positions): contiguous pos ∈ [1, N]
    in salted-hash order with NO single-reducer global sort — shards
    rank locally, shard counts (≤1024 rows, bounded by construction)
    become broadcast offsets.  The oracle replays the induced total
    order as one ROW_NUMBER."""
    from kafkadirect_spark.functions import curation

    docs = load_table(spark, sf_dir, "documents")
    return curation.shuffle_positions(docs, "doc_id", seed="shuffle")


@query(
    "sample_exact_per_group",
    oracle=f"""
    WITH h AS (
      SELECT lang, doc_id, {_H.format(seed='strat')} AS h FROM documents)
    SELECT lang, doc_id FROM (
      SELECT lang, doc_id,
             ROW_NUMBER() OVER (PARTITION BY lang ORDER BY h, doc_id) AS rn
      FROM h)
    WHERE rn <= 20
    """,
)
def sample_exact_per_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-20 documents per language, rerun-stable (functions/
    curation.py sample_exact_n_per_group): each stratum's 20 smallest
    rows in salted-hash order via a stratum-partitioned rank window —
    one shuffle on the stratum key, per-task sort bounded by stratum
    size, no RNG state.  The exact-count sampling `stratified_sample`
    (binomial per-stratum sizes) cannot provide."""
    from kafkadirect_spark.functions import curation

    docs = load_table(spark, sf_dir, "documents")
    return curation.sample_exact_n_per_group(
        docs, ["lang"], "doc_id", 20, seed="strat")


_TOK_SQL = ("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
            "x -> x <> '')")


@query(
    "term_relevance_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK_SQL}) AS t FROM documents),
    tf AS (
      SELECT doc_id, t, CAST(COUNT(*) AS BIGINT) AS tf
      FROM tok GROUP BY doc_id, t),
    dfreq AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS df FROM tf GROUP BY t),
    n AS (SELECT CAST(COUNT(*) AS BIGINT) AS n FROM documents),
    scored AS (
      SELECT tf.doc_id, tf.t,
             CAST(1000000::BIGINT * tf.tf * n.n // dfreq.df AS BIGINT)
               AS score_ppm
      FROM tf JOIN dfreq USING (t) CROSS JOIN n),
    ranked AS (
      SELECT doc_id, t AS term, score_ppm,
             CAST(ROW_NUMBER() OVER (PARTITION BY doc_id
                  ORDER BY score_ppm DESC, t ASC) AS BIGINT) AS rk
      FROM scored)
    SELECT doc_id, term, score_ppm, rk FROM ranked WHERE rk <= 3
    """,
)
def term_relevance_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-3 distinguishing terms per document by the exact integer
    tf·idf ratio (functions/curation.py term_relevance) — keyword
    extraction with a hash-exact cross-engine score (linear idf in
    BIGINT ppm; log-idf drifts across libm builds)."""
    from kafkadirect_spark.functions import curation

    docs = load_table(spark, sf_dir, "documents")
    return curation.term_relevance(docs, "doc_id", "text", k=3)


_KM_DIST = """
  SELECT q.vec_id, s.cid,
         CAST(list_sum(list_transform(generate_series(1, 64),
              i -> (q.qv[i] - s.cv[i]) * (q.qv[i] - s.cv[i])))
              AS BIGINT) AS d
  FROM q CROSS JOIN {cents} s
"""


# The full 2-iteration integer k-means replay, factored so both
# kmeans_clusters and semdedup_prune share one oracle formulation:
# quantize → seed on the 4 smallest ids → assign → integer centroid
# means → reassign.  Exposes ``q(vec_id, qv)`` and
# ``a2(vec_id, cluster_id, dist_sq)``.
_KM_CTES = f"""
    q AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qv
      FROM embeddings),
    seed AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, qv AS cv
      FROM q ORDER BY vec_id LIMIT 4),
    d1 AS ({_KM_DIST.format(cents='seed')}),
    a1 AS (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d1) WHERE rn = 1),
    pos AS (SELECT unnest(generate_series(1, 64)) AS p),
    u1 AS (
      SELECT a.cid, p.p, CAST(SUM(q.qv[p.p]) // COUNT(*) AS BIGINT) AS v
      FROM a1 a JOIN q USING (vec_id) CROSS JOIN pos p
      GROUP BY a.cid, p.p),
    c1 AS (
      SELECT s.cid,
             CASE WHEN COUNT(u.v) = 0 THEN ANY_VALUE(s.cv)
                  ELSE list(u.v ORDER BY u.p) END AS cv
      FROM seed s LEFT JOIN u1 u ON u.cid = s.cid
      GROUP BY s.cid),
    d2 AS ({_KM_DIST.format(cents='c1')}),
    a2 AS (
      SELECT vec_id, cid AS cluster_id, d AS dist_sq FROM (
        SELECT vec_id, cid, d,
               ROW_NUMBER() OVER (PARTITION BY vec_id ORDER BY d, cid) AS rn
        FROM d2) WHERE rn = 1)
"""


@query(
    "kmeans_clusters",
    oracle=f"""
    WITH {_KM_CTES}
    SELECT vec_id, cluster_id, dist_sq FROM a2
    """,
)
def kmeans_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Distributed integer-exact Lloyd's k-means (k=4, 2 iterations)
    over globally-quantized embeddings — an ITERATIVE algorithm with a
    bit-exact SQL oracle (functions/similarity.py kmeans_quantized):
    quantize → broadcast int64-matmul argmin → integer centroid means →
    reassign, every step replayed unrolled in DuckDB.  Assignment is
    one zero-shuffle Python stage; the per-iteration update collects
    exactly k·dim rows (bounded by construction)."""
    from kafkadirect_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.kmeans_quantized(emb, "vec_id", "embedding",
                                       k=4, iters=2)


_CMS_B = ("((('0x' || substr(md5('cms{i}:' || e.t), 1, 14))::BIGINT"
          " % 2147483647) % 1024)")


@query(
    "heavy_hitters_cms",
    oracle=f"""
    WITH tok AS (SELECT unnest({_TOK_SQL}) AS t FROM documents),
    reg AS ({sketch.cms_oracle_registers_sql("SELECT t FROM tok")}),
    exact AS (
      SELECT t, CAST(COUNT(*) AS BIGINT) AS exact_cnt
      FROM tok GROUP BY t ORDER BY exact_cnt DESC, t LIMIT 20)
    SELECT e.t AS term, e.exact_cnt,
           CAST(LEAST(r0.cnt, r1.cnt, r2.cnt) AS BIGINT) AS cms_est,
           CAST(LEAST(r0.cnt, r1.cnt, r2.cnt) - e.exact_cnt AS BIGINT)
             AS over_est
    FROM exact e
    JOIN reg r0 ON r0.row = 0 AND r0.bucket = {_CMS_B.format(i=0)}
    JOIN reg r1 ON r1.row = 1 AND r1.bucket = {_CMS_B.format(i=1)}
    JOIN reg r2 ON r2.row = 2 AND r2.bucket = {_CMS_B.format(i=2)}
    """,
)
def heavy_hitters_cms(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Count-min frequency estimation for the corpus's heavy hitters:
    registers over every token occurrence (exactly d·w = 3072 rows —
    mergeable by addition, broadcastable), probed with the exact
    top-20 terms so the one-sided error is visible in the output
    (``over_est ≥ 0`` always; functions/sketch.py cms_sketch).
    Approximate counting with an exact cross-engine oracle."""
    from pyspark.sql import functions as F

    from kafkadirect_spark.functions import diagnostics, sketch, text
    from kafkadirect_spark.functions.dedup import _persist

    docs = load_table(spark, sf_dir, "documents")
    toks = _persist(docs.select(
        F.explode(text.tokens("text")).alias("t")))
    reg = sketch.cms_sketch(toks, "t")
    exact = (toks.groupBy("t")
             .agg(F.count(F.lit(1)).alias("exact_cnt"))
             .orderBy(F.col("exact_cnt").desc(), F.col("t").asc())
             .limit(20))
    return (sketch.cms_lookup(reg, exact, "t")
            .select(F.col("t").alias("term"), "exact_cnt", "cms_est",
                    (F.col("cms_est") - F.col("exact_cnt"))
                    .cast("long").alias("over_est")))


@query(
    "event_funnel",
    oracle="""
    WITH v AS (
      SELECT user_id, MIN(ts) AS t1 FROM events
      WHERE event_type = 'view' GROUP BY user_id),
    c AS (
      SELECT e.user_id, MIN(v.t1) AS t1, MIN(e.ts) AS t2
      FROM events e JOIN v ON e.user_id = v.user_id
      WHERE e.event_type = 'click' AND e.ts >= v.t1
        AND e.ts <= v.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id),
    p AS (
      SELECT e.user_id, MIN(e.ts) AS t3
      FROM events e JOIN c ON e.user_id = c.user_id
      WHERE e.event_type = 'purchase' AND e.ts >= c.t2
        AND e.ts <= c.t1 + INTERVAL 7 DAY
      GROUP BY e.user_id)
    SELECT v.user_id, v.t1, c.t2, p.t3,
           CAST(CASE WHEN p.t3 IS NOT NULL THEN 3
                     WHEN c.t2 IS NOT NULL THEN 2
                     ELSE 1 END AS BIGINT) AS stage
    FROM v LEFT JOIN c ON v.user_id = c.user_id
           LEFT JOIN p ON v.user_id = p.user_id
    """,
)
def event_funnel(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ordered conversion funnel view → click → purchase within 7 days
    of the first view: per user, the earliest timestamp of each stage
    reached IN ORDER (a click before the first view doesn't count).
    Kafka Streams cannot express this without a custom processor; here
    it is three min-aggregations chained by user-keyed hash joins —
    no window over event history, no per-user sort, skew-free at any
    scale."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("event_type") == "view")
         .groupBy("user_id").agg(F.min("ts").alias("t1")))
    c = (ev.filter(F.col("event_type") == "click").join(v, "user_id")
         .filter((F.col("ts") >= F.col("t1"))
                 & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAYS")))
         .groupBy("user_id")
         .agg(F.min("t1").alias("t1"), F.min("ts").alias("t2")))
    p = (ev.filter(F.col("event_type") == "purchase")
         .join(c, "user_id")
         .filter((F.col("ts") >= F.col("t2"))
                 & (F.col("ts") <= F.col("t1") + F.expr("INTERVAL 7 DAYS")))
         .groupBy("user_id").agg(F.min("ts").alias("t3")))
    return (v.join(c.select("user_id", "t2"), "user_id", "left")
            .join(p, "user_id", "left")
            .select("user_id", "t1", "t2", "t3",
                    F.when(F.col("t3").isNotNull(), 3)
                    .when(F.col("t2").isNotNull(), 2)
                    .otherwise(1).cast("long").alias("stage")))


@query(
    "retention_cohorts",
    oracle="""
    WITH f AS (
      -- TIMESTAMP cast: DuckDB's date_trunc('week') yields DATE while
      -- Spark's yields TIMESTAMP; the driver's pandas canonicalization
      -- absorbs that (both become datetime64), but the cast keeps the
      -- tolerant row-compare in tools/check_oracle.py exact too.
      SELECT user_id, CAST(date_trunc('week', MIN(ts)) AS TIMESTAMP) AS cw
      FROM events GROUP BY user_id),
    a AS (
      SELECT DISTINCT user_id,
             CAST(date_trunc('week', ts) AS TIMESTAMP) AS w FROM events)
    SELECT f.cw AS cohort_week,
           CAST(date_diff('day', f.cw, a.w) // 7 AS BIGINT) AS week_offset,
           CAST(COUNT(DISTINCT a.user_id) AS BIGINT) AS n_users
    FROM f JOIN a USING (user_id)
    GROUP BY 1, 2
    """,
)
def retention_cohorts(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Weekly retention cohorts: users grouped by first-activity week,
    counted in every later week they return — the cohort triangle
    every growth dashboard starts from.  Two user-keyed aggregations
    and one join; the distinct (user, week) pre-aggregation bounds the
    final COUNT DISTINCT's input."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    f = (ev.groupBy("user_id")
         .agg(F.date_trunc("week", F.min("ts")).alias("cw")))
    a = (ev.select("user_id", F.date_trunc("week", "ts").alias("w"))
         .distinct())
    return (f.join(a, "user_id")
            .groupBy(F.col("cw").alias("cohort_week"),
                     F.expr("CAST(datediff(w, cw) DIV 7 AS LONG)")
                     .alias("week_offset"))
            .agg(F.count_distinct("user_id").cast("long").alias("n_users")))


@query(
    "value_quantiles_hist",
    oracle="""
    WITH v AS (
      SELECT CAST(floor(value * 1000) AS BIGINT) AS x
      FROM events WHERE value IS NOT NULL),
    b AS (
      SELECT LEAST(GREATEST((x - 0) * 1000 // 1000000, 0), 999) AS bin
      FROM v),
    reg AS (SELECT bin, CAST(COUNT(*) AS BIGINT) AS cnt FROM b GROUP BY bin),
    c AS (
      SELECT bin, cnt,
             CAST(SUM(cnt) OVER (ORDER BY bin) AS BIGINT) AS cum,
             CAST(SUM(cnt) OVER () AS BIGINT) AS n
      FROM reg)
    SELECT CAST(q AS BIGINT) AS q_permille,
           CAST(0 + MIN(CASE WHEN cum >= (q * n + 999) // 1000
                             THEN bin END) * 1000000 // 1000
                AS BIGINT) AS est_value
    FROM c CROSS JOIN (SELECT unnest([250, 500, 900, 990]) AS q) qs
    GROUP BY q
    """,
)
def value_quantiles_hist(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quantiles of the event value distribution via the mergeable
    equi-width histogram sketch (functions/sketch.py hist_registers):
    values quantized to integer milli-units (one deterministic float
    multiply), 1000 bins over [0, 1000) units, p25/p50/p90/p99
    estimated as first-covering-bin lower edges — integer arithmetic
    end to end, one-bin-width error by construction.  Unlike Spark's
    approx_percentile (engine-internal layout, not replayable), the
    registers AND the estimates are bit-exact in DuckDB.  The sketch
    completes the family: HLL (distinct), CMS (frequency), histogram
    (quantiles) — all bounded-register, all merge without re-reading
    data."""
    from pyspark.sql import functions as F

    from kafkadirect_spark.functions import diagnostics, sketch

    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull())
         .select(F.floor(F.col("value") * 1000).cast("long")
                 .alias("v_milli")))
    reg = sketch.hist_registers(v, "v_milli", lo=0, hi=1_000_000,
                                bins=1000)
    return sketch.hist_quantiles(reg, [250, 500, 900, 990],
                                 lo=0, hi=1_000_000, bins=1000)


_KMV_H = "('0x' || substr(md5(t), 1, 12))::BIGINT"


@query(
    "vocab_overlap_kmv",
    oracle=f"""
    WITH ta AS (
      SELECT DISTINCT {_KMV_H} AS h FROM (
        SELECT unnest({_TOK_SQL}) AS t FROM documents WHERE lang = 'en')),
    tb AS (
      SELECT DISTINCT {_KMV_H} AS h FROM (
        SELECT unnest({_TOK_SQL}) AS t FROM documents WHERE lang <> 'en')),
    sa AS (SELECT h FROM ta ORDER BY h LIMIT 256),
    sb AS (SELECT h FROM tb ORDER BY h LIMIT 256),
    mu AS (SELECT h FROM (SELECT h FROM sa UNION SELECT h FROM sb)
           ORDER BY h LIMIT 256),
    bth AS (SELECT mu.h FROM mu JOIN sa USING (h) JOIN sb USING (h)),
    ea AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS hk FROM sa),
    eb AS (SELECT CAST(COUNT(*) AS BIGINT) AS n, MAX(h) AS hk FROM sb)
    SELECT
      (SELECT CAST(COUNT(*) AS BIGINT) FROM mu) AS m,
      (SELECT CAST(COUNT(*) AS BIGINT) FROM bth) AS n_both,
      CAST(1000 * (SELECT COUNT(*) FROM bth)
           // (SELECT COUNT(*) FROM mu) AS BIGINT) AS jaccard_permille,
      (SELECT CAST(CASE WHEN n < 256 THEN n
                        ELSE {255 * (1 << 48)} // hk END AS BIGINT)
       FROM ea) AS est_distinct_en,
      (SELECT CAST(CASE WHEN n < 256 THEN n
                        ELSE {255 * (1 << 48)} // hk END AS BIGINT)
       FROM eb) AS est_distinct_other
    """,
)
def vocab_overlap_kmv(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary overlap between English and non-English documents via
    KMV sketches (functions/sketch.py kmv_sketch): per-set distinct
    estimates AND an unbiased Jaccard estimate from the union-minima
    sample — the set-INTERSECTION capability HLL lacks.  Each sketch
    is k=256 rows (TakeOrdered over hash-distinct vocab, per-partition
    heaps); everything downstream operates on ≤256-row frames.
    Integer arithmetic end to end — an approximate set-similarity
    estimator with an exact cross-engine oracle."""
    from pyspark.sql import functions as F

    from kafkadirect_spark.functions import diagnostics, sketch, text
    from kafkadirect_spark.functions.dedup import _persist

    docs = _persist(load_table(spark, sf_dir, "documents")
                    .select("lang", F.explode(text.tokens("text"))
                            .alias("t")))
    a = sketch.kmv_sketch(docs.filter(F.col("lang") == "en"), "t")
    b = sketch.kmv_sketch(docs.filter(F.col("lang") != "en"), "t")
    jac = sketch.kmv_jaccard(a, b)
    ea = (sketch.kmv_est_distinct(a)
          .select(F.col("est_distinct").alias("est_distinct_en")))
    eb = (sketch.kmv_est_distinct(b)
          .select(F.col("est_distinct").alias("est_distinct_other")))
    return jac.join(ea).join(eb)


@query(
    "user_moving_avg",
    oracle="""
    WITH v AS (
      SELECT user_id, ts, event_id,
             CAST(floor(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL),
    w AS (
      SELECT user_id, event_id, cents,
             CAST(SUM(cents) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS s,
             CAST(COUNT(*) OVER (PARTITION BY user_id
                  ORDER BY ts, event_id
                  ROWS BETWEEN 3 PRECEDING AND CURRENT ROW)
                  AS BIGINT) AS c
      FROM v)
    SELECT user_id, event_id, cents,
           CAST(s // c AS BIGINT) AS avg_cents_4
    FROM w
    """,
)
def user_moving_avg(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user moving average over the last 4 events (ROWS frame) —
    the trailing-window smoothing every monitoring dashboard computes,
    inexpressible in the reference's merged-window model.  Value is
    quantized to integer cents FIRST (one deterministic float op), so
    the windowed SUM and the floor-divided average are hash-exact
    across engines — a float running mean would drift in the last ulp.
    The window partitions on high-cardinality user_id: one shuffle,
    skew-free."""
    from pyspark.sql import Window
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    w = (Window.partitionBy("user_id").orderBy("ts", "event_id")
         .rowsBetween(-3, Window.currentRow))
    v = (ev.filter(F.col("value").isNotNull())
         .select("user_id", "event_id", "ts",
                 F.floor(F.col("value") * 100).cast("long").alias("cents")))
    return (v.withColumn("__s", F.sum("cents").over(w))
            .withColumn("__c", F.count(F.lit(1)).over(w))
            .select("user_id", "event_id", "cents",
                    F.expr("CAST(__s DIV __c AS LONG)").alias("avg_cents_4")))


@query(
    "semdedup_prune",
    oracle=f"""
    WITH {_KM_CTES},
    pairs AS (
      SELECT a.vec_id,
             CAST(list_sum(list_transform(generate_series(1, 64),
                  i -> qa.qv[i] * qb.qv[i])) AS HUGEINT) AS dot,
             CAST(list_sum(list_transform(qa.qv, x -> x * x)) AS HUGEINT)
               AS na2,
             CAST(list_sum(list_transform(qb.qv, x -> x * x)) AS HUGEINT)
               AS nb2
      FROM a2 a
      JOIN a2 b ON a.cluster_id = b.cluster_id AND b.vec_id < a.vec_id
      JOIN q qa ON qa.vec_id = a.vec_id
      JOIN q qb ON qb.vec_id = b.vec_id),
    dup AS (
      SELECT DISTINCT vec_id FROM pairs
      WHERE dot > 0 AND 400::HUGEINT * dot * dot >= 81::HUGEINT * na2 * nb2)
    SELECT a2.vec_id, a2.cluster_id,
           (dup.vec_id IS NOT NULL) AS is_dup
    FROM a2 LEFT JOIN dup ON dup.vec_id = a2.vec_id
    """,
)
def semdedup_prune(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup cluster-then-prune (Abbas et al. 2023): integer k-means
    partitions the embedding space, then each vector is flagged as a
    semantic duplicate if a LOWER-id cluster-mate has cosine >= 0.45 —
    the within-cluster pass that replaces corpus-wide all-pairs.  Every
    comparison is integer arithmetic over the globally-quantized
    vectors, evaluated in DECIMAL(38,0)/HUGEINT (the squared products
    exceed int64), so the APPROXIMATE pipeline has an EXACT oracle.
    Scale: zero-shuffle assignment + one shuffle grouping each
    cluster for a BLAS Gram pass (functions/similarity.py
    semdedup_prune)."""
    from kafkadirect_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.semdedup_prune(emb, "vec_id", "embedding",
                                     k=4, iters=2)


# -- rolling cumulative HLL: the merge path, exercised as a query --

_HLL_P, _HLL_M = 10, 1024
_HLL_WMASK = 1 << sketch.W_FIELD
_HLL_EMPTY = 1 << (sketch.W_FIELD + 1)
_HLL_NUM = sketch.alpha_m2(_HLL_P) * _HLL_EMPTY


@query(
    "rolling_distinct_hll",
    oracle=f"""
    WITH h AS (
      -- TIMESTAMP cast: DuckDB date_trunc('day') yields DATE, Spark's
      -- yields TIMESTAMP (same alignment as retention_cohorts)
      SELECT CAST(date_trunc('day', ts) AS TIMESTAMP) AS as_of,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT
               AS h56
      FROM events WHERE user_id IS NOT NULL),
    b AS (
      SELECT as_of, h56 % {_HLL_M} AS bucket,
             length(ltrim(bin((h56 // {_HLL_M}) % {_HLL_WMASK}), '0'))
               AS bitlen
      FROM h),
    reg AS (
      SELECT as_of, bucket, MIN(bitlen) AS min_bitlen
      FROM b GROUP BY as_of, bucket),
    days AS (SELECT DISTINCT as_of FROM reg),
    cum AS (
      SELECT d.as_of, r.bucket, MIN(r.min_bitlen) AS min_bitlen
      FROM days d JOIN reg r ON r.as_of <= d.as_of
      GROUP BY d.as_of, r.bucket),
    s AS (
      SELECT as_of, CAST(COUNT(*) AS BIGINT) AS nonzero_buckets,
             CAST(COALESCE(SUM(1::BIGINT << min_bitlen), 0) AS BIGINT)
               AS present_pow
      FROM cum GROUP BY as_of)
    SELECT as_of, CAST({_HLL_M} AS BIGINT) AS m, nonzero_buckets,
           CAST(present_pow
                + ({_HLL_M} - nonzero_buckets) * {_HLL_EMPTY}::BIGINT
                AS BIGINT) AS sum_pow,
           CAST(CASE WHEN nonzero_buckets = 0 THEN 0
                ELSE {_HLL_NUM}::BIGINT
                  // (present_pow
                      + ({_HLL_M} - nonzero_buckets) * {_HLL_EMPTY}::BIGINT)
                END AS BIGINT) AS est_distinct
    FROM s
    """,
)
def rolling_distinct_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cumulative distinct users per day via MERGED daily HLL sketches —
    the mergeability demo: one pass builds per-day registers (grouped
    partial-aggregated, <= m rows per day), then every as-of day's
    estimate is a register-min MERGE of the days before it, never a
    re-read of raw events.  The day x day register expansion is
    register-space (days^2 x m rows at most), independent of data
    volume — a COUNT(DISTINCT) formulation would rescan and reshuffle
    the raw keys once per as-of day.  Integer-exact end to end."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    regs = sketch.hll_registers(
        ev.select(F.date_trunc("day", "ts").alias("day"), "user_id"),
        "user_id", p=_HLL_P, by=("day",))
    days = regs.select(F.col("day").alias("as_of")).distinct()
    cum = (regs.join(F.broadcast(days), F.col("day") <= F.col("as_of"))
           .groupBy("as_of", "bucket")
           .agg(F.min("min_bitlen").alias("min_bitlen")))
    return sketch.hll_estimate(cum, p=_HLL_P, by=("as_of",))


@query(
    "distinct_users_by_type_hll",
    oracle=f"""
    WITH h AS (
      SELECT event_type,
             ('0x' || substr(md5(CAST(user_id AS VARCHAR)), 1, 14))::BIGINT
               AS h56
      FROM events WHERE user_id IS NOT NULL),
    b AS (
      SELECT event_type, h56 % {_HLL_M} AS bucket,
             length(ltrim(bin((h56 // {_HLL_M}) % {_HLL_WMASK}), '0'))
               AS bitlen
      FROM h),
    reg AS (
      SELECT event_type, bucket, MIN(bitlen) AS min_bitlen
      FROM b GROUP BY event_type, bucket),
    s AS (
      SELECT event_type, CAST(COUNT(*) AS BIGINT) AS nonzero_buckets,
             CAST(COALESCE(SUM(1::BIGINT << min_bitlen), 0) AS BIGINT)
               AS present_pow
      FROM reg GROUP BY event_type)
    SELECT event_type, CAST({_HLL_M} AS BIGINT) AS m, nonzero_buckets,
           CAST(present_pow
                + ({_HLL_M} - nonzero_buckets) * {_HLL_EMPTY}::BIGINT
                AS BIGINT) AS sum_pow,
           CAST(CASE WHEN nonzero_buckets = 0 THEN 0
                ELSE {_HLL_NUM}::BIGINT
                  // (present_pow
                      + ({_HLL_M} - nonzero_buckets) * {_HLL_EMPTY}::BIGINT)
                END AS BIGINT) AS est_distinct
    FROM s
    """,
)
def distinct_users_by_type_hll(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-event-type distinct-user estimates from ONE grouped HLL
    register pass (functions/sketch.py ``by=`` groups) — the
    grouped-dashboard shape: the exchange carries ≤ groups·m register
    rows via map-side partial min, never the raw keys, and each
    group's sketch later merges with other days/sources through
    ``hll_merge`` without re-reading events.  Integer-exact end to
    end."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    regs = sketch.hll_registers(
        ev.select("event_type", "user_id"), "user_id",
        p=_HLL_P, by=("event_type",))
    return sketch.hll_estimate(regs, p=_HLL_P, by=("event_type",))


@query(
    "interval_overlap_left",
    oracle="""
    WITH s AS (
      SELECT s_suppkey,
             CAST(floor(s_acctbal * 100) AS BIGINT) AS a_lo,
             CAST(floor(s_acctbal * 100) AS BIGINT) + 20000 AS a_hi
      FROM supplier),
    c AS (
      SELECT c_custkey,
             CAST(floor(c_acctbal * 100) AS BIGINT) AS b_lo,
             CAST(floor(c_acctbal * 100) AS BIGINT) + 10000 AS b_hi
      FROM customer WHERE c_acctbal < 5000),
    j AS (
      SELECT s.s_suppkey, c.c_custkey
      FROM s LEFT JOIN c ON s.a_lo < c.b_hi AND c.b_lo < s.a_hi)
    SELECT s_suppkey,
           CAST(COUNT(c_custkey) AS BIGINT) AS n_overlap,
           CAST(COALESCE(SUM(c_custkey), 0) AS BIGINT) AS sum_custkey
    FROM j GROUP BY s_suppkey
    """,
)
def interval_overlap_left(spark: SparkSession, sf_dir: str) -> DataFrame:
    """LEFT interval-overlap join (operators/rangejoin.py
    interval_overlap_join how='left'): every supplier band appears —
    high-balance suppliers whose [s_acctbal, +$200) band overlaps no
    sub-$5000 customer band [c_acctbal, +$100) survive with zero
    matches.  The unmatched side re-enters via an anti-join on the
    caller-supplied unique key (s_suppkey) after the canonical-bucket
    inner pass — no nested loop, no cartesian (plan-linted like every
    registered query)."""
    from pyspark.sql import functions as F

    from kafkadirect_spark.operators import rangejoin

    cents = lambda c: F.floor(F.col(c) * 100).cast("long")  # noqa: E731
    supp = (load_table(spark, sf_dir, "supplier")
            .select("s_suppkey", cents("s_acctbal").alias("a_lo"),
                    (cents("s_acctbal") + 20000).alias("a_hi")))
    cust = (load_table(spark, sf_dir, "customer")
            .filter(F.col("c_acctbal") < 5000)
            .select("c_custkey", cents("c_acctbal").alias("b_lo"),
                    (cents("c_acctbal") + 10000).alias("b_hi")))
    joined = rangejoin.interval_overlap_join(
        supp, cust, "a_lo", "a_hi", "b_lo", "b_hi",
        bucket_width=15_000, how="left", left_key="s_suppkey")
    return (joined.groupBy("s_suppkey")
            .agg(F.count("c_custkey").cast("long").alias("n_overlap"),
                 F.coalesce(F.sum("c_custkey"), F.lit(0)).cast("long")
                 .alias("sum_custkey")))


@query(
    "range_bucket_join",
    oracle="""
    WITH c AS (
      SELECT c_custkey, CAST(floor(c_acctbal * 100) AS BIGINT) AS c_cents
      FROM customer),
    s AS (
      SELECT s_suppkey, CAST(floor(s_acctbal * 100) AS BIGINT) AS lo
      FROM supplier)
    SELECT s.s_suppkey,
           CAST(COUNT(*) AS BIGINT) AS n_customers,
           CAST(SUM(c.c_cents) AS BIGINT) AS sum_cents
    FROM c JOIN s ON c.c_cents >= s.lo AND c.c_cents < s.lo + 100000
    GROUP BY s.s_suppkey
    """,
)
def range_bucket_join(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-interval range join WITHOUT a nested loop
    (operators/rangejoin.py): each supplier opens the balance interval
    [s_acctbal, s_acctbal + $1000); customers landing inside are
    matched through fixed-width bucket quantization — intervals explode
    to <= 3 bucket rows, points map to one, and an ordinary shuffled
    equi-join on the bucket id replaces the BroadcastNestedLoopJoin /
    cartesian Spark would otherwise plan for the bare inequality.
    Both sides stay shuffle-partitioned (either may be fact-sized);
    money is integer cents so the containment check is exact.  The
    oracle is the naive inequality join — same semantics, scale-naive
    plan."""
    from pyspark.sql import functions as F

    from kafkadirect_spark.operators import rangejoin

    cents = lambda c: F.floor(F.col(c) * 100).cast("long")  # noqa: E731
    cust = (load_table(spark, sf_dir, "customer")
            .select("c_custkey", cents("c_acctbal").alias("c_cents")))
    supp = (load_table(spark, sf_dir, "supplier")
            .select("s_suppkey", cents("s_acctbal").alias("lo"),
                    (cents("s_acctbal") + 100000).alias("hi")))
    joined = rangejoin.point_in_interval_join(
        cust, supp, "c_cents", "lo", "hi", bucket_width=50_000)
    return (joined.groupBy("s_suppkey")
            .agg(F.count("*").cast("long").alias("n_customers"),
                 F.sum("c_cents").cast("long").alias("sum_cents")))


def _zorder_oracle() -> str:
    from kafkadirect_spark.functions import layout

    qx = layout.quantize_dim_sql("user_id", 0, 10_000, 8)
    qy = layout.quantize_dim_sql("floor(value * 100)", 0, 100_000, 8)
    z = layout.zorder_sql([qx, qy], bits=8)
    return f"""
    SELECT event_id,
           CAST({qx} AS BIGINT) AS qx,
           CAST({qy} AS BIGINT) AS qy,
           CAST({z} AS BIGINT) AS z
    FROM events
    WHERE user_id IS NOT NULL AND value IS NOT NULL
    """


@query("zorder_events", oracle=_zorder_oracle())
def zorder_events(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Z-order (Morton) clustering index over two event dimensions
    (functions/layout.py): user_id and value-cents each quantize to an
    8-bit cell (integer clamp + DIV, no double division), and the
    cells' bits interleave into one long — the key whose range-
    partitioned sorted layout gives every file a small bounding box
    in BOTH dimensions, making parquet min-max pruning effective for
    predicates on either (the Delta OPTIMIZE ZORDER BY technique).
    Pure bit arithmetic, replayed bit-for-bit by the DuckDB oracle;
    the layout win itself is pinned by tests/test_layout.py's
    bounding-box comparison."""
    from pyspark.sql import functions as F

    from kafkadirect_spark.functions import layout

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()
                  & F.col("value").isNotNull()))
    qx = layout.quantize_dim("user_id", 0, 10_000, 8)
    qy = layout.quantize_dim("floor(value * 100)", 0, 100_000, 8)
    return ev.select(
        "event_id", qx.alias("qx"), qy.alias("qy"),
        layout.zorder_index([qx, qy], bits=8).alias("z"))


@query(
    "scd2_asof_snapshot",
    oracle="""
    SELECT user_id, value, ts AS valid_from
    FROM (
      SELECT user_id, value, ts,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY ts DESC, event_id DESC) AS rn
      FROM events
      WHERE user_id IS NOT NULL AND event_type = 'purchase'
        AND ts <= TIMESTAMP '2024-01-16 00:00:00')
    WHERE rn = 1
    """,
)
def scd2_asof_snapshot(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Point-in-time dimension read over the scd2_history changelog:
    the state of every user's purchase dimension AS OF 2024-01-16 —
    latest version with valid_from <= T.  Planned as one max_by
    (struct-max last-wins, the Table.from_changelog pattern — no sort,
    no window, one shuffle with map-side partials); the time-travel
    filter prunes at the scan.  Companion to scd2_history, which
    materializes the full validity-interval history."""
    from pyspark.sql import functions as F

    ev = (load_table(spark, sf_dir, "events")
          .filter(F.col("user_id").isNotNull()
                  & (F.col("event_type") == "purchase")
                  & (F.col("ts") <= F.lit("2024-01-16 00:00:00")
                     .cast("timestamp"))))
    return (ev.groupBy("user_id")
            .agg(F.max(F.struct("ts", "event_id", "value")).alias("__s"))
            .select("user_id", F.col("__s.value").alias("value"),
                    F.col("__s.ts").alias("valid_from")))


@query(
    "supplier_pagerank",
    oracle="""
    WITH edges AS (
      SELECT DISTINCT o.o_custkey AS src,
             l.l_suppkey + 10000000 AS dst
      FROM orders o JOIN lineitem l ON o.o_orderkey = l.l_orderkey),
    nodes AS (SELECT src AS node FROM edges
              UNION SELECT dst FROM edges),
    deg AS (SELECT src, COUNT(*) AS d FROM edges GROUP BY 1),
    r0 AS (SELECT node, CAST(1000000000 AS BIGINT) AS rank FROM nodes),
    c1 AS (
      SELECT e.dst AS node, SUM((85 * (r0.rank // deg.d)) // 100) AS s
      FROM edges e JOIN deg USING (src) JOIN r0 ON r0.node = e.src
      GROUP BY 1),
    r1 AS (
      SELECT n.node,
             CAST(150000000 + COALESCE(c1.s, 0) AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c1 USING (node)),
    c2 AS (
      SELECT e.dst AS node, SUM((85 * (r1.rank // deg.d)) // 100) AS s
      FROM edges e JOIN deg USING (src) JOIN r1 ON r1.node = e.src
      GROUP BY 1),
    r2 AS (
      SELECT n.node,
             CAST(150000000 + COALESCE(c2.s, 0) AS BIGINT) AS rank
      FROM nodes n LEFT JOIN c2 USING (node))
    SELECT node, rank FROM r2
    """,
)
def supplier_pagerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Link-graph centrality prior (functions/graph.py:
    pagerank_scaled): 2 unrolled PageRank iterations over the
    customer→supplier purchase graph (suppliers offset by 1e7 so the
    id spaces are disjoint), ranks in exact scaled-integer arithmetic
    — the CommonCrawl-style quality prior a web corpus gates on,
    replayed iteration-for-iteration by the oracle's CTE chain.
    Per iteration: one rank-onto-edges join + one dst-keyed exchange
    with map-side partial sums; the rank table stays nodes-sized."""
    from kafkadirect_spark.functions.graph import pagerank_scaled

    orders = load_table(spark, sf_dir, "orders")
    lineitem = load_table(spark, sf_dir, "lineitem")
    edges = (
        orders.join(lineitem,
                    orders["o_orderkey"] == lineitem["l_orderkey"])
        .select(orders["o_custkey"].alias("src"),
                (lineitem["l_suppkey"] + 10_000_000).alias("dst"))
        .distinct()
    )
    return pagerank_scaled(edges, "src", "dst", iters=2)


def _pq_ctes(m: int = 4, k: int = 4, sub: int = 16) -> str:
    """Generated per-subspace replay of the PQ codebook training
    (quantize → seed → assign → truncating-integer centroid means →
    reassign), one CTE chain per subspace — the same unrolled shape
    as ``_KM_CTES`` sliced to ``qv[j·sub+1 : (j+1)·sub]``.  Exposes
    ``a2_{j}(vec_id, cid)`` (final codes) and ``c1_{j}(cid, cv)``
    (final codebooks) for each subspace j."""
    dist = ("CAST(list_sum(list_transform(generate_series(1, {sub}), "
            "i -> (x.sv[i] - s.cv[i]) * (x.sv[i] - s.cv[i]))) "
            "AS BIGINT)")
    parts = [f"""
    q AS MATERIALIZED (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * 10000) AS BIGINT)) AS qv
      FROM embeddings),
    pos AS (SELECT unnest(generate_series(1, {sub})) AS p)"""]
    for j in range(m):
        lo, hi = j * sub + 1, (j + 1) * sub
        d = dist.format(sub=sub)
        parts.append(f"""
    q_{j} AS (SELECT vec_id, qv[{lo}:{hi}] AS sv FROM q),
    seed_{j} AS (
      SELECT ROW_NUMBER() OVER (ORDER BY vec_id) - 1 AS cid, sv AS cv
      FROM q_{j} ORDER BY vec_id LIMIT {k}),
    d1_{j} AS (
      SELECT x.vec_id, s.cid, {d} AS d
      FROM q_{j} x CROSS JOIN seed_{j} s),
    a1_{j} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, cid) AS rn
        FROM d1_{j}) WHERE rn = 1),
    u1_{j} AS (
      SELECT a.cid, p.p, CAST(SUM(x.sv[p.p]) // COUNT(*) AS BIGINT) AS v
      FROM a1_{j} a JOIN q_{j} x USING (vec_id) CROSS JOIN pos p
      GROUP BY a.cid, p.p),
    c1_{j} AS MATERIALIZED (
      SELECT s.cid,
             CASE WHEN COUNT(u.v) = 0 THEN ANY_VALUE(s.cv)
                  ELSE list(u.v ORDER BY u.p) END AS cv
      FROM seed_{j} s LEFT JOIN u1_{j} u ON u.cid = s.cid
      GROUP BY s.cid),
    d2_{j} AS (
      SELECT x.vec_id, s.cid, {d} AS d
      FROM q_{j} x CROSS JOIN c1_{j} s),
    a2_{j} AS MATERIALIZED (
      SELECT vec_id, cid FROM (
        SELECT vec_id, cid,
               ROW_NUMBER() OVER (PARTITION BY vec_id
                                  ORDER BY d, cid) AS rn
        FROM d2_{j}) WHERE rn = 1)""")
    return ",".join(parts)


@query(
    "embedding_pq_codes",
    oracle=f"""
    WITH {_pq_ctes()}
    SELECT q.vec_id,
           CAST(a2_0.cid AS INTEGER) AS code_0,
           CAST(a2_1.cid AS INTEGER) AS code_1,
           CAST(a2_2.cid AS INTEGER) AS code_2,
           CAST(a2_3.cid AS INTEGER) AS code_3
    FROM q
    JOIN a2_0 ON a2_0.vec_id = q.vec_id
    JOIN a2_1 ON a2_1.vec_id = q.vec_id
    JOIN a2_2 ON a2_2.vec_id = q.vec_id
    JOIN a2_3 ON a2_3.vec_id = q.vec_id
    """,
)
def embedding_pq_codes(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Product quantization (functions/similarity.py pq_encode,
    Jégou et al. 2011): each dim-64 embedding compressed to 4
    per-subspace integer k-means codes — the memory-bounded ANN
    store.  All-integer training (truncating-division centroid
    means) makes the codes hash-exact; the oracle replays all four
    subspace chains unrolled.  Engine side: one scan per training
    iteration for ALL subspaces (one broadcast int64-matmul argmin
    pass, zero joins; update collects ≤ m·k·sub rows).

    The registered surface flattens the m=4 codes to scalar
    ``code_0..code_3`` INT columns: the driver's correctness gate
    canonicalizes rows with a pandas sort, which cannot hash list
    cells (repo rule: registered queries emit scalar columns only —
    enforced by tests/test_plans.py's schema walk since the r8
    ArrayType version crashed the driver gate; callers wanting the
    array use pq_encode directly)."""
    from kafkadirect_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    codes = similarity.pq_encode(emb, "vec_id", "embedding",
                                 m=4, k=4, iters=2)
    return codes.select(
        "vec_id",
        *[F.element_at("codes", j + 1).alias(f"code_{j}")
          for j in range(4)])


def ivf_pq_oracle_sql(n: int = 3, nprobe: int = 4,
                      stride: int = 25,
                      probe_pred: str = "vec_id < 3") -> str:
    """DuckDB replay of ``similarity.ivf_pq_topk(embeddings, ...,
    probes=<probe_pred>)`` — the IVFADC composite: the deterministic
    coarse quantizer's shortlist (the similarity_ann_ivf CTEs) scored
    by the PQ codebooks' ADC tables, restricted to the shortlist."""
    pts = ",".join(f"""
    pt_{j} AS (
      SELECT pr.vec_id AS pid, c.cid,
             CAST(list_sum(list_transform(generate_series(1, 16),
                  i -> (pr.sv[i] - c.cv[i]) * (pr.sv[i] - c.cv[i])))
                  AS BIGINT) AS t
      FROM (SELECT vec_id, sv FROM q_{j} WHERE {probe_pred}) pr
      CROSS JOIN c1_{j} c)""" for j in range(4))
    return f"""
    WITH {_pq_ctes()},
    v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM v
             WHERE vec_id % {stride} = 0),
    scv AS (
      SELECT v.vec_id, c.cid,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY list_cosine_similarity(v.e, c.ce)
                                         DESC, c.cid) AS pr
      FROM v, cent c),
    assign AS (SELECT vec_id AS nid, cid FROM scv WHERE pr = 1),
    plists AS (SELECT vec_id AS pid, cid FROM scv
               WHERE pr <= {nprobe} AND {probe_pred}),
    cand AS (
      SELECT pid, nid FROM plists JOIN assign USING (cid)
      WHERE pid <> nid),
    {pts},
    adc AS (
      SELECT cand.pid, cand.nid, p0.t + p1.t + p2.t + p3.t AS d
      FROM cand
      JOIN a2_0 ON a2_0.vec_id = cand.nid
      JOIN a2_1 ON a2_1.vec_id = cand.nid
      JOIN a2_2 ON a2_2.vec_id = cand.nid
      JOIN a2_3 ON a2_3.vec_id = cand.nid
      JOIN pt_0 p0 ON p0.pid = cand.pid AND p0.cid = a2_0.cid
      JOIN pt_1 p1 ON p1.pid = cand.pid AND p1.cid = a2_1.cid
      JOIN pt_2 p2 ON p2.pid = cand.pid AND p2.cid = a2_2.cid
      JOIN pt_3 p3 ON p3.pid = cand.pid AND p3.cid = a2_3.cid)
    SELECT pid AS vec_id, nid AS neighbor_id,
           CAST(rn AS INTEGER) AS rank, CAST(d AS BIGINT) AS adc_dist
    FROM (SELECT pid, nid, d,
                 ROW_NUMBER() OVER (PARTITION BY pid
                                    ORDER BY d, nid) AS rn
          FROM adc)
    WHERE rn <= {n}
    """


def ivf_pq_rerank_oracle_sql(n: int = 3, refine: int = 4,
                             nprobe: int = 4, stride: int = 25,
                             scale: int = 10_000, dim: int = 64,
                             probe_pred: str = "vec_id < 3") -> str:
    """DuckDB replay of ``similarity.ivf_pq_rerank(embeddings, ...)``
    — IVFADC+R: the ivf_pq composite's oracle at n·refine as the
    shortlist CTE, then the exact quantized squared L2 over the raw
    embeddings for shortlist rows only, re-ranked with the engine's
    tie-break (dist2 ASC, neighbor_id ASC).  Registration-ready for
    r13 (landed library-level r12 per policy item b)."""
    short = ivf_pq_oracle_sql(n=n * refine, nprobe=nprobe,
                              stride=stride, probe_pred=probe_pred)
    return f"""
    WITH short AS ({short}),
    qq AS (
      SELECT vec_id,
             list_transform(embedding,
               v -> CAST(floor(CAST(v AS DOUBLE) * {scale}) AS BIGINT))
               AS qv
      FROM embeddings),
    d AS (
      SELECT s.vec_id, s.neighbor_id,
             CAST(list_sum(list_transform(generate_series(1, {dim}),
                  i -> (pa.qv[i] - pb.qv[i]) * (pa.qv[i] - pb.qv[i])))
                  AS BIGINT) AS dist2
      FROM short s
      JOIN qq pa ON pa.vec_id = s.vec_id
      JOIN qq pb ON pb.vec_id = s.neighbor_id)
    SELECT vec_id, neighbor_id, CAST(rn AS INTEGER) AS rank, dist2
    FROM (SELECT vec_id, neighbor_id, dist2,
                 ROW_NUMBER() OVER (PARTITION BY vec_id
                                    ORDER BY dist2, neighbor_id) AS rn
          FROM d)
    WHERE rn <= {n}
    """


@query("similarity_ivf_pq", oracle=ivf_pq_oracle_sql())
def similarity_ivf_pq(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC composite (functions/similarity.py ivf_pq_topk, Jégou
    et al. 2011 — registered r12 per the r11 plan): the deterministic
    coarse quantizer's inverted-list shortlist (broadcast centroids,
    the similarity_ann_ivf pattern) scored by the PQ codebooks'
    per-probe ADC literal tables, restricted to the probed lists —
    per probe the scoring work is |probed lists| × m table lookups
    and the raw vectors are never touched at query time.  The oracle
    composes the IVF shortlist CTEs with the PQ codebook CTEs and
    the shortlist-restricted ADC join.  Centroid scoring rides the
    IVF-family broadcast nested-loop pattern (bounded by
    max_probes × |centroids|) — allowlisted in test_plans._BNLJ_OK.
    At sf0.1 the wall is dominated by in-loop codebook training; at
    scale codebooks train once and queries pay only the shortlist."""
    from kafkadirect_spark.functions import similarity

    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    return similarity.ivf_pq_topk(emb, "vec_id", "embedding", probes,
                                  n=3, centroid_stride=25, nprobe=4,
                                  m=4, k=4, iters=2)


_EXQG = [500, 990]
_EXQG_ARMS = "\n    UNION ALL\n".join(
    f"""    SELECT r.event_type, CAST({q} AS INTEGER) AS q_permille,
           CAST(MIN(r.v) AS BIGINT) AS value
    FROM r JOIN n USING (event_type)
    WHERE r.rn >= ({q} * n.c + 999) // 1000
    GROUP BY r.event_type"""
    for q in _EXQG)


@query(
    "exact_quantiles_by_type",
    oracle=f"""
    WITH s AS (
      SELECT event_type, CAST(floor(value * 1000) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL AND event_type IS NOT NULL),
    n AS (SELECT event_type, COUNT(*) AS c FROM s GROUP BY event_type),
    r AS (SELECT event_type, v,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY v) AS rn
          FROM s)
{_EXQG_ARMS}
    """,
)
def exact_quantiles_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment TRUE order statistics (functions/sketch.py
    exact_quantiles_grouped): exact p50/p99 of event milli-values per
    event type — the per-segment latency/size report, computed by the
    same iterative histogram narrowing run for all groups at once
    (per round: one scan, a (group, power-of-two bucket) register
    aggregate and a budget-bounded collect; a later round semi-joins
    only the pending buckets, so converged groups drop out)."""
    from pyspark.sql import functions as F

    from kafkadirect_spark.functions import diagnostics, sketch

    ev = load_table(spark, sf_dir, "events")
    v = (ev.filter(F.col("value").isNotNull())
         .select("event_type",
                 F.floor(F.col("value") * 1000).cast("long").alias("v")))
    return sketch.exact_quantiles_grouped(v, "event_type", "v", _EXQG)


@query(
    "events_skew_report",
    oracle=diagnostics.skew_report_sql("events", "event_type",
                                       parts=64, top_k=5),
)
def events_skew_report(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Shuffle-key skew diagnosis (functions/diagnostics.py
    skew_report) over the 5-value event_type key — the worst-case
    low-cardinality shuffle key: exact count distribution (max /
    p50 / p99 via histogram-narrowing selection, never a sort of the
    counts frame), heaviest keys, hottest-key share, and the salt
    factor the salted two-phase shapes would need at 64 partitions.
    One data exchange (the per-key count), register-sized everything
    after."""
    ev = load_table(spark, sf_dir, "events")
    return diagnostics.skew_report(ev, "event_type", parts=64, top_k=5)


@query(
    "value_outliers_mad",
    oracle=diagnostics.mad_outliers_sql(
        "events", "event_id", "event_type",
        "CAST(FLOOR(value * 100) AS BIGINT)", "value_cents", k=3),
)
def value_outliers_mad(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-type outliers (functions/diagnostics.py
    mad_outliers): |v − median| > 3·MAD over integer cents — the
    heavy-tail companion to value_outliers' mean/σ rule (σ has a 0%
    breakdown point: one extreme value hides every other outlier;
    median/MAD break down at 50%).  Medians are true order
    statistics via the grouped histogram-narrowing selection — the
    data is scanned, never reshuffled, and no per-group sort
    exists at any scale."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events")
    base = ev.select("event_id", "event_type",
                     F.floor(F.col("value") * 100).cast("long")
                     .alias("value_cents"))
    return diagnostics.mad_outliers(base, "event_type", "value_cents",
                                    k=3)


@query(
    "value_drift_by_slice",
    oracle=diagnostics.histogram_drift_sql(
        "events",
        pred_a="CAST(ts AS DATE) < DATE '2024-01-16'",
        pred_b="CAST(ts AS DATE) >= DATE '2024-01-16'",
        value_expr="CAST(FLOOR(value * 1000) AS BIGINT)",
        lo=0, hi=1_000_000, bins=100),
)
def value_drift_by_slice(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Numeric-distribution drift between two ingest slices
    (functions/diagnostics.py histogram_drift): first half of January
    vs second half, per value bin — the numeric companion to
    vocab_drift (tokens) and partition_diff (content fingerprints),
    completing the drift-detection family.  Exact cross-multiplied
    integer arithmetic (|c_a·N_b − c_b·N_a|·10⁶ div N_a·N_b in
    decimal(38,0)): per-bin |p̂_a − p̂_b| in ppm with no float
    division, replayed by the oracle in HUGEINT.  One register
    exchange per slice, two 1-row totals, a bins-sized outer join —
    nothing data-sized moves."""
    ev = load_table(spark, sf_dir, "events")
    v = F.floor(F.col("value") * 1000).cast("long").alias("v")
    cut = F.to_date(F.col("ts")) < F.lit("2024-01-16").cast("date")
    a = ev.filter(cut).select(v)
    b = ev.filter(~cut).select(v)
    return diagnostics.histogram_drift(a, b, "v",
                                       lo=0, hi=1_000_000, bins=100)


_DECILE_QS = [i * 100 for i in range(1, 10)]


@query(
    "embedding_profile",
    oracle=diagnostics.embedding_profile_sql("embeddings", "embedding"),
)
def embedding_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vector-column QA (functions/diagnostics.py embedding_profile):
    count, null vectors, dimension range (ragged embeddings break
    every matmul path), zero vectors (NaN cosines), exact norm
    quantiles in scaled integers (sequential double fold — the same
    float-determinism contract the cosine oracles rely on).  One
    scan, register-sized aggregates."""
    emb = load_table(spark, sf_dir, "embeddings")
    return diagnostics.embedding_profile(emb, "embedding")


@query(
    "join_explosion_check",
    oracle=diagnostics.join_cardinality_sql(
        "events", "user_id", "orders", "o_custkey"),
)
def join_explosion_check(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Pre-flight fact⋈fact join cardinality
    (functions/diagnostics.py join_cardinality): the EXACT output
    row count of events⋈orders on the customer key, from the two
    COUNT tables — Σ cnt_a·cnt_b over shared keys in decimal(38,0)
    — plus per-side totals and the amplification ratio.  The data
    itself is never joined; each side pays one map-side-combined
    count exchange."""
    ev = load_table(spark, sf_dir, "events")
    orders = load_table(spark, sf_dir, "orders")
    return diagnostics.join_cardinality(ev, orders,
                                        "user_id", "o_custkey")


@query(
    "value_decile_by_type",
    oracle=f"""
    WITH base AS (
      SELECT event_type, CAST(FLOOR(value * 100) AS BIGINT) AS v
      FROM events WHERE value IS NOT NULL),
    r AS (SELECT event_type, v,
                 ROW_NUMBER() OVER (PARTITION BY event_type
                                    ORDER BY v) AS rk,
                 COUNT(*) OVER (PARTITION BY event_type) AS n
          FROM base),
    cuts AS (SELECT event_type,
      {", ".join(
          f"MIN(CASE WHEN rk >= ({q} * n + 999) // 1000 THEN v END)"
          f" AS c{q}" for q in _DECILE_QS)}
      FROM r GROUP BY 1),
    b AS (SELECT base.event_type, v,
                 ({" + ".join(f"(v > c{q})::INT" for q in _DECILE_QS)})
                   AS bucket
          FROM base JOIN cuts USING (event_type))
    SELECT event_type, CAST(bucket AS BIGINT) AS bucket,
           COUNT(*)::BIGINT AS n, MIN(v) AS min_v, MAX(v) AS max_v
    FROM b GROUP BY 1, 2
    """,
)
def value_decile_by_type(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-segment exact equi-depth deciles
    (sketch.bucketize_by_quantiles_grouped): every event bucketed by
    its own type's value distribution — one grouped
    histogram-narrowing pass for ALL types' cuts, one broadcast join
    back, row-local assignment; the data is never shuffled on value
    (the oracle's per-type rank windows are the sf0.01 shortcut, not
    the engine plan)."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull())
    base = ev.select("event_type",
                     F.floor(F.col("value") * 100).cast("long")
                     .alias("v"))
    bk = sketch.bucketize_by_quantiles_grouped(base, "event_type", "v",
                                               10)
    return (bk.groupBy("event_type", "bucket")
            .agg(F.count(F.lit(1)).alias("n"),
                 F.min("v").alias("min_v"),
                 F.max("v").alias("max_v")))


@query(
    "value_ohlc_daily",
    oracle="""
    WITH base AS (
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day, ts, event_id,
             CAST(FLOOR(value * 100) AS BIGINT) AS cents
      FROM events WHERE value IS NOT NULL AND ts IS NOT NULL),
    r AS (SELECT day, cents,
                 ROW_NUMBER() OVER (PARTITION BY day
                                    ORDER BY ts ASC, event_id ASC)
                   AS rk_open,
                 ROW_NUMBER() OVER (PARTITION BY day
                                    ORDER BY ts DESC, event_id DESC)
                   AS rk_close
          FROM base)
    SELECT day,
           MIN(CASE WHEN rk_open = 1 THEN cents END) AS open_cents,
           MAX(cents) AS high_cents,
           MIN(cents) AS low_cents,
           MIN(CASE WHEN rk_close = 1 THEN cents END) AS close_cents,
           COUNT(*)::BIGINT AS n,
           SUM(cents)::BIGINT AS sum_cents
    FROM r GROUP BY 1
    """,
)
def value_ohlc_daily(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Daily OHLC bars over the event value — the time-series
    resample recipe (open/close are the values at the bucket's
    earliest/latest event, ties broken by event id): min_by/max_by
    struct aggregates inside ONE map-side-combined hash aggregate —
    no window functions, no per-day sort, the same struct-extremum
    idiom as the SCD2 snapshot.  Integer cents throughout; the
    oracle's per-day rank windows are the sf0.01 shortcut, not the
    engine plan."""
    from pyspark.sql import functions as F

    ev = load_table(spark, sf_dir, "events").filter(
        F.col("value").isNotNull() & F.col("ts").isNotNull())
    base = ev.select(
        F.to_date("ts").cast("string").alias("day"),
        "ts", "event_id",
        F.floor(F.col("value") * 100).cast("long").alias("cents"))
    order = F.struct(F.col("ts"), F.col("event_id"))
    return (base.groupBy("day")
            .agg(F.min_by("cents", order).alias("open_cents"),
                 F.max("cents").alias("high_cents"),
                 F.min("cents").alias("low_cents"),
                 F.max_by("cents", order).alias("close_cents"),
                 F.count(F.lit(1)).alias("n"),
                 F.sum("cents").alias("sum_cents")))


# ---------------------------------------------------------------------------
# Time-series similarity search (functions/timeseries.py) — the SAX
# family's driver-verified claim (VERDICT r10 item 2): PAA profiles →
# exact-quantile breakpoints → word-bucketed candidate self-join with
# the max_bucket hot-word guard → exact squared-distance verification.
# Registered at the bench fingerprint's config (30-day window, 6
# segments, median breakpoint, max_bucket=64 — the sizing rule is
# alphabet^segments ≫ users; the cap is the guard rail, SCALE.md).
# ---------------------------------------------------------------------------

from kafkadirect_spark.functions import timeseries  # noqa: E402

_SAX_CFG = dict(t0="2024-01-01", t1="2024-01-31", n_segments=6,
                permilles=(500,), max_bucket=64)


@query(
    "sax_pairs",
    oracle=timeseries.sax_pairs_oracle_sql(
        _SAX_CFG["t0"], _SAX_CFG["t1"],
        n_segments=_SAX_CFG["n_segments"],
        permilles=_SAX_CFG["permilles"],
        max_bucket=_SAX_CFG["max_bucket"]),
)
def sax_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Verified SAX candidate pairs over the events stream: one
    map-side-combined groupBy(user, segment) for the PAA, a
    register-sized exact-quantile narrowing for the breakpoint, a
    word-bucketed self-join bounded by max_bucket (never |users|²),
    and the exact long squared PAA distance per candidate.  The
    DuckDB oracle replays every integer bit — truncating PAA means,
    exact-rank breakpoints (one per permille), symbolization, the
    bucket cap and the distances."""
    ev = load_table(spark, sf_dir, "events")
    _, pairs, _ = timeseries.sax_pipeline(
        ev, "user_id", "ts", "value", _SAX_CFG["t0"], _SAX_CFG["t1"],
        n_segments=_SAX_CFG["n_segments"],
        permilles=_SAX_CFG["permilles"],
        max_bucket=_SAX_CFG["max_bucket"])
    return pairs


@query(
    "sax_nearest",
    oracle=timeseries.sax_nearest_oracle_sql(
        _SAX_CFG["t0"], _SAX_CFG["t1"], k=3,
        n_segments=_SAX_CFG["n_segments"],
        permilles=_SAX_CFG["permilles"],
        max_bucket=_SAX_CFG["max_bucket"]),
)
def sax_nearest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-user k-NN over the verified SAX pairs (functions/
    timeseries.py sax_nearest — registered r12 per the r11 plan):
    symmetrize the candidate pairs (each serves both endpoints), then
    the salted two-phase per-group top-k — no task ever sorts a whole
    user's candidate list alone; ties break exactly (dist2 ASC,
    neighbor_id ASC) so ranks replay bit-for-bit.  Candidates are
    bucket-bounded upstream (max_bucket), so the whole query is
    candidate-sized, never |users|².  The oracle wraps the pairs
    replay, symmetrizes, and ranks with the same tie-break."""
    ev = load_table(spark, sf_dir, "events")
    _, pairs, _ = timeseries.sax_pipeline(
        ev, "user_id", "ts", "value", _SAX_CFG["t0"], _SAX_CFG["t1"],
        n_segments=_SAX_CFG["n_segments"],
        permilles=_SAX_CFG["permilles"],
        max_bucket=_SAX_CFG["max_bucket"])
    return timeseries.sax_nearest(pairs, k=3)


# ---------------------------------------------------------------------------
# Round 13 registrations (pre-scheduled by the r12 plan, oracle
# generators pytest-pinned engine==oracle in round 12).
# ---------------------------------------------------------------------------

from kafkadirect_spark.functions import behavior, similarity  # noqa: E402


@query("similarity_ivf_pq_rerank", oracle=ivf_pq_rerank_oracle_sql())
def similarity_ivf_pq_rerank(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVFADC+R (functions/similarity.py ivf_pq_rerank, Jégou et al.
    2011 §VI — registered r13 per the r12 plan): the IVFADC
    composite's per-probe shortlist at n·refine, re-scored with the
    EXACT squared L2 on the quantized integer grid — everything
    similarity_ivf_pq does plus ONE hash join of the
    ≤probes·n·refine-row shortlist against the quantized index
    projection, a row-local zip_with fold, and a per-probe top-n
    window over shortlist-sized input; nothing data-sized is
    re-shuffled for the refinement.  Centroid scoring rides the same
    bounded IVF broadcast (test_plans._BNLJ_OK).  The oracle composes
    the ivf_pq oracle at n·refine as the shortlist CTE and replays
    the integer L2 re-rank with the engine's (dist2, neighbor_id)
    tie-break.  At scale codebooks train once; queries pay only the
    shortlist — SCALE.md:414 measures the recall the +R stage buys
    (1.4-2.6× end-to-end at the same nprobe)."""
    emb = load_table(spark, sf_dir, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    return similarity.ivf_pq_rerank(emb, "vec_id", "embedding", probes,
                                    n=3, refine=4, centroid_stride=25,
                                    nprobe=4, m=4, k=4, iters=2)


@query("kmv_slice_matrix",
       oracle=sketch.kmv_group_jaccard_oracle_sql(group_col="source"))
def kmv_slice_matrix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """All-pairs corpus-slice similarity matrix from per-slice KMV
    sketches (functions/sketch.py kmv_group_jaccard, Beyer et al.
    2007 — registered r13 per the r12 plan): one (slice, gram-hash)
    distinct exchange, salted two-phase per-slice min-k (no slice's
    whole gram set ever sorts on one task), then every slice pair's
    Jaccard estimated from the ≤k-row sketches alone — the
    "how much does source A overlap source B" mixing diagnostic
    without ever joining two corpora.  The pair join is a broadcast
    nested-loop over |slices| sketch ROWS (20 sources → 190 pairs),
    bounded by construction regardless of corpus size — allowlisted
    in test_plans._BNLJ_OK.  The oracle replays tokenize / shingle /
    48-bit hash / ranked min-k / union-minima membership
    integer-exactly."""
    docs = load_table(spark, sf_dir, "documents")
    return sketch.kmv_group_jaccard(docs, "source", "text")


@query("funnel_steps",
       oracle=behavior.funnel_steps_oracle_sql(
           ["signup", "view", "click", "purchase"],
           within_seconds=3600 * 24 * 30))
def funnel_steps(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Aggregate conversion-funnel report with a conversion window
    (functions/behavior.py funnel_steps — registered r13 per the r12
    plan): per step, how many users completed signup → view → click →
    purchase IN ORDER within 30 days of their step-0 completion, with
    truncating conversion permille and summed step-0→step-k lags.
    The complement of the registered per-user `event_funnel` (stage
    rows): this is the corpus-level report.  Min-ts cascade with ZERO
    windows (plan-tested in test_behavior.py) — one narrow
    user-keyed exchange per step, never a per-user event sort or
    collect.  The oracle replays the cascade as chained CTEs with
    epoch-second lags and the truncating permille."""
    ev = load_table(spark, sf_dir, "events")
    return behavior.funnel_steps(
        ev, "user_id", "ts", "event_type",
        ["signup", "view", "click", "purchase"],
        within_seconds=3600 * 24 * 30)


# ---------------------------------------------------------------------------
# Round 14 registrations (pre-scheduled by the r13 plan, oracle
# generators pytest-pinned engine==oracle in round 13).
# ---------------------------------------------------------------------------


@query("theil_sen",
       oracle=timeseries.theil_sen_oracle_sql(
           "event_type", order_break_col="event_id"))
def theil_sen(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Robust per-group trend — the Theil–Sen estimator
    (functions/timeseries.py theil_sen_milli, Sen 1968 — registered
    r14 per the r13 plan): per event_type, the lower median of all
    pairwise integerized slopes (milli-values per whole epoch
    second, micro-units, TRUNCATING division) over the first
    max_points=64 points in the deterministic (t, v, event_id)
    order.  Robust to ~29% outliers where least squares is not — the
    "is this metric actually drifting" primitive no registered query
    makes (value_drift_by_slice compares DISTRIBUTIONS, this fits a
    trend).  Scale shape: point selection is a group-partitioned
    rank window; the pair join is capped at ≤ max_points²/2 pairs
    per group BY CONSTRUCTION at any group size; the median is a
    group-partitioned rank over those pairs — no global window, no
    data-sized sort (plan-pinned in test_timeseries.py).  The oracle
    replays point truncation order, floor slopes and the lower-median
    rank; truncating-division parity is MEASURED on negative slopes
    (hand pin), not assumed."""
    ev = load_table(spark, sf_dir, "events")
    return timeseries.theil_sen_milli(ev, "event_type", "ts", "value",
                                      order_break_col="event_id")


@query("path_topk",
       oracle=behavior.path_topk_oracle_sql(
           n=3, k=10, order_break_col="event_id"))
def path_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-k most frequent length-3 consecutive event-type paths
    (functions/behavior.py path_topk — registered r14 per the r13
    plan): per user, trigrams of consecutive events in
    (ts, event_id) order via lead windows, counted corpus-wide,
    ranked (count desc, path) — "what do users actually do", the
    exploratory companion to the hypothesis-driven `funnel_steps`
    (which counts a GIVEN sequence) and `attribution_last_touch`
    (which assigns credit).  Scale shape: ONE user-partitioned
    window pass (a user's own event count bounds the task-local
    sort), one path-count exchange, TakeOrdered top-k; the final
    rank window sorts the ≤ k-row LIMIT result — bounded by
    construction, allowlisted in test_plans._GLOBAL_WINDOW_OK.  The
    oracle replays the lead windows, path join and ranking."""
    ev = load_table(spark, sf_dir, "events")
    return behavior.path_topk(ev, "user_id", "ts", "event_type",
                              n=3, k=10, order_break_col="event_id")


@query("attribution_last_touch",
       oracle=behavior.attribution_oracle_sql(
           "purchase", within_seconds=3600 * 24,
           order_break_col="event_id"))
def attribution_last_touch(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Last-touch conversion attribution with a 24h lookback
    (functions/behavior.py attribution_last_touch — registered r14
    per the r13 plan): every purchase is credited to the LATEST
    non-purchase event type strictly before it in the user's
    (ts, event_id) order, no further back than 24h (whole epoch
    seconds, the funnel convention); purchases with no qualifying
    touch credit `(direct)`.  Emits per touch type: conversions,
    truncating share_milli, summed lag seconds — credit assignment,
    a DISTINCT claim from funnel counting and path mining.  Scale
    shape: ONE user-partitioned last(ignorenulls) rows-preceding
    window (task-local sort bounded by a user's own events), one
    aggregate onto the ≤|types|-row report, and the one-ROW
    conversion total broadcast for the share — the funnel_steps
    scalar-subquery shape, allowlisted in test_plans._BNLJ_OK.
    Hypothesis-pinned vs an independent python model; the oracle
    replays window order, whole-second lags, the (direct) fallback
    and truncating shares."""
    ev = load_table(spark, sf_dir, "events")
    return behavior.attribution_last_touch(
        ev, "user_id", "ts", "event_type", "purchase",
        within_seconds=3600 * 24, order_break_col="event_id")


# ---------------------------------------------------------------------------
# Round 15 registrations (pre-scheduled by the r14 plan, oracle
# generators pytest-pinned engine==oracle in round 14 or earlier).
# ---------------------------------------------------------------------------

from kafkadirect_spark.functions import basket  # noqa: E402


@query("cusum_changepoint",
       oracle=timeseries.cusum_changepoint_oracle_sql(
           "event_type", h_milli=50_000, order_break_col="event_id"))
def cusum_changepoint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sequential changepoint localization — the two-sided CUSUM
    chart (functions/timeseries.py cusum_changepoint_milli, Page
    1954 — registered r15 per the r14 plan): per event_type, fold
    deviations from the group's lower-median milli value into Page's
    one-sided statistics and report the FIRST point where either
    side exceeds h_milli, with direction ('up' wins ties) and both
    maxima.  Computed DISTRIBUTED via the prefix-sum closed form
    ``S+_i = P_i − min(0, min_{j≤i} P_j)`` — no sequential recursion;
    hypothesis-pinned against the textbook recursive form.  The
    claim no other registered query makes: theil_sen fits a GLOBAL
    trend and value_drift compares DISTRIBUTIONS between slices —
    CUSUM answers WHEN a level shift happened, per group, with the
    optimal sequential statistic.  Scale shape: every window is
    group-partitioned (a group's own rows bound the task-local
    sort), the reference join is a group-keyed hash join, the report
    is one aggregate (plan-pinned in test_timeseries.py).  The
    oracle replays reference, closed form, first-alarm rank and tie
    convention bit-exactly; the streaming twin (`streaming/cusum.py`)
    runs the same statistic live under watermark-sealed order."""
    ev = load_table(spark, sf_dir, "events")
    return timeseries.cusum_changepoint_milli(
        ev, "event_type", "ts", "value", h_milli=50_000,
        order_break_col="event_id")


_TWAP_T0, _TWAP_T1 = "2024-01-01", "2024-01-31"


@query("twap",
       oracle=timeseries.twap_oracle_sql(
           _TWAP_T0, _TWAP_T1, "event_type",
           order_break_col="event_id"))
def twap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Time-weighted average value per event_type over the January
    window (functions/timeseries.py twap_milli — registered r15 per
    the r14 plan): each sample holds from its own timestamp to the
    NEXT sample in the group (LOCF), the last to the window end, and
    the mean weights values by those holding seconds — the correct
    mean for IRREGULARLY-sampled series, the claim user_moving_avg's
    row-window mean cannot make (a burst of readings must not
    dominate; pinned by the burst hand-check in test_timeseries.py).
    Integerized: milli values, whole-second holds, truncating
    weighted division.  Scale shape: ONE group-partitioned lead
    window + one map-side-combined aggregate — no global window, no
    collect.  The oracle replays the lead window, holds and
    truncating division (epoch arithmetic carries the documented
    >=1970 assumption)."""
    ev = load_table(spark, sf_dir, "events")
    return timeseries.twap_milli(ev, "event_type", "ts", "value",
                                 _TWAP_T0, _TWAP_T1,
                                 order_break_col="event_id")


@query("basket_pairs",
       oracle=basket.basket_pairs_oracle_sql(
           "l_orderkey", "l_partkey", "lineitem",
           k=15, min_support=2))
def basket_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Market-basket pair mining over order/part baskets
    (functions/basket.py basket_pairs_topk, Agrawal & Srikant 1994 —
    registered r15 per the r14 plan): top-15 co-occurring part pairs
    across orders with truncating support_ppm and lift_milli —
    UNORDERED co-membership in transaction groups, the relational
    market-basket claim `collocations_topk`'s adjacent-token PMI
    cannot make.  Scale shape: pairs come from a basket-keyed equi
    self-join bounded at C(|basket|, 2) per basket with the
    max_basket mega-basket guard (oracle replays the cap); lift runs
    in DECIMAL(38,0) (the BIGINT product overflows at 10^10
    baskets); the one-ROW kept-basket count broadcasts onto the
    ≤ k-row top frame (test_plans._BNLJ_OK) and the final rank
    window sorts that same ≤ k-row LIMIT result
    (test_plans._GLOBAL_WINDOW_OK).  The Apriori prune is
    deliberately opt-in — MEASURED slower on uniform TPC-H parts
    (basket.py docstring)."""
    li = load_table(spark, sf_dir, "lineitem")
    return basket.basket_pairs_topk(li, "l_orderkey", "l_partkey",
                                    k=15, min_support=2)


_WQ_QS = [100, 500, 900, 990]


@query("weighted_quantiles",
       oracle=sketch.weighted_quantiles_oracle_sql(_WQ_QS))
def weighted_quantiles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT weight-mass order statistics (functions/sketch.py
    weighted_quantiles — registered r15, the weighted-order-
    statistics claim deferred since r12): token-weighted n_chars
    quantiles over the documents table — "the median TOKEN lives in
    a document of length X", which is NOT the row-count quantile
    exact_quantiles answers (long docs hold most of the token mass;
    the oracle test pins that the answers genuinely differ).  Scale
    shape: the exact_quantiles iterative histogram narrowing with
    row counts replaced by integer weight mass — per round one
    column scan, a budget-bounded register aggregate and collect
    (the register-sized-collect convention); quantiles share each
    round's scan.  The oracle replays the naive running-
    weight walk the recursion must equal, with the token weight
    computed identically on both sides."""
    from kafkadirect_spark.functions.text import token_count

    docs = load_table(spark, sf_dir, "documents")
    return sketch.weighted_quantiles(docs, F.col("n_chars"),
                                     token_count("text"), _WQ_QS)
