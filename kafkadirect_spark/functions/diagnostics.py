"""Scale diagnostics — measure the data properties the repo's scale
machinery exists to survive, so the knobs (salt factors, shard
counts, skew hints) are SIZED from evidence instead of guessed.

Reference analogue: none (SURVEY.md §2 — Kafka Streams sizes state
stores, not shuffles); beyond-parity operations tooling.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def skew_report(df: DataFrame, key_col: str, parts: int = 200,
                top_k: int = 5) -> DataFrame:
    """Join/aggregation-key skew diagnosis: per-key count
    distribution (max, p50, p99 as TRUE order statistics), the
    heaviest keys, the share of the single hottest key, and the salt
    factor that would level it across ``parts`` shuffle partitions —
    ``ceil(max_key_rows · parts / total_rows)``, the number of
    sub-keys the hottest key needs so each lands near the average
    partition load (1 = no salting needed).  Run it BEFORE choosing
    between a plain keyed shuffle and the salted two-phase shapes
    (``skew_salted_join`` / ``topk_per_group``).

    Output is tall and typed: ``(stat, key, value)`` — scalar stats
    carry ``key = NULL``; the ``heavy_key`` rows carry the key
    (stringified) and its count, ordered (count DESC, key ASC).

    Scale ledger: ONE exchange over the data (the per-key count
    aggregate, map-side combined).  Everything downstream operates
    on the key-cardinality counts frame: the scalar stats are one
    aggregate row, the quantiles run the register-bounded
    histogram-narrowing selection (``sketch.exact_quantiles`` — no
    sort of the counts frame, which is itself billions of rows for
    high-cardinality keys at 100 TB), and the heavy-key list is a
    TakeOrdered.  Driver state: a handful of scalars.
    """
    if parts < 1:
        raise ValueError("parts must be >= 1")
    if top_k < 1:
        raise ValueError("top_k must be >= 1")
    from kafkadirect_spark.functions.sketch import _select

    spark = df.sparkSession
    counts = (df.groupBy(F.col(key_col).cast("string").alias("__k"))
              .agg(F.count(F.lit(1)).alias("__cnt"))
              .persist())
    try:
        # One stats pass serves both the scalar stats and the quantile
        # selection, which runs directly on the persisted counts frame
        # (no second persist and stats job over the same cache).
        s = counts.agg(F.sum("__cnt").alias("total"),
                       F.count(F.lit(1)).alias("n_keys"),
                       F.min("__cnt").alias("mn"),
                       F.max("__cnt").alias("mx")).collect()[0]
        if s["total"] is None:
            raise ValueError("skew_report: input has no rows")
        total, n_keys, mx = int(s["total"]), int(s["n_keys"]), int(s["mx"])
        qs = _select(counts.select(F.lit(0).alias("__g"),
                                   F.col("__cnt").alias("__v")),
                     {0: (n_keys, int(s["mn"]), mx)}, [500, 990])
        stats = [
            ("total_rows", None, total),
            ("distinct_keys", None, n_keys),
            ("max_key_rows", None, mx),
            ("p50_key_rows", None, qs[0, 500]),
            ("p99_key_rows", None, qs[0, 990]),
            ("top1_share_ppm", None, 1_000_000 * mx // total),
            ("suggested_salt", None, (mx * parts + total - 1) // total),
        ]
        head = spark.createDataFrame(
            stats, "stat string, key string, value long")
        top = (counts
               .orderBy(F.col("__cnt").desc(), F.col("__k").asc())
               .limit(top_k)
               .select(F.lit("heavy_key").alias("stat"),
                       F.col("__k").alias("key"),
                       F.col("__cnt").cast("long").alias("value")))
        # the TakeOrdered top is tiny; materialize it so the report
        # survives the finally-unpersist below
        top_rows = top.collect()
        return head.unionByName(spark.createDataFrame(
            top_rows, "stat string, key string, value long"))
    finally:
        counts.unpersist()


def mad_outliers(df: DataFrame, group_col: str, value_col: str,
                 k: int = 3, max_groups: int = 10_000) -> DataFrame:
    """Robust per-group outliers: flag rows where
    ``|v − median| > k · MAD`` (MAD = median absolute deviation) —
    the estimator a heavy-tailed column needs where ``value_outliers``'
    mean/σ rule breaks (one extreme value inflates σ enough to hide
    every other outlier; the median and MAD have a 50% breakdown
    point).  All integer: ``value_col`` must be integral (use the
    repo's cents/milli convention upstream), medians are TRUE order
    statistics with the ``min v : count(≤v) ≥ ⌈n/2⌉`` cover, and the
    flag compares ``abs_dev > k·mad`` exactly — no float sigma to
    flip borderline rows in the last ulp.  When MAD = 0 (over half
    the group shares one value), any deviation flags — the standard
    degenerate-MAD behavior, deterministic in both engines.

    Scale ledger: one fused grouped histogram-narrowing kernel
    (``sketch.grouped_median_mad`` — register-sized exchanges and
    budget-bounded collects, never a sort; the MAD pass rides the
    median pass's cached (group, value) frame and derives its stats
    from pass 1's), and ONE ≤ groups-row (med, mad) broadcast joined
    back; the data itself is scanned, never reshuffled.  Returns the
    input columns plus ``(med, mad, abs_dev)``.
    """
    from kafkadirect_spark.functions.sketch import grouped_median_mad

    if k < 1:
        raise ValueError("k must be >= 1")
    base = df.filter(F.col(value_col).isNotNull())
    # Fused kernel: one persisted (group, value) cache serves
    # BOTH selections (the deviation pass is a row-local broadcast
    # derivation of it, and pass 2's stats job is derived from pass
    # 1's), and the two stat columns come back in ONE ≤ groups-row
    # broadcast join instead of two.
    stats = grouped_median_mad(base, group_col, value_col,
                               max_groups=max_groups)
    return (base.join(F.broadcast(stats), group_col)
            .withColumn("abs_dev",
                        F.abs(F.col(value_col) - F.col("med")))
            .filter(F.col("abs_dev") > F.lit(k) * F.col("mad")))


def mad_outliers_sql(table: str, id_cols: str, group_col: str,
                     value_expr: str, value_alias: str,
                     k: int = 3) -> str:
    """DuckDB replay of ``mad_outliers`` — the same ⌈n/2⌉ rank cover
    for both medians (``value_expr`` must already be the integral
    form, e.g. ``CAST(FLOOR(value*100) AS BIGINT)``, and
    ``value_alias`` the engine side's column name)."""
    v = value_alias
    return f"""
    WITH base AS (
      SELECT {id_cols}, {group_col}, {value_expr} AS {v}
      FROM {table} WHERE {value_expr} IS NOT NULL),
    r1 AS (SELECT {group_col}, {v},
                  ROW_NUMBER() OVER (PARTITION BY {group_col}
                                     ORDER BY {v}) AS rk,
                  COUNT(*) OVER (PARTITION BY {group_col}) AS n
           FROM base),
    med AS (SELECT {group_col},
                   MIN(CASE WHEN rk >= (500 * n + 999) // 1000
                            THEN {v} END) AS med
            FROM r1 GROUP BY 1),
    dev AS (SELECT base.*, med, ABS({v} - med) AS abs_dev
            FROM base JOIN med USING ({group_col})),
    r2 AS (SELECT {group_col}, abs_dev,
                  ROW_NUMBER() OVER (PARTITION BY {group_col}
                                     ORDER BY abs_dev) AS rk,
                  COUNT(*) OVER (PARTITION BY {group_col}) AS n
           FROM dev),
    mad AS (SELECT {group_col},
                   MIN(CASE WHEN rk >= (500 * n + 999) // 1000
                            THEN abs_dev END) AS mad
            FROM r2 GROUP BY 1)
    SELECT dev.*, mad FROM dev JOIN mad USING ({group_col})
    WHERE abs_dev > {k} * mad"""


def skew_report_sql(table: str, key_expr: str, parts: int = 200,
                    top_k: int = 5) -> str:
    """DuckDB replay of ``skew_report``.  The quantile rank is the
    same cover as ``exact_quantiles``: ``min v : rank(v) ≥
    ceil(q·n/1000)``; heavy-key order pins NULLS FIRST to match
    Spark's ASC default."""
    return f"""
    WITH c AS (
      SELECT CAST({key_expr} AS VARCHAR) AS k, COUNT(*)::BIGINT AS cnt
      FROM {table} GROUP BY 1),
    s AS (SELECT SUM(cnt)::BIGINT AS total, COUNT(*)::BIGINT AS n_keys,
                 MAX(cnt)::BIGINT AS mx FROM c),
    r AS (SELECT cnt, ROW_NUMBER() OVER (ORDER BY cnt) AS rk,
                 COUNT(*) OVER () AS n FROM c),
    q AS (SELECT
      MIN(CASE WHEN rk >= (500 * n + 999) // 1000 THEN cnt END) AS p50,
      MIN(CASE WHEN rk >= (990 * n + 999) // 1000 THEN cnt END) AS p99
      FROM r)
    SELECT * FROM (
      SELECT 'total_rows' AS stat, NULL AS key, total AS value FROM s
      UNION ALL SELECT 'distinct_keys', NULL, n_keys FROM s
      UNION ALL SELECT 'max_key_rows', NULL, mx FROM s
      UNION ALL SELECT 'p50_key_rows', NULL, p50 FROM q
      UNION ALL SELECT 'p99_key_rows', NULL, p99 FROM q
      UNION ALL SELECT 'top1_share_ppm', NULL,
                       1000000 * mx // total FROM s
      UNION ALL SELECT 'suggested_salt', NULL,
                       (mx * {parts} + total - 1) // total FROM s
      UNION ALL SELECT * FROM (
        SELECT 'heavy_key', k, cnt FROM c
        ORDER BY cnt DESC, k ASC NULLS FIRST LIMIT {top_k}))"""


def embedding_profile(df: DataFrame, vec_col: str,
                      norm_scale: int = 1000) -> DataFrame:
    """Vector-column QA in one row: count, null vectors, dimension
    range (a ragged embedding column silently breaks every matmul
    path downstream), zero vectors (cosine against them is NaN), and
    exact norm quantiles in scaled-integer form — the ingest check
    to run before any similarity/ANN/PQ stage trusts the column.

    Norms follow the repo's float-determinism contract (the one the
    cosine oracles already rely on): the squared sum is a sequential
    double fold in array order — bit-identical in Spark's
    higher-order aggregate and DuckDB's list fold — and
    ``floor(norm_scale·√x)`` lands it in BIGINT for hash-exact
    comparison.  Quantiles are true order statistics over those
    integers (histogram-narrowing selection; no sort).

    One scan; every aggregate is register-sized.
    """
    from kafkadirect_spark.functions.sketch import _select

    v = F.col(vec_col)
    sumsq = F.aggregate(
        F.transform(v, lambda x: x.cast("double") * x.cast("double")),
        F.lit(0.0), lambda acc, x: acc + x)
    # Persist the narrow projection: the norm fold over every vector
    # is the expensive per-row work.  One cache (3 narrow columns)
    # serves one stats aggregate, which also yields the selection's
    # n/lo/hi, and the narrowing rounds scan the cache.
    base = df.select(
        v.isNull().cast("int").alias("__isnull"),
        F.size(v).alias("__dim"),
        F.when(v.isNotNull(),
               F.floor(F.lit(norm_scale) * F.sqrt(sumsq))
               .cast("long")).alias("__norm")).persist()
    try:
        s = base.agg(
            F.count(F.lit(1)).alias("n_vectors"),
            F.sum("__isnull").alias("null_vectors"),
            F.min(F.when(F.col("__isnull") == 0, F.col("__dim")))
            .alias("dim_min"),
            F.max(F.when(F.col("__isnull") == 0, F.col("__dim")))
            .alias("dim_max"),
            F.sum(F.when(F.col("__norm") == 0, 1).otherwise(0))
            .alias("zero_vectors"),
            F.count("__norm").alias("__qn"),
            F.min("__norm").alias("__qlo"),
            F.max("__norm").alias("__qhi")).collect()[0]
        n = int(s["__qn"])
        qs = _select(base.filter(F.col("__norm").isNotNull())
                     .select(F.lit(0).alias("__g"),
                             F.col("__norm").alias("__v")),
                     {0: (n, s["__qlo"], s["__qhi"])} if n else {},
                     [500, 990])
        row = [(int(s["n_vectors"]), int(s["null_vectors"]),
                int(s["dim_min"]), int(s["dim_max"]),
                int(s["zero_vectors"]), qs.get((0, 500)),
                qs.get((0, 990)))]
        return df.sparkSession.createDataFrame(
            row, "n_vectors long, null_vectors long, dim_min long, "
                 "dim_max long, zero_vectors long, norm_p50 long, "
                 "norm_p99 long")
    finally:
        base.unpersist()


def embedding_profile_sql(table: str, vec_col: str,
                          norm_scale: int = 1000) -> str:
    """DuckDB replay of ``embedding_profile`` — the same sequential
    double fold (list_aggregate sum is in-order) and the same
    ⌈q·n/1000⌉ rank cover."""
    nrm = (f"CAST(FLOOR({norm_scale} * SQRT(list_aggregate("
           f"list_transform({vec_col}, x -> CAST(x AS DOUBLE) * "
           f"CAST(x AS DOUBLE)), 'sum'))) AS BIGINT)")
    return f"""
    WITH base AS (
      SELECT CASE WHEN {vec_col} IS NULL THEN 1 ELSE 0 END AS is_null,
             len({vec_col}) AS dim,
             CASE WHEN {vec_col} IS NOT NULL
                  THEN COALESCE({nrm}, 0) END AS nrm
      FROM {table}),
    s AS (SELECT COUNT(*)::BIGINT AS n_vectors,
                 SUM(is_null)::BIGINT AS null_vectors,
                 MIN(CASE WHEN is_null = 0 THEN dim END)::BIGINT
                   AS dim_min,
                 MAX(CASE WHEN is_null = 0 THEN dim END)::BIGINT
                   AS dim_max,
                 SUM(CASE WHEN nrm = 0 THEN 1 ELSE 0 END)::BIGINT
                   AS zero_vectors
          FROM base),
    r AS (SELECT nrm, ROW_NUMBER() OVER (ORDER BY nrm) AS rk,
                 COUNT(*) OVER () AS n
          FROM base WHERE is_null = 0),
    q AS (SELECT
      MIN(CASE WHEN rk >= (500 * n + 999) // 1000 THEN nrm END)
        AS norm_p50,
      MIN(CASE WHEN rk >= (990 * n + 999) // 1000 THEN nrm END)
        AS norm_p99
      FROM r)
    SELECT s.*, q.norm_p50, q.norm_p99 FROM s CROSS JOIN q"""


def join_cardinality(a: DataFrame, b: DataFrame,
                     key_a: str, key_b: str) -> DataFrame:
    """EXACT output cardinality of ``a ⋈ b`` on an equi-key, without
    running the join: Σ over shared keys of cnt_a(k)·cnt_b(k) — the
    pre-flight explosion check for fact⋈fact joins (a many-to-many
    key nobody noticed turns a join into a row bomb; this answers
    "how many rows will come out" from two count tables).  NULL keys
    are excluded (they never match in an equi-join).

    Output (one row): ``rows_a, rows_b, distinct_keys_a,
    distinct_keys_b, shared_keys, join_rows, amplification_ppm``
    (join output per input row of the LARGER side, ×10⁶ — 1_000_000
    means pass-through, far above means explosion).

    Scale ledger: one per-key count exchange per side (map-side
    combined, key-cardinality output), a key-keyed join of the two
    COUNT tables (never the data), one register-sized aggregate.
    ``join_rows`` accumulates in decimal(38,0): cnt_a·cnt_b alone
    can exceed int64 (1e10 × 1e10).
    """
    ca = (a.filter(F.col(key_a).isNotNull())
          .groupBy(F.col(key_a).alias("__k"))
          .agg(F.count(F.lit(1)).alias("__na")))
    cb = (b.filter(F.col(key_b).isNotNull())
          .groupBy(F.col(key_b).alias("__k"))
          .agg(F.count(F.lit(1)).alias("__nb")))
    sa = ca.agg(F.sum("__na").alias("ra"),
                F.count(F.lit(1)).alias("ka")).collect()[0]
    sb = cb.agg(F.sum("__nb").alias("rb"),
                F.count(F.lit(1)).alias("kb")).collect()[0]
    rows_a = int(sa["ra"] or 0)
    rows_b = int(sb["rb"] or 0)
    j = (ca.join(cb, "__k")
         .agg(F.count(F.lit(1)).alias("shared"),
              F.sum(F.col("__na").cast("decimal(38,0)")
                    * F.col("__nb").cast("decimal(38,0)"))
              .alias("jr")).collect()[0])
    join_rows = int(j["jr"] or 0)
    bigger = max(rows_a, rows_b)
    row = [(rows_a, rows_b, int(sa["ka"]), int(sb["kb"]),
            int(j["shared"]), join_rows,
            (1_000_000 * join_rows // bigger) if bigger else 0)]
    return a.sparkSession.createDataFrame(
        row, "rows_a long, rows_b long, distinct_keys_a long, "
             "distinct_keys_b long, shared_keys long, join_rows long, "
             "amplification_ppm long")


def histogram_drift(a: DataFrame, b: DataFrame, value_col: str,
                    lo: int, hi: int, bins: int = 1000) -> DataFrame:
    """EXACT distribution drift between two frames' values over an
    equal-width integer histogram — the numeric companion to
    ``curation.vocab_drift`` (token drift) and ``fingerprint_diff``
    (content drift): did yesterday's ingest shift the VALUE
    distribution, per bin, by how much?

    Per bin: counts from both sides and the cross-multiplied drift
    ``drift_ppm = 10⁶·|c_a·N_b − c_b·N_a| / (N_a·N_b)`` — the exact
    per-bin |p̂_a − p̂_b| in parts-per-million WITHOUT a float
    division anywhere before the final truncating integer division
    (cross-multiplication keeps everything integral; Σ drift_ppm / 2
    over bins is the total-variation distance in ppm).  Bins
    nonzero on either side appear (full-outer register join); values
    outside [lo, hi) clamp into the edge bins (``hist_registers``
    convention).

    Reference analogue: none (SURVEY.md §2); beyond-parity
    operations tooling beside skew_report/join_cardinality.

    Scale ledger: ONE map-side-combined count exchange per side
    (register output, ≤ bins rows each) into the bins-sized
    full-outer join, which is pinned with a ``localCheckpoint`` so
    the totals (one ≤bins-row aggregate over the JOINED frame — the
    join_cardinality bounded-collect precedent) and the per-bin
    drift read the same materialized counts: each input is scanned
    exactly once and totals are consistent with the joined counts by
    construction, even under a nondeterministic input.  Products
    accumulate in decimal(38,0): c·N alone exceeds int64 at
    1e10×1e10, and the ×10⁶ numerator stays under 10³¹ ≪ 10³⁸.
    """
    from kafkadirect_spark.functions import sketch

    ra = sketch.hist_registers(a, value_col, lo, hi, bins)
    rb = sketch.hist_registers(b, value_col, lo, hi, bins)
    full = (ra.select("bin", F.col("cnt").alias("c_a"))
            .join(rb.select("bin", F.col("cnt").alias("c_b")),
                  "bin", "full_outer")
            .fillna(0, ["c_a", "c_b"])
            .localCheckpoint(eager=True))  # ≤ bins rows
    tot = full.agg(F.sum("c_a").alias("na"),
                   F.sum("c_b").alias("nb")).collect()[0]
    n_a, n_b = int(tot["na"] or 0), int(tot["nb"] or 0)
    if n_a == 0 or n_b == 0:
        raise ValueError("both sides need at least one non-null value")
    dec = "decimal(38,0)"
    num = F.abs(F.col("c_a").cast(dec) * F.lit(n_b).cast(dec)
                - F.col("c_b").cast(dec) * F.lit(n_a).cast(dec))
    denom = F.lit(n_a).cast(dec) * F.lit(n_b).cast(dec)
    # `div` (integral division) — decimal `/` followed by a cast would
    # ROUND half-up where DuckDB's `//` truncates
    return (full
            .withColumn("__num", num * F.lit(1_000_000).cast(dec))
            .withColumn("__den", denom)
            .select("bin", "c_a", "c_b",
                    F.expr("CAST(__num DIV __den AS LONG)")
                    .alias("drift_ppm")))


def histogram_drift_sql(table: str, pred_a: str, pred_b: str,
                        value_expr: str, lo: int, hi: int,
                        bins: int = 1000) -> str:
    """DuckDB replay of ``histogram_drift(table[pred_a],
    table[pred_b], value_expr, ...)`` — same clamped binning, same
    cross-multiplied HUGEINT arithmetic, same truncating ppm."""
    bin_sql = (f"LEAST(GREATEST(CAST((x - {lo}) * {bins} "
               f"// ({hi} - {lo}) AS BIGINT), 0), {bins - 1})")
    return f"""
    WITH va AS (SELECT {value_expr} AS x FROM {table}
                WHERE ({pred_a}) AND {value_expr} IS NOT NULL),
    vb AS (SELECT {value_expr} AS x FROM {table}
           WHERE ({pred_b}) AND {value_expr} IS NOT NULL),
    ra AS (SELECT {bin_sql} AS bin, COUNT(*)::BIGINT AS c_a
           FROM va GROUP BY 1),
    rb AS (SELECT {bin_sql} AS bin, COUNT(*)::BIGINT AS c_b
           FROM vb GROUP BY 1),
    na AS (SELECT COALESCE(SUM(c_a), 0)::HUGEINT AS n FROM ra),
    nb AS (SELECT COALESCE(SUM(c_b), 0)::HUGEINT AS n FROM rb),
    f AS (
      SELECT COALESCE(ra.bin, rb.bin) AS bin,
             COALESCE(c_a, 0)::BIGINT AS c_a,
             COALESCE(c_b, 0)::BIGINT AS c_b
      FROM ra FULL OUTER JOIN rb ON ra.bin = rb.bin)
    SELECT bin, c_a, c_b,
           (abs(c_a::HUGEINT * nb.n - c_b::HUGEINT * na.n)
            * 1000000 // (na.n * nb.n))::BIGINT AS drift_ppm
    FROM f CROSS JOIN na CROSS JOIN nb"""


def join_cardinality_sql(table_a: str, key_a: str,
                         table_b: str, key_b: str) -> str:
    """DuckDB replay of ``join_cardinality``."""
    return f"""
    WITH ca AS (SELECT {key_a} AS k, COUNT(*)::HUGEINT AS na
                FROM {table_a} WHERE {key_a} IS NOT NULL GROUP BY 1),
    cb AS (SELECT {key_b} AS k, COUNT(*)::HUGEINT AS nb
           FROM {table_b} WHERE {key_b} IS NOT NULL GROUP BY 1),
    sa AS (SELECT COALESCE(SUM(na), 0)::BIGINT AS rows_a,
                  COUNT(*)::BIGINT AS distinct_keys_a FROM ca),
    sb AS (SELECT COALESCE(SUM(nb), 0)::BIGINT AS rows_b,
                  COUNT(*)::BIGINT AS distinct_keys_b FROM cb),
    jj AS (SELECT COUNT(*)::BIGINT AS shared_keys,
                  COALESCE(SUM(na * nb), 0)::HUGEINT AS join_rows
           FROM ca JOIN cb USING (k))
    SELECT rows_a, rows_b, distinct_keys_a, distinct_keys_b,
           shared_keys, join_rows::BIGINT AS join_rows,
           CASE WHEN GREATEST(rows_a, rows_b) > 0
                THEN (1000000::HUGEINT * join_rows
                      // GREATEST(rows_a, rows_b))::BIGINT
                ELSE 0 END AS amplification_ppm
    FROM sa CROSS JOIN sb CROSS JOIN jj"""
