"""Distributed time-series similarity search over the events stream —
PAA + SAX buckets (Lin et al. 2003 "A Symbolic Representation of Time
Series", Keogh's PAA — public literature; the retrieved-corpus EDBT'19
"Time Series Similarity Search for Streaming Data in Distributed
Systems" problem), arranged Spark-first and integer-exact:

1. **PAA** (piecewise aggregate approximation): each user's value
   series over a fixed time window collapses to ``n_segments``
   per-segment integer-cent means — ONE map-side-combined
   groupBy(user, segment) over the events (the only corpus-scale
   exchange), then one groupBy(user) to assemble the fixed-length
   vector (missing segments are 0).  Means are truncating integer
   division (``SUM(cents) DIV COUNT``) — bit-identical in any engine.
2. **Breakpoints from the data, exactly**: SAX's Gaussian breakpoints
   are floats; here the alphabet boundaries are EXACT equi-depth
   order statistics of the segment-mean distribution, computed by the
   existing ``sketch.exact_quantiles`` narrowing (register-sized
   collects) — so symbolization is integer-exact and replayable.
3. **SAX words bucket the search**: equal-word users are candidate
   pairs (a groupBy/self-join on the word — sub-quadratic exactly
   like the LSH band join; the word is the bucket key), then the
   EXACT squared PAA distance verifies each candidate pair —
   work bounded by bucket collisions, never |users|².

Reference analogue: none (SURVEY.md §2 — no series surface);
beyond-parity analytics machinery beside the as-of join and OHLC
resample.
"""

from __future__ import annotations

from pyspark.sql import DataFrame
from pyspark.sql import functions as F


def paa_profiles(events: DataFrame, user_col: str, ts_col: str,
                 value_col: str, t0: str, t1: str,
                 n_segments: int = 6) -> DataFrame:
    """``(user_col, paa array<long>)`` — per-user PAA vector of
    integer-cent segment means over ``[t0, t1)`` (ISO timestamps;
    events outside the window are dropped, out-of-range segment
    indices clamp).  One groupBy(user, segment) with map-side partial
    sums, one groupBy(user); segments with no events are 0."""
    if n_segments < 1:
        raise ValueError("n_segments must be >= 1")
    import datetime as _dt

    span = int((_dt.datetime.fromisoformat(t1)
                - _dt.datetime.fromisoformat(t0)).total_seconds())
    if span <= 0:
        raise ValueError("t1 must be after t0")
    # integral DIV with a driver-computed constant span: bit-identical
    # to DuckDB's `//` (a double `/` + cast would be float-rounded)
    off = (F.unix_timestamp(F.col(ts_col))
           - F.unix_timestamp(F.lit(t0).cast("timestamp")))
    cents = F.floor(F.col(value_col) * 100).cast("long")
    staged = (events
              .filter(F.col(ts_col).isNotNull()
                      & F.col(value_col).isNotNull()
                      & (F.col(ts_col) >= F.lit(t0).cast("timestamp"))
                      & (F.col(ts_col) < F.lit(t1).cast("timestamp")))
              .select(F.col(user_col), off.alias("__off"),
                      cents.alias("__c")))
    seg = F.expr(
        f"LEAST(GREATEST(CAST(__off * {n_segments} DIV {span} "
        f"AS LONG), 0), {n_segments - 1})")
    per_seg = (staged
               .select(F.col(user_col), seg.alias("__seg"),
                       F.col("__c"))
               .groupBy(user_col, "__seg")
               .agg(F.sum("__c").alias("__s"),
                    F.count(F.lit(1)).alias("__n"))
               .select(user_col, "__seg",
                       F.expr("CAST(__s DIV __n AS LONG)").alias("__m")))
    # assemble via a position->mean map (rows per user <= n_segments)
    return (per_seg.groupBy(user_col)
            .agg(F.map_from_entries(
                F.collect_list(F.struct(
                    (F.col("__seg") + 1).cast("int").alias("k"),
                    F.col("__m").alias("v")))).alias("__map"))
            .select(F.col(user_col),
                    F.transform(
                        F.sequence(F.lit(1), F.lit(n_segments)),
                        lambda k: F.coalesce(
                            F.element_at(F.col("__map"), k.cast("int")),
                            F.lit(0).cast("long"))).alias("paa")))


def sax_words(paa: DataFrame, user_col: str,
              breakpoints: list[int]) -> DataFrame:
    """``(user_col, paa, sax_word)`` — symbolize each PAA vector
    against ascending integer ``breakpoints`` (symbol = number of
    breakpoints ≤ the value, so ``len(breakpoints)+1`` symbols);
    the word is the digit string.  Row-local; breakpoints are
    literals (typically the exact 25/50/75-permille order statistics
    of the segment-mean distribution via ``sketch.exact_quantiles``).

    At most 9 breakpoints (10 symbols): the word concatenates symbol
    DIGITS with no separator, so a two-digit symbol would make words
    ambiguous ([1, 11] and [11, 1] both render '111'), silently
    merging unrelated buckets — rejected here and in the oracle."""
    if sorted(breakpoints) != list(breakpoints):
        raise ValueError("breakpoints must be ascending")
    if len(breakpoints) > 9:
        raise ValueError(
            f"{len(breakpoints)} breakpoints need multi-digit symbols "
            "— the separator-free word would be ambiguous; use <= 9")
    bks = F.array(*[F.lit(int(b)).cast("long") for b in breakpoints])
    staged = paa.select(F.col(user_col), "paa", bks.alias("__bks"))
    word = F.concat_ws("", F.transform(
        F.col("paa"),
        lambda v: F.size(F.filter(F.col("__bks"), lambda b: b <= v))
        .cast("string")))
    return staged.select(user_col, "paa", word.alias("sax_word"))


def sax_candidate_pairs(words: DataFrame, user_col: str,
                        max_bucket: int | None = None) -> DataFrame:
    """Candidate pairs = users sharing a SAX word (bucket self-join,
    ``a < b``), each verified with the EXACT squared PAA distance —
    ``(user_a, user_b, sax_word, dist2)``.  The join is keyed on the
    word (only bucket co-residents pair); dist2 is row-local long
    arithmetic over the two vectors.

    ``max_bucket`` is the skew/scale guard (the dedup family's
    hot-shingle-cap convention): when the word space is small
    relative to the population — a scale probe measured a binary
    6-segment alphabet saturating at 64 words, turning pair output
    quadratic in users (17k → 109M pairs at 16× organic growth) —
    buckets larger than ``max_bucket`` are dropped before the join.
    An oversized bucket means the alphabet no longer discriminates
    there (the same no-signal argument as corpus-wide shingles); the
    durable fix is scaling alphabet^segments past the user count,
    the cap is the guard rail that keeps the join bounded meanwhile.
    """
    if max_bucket is not None:
        sizes = (words.groupBy("sax_word")
                 .agg(F.count(F.lit(1)).alias("__bn")))
        words = (words.join(sizes.filter(F.col("__bn") <= max_bucket),
                            "sax_word")
                 .drop("__bn"))
    # One PAA computation feeds both join sides at runtime: the two
    # sides' sax_word exchanges canonicalize identically (aliases
    # normalize away), so AQE's ReuseExchange serves side b from side
    # a's shuffle files — measured on the executed plan (final plan:
    # 1 FileScan, 1 ReusedExchange).  No explicit repartition needed;
    # forcing one would only constrain AQE.
    a = words.select(F.col(user_col).alias("user_a"),
                     F.col("paa").alias("__pa"), "sax_word")
    b = words.select(F.col(user_col).alias("user_b"),
                     F.col("paa").alias("__pb"), "sax_word")
    d2 = F.aggregate(
        F.zip_with(F.col("__pa"), F.col("__pb"),
                   lambda x, y: (x - y) * (x - y)),
        F.lit(0).cast("long"), lambda acc, v: acc + v)
    return (a.join(b, "sax_word")
            .filter(F.col("user_a") < F.col("user_b"))
            .select("user_a", "user_b", "sax_word",
                    d2.alias("dist2")))


def sax_pipeline(events: DataFrame, user_col: str, ts_col: str,
                 value_col: str, t0: str, t1: str,
                 n_segments: int = 6,
                 permilles: tuple[int, ...] = (250, 500, 750),
                 max_bucket: int | None = None):
    """The composed search: PAA → exact-quantile breakpoints (one
    bounded-register narrowing over the segment-mean distribution) →
    SAX words → verified candidate pairs.  Returns ``(words_df,
    pairs_df, breakpoints)``; the breakpoint collect is ≤
    ``len(permilles)`` rows (register-sized, the exact_quantiles
    contract).

    The PAA frame is PERSISTED: it is USER-sized (one row per
    group, never event-sized) and three consumers re-derived it from
    the full events scan + segment aggregation (the quantile input,
    the word build, and the pair join's two sides) — measured 3.15 →
    2.96 s best-of-3 on the sax_pairs suite at sf0.1.  So that a
    persist with no returned handle cannot outlive the caller, it is
    registered through ``dedup._persist``, whose
    ``release_caches`` the bench and pipeline callers already invoke.
    The WORDS frame stays unpersisted — measured WORSE when cached
    (3.56 s): it derives row-locally from the cached PAA, and the
    extra materialization barrier buys nothing."""
    from kafkadirect_spark.functions import sketch
    from kafkadirect_spark.functions.dedup import _persist

    paa = _persist(paa_profiles(events, user_col, ts_col, value_col,
                                t0, t1, n_segments))
    means = paa.select(F.explode("paa").alias("m"))
    qs = sketch.exact_quantiles(means, "m", list(permilles))
    bks = [int(r["value"]) for r in
           sorted(qs.collect(), key=lambda r: r["q_permille"])]
    words = sax_words(paa, user_col, bks)
    return (words,
            sax_candidate_pairs(words, user_col, max_bucket=max_bucket),
            bks)


def sax_pairs_oracle_sql(t0: str, t1: str, n_segments: int = 6,
                         permilles: tuple[int, ...] = (500,),
                         max_bucket: int | None = None) -> str:
    """DuckDB replay of ``sax_pipeline(events, ...)[1]`` (the verified
    candidate pairs) — same truncating PAA means, the same
    ``max((q·n + 999) // 1000, 1)`` exact-rank breakpoints (one
    UNION-ALL arm PER permille, so colliding ranks at tiny n still
    emit one breakpoint per requested permille exactly like
    ``exact_quantiles``), symbolization and long squared distances,
    so the search is registration-ready.  ``t0``/``t1`` accept any
    ISO timestamp ``paa_profiles`` accepts (normalized here rather
    than assuming date-only strings)."""
    import datetime as _dt

    if len(permilles) > 9:
        raise ValueError("more than 9 breakpoints makes the "
                         "separator-free word ambiguous (see sax_words)")
    lo = _dt.datetime.fromisoformat(t0)
    hi = _dt.datetime.fromisoformat(t1)
    span = int((hi - lo).total_seconds())
    t0s = lo.strftime("%Y-%m-%d %H:%M:%S")
    t1s = hi.strftime("%Y-%m-%d %H:%M:%S")
    n = n_segments
    seg_cols = ", ".join(
        f"COALESCE(MAX(CASE WHEN seg = {s} THEN m END), 0)"
        for s in range(n))
    arms = "\n      UNION ALL ".join(
        f"SELECT {i} AS qi, v FROM ranked, nn "
        f"WHERE rn = greatest(({q} * c + 999) // 1000, 1)"
        for i, q in enumerate(permilles))
    cap = (f"HAVING COUNT(*) <= {max_bucket}"
           if max_bucket is not None else "")
    return f"""
    WITH ev AS (
      SELECT user_id,
             LEAST(GREATEST(
               date_diff('second', TIMESTAMP '{t0s}', ts)
               * {n} // {span}, 0), {n - 1}) AS seg,
             CAST(floor(value * 100) AS BIGINT) AS c
      FROM events
      WHERE ts IS NOT NULL AND value IS NOT NULL
        AND ts >= TIMESTAMP '{t0s}'
        AND ts < TIMESTAMP '{t1s}'),
    m AS (
      SELECT user_id, seg, SUM(c) // COUNT(*) AS m
      FROM ev GROUP BY 1, 2),
    paa AS (
      SELECT user_id, [{seg_cols}] AS p FROM m GROUP BY 1),
    means AS (SELECT unnest(p) AS v FROM paa),
    nn AS (SELECT COUNT(*)::BIGINT AS c FROM means),
    ranked AS (
      SELECT v, ROW_NUMBER() OVER (ORDER BY v) AS rn FROM means),
    bks AS (
      SELECT list(v ORDER BY qi) AS l
      FROM ({arms})),
    words AS (
      SELECT user_id, p,
             array_to_string(list_transform(
               p, v -> CAST(len(list_filter(bks.l, b -> b <= v))
                            AS VARCHAR)), '') AS sax_word
      FROM paa, bks),
    wordsc AS (
      SELECT w.* FROM words w
      JOIN (SELECT sax_word FROM words GROUP BY 1
            {cap}) k USING (sax_word))
    SELECT a.user_id AS user_a, b.user_id AS user_b, a.sax_word,
           CAST(list_sum(list_transform(
             generate_series(1, {n}),
             i -> (a.p[i] - b.p[i]) * (a.p[i] - b.p[i]))) AS BIGINT)
             AS dist2
    FROM wordsc a JOIN wordsc b
      ON a.sax_word = b.sax_word AND a.user_id < b.user_id
    """


def sax_nearest(pairs: DataFrame, k: int = 3) -> DataFrame:
    """Per-user k nearest neighbors from the verified candidate
    pairs: symmetrize (each pair serves both endpoints), then the
    salted two-phase per-group top-k (``curation.topk_per_group`` —
    no task ever sorts a whole user's candidate list alone at scale).
    ``(user_id, neighbor_id, dist2, rank)``, ascending distance,
    ties to the smaller neighbor id.  Candidates are bucket-bounded
    upstream, so this is a candidate-sized operation, never
    |users|²."""
    if k < 1:
        raise ValueError("k must be >= 1")
    from kafkadirect_spark.functions import curation

    sym = (pairs.select(F.col("user_a").alias("user_id"),
                        F.col("user_b").alias("neighbor_id"), "dist2")
           .unionByName(
               pairs.select(F.col("user_b").alias("user_id"),
                            F.col("user_a").alias("neighbor_id"),
                            "dist2")))
    top = curation.topk_per_group(sym, "user_id", "dist2", k,
                                  tiebreak_col="neighbor_id",
                                  ascending=True)
    from pyspark.sql import Window
    w = Window.partitionBy("user_id").orderBy(
        F.col("dist2").asc(), F.col("neighbor_id").asc())
    return (top.withColumn("rank", F.row_number().over(w).cast("long"))
            .select("user_id", "neighbor_id", "dist2", "rank"))


def sax_nearest_oracle_sql(t0: str, t1: str, k: int = 3,
                           n_segments: int = 6,
                           permilles: tuple[int, ...] = (500,),
                           max_bucket: int | None = None) -> str:
    """DuckDB replay of ``sax_nearest(sax_pipeline(...)[1], k)`` —
    wraps the pairs oracle, symmetrizes, and ranks per user with the
    engine's exact tie-break (dist2 ASC, neighbor_id ASC)."""
    if k < 1:
        raise ValueError("k must be >= 1")
    pairs = sax_pairs_oracle_sql(t0, t1, n_segments=n_segments,
                                 permilles=permilles,
                                 max_bucket=max_bucket)
    return f"""
    WITH pairs AS ({pairs}),
    sym AS (
      SELECT user_a AS user_id, user_b AS neighbor_id, dist2 FROM pairs
      UNION ALL
      SELECT user_b, user_a, dist2 FROM pairs),
    ranked AS (
      SELECT user_id, neighbor_id, dist2,
             ROW_NUMBER() OVER (PARTITION BY user_id
                                ORDER BY dist2 ASC, neighbor_id ASC)
               AS rank
      FROM sym)
    SELECT user_id, neighbor_id, dist2, rank::BIGINT AS rank
    FROM ranked WHERE rank <= {k}
    """


def theil_sen_milli(events: DataFrame, group_col: str, ts_col: str,
                    value_col: str, max_points: int = 64,
                    order_break_col: str | None = None) -> DataFrame:
    """Robust per-group trend — the Theil–Sen estimator (Sen 1968,
    public; the median of all pairwise slopes), integerized (round
    13): values quantize to milli-units, timestamps to whole epoch
    seconds, each pair's slope is ``1000·Δv_milli / Δt_s`` under
    TRUNCATING (toward-zero) integer division (micro-value-units per
    second), and the group's trend is the lower median of its pair
    slopes under the deterministic total order (slope, rn_a, rn_b).  Robust to ~29%
    outliers where a least-squares slope is not — the "is this metric
    actually drifting" primitive for noisy per-segment telemetry.

    Returns ``(group_col, n_points, n_pairs, slope_micro)`` for every
    group with ≥ 1 usable point; groups with no positive-Δt pair
    (a single point, or points all sharing one timestamp) report
    ``n_pairs = 0`` and NULL slope.

    Bounded by construction: each group contributes its FIRST
    ``max_points`` points in (ts, value, tiebreak) order — a loud,
    deterministic truncation (the SAX ``max_bucket`` discipline), so
    the pair join is an equi-join on the group key with
    ≤ max_points²/2 pairs per group regardless of group size, and
    every window is group-partitioned.  Negative-slope division
    parity is pinned, not assumed: Spark's integral ``DIV`` and
    DuckDB's BIGINT ``//`` BOTH truncate toward zero (measured — a
    floor-vs-trunc mix would shift negative slopes by 1), and a
    negative non-divisible pair in the hand test plus the real-events
    oracle sweep hold the convention.
    """
    from pyspark.sql import Window

    if max_points < 2:
        raise ValueError("max_points must be >= 2")
    brk = order_break_col or value_col
    pts = (events
           .filter(F.col(group_col).isNotNull()
                   & F.col(ts_col).isNotNull()
                   & F.col(value_col).isNotNull())
           .select(F.col(group_col).alias("g"),
                   F.unix_timestamp(ts_col).cast("long").alias("t"),
                   F.floor(F.col(value_col) * 1000).cast("long")
                   .alias("v"),
                   F.col(brk).alias("__brk")))
    w = Window.partitionBy("g").orderBy("t", "v", "__brk")
    pts = (pts.withColumn("rn", F.row_number().over(w))
           .filter(F.col("rn") <= max_points)
           .select("g", "t", "v", "rn"))
    npts = pts.groupBy("g").agg(
        F.count(F.lit(1)).cast("long").alias("n_points"))
    a, b = pts.alias("a"), pts.alias("b")
    pairs = (a.join(b, (F.col("a.g") == F.col("b.g"))
                    & (F.col("a.rn") < F.col("b.rn"))
                    & (F.col("b.t") > F.col("a.t")))
             .select(F.col("a.g").alias("g"),
                     (1000 * (F.col("b.v") - F.col("a.v")))
                     .alias("__num"),
                     (F.col("b.t") - F.col("a.t")).alias("__den"),
                     F.col("a.rn").alias("__ra"),
                     F.col("b.rn").alias("__rb")))
    # truncating division on BOTH engines (see docstring)
    slope = F.expr("CAST(__num DIV __den AS LONG)")
    pairs = pairs.select("g", slope.alias("s"), "__ra", "__rb")
    wm = Window.partitionBy("g").orderBy("s", "__ra", "__rb")
    med = (pairs
           .withColumn("__r", F.row_number().over(wm))
           .withColumn("__n", F.count(F.lit(1))
                       .over(Window.partitionBy("g")))
           .filter(F.col("__r") == F.expr("(__n + 1) DIV 2"))
           .select("g", F.col("__n").cast("long").alias("n_pairs"),
                   F.col("s").alias("slope_micro")))
    zero = F.lit(0).cast("long")
    return (npts.join(med, "g", "left")
            .select(F.col("g").alias(group_col), "n_points",
                    F.coalesce("n_pairs", zero).alias("n_pairs"),
                    "slope_micro"))


def theil_sen_oracle_sql(group_col: str = "event_type",
                         max_points: int = 64,
                         table: str = "events", ts_col: str = "ts",
                         value_col: str = "value",
                         order_break_col: str | None = None) -> str:
    """DuckDB replay of ``theil_sen_milli`` — identical point
    selection window, truncating-division slopes (BIGINT ``//``
    truncates toward zero, exactly like Spark's ``DIV``),
    lower-median rank under the same (slope, rn_a, rn_b) order.

    Epoch assumption: the ``epoch_ms // 1000`` second
    quantization matches Spark's ``unix_timestamp`` only for
    timestamps >= 1970 (DuckDB ``//`` truncates toward zero, Spark
    floors — 1s divergence on negative-epoch subsecond timestamps).
    The SLOPE division itself is unaffected: both engines truncate
    Δv/Δt toward zero, pinned on negative slopes by hand."""
    brk = order_break_col or value_col
    return f"""
    WITH pts0 AS (
      SELECT {group_col} AS g,
             epoch_ms({ts_col}) // 1000 AS t,
             CAST(floor({value_col} * 1000) AS BIGINT) AS v,
             {brk} AS brk
      FROM {table}
      WHERE {group_col} IS NOT NULL AND {ts_col} IS NOT NULL
        AND {value_col} IS NOT NULL),
    pts AS (
      SELECT g, t, v,
             row_number() OVER (PARTITION BY g
                                ORDER BY t, v, brk) AS rn
      FROM pts0 QUALIFY rn <= {max_points}),
    np AS (SELECT g, count(*)::BIGINT AS n_points FROM pts GROUP BY g),
    pr AS (
      SELECT a.g, (1000 * (b.v - a.v)) // (b.t - a.t) AS s,
             a.rn AS ra, b.rn AS rb
      FROM pts a JOIN pts b
        ON a.g = b.g AND a.rn < b.rn AND b.t > a.t),
    med AS (
      SELECT g, s, ra, rb,
             row_number() OVER (PARTITION BY g
                                ORDER BY s, ra, rb) AS r,
             count(*) OVER (PARTITION BY g) AS n
      FROM pr QUALIFY r = (n + 1) // 2)
    SELECT np.g AS {group_col}, np.n_points,
           COALESCE(med.n, 0)::BIGINT AS n_pairs,
           med.s AS slope_micro
    FROM np LEFT JOIN med ON med.g = np.g
    """


def cusum_changepoint_milli(events: DataFrame, group_col: str,
                            ts_col: str, value_col: str,
                            h_milli: int,
                            order_break_col: str | None = None
                            ) -> DataFrame:
    """Sequential changepoint detection per group — the two-sided
    CUSUM chart (Page 1954, public; the classic "when did this metric
    shift" monitor), integerized: values quantize to
    milli-units, each point's deviation is measured against the
    group's LOWER-MEDIAN milli value (the robust center — a few
    outliers cannot move the reference the way a mean would), and the
    one-sided statistics fold sequentially in (ts, v, tiebreak)
    order::

        S+_i = max(0, S+_{i-1} + dev_i)      (upward shifts)
        S-_i = max(0, S-_{i-1} - dev_i)      (downward shifts)

    computed DISTRIBUTED via the prefix-sum closed form
    ``S+_i = P_i − min(0, min_{j≤i} P_j)`` (and mirrored for S−,
    P = running sum of deviations) — two group-partitioned window
    passes, no sequential recursion, no driver loop.  The group's
    changepoint is the FIRST point where either side exceeds
    ``h_milli``; ``direction`` is the larger side there ('up' wins a
    tie, deterministically).

    Returns ``(group_col, n_points, ref_milli, max_cusum_pos,
    max_cusum_neg, changepoint_ts, direction)`` — changepoint_ts /
    direction NULL when no alarm fires.  All arithmetic is BIGINT;
    the DuckDB oracle replays it bit-exactly.

    The claim no other operator makes: theil_sen fits a GLOBAL trend,
    value_drift compares DISTRIBUTIONS between slices — CUSUM
    LOCALIZES a level shift in time, per group, with Page's optimal
    sequential statistic.

    Scale shape: every window is group-partitioned (a group's own
    row count bounds the task-local sort — the user_moving_avg
    envelope); the lower-median reference is one value-ordered rank
    window plus a group-keyed hash join; the report is one aggregate.
    No unpartitioned window, no data-sized collect.
    """
    from pyspark.sql import Window

    if h_milli < 1:
        raise ValueError("h_milli must be >= 1")
    brk = order_break_col or value_col
    pts = (events
           .filter(F.col(group_col).isNotNull()
                   & F.col(ts_col).isNotNull()
                   & F.col(value_col).isNotNull())
           .select(F.col(group_col).alias("g"),
                   F.col(ts_col).alias("t"),
                   F.floor(F.col(value_col) * 1000).cast("long")
                   .alias("v"),
                   F.col(brk).alias("__brk")))
    # lower-median reference per group (value-ordered rank window)
    wv = Window.partitionBy("g").orderBy("v", "t", "__brk")
    wg = Window.partitionBy("g")
    ref = (pts.withColumn("__rv", F.row_number().over(wv))
           .withColumn("__n", F.count(F.lit(1)).over(wg))
           .filter(F.col("__rv") == F.expr("(__n + 1) DIV 2"))
           .select("g", F.col("v").alias("__ref"),
                   F.col("__n").cast("long").alias("n_points")))
    wt = Window.partitionBy("g").orderBy("t", "v", "__brk")
    wp = wt.rowsBetween(Window.unboundedPreceding, 0)
    dev = F.col("v") - F.col("__ref")
    run = (pts.join(ref, "g")
           .withColumn("__rn", F.row_number().over(wt))
           .withColumn("__p", F.sum(dev).over(wp))
           .withColumn("__sp", F.col("__p")
                       - F.least(F.lit(0), F.min("__p").over(wp)))
           .withColumn("__sn", F.greatest(F.lit(0),
                                          F.max("__p").over(wp))
                       - F.col("__p")))
    alarm = (F.col("__sp") > h_milli) | (F.col("__sn") > h_milli)
    direction = F.when(F.col("__sp") >= F.col("__sn"),
                       F.lit("up")).otherwise(F.lit("down"))
    hit = F.when(alarm, F.struct(F.col("__rn").alias("rn"),
                                 F.col("t").alias("t"),
                                 direction.alias("d")))
    return (run.groupBy("g")
            .agg(F.max("n_points").alias("n_points"),
                 F.max("__ref").alias("ref_milli"),
                 F.max("__sp").cast("long").alias("max_cusum_pos"),
                 F.max("__sn").cast("long").alias("max_cusum_neg"),
                 F.min(hit).alias("__hit"))
            .select(F.col("g").alias(group_col), "n_points",
                    "ref_milli", "max_cusum_pos", "max_cusum_neg",
                    F.col("__hit.t").alias("changepoint_ts"),
                    F.col("__hit.d").alias("direction")))


def cusum_changepoint_oracle_sql(group_col: str = "event_type",
                                 h_milli: int = 1000,
                                 table: str = "events",
                                 ts_col: str = "ts",
                                 value_col: str = "value",
                                 order_break_col: str | None = None
                                 ) -> str:
    """DuckDB replay of ``cusum_changepoint_milli`` — identical
    lower-median reference, prefix-sum CUSUM closed form, first-alarm
    localization and tie convention.  Ordering uses the RAW timestamp
    (no epoch arithmetic anywhere, so the >=1970 caveat of the
    lag-based oracles does not apply here)."""
    brk = order_break_col or value_col
    return f"""
    WITH pts AS (
      SELECT {group_col} AS g, {ts_col} AS t,
             CAST(floor({value_col} * 1000) AS BIGINT) AS v,
             {brk} AS brk
      FROM {table}
      WHERE {group_col} IS NOT NULL AND {ts_col} IS NOT NULL
        AND {value_col} IS NOT NULL),
    med AS (
      SELECT g, v AS ref, n::BIGINT AS n_points
      FROM (SELECT g, v,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY v, t, brk) AS rv,
                   count(*) OVER (PARTITION BY g) AS n
            FROM pts)
      WHERE rv = (n + 1) // 2),
    run AS (
      SELECT p.g, p.t, med.ref, med.n_points,
             row_number() OVER w AS rn,
             SUM(p.v - med.ref) OVER
               (w ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS pf
      FROM pts p JOIN med ON p.g = med.g
      WINDOW w AS (PARTITION BY p.g ORDER BY p.t, p.v, p.brk)),
    s AS (
      SELECT g, t, ref, n_points, rn,
             pf - LEAST(0, MIN(pf) OVER wp) AS sp,
             GREATEST(0, MAX(pf) OVER wp) - pf AS sn
      FROM run
      WINDOW wp AS (PARTITION BY g ORDER BY rn
                    ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW))
    SELECT g AS {group_col},
           MAX(n_points)::BIGINT AS n_points,
           MAX(ref)::BIGINT AS ref_milli,
           MAX(sp)::BIGINT AS max_cusum_pos,
           MAX(sn)::BIGINT AS max_cusum_neg,
           (MIN(CASE WHEN sp > {h_milli} OR sn > {h_milli}
                     THEN struct_pack(rn := rn, t := t,
                                      d := CASE WHEN sp >= sn
                                                THEN 'up'
                                                ELSE 'down' END)
                END)).t AS changepoint_ts,
           (MIN(CASE WHEN sp > {h_milli} OR sn > {h_milli}
                     THEN struct_pack(rn := rn, t := t,
                                      d := CASE WHEN sp >= sn
                                                THEN 'up'
                                                ELSE 'down' END)
                END)).d AS direction
    FROM s GROUP BY g
    """


def twap_milli(events: DataFrame, group_col: str, ts_col: str,
               value_col: str, t0: str, t1: str,
               order_break_col: str | None = None) -> DataFrame:
    """Time-weighted average value per group over ``[t0, t1)`` — the
    TWAP resample (standard market/telemetry practice, public): each
    sample holds from its own timestamp until the NEXT sample in the
    group (last-observation-carried-forward), the final sample holds
    to the window end, and the average weights values by those
    holding intervals instead of by row count — the correct mean for
    IRREGULARLY-sampled series, where a burst of readings must not
    dominate the way it does in `user_moving_avg`'s row-window mean.

    Integerized: values quantize to milli-units, holding times to
    whole seconds (``unix_timestamp`` difference, the funnel
    convention), and ``twap_milli = Σ(v_milli·Δt_s) DIV Σ(Δt_s)``
    under truncating division.  Returns ``(group_col, n_samples,
    covered_s, twap_milli)``; ``covered_s`` is the observed span
    (first sample → window end) — samples at or after ``t1`` and
    groups with no in-window sample are excluded.  Zero-duration
    samples (same-second successors) carry no weight, exactly as
    LOCF semantics dictate.

    Scale shape: ONE group-partitioned lead window (a group's own row
    count bounds the task-local sort — the user_moving_avg envelope)
    and one map-side-combined aggregate.  No global window, no
    data-sized collect.
    """
    from pyspark.sql import Window

    import datetime as _dt

    if (_dt.datetime.fromisoformat(t1)
            <= _dt.datetime.fromisoformat(t0)):
        raise ValueError("t1 must be after t0")
    brk = order_break_col or value_col
    end = F.unix_timestamp(F.lit(t1).cast("timestamp"))
    pts = (events
           .filter(F.col(group_col).isNotNull()
                   & F.col(ts_col).isNotNull()
                   & F.col(value_col).isNotNull()
                   & (F.col(ts_col) >= F.lit(t0).cast("timestamp"))
                   & (F.col(ts_col) < F.lit(t1).cast("timestamp")))
           .select(F.col(group_col).alias("g"),
                   F.unix_timestamp(ts_col).cast("long").alias("t"),
                   F.floor(F.col(value_col) * 1000).cast("long")
                   .alias("v"),
                   F.col(brk).alias("__brk")))
    w = Window.partitionBy("g").orderBy("t", "v", "__brk")
    held = pts.withColumn(
        "__dt", F.coalesce(F.lead("t").over(w), end) - F.col("t"))
    return (held.groupBy("g")
            .agg(F.count(F.lit(1)).cast("long").alias("n_samples"),
                 (end - F.min("t")).cast("long").alias("covered_s"),
                 F.expr("CAST(sum(v * __dt) DIV "
                        "greatest(sum(__dt), 1) AS LONG)")
                 .alias("twap_milli"))
            .select(F.col("g").alias(group_col), "n_samples",
                    "covered_s", "twap_milli"))


def twap_oracle_sql(t0: str, t1: str,
                    group_col: str = "event_type",
                    table: str = "events", ts_col: str = "ts",
                    value_col: str = "value",
                    order_break_col: str | None = None) -> str:
    """DuckDB replay of ``twap_milli`` — identical LOCF lead window,
    whole-second holding times, truncating weighted division.  The
    ``epoch_ms // 1000`` quantization carries the same >=1970
    assumption as the funnel oracles (DuckDB truncates toward zero,
    Spark floors)."""
    brk = order_break_col or value_col
    return f"""
    WITH pts AS (
      SELECT {group_col} AS g,
             epoch_ms({ts_col}) // 1000 AS t,
             CAST(floor({value_col} * 1000) AS BIGINT) AS v,
             {brk} AS brk
      FROM {table}
      WHERE {group_col} IS NOT NULL AND {ts_col} IS NOT NULL
        AND {value_col} IS NOT NULL
        AND {ts_col} >= TIMESTAMP '{t0}'
        AND {ts_col} < TIMESTAMP '{t1}'),
    held AS (
      SELECT g, t, v,
             COALESCE(lead(t) OVER (PARTITION BY g
                                    ORDER BY t, v, brk),
                      epoch_ms(TIMESTAMP '{t1}') // 1000) - t AS dt
      FROM pts)
    SELECT g AS {group_col},
           count(*)::BIGINT AS n_samples,
           (epoch_ms(TIMESTAMP '{t1}') // 1000 - min(t))::BIGINT
             AS covered_s,
           (sum(v * dt) // greatest(sum(dt), 1))::BIGINT
             AS twap_milli
    FROM held GROUP BY g
    """


def acf_milli(events: DataFrame, group_col: str, ts_col: str,
              value_col: str, lags=(1, 2, 4, 8),
              max_points: int = 512,
              order_break_col: str | None = None) -> DataFrame:
    """Per-group sample autocorrelation at the requested rank lags
    (Box & Jenkins 1970's ACF, public) — the periodicity
    question no other operator here asks: theil_sen fits a TREND,
    cusum_changepoint localizes a LEVEL SHIFT, sax_pairs clusters
    SHAPES across groups; the ACF answers "does this metric echo
    itself L steps later" (alternation → acf(1) ≈ −1000, a period-L
    cycle → a positive spike at lag L).

    Integerized and replayable: values quantize to milli-units, the
    series order is the (ts, v, tiebreak) rank (RANK lags, not
    wall-clock lags — deliberate: the estimator stays defined under
    irregular sampling, and the choice is documented rather than
    silently resampled; use `twap_milli`/`paa_profiles` first for a
    wall-clock-regular view), and::

        acf(L) = Σ_{i≤n−L} (n·v_i − s)(n·v_{i+L} − s)
               / Σ_{i≤n}   (n·v_i − s)²

    (s = Σv — scaling the deviations by n clears the fractional mean;
    the n² factors cancel).  ``acf_milli`` is the truncating ×1000
    integer with the SIGN split out before division (both engines
    divide non-negative integers — no floor-vs-trunc divergence on
    negative correlations).  Accumulation runs in DECIMAL(38,0)
    (HUGEINT oracle-side): the summed squared deviations overflow
    BIGINT past ~10⁹ milli-deviations, the basket_pairs lesson; safe
    to |v_milli| ~ 10¹² at the default cap.

    ``max_points`` caps each group at its first ``max_points`` points
    in rank order (the theil_sen envelope — a loud, documented
    window, not a silent truncation; the oracle replays it).
    Constant groups (zero variance) are excluded — the ratio is
    undefined; lags ≥ a group's point count emit nothing.

    Returns ``(group_col, lag, n_points, n_pairs, acf_milli)``.

    Scale shape: ONE corpus exchange end to end, plan-pinned — the
    rank cap, the lead windows, the group stats (count/sum/den as
    whole-partition window aggregates — deliberately NOT a groupBy +
    self-join, which would re-scan the input once per consumer) and
    the final (g, lag) aggregate all share the one hash(g)
    partitioning (a group's own row count bounds every task-local
    sort; test_timeseries.py pins exchanges ≤ 1).  No global window,
    no join, no collect.

    Reference analogue: none (SURVEY.md §2 — no sequential-statistics
    surface); beyond-parity monitoring machinery beside
    cusum/theil_sen/twap.
    """
    from pyspark.sql import Window

    lag_list = sorted({int(x) for x in lags})
    if not lag_list or lag_list[0] < 1:
        raise ValueError("lags must be positive integers")
    if max_points < 2:
        raise ValueError("max_points must be >= 2")
    brk = order_break_col or value_col
    pts = (events
           .filter(F.col(group_col).isNotNull()
                   & F.col(ts_col).isNotNull()
                   & F.col(value_col).isNotNull())
           .select(F.col(group_col).alias("g"),
                   F.col(ts_col).alias("t"),
                   F.floor(F.col(value_col) * 1000).cast("long")
                   .alias("v"),
                   F.col(brk).alias("__brk")))
    wr = Window.partitionBy("g").orderBy("t", "v", "__brk")
    kept = (pts.withColumn("__rn", F.row_number().over(wr))
            .filter(F.col("__rn") <= max_points)
            .select("g", "v", "__rn"))
    # everything below is WINDOW aggregates over the same hash(g)
    # partitioning — no self-join, so the group stats / deviations /
    # den all ride the one rank-window exchange
    wg = Window.partitionBy("g")
    wl = Window.partitionBy("g").orderBy("__rn")
    base = kept.select(
        "g", "v",
        F.count(F.lit(1)).over(wg).alias("__n"),
        F.sum("v").over(wg).alias("__s"),
        *[F.lead("v", L).over(wl).alias(f"__l{L}") for L in lag_list])
    dev = (F.col("__n") * F.col("v") - F.col("__s")) \
        .cast("decimal(38,0)")
    base = (base.withColumn("__d", dev)
            .withColumn("__den",
                        F.sum(F.col("__d") * F.col("__d")).over(wg)))
    arr = F.array(*[
        F.struct(F.lit(L).alias("lag"), F.col(f"__l{L}").alias("lv"))
        for L in lag_list])
    ex = (base.select("g", "__n", "__s", "__d", "__den",
                      F.explode(arr).alias("p"))
          .filter(F.col("p.lv").isNotNull()))
    devl = (F.col("__n") * F.col("p.lv") - F.col("__s")) \
        .cast("decimal(38,0)")
    num = (ex.groupBy("g", F.col("p.lag").alias("lag"))
           .agg(F.sum(F.col("__d") * devl).alias("__num"),
                F.count(F.lit(1)).cast("long").alias("n_pairs"),
                F.max("__den").alias("__den"),
                F.max("__n").cast("long").alias("n_points")))
    sign = F.when(F.col("__num") < 0, F.lit(-1)).otherwise(F.lit(1))
    mag = F.expr("CAST(CAST(1000 AS DECIMAL(38,0)) * abs(__num) "
                 "DIV __den AS LONG)")
    return (num.filter(F.col("__den") > 0)
            .select(F.col("g").alias(group_col), "lag", "n_points",
                    "n_pairs",
                    (sign * mag).cast("long").alias("acf_milli")))


def acf_oracle_sql(group_col: str = "event_type",
                   lags=(1, 2, 4, 8), max_points: int = 512,
                   table: str = "events", ts_col: str = "ts",
                   value_col: str = "value",
                   order_break_col: str | None = None) -> str:
    """DuckDB replay of ``acf_milli`` — identical rank order and cap,
    n-scaled integer deviations, HUGEINT accumulation, the sign split
    and truncating non-negative division.  Ordering uses the RAW
    timestamp (no epoch arithmetic — the >=1970 caveat does not
    apply)."""
    lag_list = sorted({int(x) for x in lags})
    if not lag_list or lag_list[0] < 1:
        raise ValueError("lags must be positive integers")
    brk = order_break_col or value_col
    vals = ", ".join(f"({L})" for L in lag_list)
    return f"""
    WITH pts AS (
      SELECT {group_col} AS g, {ts_col} AS t,
             CAST(floor({value_col} * 1000) AS BIGINT) AS v,
             {brk} AS brk
      FROM {table}
      WHERE {group_col} IS NOT NULL AND {ts_col} IS NOT NULL
        AND {value_col} IS NOT NULL),
    kept AS (
      SELECT g, v, rn
      FROM (SELECT g, v,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY t, v, brk) AS rn
            FROM pts)
      WHERE rn <= {max_points}),
    st AS (SELECT g, count(*)::BIGINT AS n, sum(v)::BIGINT AS s
           FROM kept GROUP BY g),
    dv AS (
      SELECT k.g, k.rn,
             (st.n::HUGEINT * k.v - st.s)::HUGEINT AS d, st.n
      FROM kept k JOIN st ON st.g = k.g),
    den AS (SELECT g, SUM(d * d)::HUGEINT AS den,
                   MAX(n)::BIGINT AS n_points
            FROM dv GROUP BY g),
    num AS (
      SELECT a.g, l.lag, SUM(a.d * b.d)::HUGEINT AS num,
             COUNT(*)::BIGINT AS n_pairs
      FROM dv a
      JOIN (VALUES {vals}) l(lag) ON TRUE
      JOIN dv b ON b.g = a.g AND b.rn = a.rn + l.lag
      GROUP BY a.g, l.lag)
    SELECT num.g AS {group_col}, num.lag::INTEGER AS lag,
           den.n_points, num.n_pairs,
           ((CASE WHEN num.num < 0 THEN -1 ELSE 1 END)
            * ((1000::HUGEINT * abs(num.num)) // den.den))::BIGINT
             AS acf_milli
    FROM num JOIN den ON den.g = num.g
    WHERE den.den > 0
    """


def seasonal_profile_milli(events: DataFrame, group_col: str,
                           ts_col: str, value_col: str, period: int,
                           max_points: int = 512,
                           order_break_col: str | None = None
                           ) -> DataFrame:
    """Classical additive seasonal decomposition per group
    (moving-average method — Macaulay 1931, Hyndman &
    Athanasopoulos FPP ch. 3, public) with the Wang, Smith
    & Hyndman (2006) seasonal-STRENGTH measure — the "what does the
    cycle look like, and how much of the signal is it" claim that
    completes the monitoring suite: acf_milli DETECTS a period,
    this PROFILES it (per-phase seasonal offsets) and SCORES it
    (strength ∈ [0, 1000]); theil_sen fits the trend,
    cusum_changepoint localizes shifts.

    Integer-exact pipeline over the (ts, v, tiebreak) rank order:

    - trend_i = truncating mean of the centered ``period``-row window
      (period must be ODD ≥ 3 — the classic even-period 2×MA is out
      of scope, raise rather than approximate); edge rows without a
      full window are excluded, exactly as the textbook method drops
      them;
    - detrended d_i = v_i − trend_i (milli units);
    - seasonal_k = LOWER MEDIAN of d_i at phase k = (rank−1) % period
      (the robust center, the cusum discipline — a few outliers
      cannot bend the profile the way the textbook phase MEAN would),
      then centered: s'_k = seasonal_k − (Σ_k seasonal_k) DIV
      n_phases (both engines' integral division truncates toward
      zero — the theil_sen MEASURED parity pin covers the negative
      case);
    - remainder r_i = d_i − s'_{phase(i)};
    - strength_milli = max(0, 1000 − (1000·VR) DIV VD) with
      VR = m·Σr² − (Σr)² and VD = m·Σd² − (Σd)² (the n² factors of
      the two variances cancel; both numerators are ≥ 0, so the
      division is non-negative on both engines).  Accumulation runs
      in DECIMAL(38,0)/HUGEINT (the acf/basket overflow lesson).

    Returns one row per (group, phase):
    ``(group_col, phase, n_obs, seasonal_milli, strength_milli)`` —
    phases with no full-window observation are absent; groups whose
    detrended variance is zero (constant after trend removal —
    strength undefined) are excluded, the acf convention.

    ``max_points`` caps each group at its first points in rank order
    (the theil_sen envelope; the oracle replays it).

    Scale shape: ONE corpus exchange end to end, plan-pinned — the
    rank cap, the centered-MA window, the per-phase median and the
    group-level centering/variance aggregates are ALL window
    functions over specs that hash(g) satisfies ((g) and (g, phase)
    partitionings both co-locate on g); no join, no groupBy, no
    collect; a group's own row count bounds every task-local sort.

    Reference analogue: none (SURVEY.md §2 — no sequential-statistics
    surface); beyond-parity monitoring machinery beside
    acf/cusum/theil_sen/twap.
    """
    from pyspark.sql import Window

    if period < 3 or period % 2 == 0:
        raise ValueError("period must be an odd integer >= 3 (the "
                         "even-period 2xMA variant is not wired)")
    if max_points < period:
        raise ValueError("max_points must be >= period")
    h = (period - 1) // 2
    brk = order_break_col or value_col
    pts = (events
           .filter(F.col(group_col).isNotNull()
                   & F.col(ts_col).isNotNull()
                   & F.col(value_col).isNotNull())
           .select(F.col(group_col).alias("g"),
                   F.col(ts_col).alias("t"),
                   F.floor(F.col(value_col) * 1000).cast("long")
                   .alias("v"),
                   F.col(brk).alias("__brk")))
    wr = Window.partitionBy("g").orderBy("t", "v", "__brk")
    kept = (pts.withColumn("__rn", F.row_number().over(wr))
            .filter(F.col("__rn") <= max_points)
            .select("g", "v", "__rn",
                    ((F.col("__rn") - 1) % period).alias("__ph")))
    wma = (Window.partitionBy("g").orderBy("__rn")
           .rowsBetween(-h, h))
    trended = (kept
               .withColumn("__wc", F.count(F.lit(1)).over(wma))
               .withColumn("__ws", F.sum("v").over(wma))
               .filter(F.col("__wc") == period)
               .withColumn("__d", F.col("v")
                           - F.expr(f"__ws DIV {period}")))
    # per-phase lower median as a WINDOW value (no filter-then-join):
    # the winner rank is (m+1) DIV 2 in (d, rn) order
    wp = Window.partitionBy("g", "__ph").orderBy("__d", "__rn")
    wpc = Window.partitionBy("g", "__ph")
    wg = Window.partitionBy("g")
    winner = F.col("__rv") == F.expr("(__m + 1) DIV 2")
    t2 = (trended
          .withColumn("__rv", F.row_number().over(wp))
          .withColumn("__m", F.count(F.lit(1)).over(wpc)))
    t3 = (t2.withColumn("__sk", F.max(F.when(winner, F.col("__d")))
                        .over(wpc))
          .withColumn("__adj", F.sum(F.when(winner, F.col("__d")))
                      .over(wg))
          .withColumn("__np", F.sum(F.when(winner, F.lit(1)))
                      .over(wg)))
    seasonal = F.col("__sk") - F.expr("__adj DIV __np")
    dd = F.col("__d").cast("decimal(38,0)")
    t4 = (t3.withColumn("__s", seasonal)
          .withColumn("__r", (F.col("__d") - F.col("__s"))
                      .cast("decimal(38,0)"))
          .withColumn("__dd", dd))
    t5 = (t4
          .withColumn("__mg", F.count(F.lit(1)).over(wg)
                      .cast("decimal(38,0)"))
          .withColumn("__sd", F.sum("__dd").over(wg))
          .withColumn("__sd2", F.sum(F.col("__dd") * F.col("__dd"))
                      .over(wg))
          .withColumn("__sr", F.sum("__r").over(wg))
          .withColumn("__sr2", F.sum(F.col("__r") * F.col("__r"))
                      .over(wg)))
    vd = F.col("__mg") * F.col("__sd2") - F.col("__sd") * F.col("__sd")
    vr = F.col("__mg") * F.col("__sr2") - F.col("__sr") * F.col("__sr")
    strength = F.greatest(
        F.lit(0).cast("long"),
        F.expr("CAST(1000 - CAST(1000 AS DECIMAL(38,0)) * __vr "
               "DIV __vd AS LONG)"))
    return (t5.withColumn("__vd", vd).withColumn("__vr", vr)
            .filter(winner & (F.col("__vd") > 0))
            .select(F.col("g").alias(group_col),
                    F.col("__ph").cast("int").alias("phase"),
                    F.col("__m").cast("long").alias("n_obs"),
                    F.col("__s").cast("long").alias("seasonal_milli"),
                    strength.alias("strength_milli")))


def seasonal_profile_oracle_sql(group_col: str = "event_type",
                                period: int = 5,
                                max_points: int = 512,
                                table: str = "events",
                                ts_col: str = "ts",
                                value_col: str = "value",
                                order_break_col: str | None = None
                                ) -> str:
    """DuckDB replay of ``seasonal_profile_milli`` — identical rank
    order and cap, centered-MA trend with truncating mean, per-phase
    lower median, truncating centering, HUGEINT variance numerators
    and the clamped strength division.  Ordering uses the RAW
    timestamp (no epoch arithmetic — the >=1970 caveat does not
    apply)."""
    if period < 3 or period % 2 == 0:
        raise ValueError("period must be an odd integer >= 3")
    h = (period - 1) // 2
    brk = order_break_col or value_col
    return f"""
    WITH pts AS (
      SELECT {group_col} AS g, {ts_col} AS t,
             CAST(floor({value_col} * 1000) AS BIGINT) AS v,
             {brk} AS brk
      FROM {table}
      WHERE {group_col} IS NOT NULL AND {ts_col} IS NOT NULL
        AND {value_col} IS NOT NULL),
    kept AS (
      SELECT g, v, rn, (rn - 1) % {period} AS ph
      FROM (SELECT g, v,
                   row_number() OVER (PARTITION BY g
                                      ORDER BY t, v, brk) AS rn
            FROM pts)
      WHERE rn <= {max_points}),
    tr AS (
      SELECT g, v, rn, ph,
             v - (SUM(v) OVER w // {period}) AS d
      FROM kept
      WINDOW w AS (PARTITION BY g ORDER BY rn
                   ROWS BETWEEN {h} PRECEDING AND {h} FOLLOWING)
      QUALIFY COUNT(*) OVER w = {period}),
    med AS (
      SELECT g, ph, d, rn,
             row_number() OVER (PARTITION BY g, ph
                                ORDER BY d, rn) AS rv,
             count(*) OVER (PARTITION BY g, ph) AS m
      FROM tr),
    sk AS (
      SELECT g, ph, m,
             MAX(CASE WHEN rv = (m + 1) // 2 THEN d END)
               OVER (PARTITION BY g, ph) AS sk0,
             CASE WHEN rv = (m + 1) // 2 THEN d END AS win,
             d, rn
      FROM med),
    cen AS (
      SELECT g, ph, m, d, rn, sk0,
             SUM(win) OVER (PARTITION BY g) AS adj,
             SUM(CASE WHEN win IS NOT NULL THEN 1 END)
               OVER (PARTITION BY g) AS np,
             CASE WHEN win IS NOT NULL THEN 1 ELSE 0 END AS is_win
      FROM sk),
    dec AS (
      -- adj // np: DuckDB's integer // truncates toward zero exactly
      -- like Spark's DIV (the theil_sen measured parity pin; re-pinned
      -- on negatives in test_seasonal_profile_matches_python_model)
      SELECT g, ph, m, rn, is_win,
             sk0 - (adj // np) AS s,
             d::HUGEINT AS dd,
             (d - (sk0 - (adj // np)))::HUGEINT AS r
      FROM cen),
    var_ AS (
      SELECT g, ph, m, rn, is_win, s,
             COUNT(*) OVER (PARTITION BY g)::HUGEINT AS mg,
             SUM(dd) OVER (PARTITION BY g) AS sd,
             SUM(dd * dd) OVER (PARTITION BY g) AS sd2,
             SUM(r) OVER (PARTITION BY g) AS sr,
             SUM(r * r) OVER (PARTITION BY g) AS sr2
      FROM dec)
    SELECT g AS {group_col}, ph::INTEGER AS phase,
           m::BIGINT AS n_obs, s::BIGINT AS seasonal_milli,
           GREATEST(0, 1000 - (1000::HUGEINT * (mg * sr2 - sr * sr))
                    // (mg * sd2 - sd * sd))::BIGINT
             AS strength_milli
    FROM var_
    WHERE is_win = 1 AND (mg * sd2 - sd * sd) > 0
    """
