"""Distributed cardinality sketches — deterministic HyperLogLog.

The reference engine has no sketch surface at all (Kafka Streams
aggregations are exact; SURVEY.md §2.4), but a 100 TB pipeline needs
approximate distinct counts that do NOT shuffle the raw keys: HLL
reduces any input to ``m = 2^p`` integer registers that merge with a
per-bucket ``min`` — partial aggregation does the heavy lifting
map-side, the exchange carries at most ``m`` rows per task, and
sketches built on disjoint partitions (or days, or topics) combine
without touching the raw data again.

Unlike Spark's ``approx_count_distinct`` (whose HLL++ register layout
is engine-internal and not reproducible elsewhere), this sketch is
**portably deterministic**: the hash is the repo-wide 56-bit md5
prefix (functions/text.py portable-hash contract) and the estimator is
pure integer arithmetic, so DuckDB replays the registers AND the
estimate bit-for-bit — an approximate algorithm with an exact oracle.

Layout (p=10, W=32 by default):
  h56    = first 14 md5 hex chars as BIGINT          (56 bits)
  bucket = h56 % m                                   (p bits)
  w      = (h56 // m) % 2^W                          (W bits)
  rho    = W + 1 - bitlen(w)   where bitlen(0) = 0   (1..W+1)
Register per bucket = max(rho) ≡ W + 1 - min(bitlen).  The harmonic
denominator sum(2^-rho) is scaled by 2^(W+1) into the integer
  sum_pow = sum(2^(W+1-rho)) = sum(2^min_bitlen)  (+ 2^(W+1) per
empty bucket), and the estimate is
  est = A * 2^(W+1) // sum_pow,
with A = floor(alpha_m * m^2) as the exact rational
  A = 7213 * m^3 // (10000*m + 10790)        (alpha_m = .7213/(1+1.079/m)).
Overflow audit (int64): sum_pow <= m * 2^(W+1) = 2^43; A < .722*m^2;
A * 2^33 ~ 6.5e15 at p=10 (p<=14 stays < 2^63).  W=32 supports
per-bucket cardinalities ~2^32, i.e. >10^12 total distincts at p=10 —
the 100 TB envelope — while keeping every quantity in BIGINT range for
both engines.

No range corrections are applied in the gated integer path: classic
linear counting needs ln() (transcendental, not integer-exact).
``hll_estimate_corrected`` provides the float LinearCounting variant
for small cardinalities, tested against exact counts, but the oracle
contract stays on the raw estimator.
"""

from __future__ import annotations

from contextlib import contextmanager

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P_DEFAULT = 10
W_FIELD = 32

# Per-round driver budget of the exact-selection loop (``_select``):
# the most (group, bucket) histogram rows one narrowing round may
# collect.  Each round is a full scan of the persisted value frame plus
# 2-3 driver-coordinated jobs, which costs far more than the transfer
# of a wide histogram (4M rows is about 64 MB of Arrow), so a wide round
# that saves a scan pays.  ``_round_budget`` lowers it to what
# ``spark.driver.maxResultSize`` admits at ``_ROW_BYTES`` per row (a
# group key and four longs, with headroom for a string key).
_ROUND_BUDGET = 1 << 22
_ROW_BYTES = 64


def _m(p: int) -> int:
    if not 4 <= p <= 14:
        raise ValueError("p must be in [4, 14] (int64 overflow audit)")
    return 1 << p


def alpha_m2(p: int) -> int:
    """floor(alpha_m * m^2) as an exact integer — embedded verbatim in
    the DuckDB oracles so both engines divide the same numerator."""
    m = _m(p)
    return 7213 * m * m * m // (10000 * m + 10790)


def _h56(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 14), 16, 10) \
            .cast("long")


def hll_registers(df: DataFrame, col: str, p: int = P_DEFAULT,
                  by: tuple[str, ...] = ()) -> DataFrame:
    """Sketch ``col`` into HLL registers: one row per *present* bucket,
    columns ``(*by, bucket, min_bitlen)``.  Null keys are skipped (the
    engine-wide null-key contract, SURVEY.md §1.3).

    ``by`` builds one independent sketch per group (per day, per
    source, …) in the same pass — the mergeable-partials shape: group
    sketches later combine via ``hll_merge``/register min without
    re-reading data.

    This is the ONLY shuffle in the sketch path, and it is a partial
    aggregate: each task pre-mins its buckets, so the exchange carries
    at most ``m`` rows per task per group regardless of input size.
    """
    m = _m(p)
    h = _h56(F.col(col))
    # shiftright/bitwiseAND, never `/`: Spark's `/` is DOUBLE division
    # and h56 exceeds the 53-bit mantissa — integer ops stay exact.
    w = F.shiftright(h, p).bitwiseAND(F.lit((1 << W_FIELD) - 1))
    # bin() emits no leading zeros in Spark or DuckDB; stripping '0'
    # makes bitlen(0) = 0 identically in both (bin(0) = '0').
    bitlen = F.length(F.regexp_replace(F.bin(w), "^0+", ""))
    return (
        df.filter(F.col(col).isNotNull())
        .select(*[F.col(g) for g in by],
                h.bitwiseAND(F.lit(m - 1)).alias("bucket"),
                bitlen.cast("int").alias("bitlen"))
        .groupBy(*by, "bucket")
        .agg(F.min("bitlen").alias("min_bitlen"))
    )


def hll_merge(*register_dfs: DataFrame) -> DataFrame:
    """Merge sketches built on disjoint (or overlapping) inputs —
    elementwise register max ≡ per-bucket ``min(min_bitlen)``.  The
    mergeability is what makes the sketch a 100 TB primitive: partial
    sketches per partition/day/source combine without re-reading data.
    """
    out, rest = register_dfs[0], register_dfs[1:]
    for r in rest:
        out = out.unionByName(r)
    return out.groupBy("bucket").agg(F.min("min_bitlen").alias("min_bitlen"))


def hll_estimate(registers: DataFrame, p: int = P_DEFAULT,
                 by: tuple[str, ...] = ()) -> DataFrame:
    """Estimate from a register table: ``(*by, m, nonzero_buckets,
    sum_pow, est_distinct)`` — one row per group (a single row without
    ``by``) — every column BIGINT, every step integer, so the result
    is hash-exact across engines."""
    m = _m(p)
    a = alpha_m2(p)
    empty_pow = 1 << (W_FIELD + 1)
    aggs = [
        F.count("*").cast("long").alias("nonzero_buckets"),
        # coalesce: SUM over zero rows is NULL, and an empty sketch
        # must estimate 0, not NULL (or the raw estimator's alpha·m)
        F.coalesce(
            F.sum(F.expr("shiftleft(CAST(1 AS BIGINT), min_bitlen)")), F.lit(0))
         .cast("long").alias("present_pow")]
    agg = registers.groupBy(*by).agg(*aggs) if by else registers.agg(*aggs)
    return agg.select(
        *by,
        F.lit(m).cast("long").alias("m"),
        F.col("nonzero_buckets"),
        (F.col("present_pow")
         + (F.lit(m) - F.col("nonzero_buckets")) * F.lit(empty_pow))
        .cast("long").alias("sum_pow"),
    ).select(
        *by, "m", "nonzero_buckets", "sum_pow",
        # integer DIV, not `/`: the numerator (~2^53 at p=10) and the
        # quotient must match DuckDB's exact // to the last bit
        F.when(F.col("nonzero_buckets") == 0, F.lit(0).cast("long"))
         .otherwise(F.expr(f"CAST({a * empty_pow} DIV sum_pow AS LONG)"))
         .alias("est_distinct"),
    )


def hll_distinct(df: DataFrame, col: str, p: int = P_DEFAULT) -> DataFrame:
    """Sketch + estimate in one call (single-row DataFrame)."""
    return hll_estimate(hll_registers(df, col, p), p)


# ---------------------------------------------------------------------------
# Pure-Python mirror — the streaming fold (windowed distinct) and the
# tests replay the identical arithmetic row-by-row.
# ---------------------------------------------------------------------------

def py_bucket_bitlen(value, p: int = P_DEFAULT) -> tuple[int, int]:
    """(bucket, bitlen) of one key — mirrors ``hll_registers``."""
    import hashlib

    m = _m(p)
    h56 = int(hashlib.md5(str(value).encode()).hexdigest()[:14], 16)
    w = (h56 // m) % (1 << W_FIELD)
    return h56 % m, w.bit_length()


def py_estimate(registers: dict[int, int], p: int = P_DEFAULT) -> dict:
    """Estimate from {bucket: min_bitlen} — mirrors ``hll_estimate``."""
    m = _m(p)
    empty_pow = 1 << (W_FIELD + 1)
    sum_pow = (sum(1 << b for b in registers.values())
               + (m - len(registers)) * empty_pow)
    est = alpha_m2(p) * empty_pow // sum_pow if registers else 0
    return {"m": m, "nonzero_buckets": len(registers), "sum_pow": sum_pow,
            "est_distinct": est}


def hll_estimate_corrected(registers: dict[int, int],
                           p: int = P_DEFAULT) -> float:
    """Float estimate with the standard LinearCounting small-range
    correction (est < 2.5m and empty buckets exist → m*ln(m/V)).
    NOT gate-exact (ln is transcendental) — analysis/monitoring use."""
    import math

    m = _m(p)
    est = py_estimate(registers, p)["est_distinct"]
    zeros = m - len(registers)
    if est <= 5 * m // 2 and zeros:
        return m * math.log(m / zeros)
    return float(est)


def oracle_sql(table: str, col: str, p: int = P_DEFAULT,
               where: str = "TRUE") -> str:
    """The DuckDB replay of ``hll_distinct`` — kept beside the engine
    code so the layout constants can never drift from the oracle."""
    m = _m(p)
    a = alpha_m2(p)
    empty_pow = 1 << (W_FIELD + 1)
    wmask = 1 << W_FIELD
    return f"""
    WITH h AS (
      SELECT ('0x' || substr(md5(CAST({col} AS VARCHAR)), 1, 14))::BIGINT AS h56
      FROM {table} WHERE {col} IS NOT NULL AND ({where})),
    b AS (
      SELECT h56 % {m} AS bucket,
             length(ltrim(bin((h56 // {m}) % {wmask}), '0')) AS bitlen
      FROM h),
    reg AS (
      SELECT bucket, MIN(bitlen) AS min_bitlen FROM b GROUP BY bucket),
    s AS (
      SELECT CAST(COUNT(*) AS BIGINT) AS nonzero_buckets,
             CAST(COALESCE(SUM(1::BIGINT << min_bitlen), 0) AS BIGINT)
               AS present_pow
      FROM reg)
    SELECT CAST({m} AS BIGINT) AS m, nonzero_buckets,
           CAST(present_pow + ({m} - nonzero_buckets) * {empty_pow}::BIGINT
                AS BIGINT) AS sum_pow,
           CAST(CASE WHEN nonzero_buckets = 0 THEN 0
                ELSE {a * empty_pow}::BIGINT
                  // (present_pow + ({m} - nonzero_buckets) * {empty_pow}::BIGINT)
                END AS BIGINT) AS est_distinct
    FROM s
    """


# ---------------------------------------------------------------------------
# Count-min sketch — approximate frequencies with one-sided error.
# ---------------------------------------------------------------------------

CMS_W = 1024
CMS_D = 3


def _cms_hash(c: Column, i: int, w: int) -> Column:
    """Row-``i`` bucket of a key: the portable 56-bit md5 prefix of the
    salted key, mod 2^31−1, mod ``w`` — replayable in DuckDB via the
    repo-wide hash contract (functions/text.py)."""
    salted = F.concat(F.lit(f"cms{i}:"), c.cast("string"))
    h = F.conv(F.substring(F.md5(salted), 1, 14), 16, 10).cast("long")
    return (h % F.lit(2_147_483_647)) % F.lit(w)


def cms_sketch(df: DataFrame, col: str, w: int = CMS_W,
               d: int = CMS_D) -> DataFrame:
    """Count-min registers over the OCCURRENCES of ``col``: exactly
    ``d · w`` rows ``(row, bucket, cnt)``.  ``est(x) = min_i
    cnt[i][h_i(x)]`` never underestimates, and overestimates by more
    than ``2N/w`` with probability < 2^-d (Cormode & Muthukrishnan
    2005 — public).  Same 100 TB contract as the HLL: the groupBy's
    partial aggregation bounds the exchange at d·w rows per task, and
    sketches MERGE by elementwise addition (``cms_merge``) without
    re-reading data.  Null keys are skipped."""
    rows = df.filter(F.col(col).isNotNull()).select(
        F.explode(F.array(*[
            F.struct(F.lit(i).alias("row"),
                     _cms_hash(F.col(col), i, w).alias("bucket"))
            for i in range(d)])).alias("rb"))
    return (rows.select("rb.row", "rb.bucket")
            .groupBy("row", "bucket")
            .agg(F.count(F.lit(1)).alias("cnt")))


def cms_merge(*register_dfs: DataFrame) -> DataFrame:
    """Merge CMS sketches: elementwise register addition."""
    out, rest = register_dfs[0], register_dfs[1:]
    for r in rest:
        out = out.unionByName(r)
    return out.groupBy("row", "bucket").agg(F.sum("cnt").alias("cnt"))


def cms_lookup(registers: DataFrame, probes: DataFrame, col: str,
               w: int = CMS_W, d: int = CMS_D) -> DataFrame:
    """Estimated count per probe row: min over the d register rows.
    The register table is d·w rows — broadcast, so probing any number
    of keys is shuffle-free on the probe side."""
    est = None
    reg = F.broadcast(registers)
    out = probes
    for i in range(d):
        ri = reg.filter(F.col("row") == i).select(
            F.col("bucket").alias(f"__b{i}"), F.col("cnt").alias(f"__c{i}"))
        out = (out.withColumn(f"__b{i}", _cms_hash(F.col(col), i, w))
               .join(ri, f"__b{i}", "left"))
        ci = F.coalesce(F.col(f"__c{i}"), F.lit(0))
        est = ci if est is None else F.least(est, ci)
    return (out.withColumn("cms_est", est.cast("long"))
            .drop(*[f"__b{i}" for i in range(d)],
                  *[f"__c{i}" for i in range(d)]))


def cms_oracle_registers_sql(source_sql: str, key: str = "t",
                             w: int = CMS_W, d: int = CMS_D) -> str:
    """DuckDB replay of ``cms_sketch`` registers over ``source_sql``
    (a relation exposing one occurrence per row in column ``key``)."""
    parts = [
        f"""SELECT {i} AS row,
              ((('0x' || substr(md5('cms{i}:' || {key}), 1, 14))::BIGINT
                % 2147483647) % {w}) AS bucket,
              CAST(COUNT(*) AS BIGINT) AS cnt
            FROM ({source_sql}) GROUP BY 2"""
        for i in range(d)]
    return " UNION ALL ".join(parts)


# ---------------------------------------------------------------------------
# Equi-width histogram — mergeable quantile estimation.
# ---------------------------------------------------------------------------

def hist_registers(df: DataFrame, col: str, lo: int, hi: int,
                   bins: int = 1000) -> DataFrame:
    """Equi-width histogram over an INTEGER column: ≤ ``bins`` rows
    ``(bin, cnt)``; values outside [lo, hi) clamp into the edge bins.
    Same merge-by-addition / bounded-exchange contract as the CMS.
    Overflow constraint: ``(hi − lo) · bins < 2^63`` (checked).
    Quantile error from ``hist_quantiles`` is one bin width —
    ``(hi−lo)/bins`` — by construction."""
    if hi <= lo:
        raise ValueError("hi must be > lo")
    if (hi - lo) * bins >= 2**63:
        raise ValueError("(hi-lo)*bins overflows int64")
    x = F.col(col).cast("long")
    b = F.expr(f"CAST(({col} - {lo}) * {bins} DIV {hi - lo} AS LONG)")
    bin_ = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1))
    return (df.filter(x.isNotNull())
            .select(bin_.alias("bin"))
            .groupBy("bin").agg(F.count(F.lit(1)).alias("cnt")))


def hist_merge(*register_dfs: DataFrame) -> DataFrame:
    """Merge histograms: per-bin count addition."""
    out, rest = register_dfs[0], register_dfs[1:]
    for r in rest:
        out = out.unionByName(r)
    return out.groupBy("bin").agg(F.sum("cnt").alias("cnt"))


def hist_quantiles(registers: DataFrame, qs_permille: list[int],
                   lo: int, hi: int, bins: int = 1000) -> DataFrame:
    """Quantile estimates from a histogram: for each q (in permille),
    the LOWER EDGE of the first bin whose cumulative count reaches
    ``ceil(q·N/1000)``.  Integer-exact end to end.

    The running-sum window is over the register table — ≤ ``bins``
    rows, bounded by construction (the _GLOBAL_WINDOW_OK contract),
    never the data."""
    from pyspark.sql import Window

    w_cum = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.currentRow)
    w_all = Window.orderBy("bin").rowsBetween(
        Window.unboundedPreceding, Window.unboundedFollowing)
    c = registers.withColumn("cum", F.sum("cnt").over(w_cum)) \
                 .withColumn("n", F.sum("cnt").over(w_all))
    # one aggregate row with a min-bin per q, then unpivoted — no
    # non-equi join, no BNLJ
    aggs = [
        F.min(F.when(
            F.col("cum") >= F.expr(f"CAST(({q} * n + 999) DIV 1000 AS LONG)"),
            F.col("bin"))).alias(f"__q{q}")
        for q in qs_permille]
    one = c.agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(q).cast("long").alias("q_permille"),
                 (F.lit(lo) + F.expr(
                     f"CAST(__q{q} * {hi - lo} DIV {bins} AS LONG)"))
                 .cast("long").alias("est_value"))
        for q in qs_permille])
    return (one.select(F.explode(pairs).alias("r"))
            .select("r.q_permille", "r.est_value"))


# ---------------------------------------------------------------------------
# KMV (k minimum values) — distinct counts AND set overlap estimation.
# ---------------------------------------------------------------------------

KMV_K = 256
# 48-bit hash space (12 md5 hex chars): (k−1)·2^48 stays far inside
# int64 for any k ≤ 2^15, which the 56-bit space would not.
KMV_BITS = 48


def _h48(c: Column) -> Column:
    return F.conv(F.substring(F.md5(c.cast("string")), 1, 12), 16, 10) \
            .cast("long")


def kmv_sketch(df: DataFrame, col: str, k: int = KMV_K) -> DataFrame:
    """The ``k`` smallest 48-bit hashes of the DISTINCT values of
    ``col`` — one ``(h)`` row each.  Plans as hash-distinct +
    TakeOrdered (per-partition heaps of k, no global sort).  Unlike
    HLL, a KMV sketch supports INTERSECTION estimation: the k smallest
    of a union, intersected with both input sketches, is an unbiased
    Jaccard sample (``kmv_jaccard``) — membership against a sketch is
    exact for union-minima, since any union-minimum belonging to A is
    necessarily among A's own k minima."""
    return (df.filter(F.col(col).isNotNull())
            .select(_h48(F.col(col)).alias("h")).distinct()
            .orderBy("h").limit(k))


def kmv_merge(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Sketch of the union from two sketches: the k smallest of their
    combined (distinct) hashes — no raw data needed."""
    return a.unionByName(b).distinct().orderBy("h").limit(k)


def kmv_est_distinct(sketch_df: DataFrame, k: int = KMV_K) -> DataFrame:
    """Single-row ``(n_sketch, est_distinct)``: exact when the set had
    fewer than k distinct values (the sketch IS the set), else the
    classic ``(k−1)·2^48 // h_k`` — all BIGINT."""
    space = 1 << KMV_BITS
    return (sketch_df.agg(
        F.count("*").cast("long").alias("n_sketch"),
        F.max("h").alias("__hk"))
        .select("n_sketch",
                F.when(F.col("n_sketch") < k, F.col("n_sketch"))
                 .otherwise(F.expr(
                     f"CAST({(k - 1) * space} DIV __hk AS LONG)"))
                 .cast("long").alias("est_distinct")))


def kmv_jaccard(a: DataFrame, b: DataFrame, k: int = KMV_K) -> DataFrame:
    """Single-row Jaccard estimate between the sets behind two
    sketches: ``(m, n_both, jaccard_permille)`` where ``m`` is the
    union-sketch size and ``n_both`` counts union-minima present in
    BOTH sketches.  Integer-exact, replayable in SQL."""
    m = kmv_merge(a, b, k)
    both = (m.join(a.select(F.col("h").alias("__ha")),
                   F.col("h") == F.col("__ha"), "left_semi")
            .join(b.select(F.col("h").alias("__hb")),
                  F.col("h") == F.col("__hb"), "left_semi"))
    return (m.agg(F.count("*").cast("long").alias("m"))
            .join(both.agg(F.count("*").cast("long").alias("n_both")))
            .select("m", "n_both",
                    F.expr("CAST(1000 * n_both DIV m AS LONG)")
                    .alias("jaccard_permille")))


def py_hist_bin(x: int, lo: int, hi: int, bins: int) -> int:
    """Bin of one integer value — mirrors ``hist_registers``."""
    b = (x - lo) * bins // (hi - lo)
    return min(max(b, 0), bins - 1)


def py_hist_quantiles(counts: dict[int, int], qs_permille: list[int],
                      lo: int, hi: int, bins: int) -> dict[int, int]:
    """{q → estimate} from {bin → cnt} — mirrors ``hist_quantiles``
    (first-covering-bin lower edge, integer arithmetic)."""
    n = sum(counts.values())
    out = {}
    for q in qs_permille:
        thr = (q * n + 999) // 1000
        cum, best = 0, None
        for b in sorted(counts):
            cum += counts[b]
            if cum >= thr:
                best = b
                break
        out[q] = None if best is None else lo + best * (hi - lo) // bins
    return out


def _round_budget(spark) -> int:
    """``_ROUND_BUDGET``, lowered so one round's histogram fits in
    ``spark.driver.maxResultSize`` (0 there means no limit)."""
    limit = spark.sparkContext._jsc.sc().conf().getSizeAsBytes(
        "spark.driver.maxResultSize", "1g")
    return min(_ROUND_BUDGET, limit // _ROW_BYTES) if limit else _ROUND_BUDGET


def _long(c: Column | str) -> Column:
    return (F.col(c) if isinstance(c, str) else c).cast("long")


def _select(vals: DataFrame, stats: dict, qs_permille: list[int]) -> dict:
    """The exact-selection loop shared by every order-statistics
    kernel.  ``vals`` is a (``__g``, ``__v``[, ``__w``]) frame,
    persisted by the caller or a row-local derivation of one;
    ``stats[g] = (mass, lo, hi)`` covers group ``g``'s values, where
    mass is the row count, or the weight sum when ``__w`` is present.
    Returns ``{(g, q): value}``: the least ``v`` whose cumulative mass
    in ``g`` reaches ``ceil(q·mass/1000)``.

    Each round histograms ``(__g, shiftright(__v, k))`` into (mass,
    min, max) per bucket and walks every pending target's cumulative
    mass to the bucket holding its rank; a bucket whose min equals
    its max is the answer.  Power-of-two buckets nest, so each child
    bucket lies inside one parent bucket of the last round, and
    shifting never overflows.  The first round reads the whole frame;
    a later one semi-joins the pending (group, parent bucket) pairs.
    The driver picks k as the least one whose histogram fits each
    pending group's share of ``_round_budget``, counting at most
    ``(hi >> k) - (lo >> k) + 1`` rows per parent and no more than
    its mass (a row carries at least one unit), but always below the
    last round's k.  So the pending width at least halves every
    round, and a k = 0 round leaves one value per bucket.  The result
    is exact at any k; the budget only moves the round count."""
    spark = vals.sparkSession
    budget = _round_budget(spark)
    mass = (F.sum("__w") if "__w" in vals.columns
            else F.count(F.lit(1))).alias("m")
    gtype = dict(vals.dtypes)["__g"]
    # pend[(g, q)] = (rank left inside the parent, parent bucket at
    # shift s); parent None is the whole group.  under[(g, p)] is the
    # (mass, lo, hi) inside parent p.
    pend = {(g, q): (max((q * m + 999) // 1000, 1), None)
            for g, (m, _, _) in stats.items() for q in qs_permille}
    under = {(g, None): st for g, st in stats.items()}
    done: dict[tuple, int] = {}
    s = 64
    while pend:
        parents = {(g, p) for (g, _), (_, p) in pend.items()}
        share = max(budget // len({g for g, _ in parents}), 2)

        def rows(k: int) -> int:
            per: dict = {}
            for g, p in parents:
                m, lo, hi = under[g, p]
                per[g] = per.get(g, 0) + min(m, (hi >> k) - (lo >> k) + 1)
            return max(per.values())

        low, k = 0, s - 1
        while low < k:
            mid = (low + k) // 2
            if rows(mid) <= share:
                k = mid
            else:
                low = mid + 1
        scan = vals
        if s < 64:
            keys = spark.createDataFrame(list(parents),
                                         f"__pg {gtype}, __p long")
            scan = vals.join(F.broadcast(keys),
                             (F.col("__g") == F.col("__pg"))
                             & (F.shiftright("__v", s) == F.col("__p")),
                             "left_semi")
        # toPandas, not collect(): Arrow keeps a budget-sized histogram
        # a cheap transfer, where Row materialization cost more than
        # the scans a wide round saves
        hist = (scan.groupBy("__g", F.shiftright("__v", k).alias("__b"))
                .agg(mass, F.min("__v").alias("lo"),
                     F.max("__v").alias("hi"))
                .toPandas())
        kids: dict[tuple, list] = {}
        for g, *bucket in zip(hist["__g"], hist["__b"], hist["m"],
                              hist["lo"], hist["hi"]):
            b, m, lo, hi = map(int, bucket)
            parent = b >> (s - k) if s < 64 else None
            kids.setdefault((g, parent), []).append((b, m, lo, hi))
        for v in kids.values():
            v.sort()
        nxt, under = {}, {}
        for (g, q), (r, p) in pend.items():
            for b, m, lo, hi in kids.get((g, p), ()):
                if r <= m:
                    break
                r -= m
            else:
                raise RuntimeError(
                    "selection input changed between rounds; persist "
                    "it or derive it row-locally from a persisted frame")
            if lo == hi:
                done[g, q] = lo
            else:
                nxt[g, q], under[g, b] = (r, b), (m, lo, hi)
        pend, s = nxt, k
    return done


@contextmanager
def _selection(df: DataFrame, group_col: str | None, col: Column | str,
               qs_permille: list[int], weight_col: Column | str | None = None,
               max_groups: int = 1):
    """Shared prologue of the selection kernels.  Checks the
    permilles, persists the (``__g``, ``__v``[, ``__w``]) frame (``__g``
    is a constant when ``group_col`` is None; null groups, null values
    and non-positive weights carry no mass and are dropped), collects
    ``stats[g] = (mass, lo, hi)`` and raises past ``max_groups``
    groups, since a round's driver state grows with the group count.
    Yields ``(vals, stats)`` and unpersists on exit."""
    bad_q = [q for q in qs_permille if not 0 < q <= 1000]
    if bad_q:
        raise ValueError(f"q_permille out of (0, 1000]: {bad_q}")
    cols = [(F.col(group_col) if group_col else F.lit(0)).alias("__g"),
            _long(col).alias("__v")]
    keep = F.col("__g").isNotNull() & F.col("__v").isNotNull()
    mass = F.count(F.lit(1))
    if weight_col is not None:
        cols.append(_long(weight_col).alias("__w"))
        keep &= F.col("__w") > 0
        mass = F.sum("__w")
    vals = df.select(*cols).filter(keep).persist()
    try:
        rows = (vals.groupBy("__g")
                .agg(mass.alias("m"), F.min("__v").alias("lo"),
                     F.max("__v").alias("hi"))
                .limit(max_groups + 1).collect())
        if len(rows) > max_groups:
            raise ValueError(
                f"more than max_groups={max_groups} groups: per-round "
                "driver state grows with the group count; aggregate to "
                "coarser segments or raise the cap consciously")
        yield vals, {r["__g"]: (r["m"], r["lo"], r["hi"]) for r in rows}
    finally:
        vals.unpersist()


def _quantiles(df: DataFrame, group_col: str | None, col: Column | str,
               qs_permille: list[int], weight_col: Column | str | None = None,
               max_groups: int = 1) -> DataFrame:
    with _selection(df, group_col, col, qs_permille, weight_col,
                    max_groups) as (vals, stats):
        done = _select(vals, stats, qs_permille)
        gtype = dict(vals.dtypes)["__g"]
    spark = df.sparkSession
    if group_col is None:
        return spark.createDataFrame(
            [(q, done[0, q]) for q in qs_permille] if done else [],
            "q_permille int, value long")
    return spark.createDataFrame(
        [(g, q, v) for (g, q), v in done.items()],
        f"{group_col} {gtype}, q_permille int, value long")


def exact_quantiles(df: DataFrame, col: Column | str,
                    qs_permille: list[int]) -> DataFrame:
    """EXACT quantiles of an integer column at any scale — no sort, no
    data collect, no approximation.  Where ``hist_quantiles`` returns
    a fixed-grid estimate, this returns the true order statistic: the
    q-permille value is the element of exact rank ``ceil(q·n/1000)``
    (1-based, ties included — ``min v : count(≤ v) ≥ k``), identical
    to ``ORDER BY v OFFSET k-1 LIMIT 1``.

    Algorithm: iterative histogram narrowing (the classic
    distributed-selection recursion, ``_select``).  Each round is one
    scan of the persisted column into a power-of-two-bucket histogram
    of at most the driver budget's rows; the walk over cumulative
    counts finds the bucket holding each target rank and recurses
    into it.  A column whose row count or value span fits the budget
    (4M rows, less under a small ``spark.driver.maxResultSize``)
    finishes in one round; a wider one narrows by the budget's factor
    per round.  All requested quantiles share each round's scan.

    Returns ``(q_permille, value)``.  Nulls are excluded.  The
    column must be integral (cast upstream — for doubles use the
    repo's ``floor(value·1000)`` milli convention); any long range
    works.

    Reference analogue: none (SURVEY.md §2 — the reference has no
    order statistics at all); beyond-parity analytics.
    """
    return _quantiles(df, None, col, qs_permille)


def exact_quantiles_grouped(df: DataFrame, group_col: str,
                            col: Column | str, qs_permille: list[int],
                            max_groups: int = 100_000) -> DataFrame:
    """Per-group EXACT quantiles — :func:`exact_quantiles` generalized
    to one true order statistic per (group, q): the per-segment p50 /
    p99 report (latency by event type, doc length by language) with
    no sort and no data-sized collect.

    Same narrowing, run for all groups at once: every round is one
    scan histogramming (group, bucket) with map-side combine, and the
    driver budget is split across the groups still pending.  Groups
    converge independently; later rounds scan only the pending
    (group, bucket) cells through a broadcast semi-join.  Driver state
    grows with the group count, so ``max_groups`` guards the driver
    the way MAX_PROBES guards cosine_topk_blas: beyond it, raise, don't
    OOM.  Null group keys and null values are excluded.

    Returns ``(group_col, q_permille, value)``.
    """
    return _quantiles(df, group_col, col, qs_permille,
                      max_groups=max_groups)


def grouped_median_mad(df: DataFrame, group_col: str,
                       col: Column | str,
                       max_groups: int = 100_000) -> DataFrame:
    """Per-group (median, MAD) in ONE kernel invocation — the fused
    form ``mad_outliers`` needs.  Two separate
    :func:`exact_quantiles_grouped` calls paid the second pass's
    persist + stats scan of the RAW data; here the deviation pass is
    a row-local derivation of the already-cached (group, value) frame
    (one broadcast join against the ≤ groups-row median table), its
    row count per group is pass 1's ``n`` verbatim (|v − med| is
    non-null exactly where v is), and its range is covered by
    ``[0, max(hi − med, med − lo)]`` from pass 1's stats — so the
    second stats job disappears entirely.  Both selections are the
    same exact rank-``⌈n/2⌉`` cover as ``exact_quantiles_grouped([500])``.
    A group whose values span more than 2^62 is rejected: ``|v − med|``
    could overflow a long.

    Returns ``(group_col, med, mad)``.  Null group keys and null
    values are excluded, as in the grouped kernel.  NOTE the
    truncation order (documented contract, unchanged from the
    two-call form's spec): the value column is cast to long UP FRONT,
    so for non-integral inputs deviations are |trunc(v) − med|, not
    trunc(|v − med|) — pass an already-integral column (the repo's
    cents/milli convention) as every caller does.
    """
    spark = df.sparkSession
    with _selection(df, group_col, col, [500],
                    max_groups=max_groups) as (vals, stats):
        for g, (_, lo, hi) in stats.items():
            if hi - lo > (1 << 62):
                raise ValueError(
                    f"group {g!r} value range spans more than 2^62 "
                    "(|v - median| would overflow)")
        gtype = dict(vals.dtypes)["__g"]
        med = {g: v for (g, _), v in _select(vals, stats, [500]).items()}
        # deviation pass rides the SAME cache: row-local |v − med|
        # over a broadcast of the ≤ groups-row median table
        med_df = spark.createDataFrame(list(med.items()),
                                       f"__g {gtype}, __med long")
        dev = (vals.join(F.broadcast(med_df), "__g")
               .select("__g",
                       F.abs(F.col("__v") - F.col("__med")).alias("__v")))
        mad = _select(dev, {g: (m, 0, max(hi - med[g], med[g] - lo))
                            for g, (m, lo, hi) in stats.items()}, [500])
    return spark.createDataFrame(
        [(g, v, mad[g, 500]) for g, v in med.items()],
        f"{group_col} {gtype}, med long, mad long")


def bucketize_by_quantiles(df: DataFrame, col: Column | str,
                           n_buckets: int = 10,
                           out_col: str = "bucket") -> DataFrame:
    """Exact equi-depth bucketing: every non-null row gets the
    0-based quantile bucket its value falls in — the stratification
    primitive (balance a sample across value strata, bin scores for
    DSIR-style mixing, build equi-depth histograms for range-join
    width selection).  Buckets are TRUE quantile cells, not a fixed
    grid: cut c_i is the exact rank-⌈i·n/n_buckets⌉ element
    (``exact_quantiles``' cover), and a row's bucket is simply the
    number of cuts strictly below its value — ties share one bucket
    by construction, so heavy repeated values never straddle.

    Scale ledger: the cuts come from the histogram-narrowing
    selection (register-sized exchanges, ≤ n_buckets−1 collected
    values); assignment is a row-local codegen expression over the
    broadcast cut literals — the data itself is scanned once and
    never shuffled.  Null values get a null bucket.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    c = _long(col)
    qs = [i * 1000 // n_buckets for i in range(1, n_buckets)]
    cuts = [int(r["value"]) for r in
            exact_quantiles(df, c, sorted(set(qs))).collect()]
    # empty / all-null input yields no cuts: every (nonexistent or
    # future) non-null value belongs to bucket 0
    bucket = F.lit(0)
    for cut in cuts:
        bucket = bucket + (c > F.lit(cut)).cast("int")
    return df.withColumn(
        out_col, F.when(c.isNotNull(), bucket.cast("long")))


def bucketize_by_quantiles_grouped(df: DataFrame, group_col: str,
                                   col: Column | str,
                                   n_buckets: int = 10,
                                   out_col: str = "bucket",
                                   max_groups: int = 10_000) -> DataFrame:
    """Per-GROUP exact equi-depth bucketing: every non-null row gets
    the quantile cell of its value WITHIN its segment — stratify each
    language/source/event-type by its own distribution, not the
    global one (a 90th-percentile Chinese document is short by the
    English corpus's yardstick; per-group cells fix that).

    Same machinery as ``bucketize_by_quantiles``, grouped: the cut
    table comes from one ``exact_quantiles_grouped`` run (all groups
    and cut ranks share each round's histogram; driver state bounded
    by ``max_groups``), lands as a ``(group, cuts array)`` broadcast
    frame, and assignment counts cuts strictly below the value
    row-locally.  Rows whose group never produced cuts (null group,
    all-null values) get a null bucket.  One data-side hash join
    against the group-cardinality cut frame — the data is never
    shuffled on value.
    """
    if n_buckets < 2:
        raise ValueError("n_buckets must be >= 2")
    c = _long(col)
    qs = sorted(set(i * 1000 // n_buckets for i in range(1, n_buckets)))
    qres = exact_quantiles_grouped(df, group_col, c, qs,
                                   max_groups=max_groups)
    per_group: dict = {}
    for r in qres.collect():  # ≤ max_groups·(n_buckets−1), guarded
        per_group.setdefault(r[group_col], {})[r["q_permille"]] = \
            int(r["value"])
    spark = df.sparkSession
    gtype = dict(df.dtypes)[group_col]
    cuts = spark.createDataFrame(
        [(g, [m[q] for q in qs]) for g, m in per_group.items()],
        f"__g {gtype}, __cuts array<long>")
    j = df.join(F.broadcast(cuts),
                F.col(group_col).eqNullSafe(F.col("__g")), "left")
    bucket = F.size(F.filter("__cuts", lambda x: x < c))
    return (j.withColumn(
        out_col,
        F.when(c.isNotNull() & F.col("__cuts").isNotNull(),
               bucket.cast("long")))
        .drop("__g", "__cuts"))


def kmv_group_jaccard(df: DataFrame, group_col: str, text_col: str,
                      k: int = KMV_K, shingle_n: int = 3,
                      salt_parts: int = 32) -> DataFrame:
    """Pairwise corpus-slice similarity matrix — one KMV sketch of the
    word-``shingle_n``-gram set of EVERY slice (language, source
    domain, crawl snapshot, …), then the Jaccard estimate between ALL
    slice pairs from the sketches alone.  The dataset-mixing
    diagnostic: "how much does source A overlap source B" answered
    without ever joining the two corpora (``kmv_jaccard`` gives one
    pair from two pre-built sketches; this gives the whole matrix from
    one table in one pass).

    KMV estimator (Beyer et al. 2007, SIGMOD): for slices A, B with
    k-min sketches S_A, S_B, the k smallest of ``S_A ∪ S_B`` form a
    uniform sample U of ``A ∪ B``; membership in both sketches is
    exact for union-minima, so ``|{x ∈ U : x ∈ S_A ∧ x ∈ S_B}| / |U|``
    is an unbiased Jaccard estimate.  Integer-exact output
    (``jaccard_permille`` truncates), deterministic via the 48-bit
    md5-prefix hash — the DuckDB oracle replays it bit-for-bit.

    Returns one row per unordered slice pair (group_a < group_b):
    ``(group_a, group_b, n_a, n_b, union_k, n_both,
    jaccard_permille)``.  NULL slice keys are skipped (the groupByKey
    null-skip semantic).

    Scale shape: distinct (slice, hash) is the only corpus-scale
    exchange; the per-slice k minima ride the salted two-phase
    ``topk_per_group`` (no task sorts more than ~1/salt_parts of a
    slice's shingle set); the pair join is a broadcast nested-loop
    over ≤ |slices| sketch rows — bounded by construction (the
    ``_BNLJ_OK`` pattern), with all set arithmetic row-local on ≤ k
    arrays.  Nothing corpus-sized crosses the pair join.

    Reference analogue: none (SURVEY.md §2 — the reference has no
    sketch surface); beyond-parity curation machinery beside
    ``kmv_sketch`` / ``kmv_jaccard``.
    """
    from kafkadirect_spark.functions.curation import topk_per_group
    from kafkadirect_spark.functions.dedup import _widen
    from kafkadirect_spark.functions.text import shingles, tokens

    if k < 1:
        raise ValueError("k must be >= 1")
    gh = (_widen(df.select(F.col(group_col), F.col(text_col))
                 .filter(F.col(group_col).isNotNull()))
          .select(F.col(group_col).alias("g"),
                  F.explode(shingles(tokens(text_col), shingle_n))
                  .alias("__s"))
          .select("g", _h48(F.col("__s")).alias("h"))
          .distinct())
    mink = topk_per_group(gh, "g", "h", k, ascending=True,
                          salt_parts=salt_parts).drop("rank")
    sk = mink.groupBy("g").agg(F.array_sort(F.collect_list("h"))
                               .alias("sk"))
    a, b = sk.alias("a"), sk.alias("b")
    pairs = a.join(F.broadcast(b), F.col("a.g") < F.col("b.g"))
    u = F.slice(F.array_sort(F.array_union(F.col("a.sk"),
                                           F.col("b.sk"))), 1, k)
    both = F.size(F.filter(
        u, lambda x: F.array_contains(F.col("a.sk"), x)
        & F.array_contains(F.col("b.sk"), x)))
    return (pairs.select(
        F.col("a.g").alias("group_a"), F.col("b.g").alias("group_b"),
        F.size("a.sk").cast("long").alias("n_a"),
        F.size("b.sk").cast("long").alias("n_b"),
        F.size(u).cast("long").alias("union_k"),
        both.cast("long").alias("n_both"))
        .withColumn("jaccard_permille",
                    F.expr("CAST(1000 * n_both DIV "
                           "greatest(union_k, 1) AS LONG)")))


def kmv_group_jaccard_oracle_sql(group_col: str = "lang",
                                 k: int = KMV_K, shingle_n: int = 3,
                                 table: str = "documents",
                                 text_col: str = "text") -> str:
    """DuckDB replay of ``kmv_group_jaccard``: same tokenize /
    shingle / 48-bit-hash pipeline, per-slice k minima via one ranked
    window, union-minima membership via a relational regroup — the
    estimator's every integer replayed exactly."""
    tok = (f"list_filter(regexp_split_to_array(lower({text_col}), "
           "'[^a-z0-9]+'), x -> x <> '')")
    n = shingle_n
    gram = " || ' ' || ".join(f"w[i+{j}]" for j in range(n))
    h48 = f"('0x' || substr(md5({gram}), 1, 12))::BIGINT"
    return f"""
    WITH tok AS (SELECT {group_col} AS g, {tok} AS w FROM {table}
                 WHERE {group_col} IS NOT NULL),
    gh AS (
      SELECT DISTINCT g, {h48} AS h
      FROM (SELECT g, w,
                   unnest(generate_series(1, len(w) - {n - 1})) AS i
            FROM tok WHERE len(w) >= {n})),
    mk AS (
      SELECT g, h FROM (
        SELECT g, h, row_number() OVER (PARTITION BY g ORDER BY h)
          AS r FROM gh)
      WHERE r <= {k}),
    sz AS (SELECT g, count(*)::BIGINT AS n FROM mk GROUP BY g),
    pr AS (SELECT a.g AS ga, b.g AS gb
           FROM sz a JOIN sz b ON a.g < b.g),
    pm AS (
      SELECT pr.ga, pr.gb, mk.h, count(*) AS cnt
      FROM pr JOIN mk ON mk.g = pr.ga OR mk.g = pr.gb
      GROUP BY pr.ga, pr.gb, mk.h),
    rk AS (
      SELECT ga, gb, h, cnt,
             row_number() OVER (PARTITION BY ga, gb ORDER BY h) AS r
      FROM pm),
    agg AS (
      SELECT ga, gb, count(*)::BIGINT AS union_k,
             sum(CASE WHEN cnt = 2 THEN 1 ELSE 0 END)::BIGINT
               AS n_both
      FROM rk WHERE r <= {k} GROUP BY ga, gb)
    SELECT agg.ga AS group_a, agg.gb AS group_b,
           sa.n AS n_a, sb.n AS n_b, agg.union_k, agg.n_both,
           (1000 * agg.n_both // greatest(agg.union_k, 1))::BIGINT
             AS jaccard_permille
    FROM agg JOIN sz sa ON sa.g = agg.ga JOIN sz sb ON sb.g = agg.gb
    """


def weighted_quantiles(df: DataFrame, col: Column | str,
                       weight_col: Column | str,
                       qs_permille: list[int]) -> DataFrame:
    """EXACT weight-mass quantiles of an integer column — the
    ``exact_quantiles`` recursion with row counts replaced by integer
    weight mass: the q-permille value is
    ``min v : Σ weight(rows ≤ v) ≥ ceil(q·W/1000)`` (W = total
    weight), identical to walking ``ORDER BY v`` until the running
    weight reaches the target.  THE curation question
    ``exact_quantiles`` cannot ask: "the median TOKEN lives in a
    document of length X" is the token-weighted length quantile, not
    the document-count quantile (long docs hold most of the mass).

    Same scale ledger as the unweighted form: one column scan per
    round, budget-bounded exchanges and collects, quantiles share
    each round's scan.  Weights must be integral; rows with NULL or
    non-positive weight carry no mass and are excluded (documented,
    not an error — a zero-token doc holds no tokens).  Returns
    ``(q_permille, value)``.

    Reference analogue: none (SURVEY.md §2); beyond-parity order
    statistics beside ``exact_quantiles``.
    """
    return _quantiles(df, None, col, qs_permille, weight_col)


def weighted_quantiles_oracle_sql(qs_permille: list[int],
                                  value_sql: str = "n_chars",
                                  weight_sql: str =
                                  ("len(list_filter(regexp_split_to_"
                                   "array(lower(text), '[^a-z0-9]+'), "
                                   "x -> x <> ''))"),
                                  table: str = "documents") -> str:
    """DuckDB replay of ``weighted_quantiles`` — the naive running-
    weight walk the distributed recursion must equal: cumulative
    weight over the value order, target rank ``(q·W + 999) // 1000``."""
    arms = " UNION ALL ".join(
        f"""SELECT {q} AS q_permille,
               (SELECT min(v) FROM c, tot
                WHERE cw >= (({q} * tot.w + 999) // 1000)) AS value
        """ for q in qs_permille)
    return f"""
    WITH base AS (
      SELECT ({value_sql})::BIGINT AS v, ({weight_sql})::BIGINT AS w
      FROM {table}
      WHERE ({value_sql}) IS NOT NULL AND ({weight_sql}) > 0),
    tot AS (SELECT sum(w)::HUGEINT AS w FROM base),
    c AS (
      SELECT v, sum(w) OVER (ORDER BY v) AS cw
      FROM (SELECT v, sum(w) AS w FROM base GROUP BY v))
    {arms}
    """


def weighted_quantiles_grouped(df: DataFrame, group_col: str,
                               col: Column | str,
                               weight_col: Column | str,
                               qs_permille: list[int],
                               max_groups: int = 100_000) -> DataFrame:
    """Per-group EXACT weight-mass quantiles — the fourth cell of the
    order-statistics matrix (global/grouped × row-count/weighted):
    the token-weighted per-language length report ("where does the
    median ENGLISH token live").  Same narrowing recursion as
    :func:`exact_quantiles_grouped` with row counts replaced by
    integer weight mass (:func:`weighted_quantiles` semantics per
    group), the same ``max_groups`` driver guard and the same
    independent per-group convergence.  Rows with NULL group/value or
    non-positive weight carry no mass.
    Returns ``(group_col, q_permille, value)``.
    """
    return _quantiles(df, group_col, col, qs_permille, weight_col,
                      max_groups)


def weighted_quantiles_grouped_oracle_sql(
        qs_permille: list[int], group_col: str = "lang",
        value_sql: str = "n_chars",
        weight_sql: str = ("len(list_filter(regexp_split_to_array("
                           "lower(text), '[^a-z0-9]+'), "
                           "x -> x <> ''))"),
        table: str = "documents") -> str:
    """DuckDB replay of ``weighted_quantiles_grouped`` — the per-group
    running-weight walk."""
    arms = " UNION ALL ".join(f"""
      SELECT c.g, {q} AS q_permille, min(c.v) AS value
      FROM c JOIN tot ON tot.g = c.g
      WHERE c.cw >= (({q} * tot.w + 999) // 1000)
      GROUP BY c.g""" for q in qs_permille)
    return f"""
    WITH base AS (
      SELECT {group_col} AS g, ({value_sql})::BIGINT AS v,
             ({weight_sql})::BIGINT AS w
      FROM {table}
      WHERE {group_col} IS NOT NULL AND ({value_sql}) IS NOT NULL
        AND ({weight_sql}) > 0),
    tot AS (SELECT g, sum(w)::HUGEINT AS w FROM base GROUP BY g),
    c AS (
      SELECT g, v, sum(w) OVER (PARTITION BY g ORDER BY v) AS cw
      FROM (SELECT g, v, sum(w) AS w FROM base GROUP BY g, v)),
    arms AS ({arms})
    SELECT g AS {group_col}, q_permille, value FROM arms
    """
