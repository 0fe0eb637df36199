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

import os

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

P_DEFAULT = 10
W_FIELD = 32

# Per-round driver-transfer budget for the exact-selection kernels:
# the max (pending_groups × bins) histogram rows one narrowing round
# may collect.  r16 re-tune (guide §1.2 "measure again"): the r15
# 64Ki budget optimized transfer bytes, but each narrowing round is a
# FULL SCAN of the persisted value frame plus 2-3 driver-coordinated
# jobs — the serial term that dominates these suites (joblog: ~300 ms
# per round-scan at sf0.1 against a ~10 ms register transfer).  A
# same-session sweep (64Ki / 1M / 4M / 16M, best-of-5 per suite)
# measured 4M best: value_outliers_mad 3.16→1.93 s, value_decile
# 2.21→1.66 s, exact_quantiles_by_type 1.52→1.21 s; 16M is past the
# knee (bigger aggregate hash tables, no rounds left to remove).
# 4M rows ≈ 64 MB of Arrow — fixed driver state, independent of data
# size.  Env-overridable for small-driver deployments.
_ROUND_BUDGET = int(os.environ.get(
    "SPARK_GRAFT_SKETCH_ROUND_BUDGET", str(1 << 22)))


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


def hist_registers_grouped(df: DataFrame, group_cols: list[str], col: str,
                           lo: int, hi: int, bins: int = 1000) -> DataFrame:
    """Per-group equi-width histogram: ≤ ``groups × bins`` rows
    ``(*group_cols, bin, cnt)`` — the grouped sibling of
    ``hist_registers`` (same clamping, same overflow audit)."""
    if hi <= lo:
        raise ValueError("hi must be > lo")
    if (hi - lo) * bins >= 2**63:
        raise ValueError("(hi-lo)*bins overflows int64")
    x = F.col(col).cast("long")
    b = F.expr(f"CAST(({col} - {lo}) * {bins} DIV {hi - lo} AS LONG)")
    bin_ = F.least(F.greatest(b, F.lit(0)), F.lit(bins - 1))
    return (df.filter(x.isNotNull())
            .select(*group_cols, bin_.alias("bin"))
            .groupBy(*group_cols, "bin")
            .agg(F.count(F.lit(1)).alias("cnt")))


def hist_quantiles_grouped(registers: DataFrame, group_cols: list[str],
                           qs_permille: list[int], lo: int, hi: int,
                           bins: int = 1000) -> DataFrame:
    """Per-group quantile estimates from grouped registers.  The
    windows PARTITION on the group — each frame is ≤ ``bins`` register
    rows, so no unpartitioned-window exemption is needed; group
    cardinality carries the parallelism."""
    from pyspark.sql import Window

    w_cum = (Window.partitionBy(*group_cols).orderBy("bin")
             .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    w_all = (Window.partitionBy(*group_cols).orderBy("bin")
             .rowsBetween(Window.unboundedPreceding,
                          Window.unboundedFollowing))
    c = registers.withColumn("cum", F.sum("cnt").over(w_cum)) \
                 .withColumn("n", F.sum("cnt").over(w_all))
    aggs = [
        F.min(F.when(
            F.col("cum") >= F.expr(f"CAST(({q} * n + 999) DIV 1000 AS LONG)"),
            F.col("bin"))).alias(f"__q{q}")
        for q in qs_permille]
    one = c.groupBy(*group_cols).agg(*aggs)
    pairs = F.array(*[
        F.struct(F.lit(q).cast("long").alias("q_permille"),
                 (F.lit(lo) + F.expr(
                     f"CAST(__q{q} * {hi - lo} DIV {bins} AS LONG)"))
                 .cast("long").alias("est_value"))
        for q in qs_permille])
    return (one.select(*group_cols, F.explode(pairs).alias("r"))
            .select(*group_cols, "r.q_permille", "r.est_value"))


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


def _histogram_bins(span: int, bins: int, n_groups: int = 1) -> int:
    """Adaptive histogram resolution for the exact-selection kernels
    (r15, re-tuned r16): the MINIMAL bin count that achieves the
    MINIMAL round count within the per-round driver-transfer budget
    ``_ROUND_BUDGET`` (see its comment for the r16 sweep that set it —
    every round REMOVED is a full scan of the persisted value frame
    plus 2-3 sequential driver jobs saved, which dwarfs the register
    transfer it widens).  Rounds = ceil(log_bins(span)), so widening
    bins only pays when it removes a round.  The budget caps a
    round's collected rows at pending_groups × bins, never below the
    caller's ``bins`` so a many-group call keeps its requested
    resolution.  Results are identical at any resolution — selection
    is exact by construction; only the scan count moves."""
    cap = max(bins, _ROUND_BUDGET // max(n_groups, 1))
    span = max(span, 1)
    r = 1
    while True:
        # minimal b with b**r >= span (integer nth-root ceiling;
        # float pow seeds it, integer checks pin it)
        b = max(int(round(span ** (1.0 / r))), 1)
        while b > 1 and (b - 1) ** r >= span:
            b -= 1
        while b ** r < span:
            b += 1
        if b <= cap:
            return max(b, 2)
        r += 1


def _global_select(vals: DataFrame, state: dict, bins: int,
                   max_rounds: int, weighted: bool = False) -> dict:
    """The shared GLOBAL histogram-narrowing loop (ungrouped twin of
    ``_grouped_select``): ``vals`` is a (``__v``[, ``__w``]) frame —
    persisted by the caller, or a row-local derivation of one —
    ``state[q] = [remaining rank (row count or weight mass), lo,
    hi]``.  Each round histograms every distinct pending range with
    one filtered scan (quantiles share a round's histogram until
    their ranges diverge) and narrows; EXACT selection by
    construction at any resolution.  Returns ``done[q] = value``;
    the caller raises on keys missing after ``max_rounds``."""
    mass = (F.sum("__w") if weighted else F.count(F.lit(1))).alias("m")
    done: dict[int, int] = {}
    for _ in range(max_rounds):
        pend = {q: s for q, s in state.items() if q not in done}
        if not pend:
            break
        ranges: dict[tuple[int, int], list[int]] = {}
        for q, (_, lo, hi) in pend.items():
            ranges.setdefault((lo, hi), []).append(q)
        for (lo, hi), group in ranges.items():
            width = hi - lo + 1
            w = max(1, -(-width // bins))  # ceil
            # toPandas, not collect(): the Arrow path makes a
            # span-wide histogram (up to _ROUND_BUDGET rows) a
            # cheap transfer, where Row materialization cost more
            # than the scans the wide histogram saves (measured —
            # guide §6 Arrow-for-driver)
            hpdf = (vals.filter(F.col("__v").between(lo, hi))
                    .groupBy(F.expr(f"(__v - {lo}) DIV {w}")
                             .alias("b"))
                    .agg(mass)
                    .toPandas())
            hist = dict(zip((int(x) for x in hpdf["b"]),
                            (int(x) for x in hpdf["m"])))
            cum_at = sorted(hist)
            for q in group:
                k = state[q][0]
                cum = 0
                for b in cum_at:
                    if cum + hist[b] >= k:
                        blo = lo + b * w
                        if w == 1:
                            done[q] = blo
                        else:
                            state[q] = [k - cum, blo,
                                        min(blo + w - 1, hi)]
                        break
                    cum += hist[b]
    return done


def _exact_quantiles_from(vals: DataFrame, n: int, glo: int, ghi: int,
                          qs_permille: list[int], bins: int = 1024,
                          max_rounds: int = 8,
                          label: str = "exact_quantiles") -> dict:
    """Narrowing selection over an ALREADY-AVAILABLE single-column
    (``__v``) frame with PRECOMPUTED stats — the fused entry for
    callers that already pay a stats aggregate over (a persisted
    superset of) the same frame, so the kernel's own persist + stats
    job would be pure recompute (guide §1.2 "don't compute things you
    throw away"; r16 — ``skew_report`` and ``embedding_profile`` fold
    the kernel stats into the scan they already run).  ``n`` is the
    non-null row count, ``[glo, ghi]`` a COVERING range (covering
    moves the round count, never the exact result).  Returns
    ``{q_permille: value}``; empty when ``n`` is falsy."""
    if not n:
        return {}
    if ghi - glo > (1 << 62):
        raise ValueError(
            f"value range [{glo}, {ghi}] spans more than 2^62; "
            "narrow the domain (in-plan bucket arithmetic "
            "would overflow)")
    bins = _histogram_bins(ghi - glo + 1, bins)
    state = {q: [max((q * n + 999) // 1000, 1), glo, ghi]
             for q in qs_permille}
    done = _global_select(vals, state, bins, max_rounds)
    missing = [q for q in qs_permille if q not in done]
    if missing:
        raise RuntimeError(
            f"{label} did not converge in {max_rounds} "
            f"rounds for q={missing} (range [{glo}, {ghi}], "
            f"bins={bins}) — raise max_rounds or bins")
    return {q: int(done[q]) for q in qs_permille}


def exact_quantiles(df: DataFrame, col: Column | str,
                    qs_permille: list[int], bins: int = 1024,
                    max_rounds: int = 8) -> DataFrame:
    """EXACT quantiles of an integer column at any scale — no sort, no
    data collect, no approximation.  Where ``hist_quantiles`` returns
    a fixed-grid estimate, this returns the true order statistic: the
    q-permille value is the element of exact rank ``ceil(q·n/1000)``
    (1-based, ties included — ``min v : count(≤ v) ≥ k``), identical
    to ``ORDER BY v OFFSET k-1 LIMIT 1``.

    Algorithm: iterative histogram narrowing (the classic
    distributed-selection recursion).  Each round histograms the
    current candidate range into ``bins`` buckets (one filtered
    column scan, register-sized exchange, ≤ ``bins`` rows collected),
    walks the cumulative counts to the bucket containing the target
    rank, and recurses into it.  The range shrinks ×``bins`` per
    round, so an s-bit integer domain needs ⌈s / log2 bins⌉ rounds
    (64-bit worst case: 7 with the default 1024); when the range
    itself fits in ``bins`` buckets the histogram is per-value and
    the walk reads off the exact answer.  Driver state is O(bins)
    per round — never data-sized.

    All requested quantiles share each round's histogram until their
    candidate ranges diverge (they start identical), so the common
    case (a few permilles over a moderate value domain) is 2–3 scans
    total, not 2–3 per quantile.

    Returns ``(q_permille, value)``.  Nulls are excluded.  The
    column must be integral (cast upstream — for doubles use the
    repo's ``floor(value·1000)`` milli convention); ranges within
    2^62 of Long extrema are rejected to keep in-plan ``v − lo``
    arithmetic overflow-free.

    Reference analogue: none (SURVEY.md §2 — the reference has no
    order statistics at all); beyond-parity analytics.
    """
    bad_q = [q for q in qs_permille if not 0 < q <= 1000]
    if bad_q:
        raise ValueError(f"q_permille out of (0, 1000]: {bad_q}")
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    vals = df.select(c.alias("__v")).filter(F.col("__v").isNotNull())
    vals = vals.persist()
    try:
        agg = vals.agg(F.count(F.lit(1)).alias("n"),
                       F.min("__v").alias("lo"),
                       F.max("__v").alias("hi")).collect()[0]
        n, glo, ghi = agg["n"], agg["lo"], agg["hi"]
        # Adaptive resolution + the shared loop (_global_select):
        # each round is a full scan of the persisted column — pick
        # the cheapest resolution that still hits the minimal round
        # count (docstring of _histogram_bins; a span-sized histogram
        # finishes in ONE round when the span fits the driver budget).
        done = _exact_quantiles_from(vals, n, glo, ghi, qs_permille,
                                     bins, max_rounds)
        rows = [(int(q), done[q]) for q in qs_permille] if done else []
        spark = df.sparkSession
        return spark.createDataFrame(rows, "q_permille int, value long")
    finally:
        vals.unpersist()


def _grouped_select(vals: DataFrame, state: dict, bins: int,
                    max_rounds: int, weighted: bool = False) -> dict:
    """The shared grouped histogram-narrowing loop: ``vals`` is the
    (``__g``, ``__v``[, ``__w``]) frame (persisted by the caller, or
    a cheap row-local derivation of one), ``state[(gkey, q)] =
    [remaining rank (row count, or weight mass when ``weighted``),
    lo, hi]`` the selection targets.  Each round broadcasts the
    per-group candidate ranges onto one scan of ``vals``, histograms
    (group, bucket) with map-side combine, and narrows every pending
    target — EXACT selection by construction at any resolution (a
    starting range only has to COVER the group's values; bins/ranges
    move the round count, never the result).  Returns
    ``done[(gkey, q)] = value``; raises if ``max_rounds`` is hit."""
    spark = vals.sparkSession
    mass = (F.sum("__w") if weighted else F.count(F.lit(1))).alias("m")
    done: dict[tuple, int] = {}
    for _ in range(max_rounds):
        pend = {key: s for key, s in state.items() if key not in done}
        if not pend:
            break
        # one (group, lo, bw) range table per distinct pending range
        # (bucket width named __bw: __w is the WEIGHT on the scan)
        ranges: dict[tuple, list] = {}
        for (gkey, q), (_, lo, hi) in pend.items():
            width = hi - lo + 1
            w = max(1, -(-width // bins))
            ranges.setdefault((gkey, lo, hi, w), []).append(q)
        rng_rows = [(gk, lo, hi, w) for (gk, lo, hi, w) in ranges]
        gtype = dict(vals.dtypes)["__g"]
        rng = spark.createDataFrame(
            rng_rows, f"__g {gtype}, __lo long, __hi long, __bw long")
        # toPandas, not collect(): Arrow keeps the wide-histogram
        # round's groups×bins rows a cheap transfer (see
        # exact_quantiles — Row materialization dominated)
        hist = (vals.join(F.broadcast(rng), "__g")
                .filter(F.col("__v").between(F.col("__lo"),
                                             F.col("__hi")))
                .groupBy("__g", "__lo", "__bw",
                         F.expr("(__v - __lo) DIV __bw").alias("b"))
                .agg(mass)
                .toPandas())
        by_range: dict[tuple, dict[int, int]] = {}
        for g, lo_, w_, b_, c_ in zip(
                hist["__g"], hist["__lo"], hist["__bw"],
                hist["b"], hist["m"]):
            by_range.setdefault((g, int(lo_), int(w_)),
                                {})[int(b_)] = int(c_)
        for (gkey, lo, hi, w), group_qs in ranges.items():
            h = by_range.get((gkey, lo, w), {})
            for q in group_qs:
                k = state[(gkey, q)][0]
                cum = 0
                for b in sorted(h):
                    if cum + h[b] >= k:
                        blo = lo + b * w
                        if w == 1:
                            done[(gkey, q)] = blo
                        else:
                            state[(gkey, q)] = [
                                k - cum, blo, min(blo + w - 1, hi)]
                        break
                    cum += h[b]
    missing = sorted(key for key in state if key not in done)
    if missing:
        raise RuntimeError(
            f"grouped selection did not converge in "
            f"{max_rounds} rounds for {missing[:5]} — raise "
            "max_rounds or bins")
    return done


def _grouped_stats(vals: DataFrame, max_groups: int,
                   weighted: bool = False) -> list:
    """Shared prologue of the grouped selection kernels (r16, ADVICE
    consolidation): the per-group (mass ``m``, lo, hi) stats collect
    over the (``__g``, ``__v``[, ``__w``]) frame, the ``max_groups``
    driver guard, and the 2^62 in-plan-arithmetic range check — one
    place, so the guard logic cannot drift between kernels.  ``m`` is
    the row count, or the weight sum when ``weighted``."""
    mass = (F.sum("__w") if weighted else F.count(F.lit(1))).alias("m")
    stats = (vals.groupBy("__g")
             .agg(mass, F.min("__v").alias("lo"),
                  F.max("__v").alias("hi"))
             .limit(max_groups + 1).collect())
    if len(stats) > max_groups:
        raise ValueError(
            f"more than max_groups={max_groups} groups: per-round "
            "driver state is O(groups·bins); aggregate to coarser "
            "segments or raise the cap consciously")
    for r in stats:
        if r["hi"] - r["lo"] > (1 << 62):
            raise ValueError(
                f"group {r['__g']!r} value range spans more than "
                "2^62 (in-plan bucket arithmetic would overflow)")
    return stats


def exact_quantiles_grouped(df: DataFrame, group_col: str,
                            col: Column | str, qs_permille: list[int],
                            bins: int = 1024,
                            max_rounds: int = 8,
                            max_groups: int = 100_000) -> DataFrame:
    """Per-group EXACT quantiles — :func:`exact_quantiles` generalized
    to one true order statistic per (group, q): the per-segment p50 /
    p99 report (latency by event type, doc length by language) with
    no sort and no data-sized collect.

    Same iterative histogram narrowing, run for all groups at once:
    each round broadcasts the per-group candidate range [lo, w] onto
    the scan, histograms (group, bucket) with map-side combine, and
    collects ≤ |pending groups|·bins register rows.  Groups converge
    independently (a group whose range reaches width 1 drops out of
    later rounds' broadcast table), so the round count is driven by
    the widest group's domain, ≤ ⌈64 / log2 bins⌉.  Driver state is
    O(groups·bins) per round — ``max_groups`` guards the driver the
    way MAX_PROBES guards the BLAS paths: beyond it, raise, don't
    OOM.  Null group keys and null values are excluded.

    Returns ``(group_col, q_permille, value)``.
    """
    bad_q = [q for q in qs_permille if not 0 < q <= 1000]
    if bad_q:
        raise ValueError(f"q_permille out of (0, 1000]: {bad_q}")
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    g = F.col(group_col)
    vals = df.select(g.alias("__g"), c.alias("__v")) \
        .filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    vals = vals.persist()
    try:
        stats = _grouped_stats(vals, max_groups)
        # Adaptive resolution (r15 — see _histogram_bins): the
        # minimal bin count hitting the minimal round count for the
        # WIDEST group (groups converge independently; the widest
        # drives the round count), with the per-round driver budget
        # divided across groups — many-group calls keep the caller's
        # resolution.  Result-identical at any resolution; only the
        # scan count moves.
        if stats:
            widest = max(r["hi"] - r["lo"] + 1 for r in stats)
            bins = _histogram_bins(widest, bins, len(stats))
        # state[(gkey, q)] = [remaining rank, lo, hi]
        state: dict[tuple, list[int]] = {}
        for r in stats:
            for q in qs_permille:
                state[(r["__g"], q)] = [
                    max((q * r["m"] + 999) // 1000, 1), r["lo"], r["hi"]]
        done = _grouped_select(vals, state, bins, max_rounds)
        gtype = dict(vals.dtypes)["__g"]
        spark = df.sparkSession
        rows = [(gkey, int(q), int(v)) for (gkey, q), v in done.items()]
        return spark.createDataFrame(
            rows, f"{group_col} {gtype}, q_permille int, value long")
    finally:
        vals.unpersist()


def grouped_median_mad(df: DataFrame, group_col: str,
                       col: Column | str,
                       bins: int = 1024,
                       max_rounds: int = 8,
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
    same exact rank-``⌈n/2⌉`` cover as ``exact_quantiles_grouped([500])``
    (a covering range changes the round count, never the result).

    Returns ``(group_col, med, mad)``.  Null group keys and null
    values are excluded, as in the grouped kernel.  NOTE the
    truncation order (documented contract, unchanged from the
    two-call form's spec): the value column is cast to long UP FRONT,
    so for non-integral inputs deviations are |trunc(v) − med|, not
    trunc(|v − med|) — pass an already-integral column (the repo's
    cents/milli convention) as every caller does.
    """
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    g = F.col(group_col)
    vals = df.select(g.alias("__g"), c.alias("__v")) \
        .filter(F.col("__v").isNotNull() & F.col("__g").isNotNull())
    vals = vals.persist()
    try:
        spark = df.sparkSession
        gtype = dict(vals.dtypes)["__g"]
        stats = _grouped_stats(vals, max_groups)
        if not stats:
            return spark.createDataFrame(
                [], f"{group_col} {gtype}, med long, mad long")
        rank = {r["__g"]: max((500 * r["m"] + 999) // 1000, 1)
                for r in stats}

        med_bins = _histogram_bins(
            max(r["hi"] - r["lo"] + 1 for r in stats), bins, len(stats))
        med = _grouped_select(
            vals,
            {(r["__g"], 500): [rank[r["__g"]], r["lo"], r["hi"]]
             for r in stats},
            med_bins, max_rounds)
        med = {gkey: v for (gkey, _), v in med.items()}

        # deviation pass rides the SAME cache: row-local |v − med|
        # over a broadcast of the ≤ groups-row median table
        med_df = spark.createDataFrame(
            [(gkey, int(v)) for gkey, v in med.items()],
            f"__g {gtype}, __med long")
        dev = (vals.join(F.broadcast(med_df), "__g")
               .select("__g",
                       F.abs(F.col("__v") - F.col("__med")).alias("__v")))
        bound = {r["__g"]: max(r["hi"] - med[r["__g"]],
                               med[r["__g"]] - r["lo"]) for r in stats}
        mad_bins = _histogram_bins(
            max(b + 1 for b in bound.values()), bins, len(stats))
        mad = _grouped_select(
            dev,
            {(gkey, 500): [rank[gkey], 0, b]
             for gkey, b in bound.items()},
            mad_bins, max_rounds)
        rows = [(gkey, int(v), int(mad[(gkey, 500)]))
                for gkey, v in med.items()]
        return spark.createDataFrame(
            rows, f"{group_col} {gtype}, med long, mad long")
    finally:
        vals.unpersist()


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
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
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
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
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
                       qs_permille: list[int], bins: int = 1024,
                       max_rounds: int = 8) -> DataFrame:
    """EXACT weight-mass quantiles of an integer column — the
    ``exact_quantiles`` recursion with row counts replaced by integer
    weight mass: the q-permille value is
    ``min v : Σ weight(rows ≤ v) ≥ ceil(q·W/1000)`` (W = total
    weight), identical to walking ``ORDER BY v`` until the running
    weight reaches the target.  THE curation question
    ``exact_quantiles`` cannot ask: "the median TOKEN lives in a
    document of length X" is the token-weighted length quantile, not
    the document-count quantile (long docs hold most of the mass).

    Same scale ledger as the unweighted form: one filtered column
    scan per round, register-sized (≤ bins rows) exchanges and
    collects, ranges shrink ×bins per round, quantiles share each
    round's histogram until their ranges diverge.  Weights must be
    integral; rows with NULL or non-positive weight carry no mass
    and are excluded (documented, not an error — a zero-token doc
    holds no tokens).  Returns ``(q_permille, value)``.

    Reference analogue: none (SURVEY.md §2); beyond-parity order
    statistics beside ``exact_quantiles``.
    """
    bad_q = [q for q in qs_permille if not 0 < q <= 1000]
    if bad_q:
        raise ValueError(f"q_permille out of (0, 1000]: {bad_q}")
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    wc = (F.col(weight_col) if isinstance(weight_col, str)
          else weight_col).cast("long")
    vals = (df.select(c.alias("__v"), wc.alias("__w"))
            .filter(F.col("__v").isNotNull() & (F.col("__w") > 0)))
    vals = vals.persist()
    try:
        agg = vals.agg(F.sum("__w").alias("tw"),
                       F.min("__v").alias("lo"),
                       F.max("__v").alias("hi")).collect()[0]
        tw, glo, ghi = agg["tw"], agg["lo"], agg["hi"]
        rows = []
        if tw:
            if ghi - glo > (1 << 62):
                raise ValueError(
                    f"value range [{glo}, {ghi}] spans more than 2^62; "
                    "narrow the domain (in-plan bucket arithmetic "
                    "would overflow)")
            # adaptive resolution (r15 — see _histogram_bins) + the
            # shared narrowing loop with weight mass as the rank unit
            bins = _histogram_bins(ghi - glo + 1, bins)
            state = {q: [max((q * tw + 999) // 1000, 1), glo, ghi]
                     for q in qs_permille}
            done = _global_select(vals, state, bins, max_rounds,
                                  weighted=True)
            missing = [q for q in qs_permille if q not in done]
            if missing:
                raise RuntimeError(
                    f"weighted_quantiles did not converge in "
                    f"{max_rounds} rounds for q={missing} (range "
                    f"[{glo}, {ghi}], bins={bins}) — raise max_rounds "
                    "or bins")
            rows = [(int(q), int(done[q])) for q in qs_permille]
        spark = df.sparkSession
        return spark.createDataFrame(rows, "q_permille int, value long")
    finally:
        vals.unpersist()


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
                               bins: int = 1024, max_rounds: int = 8,
                               max_groups: int = 100_000) -> DataFrame:
    """Per-group EXACT weight-mass quantiles — the fourth cell of the
    order-statistics matrix (global/grouped × row-count/weighted):
    the token-weighted per-language length report ("where does the
    median ENGLISH token live").  Same narrowing recursion as
    :func:`exact_quantiles_grouped` with row counts replaced by
    integer weight mass (:func:`weighted_quantiles` semantics per
    group), same driver guards (``max_groups`` × bins register state,
    2^62 range check), same independent per-group convergence.  Rows
    with NULL group/value or non-positive weight carry no mass.
    Returns ``(group_col, q_permille, value)``.
    """
    bad_q = [q for q in qs_permille if not 0 < q <= 1000]
    if bad_q:
        raise ValueError(f"q_permille out of (0, 1000]: {bad_q}")
    c = (F.col(col) if isinstance(col, str) else col).cast("long")
    wc = (F.col(weight_col) if isinstance(weight_col, str)
          else weight_col).cast("long")
    vals = (df.select(F.col(group_col).alias("__g"), c.alias("__v"),
                      wc.alias("__w"))
            .filter(F.col("__v").isNotNull()
                    & F.col("__g").isNotNull() & (F.col("__w") > 0)))
    vals = vals.persist()
    try:
        stats = _grouped_stats(vals, max_groups, weighted=True)
        # adaptive resolution (r15 — see _histogram_bins), widest
        # group drives the round count, budget split across groups
        if stats:
            widest = max(r["hi"] - r["lo"] + 1 for r in stats)
            bins = _histogram_bins(widest, bins, len(stats))
        state: dict[tuple, list[int]] = {}
        for r in stats:
            for q in qs_permille:
                state[(r["__g"], q)] = [
                    max((q * r["m"] + 999) // 1000, 1),
                    r["lo"], r["hi"]]
        done = _grouped_select(vals, state, bins, max_rounds,
                               weighted=True)
        spark = df.sparkSession
        gtype = dict(vals.dtypes)["__g"]
        rows = [(gkey, int(q), int(v)) for (gkey, q), v in done.items()]
        return spark.createDataFrame(
            rows, f"{group_col} {gtype}, q_permille int, value long")
    finally:
        vals.unpersist()


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
