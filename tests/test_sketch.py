"""HyperLogLog sketch: Spark ≡ Python mirror ≡ estimate formula,
mergeability, accuracy envelope, and the streaming windowed fold.
"""

from __future__ import annotations

import pyspark.sql.functions as F
import pytest

from kafkadirect_spark.functions import sketch


def _py_sketch(values, p=sketch.P_DEFAULT):
    regs: dict[int, int] = {}
    for v in values:
        if v is None:
            continue
        b, bl = sketch.py_bucket_bitlen(v, p)
        if b not in regs or bl < regs[b]:
            regs[b] = bl
    return regs


def test_registers_match_python_mirror(spark):
    df = spark.range(0, 1000).select(
        F.concat(F.lit("k"), F.col("id")).alias("k"))
    got = {r.bucket: r.min_bitlen
           for r in sketch.hll_registers(df, "k").collect()}
    want = _py_sketch(f"k{i}" for i in range(1000))
    assert got == want


def test_estimate_matches_python_formula(spark):
    df = spark.range(0, 5000).select(F.col("id").alias("k"))
    row = sketch.hll_distinct(df, "k").collect()[0]
    want = sketch.py_estimate(_py_sketch(range(5000)))
    assert row.asDict() == want


def test_null_keys_skipped(spark):
    df = spark.range(0, 100).select(
        F.when(F.col("id") % 2 == 0, F.col("id")).alias("k"))
    got = {r.bucket: r.min_bitlen
           for r in sketch.hll_registers(df, "k").collect()}
    assert got == _py_sketch(range(0, 100, 2))


def test_accuracy_envelope(spark):
    """Raw-estimator error for n >> m is ~1.04/sqrt(m) ≈ 3.3% at
    p=10; assert a loose 3-sigma envelope (10%)."""
    n = 200_000
    df = spark.range(0, n).select(F.col("id").alias("k"))
    est = sketch.hll_distinct(df, "k").collect()[0].est_distinct
    assert abs(est - n) / n < 0.10


def test_duplicates_do_not_move_estimate(spark):
    base = spark.range(0, 3000).select(F.col("id").alias("k"))
    dup = base.union(base).union(base)
    assert (sketch.hll_distinct(base, "k").collect()
            == sketch.hll_distinct(dup, "k").collect())


def test_merge_equals_whole(spark):
    """Register merge over disjoint halves ≡ sketch of the union —
    the property that makes per-partition/per-day sketches combinable
    without re-reading data."""
    a = spark.range(0, 2000).select(F.col("id").alias("k"))
    b = spark.range(1500, 4000).select(F.col("id").alias("k"))  # overlap
    merged = sketch.hll_merge(
        sketch.hll_registers(a, "k"), sketch.hll_registers(b, "k"))
    whole = sketch.hll_registers(a.union(b), "k")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, whole.collect())))
    assert (sketch.hll_estimate(merged).collect()
            == sketch.hll_estimate(whole).collect())


def test_small_range_corrected_estimate():
    """LinearCounting correction holds at n << m where the raw
    estimator is biased high."""
    regs = _py_sketch(range(150))
    raw = sketch.py_estimate(regs)["est_distinct"]
    corrected = sketch.hll_estimate_corrected(regs)
    assert abs(corrected - 150) / 150 < 0.10
    assert abs(raw - 150) / 150 > 0.10  # raw is biased here — documented


def test_p_bounds_rejected():
    with pytest.raises(ValueError):
        sketch.alpha_m2(3)
    with pytest.raises(ValueError):
        sketch.alpha_m2(15)


def test_int64_overflow_audit():
    """Worst-case numerator and sum_pow stay in int64 for every
    supported p (the docstring's overflow audit, executed)."""
    for p in range(4, 15):
        m = 1 << p
        a = sketch.alpha_m2(p)
        assert a * (1 << (sketch.W_FIELD + 1)) < 2**63
        assert m * (1 << (sketch.W_FIELD + 1)) < 2**63


# ---------------------------------------------------------------------------
# Streaming windowed distinct (streaming/sketch.py)
# ---------------------------------------------------------------------------

def test_streaming_windowed_distinct_hll(spark, tmp_path):
    """Tumbling windowed distinct-count: final-on-close emission whose
    estimate equals the batch sketch over the same window's rows
    bit-for-bit; duplicates within the window don't move it."""
    from datetime import datetime

    from kafkadirect_spark.sources.stream import stream_from_dir
    from kafkadirect_spark.streaming.sketch import windowed_distinct_hll

    KV = "key string, value int, ts timestamp"
    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731

    def write(rows, n):
        spark.createDataFrame(rows, KV).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmp_path}/in/b{n}")

    # window 10:00: values 1,2,2,3 → 3 distinct; duplicate 2 across
    # chunks must not move the register.
    write([("a", 1, t("10:00:05")), ("a", 2, t("10:00:15")),
           ("a", 2, t("10:00:25")), ("a", 3, t("10:00:55"))], 0)
    src = stream_from_dir(spark, f"{tmp_path}/in/*", KV, key="key", ts="ts")
    out = windowed_distinct_hll(
        src.df, key_cols=["key"], ts_col="ts", value_col="value",
        size="1 minute")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("hll_win")
         .option("checkpointLocation", f"{tmp_path}/ckpt").start())
    try:
        q.processAllAvailable()
        assert spark.sql("SELECT * FROM hll_win").count() == 0  # open
        write([("a", 9, t("10:02:00"))], 1)  # watermark past 10:01
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hll_win").collect()
        assert len(rows) == 1
        want = sketch.py_estimate(_py_sketch([1, 2, 3]))
        assert rows[0].est_distinct == want["est_distinct"]
        assert rows[0].nonzero_buckets == 3
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# Count-min sketch
# ---------------------------------------------------------------------------

def test_cms_never_underestimates(spark):
    """One-sided error: est(x) >= true count for every key."""
    import pyspark.sql.functions as F

    df = spark.range(0, 5000).select(
        (F.col("id") % 100).cast("string").alias("k"))  # 100 keys × 50
    reg = sketch.cms_sketch(df, "k", w=64, d=3)  # tight w → collisions
    probes = df.distinct()
    out = sketch.cms_lookup(reg, probes, "k", w=64, d=3).collect()
    assert len(out) == 100
    assert all(r.cms_est >= 50 for r in out)


def test_cms_exact_when_no_collisions(spark):
    import pyspark.sql.functions as F

    df = spark.createDataFrame(
        [("a",)] * 7 + [("b",)] * 3, "k string")
    reg = sketch.cms_sketch(df, "k")
    out = {r.k: r.cms_est
           for r in sketch.cms_lookup(reg, df.distinct(), "k").collect()}
    assert out == {"a": 7, "b": 3}


def test_cms_merge_is_additive(spark):
    import pyspark.sql.functions as F

    a = spark.range(0, 1000).select((F.col("id") % 10).cast("string").alias("k"))
    b = spark.range(0, 500).select((F.col("id") % 7).cast("string").alias("k"))
    merged = sketch.cms_merge(sketch.cms_sketch(a, "k"),
                              sketch.cms_sketch(b, "k"))
    whole = sketch.cms_sketch(a.union(b), "k")
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, whole.collect())))


# ---------------------------------------------------------------------------
# Equi-width histogram quantiles
# ---------------------------------------------------------------------------

def test_hist_quantiles_within_one_bin(spark):
    """Estimates are the covering bin's lower edge: within one bin
    width below the exact quantile, never above it."""
    n, lo, hi, bins = 10_000, 0, 10_000, 100
    width = (hi - lo) // bins
    df = spark.range(0, n).select(F.col("id").alias("x"))  # uniform
    reg = sketch.hist_registers(df, "x", lo, hi, bins)
    out = {r.q_permille: r.est_value
           for r in sketch.hist_quantiles(
               reg, [250, 500, 900], lo, hi, bins).collect()}
    for q, est in out.items():
        exact = q * n // 1000  # uniform 0..n-1
        assert exact - width <= est <= exact


def test_hist_clamps_out_of_range(spark):
    df = spark.createDataFrame([(-5,), (0,), (99,), (250,)], "x long")
    reg = {r.bin: r.cnt
           for r in sketch.hist_registers(df, "x", 0, 100, 10).collect()}
    assert reg[0] == 2      # -5 clamps into bin 0
    assert reg[9] == 2      # 99 in last bin; 250 clamps into it


def test_hist_merge_is_additive(spark):
    a = spark.range(0, 500).select(F.col("id").alias("x"))
    b = spark.range(200, 900).select(F.col("id").alias("x"))
    merged = sketch.hist_merge(sketch.hist_registers(a, "x", 0, 1000, 50),
                               sketch.hist_registers(b, "x", 0, 1000, 50))
    whole = sketch.hist_registers(a.union(b), "x", 0, 1000, 50)
    assert (sorted(map(tuple, merged.collect()))
            == sorted(map(tuple, whole.collect())))


def test_hist_rejects_bad_ranges(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        sketch.hist_registers(df, "x", 10, 10)
    with pytest.raises(ValueError):
        sketch.hist_registers(df, "x", 0, 2**40, bins=2**25)


def test_streaming_heavy_hitters_space_saving(spark, tmp_path):
    """Space-saving fold: capacity-bounded counters, deterministic
    eviction, count-with-error accounting matching the hand-run of
    the algorithm; the frequent item survives eviction pressure."""
    from datetime import datetime

    from kafkadirect_spark.sources.stream import stream_from_dir
    from kafkadirect_spark.streaming.sketch import windowed_heavy_hitters

    KV = "key string, value int, ts timestamp"
    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731

    def write(rows, n):
        spark.createDataFrame(rows, KV).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmp_path}/in/b{n}")

    # capacity 2: stream 7,7,8,9 in one window.
    #  7 → {7:(1,0)}; 7 → {7:(2,0)}; 8 → {7:(2,0), 8:(1,0)};
    #  9 evicts min (count,value) = 8 → {7:(2,0), 9:(2,1)}
    write([("a", 7, t("10:00:01")), ("a", 7, t("10:00:02")),
           ("a", 8, t("10:00:03")), ("a", 9, t("10:00:04"))], 0)
    src = stream_from_dir(spark, f"{tmp_path}/in/*", KV, key="key", ts="ts")
    out = windowed_heavy_hitters(
        src.df, key_cols=["key"], ts_col="ts", value_col="value",
        size="1 minute", capacity=2, k=2)
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("hh_win")
         .option("checkpointLocation", f"{tmp_path}/ckpt").start())
    try:
        q.processAllAvailable()
        write([("a", 1, t("10:02:00"))], 1)  # close the window
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hh_win").collect()
        assert len(rows) == 1
        r = rows[0]
        assert list(r.top_values) == ["7", "9"]
        assert list(r.top_counts) == [2, 2]
        assert list(r.top_errs) == [0, 1]   # 9 inherited 8's count
    finally:
        q.stop()


def test_hll_empty_input_estimates_zero(spark):
    """An empty sketch must estimate 0 — not NULL (empty SUM) and not
    the raw estimator's alpha·m bias."""
    df = spark.range(0).select(F.col("id").alias("k"))
    row = sketch.hll_distinct(df, "k").collect()[0]
    assert (row.nonzero_buckets, row.est_distinct) == (0, 0)
    assert row.sum_pow == 1024 * (1 << 33)
    assert sketch.py_estimate({})["est_distinct"] == 0


def test_streaming_windowed_distinct_hll_hopping(spark, tmp_path):
    """Hopping windows: a record folds into every covering window and
    each closed window's estimate matches the batch sketch of exactly
    the rows it covers."""
    from datetime import datetime

    from kafkadirect_spark.sources.stream import stream_from_dir
    from kafkadirect_spark.streaming.sketch import windowed_distinct_hll

    KV = "key string, value int, ts timestamp"
    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731

    def write(rows, n):
        spark.createDataFrame(rows, KV).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmp_path}/in/b{n}")

    # size 2min, advance 1min: 10:01:30 covers windows 10:00 and 10:01
    write([("a", 1, t("10:00:30")), ("a", 2, t("10:01:30"))], 0)
    src = stream_from_dir(spark, f"{tmp_path}/in/*", KV, key="key", ts="ts")
    out = windowed_distinct_hll(
        src.df, key_cols=["key"], ts_col="ts", value_col="value",
        size="2 minutes", advance="1 minute")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("hll_hop")
         .option("checkpointLocation", f"{tmp_path}/ckpt").start())
    try:
        q.processAllAvailable()
        write([("a", 9, t("10:06:00"))], 1)  # close all early windows
        q.processAllAvailable()
        rows = {r.window_start.time().isoformat(): r.est_distinct
                for r in spark.sql("SELECT * FROM hll_hop").collect()}
        exp = {
            "09:59:00": _py_sketch([1]),        # covers 09:59-10:01
            "10:00:00": _py_sketch([1, 2]),     # covers 10:00-10:02
            "10:01:00": _py_sketch([2]),        # covers 10:01-10:03
        }
        for ws, vals in exp.items():
            assert rows[ws] == sketch.py_estimate(vals)["est_distinct"], ws
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# KMV sketch
# ---------------------------------------------------------------------------

def test_kmv_exact_below_k(spark):
    df = spark.range(0, 100).select(F.col("id").alias("x"))
    sk = sketch.kmv_sketch(df, "x", k=256)
    row = sketch.kmv_est_distinct(sk, k=256).collect()[0]
    assert (row.n_sketch, row.est_distinct) == (100, 100)


def test_kmv_distinct_accuracy(spark):
    """Above k the estimator's relative error is ~1/sqrt(k) ≈ 6% at
    k=256; assert a loose 3-sigma envelope."""
    n = 50_000
    df = spark.range(0, n).select(F.col("id").alias("x"))
    sk = sketch.kmv_sketch(df, "x", k=256)
    est = sketch.kmv_est_distinct(sk, k=256).collect()[0].est_distinct
    assert abs(est - n) / n < 0.20


def test_kmv_jaccard_accuracy(spark):
    """Half-overlapping ranges: true J = |∩|/|∪| = 1/3; the KMV
    estimate must land within the sampling envelope."""
    a = spark.range(0, 20_000).select(F.col("id").alias("x"))
    b = spark.range(10_000, 30_000).select(F.col("id").alias("x"))
    jac = sketch.kmv_jaccard(
        sketch.kmv_sketch(a, "x"), sketch.kmv_sketch(b, "x")).collect()[0]
    assert jac.m == 256
    assert abs(jac.jaccard_permille - 333) < 100


def test_kmv_merge_equals_whole(spark):
    a = spark.range(0, 5000).select(F.col("x") if False else F.col("id").alias("x"))
    b = spark.range(3000, 8000).select(F.col("id").alias("x"))
    merged = sketch.kmv_merge(sketch.kmv_sketch(a, "x"),
                              sketch.kmv_sketch(b, "x"))
    whole = sketch.kmv_sketch(a.union(b), "x")
    assert (sorted(r.h for r in merged.collect())
            == sorted(r.h for r in whole.collect()))


def test_py_hist_mirror_matches_dataframe(spark):
    """The Python mirror (used by the streaming fold) equals the
    DataFrame implementation bin-for-bin and estimate-for-estimate."""
    import random

    rng = random.Random(7)
    vals = [rng.randrange(0, 5000) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "x long")
    reg = {r.bin: r.cnt
           for r in sketch.hist_registers(df, "x", 0, 5000, 100).collect()}
    py_reg = {}
    for v in vals:
        b = sketch.py_hist_bin(v, 0, 5000, 100)
        py_reg[b] = py_reg.get(b, 0) + 1
    assert reg == py_reg
    want = {r.q_permille: r.est_value
            for r in sketch.hist_quantiles(
                sketch.hist_registers(df, "x", 0, 5000, 100),
                [250, 500, 990], 0, 5000, 100).collect()}
    got = sketch.py_hist_quantiles(py_reg, [250, 500, 990], 0, 5000, 100)
    assert got == want


def test_streaming_windowed_quantiles(spark, tmp_path):
    """Closed-window quantile estimates equal the batch histogram over
    exactly that window's rows."""
    from datetime import datetime

    from kafkadirect_spark.sources.stream import stream_from_dir
    from kafkadirect_spark.streaming.sketch import windowed_quantiles_hist

    KV = "key string, value int, ts timestamp"
    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731

    def write(rows, n):
        spark.createDataFrame(rows, KV).coalesce(1).write.mode(
            "overwrite").parquet(f"{tmp_path}/in/b{n}")

    vals = [10, 250, 480, 480, 900]
    write([("a", v, t(f"10:00:0{i}")) for i, v in enumerate(vals)], 0)
    src = stream_from_dir(spark, f"{tmp_path}/in/*", KV, key="key", ts="ts")
    out = windowed_quantiles_hist(
        src.df, key_cols=["key"], ts_col="ts", value_col="value",
        size="1 minute", lo=0, hi=1000, bins=100, qs_permille=(500, 990))
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("hq_win")
         .option("checkpointLocation", f"{tmp_path}/ckpt").start())
    try:
        q.processAllAvailable()
        write([("a", 1, t("10:02:00"))], 1)  # close the window
        q.processAllAvailable()
        rows = spark.sql("SELECT * FROM hq_win").collect()
        assert len(rows) == 1
        counts = {}
        for v in vals:
            b = sketch.py_hist_bin(v, 0, 1000, 100)
            counts[b] = counts.get(b, 0) + 1
        want = sketch.py_hist_quantiles(counts, [500, 990], 0, 1000, 100)
        assert rows[0].est_p500 == want[500]
        assert rows[0].est_p990 == want[990]
    finally:
        q.stop()


# ---------------------------------------------------------------------------
# Grouped sketches (by=...): per-group registers ≡ independent sketches
# ---------------------------------------------------------------------------

def test_grouped_registers_match_independent_sketches(spark):
    df = spark.range(0, 600).select(
        (F.col("id") % 3).alias("g"),
        F.concat(F.lit("k"), (F.col("id") % 97)).alias("k"))
    got = sketch.hll_registers(df, "k", by=("g",)).collect()
    by_g: dict[int, dict[int, int]] = {}
    for r in got:
        by_g.setdefault(r.g, {})[r.bucket] = r.min_bitlen
    for g in (0, 1, 2):
        sub = df.filter(F.col("g") == g)
        want = {r.bucket: r.min_bitlen
                for r in sketch.hll_registers(sub, "k").collect()}
        assert by_g[g] == want


def test_grouped_estimate_matches_single_group_path(spark):
    df = spark.range(0, 500).select(
        (F.col("id") % 2).alias("g"),
        F.concat(F.lit("u"), F.col("id")).alias("k"))
    regs = sketch.hll_registers(df, "k", by=("g",))
    got = {r.g: (r.m, r.nonzero_buckets, r.sum_pow, r.est_distinct)
           for r in sketch.hll_estimate(regs, by=("g",)).collect()}
    for g in (0, 1):
        sub = df.filter(F.col("g") == g)
        want = sketch.hll_distinct(sub, "k").collect()[0]
        assert got[g] == (want.m, want.nonzero_buckets, want.sum_pow,
                          want.est_distinct)
    # grouped merge ≡ whole-input sketch: min registers across groups
    merged = sketch.hll_merge(
        regs.filter(F.col("g") == 0).drop("g"),
        regs.filter(F.col("g") == 1).drop("g"))
    whole = sketch.hll_distinct(df, "k").collect()[0]
    est = sketch.hll_estimate(merged).collect()[0]
    assert (est.m, est.nonzero_buckets, est.sum_pow, est.est_distinct) == \
        (whole.m, whole.nonzero_buckets, whole.sum_pow, whole.est_distinct)


def _kth_model(values, q):
    """min v : count(<= v) >= ceil(q*n/1000) — the oracle's spec."""
    s = sorted(values)
    k = max((q * len(s) + 999) // 1000, 1)
    return s[k - 1]


def test_exact_quantiles_match_sorted_model(spark):
    import random
    rng = random.Random(7)
    values = ([rng.randint(-50_000, 50_000) for _ in range(5000)]
              + [0] * 500 + [42] * 300)        # heavy ties
    df = spark.createDataFrame([(v,) for v in values], "x long")
    qs = [1, 250, 500, 990, 1000]
    out = {r.q_permille: r.value for r in
           sketch.exact_quantiles(df, "x", qs).collect()}
    assert out == {q: _kth_model(values, q) for q in qs}


def test_exact_quantiles_wide_range_converges(spark):
    # 40-bit spread: a span far wider than the row count
    values = [(i * 2_654_435_761) % (1 << 40) - (1 << 39)
              for i in range(2000)]
    df = spark.createDataFrame([(v,) for v in values], "x long")
    out = {r.q_permille: r.value for r in
           sketch.exact_quantiles(df, "x", [500]).collect()}
    assert out == {500: _kth_model(values, 500)}


def test_exact_quantiles_nulls_and_empty(spark):
    df = spark.createDataFrame([(1,), (None,), (3,)], "x long")
    out = {r.q_permille: r.value for r in
           sketch.exact_quantiles(df, "x", [500, 1000]).collect()}
    assert out == {500: 1, 1000: 3}
    empty = spark.createDataFrame([], "x long")
    assert sketch.exact_quantiles(empty, "x", [500]).collect() == []


def test_exact_quantiles_full_long_range(spark):
    # power-of-two buckets never subtract an origin, so a span past
    # 2^62 (up to the whole long range) cannot overflow in the plan
    values = [-(1 << 62), 1 << 62, -(1 << 63), (1 << 63) - 1, 0, 3]
    df = spark.createDataFrame([(v,) for v in values], "x long")
    qs = [1, 200, 500, 501, 1000]
    out = {r.q_permille: r.value for r in
           sketch.exact_quantiles(df, "x", qs).collect()}
    assert out == {q: _kth_model(values, q) for q in qs}


def test_exact_quantiles_grouped_matches_model(spark):
    import random
    rng = random.Random(11)
    rows = [("a", rng.randint(-1000, 1000)) for _ in range(800)] \
         + [("b", rng.randint(0, 10)) for _ in range(300)] \
         + [("wide", rng.randint(-(1 << 39), 1 << 39)) for _ in range(200)]
    df = spark.createDataFrame(rows, "g string, x long")
    qs = [250, 500, 990]
    out = {(r.g, r.q_permille): r.value for r in
           sketch.exact_quantiles_grouped(df, "g", "x", qs).collect()}
    from collections import defaultdict
    groups = defaultdict(list)
    for g, x in rows:
        groups[g].append(x)
    want = {(g, q): _kth_model(v, q)
            for g, v in groups.items() for q in qs}
    assert out == want


def test_exact_quantiles_grouped_null_and_caps(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", None), (None, 5), ("b", 7)], "g string, x long")
    out = {(r.g, r.q_permille): r.value for r in
           sketch.exact_quantiles_grouped(df, "g", "x", [1000]).collect()}
    assert out == {("a", 1000): 1, ("b", 1000): 7}
    with pytest.raises(ValueError):
        sketch.exact_quantiles_grouped(df, "g", "x", [500], max_groups=1)


def test_exact_quantiles_rejects_bad_permille(spark):
    df = spark.createDataFrame([(1,)], "x long")
    with pytest.raises(ValueError):
        sketch.exact_quantiles(df, "x", [1500])
    with pytest.raises(ValueError):
        sketch.exact_quantiles_grouped(
            df.withColumn("g", F.lit("a")), "g", "x", [0])


def test_bucketize_by_quantiles_model(spark):
    # 100 distinct values 0..99 -> deciles are exactly 10 wide
    df = spark.createDataFrame([(i,) for i in range(100)], "v long")
    out = sketch.bucketize_by_quantiles(df, "v", 10).collect()
    got = {r.v: r.bucket for r in out}
    # cut_q = rank-ceil(q*100/1000) element = value (10q/100)*... :
    # cuts are 9,19,...,89; bucket = #cuts strictly below v
    for v in range(100):
        assert got[v] == min(v // 10, 9), (v, got[v])


def test_bucketize_ties_share_a_bucket_and_nulls(spark):
    rows = [(1,)] * 7 + [(2,)] * 2 + [(50,)] + [(None,)]
    df = spark.createDataFrame(rows, "v long")
    out = sketch.bucketize_by_quantiles(df, "v", 4).collect()
    got = {}
    for r in out:
        got.setdefault(r.v, set()).add(r.bucket)
    # all ties of the majority value land in ONE bucket (never split)
    assert got[1] == {0}
    assert got[None] == {None}
    assert max(b for bs in got.values() for b in bs if b is not None) <= 3
    import pytest as _pt
    with _pt.raises(ValueError):
        sketch.bucketize_by_quantiles(df, "v", 1)


def test_bucketize_equidepth_on_random(spark):
    import random
    rng = random.Random(3)
    vals = [rng.randrange(0, 10**9) for _ in range(2000)]
    df = spark.createDataFrame([(v,) for v in vals], "v long")
    out = sketch.bucketize_by_quantiles(df, "v", 10)
    sizes = {r.bucket: r.n for r in
             out.groupBy("bucket").agg(F.count(F.lit(1)).alias("n"))
             .collect()}
    assert set(sizes) == set(range(10))
    # distinct random values -> every bucket within 1 of n/10
    assert all(abs(n - 200) <= 1 for n in sizes.values()), sizes


def test_bucketize_grouped_per_segment_cells(spark):
    # group 'a': 0..99; group 'b': 0..9990 by 10s — same decile LAYOUT
    # within each group even though the value scales differ 100x
    rows = [("a", i) for i in range(100)] + [("b", 10 * i)
                                             for i in range(1000)]
    df = spark.createDataFrame(rows, "g string, v long")
    out = sketch.bucketize_by_quantiles_grouped(df, "g", "v", 10)
    got = {(r.g, r.v): r.bucket for r in out.collect()}
    for i in range(100):
        assert got[("a", i)] == min(i // 10, 9)
    for i in range(1000):
        assert got[("b", 10 * i)] == min(i // 100, 9)


def test_bucketize_grouped_null_group_and_value(spark):
    df = spark.createDataFrame(
        [("a", 1), ("a", 2), ("a", 3), (None, 5), ("a", None)],
        "g string, v long")
    got = [(r.g, r.v, r.bucket) for r in
           sketch.bucketize_by_quantiles_grouped(df, "g", "v", 2)
           .collect()]
    # null group and null value rows survive with a null bucket
    assert (None, 5, None) in got
    assert ("a", None, None) in got
    assert all(b is not None for g, v, b in got
               if g == "a" and v is not None)


# ---------------------------------------------------------------------------
# kmv_group_jaccard (round 12): the all-pairs corpus-slice similarity
# matrix from per-slice KMV sketches.


def test_kmv_group_jaccard_hand_checked(spark):
    """Three slices: a ≡ b (identical text → permille 1000), c shares
    nothing 3-gram-shaped with either; NULL groups are skipped."""
    df = spark.createDataFrame(
        [("a", "one two three four five"),
         ("b", "one two three four five"),
         ("c", "six seven eight nine ten"),
         (None, "one two three four five")],
        "grp string, text string")
    out = {(r.group_a, r.group_b): r
           for r in sketch.kmv_group_jaccard(df, "grp", "text").collect()}
    assert set(out) == {("a", "b"), ("a", "c"), ("b", "c")}
    ab = out[("a", "b")]
    assert (ab.n_a, ab.n_b, ab.n_both) == (3, 3, 3)
    assert ab.jaccard_permille == 1000
    assert out[("a", "c")].n_both == 0
    assert out[("a", "c")].jaccard_permille == 0
    with pytest.raises(ValueError, match="k must"):
        sketch.kmv_group_jaccard(df, "grp", "text", k=0)


def test_kmv_group_jaccard_sketch_bound_and_sampling(spark):
    """With k smaller than the shingle sets, sketches cap at k, the
    union sample caps at k, and the estimate stays a permille in
    [0, 1000] — and the salted two-phase min-k equals the k=1-phase
    result (the topk_per_group identity, exercised end-to-end)."""
    rows = [("a", " ".join(f"w{i} x{i} y{i}" for i in range(j, j + 40)))
            for j in range(5)]
    rows += [("b", " ".join(f"w{i} x{i} y{i}" for i in range(100, 160)))]
    df = spark.createDataFrame(rows, "grp string, text string")
    out = sketch.kmv_group_jaccard(df, "grp", "text", k=16).collect()
    assert len(out) == 1
    r = out[0]
    assert r.n_a == 16 and r.n_b == 16 and r.union_k == 16
    assert 0 <= r.jaccard_permille <= 1000
    solo = sketch.kmv_group_jaccard(df, "grp", "text", k=16,
                                    salt_parts=1).collect()[0]
    assert tuple(r) == tuple(solo)


def test_kmv_group_jaccard_oracle_matches_engine(spark):
    """Engine == DuckDB on the real documents over BOTH natural slice
    columns (lang: 5 slices; source: 20 slices → 190 pairs) — the
    whole estimator replays integer-exactly."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    for gcol in ("lang", "source"):
        eng = sorted(tuple(r) for r in sketch.kmv_group_jaccard(
            docs, gcol, "text").collect())
        got = sorted(con.sql(sketch.kmv_group_jaccard_oracle_sql(
            group_col=gcol)).fetchall())
        assert got == eng and eng
        assert any(r[6] > 0 for r in eng)


def test_kmv_group_jaccard_plan_is_bounded(spark):
    """The only nested-loop join is the broadcast pair join over
    sketch rows (bounded by |slices| — the _BNLJ_OK shape); no
    cartesian product; every window is partitioned (salted or plain
    group min-k)."""
    import contextlib
    import io
    import re

    df = spark.createDataFrame(
        [("a", "one two three four"), ("b", "two three four five")],
        "grp string, text string")
    out = sketch.kmv_group_jaccard(df, "grp", "text")
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" in plan
    for spec in re.findall(r"windowspecdefinition\([^)]*\)", plan):
        assert "g#" in spec or "g AS" in spec, spec


# ---------------------------------------------------------------------------
# weighted_quantiles (round 12): exact weight-mass order statistics.


def test_weighted_quantiles_hand_checked(spark):
    """Values 1..4 with weights 1,1,1,7: the median TOKEN (q=500)
    lives at value 4 (it holds 70% of the mass) while the unweighted
    median row is 2; zero/NULL weights carry no mass."""
    df = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (4, 7), (9, 0), (8, None)],
        "v long, w long")
    out = {r.q_permille: r.value for r in sketch.weighted_quantiles(
        df, "v", "w", [100, 300, 500, 1000]).collect()}
    # cum mass: 1->1, 2->2, 3->3, 4->10 ; W=10
    assert out == {100: 1, 300: 3, 500: 4, 1000: 4}
    un = {r.q_permille: r.value for r in sketch.exact_quantiles(
        df.filter("w > 0"), "v", [500]).collect()}
    assert un[500] == 2
    with pytest.raises(ValueError, match="q_permille"):
        sketch.weighted_quantiles(df, "v", "w", [0])


def test_weighted_quantiles_matches_python_model(spark):
    """Engine == the naive cumulative walk on random integer
    (value, weight) sets, including heavy ties and weight skew."""
    import random

    rng = random.Random(13)
    for trial in range(4):
        rows = [(rng.randrange(-50, 2000),
                 rng.choice([1, 1, 2, 5, 100]))
                for _ in range(200 + trial * 77)]
        df = spark.createDataFrame(rows, "v long, w long")
        qs = [1, 250, 500, 750, 999, 1000]
        got = {r.q_permille: r.value for r in
               sketch.weighted_quantiles(df, "v", "w", qs).collect()}
        tw = sum(w for _, w in rows)
        srt = sorted(rows)
        want = {}
        for q in qs:
            k, cum = max((q * tw + 999) // 1000, 1), 0
            for v, w in srt:
                cum += w
                if cum >= k:
                    want[q] = v
                    break
        assert got == want, (trial, got, want)


def test_weighted_quantiles_oracle_matches_engine(spark):
    """Engine == DuckDB on the real documents: token-weighted
    n_chars quantiles (the 'median token lives in a doc of length X'
    question), with the token weight computed identically on both
    sides."""
    import duckdb

    from kafkadirect_spark.functions.text import token_count

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    qs = [100, 500, 900, 990]
    eng = sorted(tuple(r) for r in sketch.weighted_quantiles(
        docs, F.col("n_chars"), token_count("text"), qs).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    got = sorted(con.sql(
        sketch.weighted_quantiles_oracle_sql(qs)).fetchall())
    assert got == eng and len(eng) == 4
    # weighting genuinely moves the answer vs the row-count quantile
    un = {r.q_permille: r.value for r in sketch.exact_quantiles(
        docs, "n_chars", [500]).collect()}
    w = dict(eng)
    assert w[500] != un[500]


def test_weighted_quantiles_grouped_matches_per_group_walk(spark):
    """Engine == the naive per-group cumulative walk on random
    (group, value, weight) sets; equals weighted_quantiles run per
    group independently."""
    import random

    rng = random.Random(29)
    rows = [(f"g{rng.randrange(3)}", rng.randrange(0, 500),
             rng.choice([1, 2, 7, 50])) for _ in range(300)]
    df = spark.createDataFrame(rows, "grp string, v long, w long")
    qs = [100, 500, 900, 1000]
    got = {(r.grp, r.q_permille): r.value
           for r in sketch.weighted_quantiles_grouped(
               df, "grp", "v", "w", qs).collect()}
    want = {}
    for g in {g for g, _, _ in rows}:
        sub = sorted((v, w) for gg, v, w in rows if gg == g)
        tw = sum(w for _, w in sub)
        for q in qs:
            k, cum = max((q * tw + 999) // 1000, 1), 0
            for v, w in sub:
                cum += w
                if cum >= k:
                    want[(g, q)] = v
                    break
        solo = {r.q_permille: r.value for r in sketch.weighted_quantiles(
            df.filter(F.col("grp") == g), "v", "w", qs).collect()}
        for q in qs:
            assert solo[q] == want[(g, q)]
    assert got == want


def test_weighted_quantiles_grouped_oracle_matches_engine(spark):
    """Engine == DuckDB on the real documents: per-language
    token-weighted n_chars quantiles."""
    import duckdb

    from kafkadirect_spark.functions.text import token_count

    sf = "/root/testdata/sf0.001"
    docs = spark.read.parquet(f"{sf}/documents.parquet")
    qs = [250, 500, 990]
    eng = sorted(tuple(r) for r in sketch.weighted_quantiles_grouped(
        docs, "lang", F.col("n_chars"), token_count("text"),
        qs).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    got = sorted(con.sql(
        sketch.weighted_quantiles_grouped_oracle_sql(qs)).fetchall())
    assert got == eng and len(eng) == 3 * 5    # 5 languages
    with pytest.raises(ValueError, match="max_groups"):
        sketch.weighted_quantiles_grouped(
            docs, "doc_id", "n_chars", "n_chars", [500], max_groups=10)


def _py_kmv_matrix(rows, k=8, n=3):
    """Independent model of kmv_group_jaccard: md5-prefix 48-bit
    hashes over word 3-gram shingles, per-group k minima, union-k
    membership — pure python."""
    import hashlib
    import re

    sk: dict = {}
    for g, text in rows:
        if g is None:
            continue
        toks = [w for w in re.split("[^a-z0-9]+", text.lower()) if w]
        grams = {" ".join(toks[i:i + n])
                 for i in range(len(toks) - n + 1)}
        hs = {int(hashlib.md5(s.encode()).hexdigest()[:12], 16)
              for s in grams}
        sk.setdefault(g, set()).update(hs)
    mink = {g: sorted(hs)[:k] for g, hs in sk.items() if hs}
    out = {}
    for a in sorted(mink):
        for b in sorted(mink):
            if a >= b:
                continue
            u = sorted(set(mink[a]) | set(mink[b]))[:k]
            both = sum(1 for x in u
                       if x in set(mink[a]) and x in set(mink[b]))
            out[(a, b)] = (len(mink[a]), len(mink[b]), len(u), both,
                           1000 * both // max(len(u), 1))
    return out


def test_kmv_group_jaccard_matches_python_model(spark):
    """Engine == the from-scratch python estimator on small corpora
    with forced overlap, at a small k so the union-k cap bites."""
    from hypothesis import HealthCheck, given, settings
    from hypothesis import strategies as st

    words = ["alpha", "beta", "gamma", "delta", "eps"]

    @settings(max_examples=8, deadline=None, derandomize=True,
              suppress_health_check=[HealthCheck.function_scoped_fixture])
    @given(st.lists(
        st.tuples(st.sampled_from(["g1", "g2", "g3"]),
                  st.lists(st.sampled_from(words), min_size=3,
                           max_size=12)),
        min_size=2, max_size=10))
    def run(rows):
        data = [(g, " ".join(ws)) for g, ws in rows]
        df = spark.createDataFrame(data, "grp string, text string")
        got = {(r.group_a, r.group_b):
               (r.n_a, r.n_b, r.union_k, r.n_both, r.jaccard_permille)
               for r in sketch.kmv_group_jaccard(
                   df, "grp", "text", k=8).collect()}
        assert got == _py_kmv_matrix(data, k=8)

    run()


def test_streaming_windowed_distinct_hll_null_mixed_batch(spark, tmp_path):
    """Nullable-long hazard regression (round 13): a NULL in the same
    Arrow batch converts the pandas value column to float64, and
    str(5.0) != "5" silently breaks hash parity with the batch
    sketch.  The wrapper now casts the value to STRING JVM-side
    (Spark's own canonical rendering), so a null-mixed window still
    matches batch hll_distinct bit-for-bit; nulls are skipped."""
    from datetime import datetime

    from kafkadirect_spark.sources.stream import stream_from_dir
    from kafkadirect_spark.streaming.sketch import windowed_distinct_hll

    KV = "key string, value long, ts timestamp"
    t = lambda s: datetime.fromisoformat(f"2024-01-01 {s}")  # noqa: E731
    rows = [("a", 5, t("10:00:05")), ("a", None, t("10:00:15")),
            ("a", 7, t("10:00:25")), ("a", 5, t("10:00:35"))]
    spark.createDataFrame(rows, KV).coalesce(1).write.parquet(
        f"{tmp_path}/in/b0")
    src = stream_from_dir(spark, f"{tmp_path}/in/*", KV,
                          key="key", ts="ts")
    out = windowed_distinct_hll(
        src.df, key_cols=["key"], ts_col="ts", value_col="value",
        size="1 minute")
    q = (out.writeStream.outputMode("append").format("memory")
         .queryName("hll_nul")
         .option("checkpointLocation", f"{tmp_path}/ckpt").start())
    try:
        q.processAllAvailable()
        spark.createDataFrame([("a", 9, t("10:02:00"))], KV) \
            .coalesce(1).write.parquet(f"{tmp_path}/in/b1")
        q.processAllAvailable()
        got = spark.sql("SELECT * FROM hll_nul").collect()
        assert len(got) == 1
        batch = spark.createDataFrame(
            [(5,), (None,), (7,), (5,)], "value long")
        want = sketch.hll_distinct(batch, "value").collect()[0]
        assert (got[0].est_distinct, got[0].nonzero_buckets) == (
            want.est_distinct, want.nonzero_buckets)
        assert got[0].nonzero_buckets == 2     # nulls skipped
    finally:
        q.stop()


def test_grouped_median_mad_matches_two_kernel_calls(spark):
    """The fused (median, MAD) kernel must agree with the two separate
    exact_quantiles_grouped([500]) passes it replaces (r15 mad_outliers
    optimization): same cover rule, same ranks — the fused pass only
    reuses pass 1's cache/stats, never changes a selection.  Cases:
    negative values, even/odd n, MAD=0 degenerate, a wide-range group."""
    from pyspark.sql import functions as F

    rows = ([("a", v) for v in (-7, -3, 0, 4, 9, 100)]       # even n
            + [("b", v) for v in (5, 5, 5, 6)]               # MAD = 0
            + [("c", v) for v in (1, 2, 1_000_000)]          # wide, odd n
            + [("d", None), (None, 3)])                      # null skips
    df = spark.createDataFrame(rows, "g string, v long")
    fused = {r["g"]: (r["med"], r["mad"])
             for r in sketch.grouped_median_mad(df, "g", "v").collect()}
    med = {r["g"]: r["value"]
           for r in sketch.exact_quantiles_grouped(
               df, "g", "v", [500]).collect()}
    med_df = spark.createDataFrame(
        [(g, int(v)) for g, v in med.items()], "g string, med long")
    dev = (df.join(med_df, "g")
           .select("g", F.abs(F.col("v") - F.col("med")).alias("d")))
    mad = {r["g"]: r["value"]
           for r in sketch.exact_quantiles_grouped(
               dev, "g", "d", [500]).collect()}
    assert fused == {g: (med[g], mad[g]) for g in med}
    assert set(fused) == {"a", "b", "c"} and fused["b"][1] == 0


def test_grouped_median_mad_rejects_overflowing_range(spark):
    # |v - median| of a group spanning more than 2^62 can overflow
    df = spark.createDataFrame(
        [("a", -(1 << 62)), ("a", (1 << 62) + 1), ("b", 1)],
        "g string, v long")
    with pytest.raises(ValueError, match="2\\^62"):
        sketch.grouped_median_mad(df, "g", "v")


def _weighted_model(pairs, q):
    """Least v whose cumulative weight reaches ceil(q·W/1000)."""
    pairs = sorted(pairs)
    k = max((q * sum(w for _, w in pairs) + 999) // 1000, 1)
    cum = 0
    for v, w in pairs:
        cum += w
        if cum >= k:
            return v


_SELECTION_INPUTS = {
    "all_equal": [7] * 40,
    "dominant": [3] * 60 + [1 << e for e in range(10, 30, 2)]
    + [((i * 7919) % 2001 - 1000) << 20 for i in range(20)],
    "long_extremes": [-(1 << 62), 1 << 62, -(1 << 63), (1 << 63) - 1]
    + [(i * 7919) % 201 - 100 for i in range(30)],
    # q 490 is negative and q 510 is not, in every group: they land in
    # the adjacent buckets -1 and 0, so later rounds narrow two parents
    # of one group side by side
    "straddle": [v for v in range(-30, 30) for _ in (0, 1)]
    + [-(1 << 20), 1 << 20],
}


@pytest.mark.parametrize("weighted", [False, True])
@pytest.mark.parametrize("grouped", [False, True])
@pytest.mark.parametrize("name", sorted(_SELECTION_INPUTS))
def test_selection_exact_over_narrowing_rounds(spark, monkeypatch, name,
                                               grouped, weighted):
    """Every kernel shape stays exact when a small round budget forces
    at least three narrowing rounds."""
    values = _SELECTION_INPUTS[name]
    rows = [(i % 2 if grouped else 0, v, 1 + i % 3 if weighted else 1)
            for i, v in enumerate(values)]
    df = spark.createDataFrame(rows, "g int, v long, w long")
    qs = [1, 490, 500, 510, 1000]
    monkeypatch.setattr(sketch, "_ROUND_BUDGET", 8)
    rounds = []  # one histogram collect per round
    cls = type(df)
    to_pandas = cls.toPandas
    monkeypatch.setattr(cls, "toPandas",
                        lambda self: rounds.append(1) or to_pandas(self))
    if grouped and weighted:
        out = sketch.weighted_quantiles_grouped(df, "g", "v", "w", qs)
    elif grouped:
        out = sketch.exact_quantiles_grouped(df, "g", "v", qs)
    elif weighted:
        out = sketch.weighted_quantiles(df, "v", "w", qs).withColumn(
            "g", F.lit(0))
    else:
        out = sketch.exact_quantiles(df, "v", qs).withColumn("g", F.lit(0))
    got = {(r.g, r.q_permille): r.value for r in out.collect()}
    by = {}
    for g, v, w in rows:
        by.setdefault(g, []).append((v, w))
    assert got == {(g, q): _weighted_model(p, q)
                   for g, p in by.items() for q in qs}
    assert len(rounds) >= 3 or name == "all_equal"
    if name == "straddle":
        assert all(got[g, 490] < 0 <= got[g, 510] for g in by)
