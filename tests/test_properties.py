"""Property-based semantics checks (hypothesis): the engine's windowed
operators against independent in-Python reference models, over random
keyed event sequences — coverage the reference's hand-written golden
suites don't reach (SURVEY.md §5: 'no property-based testing' there)."""

from datetime import datetime, timedelta

from hypothesis import HealthCheck, given, settings
from hypothesis import strategies as st
from pyspark.sql import functions as F

from kafkadirect_spark.core import Stream, Windows

BASE = datetime(2024, 1, 1)

events = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              st.integers(min_value=0, max_value=7200)),  # seconds offset
    min_size=1, max_size=40,
)


def _model_sessions(rows, gap_s):
    """Reference model: sort per key; merge while next - prev <= gap
    (inclusive boundary — pinned by test_windows.py)."""
    out = {}
    for key in {k for k, _ in rows}:
        ts = sorted(s for k, s in rows if k == key)
        sessions = []
        start = prev = ts[0]
        n = 1
        for s in ts[1:]:
            if s - prev <= gap_s:
                prev = s
                n += 1
            else:
                sessions.append((start, prev, n))
                start = prev = s
                n = 1
        sessions.append((start, prev, n))
        out[key] = sessions
    return out


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(events)
def test_session_windows_match_model(spark, rows):
    df = spark.createDataFrame(
        [(k, BASE + timedelta(seconds=s)) for k, s in rows],
        "key string, ts timestamp")
    got = (Stream(df, key="key", ts="ts").group_by_key()
           .windowed_by(Windows.session("10 minutes")).count(name="n"))
    actual = {}
    for r in got.collect():
        actual.setdefault(r.key, []).append(
            (int((r.window.start - BASE).total_seconds()),
             int((r.window.end - BASE).total_seconds()) - 600,
             r.n))
    for k in actual:
        actual[k].sort()
    assert actual == _model_sessions(rows, 600)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(events)
def test_tumbling_equals_hopping_with_equal_advance(spark, rows):
    """TimeWindows.of(size) ≡ .advanceBy(size) — the reference defines
    tumbling as the degenerate hopping window (TimeWindows.java:150)."""
    df = spark.createDataFrame(
        [(k, BASE + timedelta(seconds=s)) for k, s in rows],
        "key string, ts timestamp")
    s1 = Stream(df, key="key", ts="ts").group_by_key()
    a = {(r.key, r.window.start, r.n) for r in
         s1.windowed_by(Windows.tumbling("7 minutes")).count(name="n").collect()}
    s2 = Stream(df, key="key", ts="ts").group_by_key()
    b = {(r.key, r.window.start, r.n) for r in
         s2.windowed_by(Windows.hopping("7 minutes", "7 minutes")).count(name="n").collect()}
    assert a == b


interval_events = st.tuples(
    st.lists(st.tuples(st.sampled_from(["a", "b"]),
                       st.integers(min_value=0, max_value=600)),
             min_size=0, max_size=15),
    st.lists(st.tuples(st.sampled_from(["a", "b"]),
                       st.integers(min_value=0, max_value=600)),
             min_size=0, max_size=15),
)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(interval_events)
def test_interval_join_matches_model(spark, sides):
    """Interval join vs a quadratic Python model: match iff equal key
    and rts ∈ [lts − before, lts + after] (KStreamKStreamJoin.java:88)."""
    from kafkadirect_spark.core import JoinWindows, Stream

    lrows, rrows = sides
    before_s, after_s = 30, 90
    expected = sorted(
        (lk, li, ri)
        for li, (lk, ls) in enumerate(lrows)
        for ri, (rk, rs) in enumerate(rrows)
        if lk == rk and ls - before_s <= rs <= ls + after_s
    )
    ldf = spark.createDataFrame(
        [(k, i, BASE + timedelta(seconds=s)) for i, (k, s) in enumerate(lrows)] or
        [("_", -1, BASE)],
        "key string, li int, lts timestamp")
    rdf = spark.createDataFrame(
        [(k, i, BASE + timedelta(seconds=s)) for i, (k, s) in enumerate(rrows)] or
        [("_", -1, BASE)],
        "rkey string, ri int, rts timestamp")
    if not lrows:
        ldf = ldf.filter("li >= 0")
    if not rrows:
        rdf = rdf.filter("ri >= 0")
    out = Stream(ldf, key="key", ts="lts").join_interval(
        Stream(rdf, key="rkey", ts="rts"),
        on=F.col("key") == F.col("rkey"),
        windows=JoinWindows(before=f"{before_s} seconds", after=f"{after_s} seconds"))
    actual = sorted((r.key, r.li, r.ri) for r in out.df.collect())
    assert actual == expected


upserts = st.lists(
    st.tuples(st.sampled_from(["k1", "k2", "k3"]),
              st.one_of(st.none(), st.integers(min_value=0, max_value=9))),
    min_size=1, max_size=25,
)


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(upserts)
def test_from_changelog_matches_model(spark, rows):
    """Last-wins + tombstone compaction vs a dict replay of the log
    (LogCleaner.scala:43-92 semantics)."""
    from kafkadirect_spark.core import Table

    model = {}
    for k, v in rows:
        if v is None:
            model.pop(k, None)   # tombstone deletes
        else:
            model[k] = v
    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "key string, value int, offset bigint")
    t = Table.from_changelog(df, key="key", order_by="offset",
                             value_cols=["value"], tombstone_col="value")
    got = {r.key: r.value for r in t.df.collect()}
    assert got == model


kv_rows = st.lists(
    st.tuples(st.sampled_from(["a", "b", "c"]),
              st.one_of(st.none(), st.integers(min_value=-5, max_value=5))),
    min_size=1, max_size=30,
)


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(kv_rows)
def test_branch_partitions_exactly_once(spark, rows):
    """branch: every record lands in exactly the branch of its first
    matching predicate, or none (KStreamBranch.java:40-52)."""
    from kafkadirect_spark.core import Stream

    df = spark.createDataFrame(
        [(k, v, i) for i, (k, v) in enumerate(rows)],
        "key string, value int, idx int")
    preds = [F.col("value") > 0, F.col("key") == "a"]
    branches = Stream(df, key="key").branch(*preds)
    got = [sorted(r.idx for r in b.df.collect()) for b in branches]

    def model(k, v):
        if v is not None and v > 0:
            return 0
        if k == "a":
            return 1
        return None

    expected = [[], []]
    for i, (k, v) in enumerate(rows):
        m = model(k, v)
        if m is not None:
            expected[m].append(i)
    assert got == expected


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(events)
def test_hopping_window_membership(spark, rows):
    """Hopping windows: a record belongs to every window whose
    [start, start+size) covers it — counts must equal a direct
    per-window model (TimeWindows.java:176-186 windowsFor)."""
    from kafkadirect_spark.core import Stream, Windows

    size_s, adv_s = 600, 180
    df = spark.createDataFrame(
        [(k, BASE + timedelta(seconds=s)) for k, s in rows],
        "key string, ts timestamp")
    out = (Stream(df, key="key", ts="ts").group_by_key()
           .windowed_by(Windows.hopping("10 minutes", "3 minutes"))
           .count(name="n"))
    actual = {(r.key, int((r.window.start - BASE).total_seconds())): r.n
              for r in out.collect()}
    model = {}
    for k, s in rows:
        w = (s // adv_s) * adv_s  # last grid start <= s
        while w > s - size_s:     # every start with w <= s < w + size
            model[(k, w)] = model.get((k, w), 0) + 1
            w -= adv_s            # grid starts may precede BASE (negative)
    assert actual == model


pair_lists = st.lists(
    st.tuples(st.integers(min_value=0, max_value=30),
              st.integers(min_value=0, max_value=30)),
    min_size=1, max_size=25,
).filter(lambda ps: any(a != b for a, b in ps))


def _model_components(pairs):
    """Union-find reference model."""
    parent = {}

    def find(x):
        parent.setdefault(x, x)
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in pairs:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    return {v: find(v) for v in parent}


@settings(max_examples=15, deadline=None,
          suppress_health_check=[HealthCheck.too_slow], derandomize=True)
@given(pair_lists)
def test_connected_components_matches_union_find(spark, pairs):
    from kafkadirect_spark.functions import dedup
    clean = [(a, b) for a, b in pairs if a != b]
    df = spark.createDataFrame(clean, "id_a long, id_b long")
    got = {r.id: r.label for r in dedup.connected_components(df).collect()}
    assert got == _model_components(clean)


word_docs = st.lists(
    st.lists(st.sampled_from(["red", "blue", "green", "gold", "iron",
                              "wolf", "moon", "star", "rain", "snow"]),
             min_size=0, max_size=12).map(" ".join),
    min_size=1, max_size=10,
)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(word_docs, word_docs)
def test_decontaminate_matches_ngram_model(spark, train_texts, eval_texts):
    """Decontamination vs a brute-force set model: a train doc is
    contaminated iff it shares ANY word 3-gram with any eval doc."""
    from kafkadirect_spark.functions import curation

    def grams(t, n=3):
        w = [x for x in t.split() if x]
        return {tuple(w[i:i + n]) for i in range(len(w) - n + 1)}

    eval_g = set().union(*(grams(t) for t in eval_texts)) if eval_texts else set()
    expected = {i: bool(grams(t) & eval_g) for i, t in enumerate(train_texts)}

    train = spark.createDataFrame(list(enumerate(train_texts)),
                                  "doc_id long, text string")
    ev = spark.createDataFrame(list(enumerate(eval_texts)),
                               "doc_id long, text string")
    got = {r.doc_id: r.contaminated for r in
           curation.decontaminate(train, ev, "text", "doc_id", n=3).collect()}
    assert got == expected


token_budgets = st.lists(st.integers(min_value=1, max_value=500),
                         min_size=1, max_size=30)


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(token_budgets, st.integers(min_value=50, max_value=400))
def test_pack_sequences_matches_greedy_model(spark, counts, budget):
    """Packing vs a sequential greedy model: within a shard, doc i's
    sequence is floor(prefix_sum/budget); sequences are contiguous."""
    from kafkadirect_spark.functions import curation

    df = spark.createDataFrame(list(enumerate(counts)), "doc_id long, n long")
    out = curation.pack_sequences(df, "doc_id", "n", budget=budget, n_shards=2)
    rows = sorted((r.shard, r.doc_id, r.seq_id, r.n_tokens)
                  for r in out.collect())
    by_shard = {}
    for shard, doc, seq, n in rows:
        by_shard.setdefault(shard, []).append((doc, seq, n))
    for shard, docs_in in by_shard.items():
        cum = 0
        prev_seq = 0
        for doc, seq, n in docs_in:        # already id-ordered
            assert seq == cum // budget    # model
            assert seq >= prev_seq         # monotone
            cum += n
            prev_seq = seq
    assert sum(len(v) for v in by_shard.values()) == len(counts)


id_lists = st.lists(st.integers(min_value=0, max_value=10_000),
                    min_size=1, max_size=60, unique=True)


@settings(max_examples=12, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(id_lists)
def test_split_assign_is_a_pure_function_of_id(spark, ids):
    """Splits are decided per id: any subset of the data gets exactly
    the assignments the full set gave those ids (stability under
    growth — the property RNG sampling loses)."""
    from kafkadirect_spark.functions import curation

    full = spark.createDataFrame([(i,) for i in ids], "doc_id long")
    frac = {"train": 0.6, "val": 0.2, "test": 0.2}
    all_assign = {r.doc_id: r.split for r in
                  curation.split_assign(full, "doc_id", frac).collect()}
    half = spark.createDataFrame([(i,) for i in ids[::2]], "doc_id long")
    half_assign = {r.doc_id: r.split for r in
                   curation.split_assign(half, "doc_id", frac).collect()}
    assert half_assign == {i: all_assign[i] for i in ids[::2]}


def _phash_py(s: str) -> int:
    """Independent python model of text.portable_hash."""
    import hashlib
    return int(hashlib.md5(s.encode()).hexdigest()[:14], 16) % 2_147_483_647


weight_strat = st.floats(min_value=0.0, max_value=3.0,
                         allow_nan=False, width=16)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(id_lists, weight_strat)
def test_upsample_matches_hash_model(spark, ids, w):
    """Fractional upsampling vs an independent hashlib model: id i
    appears floor(w) times plus one more iff its salted hash clears
    the fractional gate."""
    from kafkadirect_spark.functions import curation

    df = spark.createDataFrame([(i, "s") for i in ids],
                               "doc_id long, src string")
    out = curation.upsample(df, "src", {"s": w}, "doc_id")
    got = {}
    for r in out.collect():
        got[r.doc_id] = got.get(r.doc_id, 0) + 1
    import math
    nf = math.floor(w)
    fb = round((w - nf) * 10_000)
    expected = {}
    for i in ids:
        n = nf + (1 if _phash_py(f"{i}epoch{nf}") % 10_000 < fb else 0)
        if n:
            expected[i] = n
    assert got == expected


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(word_docs)
def test_boilerplate_matches_set_model(spark, texts):
    """Boilerplate ratio vs a brute-force model over word 3-grams."""
    from kafkadirect_spark.functions import curation

    def grams(t):
        w = [x for x in t.split() if x]
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    gsets = {i: grams(t) for i, t in enumerate(texts)}
    df_freq = {}
    for gs in gsets.values():
        for g in gs:
            df_freq[g] = df_freq.get(g, 0) + 1
    expected = {}
    for i, gs in gsets.items():
        if gs:
            boiler = sum(1 for g in gs if df_freq[g] > 1)
            expected[i] = (len(gs), boiler)

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    out = curation.boilerplate_ratio(df, "text", "doc_id",
                                     n=3, max_doc_freq=1)
    got = {r.doc_id: (r.n_grams, r.n_boiler) for r in out.collect()}
    assert got == expected


texts_with_overlap = st.tuples(
    st.text(alphabet="abcdef ", min_size=0, max_size=30),
    st.text(alphabet="abcdef ", min_size=0, max_size=30),
    st.text(alphabet="ghijkl", min_size=8, max_size=20),   # shared core
)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts_with_overlap)
def test_winnow_shared_substring_property(spark, parts):
    """Winnowing guarantee, property form: two docs embedding the same
    substring of length >= k+w-1 (=8) always share a fingerprint."""
    from pyspark.sql import functions as F
    from kafkadirect_spark.functions import text as T

    pre, post, core = parts
    df = spark.createDataFrame(
        [(1, pre + core), (2, core + post)], "doc_id long, text string")
    rows = df.select("doc_id", F.explode(T.winnow("text", k=5, w=4))
                     .alias("fp")).collect()
    fps = {1: set(), 2: set()}
    for r in rows:
        fps[r.doc_id].add(r.fp)
    assert fps[1] & fps[2], (pre, core, post)


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(word_docs)
def test_jaccard_verify_equals_full_jaccard_on_candidates(spark, texts):
    """jaccard_verify(df, pairs) must equal the full all-pairs Jaccard
    restricted to the candidate set, for any candidate set."""
    from kafkadirect_spark.functions import dedup

    df = spark.createDataFrame(list(enumerate(texts)),
                               "doc_id long, text string")
    n = len(texts)
    pairs = [(a, b) for a in range(n) for b in range(a + 1, n)][::2]
    if not pairs:
        return
    pdf = spark.createDataFrame(pairs, "id_a long, id_b long")
    got = {(r.id_a, r.id_b): r.jaccard for r in
           dedup.jaccard_verify(df, pdf, "text", "doc_id",
                                n=2, threshold=0.1).collect()}
    full = {(r.id_a, r.id_b): r.jaccard for r in
            dedup.ngram_jaccard_pairs(df, "text", "doc_id",
                                      n=2, threshold=0.1).collect()}
    expected = {p: j for p, j in full.items() if p in set(pairs)}
    assert got == expected


# ---------------------------------------------------------------------------
# Sketch-family properties (pure-Python mirrors — no Spark needed)
# ---------------------------------------------------------------------------

@given(st.lists(st.integers(0, 10_000), max_size=300),
       st.lists(st.integers(0, 10_000), max_size=300))
@settings(deadline=None, max_examples=50)
def test_hll_merge_commutes_and_is_idempotent(xs, ys):
    from kafkadirect_spark.functions import sketch

    def regs(vals):
        r = {}
        for v in vals:
            b, bl = sketch.py_bucket_bitlen(v)
            r[b] = min(r.get(b, 99), bl)
        return r

    def merge(a, b):
        out = dict(a)
        for k, v in b.items():
            out[k] = min(out.get(k, 99), v)
        return out

    ra, rb = regs(xs), regs(ys)
    assert merge(ra, rb) == merge(rb, ra) == regs(xs + ys)
    assert merge(ra, ra) == ra  # idempotent: double-counting impossible
    assert (sketch.py_estimate(merge(ra, rb))
            == sketch.py_estimate(regs(xs + ys)))


@given(st.lists(st.integers(0, 30), min_size=1, max_size=400),
       st.integers(4, 12))
@settings(deadline=None, max_examples=50)
def test_space_saving_guarantee(stream, capacity):
    """Any value with true frequency > N/capacity is in the counter
    set, and every estimate bounds the true count from above by at
    most its recorded error — the Metwally invariants, fuzzed."""
    from collections import Counter

    c = {}
    for v in map(str, stream):
        if v in c:
            c[v][0] += 1
        elif len(c) < capacity:
            c[v] = [1, 0]
        else:
            ev = min(c.items(), key=lambda kv: (kv[1][0], kv[0]))
            cnt = ev[1][0]
            del c[ev[0]]
            c[v] = [cnt + 1, cnt]
    true = Counter(map(str, stream))
    n = len(stream)
    for v, t in true.items():
        if t > n / capacity:
            assert v in c, (v, t, n, capacity)
    for v, (est, err) in c.items():
        assert est >= true[v]          # never underestimates
        assert est - err <= true[v]    # error bound is honest


# ---------------------------------------------------------------------------
# Prefix-filtered Jaccard join vs an in-Python all-pairs model
# ---------------------------------------------------------------------------

_words = st.sampled_from(
    ["alpha", "beta", "gamma", "delta", "epsilon", "zeta", "eta",
     "theta", "iota", "kappa"])
_docs = st.lists(st.lists(_words, min_size=0, max_size=12),
                 min_size=2, max_size=12)


def _model_jaccard_pairs(texts, n, tau_num, tau_den):
    """All-pairs exact n-gram Jaccard over distinct shingle sets."""
    def sh(words):
        return {" ".join(words[i:i + n]) for i in range(len(words) - n + 1)}
    sets = {i: sh(w) for i, w in enumerate(texts)}
    out = set()
    for a in sets:
        for b in sets:
            if a < b and sets[a] and sets[b]:
                c = len(sets[a] & sets[b])
                if c * tau_den >= tau_num * (len(sets[a]) + len(sets[b]) - c):
                    out.add((a, b))
    return out


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(_docs, st.sampled_from([(1, 2), (4, 5), (1, 4)]))
def test_jaccard_prefix_join_matches_model(spark, texts, tau):
    """The prefix filter's losslessness over adversarial tiny corpora:
    duplicated docs, empty docs, heavy token overlap — the pair set
    must equal the in-Python all-pairs model exactly."""
    from kafkadirect_spark.functions import dedup

    tau_num, tau_den = tau
    df = spark.createDataFrame(
        [(i, " ".join(w)) for i, w in enumerate(texts)],
        "doc_id long, text string")
    got = {(r.id_a, r.id_b) for r in dedup.jaccard_prefix_pairs(
        df, "text", "doc_id", n=3,
        tau_num=tau_num, tau_den=tau_den).collect()}
    assert got == _model_jaccard_pairs(texts, 3, tau_num, tau_den)


# ---------------------------------------------------------------------------
# Interval-overlap join vs an in-Python all-pairs model
# ---------------------------------------------------------------------------

_ivals = st.lists(
    st.tuples(st.integers(min_value=-50, max_value=250),
              st.integers(min_value=0, max_value=80)),  # (lo, span)
    min_size=1, max_size=15)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(_ivals, _ivals, st.sampled_from([1, 7, 64]))
def test_interval_overlap_join_matches_model(spark, la, lb, width):
    """Canonical-bucket dedup over random interval sets: every
    overlapping pair exactly once, empty intervals never match, at
    several bucket widths."""
    from kafkadirect_spark.operators.rangejoin import interval_overlap_join

    a = spark.createDataFrame(
        [(i, lo, lo + sp) for i, (lo, sp) in enumerate(la)],
        "aid long, a_lo long, a_hi long")
    b = spark.createDataFrame(
        [(i, lo, lo + sp) for i, (lo, sp) in enumerate(lb)],
        "bid long, b_lo long, b_hi long")
    got = sorted((r.aid, r.bid) for r in interval_overlap_join(
        a, b, "a_lo", "a_hi", "b_lo", "b_hi", bucket_width=width).collect())
    want = sorted(
        (i, j)
        for i, (alo, asp) in enumerate(la)
        for j, (blo, bsp) in enumerate(lb)
        if asp > 0 and bsp > 0 and alo < blo + bsp and blo < alo + asp)
    assert got == want


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=-100, max_value=300),
                min_size=1, max_size=20),
       _ivals, st.sampled_from([1, 7, 64]))
def test_point_in_interval_join_matches_model(spark, pts, ivs, width):
    """Bucketed point-in-interval join over random data at several
    widths: multiplicity-exact vs the all-pairs model, empty
    intervals never match."""
    from kafkadirect_spark.operators.rangejoin import point_in_interval_join

    p = spark.createDataFrame(list(enumerate(pts)), "pid long, v long")
    iv = spark.createDataFrame(
        [(i, lo, lo + sp) for i, (lo, sp) in enumerate(ivs)],
        "iid long, lo long, hi long")
    got = sorted((r.pid, r.iid) for r in point_in_interval_join(
        p, iv, "v", "lo", "hi", bucket_width=width).collect())
    want = sorted(
        (i, j)
        for i, v in enumerate(pts)
        for j, (lo, sp) in enumerate(ivs)
        if sp > 0 and lo <= v < lo + sp)
    assert got == want


int_lists = st.lists(
    st.integers(min_value=-(1 << 40), max_value=1 << 40),
    min_size=1, max_size=60)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(int_lists, st.sampled_from([1, 250, 500, 990, 1000]))
def test_exact_quantiles_match_sorted_model(spark, values, q):
    """exact_quantiles ≡ the rank-⌈q·n/1000⌉ element of the sorted
    list, for arbitrary signed 41-bit values incl. duplicates — the
    histogram-narrowing recursion against the one-line spec."""
    from kafkadirect_spark.functions import sketch

    df = spark.createDataFrame([(v,) for v in values], "x long")
    out = {r.q_permille: r.value for r in
           sketch.exact_quantiles(df, "x", [q]).collect()}
    s = sorted(values)
    k = max((q * len(s) + 999) // 1000, 1)
    assert out == {q: s[k - 1]}


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.integers(min_value=0, max_value=50),
                min_size=1, max_size=60),
       st.integers(min_value=0, max_value=600))
def test_token_budget_is_maximal_hash_prefix(spark, counts, budget):
    """select_token_budget keeps EXACTLY the maximal prefix of the
    salted-hash order whose running total fits — replayed against an
    in-Python md5 model over arbitrary token counts and budgets."""
    import hashlib

    from kafkadirect_spark.functions import curation

    rows = [(i, c) for i, c in enumerate(counts)]
    df = spark.createDataFrame(rows, "doc_id long, t long")
    got = {r.doc_id: (r.n_tokens, r.cum_tokens) for r in
           curation.select_token_budget(df, "doc_id", F.col("t"),
                                        budget=budget).collect()}

    def h(i):
        return int(hashlib.md5(f"budget{i}".encode()).hexdigest()[:14],
                   16) % 2147483647

    order = sorted(((h(i) % 1024, h(i), i) for i, _ in rows))
    cum, want = 0, {}
    for _, _, i in order:
        if cum + counts[i] > budget:
            break
        cum += counts[i]
        want[i] = (counts[i], cum)
    assert got == want


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(st.lists(st.tuples(st.integers(min_value=0, max_value=9),
                          st.integers(min_value=0, max_value=9)),
                min_size=0, max_size=30))
def test_cluster_safe_split_components_never_straddle(spark, edges):
    """For ANY random edge set, cluster_safe_split puts every
    connected component wholly inside one split."""
    from kafkadirect_spark.functions import curation

    docs = spark.createDataFrame([(i, f"t{i}") for i in range(10)],
                                 "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(a, b) for a, b in edges if a != b] or [(0, 0)],
        "id_a long, id_b long")
    out = {r.doc_id: r for r in curation.cluster_safe_split(
        docs, "doc_id", pairs,
        {"train": 0.6, "val": 0.2, "test": 0.2}).collect()}
    assert len(out) == 10
    # union-find model
    parent = list(range(10))

    def find(x):
        while parent[x] != x:
            parent[x] = parent[parent[x]]
            x = parent[x]
        return x

    for a, b in edges:
        if a != b:
            ra, rb = find(a), find(b)
            if ra != rb:
                parent[max(ra, rb)] = min(ra, rb)
    for i in range(10):
        assert out[i].split == out[find(i)].split
        assert out[i].cluster == find(i)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from(["apple", "banana", "cherry",
                                          "durian", "fig"]),
                         min_size=1, max_size=12),
                min_size=2, max_size=8))
def test_bm25_integer_model_equivalence(spark, docs):
    """bm25_rank pinned against an independent in-Python replication
    of the exact integer arithmetic (linear idf, ppm saturation,
    truncating division) over random small corpora — rank, score and
    tie-break must match bit-for-bit."""
    from kafkadirect_spark.functions import curation

    q = ["apple", "durian"]
    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string")
    got = [(r.doc_id, r.score, r.n_terms) for r in
           curation.bm25_rank(df, "doc_id", "text", q,
                              k=len(docs)).collect()]

    scale, k1, b = 1_000_000, 1_200_000, 750_000
    n = len(docs)
    sumdl = sum(len(ws) for ws in docs)
    tf = {}
    for i, ws in enumerate(docs):
        for t in q:
            c = ws.count(t)
            if c:
                tf[(i, t)] = c
    dfreq = {t: sum(1 for i in range(n) if (i, t) in tf) for t in q}
    scores = {}
    for (i, t), c in tf.items():
        dl = len(docs[i])
        idf = scale * n // dfreq[t]
        ratio = scale * dl * n // sumdl
        inner = (scale - b) + b * ratio // scale
        denom = c * scale + k1 * inner // scale
        sat = scale * (c * (scale + k1)) // denom
        nterms, sc = scores.get(i, (0, 0))
        scores[i] = (nterms + 1, sc + idf * sat // scale)
    expect = sorted(((i, sc, nt) for i, (nt, sc) in scores.items()),
                    key=lambda r: (-r[1], r[0]))
    assert got == expect


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(
    st.tuples(st.sampled_from(["aa", "bb"]),
              st.lists(st.sampled_from(["apple", "banana", "cherry",
                                        "durian", "fig"]),
                       min_size=1, max_size=10)),
    min_size=2, max_size=12).filter(
        lambda rows: len({lab for lab, _ in rows}) == 2))
def test_nb_classify_integer_model_equivalence(spark, rows):
    """nb_classify pinned against an independent in-Python replication
    of the smoothed integer-bits arithmetic over random two-class
    corpora — prediction AND bits must match bit-for-bit, including
    the (bits ASC, class ASC) tie-break."""
    from kafkadirect_spark.functions import curation

    df = spark.createDataFrame(
        [(i, " ".join(ws), lab) for i, (lab, ws) in enumerate(rows)],
        "doc_id long, text string, lang string")
    got = {r.doc_id: (r.pred_label, r.best_bits) for r in
           curation.nb_classify(df, df, "doc_id", "text",
                                "lang").collect()}

    tc, nd = {}, {}
    for lab, ws in rows:
        nd[lab] = nd.get(lab, 0) + 1
        for w in ws:
            tc[(lab, w)] = tc.get((lab, w), 0) + 1
    classes = sorted(nd)
    n_tok = {c: sum(v for (cc, _), v in tc.items() if cc == c)
             for c in classes}
    vocab = len({w for (_, w) in tc})
    total = sum(nd.values())

    def fl2(n):
        return n.bit_length() - 1

    for i, (_, ws) in enumerate(rows):
        scores = {}
        for c in classes:
            bits = fl2(total) - fl2(nd[c])
            for w in ws:
                bits += fl2(n_tok[c] + vocab) - fl2(tc.get((c, w), 0) + 1)
            scores[c] = bits
        want = min(scores.items(), key=lambda kv: (kv[1], kv[0]))
        assert got[i] == want, (i, got[i], want)


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.lists(st.sampled_from(["apple", "banana", "cherry",
                                          "durian", "fig", "grape"]),
                         min_size=0, max_size=12),
                min_size=2, max_size=10))
def test_containment_both_modes_match_python_model(spark, docs):
    """containment_pairs (inner AND anti) pinned against a naive
    python model over random corpora — including empty docs and docs
    too short to shingle (they must survive the anti mode)."""
    from kafkadirect_spark.functions import dedup

    df = spark.createDataFrame(
        [(i, " ".join(ws)) for i, ws in enumerate(docs)],
        "doc_id long, text string")
    thr = 0.5
    inner = {(r.contained, r.container) for r in
             dedup.containment_pairs(df, "text", "doc_id", n=3,
                                     threshold=thr,
                                     max_doc_freq=None).collect()}
    anti = {r.doc_id for r in
            dedup.containment_pairs(df, "text", "doc_id", n=3,
                                    threshold=thr, max_doc_freq=None,
                                    how="anti").collect()}

    def sh(ws):
        return {" ".join(ws[i:i + 3]) for i in range(len(ws) - 2)}

    want_inner = set()
    for a, wa in enumerate(docs):
        for b, wb in enumerate(docs):
            if a != b and sh(wa):
                c = len(sh(wa) & sh(wb))
                if c / len(sh(wa)) >= thr:
                    want_inner.add((a, b))
    want_anti = {i for i in range(len(docs))
                 if not any(ca == i for ca, _ in want_inner)}
    assert inner == want_inner
    assert anti == want_anti


# ---------------------------------------------------------------------------
# round-11 operators vs first-principles python models
# ---------------------------------------------------------------------------

texts = st.lists(
    st.text(alphabet="ab c.QZ-", min_size=0, max_size=30),
    min_size=2, max_size=10)


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts, st.integers(min_value=1, max_value=12))
def test_vocab_coverage_matches_model(spark, docs, k):
    """The count-of-counts shortcut == brute-force rank-and-sum over
    random small corpora (incl. heavy count ties and empty docs)."""
    import re

    from kafkadirect_spark.functions import curation

    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    got = {r.k: (r.covered_tokens, r.total_tokens, r.vocab_words)
           for r in curation.vocab_coverage(df, "text",
                                            ks=(k,)).collect()}
    words = [w for t in docs
             for w in re.split("[^a-z0-9]+", t.lower()) if w]
    if not words:
        assert got == {}
        return
    from collections import Counter
    counts = sorted(Counter(words).values(), reverse=True)
    want = (sum(counts[:k]), sum(counts), len(counts))
    assert got[k] == want


@settings(max_examples=10, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.too_slow])
@given(texts, st.integers(min_value=1, max_value=8))
def test_edit_verify_matches_model(spark, docs, max_chars):
    """Engine Levenshtein over the truncated canonical surface ==
    textbook DP model, for every pair of a random corpus."""
    import itertools
    import re

    from kafkadirect_spark.functions import dedup

    def canon(t):
        return " ".join(
            w for w in re.split("[^a-z0-9]+", t.lower()) if w)[:max_chars]

    def lev(a, b):
        prev = list(range(len(b) + 1))
        for i, ca in enumerate(a, 1):
            cur = [i]
            for j, cb in enumerate(b, 1):
                cur.append(min(prev[j] + 1, cur[j - 1] + 1,
                               prev[j - 1] + (ca != cb)))
            prev = cur
        return prev[len(b)]

    df = spark.createDataFrame(list(enumerate(docs)),
                               "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(a, b) for a, b in itertools.combinations(range(len(docs)), 2)],
        "id_a long, id_b long")
    got = {(r.id_a, r.id_b): (r.lev, r.dist_milli)
           for r in dedup.edit_verify_pairs(
               df, pairs, "text", "doc_id", max_dist_milli=1000,
               max_chars=max_chars).collect()}
    for a, b in itertools.combinations(range(len(docs)), 2):
        sa, sb = canon(docs[a]), canon(docs[b])
        d = lev(sa, sb)
        want = (d, 1000 * d // max(len(sa), len(sb), 1))
        assert got[(a, b)] == want
