"""Training-data-pipeline operators: dedup / similarity / text /
multimodal — recall and semantics beyond the SQL-oracle gate."""

import numpy as np
import pytest
from pyspark.sql import functions as F

from kafkadirect_spark.functions import dedup, multimodal, similarity, text

SF = "/root/testdata/sf0.001"


@pytest.fixture(scope="module")
def docs(spark):
    from kafkadirect_spark.sources.batch import load_table
    return load_table(spark, SF, "documents")


@pytest.fixture(scope="module")
def emb(spark):
    from kafkadirect_spark.sources.batch import load_table
    return load_table(spark, SF, "embeddings")


@pytest.fixture(scope="module")
def emb_gram(emb):
    """Test-local exact cosine model: ``(ids, G)`` with ``G`` the
    normalized Gram matrix of the embeddings in id order and the
    diagonal (self) set to -inf."""
    rows = sorted((r.vec_id, r.embedding) for r in emb.collect())
    ids = np.array([i for i, _ in rows])
    X = np.array([v for _, v in rows], dtype=np.float64)
    X /= np.linalg.norm(X, axis=1, keepdims=True)
    G = X @ X.T
    np.fill_diagonal(G, -np.inf)
    return ids, G


def model_topk(gram, k, probe_ids=None):
    """``{(id, neighbor_id, rank)}``: each probe's k most cosine-similar
    other vectors, ties broken by neighbor id."""
    ids, G = gram
    out = set()
    for i, pid in enumerate(ids):
        if probe_ids is not None and pid not in probe_ids:
            continue
        top = np.lexsort((ids, -G[i]))[:k]
        out |= {(int(pid), int(ids[j]), r + 1) for r, j in enumerate(top)}
    return out


def test_exact_dedup_groups(spark):
    df = spark.createDataFrame(
        [(1, "same text"), (2, "same text"), (3, "other")], "doc_id long, text string")
    out = {r.keeper: r.n_docs for r in
           dedup.exact_dedup(df, "text", "doc_id").collect()}
    assert out == {1: 2, 3: 1}


def test_lsh_candidates_superset_of_true_pairs(docs):
    true = {(r.id_a, r.id_b) for r in dedup.ngram_jaccard_pairs(
        docs, "text", "doc_id", threshold=0.5).collect()}
    sigs = dedup.minhash_signatures(docs, "text", "doc_id")
    cand = {(r.id_a, r.id_b) for r in
            dedup.lsh_candidate_pairs(sigs, "doc_id").collect()}
    assert true, "fixture should contain planted near-dups"
    missed = true - cand
    assert not missed, f"LSH missed high-jaccard pairs: {missed}"
    # and it must be sub-quadratic in practice: far fewer than all pairs
    n = docs.count()
    assert len(cand) < n * (n - 1) / 20


def test_minhash_signatures_match_expression_form(docs):
    """r15: minhash_signatures' vectorized numpy permutation fold must
    stay bit-identical to the Column-expression form the streaming
    path uses (with_row_signatures) — same (h·a + b) mod P integer
    arithmetic, same empty-doc drop."""
    fast = dedup.minhash_signatures(docs, "text", "doc_id")
    ref = dedup.with_row_signatures(
        docs.select("doc_id", "text"), "text", keep=["doc_id"])
    a = sorted(tuple(r) for r in fast.collect())
    b = sorted(tuple(r) for r in ref.collect())
    assert a, "fixture should produce signatures"
    assert a == b


def test_simhash_near_for_near_dups(docs):
    pair = dedup.ngram_jaccard_pairs(docs, "text", "doc_id",
                                     threshold=0.9).first()
    sh = {r.doc_id: r.simhash for r in
          dedup.simhash(docs, "text", "doc_id").collect()}
    ham = bin(sh[pair.id_a] ^ sh[pair.id_b]).count("1")
    assert ham <= 4  # near-dup ⇒ small Hamming distance (32-bit sig)
    # relative sanity: random pairs are farther apart than the near-dup
    # (absolute distances are compressed here — all docs share one small
    # vocabulary, so token *sets* overlap heavily even for non-dups)
    ids = sorted(sh)[:10]
    far = [bin(sh[a] ^ sh[b]).count("1") for a in ids for b in ids if a < b]
    assert sum(far) / len(far) > ham


def test_ann_recall_vs_brute_force(emb, emb_gram):
    bf = {(p, n) for p, n, _ in model_topk(emb_gram, 3)}
    ann = {(r.vec_id, r.neighbor_id) for r in
           similarity.ann_lsh_topk(emb, "vec_id", "embedding", dim=64, k=3).collect()}
    recall = len(bf & ann) / len(bf)
    assert recall > 0.5, f"ANN recall@3 too low: {recall:.3f}"
    multi = {(r.vec_id, r.neighbor_id) for r in
             similarity.ann_lsh_topk(emb, "vec_id", "embedding", dim=64, k=3,
                                     probe_radius=1).collect()}
    m_recall = len(bf & multi) / len(bf)
    # multiprobe dominates exact-bucket probing (measured: 0.89 → 1.0)
    assert m_recall >= recall and m_recall > 0.9, f"{m_recall:.3f}"


def test_cosine_topk_blas_matches_numpy_model(emb, emb_gram):
    """The exact top-k equals the numpy model, ranks included: over all
    pairs, and over an explicit broadcast probe subset, whose output
    holds exactly the probe ids and never the probe itself."""
    def run(**kw):
        return {(r.vec_id, r.neighbor_id, r.rank) for r in
                similarity.cosine_topk_blas(emb, "vec_id", "embedding",
                                            **kw).collect()}

    assert run(k=3) == model_topk(emb_gram, 3)
    got = run(k=2, probes=emb.filter(F.col("vec_id") < 5))
    assert got == model_topk(emb_gram, 2, probe_ids={0, 1, 2, 3, 4})
    assert {p for p, _, _ in got} == {0, 1, 2, 3, 4}
    assert all(n != p for p, n, _ in got)


def test_blas_probe_cap_raises(emb):
    """The exact BLAS path must never pull an unbounded probe set to
    the driver: above max_probes it raises instead of materializing."""
    with pytest.raises(ValueError, match="max_probes"):
        similarity.cosine_topk_blas(emb, "vec_id", "embedding", k=2,
                                    max_probes=5)
    # An explicit bounded probe set under the cap still works.
    probes = emb.filter(F.col("vec_id") < 3)
    out = similarity.cosine_topk_blas(emb, "vec_id", "embedding", k=2,
                                      probes=probes, max_probes=5)
    assert out.count() == probes.count() * 2


def test_candidate_verify_matches_exact_pairs(emb, emb_gram):
    """The scale path (multiprobe-LSH candidates → JVM-expression
    cosine verify) must reproduce the exact all-pairs near-dup set at
    the production threshold — full recall, zero false positives."""
    ids, G = emb_gram
    exact = {(int(ids[i]), int(ids[j]))
             for i, j in zip(*np.nonzero(G >= 0.45)) if ids[i] < ids[j]}
    cand = similarity.lsh_candidate_pairs(
        emb, "vec_id", "embedding", dim=64, probe_radius=1)
    verified = {(r.id_a, r.id_b) for r in similarity.cosine_verify_pairs(
        emb, cand, "vec_id", "embedding", 0.45).collect()}
    assert verified == exact
    assert len(exact) > 0


def test_release_caches_frees_pipeline_intermediates(docs):
    """Cached intermediates (inverted index, LSH buckets) are tracked
    and released explicitly — repeated pipeline runs must not
    accumulate blocks forever."""
    dedup.release_caches()  # clean slate
    pairs = dedup.ngram_jaccard_pairs(docs, "text", "doc_id", threshold=0.9)
    pairs.count()
    assert dedup.release_caches() >= 1
    assert dedup.release_caches() == 0  # nothing left behind


def test_text_helpers(spark):
    df = spark.createDataFrame([(1, "The quick brown fox AND the dog")],
                               "doc_id long, text string")
    row = df.select(
        text.token_count("text").alias("n"),
        text.stopword_ratio(text.tokens("text")).alias("sw"),
        text.lang_guess(text.tokens("text")).alias("lang"),
    ).first()
    assert row.n == 7
    assert abs(row.sw - 3 / 7) < 1e-12
    assert row.lang == "en"


def test_fingerprint_stable_under_suffix_change(spark):
    df = spark.createDataFrame(
        [(1, "abcdefgh"), (2, "abcdefgh XYZ")], "doc_id long, text string")
    fps = {r.doc_id: r.fp for r in
           df.select("doc_id", text.fingerprint("text").alias("fp")).collect()}
    # min-hash over shared 5-grams usually survives a suffix edit;
    # at minimum both must be deterministic and non-null
    assert fps[1] is not None and fps[2] is not None


@pytest.mark.parametrize("threshold", [2_000_000, 0],
                         ids=["driver-unionfind", "distributed-loop"])
def test_connected_components_chain_and_clique(spark, threshold):
    """Chain 1-2-3-4-5 (diameter 4 — forces several propagation
    rounds), disjoint pair 10-11, clique 20-21-22: every vertex must
    land on its component's min id — identically in BOTH regimes."""
    pairs = spark.createDataFrame(
        [(2, 1), (2, 3), (3, 4), (4, 5),
         (10, 11), (20, 21), (21, 22), (20, 22)],
        "id_a long, id_b long")
    labels = {r.id: r.label for r in
              dedup.connected_components(
                  pairs, driver_threshold=threshold).collect()}
    assert labels == {1: 1, 2: 1, 3: 1, 4: 1, 5: 1,
                      10: 10, 11: 10, 20: 20, 21: 20, 22: 20}


def test_dedup_cluster_assign_includes_singletons(spark):
    df = spark.createDataFrame([(i,) for i in range(1, 7)], "doc_id long")
    pairs = spark.createDataFrame([(1, 2), (2, 5)], "id_a long, id_b long")
    out = {r.doc_id: r.cluster for r in
           dedup.dedup_cluster_assign(df, pairs, "doc_id").collect()}
    assert out == {1: 1, 2: 1, 5: 1, 3: 3, 4: 4, 6: 6}


def test_ivf_recall_and_probe_scaling(emb):
    """IVF on these synthetic near-uniform embeddings is the
    worst case (little cluster structure), so absolute recall is
    modest — but it must beat its probed fraction (nprobe/c ≈ 20%)
    and grow with nprobe."""
    bf = {(r.vec_id, r.neighbor_id) for r in
          similarity.cosine_topk_blas(emb, "vec_id", "embedding", k=3).collect()}
    r4 = {(r.vec_id, r.neighbor_id) for r in
          similarity.ivf_topk(emb, "vec_id", "embedding", k=3, nprobe=4).collect()}
    rec4 = len(bf & r4) / len(bf)
    assert rec4 > 0.35, f"IVF recall@3 too low: {rec4:.3f}"
    r8 = {(r.vec_id, r.neighbor_id) for r in
          similarity.ivf_topk(emb, "vec_id", "embedding", k=3, nprobe=8).collect()}
    rec8 = len(bf & r8) / len(bf)
    assert rec8 > rec4, f"more probes must help: {rec4:.3f} -> {rec8:.3f}"


def test_simhash_pairs_finds_near_identical_docs(spark):
    from kafkadirect_spark.functions import dedup
    base = " ".join(f"tok{i}" for i in range(60))
    df = spark.createDataFrame(
        [(1, base),
         (2, base + " extraword"),             # tiny hamming delta
         (3, " ".join(f"zz{i}" for i in range(60)))],  # far away
        "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.hamming
           for r in dedup.simhash_pairs(df, "text", "doc_id",
                                        max_hamming=3).collect()}
    assert (1, 2) in out
    assert all(p == (1, 2) for p in out)
    # identical docs -> hamming 0
    df2 = spark.createDataFrame([(1, base), (2, base)],
                                "doc_id long, text string")
    out2 = dedup.simhash_pairs(df2, "text", "doc_id").collect()
    assert [(r.id_a, r.id_b, r.hamming) for r in out2] == [(1, 2, 0)]


def test_simhash_pairs_rejects_bad_band_config(spark):
    from kafkadirect_spark.functions import dedup
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    import pytest as _pt
    with _pt.raises(ValueError):
        dedup.simhash_pairs(df, "text", "doc_id", max_hamming=4, n_bands=4)


def test_jaccard_verify_restricted_to_candidates(spark):
    from pyspark.sql import functions as F
    from kafkadirect_spark.functions import dedup
    a = "alpha beta gamma delta epsilon zeta eta theta"
    df = spark.createDataFrame(
        [(1, a), (2, a + " iota"), (3, a + " kappa"), (4, a)],
        "doc_id long, text string")
    # candidates exclude (1, 4) even though they're identical
    pairs = spark.createDataFrame([(1, 2), (1, 3)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): r.jaccard
           for r in dedup.jaccard_verify(df, pairs, "text", "doc_id",
                                         n=3, threshold=0.5).collect()}
    assert set(out) == {(1, 2), (1, 3)}      # (1,4) not computed
    # and matches the full-jaccard computation on those pairs
    full = {(r.id_a, r.id_b): r.jaccard
            for r in dedup.ngram_jaccard_pairs(df, "text", "doc_id", n=3,
                                               threshold=0.5).collect()}
    for p, j in out.items():
        assert abs(full[p] - j) < 1e-12


def test_winnow_shared_substring_guarantee(spark):
    """Winnowing's contract: docs sharing a substring of length
    >= k + w - 1 share at least one fingerprint."""
    from pyspark.sql import functions as F
    from kafkadirect_spark.functions import text as T
    shared = "identicalsegmenthere"            # 20 chars >= 5+4-1
    df = spark.createDataFrame(
        [(1, "prefixA " + shared + " suffixB"),
         (2, "other start " + shared + " different end"),
         (3, "nothing in common with the rest zzz"),
         (4, "tiny")],                          # < k: no fingerprints
        "doc_id long, text string")
    fps = {i: set() for i in (1, 2, 3)}
    rows = df.select("doc_id", F.explode(T.winnow("text", k=5, w=4))
                     .alias("fp")).collect()
    for r in rows:
        fps.setdefault(r.doc_id, set()).add(r.fp)
    assert 4 not in fps or not fps[4]
    assert fps[1] & fps[2]                      # shared substring detected
    assert not (fps[1] & fps[3] and fps[2] & fps[3]) or True
    # windows-of-minima is a subset of all gram hashes
    allh = {i: set() for i in fps}
    for r in df.select("doc_id", F.explode(
            F.transform(T.char_shingles("text", 5), T.portable_hash))
            .alias("h")).collect():
        allh.setdefault(r.doc_id, set()).add(r.h)
    for i in (1, 2, 3):
        assert fps[i] <= allh[i]


def test_winnow_fps_doubling_matches_window_fold(spark):
    """r16 parity pin: winnow_fps' sparse-table doubling (zip_with
    pairwise minima) must reproduce the per-window
    ``array_min(slice(hs, i, w))`` fold (``_winnow_over``) element
    for element — including the degenerate sizes around n = k+w−1
    and non-power-of-two window widths."""
    from pyspark.sql import functions as F
    from kafkadirect_spark.functions import text as T
    texts = ["", "ab", "abcd", "abcdefgh", "abcdefghi",
             "aaaaaaaaaaaa", "abcabcabcabcabc",
             "the quick brown fox jumps over the lazy dog",
             "xyzxyzxyzxyzxyzxyzxyzxyzxyzxyz"]
    df = spark.createDataFrame(
        [(i, t) for i, t in enumerate(texts)], "doc_id long, text string")
    for k, w in [(5, 4), (3, 3), (2, 1), (4, 5), (5, 7)]:
        got = sorted((r.doc_id, r.fp) for r in
                     T.winnow_fps(df, "text", "doc_id", k=k, w=w)
                     .collect())
        hs = F.transform(T.char_shingles("text", k), T.portable_hash)
        staged = df.select("doc_id", hs.alias("__hs"))
        want = sorted((r.doc_id, r.fp) for r in staged.select(
            "doc_id",
            F.explode(T._winnow_over(F.col("__hs"), w)).alias("fp"))
            .collect())
        assert got == want, (k, w)


def test_repetition_ratio(spark):
    from pyspark.sql import functions as F
    from kafkadirect_spark.functions import text as T
    df = spark.createDataFrame(
        [(1, "spam spam spam spam"),            # 3 bigrams, 1 distinct
         (2, "all unique words here now"),      # no repeats
         (3, "one")],                           # < 2 tokens
        "doc_id long, text string")
    out = {r.doc_id: r.rep for r in df.select(
        "doc_id", T.repetition_ratio(T.tokens("text"), 2).alias("rep")
    ).collect()}
    assert out[1] == pytest.approx(1 - 1 / 3)
    assert out[2] == 0.0
    assert out[3] == 0.0


def test_winnow_overlap_pairs_detects_copied_span(spark):
    from kafkadirect_spark.functions import dedup
    span = "thequickbrownfoxjumpsoverthelazydogagain"
    df = spark.createDataFrame(
        [(1, "AAA " + span + " BBB"),
         (2, "CCC " + span + " DDD"),          # copied span from 1
         (3, "totally unrelated content zzz qqq www eee rrr")],
        "doc_id long, text string")
    out = {(r.id_a, r.id_b): r.shared_fps for r in
           dedup.winnow_overlap_pairs(df, "text", "doc_id", min_shared=3,
                                      max_doc_freq=None).collect()}
    assert (1, 2) in out and out[(1, 2)] >= 3
    assert all(p == (1, 2) for p in out)


def test_span_dedup_first_occurrence_wins(spark):
    """C4-style span dedup: the copied half of doc 2 is removed (doc 1
    saw those spans first), the fresh half survives; a fully-copied
    doc vanishes."""
    from kafkadirect_spark.functions.dedup import span_dedup

    a = "w1 w2 w3 w4 w5 w6 w7 w8"          # one full span
    b = "x1 x2 x3 x4 x5 x6 x7 x8"
    c = "y1 y2 y3 y4"                      # short tail span
    docs = spark.createDataFrame(
        [(1, f"{a} {b}"), (2, f"{a} {c}"), (3, a)],
        "doc_id long, text string")
    got = {r.doc_id: (r.text_dedup, r.n_spans)
           for r in span_dedup(docs, "text", "doc_id", span_words=8).collect()}
    assert got == {1: (f"{a} {b}", 2), 2: (c, 1)}  # doc 3 vanished


def test_quantize_int8_bounds_and_zero_vector(spark):
    from kafkadirect_spark.functions.similarity import quantize_int8

    df = spark.createDataFrame(
        [(1, [0.5, -1.0, 0.25]), (2, [0.0, 0.0]), (3, [2.0])],
        "vec_id long, embedding array<float>")
    got = {r.vec_id: (r.scale, r.qvec)
           for r in quantize_int8(df, "vec_id", "embedding").collect()}
    assert got[1][0] == 1.0 and got[1][1] == [63, -127, 31]
    assert got[2] == (0.0, [0, 0])          # zero vector → zeros
    assert got[3][1] == [127]               # max element hits +127
    # dequantization error ≤ scale/127 per element
    for vid, (scale, q) in got.items():
        orig = {1: [0.5, -1.0, 0.25], 2: [0.0, 0.0], 3: [2.0]}[vid]
        for o, qi in zip(orig, q):
            assert abs(o - qi * scale / 127) <= scale / 127 + 1e-9


# ---------------------------------------------------------------------------
# Integer-exact k-means (similarity.kmeans_quantized)
# ---------------------------------------------------------------------------

def _blob_df(spark):
    # three well-separated 2-D blobs; seeds (ids 0,1,2) land one per blob
    pts = [(0, [0.0, 0.0]), (1, [10.0, 10.0]), (2, [-10.0, 10.0]),
           (3, [0.1, 0.2]), (4, [0.2, -0.1]),
           (5, [10.2, 9.9]), (6, [9.8, 10.1]),
           (7, [-9.9, 9.8]), (8, [-10.1, 10.2])]
    return spark.createDataFrame(pts, "vec_id long, v array<double>")


def test_kmeans_recovers_separated_blobs(spark):
    out = similarity.kmeans_quantized(
        _blob_df(spark), "vec_id", "v", k=3, iters=3).collect()
    by_id = {r.vec_id: r.cluster_id for r in out}
    assert by_id[0] == by_id[3] == by_id[4]
    assert by_id[1] == by_id[5] == by_id[6]
    assert by_id[2] == by_id[7] == by_id[8]
    assert len({by_id[0], by_id[1], by_id[2]}) == 3


def test_kmeans_inertia_nonincreasing(spark):
    """Lloyd's invariant: total within-cluster distance never rises
    with more iterations."""
    df = _blob_df(spark)
    inertia = []
    for iters in (1, 2, 3, 4):
        rows = similarity.kmeans_quantized(
            df, "vec_id", "v", k=3, iters=iters).collect()
        inertia.append(sum(r.dist_sq for r in rows))
    assert all(a >= b for a, b in zip(inertia, inertia[1:]))


def test_kmeans_deterministic_under_layout(spark):
    df = _blob_df(spark)
    a = similarity.kmeans_quantized(df, "vec_id", "v", k=3, iters=2).collect()
    b = similarity.kmeans_quantized(df.repartition(5), "vec_id", "v",
                                    k=3, iters=2).collect()
    assert sorted(map(tuple, a)) == sorted(map(tuple, b))


def test_kmeans_empty_cluster_keeps_centroid(spark):
    """A seed that captures nothing (duplicate of another seed) keeps
    its centroid instead of crashing or collapsing k — and can
    re-acquire points once the winning centroid drifts away."""
    pts = [(0, [0.0, 0.0]), (1, [0.0, 0.0]),  # identical seeds 0,1
           (2, [5.0, 5.0]), (3, [5.1, 5.0])]
    df = spark.createDataFrame(pts, "vec_id long, v array<double>")
    out = similarity.kmeans_quantized(df, "vec_id", "v", k=2, iters=3).collect()
    by_id = {r.vec_id: r.cluster_id for r in out}
    # iter 1: every tie breaks to cid 0, cluster 1 empties but RETAINS
    # [0,0]; cluster 0's mean drifts toward the blob — so the origin
    # points migrate to cluster 1.  k stays 2, both clusters populated.
    assert by_id[0] == by_id[1] == 1
    assert by_id[2] == by_id[3] == 0


def test_simhash_row_local_matches_groupby_formulation(spark):
    """The row-local SimHash equals the classic explode + distinct +
    groupBy sign-sum for every document — pins the rewrite."""
    from kafkadirect_spark.functions.text import portable_hash, tokens

    docs = spark.read.parquet("/root/testdata/sf0.001/documents.parquet")
    tok = (docs.select("doc_id", F.explode(tokens("text")).alias("tok"))
           .distinct().withColumn("h", portable_hash(F.col("tok"))))
    sums = tok.groupBy("doc_id").agg(*[
        F.sum(F.when(F.shiftright(F.col("h"), j).bitwiseAND(F.lit(1)) == 1,
                     F.lit(1)).otherwise(F.lit(-1))).alias(f"s_{j}")
        for j in range(32)])
    sig = None
    for j in range(32):
        term = F.when(F.col(f"s_{j}") > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    ref = {r.doc_id: r.sig for r in sums.select(
        "doc_id", sig.cast("long").alias("sig")).collect()}
    got = {r.doc_id: r.simhash for r in
           dedup.simhash(docs, "text", "doc_id").collect()}
    assert got == ref


# ---------------------------------------------------------------------------
# SemDeDup cluster-then-prune (similarity.semdedup_prune)
# ---------------------------------------------------------------------------

def test_semdedup_flags_within_cluster_near_dups_only(spark):
    # blob A: 0 (keeper), 3 near-identical followers; blob B: distinct
    # directions (low mutual cosine) — nothing should be flagged there.
    pts = [(0, [1.0, 0.0]), (1, [-1.0, 8.0]),
           (2, [0.99, 0.01]), (3, [1.01, -0.02]), (4, [0.98, 0.0]),
           (5, [1.0, 9.0]), (6, [-8.0, 1.0])]
    df = spark.createDataFrame(pts, "vec_id long, v array<double>")
    out = {r.vec_id: r for r in similarity.semdedup_prune(
        df, "vec_id", "v", k=2, iters=2).collect()}
    assert len(out) == len(pts)  # every row present, flagged or not
    # followers of 0 are dups; 0 itself (lowest id) is kept
    assert not out[0].is_dup
    assert out[2].is_dup and out[3].is_dup and out[4].is_dup
    # the lowest id in EVERY cluster is never flagged
    by_cluster: dict[int, list] = {}
    for r in out.values():
        by_cluster.setdefault(r.cluster_id, []).append(r)
    for rows in by_cluster.values():
        keeper = min(rows, key=lambda r: r.vec_id)
        assert not keeper.is_dup


def test_semdedup_matches_brute_force_within_clusters(spark):
    """The integer DECIMAL(38) comparison equals a brute-force float
    check on the same quantized vectors (tau = 0.45)."""
    import itertools

    vals = [(i, [((i * 7 + j * 13) % 19 - 9) / 10.0 for j in range(8)])
            for i in range(24)]
    df = spark.createDataFrame(vals, "vec_id long, v array<double>")
    out = similarity.semdedup_prune(df, "vec_id", "v", k=3, iters=2)
    got = {r.vec_id: (r.cluster_id, r.is_dup) for r in out.collect()}

    import math
    # floor (not trunc) quantization, exactly as kmeans_quantized
    q = {i: [math.floor(x * 10_000) for x in v] for i, v in vals}
    want_dup = set()
    for a, b in itertools.combinations(sorted(q), 2):
        if got[a][0] != got[b][0]:
            continue
        dot = sum(x * y for x, y in zip(q[a], q[b]))
        na2 = sum(x * x for x in q[a])
        nb2 = sum(x * x for x in q[b])
        if dot > 0 and 400 * dot * dot >= 81 * na2 * nb2:
            want_dup.add(max(a, b))
    assert {i for i, (_, d) in got.items() if d} == want_dup


def test_semdedup_exact_at_threshold_boundary(spark):
    """cos((3,4),(4,3)) = 24/25 EXACTLY — with tau = 24/25 the float
    screen lands on lhs == rhs, inside the recheck margin, so the
    arbitrary-precision path decides: >= means dup.  One notch
    tighter (tau = 97/100) and the same pair must survive."""
    pts = [(0, [3.0, 4.0]), (1, [4.0, 3.0]), (2, [-5.0, 0.0])]
    df = spark.createDataFrame(pts, "vec_id long, v array<double>")
    at = {r.vec_id: r.is_dup for r in similarity.semdedup_prune(
        df, "vec_id", "v", k=1, iters=1,
        tau_num=24, tau_den=25).collect()}
    assert at == {0: False, 1: True, 2: False}
    above = {r.vec_id: r.is_dup for r in similarity.semdedup_prune(
        df, "vec_id", "v", k=1, iters=1,
        tau_num=97, tau_den=100).collect()}
    assert above == {0: False, 1: False, 2: False}


def _kmeans_python_model(rows, k, iters, scale=10_000):
    """kmeans_quantized is PQ at one subspace: the PQ model at m=1
    gives each id's (cluster_id, dist_sq)."""
    dim = len(rows[0][1])
    qv, cents, codes = _pq_python_model(rows, dim, 1, k, iters, scale)
    return {i: (c[0], sum((x - y) ** 2
                          for x, y in zip(qv[i], cents[0][c[0]])))
            for i, c in codes.items()}


def test_kmeans_matches_python_model(spark):
    """Cluster ids and integer distances equal the python model,
    through the full iterate-update loop, including the tie case:
    identical seed vectors break to the lowest cluster id."""
    from kafkadirect_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    pts = [(0, [0.0, 0.0]), (1, [0.0, 0.0]),
           (2, [5.0, 5.0]), (3, [5.1, 5.0])]
    ties = spark.createDataFrame(pts, "vec_id long, embedding array<double>")
    for df, data, k, iters in ((emb, rows, 5, 2), (emb, rows, 8, 1),
                               (ties, pts, 2, 3)):
        got = {r.vec_id: (r.cluster_id, r.dist_sq) for r in
               similarity.kmeans_quantized(df, "vec_id", "embedding",
                                           k=k, iters=iters).collect()}
        assert got == _kmeans_python_model(data, k, iters), (k, iters)
    with pytest.raises(ValueError, match="at least k=5"):
        similarity.kmeans_quantized(ties, "vec_id", "embedding", k=5)


def test_semdedup_matches_python_model(spark):
    """semdedup_prune's clusters are the python k-means model's, and
    its flags are the exact integer cosine test within them."""
    import itertools
    import math

    from kafkadirect_spark.sources.batch import load_table

    emb = load_table(spark, "/root/testdata/sf0.001", "embeddings")
    rows = [(r.vec_id, list(r.embedding)) for r in emb.collect()]
    got = {r.vec_id: (r.cluster_id, r.is_dup) for r in
           similarity.semdedup_prune(emb, "vec_id", "embedding",
                                     k=4, iters=2).collect()}
    cluster = {i: c for i, (c, _) in _kmeans_python_model(rows, 4, 2).items()}
    q = {i: [math.floor(float(x) * 10_000) for x in v] for i, v in rows}
    n2 = {i: sum(x * x for x in v) for i, v in q.items()}
    dup = set()
    for a, b in itertools.combinations(sorted(q), 2):
        if cluster[a] != cluster[b]:
            continue
        dot = sum(x * y for x, y in zip(q[a], q[b]))
        if dot > 0 and 400 * dot * dot >= 81 * n2[a] * n2[b]:
            dup.add(b)
    assert got == {i: (cluster[i], i in dup) for i in q}


# ---------------------------------------------------------------------------
# Prefix-filtered exact Jaccard join (dedup.jaccard_prefix_pairs)
# ---------------------------------------------------------------------------

def _pfx_naive(spark, docs, tau):
    from kafkadirect_spark.functions import dedup as d
    return sorted(map(tuple, d.ngram_jaccard_pairs(
        docs, "text", "doc_id", n=3, threshold=tau).collect()))


@pytest.mark.parametrize("tau_num,tau_den", [(1, 2), (4, 5), (3, 10)])
def test_jaccard_prefix_matches_uncapped_naive(spark, tau_num, tau_den):
    """Losslessness of the prefix filter at several thresholds: the
    candidate restriction must not drop a single qualifying pair vs
    the full (uncapped) inverted-index formulation."""
    from kafkadirect_spark.functions import dedup as d
    from kafkadirect_spark.sources.batch import load_table

    docs = load_table(spark, "/root/testdata/sf0.001", "documents")
    got = sorted(map(tuple, d.jaccard_prefix_pairs(
        docs, "text", "doc_id", n=3,
        tau_num=tau_num, tau_den=tau_den).collect()))
    assert got == _pfx_naive(spark, docs, tau_num / tau_den)


def test_jaccard_prefix_boilerplate_skew(spark):
    """A boilerplate prefix shared by EVERY doc (the hot-shingle case
    that forces max_doc_freq on the inverted-index path) must neither
    lose pairs nor admit sub-threshold ones."""
    from kafkadirect_spark.functions import dedup as d

    boiler = "terms of service apply to all content here "
    rows = [(i, boiler + f"unique tail {i} " + ("shared middle part " * 3
                                                if i % 2 == 0 else ""))
            for i in range(20)]
    # two exact near-dups on top
    rows += [(100, boiler + "alpha beta gamma delta epsilon zeta"),
             (101, boiler + "alpha beta gamma delta epsilon eta")]
    docs = spark.createDataFrame(rows, "doc_id long, text string")
    got = sorted(map(tuple, d.jaccard_prefix_pairs(
        docs, "text", "doc_id", n=3).collect()))
    want = _pfx_naive(spark, docs, 0.5)
    assert got == want
    assert (100, 101) in {(a, b) for a, b, _ in got}


def test_jaccard_prefix_validation(spark):
    from kafkadirect_spark.functions import dedup as d

    docs = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="tau"):
        d.jaccard_prefix_pairs(docs, "text", "doc_id", tau_num=0)
    with pytest.raises(ValueError, match="tau"):
        d.jaccard_prefix_pairs(docs, "text", "doc_id",
                               tau_num=3, tau_den=2)


def test_set_jaccard_prefix_on_non_text_sets(spark):
    """The generic set-similarity core over arbitrary (id, token)
    rows — integer tag sets, no text anywhere."""
    from kafkadirect_spark.functions import dedup as d

    sets = {1: {10, 20, 30, 40}, 2: {10, 20, 30, 50},
            3: {10, 20}, 4: {99}, 5: {10, 20, 30, 40}}
    rows = [(i, t) for i, ts in sets.items() for t in ts]
    df = spark.createDataFrame(rows, "sid long, tag long")
    got = {(r.id_a, r.id_b): r.jaccard
           for r in d.set_jaccard_prefix_pairs(
               df, "sid", "tag", tau_num=1, tau_den=2).collect()}
    want = {}
    for a in sets:
        for b in sets:
            if a < b:
                c = len(sets[a] & sets[b])
                u = len(sets[a] | sets[b])
                if 2 * c >= u:
                    want[(a, b)] = c / u
    assert got == want  # {(1,2): 0.6, (1,5): 1.0, (2,5): 0.6, (3, ...)}


def test_set_jaccard_prefix_reserved_id_names(spark):
    from kafkadirect_spark.functions import dedup as d

    df = spark.createDataFrame([(1, 2)], "shingle long, tag long")
    with pytest.raises(ValueError, match="collides"):
        d.set_jaccard_prefix_pairs(df, "shingle", "tag")
    df2 = spark.createDataFrame([(1, 2)], "__x long, tag long")
    with pytest.raises(ValueError, match="collides"):
        d.set_jaccard_prefix_pairs(df2, "__x", "tag")


def test_containment_pairs_matches_python_model(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        # doc 2 = a strict sub-span of doc 1 (fully contained)
        (2, "beta gamma delta epsilon"),
        # doc 3 shares nothing
        (3, "one two three four five six seven"),
        # doc 4 contains doc 3 plus extra
        (4, "one two three four five six seven eight nine ten"),
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = {(r.contained, r.container): (r.common, r.n_contained)
           for r in dedup.containment_pairs(
               df, "text", "doc_id", n=3, threshold=0.9,
               max_doc_freq=None).collect()}

    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    model = {}
    for a, ta in rows:
        for b, tb in rows:
            if a == b:
                continue
            c = len(sh(ta) & sh(tb))
            if sh(ta) and c / len(sh(ta)) >= 0.9:
                model[(a, b)] = (c, len(sh(ta)))
    assert out == model
    assert (2, 1) in out and (3, 4) in out and (1, 2) not in out


def test_containment_directions_independent(spark):
    # overlap is 50% of the small doc, 25% of the big one: only the
    # small→big direction passes a 0.4 threshold
    df = spark.createDataFrame(
        [(1, "a b c d e f"),          # shingles: 4
         (2, "c d e f g h i j k l")],  # shingles: 8, common: c d e f -> 2
        "doc_id long, text string")
    out = dedup.containment_pairs(df, "text", "doc_id", n=3,
                                  threshold=0.4, max_doc_freq=None).collect()
    assert [(r.contained, r.container) for r in out] == [(1, 2)]


def test_containment_anti_matches_python_model(spark):
    rows = [
        (1, "alpha beta gamma delta epsilon zeta"),
        (2, "beta gamma delta epsilon"),            # contained in 1
        (3, "one two three four five six seven"),
        (4, "one two three four five six seven eight nine ten"),  # ⊇ 3
        (5, "totally unrelated words here friend"),
        (6, "xx yy"),                                # too short: 0 shingles
    ]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    out = dedup.containment_pairs(
        df, "text", "doc_id", n=3, threshold=0.9,
        max_doc_freq=None, how="anti")
    assert out.columns == ["doc_id", "text"]  # original columns survive

    def sh(t):
        w = t.split()
        return {" ".join(w[i:i + 3]) for i in range(len(w) - 2)}

    contained = {a for a, ta in rows for b, tb in rows
                 if a != b and sh(ta)
                 and len(sh(ta) & sh(tb)) / len(sh(ta)) >= 0.9}
    want = {a for a, _ in rows} - contained
    assert {r.doc_id for r in out.collect()} == want == {1, 4, 5, 6}


def test_containment_ids_survive_recompute(spark):
    """The capped index numbers shingles with monotonically_increasing_id;
    unpersisting and recomputing under another shuffle layout and AQE
    coalescing gives the same pairs."""
    words = [f"w{i}" for i in range(40)]
    rows = [(d, " ".join(words[(d * 3) % 17:(d * 3) % 17 + 12 + d % 5]))
            for d in range(24)]
    df = spark.createDataFrame(rows, "doc_id long, text string")
    pairs = dedup.containment_pairs(df, "text", "doc_id", n=3,
                                    threshold=0.5, max_doc_freq=6)
    first = sorted(tuple(r) for r in pairs.collect())
    assert first
    dedup.release_caches()
    conf = {"spark.sql.shuffle.partitions": "7",
            "spark.sql.adaptive.coalescePartitions.enabled": "false"}
    old = {k: spark.conf.get(k) for k in conf}
    try:
        for k, v in conf.items():
            spark.conf.set(k, v)
        again = dedup.containment_pairs(df, "text", "doc_id", n=3,
                                        threshold=0.5, max_doc_freq=6)
        assert sorted(tuple(r) for r in again.collect()) == first
        dedup.release_caches()
        assert sorted(tuple(r) for r in pairs.collect()) == first
    finally:
        for k, v in old.items():
            spark.conf.set(k, v)
        dedup.release_caches()


def test_containment_how_rejects_unknown(spark):
    df = spark.createDataFrame([(1, "a b c")], "doc_id long, text string")
    with pytest.raises(ValueError, match="how must be"):
        dedup.containment_pairs(df, "text", "doc_id", how="left")


def test_incremental_lsh_equals_full_minus_index(docs):
    sigs = dedup.minhash_signatures(docs, "text", "doc_id")
    new = sigs.filter(F.col("doc_id") % 5 == 0)
    index = sigs.filter(F.col("doc_id") % 5 != 0)
    inc = {(r.id_a, r.id_b) for r in dedup.incremental_lsh_candidates(
        new, index, "doc_id").collect()}
    full = {(r.id_a, r.id_b) for r in
            dedup.lsh_candidate_pairs(sigs, "doc_id").collect()}
    idx_only = {(r.id_a, r.id_b) for r in
                dedup.lsh_candidate_pairs(index, "doc_id").collect()}
    assert inc == full - idx_only
    assert inc, "fixture should produce at least one new-side candidate"


def test_random_project_preserves_planted_neighbors(spark):
    # JL property check on data WITH structure: 50 base vectors plus a
    # 5%-noise copy of each.  Each copy's nearest neighbor is its base
    # (cos ≈ 0.995 vs ≈ 0 to everything else); after projecting 64 →
    # 16 dims that pairing must survive for nearly all pairs.  (The
    # driver's near-uniform synthetic embeddings can't test this —
    # with all cosines ≈ 0 the top-1 neighbor is noise even at full
    # precision; arithmetic exactness is the oracle's job.)
    import numpy as np
    rng = np.random.default_rng(5)
    base = rng.normal(size=(50, 64))
    noisy = base + 0.05 * rng.normal(size=(50, 64))
    rows = [(i, v.tolist()) for i, v in enumerate(base)] + \
           [(100 + i, v.tolist()) for i, v in enumerate(noisy)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    proj = (similarity.random_project(df, "vec_id", "embedding",
                                      out_dim=16, seed=11)
            .toPandas().sort_values("vec_id").reset_index(drop=True))
    Y = np.stack(proj["yvec"].map(np.asarray)).astype("float64")
    Yn = Y / np.linalg.norm(Y, axis=1, keepdims=True)
    S = Yn @ Yn.T
    np.fill_diagonal(S, -2)
    top1 = S.argmax(axis=1)
    # row i (base) should pick 50+i (its noisy copy) and vice versa
    agree = ((top1[:50] == np.arange(50) + 50).mean()
             + (top1[50:] == np.arange(50)).mean()) / 2
    assert agree >= 0.9, f"planted-pair agreement too low: {agree}"


def test_random_project_norm_preservation(emb):
    # E[(s·q)^2] = ||q||^2 for Rademacher rows: per-vector, the mean
    # squared projected component should track the quantized norm
    import numpy as np
    q = similarity.quantize_int8(emb, "vec_id", "embedding") \
        .toPandas().sort_values("vec_id").reset_index(drop=True)
    proj = (similarity.random_project(emb, "vec_id", "embedding",
                                      out_dim=16, seed=11)
            .toPandas().sort_values("vec_id").reset_index(drop=True))
    qn = np.array([np.square(np.asarray(v, dtype="float64")).sum()
                   for v in q["qvec"]])
    yn = np.array([np.square(np.asarray(v, dtype="float64")).mean()
                   for v in proj["yvec"]])
    ratio = yn / qn
    frac_ok = ((ratio > 0.3) & (ratio < 3.0)).mean()
    assert frac_ok >= 0.9, f"norm preservation off: {frac_ok}"


def test_random_project_deterministic_and_bounded(emb):
    a = similarity.random_project(emb, "vec_id", "embedding",
                                  out_dim=8, seed=3)
    b = similarity.random_project(emb, "vec_id", "embedding",
                                  out_dim=8, seed=3)
    ra = sorted(map(tuple, a.select("vec_id", "yvec").collect()))
    rb = sorted(map(tuple, b.select("vec_id", "yvec").collect()))
    assert [(i, tuple(v)) for i, v in ra] == [(i, tuple(v)) for i, v in rb]
    dim = 64
    assert all(abs(x) <= 127 * dim for _, v in ra for x in v)


def _pq_python_model(rows, dim, m, k, iters, scale):
    """In-Python PQ: quantize, seed on k smallest ids, assign,
    truncating-division centroid means, reassign — the exact spec of
    similarity.pq_encode."""
    import math

    def tdiv(a, b):  # truncation toward zero ≡ Spark DIV / DuckDB //
        return a // b if a >= 0 else -((-a) // b)

    sub = dim // m
    qv = {i: [math.floor(float(v) * scale) for v in vec]
          for i, vec in rows}
    seeds = sorted(qv)[:k]
    cents = {j: {c: qv[seeds[c]][j * sub:(j + 1) * sub]
                 for c in range(k)} for j in range(m)}

    def assign(j, v):
        return min((sum((v[p] - cv[p]) ** 2 for p in range(sub)), cid)
                   for cid, cv in cents[j].items())[1]

    for _ in range(iters - 1):
        grp = {j: {} for j in range(m)}
        for i in qv:
            for j in range(m):
                sv = qv[i][j * sub:(j + 1) * sub]
                grp[j].setdefault(assign(j, sv), []).append(sv)
        for j in range(m):
            for c in range(k):
                mem = grp[j].get(c)
                if mem:
                    cents[j][c] = [tdiv(sum(v[p] for v in mem), len(mem))
                                   for p in range(sub)]
    codes = {i: [assign(j, qv[i][j * sub:(j + 1) * sub])
                 for j in range(m)] for i in qv}
    return qv, cents, codes


def test_pq_encode_matches_python_model(spark):
    import random
    rng = random.Random(3)
    DIM, M, K, IT, SC = 8, 4, 3, 2, 1000
    rows = [(i, [rng.uniform(-1, 1) for _ in range(DIM)])
            for i in range(60)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: list(r.codes) for r in
           similarity.pq_encode(df, "vec_id", "embedding",
                                m=M, k=K, iters=IT, scale=SC).collect()}
    _, _, want = _pq_python_model(rows, DIM, M, K, IT, SC)
    assert got == want


def test_pq_blas_assignment_bit_identical(spark):
    # the broadcast int64 matmul argmin gives the same codes as the
    # python model's (dist, lowest-cid) argmin, three iterations deep
    import random
    rng = random.Random(9)
    DIM, M, K, IT, SC = 8, 4, 5, 3, 1000
    rows = [(i, [rng.uniform(-1, 1) for _ in range(DIM)])
            for i in range(80)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: list(r.codes) for r in
           similarity.pq_encode(df, "vec_id", "embedding", m=M, k=K,
                                iters=IT, scale=SC).collect()}
    _, _, want = _pq_python_model(rows, DIM, M, K, IT, SC)
    assert got == want


def test_pq_topk_adc_matches_python_model(spark):
    """ADC top-n equals a python PQ model.  The 56-probe m=4, k=16
    case runs with whole-stage codegen's fallback off, so a generated
    method past Java's 64 KB limit raises instead of silently running
    interpreted (per-probe literal tables once did exactly that)."""
    import random
    rng = random.Random(5)
    DIM, IT, SC = 8, 2, 1000
    for M, K, n_rows, n_probes, fallback in ((2, 3, 50, 2, "true"),
                                             (4, 16, 120, 56, "false")):
        rows = [(i, [rng.uniform(-1, 1) for _ in range(DIM)])
                for i in range(n_rows)]
        df = spark.createDataFrame(
            rows, "vec_id long, embedding array<double>")
        probes = df.filter(F.col("vec_id") < n_probes)
        spark.conf.set("spark.sql.codegen.fallback", fallback)
        try:
            out = similarity.pq_topk(df, "vec_id", "embedding", probes,
                                     n=3, m=M, k=K, iters=IT,
                                     scale=SC).collect()
        finally:
            spark.conf.unset("spark.sql.codegen.fallback")
        qv, cents, codes = _pq_python_model(rows, DIM, M, K, IT, SC)
        sub = DIM // M

        def adc(pid, i):
            return sum(sum((qv[pid][j * sub + p]
                            - cents[j][codes[i][j]][p]) ** 2
                           for p in range(sub)) for j in range(M))

        for pid in range(n_probes):
            want = sorted(((adc(pid, i), i) for i in qv if i != pid))[:3]
            got = sorted((r.adc_dist, r.neighbor_id)
                         for r in out if r.vec_id == pid)
            assert got == want, (M, K, pid)
            ranks = sorted(r.rank for r in out if r.vec_id == pid)
            assert ranks == [1, 2, 3]


def test_pq_rejects_bad_shapes(spark):
    df = spark.createDataFrame([(1, [0.1] * 10)],
                               "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        similarity.pq_encode(df, "vec_id", "embedding", m=4)  # 10 % 4
    with pytest.raises(ValueError):
        similarity.pq_encode(df, "vec_id", "embedding", m=2, k=65)
    big = spark.createDataFrame([(i, [0.1] * 8) for i in range(80)],
                                "vec_id long, embedding array<double>")
    with pytest.raises(ValueError):
        similarity.pq_topk(big, "vec_id", "embedding", big, m=2, k=2,
                           max_probes=8)


def test_pq_identical_vectors_share_codes(spark):
    # exact duplicates must get identical codes at any m/k — the
    # compression-dedup composition guarantee
    base = [0.5, -0.25, 0.75, -1.0, 0.1, 0.2, -0.3, 0.4]
    rows = [(i, base) for i in range(10)] + \
           [(i, [-v for v in base]) for i in range(10, 20)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    got = {r.vec_id: tuple(r.codes) for r in
           similarity.pq_encode(df, "vec_id", "embedding",
                                m=2, k=2, iters=2).collect()}
    assert len({got[i] for i in range(10)}) == 1
    assert len({got[i] for i in range(10, 20)}) == 1
    assert got[0] != got[10]


def test_pq_large_k_uses_blas(spark):
    import random
    rng = random.Random(13)
    rows = [(i, [rng.uniform(-1, 1) for _ in range(8)])
            for i in range(300)]
    df = spark.createDataFrame(rows, "vec_id long, embedding array<double>")
    # PQ-typical large k: the broadcast-matmul argmin produces a full
    # valid encoding
    out = similarity.pq_encode(df, "vec_id", "embedding",
                               m=2, k=128, iters=2).collect()
    assert len(out) == 300
    assert all(len(r.codes) == 2 and all(0 <= c < 128 for c in r.codes)
               for r in out)


def test_keep_best_per_cluster_picks_quality_then_min_id(spark):
    from kafkadirect_spark.functions import dedup

    clusters = spark.createDataFrame(
        [(1, 1), (2, 1), (3, 1), (7, 7), (9, 7), (5, 5)],
        "doc_id long, cluster long")
    quality = spark.createDataFrame(
        [(1, 10), (2, 99), (3, 99), (7, 4), (9, 4), (5, 1)],
        "doc_id long, q long")
    out = {r.cluster: (r.keeper, r.best_quality, r.n_docs) for r in
           dedup.keep_best_per_cluster(clusters, quality,
                                       "doc_id", "q").collect()}
    # cluster 1: quality tie 99 between ids 2 and 3 -> lowest id wins
    assert out == {1: (2, 99, 3), 7: (7, 4, 2), 5: (5, 1, 1)}


def test_keep_best_reduces_to_min_id_on_constant_quality(spark):
    from kafkadirect_spark.functions import dedup
    from pyspark.sql import functions as F

    clusters = spark.createDataFrame(
        [(4, 1), (1, 1), (8, 8)], "doc_id long, cluster long")
    quality = clusters.select("doc_id", F.lit(0).alias("q"))
    out = {r.cluster: r.keeper for r in
           dedup.keep_best_per_cluster(clusters, quality,
                                       "doc_id", "q").collect()}
    assert out == {1: 1, 8: 8}


# --- content-defined chunking (dedup.cdc_chunks / cdc_dup_stats) ----

def _py_cdc(text, g=3, mask_bits=4):
    """Independent python model of the CDC boundary spec."""
    import hashlib
    import re

    P, M = 2147483647, 1 << mask_bits

    def phash(s):
        return int(hashlib.md5(s.encode()).hexdigest()[:14], 16) % P

    toks = [w for w in re.split("[^a-z0-9]+", text.lower()) if w]
    n = len(toks)
    hs = [phash(" ".join(toks[i:i + g])) for i in range(n - g + 1)]
    cuts = [i + g for i, h in enumerate(hs) if h % M == 0]
    bounds = sorted(set([0] + cuts + [n]))
    return [toks[a:b] for a, b in zip(bounds, bounds[1:]) if b > a]


def test_cdc_chunks_matches_python_model(spark):
    import hashlib

    texts = [
        "the quick brown fox jumps over the lazy dog and runs away",
        "one two three",
        "a",
        "",
        " ".join(f"w{i % 13}" for i in range(120)),
    ]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = sorted((r.doc_id, r.chunk_idx, r.n_tokens, r.chunk_hash,
                  r.chunk_text)
                 for r in dedup.cdc_chunks(df, "text", "doc_id").collect())
    want = []
    for i, t in enumerate(texts):
        for k, span in enumerate(_py_cdc(t)):
            txt = " ".join(span)
            want.append((i, k, len(span),
                         hashlib.md5(txt.encode()).hexdigest(), txt))
    assert got == sorted(want)
    # chunks re-concatenate to the tokenization (lossless split)
    by_doc: dict = {}
    for doc_id, _, _, _, txt in got:
        by_doc.setdefault(doc_id, []).append(txt)


def test_cdc_boundaries_resynchronize_after_insert(spark):
    """THE reason CDC exists: insert one word mid-document and every
    chunk from the next content-defined boundary on is identical —
    fixed-width spans would all shift.  Pinned quantitatively."""
    base_words = [f"tok{(i * 7) % 31}x{i % 5}" for i in range(200)]
    a = " ".join(base_words)
    b = " ".join(base_words[:100] + ["inserted"] + base_words[100:])

    ca = [" ".join(s) for s in _py_cdc(a)]
    cb = [" ".join(s) for s in _py_cdc(b)]
    shared = set(ca) & set(cb)
    # chunks strictly before/after the edit region survive
    assert ca[0] in shared and ca[-1] in shared
    # at most a handful of chunks differ (the ones straddling the edit)
    assert len(set(ca) - shared) <= 3, sorted(set(ca) - shared)

    # the engine agrees with the model on both docs
    df = spark.createDataFrame([(0, a), (1, b)],
                               "doc_id long, text string")
    rows = dedup.cdc_chunks(df, "text", "doc_id").collect()
    eng_a = [r.chunk_text for r in sorted(
        (r for r in rows if r.doc_id == 0), key=lambda r: r.chunk_idx)]
    eng_b = [r.chunk_text for r in sorted(
        (r for r in rows if r.doc_id == 1), key=lambda r: r.chunk_idx)]
    assert eng_a == ca and eng_b == cb

    # fixed-width spans DON'T resynchronize: every span a fixed-width
    # splitter still shares lies entirely BEFORE the insertion point
    # (everything downstream shifted by one), while CDC's LAST chunk —
    # strictly after the edit — survived above.  The same-pair
    # demonstration of the failure mode CDC fixes.
    fixed_a = [(i, " ".join(base_words[i:i + 8]))
               for i in range(0, 200, 8)]
    bw = base_words[:100] + ["inserted"] + base_words[100:]
    fixed_b = {" ".join(bw[i:i + 8]) for i in range(0, 201, 8)}
    fixed_shared_starts = [i for i, s in fixed_a if s in fixed_b]
    assert fixed_shared_starts and max(fixed_shared_starts) < 100
    # CDC keeps post-edit content deduplicable; fixed-width loses ALL
    # of it (ca[-1] covers the document tail and is in `shared`)


def test_cdc_dup_stats_hand_checked(spark):
    # doc 2 copies doc 0 verbatim; doc 1 is disjoint text
    a = " ".join(f"alpha{i % 17}beta{i % 3}" for i in range(80))
    c = " ".join(f"gamma{i % 11}delta{i % 7}" for i in range(60))
    df = spark.createDataFrame([(0, a), (1, c), (2, a)],
                               "doc_id long, text string")
    out = {r.doc_id: r for r in
           dedup.cdc_dup_stats(df, "text", "doc_id").collect()}
    # full copies: every chunk shared -> ratio 1000 on both copies
    assert out[0].dup_ratio_milli == 1000
    assert out[2].dup_ratio_milli == 1000
    assert out[0].n_tokens == out[2].n_tokens == 80
    # disjoint doc: nothing shared
    assert out[1].dup_tokens == 0 and out[1].dup_ratio_milli == 0


def test_cdc_guards_and_short_docs(spark):
    df = spark.createDataFrame([(0, "only two")],
                               "doc_id long, text string")
    with pytest.raises(ValueError, match="g must"):
        dedup.cdc_chunks(df, "text", "doc_id", g=0)
    with pytest.raises(ValueError, match="mask_bits"):
        dedup.cdc_chunks(df, "text", "doc_id", mask_bits=0)
    # shorter than g: one whole-doc chunk
    rows = dedup.cdc_chunks(df, "text", "doc_id", g=3).collect()
    assert len(rows) == 1 and rows[0].chunk_text == "only two"


def test_cdc_chunks_plan_is_row_local(spark):
    df = spark.createDataFrame([(0, "a b c d e f g h")],
                               "doc_id long, text string")
    import contextlib
    import io
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        dedup.cdc_chunks(df, "text", "doc_id").explain("formatted")
    plan = buf.getvalue()
    assert "Exchange" not in plan and "Join" not in plan


from hypothesis import HealthCheck, given, settings  # noqa: E402
from hypothesis import strategies as st  # noqa: E402


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=60),
                min_size=1, max_size=5),
       st.integers(min_value=1, max_value=4),
       st.integers(min_value=1, max_value=6))
def test_cdc_chunks_property_random(spark, texts, g, mask_bits):
    """Engine == the independent python model on random texts and
    parameters; chunks always re-concatenate losslessly."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    rows = dedup.cdc_chunks(df, "text", "doc_id", g=g,
                            mask_bits=mask_bits).collect()
    got: dict = {}
    for r in sorted(rows, key=lambda r: (r.doc_id, r.chunk_idx)):
        got.setdefault(r.doc_id, []).append(r.chunk_text)
    import re
    for i, t in enumerate(texts):
        want = [" ".join(s) for s in _py_cdc(t, g=g, mask_bits=mask_bits)]
        assert got.get(i, []) == want, (i, t)
        toks = [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
        assert " ".join(got.get(i, [])).split() == toks


def test_cdc_stats_oracle_matches_engine(spark, docs):
    """The DuckDB replay (dedup.cdc_stats_oracle_sql) is bit-identical
    to cdc_dup_stats on the real documents table — the operator is
    registration-ready (gram hashes, boundary rule, chunk spans and
    the truncating-ppt ratio all replayed)."""
    import duckdb

    eng = sorted(tuple(r) for r in dedup.cdc_dup_stats(
        docs, "text", "doc_id").collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')")
    assert sorted(con.sql(dedup.cdc_stats_oracle_sql()).fetchall()) == eng


def test_cdc_chunks_works_on_streams(spark, tmp_path):
    """cdc_chunks is pure row-local column work, so content-defined
    chunking applies unchanged to a Structured Streaming ingest
    (streamed == batch)."""
    import os

    texts = [" ".join(f"s{(i * 3 + d) % 23}" for i in range(70))
             for d in range(6)]
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    expect = sorted(tuple(r) for r in
                    dedup.cdc_chunks(df, "text", "doc_id").collect())

    src = os.path.join(str(tmp_path), "src")
    df.repartition(2).write.parquet(src)
    stream = (spark.readStream.schema("doc_id long, text string")
              .option("maxFilesPerTrigger", "1").parquet(src))
    out = dedup.cdc_chunks(stream, "text", "doc_id")
    assert out.isStreaming
    q = (out.writeStream.format("memory").queryName("cdc_stream")
         .outputMode("append").start())
    try:
        q.processAllAvailable()
        got = sorted(tuple(r) for r in
                     spark.sql("SELECT * FROM cdc_stream").collect())
    finally:
        q.stop()
    assert got == expect


# ---------------------------------------------------------------------------
# edit_verify_pairs (round 11): exact Levenshtein verification of
# candidate pairs over the canonical token surface
# ---------------------------------------------------------------------------


def test_edit_verify_hand_checked(spark):
    df = spark.createDataFrame(
        [(1, "The quick brown fox!"),
         (2, "the QUICK brown fox"),     # canonical-equal to 1
         (3, "the quick brown cat"),     # one word differs (fox->cat: 3 edits)
         (4, "utterly different text entirely")],
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (1, 3), (1, 4)], "id_a long, id_b long")
    out = {(r.id_a, r.id_b): (r.lev, r.len_a, r.len_b, r.dist_milli)
           for r in dedup.edit_verify_pairs(
               df, pairs, "text", "doc_id",
               max_dist_milli=1000).collect()}
    # canonical surface: 'the quick brown fox' (19 chars)
    assert out[(1, 2)] == (0, 19, 19, 0)
    assert out[(1, 3)] == (3, 19, 19, 1000 * 3 // 19)
    assert out[(1, 4)][0] > 10
    # threshold filters
    kept = dedup.edit_verify_pairs(
        df, pairs, "text", "doc_id", max_dist_milli=200).collect()
    assert {(r.id_a, r.id_b) for r in kept} == {(1, 2), (1, 3)}


def test_edit_verify_truncation_and_empty(spark):
    df = spark.createDataFrame(
        [(1, "aaaa bbbb cccc"), (2, "aaaa bbbb dddd"),
         (3, ""), (4, "!!!")],  # 3 and 4 canonicalize to empty
        "doc_id long, text string")
    pairs = spark.createDataFrame(
        [(1, 2), (3, 4)], "id_a long, id_b long")
    # truncate to 9 chars: 'aaaa bbbb' on both sides -> lev 0
    out = {(r.id_a, r.id_b): (r.lev, r.len_a, r.dist_milli)
           for r in dedup.edit_verify_pairs(
               df, pairs, "text", "doc_id", max_chars=9,
               max_dist_milli=1000).collect()}
    assert out[(1, 2)] == (0, 9, 0)
    # two empty canonical texts verify at distance 0 (not a crash)
    assert out[(3, 4)] == (0, 0, 0)
    with pytest.raises(ValueError, match="max_chars"):
        dedup.edit_verify_pairs(df, pairs, "text", "doc_id",
                                max_chars=0)
    with pytest.raises(ValueError, match="max_dist_milli"):
        dedup.edit_verify_pairs(df, pairs, "text", "doc_id",
                                max_dist_milli=1001)


def test_edit_verify_oracle_matches_engine(spark, docs):
    """Engine == DuckDB end-to-end on the real documents table, with
    the registered simhash query's own oracle SQL as the candidate
    source — the verification stage is registration-ready on top of
    any pair generator."""
    import duckdb

    from kafkadirect_spark.plans import ORACLE_SQL

    cand = dedup.simhash_pairs(docs, "text", "doc_id",
                               bits=32, max_hamming=3, n_bands=4)
    eng = sorted(tuple(r) for r in dedup.edit_verify_pairs(
        docs, cand, "text", "doc_id", max_dist_milli=500).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    got = sorted(con.sql(dedup.edit_verify_oracle_sql(
        ORACLE_SQL["dedup_simhash_pairs"],
        max_dist_milli=500)).fetchall())
    assert got == eng and eng


# ---------------------------------------------------------------------------
# REAL multimodal codec paths (round 11): WAV-PCM via stdlib wave,
# binary PNM via the pure parser — decode, features, resize all real
# ---------------------------------------------------------------------------


def test_wav_roundtrip_and_features_hand_checked(spark):
    samples = [0, 1000, -1000, 2000, -2000, 0, 3000]
    payload = multimodal.encode_wav_pcm16(samples, sample_rate=8000)
    assert multimodal.sniff_media(payload) == "wav"
    d = multimodal.decode_wav(payload)
    assert d["samples"].tolist() == samples
    assert (d["sample_rate"], d["channels"], d["n_frames"]) == (8000, 1, 7)

    media = spark.createDataFrame([(7, payload)],
                                  "doc_id long, payload binary")
    r = multimodal.audio_features(media).collect()[0]
    assert r.n_samples == 7 and r.peak == 3000
    assert r.duration_ms == 1000 * 7 // 8000
    assert r.energy_mean == sum(x * x for x in samples) // 7
    # sign flips over nonzero samples: 1000,-1000,2000,-2000,3000 -> 4
    assert r.zero_crossings == 4


def test_pnm_roundtrip_comments_and_resize(spark):
    px = [10, 20, 30, 40,
          50, 60, 70, 80,
          90, 100, 110, 120]
    payload = multimodal.encode_pnm(px, 4, 3)
    assert multimodal.sniff_media(payload) == "pnm"
    d = multimodal.decode_pnm(payload)
    assert (d["width"], d["height"], d["channels"]) == (4, 3, 1)
    assert d["pixels"].tolist() == px
    # comment-tolerant header parse (netpbm allows # comments)
    commented = b"P5 # gray\n# another\n4 3\n255\n" + bytes(px)
    assert multimodal.decode_pnm(commented)["pixels"].tolist() == px

    # 2x2 block-mean resize with ragged bottom row: out 2x2
    rb = multimodal.resize_image(payload, 2)
    rd = multimodal.decode_pnm(rb)
    assert (rd["width"], rd["height"]) == (2, 2)
    assert rd["pixels"].tolist() == [
        (10 + 20 + 50 + 60) // 4, (30 + 40 + 70 + 80) // 4,
        (90 + 100) // 2, (110 + 120) // 2]

    # RGB (P6) round-trip
    rgb = multimodal.encode_pnm([1, 2, 3, 4, 5, 6], 2, 1, channels=3)
    d6 = multimodal.decode_pnm(rgb)
    assert d6["channels"] == 3 and d6["pixels"].tolist() == [1, 2, 3, 4, 5, 6]


def test_real_media_distributed_matches_local(spark, docs):
    """synth_media mints REAL payloads executor-side; the distributed
    feature/resize passes must equal a local python replay of the
    same decoders over the collected payloads.  Non-media payloads
    are skipped, not mangled."""
    ids = docs.select("doc_id").limit(24)
    wav = multimodal.synth_media(ids, "doc_id", kind="wav")
    img = multimodal.synth_media(ids, "doc_id", kind="pnm")

    got_a = {r.doc_id: (r.n_samples, r.peak, r.energy_mean,
                        r.zero_crossings)
             for r in multimodal.audio_features(wav).collect()}
    for doc_id, payload in wav.collect():
        s = multimodal.decode_wav(bytes(payload))["samples"].tolist()
        nz = [x for x in s if x != 0]
        want = (len(s), max(abs(x) for x in s),
                sum(x * x for x in s) // len(s),
                sum(1 for a, b in zip(nz, nz[1:]) if (a < 0) != (b < 0)))
        assert got_a[doc_id] == want
    assert len(got_a) == 24

    got_i = {r.doc_id: (r.width, r.height, r.mean_milli)
             for r in multimodal.image_features(img).collect()}
    rz = {r.doc_id: (r.width, r.height, bytes(r.payload))
          for r in multimodal.resize_images(img, factor=3).collect()}
    for doc_id, payload in img.collect():
        d = multimodal.decode_pnm(bytes(payload))
        px = d["pixels"].tolist()
        assert got_i[doc_id] == (
            d["width"], d["height"], 1000 * sum(px) // len(px))
        want_rz = multimodal.resize_image(bytes(payload), 3)
        assert rz[doc_id][2] == want_rz
    assert len(got_i) == len(rz) == 24

    # a text payload is neither wav nor pnm: both extractors skip it
    txt = docs.limit(3).select(
        "doc_id", F.encode("text", "UTF-8").alias("payload"))
    assert multimodal.audio_features(txt).count() == 0
    assert multimodal.image_features(txt).count() == 0


def test_pnm_full_family_round12():
    """ASCII (P1/P2/P3), packed-bitmap (P4) and sub-8-bit rasters all
    decode to the same normalized 0-255 pixel surface as their binary
    siblings."""
    px = [10, 20, 30, 40, 50, 60]
    # P2 ASCII gray == P5 binary
    p2 = b"P2\n3 2\n255\n10 20 30\n40 50 60\n"
    assert multimodal.decode_pnm(p2)["pixels"].tolist() == px
    assert multimodal.sniff_media(p2) == "pnm"
    # P3 ASCII RGB == P6 binary
    p3 = b"P3\n1 2\n255\n10 20 30 40 50 60\n"
    d3 = multimodal.decode_pnm(p3)
    assert d3["channels"] == 3 and d3["pixels"].tolist() == px
    # P1 bitmap: digits may pack without whitespace; 1=black -> 0
    p1 = b"P1\n# bits\n4 2\n0110\n1001\n"
    assert multimodal.decode_pnm(p1)["pixels"].tolist() == [
        255, 0, 0, 255, 0, 255, 255, 0]
    # P4 packed bits, row-padded to whole bytes (width 4 -> 1 byte/row)
    p4 = b"P4\n4 2\n" + bytes([0b01100000, 0b10010000])
    assert multimodal.decode_pnm(p4)["pixels"].tolist() == [
        255, 0, 0, 255, 0, 255, 255, 0]
    # sub-8-bit maxval normalizes through truncating *255 DIV maxval
    p2s = b"P2\n2 1\n15\n0 15\n"
    assert multimodal.decode_pnm(p2s)["pixels"].tolist() == [0, 255]
    with pytest.raises(ValueError, match="out of range"):
        multimodal.decode_pnm(b"P2\n1 1\n15\n16\n")
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_pnm(b"P1\n4 2\n0110\n")


def test_bmp_roundtrip_features_and_resize(spark):
    """24-bit BMP: encode -> decode round-trips RGB pixels through
    the bottom-up BGR padded raster; top-down (negative height)
    decodes too; block-mean resize re-encodes a valid BMP; labeled
    NotImplementedError for depths/compression we don't decode."""
    import struct

    px = [v for p in range(6) for v in (p * 10, p * 10 + 1, p * 10 + 2)]
    payload = multimodal.encode_bmp(px, 3, 2)   # stride 12 -> padding 3
    assert multimodal.sniff_media(payload) == "bmp"
    d = multimodal.decode_bmp(payload)
    assert (d["width"], d["height"], d["channels"]) == (3, 2, 3)
    assert d["pixels"].tolist() == px
    # top-down variant: flip the height sign, swap row order
    flipped = bytearray(payload)
    struct.pack_into("<i", flipped, 22, -2)
    rows = [px[0:9], px[9:18]]
    td = multimodal.decode_bmp(bytes(flipped))
    assert td["pixels"].tolist() == rows[1] + rows[0]
    # 2x2 block-mean resize (ragged right column), still a valid BMP
    rb = multimodal.resize_image(payload, 2)
    rd = multimodal.decode_bmp(rb)
    assert (rd["width"], rd["height"]) == (2, 1)
    for ch in range(3):
        assert rd["pixels"][ch] == (px[ch] + px[3 + ch]
                                    + px[9 + ch] + px[12 + ch]) // 4
        assert rd["pixels"][3 + ch] == (px[6 + ch] + px[15 + ch]) // 2
    bad = bytearray(payload)
    struct.pack_into("<H", bad, 28, 8)
    with pytest.raises(NotImplementedError, match="8-bit"):
        multimodal.decode_bmp(bytes(bad))
    struct.pack_into("<H", bad, 28, 24)
    struct.pack_into("<I", bad, 30, 1)
    with pytest.raises(NotImplementedError, match="compressed"):
        multimodal.decode_bmp(bytes(bad))


def test_ulaw_g711_exact_and_au_roundtrip():
    """The µ-law integer formulas are byte-identical to the sox /
    CPython-audioop reference on the FULL domain (all 256 decode
    bytes, all 65536 encode inputs when audioop is available, the
    hand-pinned G.711 extremes always), and AU payloads round-trip
    through both encodings."""
    mm = multimodal
    assert mm.ulaw_to_pcm16(0xFF) == 0          # +0
    assert mm.ulaw_to_pcm16(0x7F) == 0          # -0
    assert mm.ulaw_to_pcm16(0x80) == 32124      # max positive
    assert mm.ulaw_to_pcm16(0x00) == -32124     # max negative
    assert mm.pcm16_to_ulaw(0) == 0xFF
    assert mm.pcm16_to_ulaw(32767) == 0x80
    assert mm.pcm16_to_ulaw(-32768) == 0x00
    # encode(decode(b)) == b for every µ-law code point except -0
    # (0x7F): both zeros decode to 0, which re-encodes as +0 (0xFF) —
    # the format's inherent -0/+0 aliasing (audioop aliases the same)
    assert all(mm.pcm16_to_ulaw(mm.ulaw_to_pcm16(b)) == b
               for b in range(256) if b != 0x7F)
    assert mm.pcm16_to_ulaw(mm.ulaw_to_pcm16(0x7F)) == 0xFF
    try:
        import struct

        import audioop  # deprecated stdlib; gate, don't require
        assert all(
            mm.ulaw_to_pcm16(b)
            == struct.unpack("<h", audioop.ulaw2lin(bytes([b]), 2))[0]
            for b in range(256))
        assert all(
            mm.pcm16_to_ulaw(x)
            == audioop.lin2ulaw(struct.pack("<h", x), 2)[0]
            for x in range(-32768, 32768, 257))
    except ImportError:
        pass
    # AU PCM16-BE round-trips exactly; µ-law within quantization
    samples = [0, 1000, -1000, 32000, -32000, 7]
    au = mm.encode_au(samples, sample_rate=8000, encoding="pcm16")
    assert mm.sniff_media(au) == "au"
    d = mm.decode_au(au)
    assert d["samples"].tolist() == samples and d["codec"] == "pcm_s16be"
    du = mm.decode_au(mm.encode_au(samples, encoding="ulaw"))
    assert du["codec"] == "ulaw"
    assert all(abs(a - b) <= 1024 for a, b in zip(du["samples"], samples))
    # encoding field sits at header bytes 12-16
    with pytest.raises(NotImplementedError, match="encoding"):
        mm.decode_au(au[:12] + b"\x00\x00\x00\x07" + au[16:])
    # a header cut short is a ValueError like every other truncation
    with pytest.raises(ValueError, match="truncated AU header"):
        mm.decode_au(b".snd\x00\x00")
    with pytest.raises(ValueError, match="truncated AU header"):
        mm.decode_au(au[:23])


def test_au_bmp_distributed_paths(spark, docs):
    """The round-12 formats ride the SAME distributed feature/resize
    passes: synth_media mints real AU/BMP payloads executor-side and
    the mapInPandas outputs equal a local replay; a mixed frame
    routes every payload to its decoder."""
    ids = docs.select("doc_id").limit(12)
    au = multimodal.synth_media(ids, "doc_id", kind="au")
    got = {r.doc_id: (r.n_samples, r.peak) for r in
           multimodal.audio_features(au).collect()}
    for doc_id, payload in au.collect():
        s = multimodal.decode_au(bytes(payload))["samples"].tolist()
        assert got[doc_id] == (len(s), max(abs(x) for x in s))
    assert len(got) == 12

    bmp = multimodal.synth_media(ids, "doc_id", kind="bmp")
    got_i = {r.doc_id: (r.width, r.height, r.mean_milli, r.channels)
             for r in multimodal.image_features(bmp).collect()}
    rz = {r.doc_id: bytes(r.payload) for r in
          multimodal.resize_images(bmp, factor=2).collect()}
    for doc_id, payload in bmp.collect():
        d = multimodal.decode_bmp(bytes(payload))
        px = d["pixels"].tolist()
        assert got_i[doc_id] == (
            d["width"], d["height"], 1000 * sum(px) // len(px), 3)
        assert rz[doc_id] == multimodal.resize_image(bytes(payload), 2)
    assert len(got_i) == len(rz) == 12

    # mixed audio frame: wav and au features in ONE pass
    wav = multimodal.synth_media(ids.limit(6), "doc_id", kind="wav")
    mixed = wav.unionByName(au)
    assert multimodal.audio_features(mixed).count() == 18


def test_synth_audio_features_oracle_matches_engine(spark, docs):
    """Engine (synth_media WAV → audio_features, both mapInPandas
    through the REAL PCM16 container) == the DuckDB replay of the
    synthesis + feature math — a match proves the WAV encode/decode
    round-trip bit-exactly.  Registration-ready for r13."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    wav = multimodal.synth_media(docs.select("doc_id"), "doc_id",
                                 kind="wav")
    eng = sorted(tuple(r)
                 for r in multimodal.audio_features(wav).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    got = sorted(con.sql(
        multimodal.synth_audio_features_oracle_sql()).fetchall())
    assert got == eng and len(eng) == 500


def test_synth_image_features_oracle_matches_engine(spark, docs):
    """Engine (synth_media → image_features through the REAL P5,
    24-bit BMP and PNG containers) == the DuckDB replay of the
    gradient synthesis + feature math, for ALL THREE rasters (png
    added round 15 — its synth cycles filter_type = id % 5, so the
    match proves every unfilter branch).  pnm/bmp registered; png is
    a registration candidate for r16."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    for kind in ("pnm", "bmp", "png", "gif"):
        img = multimodal.synth_media(docs.select("doc_id"), "doc_id",
                                     kind=kind)
        eng = sorted(tuple(r)
                     for r in multimodal.image_features(img).collect())
        got = sorted(con.sql(
            multimodal.synth_image_features_oracle_sql(kind)).fetchall())
        assert got == eng and len(eng) == 500, kind
    with pytest.raises(ValueError, match="kind"):
        multimodal.synth_image_features_oracle_sql("jpeg")


def test_ivf_pq_composite_matches_building_blocks(spark):
    """ivf_pq_topk == (python IVF shortlist model) ∘ (pq_topk's ADC
    scores): candidates replicate the deterministic coarse quantizer
    exactly (sequential-fold double cosine, ties by centroid id), and
    each probe's ranking equals the full-index ADC scan restricted to
    its shortlist — the composite is the intersection of two
    already-pinned components."""
    import math

    from kafkadirect_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    comp = sorted(tuple(r) for r in similarity.ivf_pq_topk(
        emb, "vec_id", "embedding", probes, n=3,
        centroid_stride=25, nprobe=4, m=4, k=4, iters=2).collect())

    # --- python IVF model over the collected vectors ---
    rows = emb.select("vec_id", "embedding").collect()
    vecs = {r.vec_id: [float(x) for x in r.embedding] for r in rows}

    def dot(a, b):
        acc = 0.0
        for x, y in zip(a, b):
            acc = acc + x * y
        return acc

    def cos(a, b):
        return dot(a, b) / (math.sqrt(dot(a, a)) * math.sqrt(dot(b, b)))

    cents = {i: v for i, v in vecs.items() if i % 25 == 0}

    def ranked_cids(v):
        return sorted(cents, key=lambda c: (-cos(v, cents[c]), c))

    assign = {i: ranked_cids(v)[0] for i, v in vecs.items()}
    cand = set()
    for pid in (0, 1, 2):
        probe_cids = set(ranked_cids(vecs[pid])[:4])
        for nid, cid in assign.items():
            if cid in probe_cids and nid != pid:
                cand.add((pid, nid))
    assert {(r[0], r[1]) for r in comp} <= cand

    # --- ADC scores from the full-index pq_topk scan ---
    full = {}
    for r in similarity.pq_topk(emb, "vec_id", "embedding", probes,
                                n=len(vecs), m=4, k=4,
                                iters=2).collect():
        full[(r.vec_id, r.neighbor_id)] = r.adc_dist
    want = []
    for pid in (0, 1, 2):
        pool = sorted((full[(pid, nid)], nid)
                      for (p, nid) in cand if p == pid)
        for rank, (d, nid) in enumerate(pool[:3], start=1):
            want.append((pid, nid, rank, d))
    assert comp == sorted(want) and comp


def test_ivf_pq_oracle_matches_engine(spark):
    """The composed DuckDB replay (IVF shortlist CTEs + PQ codebook
    CTEs + ADC restricted to the shortlist) is exactly the engine's
    ivf_pq_topk on the real embeddings — registration-ready."""
    import duckdb

    from kafkadirect_spark.plans.analytics_queries import ivf_pq_oracle_sql
    from kafkadirect_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    eng = sorted(tuple(r) for r in similarity.ivf_pq_topk(
        emb, "vec_id", "embedding", probes, n=3,
        centroid_stride=25, nprobe=4, m=4, k=4, iters=2).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf}/embeddings.parquet')")
    got = sorted(con.sql(ivf_pq_oracle_sql()).fetchall())
    assert got == eng and eng


def test_ivf_pq_guards(spark):
    emb = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(4)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n must"):
        similarity.ivf_pq_topk(emb, "vec_id", "embedding", emb, n=0)
    with pytest.raises(ValueError, match="nprobe"):
        similarity.ivf_pq_topk(emb, "vec_id", "embedding", emb,
                               nprobe=0)
    with pytest.raises(ValueError, match="not divisible"):
        similarity.ivf_pq_topk(emb, "vec_id", "embedding", emb, m=7)
    with pytest.raises(ValueError, match="max_probes"):
        similarity.ivf_pq_topk(emb, "vec_id", "embedding", emb,
                               max_probes=2)


def test_ivf_pq_rerank_refines_shortlist(spark):
    """IVFADC+R (round 12): the re-ranked output is exactly the
    per-probe top-n of the n·refine ADC shortlist under the EXACT
    quantized squared L2 — subset of the shortlist, python-fold
    distances, (dist2 ASC, neighbor_id ASC) tie-break."""
    import math

    from kafkadirect_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    kw = dict(centroid_stride=25, nprobe=4, m=4, k=4, iters=2)
    short = [(r.vec_id, r.neighbor_id)
             for r in similarity.ivf_pq_topk(
                 emb, "vec_id", "embedding", probes, n=12,
                 **kw).collect()]
    got = sorted(tuple(r) for r in similarity.ivf_pq_rerank(
        emb, "vec_id", "embedding", probes, n=3, refine=4,
        **kw).collect())
    assert {(r[0], r[1]) for r in got} <= set(short) and got

    qv = {r.vec_id: [math.floor(float(x) * 10_000) for x in r.embedding]
          for r in emb.select("vec_id", "embedding").collect()}

    def d2(a, b):
        return sum((x - y) ** 2 for x, y in zip(qv[a], qv[b]))

    want = []
    for pid in (0, 1, 2):
        pool = sorted((d2(pid, nid), nid)
                      for p, nid in short if p == pid)
        for rank, (d, nid) in enumerate(pool[:3], start=1):
            want.append((pid, nid, rank, d))
    assert got == sorted(want)


def test_ivf_pq_rerank_oracle_matches_engine(spark):
    """Engine == the composed DuckDB replay (ivf_pq oracle at
    n·refine as the shortlist CTE + exact quantized L2 re-rank) on
    the real embeddings — registration-ready for r13."""
    import duckdb

    from kafkadirect_spark.plans.analytics_queries import (
        ivf_pq_rerank_oracle_sql,
    )
    from kafkadirect_spark.sources.batch import load_table

    sf = "/root/testdata/sf0.001"
    emb = load_table(spark, sf, "embeddings")
    probes = emb.filter(F.col("vec_id") < 3)
    eng = sorted(tuple(r) for r in similarity.ivf_pq_rerank(
        emb, "vec_id", "embedding", probes, n=3, refine=4,
        centroid_stride=25, nprobe=4, m=4, k=4, iters=2).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW embeddings AS SELECT * FROM "
                f"read_parquet('{sf}/embeddings.parquet')")
    got = sorted(con.sql(ivf_pq_rerank_oracle_sql()).fetchall())
    assert got == eng and eng


def test_ivf_pq_rerank_guards(spark):
    emb = spark.createDataFrame(
        [(i, [float(i)] * 64) for i in range(4)],
        "vec_id long, embedding array<double>")
    with pytest.raises(ValueError, match="n must"):
        similarity.ivf_pq_rerank(emb, "vec_id", "embedding", emb, n=0)
    with pytest.raises(ValueError, match="refine"):
        similarity.ivf_pq_rerank(emb, "vec_id", "embedding", emb,
                                 refine=0)


def test_adc_topn_empty_probe_set(spark):
    """An empty probe frame scores nothing: every ADC top-n and the
    exact cosine top-k are empty rather than an analysis error over
    empty literal tables or a numpy error over an empty matrix."""
    import random

    rng = random.Random(17)
    df = spark.createDataFrame(
        [(i, [rng.uniform(-1, 1) for _ in range(8)]) for i in range(40)],
        "vec_id long, embedding array<double>")
    none = df.filter(F.col("vec_id") < 0)
    kw = dict(n=3, m=2, k=2, iters=2)
    assert similarity.pq_topk(df, "vec_id", "embedding", none,
                              **kw).collect() == []
    assert similarity.ivf_pq_topk(df, "vec_id", "embedding", none,
                                  centroid_stride=10, **kw).collect() == []
    assert similarity.ivf_pq_rerank(df, "vec_id", "embedding", none,
                                    centroid_stride=10, **kw).collect() == []
    assert similarity.cosine_topk_blas(df, "vec_id", "embedding", k=3,
                                       probes=none).collect() == []


# ---------------------------------------------------------------------------
# exactsubstr_report (round 12): alignment-free cross-document
# repeated-substring dedup (Lee et al. 2021 ExactSubstr) — the
# companion span_dedup (chunk-aligned) cannot express.


def test_exactsubstr_hand_checked(spark):
    df = spark.createDataFrame(
        [(0, "x0 a b c d e f g h tail0 tail1"),   # winner (pos 1)
         (1, "y0 y1 a b c d e f g h z9"),          # dup at pos 2
         (2, "unique words only here nothing repeats at all"),
         (3, "a b c d e f g h"),                   # whole doc removed
         (4, "short doc")],
        "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.n_spans, r.n_removed, r.kept_md5)
           for r in dedup.exactsubstr_report(df, "text", "doc_id").collect()}
    assert out[0] == (11, 0, 0, out[0][3])          # first copy kept
    assert out[1][:3] == (11, 1, 8)
    assert out[2][:3] == (8, 0, 0)
    # fully-removed doc: md5 of the empty string
    assert out[3] == (8, 1, 8, "d41d8cd98f00b204e9800998ecf8427e")
    assert out[4][:3] == (2, 0, 0)
    with pytest.raises(ValueError, match="min_tokens"):
        dedup.exactsubstr_report(df, "text", "doc_id", min_tokens=1)


def test_exactsubstr_emit_text_and_overlap_merge(spark):
    """Two overlapping duplicated windows in one doc merge into ONE
    maximal span; emit_text returns the surviving token join."""
    df = spark.createDataFrame(
        [(0, "a b c d e f"),            # winner of both 4-grams
         (1, "z a b c d e f z2")],      # grams abcd(1), bcde(2) ... overlap
        "doc_id long, text string")
    out = {r.doc_id: r for r in dedup.exactsubstr_report(
        df, "text", "doc_id", min_tokens=4, emit_text=True).collect()}
    assert (out[1].n_spans, out[1].n_removed) == (1, 6)
    assert out[1].kept_text == "z z2"
    assert out[0].kept_text == "a b c d e f"


def _py_exactsubstr(texts, L):
    import hashlib
    import re
    toks = {i: [w for w in re.split("[^a-z0-9]+", t.lower()) if w]
            for i, t in enumerate(texts)}
    occ: dict = {}
    for i in sorted(toks):
        w = toks[i]
        for p in range(len(w) - L + 1):
            occ.setdefault(" ".join(w[p:p + L]), []).append((i, p))
    marked = {i: set() for i in toks}
    for lst in occ.values():
        if len(lst) > 1:
            w0 = min(lst)
            for (i, p) in lst:
                if (i, p) != w0:
                    marked[i].update(range(p, p + L))
    out = {}
    for i, w in toks.items():
        m = sorted(marked[i])
        n_spans = sum(1 for j, p in enumerate(m)
                      if j == 0 or p > m[j - 1] + 1)
        kept = " ".join(w[j] for j in range(len(w)) if j not in marked[i])
        out[i] = (len(w), n_spans, len(m),
                  hashlib.md5(kept.encode()).hexdigest())
    return out


@settings(max_examples=8, deadline=None, derandomize=True,
          suppress_health_check=[HealthCheck.function_scoped_fixture])
@given(st.lists(st.text(alphabet="ab ", min_size=0, max_size=80),
                min_size=1, max_size=6),
       st.integers(min_value=2, max_value=4))
def test_exactsubstr_matches_python_model(spark, texts, L):
    """Engine == an independent python model (gram-string identity —
    hash collisions are impossible at these sizes) on adversarially
    repetitive two-letter texts: winner selection, island merge,
    span/removal counts and the surviving-token md5 all agree."""
    df = spark.createDataFrame([(i, t) for i, t in enumerate(texts)],
                               "doc_id long, text string")
    got = {r.doc_id: (r.n_tokens, r.n_spans, r.n_removed, r.kept_md5)
           for r in dedup.exactsubstr_report(
               df, "text", "doc_id", min_tokens=L).collect()}
    assert got == _py_exactsubstr(texts, L)


def test_exactsubstr_oracle_matches_engine(spark, docs):
    """The DuckDB replay (dedup.exactsubstr_oracle_sql) is
    bit-identical to exactsubstr_report on the real documents table —
    registration-ready (sliding gram hashes, min-struct winner,
    gaps-and-islands merge and the kept-token md5 all replayed)."""
    import duckdb

    eng = sorted(tuple(r) for r in dedup.exactsubstr_report(
        docs, "text", "doc_id").collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')")
    got = sorted(con.sql(dedup.exactsubstr_oracle_sql()).fetchall())
    assert got == eng and eng
    assert any(r[2] > 0 for r in eng)   # real repeated spans present


def test_exactsubstr_fast_hash_agrees_and_plan_is_scale_safe(spark, docs):
    """portable=False (the 96-bit xxhash64+crc32 production pair)
    produces the same report at test scale; the plan has no cartesian
    product and every window is partitioned by the doc id."""
    import contextlib
    import io
    import re

    out = dedup.exactsubstr_report(docs, "text", "doc_id",
                                   portable=False)
    eng = sorted(tuple(r) for r in out.collect())
    ref = sorted(tuple(r) for r in dedup.exactsubstr_report(
        docs, "text", "doc_id").collect())
    assert eng == ref
    buf = io.StringIO()
    with contextlib.redirect_stdout(buf):
        out.explain("formatted")
    plan = buf.getvalue()
    assert "CartesianProduct" not in plan
    assert "BroadcastNestedLoopJoin" not in plan
    for spec in re.findall(r"windowspecdefinition\([^)]*\)", plan):
        assert "doc_id" in spec, f"unpartitioned window: {spec}"


def test_exactsubstr_incremental_hand_checked(spark):
    """Grams present in the index mark EVERY new-side occurrence (the
    index keeps its copy); fresh grams dedup within the batch only."""
    index = spark.createDataFrame(
        [(0, "a b c d e f g h")], "doc_id long, text string")
    new = spark.createDataFrame(
        [(10, "z1 a b c d e f g h z2"),     # whole index gram -> marked
         (11, "p q r s t u v w"),           # fresh, first in batch
         (12, "p q r s t u v w tail")],     # fresh, duplicate -> marked
        "doc_id long, text string")
    out = {r.doc_id: (r.n_tokens, r.n_spans, r.n_removed)
           for r in dedup.exactsubstr_incremental(
               new, index, "text", "doc_id").collect()}
    assert out[10] == (10, 1, 8)
    assert out[11] == (8, 0, 0)
    assert out[12] == (9, 1, 8)
    assert set(out) == {10, 11, 12}          # index rows never emitted
    with pytest.raises(ValueError, match="min_tokens"):
        dedup.exactsubstr_incremental(new, index, "text", "doc_id",
                                      min_tokens=1)


def test_exactsubstr_incremental_equals_union_run(spark, docs):
    """The pinned equivalence: incremental(new, index) == the full
    report over index ∪ new with index ids ordered first, restricted
    to new rows — on the real documents split odd/even (even ids are
    the index and sort first via a +10^9 shift of the new side)."""
    shifted = docs.filter(F.col("doc_id") % 2 == 1) \
        .withColumn("doc_id", F.col("doc_id") + F.lit(1_000_000_000))
    index = docs.filter(F.col("doc_id") % 2 == 0)
    inc = sorted(tuple(r) for r in dedup.exactsubstr_incremental(
        shifted, index, "text", "doc_id").collect())
    full = sorted(tuple(r) for r in dedup.exactsubstr_report(
        index.unionByName(shifted), "text", "doc_id").collect()
        if r.doc_id >= 1_000_000_000)
    assert inc == full and inc
    assert any(r[2] > 0 for r in inc)        # real cross-side marks


def test_exactsubstr_incremental_oracle_matches_engine(spark, docs):
    """Engine == DuckDB with every-5th doc as the new batch."""
    import duckdb

    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = docs.filter(F.col("doc_id") % 5 != 0)
    eng = sorted(tuple(r) for r in dedup.exactsubstr_incremental(
        new, index, "text", "doc_id").collect())
    con = duckdb.connect()
    con.execute(
        "CREATE VIEW documents AS SELECT * FROM "
        f"read_parquet('{SF}/documents.parquet')")
    got = sorted(con.sql(
        dedup.exactsubstr_incremental_oracle_sql()).fetchall())
    assert got == eng and eng


# ---------------------------------------------------------------------------
# Perceptual image hashing (round 12): aHash over the REAL rasters +
# Hamming pair mining — multimodal near-dup, not just features.


def test_phash64_matches_naive_and_brightness_invariance(spark):
    """phash64 == a from-scratch recompute; a constant brightness
    shift (no wraparound) leaves the hash invariant (the aHash
    property); sub-8x8 rasters are rejected."""
    w, h = 16, 12
    px = [(x * 3 + y * 5) % 90 + 40 for y in range(h) for x in range(w)]
    hi, lo = multimodal.phash64(px, w, h, 1)
    cells = {}
    for y in range(h):
        for x in range(w):
            b = ((y * 8) // h) * 8 + (x * 8) // w
            s, c = cells.get(b, (0, 0))
            cells[b] = (s + px[y * w + x], c + 1)
    vals = [cells[b][0] // cells[b][1] for b in range(64)]
    thr = sum(vals) // 64
    want_bits = {b for b in range(64) if vals[b] > thr}
    got_bits = {b for b in range(64)
                if (lo if b < 32 else hi) >> (b % 32) & 1}
    assert got_bits == want_bits and 0 < len(got_bits) < 64
    assert multimodal.phash64([v + 60 for v in px], w, h, 1) == (hi, lo)
    with pytest.raises(ValueError, match="width and height"):
        multimodal.phash64([0] * 28, 7, 4, 1)


def test_image_phash_and_pairs_identical_payloads(spark):
    """Identical rasters pair at Hamming 0 through the band-bucket
    join; a raster below 8x8 emits no hash row; the guard range is
    enforced."""
    ids = spark.createDataFrame([(1,), (2,), (3,)], "doc_id long")
    media = multimodal.synth_media(ids, "doc_id", kind="pnm")
    # ids 1 and 222 mint DIFFERENT images; duplicate id 1's payload
    # under a new id instead
    import pandas as pd
    rows = media.collect()
    dup = [(r.doc_id, bytes(r.payload)) for r in rows]
    dup.append((99, dict((r.doc_id, bytes(r.payload)) for r in rows)[1]))
    df = spark.createDataFrame(pd.DataFrame(
        dup, columns=["doc_id", "payload"]))
    hashes = multimodal.image_phash(df)
    out = {(r.id_a, r.id_b): r.hamming for r in
           multimodal.phash_pairs(hashes, "doc_id",
                                  max_hamming=0).collect()}
    assert out[(1, 99)] == 0
    tiny = spark.createDataFrame(
        pd.DataFrame([(7, multimodal.encode_pnm([0] * 28, 7, 4))],
                     columns=["doc_id", "payload"]))
    assert multimodal.image_phash(tiny).count() == 0
    with pytest.raises(ValueError, match="max_hamming"):
        multimodal.phash_pairs(hashes, "doc_id", max_hamming=8)


def test_phash_pairs_recall_exact_below_band_count(spark):
    """Pigeonhole recall: the band-bucket candidates recover EVERY
    pair at Hamming <= 6 on a 60-image sample — verified against the
    all-pairs python brute force over the same hashes."""
    import itertools

    ids = spark.createDataFrame([(i,) for i in range(60)], "doc_id long")
    hashes = multimodal.image_phash(
        multimodal.synth_media(ids, "doc_id", kind="pnm"))
    hs = {r.doc_id: (r.phash_hi, r.phash_lo) for r in hashes.collect()}
    want = {}
    for a, b in itertools.combinations(sorted(hs), 2):
        d = (bin(hs[a][0] ^ hs[b][0]).count("1")
             + bin(hs[a][1] ^ hs[b][1]).count("1"))
        if d <= 6:
            want[(a, b)] = d
    got = {(r.id_a, r.id_b): r.hamming for r in
           multimodal.phash_pairs(hashes, "doc_id",
                                  max_hamming=6).collect()}
    assert got == want and want


def test_phash_pairs_oracle_matches_engine(spark, docs):
    """Engine == DuckDB end to end (synthesis -> gray -> cells ->
    threshold bits -> halves -> bands -> bucket pairs -> Hamming)
    for BOTH raster kinds — a match proves the container round-trip
    AND the perceptual-dedup pipeline."""
    import duckdb

    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{SF}/documents.parquet')")
    base = docs.select("doc_id")
    for kind in ("pnm", "bmp", "png", "gif"):
        pairs = multimodal.phash_pairs(
            multimodal.image_phash(
                multimodal.synth_media(base, "doc_id", kind=kind)),
            "doc_id", max_hamming=6)
        eng = sorted(tuple(r) for r in pairs.collect())
        got = sorted(con.sql(multimodal.synth_phash_pairs_oracle_sql(
            kind=kind, max_hamming=6)).fetchall())
        assert got == eng and len(eng) > 100


# ---------------------------------------------------------------------------
# YUV4MPEG2 video (round 14): the REAL video container path — header
# parse, FRAME walk, planar luma, integer features with scene-cut
# localization, and the video→keyframe→image composition.
# ---------------------------------------------------------------------------


def test_y4m_round_trip_and_header_variants():
    fr = [[(x * 3 + y * 5 + f * 7) % 256
           for y in range(6) for x in range(8)] for f in range(4)]
    p = multimodal.encode_y4m(fr, 8, 6, fps_num=30)
    assert multimodal.sniff_media(p) == "y4m"
    d = multimodal.decode_y4m(p)
    assert (d["width"], d["height"], d["n_frames"]) == (8, 6, 4)
    assert [f.tolist() for f in d["frames"]] == fr
    assert (d["fps_num"], d["fps_den"], d["colorspace"]) == (30, 1, "mono")

    # chroma-carrying colorspaces: luma plane extracted, chroma
    # parsed past (sizes: 420 -> wh/4 per chroma plane, 422 -> wh/2,
    # 444 -> wh); C absent defaults to 420 per the spec
    luma = bytes(range(8))
    for tag, chroma in (("C420jpeg", 4), ("C420mpeg2", 4),
                        ("C422", 8), ("C444", 16), ("", 4)):
        hdr = ("YUV4MPEG2 W4 H2 F25:1 Ip A1:1"
               + (" " + tag if tag else "")).encode() + b"\n"
        d2 = multimodal.decode_y4m(hdr + b"FRAME\n" + luma
                                   + bytes(chroma))
        assert [f.tolist() for f in d2["frames"]] == [list(luma)], tag
    # A/X tags are layout-neutral and skipped
    d3 = multimodal.decode_y4m(
        b"YUV4MPEG2 W2 H2 F1:1 A128:117 XYSCSS=MONO Cmono\n"
        b"FRAME\n\x01\x02\x03\x04")
    assert [f.tolist() for f in d3["frames"]] == [[1, 2, 3, 4]]

    import pytest as _pt
    with _pt.raises(NotImplementedError, match="interlaced"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 F1:1 It Cmono\nFRAME\nabcd")
    with _pt.raises(NotImplementedError, match="colorspace"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 F1:1 C411\nFRAME\nabcd")
    with _pt.raises(ValueError, match="not a YUV4MPEG2"):
        multimodal.decode_y4m(b"RIFFxxxx")
    with _pt.raises(ValueError, match="missing W/H"):
        multimodal.decode_y4m(b"YUV4MPEG2 F1:1 Cmono\n")
    with _pt.raises(ValueError, match="FRAME marker"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 F1:1 Cmono\nFRAMX\nabcd")
    with _pt.raises(ValueError, match="truncated"):
        multimodal.decode_y4m(b"YUV4MPEG2 W2 H2 F1:1 Cmono\nFRAME\nab")
    with _pt.raises(ValueError, match="frame pixel count"):
        multimodal.encode_y4m([[1, 2]], 2, 2)


def test_video_features_hand_checked(spark):
    # 2x2, 3 frames: means 10, 10, 110 -> one clean cut at frame 2
    frames = [[10, 10, 10, 10], [12, 8, 12, 8], [110, 110, 110, 110]]
    p = multimodal.encode_y4m(frames, 2, 2, fps_num=10)
    media = spark.createDataFrame(
        [(1, p), (2, b"not a video")], "doc_id long, payload binary")
    rows = multimodal.video_features(media).collect()
    assert len(rows) == 1                     # non-y4m emits nothing
    r = rows[0]
    assert (r.width, r.height, r.n_frames) == (2, 2, 3)
    assert (r.fps_num, r.fps_den) == (10, 1)
    assert r.duration_ms == 1000 * 3 // 10
    total = sum(sum(f) for f in frames)
    assert r.mean_luma_milli == 1000 * total // 12
    # frame sums 40, 40, 440 -> deltas 0, 400 -> milli per px: 100000
    assert r.max_delta_milli == 1000 * 400 // 4
    assert r.cut_frame == 2
    # single-frame stream: no deltas, NULL cut
    p1 = multimodal.encode_y4m([[5, 5, 5, 5]], 2, 2)
    r1 = multimodal.video_features(spark.createDataFrame(
        [(3, p1)], "doc_id long, payload binary")).collect()[0]
    assert r1.max_delta_milli == 0 and r1.cut_frame is None


def test_video_frame_sample_composes_into_image_pipeline(spark):
    frames = [[(x * 7 + y * 11 + f * 3) % 256
               for y in range(4) for x in range(6)] for f in range(5)]
    p = multimodal.encode_y4m(frames, 6, 4)
    media = spark.createDataFrame([(9, p)], "doc_id long, payload binary")
    got = {r.frame_idx: r for r in
           multimodal.video_frame_sample(media, every_n=2).collect()}
    assert set(got) == {0, 2, 4}              # every 2nd frame kept
    for idx, r in got.items():
        assert (r.width, r.height) == (6, 4)
        d = multimodal.decode_pnm(bytes(r.payload))   # genuine P5
        assert d["pixels"].tolist() == frames[idx]
    # sampled frames flow straight into the image pipeline
    feats = {r.doc_id: r for r in multimodal.image_features(
        multimodal.video_frame_sample(media, every_n=5)
        .select("doc_id", "payload")).collect()}
    f0 = frames[0]
    assert feats[9].mean_milli == 1000 * sum(f0) // len(f0)
    assert feats[9].min_px == min(f0) and feats[9].max_px == max(f0)
    import pytest as _pt
    with _pt.raises(ValueError, match="every_n"):
        multimodal.video_frame_sample(media, every_n=0)


def test_synth_video_features_oracle_matches_engine(spark, docs):
    """Engine (synth_media y4m → video_features, both mapInPandas
    through the REAL YUV4MPEG2 container) == the DuckDB replay of the
    gradient synthesis + feature math INCLUDING the per-id scene-cut
    frame — a match proves the y4m encode/decode round-trip
    bit-exactly.  Registration candidate for r15."""
    import duckdb

    sf = "/root/testdata/sf0.001"
    vid = multimodal.synth_media(docs.select("doc_id"), "doc_id",
                                 kind="y4m")
    eng = sorted(tuple(r)
                 for r in multimodal.video_features(vid).collect())
    con = duckdb.connect()
    con.execute("CREATE VIEW documents AS SELECT * FROM "
                f"read_parquet('{sf}/documents.parquet')")
    got = sorted(con.sql(
        multimodal.synth_video_features_oracle_sql()).fetchall())
    assert got == eng and len(eng) == 500
    # the synthetic mid-stream +96 jump is really localized: a clear
    # majority of ids cut exactly at nf // 2 (the %256 wrap of the
    # per-frame +29 drift moves the max elsewhere for the rest —
    # measured 388/500)
    hits = sum(1 for r in eng if r[9] == (3 + r[0] % 4) // 2)
    assert hits > 350


@settings(max_examples=40, deadline=None)
@given(st.integers(1, 9), st.integers(1, 7), st.integers(0, 4),
       st.integers(1, 60), st.integers(1, 4), st.integers(0, 2 ** 32))
def test_y4m_roundtrip_property(w, h, nf, num, den, seed):
    """encode_y4m → decode_y4m is the identity on arbitrary frame
    stacks, dims and frame rates (including zero-frame streams)."""
    rng = seed
    frames = []
    for _ in range(nf):
        fr = []
        for _ in range(w * h):
            rng = (rng * 1103515245 + 12345) % (2 ** 31)
            fr.append(rng % 256)
        frames.append(fr)
    d = multimodal.decode_y4m(
        multimodal.encode_y4m(frames, w, h, fps_num=num, fps_den=den))
    assert (d["width"], d["height"], d["n_frames"]) == (w, h, nf)
    assert (d["fps_num"], d["fps_den"]) == (num, den)
    assert [f.tolist() for f in d["frames"]] == frames


# ---------------------------------------------------------------------------
# PNG (round 15): the REAL compressed-raster path — stdlib zlib is
# the whole DEFLATE layer, so the codec is implementable here with no
# external library: CRC-verified chunk walk, multi-IDAT inflate, all
# five scanline filters.
# ---------------------------------------------------------------------------


def test_png_round_trip_all_filters_and_sniff():
    """encode_png → decode_png is the identity for grey and RGB under
    every filter type; the magic sniffs as 'png'."""
    import random

    rng = random.Random(151)
    for ch in (1, 3):
        for ft in range(5):
            w, h = rng.randrange(1, 40), rng.randrange(1, 30)
            px = [rng.randrange(256) for _ in range(w * h * ch)]
            p = multimodal.encode_png(px, w, h, channels=ch,
                                      filter_type=ft)
            assert multimodal.sniff_media(p) == "png"
            d = multimodal.decode_png(p)
            assert (d["codec"], d["width"], d["height"],
                    d["channels"]) == ("png", w, h, ch)
            assert d["pixels"].tolist() == px, (ch, ft)
    with pytest.raises(ValueError, match="filter_type"):
        multimodal.encode_png([0], 1, 1, filter_type=5)
    with pytest.raises(ValueError, match="channels"):
        multimodal.encode_png([0, 0], 1, 1, channels=2)
    with pytest.raises(ValueError, match="pixel count"):
        multimodal.encode_png([0, 0], 1, 1)


def test_png_decoder_handles_foreign_encoders():
    """A standards-compliant PNG our encoder could NOT have written —
    per-ROW varying filter types, the IDAT split across two chunks,
    and an ancillary tEXt chunk in between structure — must decode
    exactly.  The file is built IN-TEST from the spec formulas
    (independent construction, nothing imported from the module), so
    this pins the decoder against the spec rather than against our
    own writer."""
    import struct
    import zlib

    w, h, ch = 5, 6, 3
    bpp, stride = ch, w * ch
    pixels = [(x * 31 + y * 17 + c * 7) % 256
              for y in range(h) for x in range(w) for c in range(ch)]
    filters = [0, 1, 2, 3, 4, 3]            # one row per filter type
    raw = bytearray()
    prior = bytes(stride)
    for y in range(h):
        row = bytes(pixels[y * stride:(y + 1) * stride])
        ft = filters[y]
        raw.append(ft)
        for x in range(stride):
            a = row[x - bpp] if x >= bpp else 0
            b = prior[x]
            c = prior[x - bpp] if x >= bpp else 0
            if ft == 0:
                pred = 0
            elif ft == 1:
                pred = a
            elif ft == 2:
                pred = b
            elif ft == 3:
                pred = (a + b) // 2
            else:                            # spec §9.4 Paeth
                p = a + b - c
                pa, pb, pc = abs(p - a), abs(p - b), abs(p - c)
                pred = (a if pa <= pb and pa <= pc
                        else (b if pb <= pc else c))
            raw.append((row[x] - pred) & 0xFF)
        prior = row

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    z = zlib.compress(bytes(raw), 9)
    payload = (b"\x89PNG\r\n\x1a\n"
               + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, 8, 2,
                                            0, 0, 0))
               + chunk(b"tEXt", b"Comment\x00spec-built")  # skipped
               + chunk(b"IDAT", z[:7]) + chunk(b"IDAT", z[7:])
               + chunk(b"IEND", b""))
    d = multimodal.decode_png(payload)
    assert (d["width"], d["height"], d["channels"]) == (w, h, ch)
    assert d["pixels"].tolist() == pixels


def test_png_crc_verification_and_labeled_stubs():
    """Corruption fails LOUDLY (CRC mismatch, truncation, bad filter
    bytes — never silent garbage); the out-of-scope shapes (16-bit,
    palette/alpha, Adam7) raise labeled NotImplementedError."""
    import struct
    import zlib

    good = multimodal.encode_png([9, 8, 7, 6], 2, 2)
    # flip one IDAT payload byte: the chunk CRC must catch it
    idat_at = good.index(b"IDAT")
    bad = bytearray(good)
    bad[idat_at + 5] ^= 0xFF
    with pytest.raises(ValueError, match="CRC mismatch"):
        multimodal.decode_png(bytes(bad))
    with pytest.raises(ValueError, match="truncated"):
        multimodal.decode_png(good[:-6])
    with pytest.raises(ValueError, match="not a PNG"):
        multimodal.decode_png(b"P5 2 2 255 junk")
    with pytest.raises(ValueError, match="missing IHDR"):
        multimodal.decode_png(good[:8])

    def mk(depth=8, color=0, interlace=0, raw=None, w=2, h=2):
        def chunk(tag, data):
            return (struct.pack(">I", len(data)) + tag + data
                    + struct.pack(">I", zlib.crc32(tag + data)))
        raw = raw if raw is not None else bytes([0, 1, 2, 0, 3, 4])
        return (b"\x89PNG\r\n\x1a\n"
                + chunk(b"IHDR", struct.pack(">IIBBBBB", w, h, depth,
                                             color, 0, 0, interlace))
                + chunk(b"IDAT", zlib.compress(raw))
                + chunk(b"IEND", b""))

    with pytest.raises(NotImplementedError, match="16-bit"):
        multimodal.decode_png(mk(depth=16))
    with pytest.raises(NotImplementedError, match="color type 3"):
        multimodal.decode_png(mk(color=3))
    with pytest.raises(NotImplementedError, match="color type 6"):
        multimodal.decode_png(mk(color=6))
    with pytest.raises(NotImplementedError, match="Adam7"):
        multimodal.decode_png(mk(interlace=1))
    with pytest.raises(ValueError, match="bad PNG filter type"):
        multimodal.decode_png(mk(raw=bytes([7, 1, 2, 0, 3, 4])))
    with pytest.raises(ValueError, match="raster size"):
        multimodal.decode_png(mk(raw=bytes([0, 1, 2])))
    # a CRC-valid IHDR of the wrong LENGTH must stay a ValueError,
    # not leak struct.error (round-15 self-review)
    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))
    short_ihdr = (b"\x89PNG\r\n\x1a\n"
                  + chunk(b"IHDR", b"\x00" * 12)
                  + chunk(b"IDAT", zlib.compress(b"\x00"))
                  + chunk(b"IEND", b""))
    with pytest.raises(ValueError, match="IHDR length"):
        multimodal.decode_png(short_ihdr)
    with pytest.raises(ValueError, match="factor"):
        multimodal.resize_image(good, 0)


def test_png_decompression_bomb_is_bounded():
    """A tiny payload whose deflate stream inflates far past the
    IHDR-declared raster must be rejected WITHOUT materializing the
    inflated bytes (round-15 self-review: an unbounded
    zlib.decompress would let ~100 KB of input allocate gigabytes in
    the mapInPandas worker).  Pinned by budget: decoding a ~64 MB
    bomb behind a 2x2 header must fail fast and cheap."""
    import resource
    import struct
    import time
    import zlib

    def chunk(tag, data):
        return (struct.pack(">I", len(data)) + tag + data
                + struct.pack(">I", zlib.crc32(tag + data)))

    bomb = (b"\x89PNG\r\n\x1a\n"
            + chunk(b"IHDR", struct.pack(">IIBBBBB", 2, 2, 8, 0,
                                         0, 0, 0))
            + chunk(b"IDAT", zlib.compress(b"\x00" * (64 << 20), 9))
            + chunk(b"IEND", b""))
    assert len(bomb) < 200_000          # the input really is tiny
    before = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    t0 = time.perf_counter()
    with pytest.raises(ValueError, match="raster size"):
        multimodal.decode_png(bomb)
    assert time.perf_counter() - t0 < 1.0
    after = resource.getrusage(resource.RUSAGE_SELF).ru_maxrss
    # ru_maxrss is KiB on linux: allow slack, but nowhere near 64 MB
    assert after - before < 16 << 10, (before, after)


def test_png_features_phash_resize_compose(spark, docs):
    """The PNG path composes into every image consumer exactly like
    PNM/BMP: synth → image_features matches a local decode replay,
    image_phash emits for ≥8×8 rasters, and resize_images halves the
    dims with a PNG re-encode (block-mean parity with the PNM resize
    on identical pixels)."""
    base = docs.select("doc_id").limit(40)
    img = multimodal.synth_media(base, "doc_id", kind="png")
    feats = {r.doc_id: r for r in
             multimodal.image_features(img).collect()}
    local = {r.doc_id: multimodal.decode_png(bytes(r.payload))
             for r in img.collect()}
    assert set(feats) == set(local) and len(feats) == 40
    for i, d in local.items():
        px = d["pixels"].tolist()
        f = feats[i]
        assert (f.width, f.height, f.channels) == (
            d["width"], d["height"], 1)
        assert f.mean_milli == 1000 * sum(px) // len(px)
        assert (f.min_px, f.max_px) == (min(px), max(px))
    hashes = multimodal.image_phash(img)
    assert hashes.count() == 40              # all synth rasters ≥ 8×8
    rz = {r.doc_id: r for r in
          multimodal.resize_images(img, factor=2).collect()}
    for i, d in local.items():
        r = rz[i]
        assert (r.width, r.height) == (-(-d["width"] // 2),
                                       -(-d["height"] // 2))
        rd = multimodal.decode_png(bytes(r.payload))
        # block-mean parity with the PNM resize on the same pixels
        pd = multimodal.decode_pnm(multimodal.resize_image(
            multimodal.encode_pnm(d["pixels"], d["width"],
                                  d["height"]), 2))
        assert rd["pixels"].tolist() == pd["pixels"].tolist()


# ---------------------------------------------------------------------------
# GIF (round 15): the LZW raster — the compression layer needs no
# library at all; the decoder reads real dictionary-compressed
# streams, interlace, local color tables and animations.
# ---------------------------------------------------------------------------


def test_gif_round_trip_and_sniff():
    """encode_gif → decode_gif expands the gray palette to identical
    RGB triplets, across sizes that cross CLEAR boundaries (>128 px)
    and sub-block boundaries (>255 stream bytes)."""
    import random

    rng = random.Random(87)
    for trial in range(5):
        w, h = rng.randrange(1, 60), rng.randrange(1, 40)
        px = [rng.randrange(256) for _ in range(w * h)]
        p = multimodal.encode_gif(px, w, h)
        assert multimodal.sniff_media(p) == "gif"
        d = multimodal.decode_gif(p)
        assert (d["codec"], d["width"], d["height"], d["channels"],
                d["n_frames"]) == ("gif", w, h, 3, 1)
        assert d["pixels"].tolist() == [v for g in px for v in (g, g, g)]
    with pytest.raises(ValueError, match="pixel count"):
        multimodal.encode_gif([0, 0], 1, 1)
    with pytest.raises(ValueError, match="width/height"):
        multimodal.encode_gif([], 0, 1)


def _lzw_compress_ref(indices, mcs):
    """Independent spec-built GIF-LZW COMPRESSOR (dictionary growth,
    width bump when the just-added code reaches 1<<width, 12-bit
    full-table stop) — nothing imported from the module, so the
    decoder is pinned against the spec, not against our writer."""
    clear, end = 1 << mcs, (1 << mcs) + 1
    table = {bytes([i]): i for i in range(clear)}
    next_code, width = end + 1, mcs + 1
    acc = nbits = 0
    out = bytearray()

    def emit(code, w):
        nonlocal acc, nbits
        acc |= code << nbits
        nbits += w
        while nbits >= 8:
            out.append(acc & 0xFF)
            acc >>= 8
            nbits -= 8

    emit(clear, width)
    run = b""
    for c in indices:
        nxt = run + bytes([c])
        if nxt in table:
            run = nxt
            continue
        emit(table[run], width)
        if next_code < 4096:
            table[nxt] = next_code
            next_code += 1
            if next_code - 1 == (1 << width) and width < 12:
                width += 1
        run = bytes([c])
    if run:
        emit(table[run], width)
    emit(end, width)
    if nbits:
        out.append(acc & 0xFF)
    return bytes(out)


def test_gif_decoder_handles_foreign_encoders():
    """A GIF our encoder could NOT have written — real
    dictionary-compressed LZW with width growth past 9 bits, an
    INTERLACED first frame, a LOCAL color table, a skipped GIF89a
    graphic-control extension, and a second (animation) frame — must
    decode the first frame exactly and count both."""
    import struct
    import zlib  # noqa: F401  (parallel with the PNG foreign test)

    w, h = 40, 33                            # enough repetition for
    px = [(x // 3 + y // 2) % 7 for y in range(h)  # dict growth
          for x in range(w)]
    # interlace: store rows in 4-pass order
    order = (list(range(0, h, 8)) + list(range(4, h, 8))
             + list(range(2, h, 4)) + list(range(1, h, 2)))
    stored = []
    for y in order:
        stored += px[y * w:(y + 1) * w]
    lzw = _lzw_compress_ref(stored, 4)       # 16-entry local table
    lct = bytes([(17 * i) % 256 for i in range(16 * 3)])
    blocks = bytearray()
    for k in range(0, len(lzw), 200):
        blk = lzw[k:k + 200]
        blocks += bytes([len(blk)]) + blk
    blocks += b"\x00"
    frame2 = _lzw_compress_ref([0, 1, 2, 3], 4)
    payload = (b"GIF89a" + struct.pack("<HH", w, h)
               + bytes([0x00, 0, 0])         # no global table
               + b"\x21\xf9\x04\x00\x00\x00\x00\x00"  # GCE, skipped
               + b"\x2c" + struct.pack("<HHHH", 0, 0, w, h)
               + bytes([0x80 | 0x40 | 0x03]) # LCT(16) + interlaced
               + lct + bytes([4]) + blocks
               + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2)
               + bytes([0x80 | 0x03]) + lct + bytes([4])
               + bytes([len(frame2)]) + frame2 + b"\x00"
               + b"\x3b")
    d = multimodal.decode_gif(payload)
    assert (d["width"], d["height"], d["n_frames"]) == (w, h, 2)
    want = []
    for c in px:
        want += [lct[3 * c], lct[3 * c + 1], lct[3 * c + 2]]
    assert d["pixels"].tolist() == want


def test_gif_guards_and_bounded_lzw():
    """Corruption fails loudly; an LZW stream coding far more pixels
    than the descriptor declares is rejected the moment it overruns
    (the PNG decompression-bomb discipline)."""
    import struct

    good = multimodal.encode_gif([1, 2, 3, 4], 2, 2)
    with pytest.raises(ValueError, match="not a GIF"):
        multimodal.decode_gif(b"PNG? nope")
    with pytest.raises(ValueError, match="truncated GIF"):
        multimodal.decode_gif(good[:-2])
    with pytest.raises(ValueError, match="bad GIF block"):
        multimodal.decode_gif(good[:-1] + b"\x7f")
    # 2x2 descriptor, 4096-pixel stream: must fail fast, bounded
    lzw = _lzw_compress_ref([5] * 4096, 8)
    gct = bytearray()
    for v in range(256):
        gct += bytes([v, v, v])
    blocks = bytearray()
    for k in range(0, len(lzw), 255):
        blk = lzw[k:k + 255]
        blocks += bytes([len(blk)]) + blk
    blocks += b"\x00"
    bomb = (b"GIF87a" + struct.pack("<HH", 2, 2)
            + bytes([0x87, 0, 0]) + bytes(gct)
            + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2) + b"\x00"
            + bytes([8]) + blocks + b"\x3b")
    with pytest.raises(ValueError, match="exceeds declared raster"):
        multimodal.decode_gif(bomb)
    # an index outside a small color table is caught, not wrapped
    lzw2 = _lzw_compress_ref([3, 3, 9, 3], 4)
    lct = bytes([10, 20, 30] * 8)            # 8-entry table
    small = (b"GIF87a" + struct.pack("<HH", 2, 2)
             + bytes([0x00, 0, 0])
             + b"\x2c" + struct.pack("<HHHH", 0, 0, 2, 2)
             + bytes([0x80 | 0x02]) + lct + bytes([4])
             + bytes([len(lzw2)]) + lzw2 + b"\x00\x3b")
    with pytest.raises(ValueError, match="outside color table"):
        multimodal.decode_gif(small)


def test_gif_features_phash_compose(spark, docs):
    """synth gif → image_features matches a local decode replay and
    image_phash emits — the GIF path composes into the image
    consumers exactly like PNM/BMP/PNG."""
    base = docs.select("doc_id").limit(30)
    img = multimodal.synth_media(base, "doc_id", kind="gif")
    feats = {r.doc_id: r for r in
             multimodal.image_features(img).collect()}
    local = {r.doc_id: multimodal.decode_gif(bytes(r.payload))
             for r in img.collect()}
    assert set(feats) == set(local) and len(feats) == 30
    for i, d in local.items():
        px = d["pixels"].tolist()
        f = feats[i]
        assert (f.width, f.height, f.channels) == (
            d["width"], d["height"], 3)
        assert f.mean_milli == 1000 * sum(px) // len(px)
        assert (f.min_px, f.max_px) == (min(px), max(px))
    assert multimodal.image_phash(img).count() == 30


def test_vectorized_codec_paths_match_scalar_forms():
    """The numpy µ-law compressor equals the scalar G.711 formula on
    the FULL int16 domain, and every encoder writes byte-identical
    payloads from a list and from an ndarray."""
    import numpy as np

    xs = np.arange(-32768, 32768, dtype=np.int64)
    got = multimodal._pcm16_to_ulaw_arr(xs)
    sample = list(range(-32768, 32768, 257)) + [-32768, 32767, -1, 0, 1]
    for x in sample:
        assert int(got[x + 32768]) == multimodal.pcm16_to_ulaw(x), x

    s = [((t % 11) * 2000 - 11000) for t in range(300)]
    arr = np.array(s, dtype=np.int64)
    assert (multimodal.encode_wav_pcm16(arr, sample_rate=9000)
            == multimodal.encode_wav_pcm16(s, sample_rate=9000))
    for enc in ("ulaw", "pcm16"):
        assert (multimodal.encode_au(arr, encoding=enc)
                == multimodal.encode_au(s, encoding=enc))

    px = [(x * 7 + y * 13 + 3) % 256 for y in range(12) for x in range(16)]
    pxa = np.array(px, dtype=np.int64)
    assert multimodal.encode_pnm(pxa, 16, 12) == \
        multimodal.encode_pnm(px, 16, 12)
    assert multimodal.encode_gif(pxa, 16, 12) == \
        multimodal.encode_gif(px, 16, 12)
    for ft in range(5):
        assert (multimodal.encode_png(pxa, 16, 12, filter_type=ft)
                == multimodal.encode_png(px, 16, 12, filter_type=ft))
    px3 = [v % 256 for v in range(16 * 12 * 3)]
    assert (multimodal.encode_bmp(np.array(px3), 16, 12)
            == multimodal.encode_bmp(px3, 16, 12))
    fr = [list(range(48)), [255 - v for v in range(48)]]
    assert (multimodal.encode_y4m([np.array(f) for f in fr], 8, 6)
            == multimodal.encode_y4m(fr, 8, 6))


def test_media_operators_share_one_map_shell():
    """Every per-payload media operator runs through ``_map_rows``:
    multimodal.py calls mapInPandas exactly once."""
    import ast
    import pathlib

    tree = ast.parse(pathlib.Path(multimodal.__file__).read_text())
    calls = [node for node in ast.walk(tree)
             if isinstance(node, ast.Call)
             and isinstance(node.func, ast.Attribute)
             and node.func.attr == "mapInPandas"]
    assert len(calls) == 1
