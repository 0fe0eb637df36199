"""Similarity search over embedding columns (array<float>).

- **cosine_topk_blas** — exact top-k: a bounded probe set is broadcast
  as one normalized numpy matrix and each Arrow batch of the index is
  scored by one matmul.  The correctness baseline, and the right
  answer when the probe set is much smaller than the index: the index
  is scanned once, with no shuffle before the per-probe top-k.
- **ann_lsh_topk** / **ivf_topk** — approximate top-k with exact
  cosine only over candidates: random-hyperplane LSH buckets (shuffle
  key (table, bucket)) or an inverted-file coarse quantizer (shuffle
  key centroid id).  Sub-quadratic, skew-bounded by bucket/list size.
- **lsh_candidate_pairs** → **cosine_verify_pairs** — embedding
  near-dup: LSH candidate pairs, then an exact cosine threshold.
- **pq_encode** / **pq_topk** / **ivf_pq_topk** / **ivf_pq_rerank** —
  integer product quantization and asymmetric-distance scoring.

Outside the BLAS path, dot products run through F.aggregate/F.zip_with
on the JVM — no Python in the inner loop.  Cosines are computed in
double precision, sequential-sum order, so DuckDB's
list_cosine_similarity (the oracle) agrees to the last ulp in practice;
ranks (not raw floats) are the query output to keep the correctness
hash stable.
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame, Window
from pyspark.sql import functions as F

from kafkadirect_spark.functions.dedup import _persist, _widen

# Hard ceiling on how many vectors cosine_topk_blas will pull to the
# driver as the probe matrix.  The broadcast-matmul design is
# "probe set ≪ index": the probes live in one numpy matrix on every
# executor, so an unbounded default (the whole index) is a driver/
# executor OOM at 100 TB.  Callers with a genuinely larger probe set
# must pass it explicitly AND raise this cap consciously — or use the
# ANN paths / cosine_verify_pairs, which never materialize vectors
# driver-side.
MAX_PROBES = 100_000

# Frozen hyperplanes for the LSH path: N_TABLES tables × N_BITS
# hyperplanes, components in {-1, +1} (signed-projection LSH with
# Rademacher planes — dot products stay exact in double).  Bucket
# count per table is 2^N_BITS: size N_BITS so the expected bucket
# occupancy stays well above k at the target scale (more tables ↑
# recall, more bits ↓ candidate cost).  16×4 measures recall@3 ≈ 0.89
# vs brute force on the sf0.01 embeddings (8×4 gave 0.66); with
# probe_radius=1 multiprobe it reaches 1.0 there.
N_TABLES = 16
N_BITS = 4


def _planes(dim: int) -> list[list[list[int]]]:
    rng = random.Random(7)
    return [
        [[rng.choice((-1, 1)) for _ in range(dim)] for _ in range(N_BITS)]
        for _ in range(N_TABLES)
    ]


def dot(a: Column, b: Column) -> Column:
    """Σ a_i·b_i in double, sequential order (JVM higher-order funcs)."""
    return F.aggregate(
        F.zip_with(a, b, lambda x, y: x.cast("double") * y.cast("double")),
        F.lit(0.0),
        lambda acc, x: acc + x,
    )


def norm(a: Column) -> Column:
    return F.sqrt(dot(a, a))


def cosine(a: Column, b: Column) -> Column:
    return dot(a, b) / (norm(a) * norm(b))


def _collect_probes(probes: DataFrame, id_col: str, vec_col: str,
                    max_probes: int):
    """``(X, ids)``: the probe vectors as one float64 matrix (rows in
    ``ids`` order) and their ids, collected to the driver.

    Bounded like every collect in this module: ``limit(max_probes +
    1)`` caps what can cross the wire, and a probe count above
    ``max_probes`` raises.  There is deliberately no unbounded default
    — at 100 TB the index never fits a driver matrix; use ann_lsh_topk
    / ivf_topk, or cosine_verify_pairs for candidate-restricted exact
    scoring."""
    import numpy as np

    pdf = probes.select(id_col, vec_col).limit(max_probes + 1).toPandas()
    if len(pdf) > max_probes:
        raise ValueError(
            f"probe set exceeds max_probes={max_probes}: the probes are "
            "collected to the driver and shipped to every task. Pass an "
            "explicit bounded `probes` frame, raise `max_probes` "
            "consciously, or use the ANN paths (ann_lsh_topk / ivf_topk) "
            "or cosine_verify_pairs.")
    return (np.array(pdf[vec_col].tolist(), dtype=np.float64),
            pdf[id_col].to_numpy())


def cosine_topk_blas(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    probes: DataFrame | None = None,
    max_probes: int = MAX_PROBES,
) -> DataFrame:
    """Exact top-k cosine neighbors per probe vector (self excluded).

    The probe set is normalized into one numpy matrix and broadcast;
    each Arrow batch of the index computes all probe×batch cosines as
    a single BLAS matmul and emits its batch-local top-k per probe; a
    final per-probe top-k merges.  Output: (id, neighbor_id, rank),
    ties broken by neighbor id.

    ``probes=None`` scores the whole index against itself (the exact
    all-pairs baseline) but is HARD-CAPPED at ``max_probes`` vectors —
    above that the call raises rather than pulling an unbounded matrix
    to the driver.  At 100 TB pass an explicit probe set ≪ index: the
    index is scanned once, nothing shuffles except
    n_probes·k·n_partitions candidate rows.
    """
    import numpy as np
    import pandas as pd
    P, p_ids = _collect_probes(probes if probes is not None else df,
                               id_col, vec_col, max_probes)
    P /= np.linalg.norm(P, axis=1, keepdims=True)
    sc = df.sparkSession.sparkContext
    b_mat, b_ids = sc.broadcast(P), sc.broadcast(p_ids)

    def gen(batches):
        mat, pids = b_mat.value, b_ids.value
        for pdf in batches:
            if not len(pdf):
                continue
            X = np.stack([np.asarray(v, dtype=np.float64) for v in pdf[vec_col]])
            X /= np.linalg.norm(X, axis=1, keepdims=True)
            x_ids = pdf[id_col].to_numpy()
            sims = mat @ X.T                      # n_probes × batch
            sims[pids[:, None] == x_ids[None, :]] = -np.inf  # self-exclude
            kk = min(k, sims.shape[1])
            top = np.argpartition(-sims, kk - 1, axis=1)[:, :kk]
            rows = {
                id_col: np.repeat(pids, kk),
                "neighbor_id": x_ids[top].ravel(),
                "_cos": np.take_along_axis(sims, top, axis=1).ravel(),
            }
            out = pd.DataFrame(rows)
            yield out[out["_cos"] > -np.inf]

    # Run the matmul cluster-wide even when the index scan is a single
    # file/partition.
    index = _widen(df.select(id_col, vec_col))
    partial = index.mapInPandas(
        gen, schema=f"{id_col} long, neighbor_id long, _cos double")
    w = Window.partitionBy(id_col).orderBy(F.col("_cos").desc(), F.col("neighbor_id"))
    return (
        partial.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(id_col, "neighbor_id", "rank")
    )


def lsh_candidate_pairs(df: DataFrame, id_col: str, vec_col: str, dim: int,
                        probe_radius: int = 0) -> DataFrame:
    """Distinct candidate id pairs (id_a < id_b) that share ≥ 1 LSH
    bucket (optionally multiprobed): the sub-quadratic candidate
    generator behind embedding near-dup at scale.  Shuffle key is
    (table, bucket); pairs are deduped on cheap int ids before any
    vector rejoins downstream."""
    b = lsh_buckets(df, id_col, vec_col, dim)
    if probe_radius:
        masks = probe_buckets(probe_radius)
        a = b.select(
            "table",
            F.explode(F.array(*[
                F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks
            ])).alias("bucket"),
            F.col(id_col).alias("id_a"),
        )
    else:
        a = b.select("table", "bucket", F.col(id_col).alias("id_a"))
    c = b.select("table", "bucket", F.col(id_col).alias("id_b"))
    return (
        a.join(c, ["table", "bucket"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def cosine_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    vec_col: str,
    threshold: float,
) -> DataFrame:
    """Exact cosine filter over CANDIDATE pairs — the 100 TB near-dup
    verify stage.  ``pairs`` is (id_a, id_b); each side joins its
    vector back (shuffle on the int id, vectors move once), and the
    cosine is a JVM higher-order-function expression — no Python, no
    driver materialization, output (id_a, id_b, cosine ≥ threshold).

    Mirrors the MinHash pipeline's candidate→verify split
    (dedup.jaccard_verify): a sub-quadratic candidate generator (e.g.
    lsh_candidate_pairs) bounds the work; this stage restores exact
    semantics on the surviving pairs."""
    vecs = df.select(F.col(id_col), F.col(vec_col))
    cands = (
        pairs
        .join(vecs.select(F.col(id_col).alias("id_a"),
                          F.col(vec_col).alias("_avec")), "id_a")
        .join(vecs.select(F.col(id_col).alias("id_b"),
                          F.col(vec_col).alias("_bvec")), "id_b")
    )
    return (
        cands.withColumn("cosine", cosine(F.col("_avec"), F.col("_bvec")))
        .filter(F.col("cosine") >= threshold)
        .select("id_a", "id_b", "cosine")
    )


def lsh_buckets(df: DataFrame, id_col: str, vec_col: str, dim: int) -> DataFrame:
    """(table, bucket, id, vec) — bucket = sign pattern of N_BITS
    Rademacher projections, packed into an int."""
    planes = _planes(dim)
    rows = []
    for t, table in enumerate(planes):
        bucket = None
        for j, plane in enumerate(table):
            proj = dot(F.col(vec_col),
                       F.array(*[F.lit(float(c)) for c in plane]))
            bit = F.when(proj >= 0, F.lit(2 ** j)).otherwise(F.lit(0))
            bucket = bit if bucket is None else bucket + bit
        rows.append(F.struct(F.lit(t).alias("table"),
                             bucket.cast("int").alias("bucket")))
    return df.select(
        F.col(id_col), F.col(vec_col),
        F.explode(F.array(*rows)).alias("tb"),
    ).select(id_col, vec_col, "tb.table", "tb.bucket")


def probe_buckets(radius: int) -> list[tuple[int, ...]]:
    """Bit-flip masks for multiprobe: all XOR masks of Hamming weight
    ≤ radius over N_BITS (mask 0 = the exact bucket)."""
    from itertools import combinations

    masks = []
    for r in range(radius + 1):
        for bits in combinations(range(N_BITS), r):
            masks.append(sum(1 << j for j in bits))
    return masks


def ann_lsh_topk(df: DataFrame, id_col: str, vec_col: str, dim: int,
                 k: int = 3, probe_radius: int = 0) -> DataFrame:
    """Approximate top-k: exact cosine restricted to bucket-sharing
    candidates.  Recall grows with N_TABLES; cost is Σ bucket²
    instead of n².

    ``probe_radius`` enables multiprobe LSH (Lv et al., VLDB'07): the
    probe side also looks into buckets whose code differs in ≤ radius
    bits, so near-misses on one hyperplane sign still become
    candidates.  Cost grows only on the probe side of the bucket join
    (× Σ C(N_BITS, r)), not in stored state — the standard way to buy
    recall without more tables at 100 TB index scale."""
    b = _persist(lsh_buckets(df, id_col, vec_col, dim))
    if probe_radius:
        masks = probe_buckets(probe_radius)
        a = b.select(
            "table",
            F.explode(F.array(*[
                F.col("bucket").bitwiseXOR(F.lit(m)) for m in masks
            ])).alias("bucket"),
            F.col(id_col).alias("_pid"),
        )
    else:
        a = b.select("table", "bucket", F.col(id_col).alias("_pid"))
    c = b.select("table", "bucket", F.col(id_col).alias("_nid"))
    # dedup on id pairs (cheap ints), then join the vectors back once —
    # distinct over float arrays would shuffle the embeddings N_TABLES×.
    pairs = (
        a.join(c, ["table", "bucket"])
        .filter(F.col("_pid") != F.col("_nid"))
        .select("_pid", "_nid")
        .distinct()
    )
    vecs = df.select(F.col(id_col), F.col(vec_col))
    cands = (
        pairs
        .join(vecs.select(F.col(id_col).alias("_pid"),
                          F.col(vec_col).alias("_pvec")), "_pid")
        .join(vecs.select(F.col(id_col).alias("_nid"),
                          F.col(vec_col).alias("_nvec")), "_nid")
    )
    scored = cands.withColumn("_cos", cosine(F.col("_pvec"), F.col("_nvec")))
    w = Window.partitionBy("_pid").orderBy(F.col("_cos").desc(), F.col("_nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_pid").alias(id_col), F.col("_nid").alias("neighbor_id"), "rank")
    )


def _ivf_ranked(df: DataFrame, frame: DataFrame, id_col: str,
                vec_col: str, centroid_stride: int,
                max_rank: int) -> DataFrame:
    """``(id, _cid, _pr)``: each of ``frame``'s vectors ranked against
    the IVF coarse centroids (every ``centroid_stride``-th vector of
    ``df`` by id, broadcast), cosine descending, ties to the lower
    centroid id, ranks ≤ ``max_rank`` kept.

    Norms are STAGED as columns on each side: cosine(a, b) evaluates
    three interpreted HOF aggregates per pair (dot and both norms; HOFs
    sit outside whole-stage codegen), while dot/(_vn·_cn) computes the
    identical float expression (same sequential sums, same sqrt, same
    multiply, so ranks cannot flip) with one HOF per pair.  Callers
    ``_widen`` an index-sized ``frame``: the scoring feeds a tiny
    window exchange that AQE coalesces to one partition, so without
    the widen the whole n×c scoring runs in one task (3.4 s → 1.0 s
    at sf0.1 for the assignment pass)."""
    cent = F.broadcast(
        df.filter(F.col(id_col) % centroid_stride == 0)
        .select(F.col(id_col).alias("_cid"), F.col(vec_col).alias("_cvec"),
                norm(F.col(vec_col)).alias("_cn")))
    w = Window.partitionBy(id_col).orderBy(F.col("_ccos").desc(), F.col("_cid"))
    return (
        frame.withColumn("_vn", norm(F.col(vec_col)))
        .join(cent)
        .withColumn("_ccos", dot(F.col(vec_col), F.col("_cvec"))
                    / (F.col("_vn") * F.col("_cn")))
        .withColumn("_pr", F.row_number().over(w))
        .filter(F.col("_pr") <= max_rank)
        .select(F.col(id_col), "_cid", "_pr")
    )


def ivf_topk(
    df: DataFrame,
    id_col: str,
    vec_col: str,
    k: int = 3,
    centroid_stride: int = 25,
    nprobe: int = 4,
) -> DataFrame:
    """IVF (inverted-file) ANN: a coarse quantizer partitions the
    index — each vector lists under its nearest centroid — and a query
    probes only its ``nprobe`` closest centroids' lists.

    The quantizer here is deterministic (centroids = every
    ``centroid_stride``-th vector by id, no Lloyd rounds) so the DuckDB
    oracle can replay it exactly; swap in trained centroids at scale.

    Plan shape: centroids are broadcast both times they're needed —
    assignment is broadcast-join + map-side-combined ``max_by`` (the
    shuffle carries ONE row per indexed vector, never the n×c cross
    product), probing is per-query top-nprobe over the same broadcast.
    The candidate join then shuffles on centroid id — list sizes, not
    |index|², bound the work, the same skew profile as LSH buckets.
    """
    # ONE scoring pass over index × broadcast(centroids); rank 1 is the
    # inverted-list assignment, ranks ≤ nprobe are the probe set.  The
    # persisted frame is int-only (id, cid, rank) — the vectors never
    # flow through the ranking shuffle.
    vecs = df.select(F.col(id_col), F.col(vec_col))
    ranked_cent = _persist(_ivf_ranked(df, _widen(vecs), id_col, vec_col,
                                       centroid_stride, max(nprobe, 1)))
    assign = (ranked_cent.filter(F.col("_pr") == 1)
              .select(F.col(id_col).alias("_nid"), "_cid"))
    probes = ranked_cent.select(F.col(id_col).alias("_pid"), "_cid")
    pairs = (
        probes.join(assign, "_cid")
        .filter(F.col("_pid") != F.col("_nid"))
        .select("_pid", "_nid")
    )
    # staged norms again: one HOF aggregate per candidate pair instead
    # of three, float-identical (see _ivf_ranked)
    cands = (
        pairs
        .join(vecs.select(F.col(id_col).alias("_pid"),
                          F.col(vec_col).alias("_pvec"),
                          norm(F.col(vec_col)).alias("_pn")), "_pid")
        .join(vecs.select(F.col(id_col).alias("_nid"),
                          F.col(vec_col).alias("_nvec"),
                          norm(F.col(vec_col)).alias("_nn")), "_nid")
    )
    scored = cands.withColumn(
        "_cos", dot(F.col("_pvec"), F.col("_nvec"))
        / (F.col("_pn") * F.col("_nn")))
    w = Window.partitionBy("_pid").orderBy(F.col("_cos").desc(), F.col("_nid"))
    return (
        scored.withColumn("rank", F.row_number().over(w))
        .filter(F.col("rank") <= k)
        .select(F.col("_pid").alias(id_col), F.col("_nid").alias("neighbor_id"),
                "rank")
    )


def quantize_int8(df: DataFrame, id_col: str, vec_col: str) -> DataFrame:
    """Symmetric per-vector int8 quantization — the storage-scale
    companion to the ANN paths: max-abs scale per vector, elements
    mapped to ⌊x·127/scale⌋ ∈ [-127, 127].  At 100 TB this is the 4×
    embedding-store shrink every production ANN index applies before
    distance computation; dequantization is q·scale/127.

    Pure codegen array expressions (row-local, no shuffle), STAGED as
    two projections: referencing the ``scale`` expression inside the
    quantize lambda would re-run the array_max scan per ELEMENT
    (codegen CSE does not reach into HOF lambdas — the winnow/CDC
    lesson), O(d²) per row; staging ``scale`` as a column makes it
    O(d) (3.7× at sf0.1's 64-dim vectors).  All arithmetic is forced
    to DOUBLE before the divide so the floor boundary is bit-identical
    across engines (float ULP noise at the 127/scale edge would flip
    the quantized value), which is what makes the SQL oracle exact.
    A zero vector quantizes to zeros.
    """
    x = F.transform(F.col(vec_col), lambda v: v.cast("double"))
    staged = df.select(
        F.col(id_col), x.alias("__x"),
        F.array_max(F.transform(x, F.abs)).alias("scale"))
    q = F.when(F.col("scale") == 0,
               F.transform(F.col("__x"), lambda v: F.lit(0))).otherwise(
        F.transform(F.col("__x"),
                    lambda v: F.floor(v * 127 / F.col("scale"))
                    .cast("int")))
    return staged.select(F.col(id_col), "scale", q.alias("qvec"))


def assign_clusters(df: DataFrame, id_col: str, vec_col: str,
                    k: int = 8) -> DataFrame:
    """SemDeDup-style semantic cluster assignment (Abbas et al.,
    "SemDeDup: Data-efficient learning at web-scale through semantic
    deduplication", 2023 — public): partition the corpus by nearest
    centroid in embedding space so near-duplicate detection can run
    WITHIN clusters instead of all-pairs.

    Centroids are the ``k`` vectors with the smallest ids — a
    deterministic seeding (kmeans++ needs RNG state and iterations;
    the downstream dedup only needs a stable space partition, not an
    optimal one).  The k centroid vectors are collected to the driver
    (bounded by construction: k rows, NOT data-sized) and embedded as
    literal arrays, so assignment is a pure per-row projection —
    argmax over k cosine expressions, ZERO shuffles, no join.  At
    100 TB this is the only shape that works: a cross-join against a
    centroid table would shuffle n·k rows for no reason.

    Ties break toward the lower centroid id.  Returns
    (id_col, cluster_id, cluster_rank ≡ 1..k preference order ranks
    are not emitted — just the argmax winner).

    k-scaling note: the literal-expression argmax costs O(k·dim)
    expression ops per row, and — unlike ``kmeans_quantized`` — this
    FLOAT cosine cannot get a bit-identical BLAS fallback (matmul
    reorders the double summation; near-tie assignments would flip
    against the sequential-sum oracle).  For large-k space partition
    use ``kmeans_quantized`` (integer distances are exact under any
    summation order, so its broadcast int64-matmul argmin stays
    bit-identical to the oracle) — the SemDeDup pipeline already does.
    """
    rows = (df.select(id_col, vec_col).orderBy(id_col).limit(k).collect())
    cents = [(r[0], [float(x) for x in r[1]]) for r in rows]

    def lit_vec(vals):
        return F.array(*[F.lit(v) for v in vals])

    e = F.col(vec_col)
    # struct(cos, -cid) lexicographic max ≡ (cos desc, cid asc) argmax
    best = F.greatest(*[
        F.struct(cosine(e, lit_vec(v)).alias("c"),
                 F.lit(-cid).cast("long").alias("nid"))
        for cid, v in cents
    ])
    return df.select(
        F.col(id_col),
        (-best["nid"]).cast("long").alias("cluster_id"))


def kmeans_quantized(df: DataFrame, id_col: str, vec_col: str,
                     k: int = 4, iters: int = 2,
                     scale: int = 10_000,
                     keep_qvec: bool = False) -> DataFrame:
    """Distributed Lloyd's k-means over GLOBALLY quantized embeddings —
    iterative clustering whose every step is integer arithmetic, so the
    final assignment is hash-exact across engines (the float version
    cannot be: centroid means are order-of-summation dependent).

    Quantization is one deterministic float op per element
    (``floor(v·scale)`` — a single IEEE multiply, no summation), after
    which distances are integer L2² (``Σ(q−c)²``, fits int64 up to
    ~10^11 rows/cluster at scale=10^4) and centroid updates are
    elementwise ``sum // count`` floor division.  Seeding follows
    ``assign_clusters``: the k smallest ids (deterministic, no RNG);
    fewer than k rows raise ValueError.  An emptied cluster keeps its
    previous centroid.

    This is product quantization's codebook training at one subspace
    (``_pq_train`` with m=1): each iteration's assignment is the one
    broadcast int64-matmul argmin pass (``_pq_assigned``) — never a
    join or a shuffle — and the update collects exactly k·dim rows
    (bounded by construction, the MLlib pattern) as the next
    iteration's centroid state.

    Returns ``(id_col, cluster_id, dist_sq)`` for the final
    assignment (plus the quantized vector as ``qvec`` when
    ``keep_qvec`` — ``semdedup_prune`` reuses it so the within-cluster
    similarity pass needs no join back to the embeddings).  Reference
    analogue: none — Kafka Streams has no iterative compute at all
    (SURVEY.md §2.4); this is the Spark-side primitive SemDeDup-style
    pipelines need above ``assign_clusters``'s fixed seeding.
    """
    q = _persist(_pq_quantize(df, id_col, vec_col, scale))
    cents = _pq_train(q, id_col, 1, k, iters)
    extra = [F.col("__qv").alias("qvec")] if keep_qvec else []
    return _pq_assigned(q, id_col, cents).select(
        F.col(id_col),
        F.col("__c0").alias("cluster_id"),
        F.col("__d").alias("dist_sq"),
        *extra)


def semdedup_prune(df: DataFrame, id_col: str, vec_col: str,
                   k: int = 4, iters: int = 2, scale: int = 10_000,
                   tau_num: int = 9, tau_den: int = 20,
                   block_rows: int = 2048) -> DataFrame:
    """SemDeDup (Abbas et al. 2023, public): k-means the embedding
    space, then mark as semantic duplicates the vectors that have a
    LOWER-id cluster-mate with cosine ≥ tau (tau = tau_num/tau_den) —
    keep-lowest-id, the paper's cluster-then-prune recipe that replaces
    corpus-wide all-pairs with within-cluster pairs.

    Every comparison is integer-exact on the globally-quantized
    vectors (``kmeans_quantized``'s ``floor(v·scale)`` longs):
    ``cos(a,b) >= tau  ≡  dot > 0  AND
    tau_den²·dot² >= tau_num²·|a|²·|b|²`` — dot and the norms fit
    int64 (≤ dim·(scale·|v|max)² ≈ 6e8 here) but their squared
    products peak ~1e20, above int64.  The prune evaluates the
    comparison in float64 with a relative margin of 1e-6 and
    re-checks every inside-margin pair in arbitrary-precision Python
    ints: float64's error on ~1e20 operands is ~2e4, nine orders
    below the margin, so no pair can be misclassified — the float
    path is a screen, the exact path is the authority (the DuckDB
    oracle runs the same inequality in HUGEINT end-to-end).

    Execution is the paper's own shape: ONE shuffle groups each
    cluster onto an executor, then a vectorized Arrow/BLAS pass
    (``applyInPandas``) computes the within-cluster Gram matrix in
    ``block_rows``-row blocks — memory per task is bounded by
    cluster_rows·dim·8 B plus block_rows·cluster_rows·8 B, the
    SemDeDup working-set model (k is the knob that bounds cluster
    size; the paper runs k≈100k on 5B embeddings for ~10^4-row
    clusters).  A join-based JVM formulation was 3-4× slower at
    sf0.1 (500k pairs through a salted self-join + per-pair
    expression dots) — pairwise dense arithmetic is BLAS's home turf,
    the same trade ``cosine_topk_blas`` measured at ~100×.

    Returns ``(id_col, cluster_id, is_dup)`` for every input row.
    """
    import pandas as pd

    assigned = kmeans_quantized(
        df, id_col, vec_col, k=k, iters=iters, scale=scale,
        keep_qvec=True).drop("dist_sq")
    tn2, td2 = tau_num * tau_num, tau_den * tau_den

    def prune(pdf: pd.DataFrame) -> pd.DataFrame:
        import numpy as np

        q = np.array(pdf["qvec"].tolist(), dtype=np.int64)
        ids = pdf[id_col].to_numpy()
        order = np.argsort(ids, kind="stable")
        q, ids = q[order], ids[order]
        n = len(ids)
        n2 = np.einsum("ij,ij->i", q, q)  # int64-exact row norms²
        n2f = n2.astype(np.float64)
        dup = np.zeros(n, dtype=bool)
        cols = np.arange(n)
        for s in range(0, n, block_rows):
            e = min(s + block_rows, n)
            g = q[s:e] @ q.T  # int64-exact block Gram
            gf = g.astype(np.float64)
            lhs = td2 * gf * gf
            rhs = tn2 * np.outer(n2f[s:e], n2f)
            margin = 1e-6 * np.maximum(lhs, rhs) + 1.0
            lower = cols[None, :] < np.arange(s, e)[:, None]  # j < i only
            pos = (g > 0) & lower
            sure = pos & (lhs >= rhs + margin)
            border = pos & ~sure & (lhs >= rhs - margin)
            for bi, bj in zip(*np.nonzero(border)):
                d = int(g[bi, bj])
                if td2 * d * d >= tn2 * int(n2[s + bi]) * int(n2[bj]):
                    sure[bi, bj] = True
            dup[s:e] |= sure.any(axis=1)
        return pd.DataFrame({
            id_col: ids,
            "cluster_id": pdf["cluster_id"].iloc[0],
            "is_dup": dup,
        })

    out_schema = f"{id_col} long, cluster_id long, is_dup boolean"
    return (assigned.groupBy("cluster_id")
            .applyInPandas(prune, schema=out_schema))


def rademacher_matrix(out_dim: int, in_dim: int, seed: int = 11) -> list[list[int]]:
    """Frozen ±1 projection matrix (Rademacher rows), deterministic in
    ``seed`` — embedded as literals on BOTH the Spark side and the
    DuckDB oracle so the projection replays bit-for-bit."""
    rng = random.Random(seed)
    return [[rng.choice((-1, 1)) for _ in range(in_dim)]
            for _ in range(out_dim)]


def random_project(df: DataFrame, id_col: str, vec_col: str,
                   out_dim: int = 16, seed: int = 11) -> DataFrame:
    """Signed random projection (Achlioptas'01 / Johnson-Lindenstrauss
    with ±1 entries — public): reduce ``vec_col`` to ``out_dim``
    integer components ``y_j = Σ_i sign[j][i] · q_i`` over the int8-
    quantized vector.  The JL lemma preserves pairwise distances to
    1±ε at out_dim = O(log n / ε²); with ±1 entries the arithmetic is
    INTEGER-exact end to end (|y_j| ≤ 127·in_dim — far inside int64),
    so the reduced vectors are cross-engine reproducible, unlike any
    float Gaussian matrix.

    At 100 TB this is the standard pre-ANN shrink: 64-dim float32 →
    16-dim int64 cuts the vector bytes the ANN index shuffles/stores
    ~4× while keeping neighbor ranks (the brute-force / IVF / LSH
    paths all accept the projected column as-is).  Row-local codegen
    (one zip_with dot per output component), zero shuffles, zero UDFs.

    Reference analogue: none (SURVEY.md §2 has no vector surface) —
    beyond-parity machinery beside quantize_int8.

    Returns (id, scale, yvec: array<long>).
    """
    q = quantize_int8(df, id_col, vec_col)
    signs = rademacher_matrix(out_dim, _vec_dim(df, vec_col), seed)
    comps = [
        F.aggregate(
            F.zip_with(F.col("qvec"),
                       F.array(*[F.lit(s) for s in row]),
                       lambda a, b: a.cast("long") * b),
            F.lit(0).cast("long"),
            lambda acc, x: acc + x,
        )
        for row in signs
    ]
    return q.select(F.col(id_col), F.col("scale"),
                    F.array(*comps).alias("yvec"))


def _vec_dim(df: DataFrame, vec_col: str) -> int:
    """Vector width from the first row — metadata-sized action (one
    row), used only to size the frozen literal matrix."""
    row = df.select(F.size(F.col(vec_col)).alias("d")).first()
    if row is None:
        raise ValueError("empty input — cannot infer vector dim")
    return row["d"]


# ---------------------------------------------------------------------------
# Product quantization (Jégou et al., "Product Quantization for Nearest
# Neighbor Search", TPAMI 2011 — public): split each embedding into m
# subvectors, k-means each subspace independently, store each vector as m
# small codes.  The memory-bounded ANN compression: a dim-64 float vector
# becomes m=4 bytes, and query scoring needs only the codes plus an m×k
# distance table per probe.  Everything below rides the repo's integer
# k-means (floor(v·scale) quantization, integer L2², floor-division
# centroid means), so codes and ADC scores are hash-exact cross-engine.
# ---------------------------------------------------------------------------


def _pq_quantize(df: DataFrame, id_col: str, vec_col: str,
                 scale: int) -> DataFrame:
    return df.select(
        F.col(id_col),
        F.transform(F.col(vec_col),
                    lambda v: F.floor(v.cast("double") * scale)
                    .cast("long")).alias("__qv"))


def _pq_assigned(q: DataFrame, id_col: str, cents: list,
                 bc_out: list | None = None) -> DataFrame:
    """``(id, __qv, __c0..__c{m-1}, __d)`` — every subspace's argmin
    code and the summed squared distance to the chosen centroids, in
    ONE pass over the quantized frame.

    ``cents`` holds one int64 (k, sub) codebook per subspace.  They go
    out as one Spark broadcast into a ``mapInPandas`` pass that
    computes every subspace's distances per Arrow batch with int64
    matmuls (|q|² − 2·q·C + |c|², each term exact) and argmins them
    vectorized: one matmul per subspace and batch whatever k is, so
    the same kernel serves k=4 and the SemDeDup/PQ-typical k ≥ 256.
    argmin's first occurrence breaks ties to the lowest centroid id.
    The broadcast handle is appended to ``bc_out`` so
    training iterations can release it after their action: at
    SemDeDup-scale k the codebook is ~50 MB, and an unreleased copy
    per iteration would pin memory for the application's lifetime.
    """
    import numpy as np
    import pandas as pd

    m = len(cents)
    id_type = dict(q.dtypes)[id_col]
    bc = q.sparkSession.sparkContext.broadcast(cents)
    if bc_out is not None:
        bc_out.append(bc)

    def part(batches):
        books = bc.value
        sub = books[0].shape[1]
        cn2 = [np.einsum("ij,ij->i", C, C) for C in books]
        for pdf in batches:
            if not len(pdf):
                continue
            Q = np.array(pdf["__qv"].tolist(), dtype=np.int64)
            out = {id_col: pdf[id_col], "__qv": pdf["__qv"]}
            rows = np.arange(len(Q))
            total = np.zeros(len(Q), dtype=np.int64)
            for j, C in enumerate(books):
                Qj = Q[:, j * sub:(j + 1) * sub]
                d = (np.einsum("ij,ij->i", Qj, Qj)[:, None]
                     - 2 * (Qj @ C.T) + cn2[j][None, :])
                idx = np.argmin(d, axis=1)
                out[f"__c{j}"] = idx
                total += d[rows, idx]
            out["__d"] = total
            yield pd.DataFrame(out)

    schema = (f"{id_col} {id_type}, __qv array<bigint>, "
              + "".join(f"__c{j} bigint, " for j in range(m))
              + "__d bigint")
    return q.mapInPandas(part, schema=schema)


def _pq_train(q: DataFrame, id_col: str, m: int, k: int,
              iters: int) -> list:
    """Per-subspace integer k-means codebooks over the pre-quantized
    ``__qv`` frame: one int64 (k, dim/m) array per subspace.  The k
    smallest ids seed every subspace (one bounded k-row collect; fewer
    than k rows raise).  Each refinement iteration is ONE corpus scan:
    all m subspace assignments come from ``_pq_assigned`` (zero joins,
    zero pre-agg shuffles), and the centroid update explodes
    (subspace, code, position) with map-side partial sums — at most
    m·k·sub rows collected (bounded by construction).  Empty clusters
    keep their previous centroid."""
    import numpy as np

    seed = [r["__qv"] for r in q.orderBy(id_col).limit(k).collect()]
    if len(seed) < k:
        raise ValueError(f"need at least k={k} rows to seed codebooks")
    dim = len(seed[0])
    if dim % m:
        raise ValueError(f"dim {dim} not divisible by m={m}")
    sub = dim // m
    S = np.array(seed, dtype=np.int64)
    cents = [S[:, j * sub:(j + 1) * sub].copy() for j in range(m)]

    for _ in range(max(0, iters - 1)):
        bcs: list = []
        assigned = _pq_assigned(q, id_col, cents, bcs)
        entries = F.array(*[
            F.struct(F.lit(j).alias("j"), F.col(f"__c{j}").alias("c"),
                     F.slice("__qv", j * sub + 1, sub).alias("sv"))
            for j in range(m)])
        upd = (assigned
               .select(F.explode(entries).alias("e"))
               .select("e.j", "e.c", F.posexplode("e.sv")
                       .alias("p", "x"))
               .groupBy("j", "c", "p")
               .agg(F.expr("CAST(SUM(x) DIV COUNT(*) AS LONG)")
                    .alias("v"))
               .collect())  # ≤ m·k·sub rows — bounded by construction
        for b in bcs:  # iteration's codebook copy is consumed — release
            b.unpersist(blocking=False)
        cents = [C.copy() for C in cents]
        for r in upd:
            cents[r["j"]][r["c"], r["p"]] = r["v"]
    return cents


def _pq_codes_frame(q: DataFrame, id_col: str, cents: list) -> DataFrame:
    """(id, codes array<int>) from trained codebooks."""
    return _pq_assigned(q, id_col, cents).select(
        F.col(id_col),
        F.array(*[F.col(f"__c{j}").cast("int") for j in range(len(cents))])
        .alias("codes"))


def pq_encode(df: DataFrame, id_col: str, vec_col: str,
              m: int = 4, k: int = 4, iters: int = 2,
              scale: int = 10_000) -> DataFrame:
    """PQ-encode embeddings: ``(id, codes array<int> of length m)``.

    Classic product quantization (Jégou et al. 2011) on the repo's
    integer k-means: quantize once globally (``floor(v·scale)``),
    train an independent k-centroid codebook per dim/m-wide subspace
    (``_pq_train`` — one scan per iteration for ALL subspaces), then
    emit each vector's per-subspace argmin code.  A dim-64 float
    vector compresses to m codes — the 100 TB ANN store: scoring
    needs the codes and an m×k table per probe, never the vectors.

    Integer arithmetic end to end ⇒ codes replay bit-exactly in the
    SQL oracle (the float version cannot: centroid means are
    summation-order dependent).  The per-row argmin is one broadcast
    int64 matmul per subspace and Arrow batch (``_pq_assigned``),
    ties to the lowest code.

    Reference analogue: none (SURVEY.md §2 — no vector compute);
    beyond-parity ANN machinery.
    """
    q = _persist(_pq_quantize(df, id_col, vec_col, scale))
    return _pq_codes_frame(q, id_col, _pq_train(q, id_col, m, k, iters))


def _adc_tables(probes: DataFrame, id_col: str, vec_col: str,
                cents: list, scale: int, max_probes: int):
    """``(flat, pids)`` literals: every probe's exact integer m×k
    distance tables to the codebooks, probe i's table at offset i·m·k
    of ``flat`` (subspace j, code c at + j·k + c), and the probe ids in
    the same order.  The probe set is bounded: it is collected to the
    driver and every table ships inside the plan.  One literal array
    keeps the generated code at m lookups whatever the probe count (a
    literal per probe passes Java's 64 KB method limit at about 50
    probes, m=4, k=16).  An empty probe frame gives empty literals,
    which score nothing."""
    import numpy as np

    X, ids = _collect_probes(probes, id_col, vec_col, max_probes)
    sub = cents[0].shape[1]
    P = np.floor(X.reshape(len(ids), len(cents) * sub) * scale).astype(np.int64)
    tables = np.stack([((P[:, None, j * sub:(j + 1) * sub] - C[None]) ** 2)
                       .sum(axis=2) for j, C in enumerate(cents)], axis=1)
    id_type = dict(probes.dtypes)[id_col]
    return (F.lit(tables.ravel()),
            F.lit(ids.astype(np.int64)).cast(f"array<{id_type}>"))


def _adc_topn(pairs: DataFrame, flat: Column, pids: Column, id_col: str,
              m: int, k: int, n: int) -> DataFrame:
    """Per-probe ADC top-``n`` over ``pairs (_pid, _nid, codes)``:
    ``Σ_j flat[off + j·k + code_j]`` with the probe's table offset
    ``off`` found by its position in ``pids`` — a row-local projection,
    then one per-probe window.  Output ``(id_col, neighbor_id, rank,
    adc_dist)``, ascending distance, ties to the lower neighbor id."""
    off = (F.array_position(pids, F.col("_pid")).cast("int") - 1) * (m * k)
    adc = sum((F.element_at(flat, off + j * k
                            + F.element_at("codes", j + 1) + 1)
               for j in range(m)), start=F.lit(0).cast("long"))
    w = Window.partitionBy("_pid").orderBy(F.col("_d").asc(),
                                           F.col("_nid").asc())
    return (pairs.withColumn("_d", adc)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n)
            .select(F.col("_pid").alias(id_col),
                    F.col("_nid").alias("neighbor_id"),
                    "rank", F.col("_d").alias("adc_dist")))


def pq_topk(df: DataFrame, id_col: str, vec_col: str,
            probes: DataFrame, n: int = 3,
            m: int = 4, k: int = 4, iters: int = 2,
            scale: int = 10_000,
            max_probes: int = 64) -> DataFrame:
    """Asymmetric-distance (ADC) top-``n`` over PQ codes: for each
    probe, score every vector as ``Σ_j T_j[code_j]`` where ``T_j`` is
    the probe's integer distance table to subspace ``j``'s codebook —
    the vectors themselves are never touched at query time, only the
    m-byte codes.  Output ``(id, neighbor_id, rank, adc_dist)``; ties
    break toward the lower neighbor id; the probe itself is excluded.

    The probe set is bounded (``max_probes`` guard, the same
    ``_collect_probes`` as cosine_topk_blas): each probe's m×k table
    is computed driver-side in exact integer arithmetic and embedded
    in one literal array (``_adc_tables``), so scoring is a pure
    row-local projection over the codes frame — zero joins before the
    per-probe top-n window.

    ADC is an approximation of true distance (quantization error);
    the pytest pins exact agreement with a python PQ model (probes
    excluded before ranking, as in cosine_topk_blas, so ranks 1..n
    are contiguous).  Unlike cosine_topk_blas's 100k probe cap, the
    cap is small: the driver computes every probe's m×k table and
    ships them all inside the plan, and each probe multiplies the
    scored rows by the corpus size before the top-n window.
    """
    q = _persist(_pq_quantize(df, id_col, vec_col, scale))
    cents = _pq_train(q, id_col, m, k, iters)
    flat, pids = _adc_tables(probes, id_col, vec_col, cents, scale,
                             max_probes)
    pairs = (_pq_codes_frame(q, id_col, cents)
             .select(F.col(id_col).alias("_nid"), "codes",
                     F.explode(pids).alias("_pid"))
             .filter(F.col("_pid") != F.col("_nid")))
    return _adc_topn(pairs, flat, pids, id_col, m, k, n)


def ivf_pq_topk(df: DataFrame, id_col: str, vec_col: str,
                probes: DataFrame, n: int = 3,
                centroid_stride: int = 25, nprobe: int = 4,
                m: int = 4, k: int = 4, iters: int = 2,
                scale: int = 10_000,
                max_probes: int = 64) -> DataFrame:
    """IVF-PQ — the production ANN composite (Jégou et al. 2011's
    IVFADC): the IVF coarse quantizer SHORTLISTS (each probe
    scores only the vectors assigned to its ``nprobe`` nearest
    centroids' inverted lists), and ADC over PQ codes SCORES the
    shortlist (the raw vectors are never touched at query time).
    Where ``ivf_topk`` re-reads candidate vectors for exact cosine and
    ``pq_topk`` ADC-scans the WHOLE index per probe, the composite
    pays neither: per probe the work is |probed lists| code rows ×
    m table lookups.

    Output ``(id_col, neighbor_id, rank, adc_dist)`` — ascending ADC
    distance, ties to the lower neighbor id, the probe itself
    excluded.  Coarse centroids are the deterministic every-
    ``centroid_stride``-th vector (replayable; swap trained centroids
    at scale); codebooks/codes are the integer-exact PQ machinery
    shared with ``pq_encode``/``pq_topk``.

    Plan shape at 100 TB: centroids broadcast (assignment shuffles
    ONE (id, cid) row per indexed vector); codes are one bounded
    projection pass; the candidate join shuffles on centroid id
    (list sizes bound the work, the LSH-bucket skew profile); ADC
    tables are driver-computed exact integers in one literal array
    (``_adc_tables``, shared with ``pq_topk``), so scoring is
    row-local codegen after the candidate-codes hash join; one
    per-probe top-n window over candidate-sized input."""
    if n < 1:
        raise ValueError("n must be >= 1")
    if nprobe < 1:
        raise ValueError("nprobe must be >= 1")
    vecs = df.select(F.col(id_col), F.col(vec_col))
    assigned = (_ivf_ranked(df, _widen(vecs), id_col, vec_col,
                            centroid_stride, 1)
                .select(F.col(id_col).alias("_nid"), "_cid"))
    plists = (_ivf_ranked(df, probes.select(id_col, vec_col), id_col,
                          vec_col, centroid_stride, nprobe)
              .select(F.col(id_col).alias("_pid"), "_cid"))

    q = _persist(_pq_quantize(df, id_col, vec_col, scale))
    cents = _pq_train(q, id_col, m, k, iters)
    flat, pids = _adc_tables(probes, id_col, vec_col, cents, scale,
                             max_probes)
    pairs = (plists.join(assigned, "_cid")
             .filter(F.col("_pid") != F.col("_nid"))
             .join(_pq_codes_frame(q, id_col, cents)
                   .select(F.col(id_col).alias("_nid"), "codes"), "_nid"))
    return _adc_topn(pairs, flat, pids, id_col, m, k, n)


def ivf_pq_rerank(df: DataFrame, id_col: str, vec_col: str,
                  probes: DataFrame, n: int = 3, refine: int = 4,
                  centroid_stride: int = 25, nprobe: int = 4,
                  m: int = 4, k: int = 4, iters: int = 2,
                  scale: int = 10_000,
                  max_probes: int = 64) -> DataFrame:
    """IVFADC+R — re-ranked IVF-PQ (Jégou et al. 2011 §VI's
    refinement stage): ``ivf_pq_topk`` shortlists the top ``n·refine``
    candidates per probe by approximate ADC distance, then ONLY those
    candidates are re-scored with the EXACT squared L2 distance on the
    quantized integer grid (``floor(v·scale)`` per coordinate — the
    same grid the PQ pipeline trains on, so the replay is
    integer-exact) and the top ``n`` by exact distance are kept.
    This recovers most of the recall ADC quantization loses while
    touching raw vectors for only ``n·refine`` candidates per probe —
    never the index.

    Output ``(id_col, neighbor_id, rank, dist2)`` — ascending exact
    quantized squared L2, ties to the lower neighbor id, the probe
    itself excluded (already excluded by the shortlist).

    Plan shape at 100 TB: everything ivf_pq_topk does (broadcast
    centroids, one (id,cid) assignment exchange, candidate hash join
    on list id, row-local ADC, per-probe top-n·refine window), plus:
    ONE hash join of the ≤ max_probes·n·refine-row shortlist against
    the quantized index projection (Spark broadcasts the tiny
    shortlist side), one ≤ max_probes-row broadcast of the probe
    vectors, a row-local zip_with/aggregate fold for the exact
    distance, and one per-probe top-n window over shortlist-sized
    input.  Nothing data-sized is sorted or re-shuffled for the
    refinement.

    Reference analogue: none (SURVEY.md §2 — no vector search);
    beyond-parity ANN machinery completing the IVF family
    (ivf_topk → exact cosine re-read; pq_topk → full-scan ADC;
    ivf_pq_topk → shortlisted ADC; ivf_pq_rerank → shortlisted ADC +
    exact refinement).
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    if refine < 1:
        raise ValueError("refine must be >= 1")
    short = ivf_pq_topk(df, id_col, vec_col, probes, n=n * refine,
                        centroid_stride=centroid_stride, nprobe=nprobe,
                        m=m, k=k, iters=iters, scale=scale,
                        max_probes=max_probes)
    nb = _pq_quantize(df, id_col, vec_col, scale).select(
        F.col(id_col).alias("neighbor_id"), F.col("__qv").alias("__qb"))
    pr = F.broadcast(
        _pq_quantize(probes.select(id_col, vec_col), id_col, vec_col,
                     scale)
        .select(F.col(id_col), F.col("__qv").alias("__qa")))
    j = (short.select(id_col, "neighbor_id")
         .join(nb, "neighbor_id").join(pr, id_col))
    dist2 = F.aggregate(
        F.zip_with("__qa", "__qb", lambda a, b: (a - b) * (a - b)),
        F.lit(0).cast("long"), lambda acc, x: acc + x)
    w = Window.partitionBy(id_col).orderBy(
        F.col("dist2").asc(), F.col("neighbor_id").asc())
    return (j.withColumn("dist2", dist2)
            .withColumn("rank", F.row_number().over(w))
            .filter(F.col("rank") <= n)
            .select(id_col, "neighbor_id", "rank", "dist2"))
