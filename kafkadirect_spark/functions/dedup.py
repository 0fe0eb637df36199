"""Deduplication operators: exact content-hash, n-gram Jaccard,
MinHash-LSH (banded), SimHash, span-level exact dedup, and
content-defined chunking (cdc_chunks/cdc_dup_stats — insertion-proof
sub-document dedup; see those docstrings).

Scale design (the 100 TB contract):

- **exact_dedup** — one shuffle on the 128-bit content hash; map-side
  partial aggregation; no sort.
- **ngram_jaccard_pairs** — shingle-inverted-index join: explode
  distinct shingles, join on the shingle, count common per pair.  This
  is the *exact* verifier; its shuffle is bounded by the inverted index
  size, not |docs|².  Hot shingles are the skew risk — ``max_doc_freq``
  drops shingles shared by more than that many docs (stopword-grams
  carry no dedup signal), which is also what keeps the join from
  degenerating toward all-pairs on common text.
- **minhash_signatures / lsh_candidate_pairs** — the sub-quadratic
  scale path: 32 portable min-hashes per doc, banded 8×4; candidate
  pair ⇔ equal 4-row signature in ≥1 band.  Signatures are row-local
  array expressions (zero shuffles); the only exchange is
  groupBy(band, band_sig) for buckets — never an all-pairs join.  Feed candidates to ngram_jaccard_pairs
  (restricted to the candidate set) for exact verification.
- **simhash** — one 32-bit signature per doc in a single aggregation
  pass; near-dup ⇔ small Hamming distance; bucket by signature (or
  rotated prefixes) for sub-quadratic search.

All hashing uses text.portable_hash, so every step is reproducible in
ANSI SQL for the DuckDB oracles (plans/llm_queries.py embeds the same
permutation constants).
"""

from __future__ import annotations

import random

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.functions.text import HASH_P, portable_hash, shingles, tokens

# MinHash permutations h_i(x) = (a_i·x + b_i) mod P — frozen seed so
# Spark results and the SQL oracles agree byte-for-byte.
N_PERM = 32
N_BANDS = 8
ROWS_PER_BAND = N_PERM // N_BANDS
_rng = random.Random(42)
PERMS: list[tuple[int, int]] = [
    (_rng.randrange(1, HASH_P), _rng.randrange(0, HASH_P)) for _ in range(N_PERM)
]


def content_hash(text_col: Column | str) -> Column:
    """128-bit md5 of the raw content — the exact-dedup key."""
    c = F.col(text_col) if isinstance(text_col, str) else text_col
    return F.md5(c)


def exact_dedup(df: DataFrame, text_col: str, id_col: str) -> DataFrame:
    """Exact duplicate groups: (content_hash, keeper=min id, n_dups).
    Single hash-shuffle; downstream keeps rows where id == keeper."""
    return (
        df.select(content_hash(text_col).alias("content_hash"), F.col(id_col))
        .groupBy("content_hash")
        .agg(F.min(id_col).alias("keeper"), F.count(F.lit(1)).alias("n_docs"))
    )


# Intermediates cached by the pipelines below (inverted indexes, LSH
# bucket frames, edge lists).  They can't be unpersisted inside the
# builder functions — the returned lazy DataFrames still reference
# them — so they are tracked here and released explicitly: pipelines
# that run many dedup jobs in one session call release_caches() after
# the terminal action of each job; otherwise Spark's LRU block
# eviction reclaims them under memory pressure (MEMORY_AND_DISK).
_LIVE_CACHES: list[DataFrame] = []


def _persist(df: DataFrame) -> DataFrame:
    df = df.persist()
    _LIVE_CACHES.append(df)
    return df


def release_caches() -> int:
    """Unpersist every intermediate cached by this module (and by
    functions/similarity.py, which registers here too) since the last
    release; returns how many frames were freed."""
    n = len(_LIVE_CACHES)
    for df in _LIVE_CACHES:
        df.unpersist()
    _LIVE_CACHES.clear()
    return n


def _widen(df: DataFrame) -> DataFrame:
    """Ensure the expensive explode/hash stages run cluster-wide: a
    small/single-file scan yields fewer partitions than cores, which
    would serialize the shingle hashing.  No-op when the scan is
    already as wide as the cluster (the 100 TB case).

    Metadata-only check: ``inputFiles()`` never converts the plan to an
    RDD (the old ``df.rdd.getNumPartitions()`` probe forced an RDD
    conversion and would throw on a streaming frame).  A scan over
    ≥ ``defaultParallelism`` files is already wide; fewer files (or a
    non-file source) round-robins once — cheap next to the
    per-row-expensive stage this guards."""
    if df.isStreaming:
        return df
    target = df.sparkSession.sparkContext.defaultParallelism
    try:
        files = df.inputFiles()
    except Exception:
        files = []
    if len(files) >= target:
        return df
    return df.repartition(target)


def _shingle_index(df: DataFrame, text_col: str, id_col: str, n: int) -> DataFrame:
    """Distinct (id, shingle) pairs — the inverted-index input.

    The per-doc distinct is computed ROW-LOCALLY (``array_distinct``
    before the explode), not with a corpus-wide ``.distinct()``: ids
    are unique per row (every caller's contract), so the two are
    row-identical while this form removes the corpus-sized
    (id, shingle) exchange the old explode→distinct paid (guide §2.4
    "remove shuffles outright" — r15 measurement: containment at
    sf0.1 8.2 s → 4.8 s combined with the capped-index persist)."""
    return (
        _widen(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col),
                F.explode(F.array_distinct(shingles(tokens(text_col), n)))
                .alias("shingle"))
    )


def ngram_jaccard_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.5,
    max_doc_freq: int | None = None,
) -> DataFrame:
    """Exact n-gram Jaccard similar pairs (id_a < id_b, jaccard ≥ t).

    |A∩B| comes from the inverted-index self-join on the shingle;
    |A|,|B| from per-doc shingle counts; J = c/(|A|+|B|−c).  The
    division is one double op on exact integers — bit-identical in any
    engine.
    """
    # The inverted index feeds three consumers (both self-join sides +
    # sizes); persist so the tokenize/hash pipeline runs once, not 3×.
    # MEMORY_AND_DISK by default — spills rather than recomputes at scale.
    sh = _persist(_shingle_index(df, text_col, id_col, n))
    if max_doc_freq is not None:
        # Persist the CAPPED index too: it is what the three consumers
        # actually read, and without this the freq join re-ran once per
        # consumer (guide §2.4 — r15 containment measurement 8.2→4.9 s).
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        sh = _persist(
            sh.join(freq.filter(F.col("df") <= max_doc_freq), "shingle"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .withColumn(
            "jaccard",
            F.col("common").cast("double")
            / (F.col("na") + F.col("nb") - F.col("common")),
        )
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def jaccard_prefix_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """EXACT n-gram Jaccard pairs (id_a < id_b, J >= tau) via PREFIX
    FILTERING (Bayardo et al., "Scaling Up All Pairs Similarity
    Search", WWW 2007; Xiao et al. PPJoin — public) — provably
    lossless, NO hot-shingle cap needed.

    ``ngram_jaccard_pairs`` keeps the inverted-index join sub-quadratic
    only by dropping shingles hotter than ``max_doc_freq`` — an
    approximation (boilerplate-only pairs vanish).  Prefix filtering
    keeps EXACT semantics at scale: order every document's shingle set
    by global document frequency ascending (rarest first, ties by
    shingle value), and index only each set's PREFIX.  Candidates are
    pairs sharing >= 1 prefix shingle; everything else provably cannot
    reach tau.

    Prefix length (two-sided-safe): ``p = |x| - ceil(|x|*t/(1+t)) + 1``
    with ``t = tau_num/tau_den``, computed in integer ceil-division.
    Proof of losslessness: let ``s_x = |x| - p_x = ceil(f*|x|) - 1``
    with ``f = t/(1+t)``.  If two prefixes are disjoint, every common
    shingle lies in a suffix, so ``O <= s_A + s_B < f*(|A|+|B|)``;
    but ``J >= t`` forces ``O >= t*(|A|+|B|)/(1+t) = f*(|A|+|B|)``
    — contradiction, so any qualifying pair shares a prefix shingle.

    Scale ledger: the index self-join keys on PREFIX shingles only —
    and a globally hot shingle has maximal df, so it sorts LAST and
    almost never enters a prefix: the boilerplate-gram skew that
    forces ``max_doc_freq`` elsewhere structurally cannot form hot
    join buckets here.  Two lossless candidate pruners run before the
    distinct: a length filter (``t <= min/max``, integer
    cross-multiplication) and the PPJoin POSITION filter — on the
    pair's minimal shared prefix token every common shingle sorts at
    or after it on both sides (a smaller shared one would itself be
    in both prefixes), so ``overlap <= 1 + min(remaining suffixes)``
    and pairs whose bound cannot reach ``ceil(f*(|A|+|B|))`` drop
    (measured 2.2x wall at sf0.1);
    verification joins each surviving pair to its two shingle ARRAYS
    (row-local ``array_intersect``, no second inverted-index pass)
    and applies the threshold as the integer comparison
    ``c*tau_den >= tau_num*(na+nb-c)`` — no float decides membership.
    Output jaccard is one double division of exact ints (engine-
    bit-identical).  Reference analogue: none (SURVEY.md S2.4 has no
    similarity surface) — beyond-parity curation machinery.
    """
    sh = _shingle_index(df, text_col, id_col, n)
    return set_jaccard_prefix_pairs(sh, id_col, "shingle",
                                    tau_num=tau_num, tau_den=tau_den)


def set_jaccard_prefix_pairs(
    sets: DataFrame,
    id_col: str,
    token_col: str,
    tau_num: int = 1,
    tau_den: int = 2,
) -> DataFrame:
    """The generic core of :func:`jaccard_prefix_pairs`: exact
    Jaccard >= tau pairs over ARBITRARY sets given as distinct
    ``(id, token)`` rows — tag sets, URL tokens, LSH signatures, any
    set-valued feature; the text entry point just feeds it the
    shingle index.  Same prefix/length/position filters, same
    integer-decided threshold, same losslessness (see the wrapper's
    docstring for the proofs and the scale ledger).  ``sets`` must be
    duplicate-free per (id, token); ids with zero tokens simply never
    pair."""
    if not (0 < tau_num <= tau_den):
        raise ValueError("tau must satisfy 0 < tau_num/tau_den <= 1")
    if id_col == "shingle" or id_col.startswith("__"):
        raise ValueError(
            f"id_col {id_col!r} collides with internal working columns "
            "('shingle', '__'-prefixed) — rename it first")
    frac_den = tau_num + tau_den  # t/(1+t) = tau_num/(tau_num+tau_den)

    sh = _persist(sets.select(F.col(id_col),
                              F.col(token_col).alias("shingle")))
    dfreq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("__df"))
    docs = _persist(
        sh.join(dfreq, "shingle")
        .groupBy(id_col)
        .agg(F.sort_array(F.collect_list(F.struct("__df", "shingle")))
             .alias("__ts"))
        .select(F.col(id_col),
                F.expr("transform(__ts, t -> t.shingle)").alias("__toks"),
                F.size("__ts").alias("__n")))
    # p = n - ceil(n * tau_num / (tau_num+tau_den)) + 1, integer-exact
    pfx = docs.select(
        F.col(id_col), F.col("__n"),
        F.posexplode(F.expr(
            f"slice(__toks, 1, __n - CAST((__n * {tau_num} + {frac_den} - 1) "
            f"DIV {frac_den} AS INT) + 1)")).alias("__p", "__t"))
    a = pfx.select(F.col(id_col).alias("id_a"),
                   F.col("__n").alias("__na"), F.col("__p").alias("__pa"),
                   "__t")
    b = pfx.select(F.col(id_col).alias("id_b"),
                   F.col("__n").alias("__nb"), F.col("__p").alias("__pb"),
                   "__t")
    # position filter (PPJoin): on the pair's MINIMAL shared prefix
    # token, every common shingle sorts at or after it on both sides
    # (a smaller shared one would itself be in both prefixes), so
    # overlap <= 1 + min(remaining suffix lengths); pairs whose bound
    # cannot reach the required overlap ceil(f*(na+nb)) are pruned
    # BEFORE the distinct — lossless, because the minimal shared
    # token's row always passes for a qualifying pair.
    required = F.expr(
        f"CAST(({tau_num} * (__na + __nb) + {frac_den} - 1) "
        f"DIV {frac_den} AS BIGINT)")
    ubound = 1 + F.least(F.col("__na") - 1 - F.col("__pa"),
                         F.col("__nb") - 1 - F.col("__pb"))
    cand = (a.join(b, "__t")
            .filter((F.col("id_a") < F.col("id_b"))
                    # length filter: t <= min/max, both orientations
                    & (F.col("__na") * tau_num <= F.col("__nb") * tau_den)
                    & (F.col("__nb") * tau_num <= F.col("__na") * tau_den)
                    & (ubound >= required))
            .select("id_a", "id_b").distinct())
    ta = docs.select(F.col(id_col).alias("id_a"),
                     F.col("__toks").alias("__ta"), F.col("__n").alias("__sa"))
    tb = docs.select(F.col(id_col).alias("id_b"),
                     F.col("__toks").alias("__tb"), F.col("__n").alias("__sb"))
    c = F.size(F.array_intersect("__ta", "__tb"))
    union_sz = F.col("__sa") + F.col("__sb") - F.col("__c")
    return (cand.join(ta, "id_a").join(tb, "id_b")
            .withColumn("__c", c)
            .filter(F.col("__c") * tau_den >= tau_num * union_sz)
            .select("id_a", "id_b",
                    (F.col("__c").cast("double") / union_sz)
                    .alias("jaccard")))


def with_row_signatures(df: DataFrame, text_col: str, keep: list[str],
                        n: int = 3) -> DataFrame:
    """``keep`` columns plus the 32 MinHash signature values as pure
    PER-ROW expressions (``array_min`` over permuted shingle hashes)
    — no explode, no groupBy, no exchange.  Docs with fewer than
    ``n`` tokens have no shingles (NULL signature) and are filtered
    out — they can't near-dup anything.  Assumes one row per doc.

    Two projections, not one: the hashed-shingle array materializes
    as a column FIRST, because the 32 signature expressions each
    contain a lambda and expressions inside higher-order-function
    lambdas are invisible to codegen CSE — inlined, the md5-per-
    shingle pass would run 32× (measured 4× slower end-to-end).
    """
    h0df = df.select(*keep, F.transform(
        shingles(tokens(text_col), n),
        lambda s: portable_hash(s)).alias("__h0"))
    return h0df.select(*keep, *[
        F.array_min(F.transform(
            F.col("__h0"),
            lambda h: (h * F.lit(a) + F.lit(b)) % F.lit(HASH_P)))
        .alias(f"sig_{i}")
        for i, (a, b) in enumerate(PERMS)
    ]).filter(F.col("sig_0").isNotNull())


def minhash_signatures(df: DataFrame, text_col: str, id_col: str, n: int = 3) -> DataFrame:
    """Per-doc MinHash signature: one row per doc with sig_0..sig_{31}
    (docs with <n tokens have no shingles and drop out — they can't
    near-dup anything).  Assumes ``id_col`` is unique per row (every
    caller's contract).

    Two stages, still ZERO shuffles: the JVM projection stages the
    gram-hash array (md5 → portable hash, once per shingle), then the
    32 permutation folds run as ONE vectorized numpy pass per Arrow
    batch (``mapInPandas``) — ``(h·aᵢ + bᵢ) mod P`` with h, aᵢ < 2³¹
    fits int64 exactly, so the output is bit-identical to the
    expression form (``with_row_signatures``, which the streaming path
    still uses; parity pinned by tests/test_llm_ops.py::
    test_minhash_signatures_match_expression_form).  The expression
    form evaluates 32 interpreted HOF folds per row (HOFs sit outside
    whole-stage codegen) — guide §4.2's vectorize-inside-the-boundary
    trade, measured 1.76 s → 0.66 s for the signature pass and
    3.6 s → 1.0 s for the full LSH candidate pipeline at sf0.1.

    ``_widen`` first: the hash folds are the expensive stage, and a
    narrow (single-file) scan would run them on one task — measured
    3.1 s vs 1.1 s at sf0.1 on local[32].  It is a metadata no-op on
    a ≥cluster-wide scan, so the 100 TB plan still has no exchange."""
    h0df = (_widen(df.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col),
                    F.transform(shingles(tokens(text_col), n),
                                portable_hash).alias("__h0")))
    id_type = dict(df.dtypes)[id_col]
    schema = f"{id_col} {id_type}, " + ", ".join(
        f"sig_{i} long" for i in range(N_PERM))

    def gen(batches):
        import numpy as np
        import pandas as pd

        A = np.array([a for a, _ in PERMS], dtype=np.int64)
        B = np.array([b for _, b in PERMS], dtype=np.int64)
        for pdf in batches:
            if not len(pdf):
                continue
            keep = [(i, np.asarray(h, dtype=np.int64))
                    for i, h in enumerate(pdf["__h0"])
                    if h is not None and len(h)]
            if not keep:
                continue
            lens = np.array([len(h) for _, h in keep])
            flat = np.concatenate([h for _, h in keep])
            # (Σ|h|, N_PERM) permuted hashes, folded to per-row minima
            # with reduceat over the row offsets — all int64-exact
            perm = (flat[:, None] * A[None, :] + B[None, :]) % HASH_P
            starts = np.concatenate(([0], np.cumsum(lens)[:-1]))
            mins = np.minimum.reduceat(perm, starts, axis=0)
            out = {id_col: pdf[id_col].iloc[[i for i, _ in keep]]}
            for i in range(N_PERM):
                out[f"sig_{i}"] = mins[:, i]
            yield pd.DataFrame(out)

    return h0df.mapInPandas(gen, schema=schema)


def _band_buckets(sigs: DataFrame, id_col: str) -> DataFrame:
    """(id, band, v0..v{ROWS_PER_BAND-1}) — one row per band per doc,
    the banded-LSH bucket key.  The single definition of the band
    layout: lsh_candidate_pairs and incremental_lsh_candidates MUST
    share it or a banding change silently breaks the incremental
    path's compatibility with batch-built indexes."""
    bands = F.array(*[
        F.struct(
            F.lit(b).alias("band"),
            *[F.col(f"sig_{b * ROWS_PER_BAND + r}").alias(f"v{r}")
              for r in range(ROWS_PER_BAND)],
        )
        for b in range(N_BANDS)
    ])
    return (sigs.select(F.col(id_col), F.explode(bands).alias("bk"))
            .select(id_col, "bk.*"))


def lsh_candidate_pairs(sigs: DataFrame, id_col: str) -> DataFrame:
    """Banded-LSH candidates: docs agreeing on all ROWS_PER_BAND sig
    values of ≥1 band.  Shuffle key is (band, band signature) — bucket
    sizes are the only skew concern, never |docs|²."""
    # Tiny table (n_docs × N_BANDS rows of ints); persist so the
    # upstream shingle→signature pipeline isn't recomputed for both
    # sides of the self-join.
    buckets = _persist(_band_buckets(sigs, id_col))
    key = ["band"] + [f"v{r}" for r in range(ROWS_PER_BAND)]
    a = buckets.select(*key, F.col(id_col).alias("id_a"))
    b = buckets.select(*key, F.col(id_col).alias("id_b"))
    return (
        a.join(b, key)
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b")
        .distinct()
    )


def simhash(df: DataFrame, text_col: str, id_col: str, bits: int = 32) -> DataFrame:
    """32-bit SimHash over distinct tokens: bit j of the signature is
    the sign of Σ_tokens (±1 by bit j of the token hash); Hamming-near
    signatures ⇒ near-dup.

    Computed row-locally like ``with_row_signatures`` — the hashed
    distinct-token array materializes as a column, then ``bits``
    fold expressions over that attribute (CSE-safe: the md5 pass runs
    once per row, not per bit) — ZERO shuffles; the round-4 explode +
    distinct + groupBy(doc) formulation produced identical signatures
    through two exchanges (pinned by test_llm_ops.py parity test).
    Token-less docs drop out, as the explode formulation's did."""
    h0df = (_widen(df.select(F.col(id_col), F.col(text_col)))
            .select(F.col(id_col),
                    F.transform(F.array_distinct(tokens(text_col)),
                                lambda t: portable_hash(t)).alias("__h"))
            .filter(F.size("__h") > 0))
    bit_sums = [
        F.aggregate(
            F.col("__h"), F.lit(0),
            lambda acc, h: acc + F.when(
                F.shiftright(h, j).bitwiseAND(F.lit(1)) == 1,
                F.lit(1)).otherwise(F.lit(-1)))
        for j in range(bits)
    ]
    sig = None
    for j, s_j in enumerate(bit_sums):
        term = F.when(s_j > 0, F.lit(2 ** j)).otherwise(F.lit(0))
        sig = term if sig is None else sig + term
    return h0df.select(F.col(id_col), sig.cast("long").alias("simhash"))


def simhash_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    bits: int = 32,
    max_hamming: int = 3,
    n_bands: int = 4,
) -> DataFrame:
    """SimHash near-dup pairs with Hamming distance ≤ ``max_hamming``
    — the second sub-quadratic near-dup path next to MinHash-LSH.

    Bucket join on ``n_bands`` signature bytes: by pigeonhole, two
    signatures within ``n_bands − 1`` differing bits agree on ≥ 1
    band, so candidate recall is EXACT for ``max_hamming <
    n_bands``; exact ``bit_count(xor)`` verification then filters the
    band collisions.  Shuffles: none for signatures (row-local), one
    (band, byte) bucket join — never all-pairs.
    """
    if max_hamming >= n_bands:
        raise ValueError("exact recall needs max_hamming < n_bands")
    band_bits = bits // n_bands
    mask = (1 << band_bits) - 1
    sigs = simhash(df, text_col, id_col, bits)
    bands = F.array(*[
        F.struct(F.lit(b).alias("band"),
                 F.shiftright(F.col("simhash"), b * band_bits)
                  .bitwiseAND(F.lit(mask)).alias("v"))
        for b in range(n_bands)
    ])
    buckets = _persist(sigs.select(
        F.col(id_col), F.col("simhash"), F.explode(bands).alias("bk")
    ).select(id_col, "simhash", "bk.*"))
    a = buckets.select("band", "v", F.col(id_col).alias("id_a"),
                       F.col("simhash").alias("sig_a"))
    b = buckets.select("band", "v", F.col(id_col).alias("id_b"),
                       F.col("simhash").alias("sig_b"))
    return (
        a.join(b, ["band", "v"])
        .filter(F.col("id_a") < F.col("id_b"))
        .select("id_a", "id_b",
                F.bit_count(F.col("sig_a").bitwiseXOR(F.col("sig_b")))
                 .alias("hamming"))
        .filter(F.col("hamming") <= max_hamming)
        .distinct()
    )


def jaccard_verify(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.8,
) -> DataFrame:
    """Exact n-gram Jaccard, computed ONLY for the candidate ``pairs``
    (id_a, id_b) — the verification stage after LSH candidate
    generation.  The shingle index is semi-joined down to candidate
    docs before the inverted-index join, and the joined pairs are
    semi-joined against the candidate set before grouping: work is
    bounded by the candidates, not the corpus."""
    cand_ids = (pairs.select(F.col("id_a").alias(id_col))
                .union(pairs.select(F.col("id_b").alias(id_col)))
                .distinct())
    sh = _persist(_shingle_index(df, text_col, id_col, n)
                  .join(cand_ids, id_col, "left_semi"))
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), "shingle")
    b = sh.select(F.col(id_col).alias("id_b"), "shingle")
    common = (
        a.join(b, "shingle")
        .filter(F.col("id_a") < F.col("id_b"))
        .join(pairs.select("id_a", "id_b"), ["id_a", "id_b"], "left_semi")
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    return (
        common.join(sa, "id_a").join(sb, "id_b")
        .withColumn("jaccard",
                    F.col("common").cast("double")
                    / (F.col("na") + F.col("nb") - F.col("common")))
        .filter(F.col("jaccard") >= threshold)
        .select("id_a", "id_b", "jaccard")
    )


def winnow_overlap_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    k: int = 5,
    w: int = 4,
    min_shared: int = 3,
    max_doc_freq: int | None = 50,
) -> DataFrame:
    """Partial-overlap pairs via winnowing fingerprints: doc pairs
    sharing ≥ ``min_shared`` fingerprints (text.winnow guarantees a
    shared fingerprint for any common substring ≥ k+w−1 chars) — the
    plagiarism / quotation / cross-doc-copy detector.

    Inverted-index shape on the fingerprint (one explode + bucket
    self-join), with the same hot-key cap as the Jaccard path:
    fingerprints in more than ``max_doc_freq`` docs are boilerplate
    and carry no pairing signal.
    """
    from kafkadirect_spark.functions.text import winnow_fps

    fps = _persist(winnow_fps(
        _widen(df.select(F.col(id_col), F.col(text_col))),
        text_col, id_col, k, w))
    if max_doc_freq is not None:
        # Persist the capped fingerprint index: both self-join sides
        # read it, and without the persists the winnow+hash pipeline
        # (and the freq join) ran once per side (guide §2.4).
        freq = fps.groupBy("fp").agg(F.count(F.lit(1)).alias("df"))
        fps = _persist(
            fps.join(freq.filter(F.col("df") <= max_doc_freq), "fp"))
    a = fps.select(F.col(id_col).alias("id_a"), "fp")
    b = fps.select(F.col(id_col).alias("id_b"), "fp")
    return (
        a.join(b, "fp")
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("shared_fps"))
        .filter(F.col("shared_fps") >= min_shared)
    )


def connected_components(
    pairs: DataFrame,
    id_a: str = "id_a",
    id_b: str = "id_b",
    max_iter: int = 25,
    driver_threshold: int = 2_000_000,
) -> DataFrame:
    """Duplicate-cluster labels from candidate pairs: each vertex gets
    the MIN id reachable through the pair graph (the canonical
    "keeper" of its near-dup cluster).

    Two regimes, picked by the measured pair count — the candidate
    graph is orders of magnitude smaller than the corpus (LSH emits
    near-dup PAIRS, not documents), so the cheap regime is common
    even for a 100 TB corpus:

    - ``≤ driver_threshold`` pairs (default 2M ≈ 32 MB of long ids):
      collect the bounded edge list and union-find in-core — one
      action instead of an action-per-round loop.  Bounded by the
      threshold, never by corpus size.
    - larger: distributed min-label propagation — per round one
      shuffle join + one shuffle agg; state is one (id, label) row
      per vertex (never the edge closure); partitioning sized to the
      edge count; ``localCheckpoint`` per round keeps plan depth
      O(1).  Rounds = component diameter (near-dup clusters are
      quasi-cliques, typically 2-3 rounds).  Raises after
      ``max_iter`` rounds rather than silently returning unconverged
      labels.
    """
    spark = pairs.sparkSession
    p = _persist(pairs.select(F.col(id_a).alias("u"), F.col(id_b).alias("v")))
    n_pairs = p.count()
    if n_pairs <= driver_threshold:
        parent: dict = {}

        def find(x):
            parent.setdefault(x, x)
            root = x
            while parent[root] != root:
                root = parent[root]
            while parent[x] != root:          # path compression
                parent[x], x = root, parent[x]
            return root

        for r in p.collect():
            if r.u is not None and r.v is not None and r.u != r.v:
                ra, rb = find(r.u), find(r.v)
                if ra != rb:
                    parent[max(ra, rb)] = min(ra, rb)
        rows = [(v, find(v)) for v in parent]
        p.unpersist()
        return spark.createDataFrame(rows, "id long, label long")

    edges = _persist(
        p.union(p.select(F.col("v").alias("u"), F.col("u").alias("v")))
        .distinct())
    # Size the loop to the GRAPH, not the corpus: per-round task count
    # is what the loop's wall time buys; a billion-edge graph still
    # runs cluster-wide.
    npart = max(1, min(spark.sparkContext.defaultParallelism,
                       n_pairs // 250_000 + 1))
    edges = edges.repartition(npart, "v")
    old_sp = spark.conf.get("spark.sql.shuffle.partitions")
    spark.conf.set("spark.sql.shuffle.partitions", str(npart))
    try:
        return _cc_loop(edges, max_iter)
    finally:
        spark.conf.set("spark.sql.shuffle.partitions", old_sp)


def _cc_loop(edges: DataFrame, max_iter: int) -> DataFrame:
    labels = (edges.select(F.col("u").alias("id")).distinct()
              .withColumn("label", F.col("id")).localCheckpoint())
    for _ in range(max_iter):
        nbr = (
            edges.join(labels.select(F.col("id").alias("v"),
                                     F.col("label").alias("nbr_label")), "v")
            .groupBy("u").agg(F.min("nbr_label").alias("nbr_label"))
        )
        merged = (
            labels.join(nbr, labels["id"] == nbr["u"], "left")
            .select(
                "id", "label",
                F.least(F.col("label"),
                        F.coalesce(F.col("nbr_label"), F.col("label")))
                .alias("new_label"),
            )
        ).localCheckpoint()
        changed = merged.filter(F.col("new_label") < F.col("label")).count()
        labels = merged.select("id", F.col("new_label").alias("label"))
        if changed == 0:
            edges.unpersist()
            return labels
    raise RuntimeError(f"connected_components: no fixpoint in {max_iter} rounds")


def dedup_cluster_assign(
    df: DataFrame,
    pairs: DataFrame,
    id_col: str,
    id_a: str = "id_a",
    id_b: str = "id_b",
) -> DataFrame:
    """(id, cluster) for EVERY row of ``df``: members of a near-dup
    component share its min id; untouched rows are their own cluster.
    Downstream dedup keeps rows where id == cluster."""
    labels = connected_components(pairs, id_a, id_b)
    return (
        df.select(F.col(id_col))
        .join(labels.withColumnRenamed("id", id_col), id_col, "left")
        .select(
            id_col,
            F.coalesce(F.col("label"), F.col(id_col)).alias("cluster"),
        )
    )


def span_dedup(df: DataFrame, text_col: str, id_col: str,
               span_words: int = 8) -> DataFrame:
    """Span-level exact dedup (the C4/RefinedWeb recipe): split every
    document into fixed ``span_words``-word chunks, keep only the
    globally FIRST occurrence of each identical chunk (ordered by
    (id, position)), and rebuild documents from the surviving spans.
    Documents whose every span is a duplicate vanish entirely.

    Beyond the reference (which has no document model); the natural
    companion to ``exact_dedup`` for partially-copied documents.

    Scale shape: explode → groupBy(span *hash*, never the text — two
    independent hashes, xxhash64 + crc32, keep the shuffle narrow)
    with a map-side-partial min → hash-join occurrences back to
    winners → groupBy(doc) to reassemble.  No window functions, no
    driver state; a boilerplate span repeated across the corpus is one
    hot aggregation key, which partial aggregation absorbs.

    Grouping on a single 64-bit hash would silently merge colliding
    distinct spans — negligible at test scale but expected by the
    birthday bound at 1e10-1e11 spans (100 TB).  The (xxhash64, crc32)
    pair pushes the per-pair collision odds to ~2^-96: corpus-wide
    expected collisions at 1e11 spans ≈ 1e22·2^-97 ≈ 6e-8 — accepted.
    """
    # stage the split as a projection column: a lambda that slices
    # the raw split() EXPRESSION re-splits the whole text per span
    # (CSE does not reach into HOF lambdas) — 2.3× at sf0.01
    base = df.select(F.col(id_col),
                     F.split(F.col(text_col), " ").alias("__w"))
    n_spans = F.ceil(F.size("__w") / F.lit(span_words)).cast("int")
    spans = F.transform(
        F.sequence(F.lit(0), n_spans - 1),
        lambda i: F.concat_ws(
            " ", F.slice(F.col("__w"), i * span_words + 1, span_words)))
    occ = base.select(F.col(id_col),
                      F.posexplode(spans).alias("pos", "span"))
    occ = occ.withColumn("_h", F.xxhash64("span")) \
             .withColumn("_h2", F.crc32(F.col("span")))
    winners = occ.groupBy("_h", "_h2").agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("_w"))
    kept = (occ.join(winners, ["_h", "_h2"])
            .filter((F.col(id_col) == F.col(f"_w.{id_col}"))
                    & (F.col("pos") == F.col("_w.pos"))))
    ordered = F.array_sort(F.collect_list(F.struct("pos", "span")))
    return (kept.groupBy(id_col)
            .agg(F.concat_ws(
                     " ", F.transform(ordered, lambda x: x["span"])
                 ).alias("text_dedup"),
                 F.count(F.lit(1)).alias("n_spans")))


def containment_pairs(
    df: DataFrame,
    text_col: str,
    id_col: str,
    n: int = 3,
    threshold: float = 0.6,
    max_doc_freq: int | None = 50,
    how: str = "inner",
) -> DataFrame:
    """Directed containment near-dup: (contained, container) pairs
    where |shingles(A) ∩ shingles(B)| / |shingles(A)| ≥ threshold.

    Jaccard is symmetric and misses the practical case where a short
    document (a quote, a syndicated paragraph, boilerplate) sits
    INSIDE a much longer one — the union term drowns the overlap.
    Containment is the asymmetric measure the C4/RefinedWeb-style
    recipes use for that case; emitting (contained → container) lets
    the curation step drop the subsumed copy and keep the superset.

    ``how`` picks the output shape from the SAME intersection frame
    (VERDICT r8 item 5 — one pass, two consumers):

    - ``"inner"`` (default): the directed pair table
      ``(contained, container, common, n_contained, containment)``;
    - ``"anti"``: the SURVIVORS — every input row whose document is
      NOT contained in any other at ≥ threshold (original columns,
      one left-anti join against the distinct contained-id set).
      Documents too short to produce an n-gram shingle have no
      containment evidence and survive by definition.

    Reference analogue: none (Kafka Streams has no document model,
    SURVEY.md §2) — beyond-parity curation machinery beside
    ``ngram_jaccard_pairs``.

    Scale shape: identical to the Jaccard path — one persisted
    inverted index, the hot-shingle cap bounds the self-join fan-out
    (the cap is part of the operator's spec and is replayed verbatim
    in the oracle), one groupBy(pair) exchange.  Both directions are
    decided from the SAME intersection row (array-explode of the two
    directed candidates), so the join never runs twice.  The anti
    shape adds one hash join keyed on the id — the contained-id side
    is the (pair-table-sized, already-capped) distinct projection,
    never a second corpus pass.
    """
    if how not in ("inner", "anti"):
        raise ValueError(f"how must be 'inner' or 'anti', got {how!r}")
    sh = _persist(_shingle_index(df, text_col, id_col, n))
    join_key = "shingle"
    if max_doc_freq is not None:
        # Persist the CAPPED index too (see ngram_jaccard_pairs): its
        # three consumers otherwise re-run the freq join each.
        #
        # Dictionary-encode the shingle key while building it: the cap
        # join already exchanges the corpus index by the shingle STRING
        # once — unavoidable — but the SELF-JOIN below re-exchanges the
        # capped index twice more and the string is pure routing there
        # (never read downstream).  Assign each surviving shingle a
        # dense 8-byte id instead: ``monotonically_increasing_id``
        # numbers rows by (partition, offset), so the sorted capped
        # keys are persisted first.  Every numbering then reads the same
        # cached partitions in the same order, and a recompute under
        # another shuffle layout or AQE coalescing cannot renumber a
        # shingle — exact, collision-free, and no extra exchange (the
        # sort rides the freq aggregate's existing partitioning).  Pair
        # counts are identical by bijection; the persisted index also
        # shrinks to (id, sid).
        freq = sh.groupBy("shingle").agg(F.count(F.lit(1)).alias("df"))
        keys = (_persist(freq.filter(F.col("df") <= max_doc_freq)
                         .select("shingle")
                         .sortWithinPartitions("shingle"))
                .withColumn("__sid", F.monotonically_increasing_id()))
        sh = _persist(sh.join(keys, "shingle")
                      .select(F.col(id_col), "__sid"))
        join_key = "__sid"
    sizes = sh.groupBy(id_col).agg(F.count(F.lit(1)).alias("n_sh"))
    a = sh.select(F.col(id_col).alias("id_a"), join_key)
    b = sh.select(F.col(id_col).alias("id_b"), join_key)
    common = (
        a.join(b, join_key)
        .filter(F.col("id_a") < F.col("id_b"))
        .groupBy("id_a", "id_b")
        .agg(F.count(F.lit(1)).alias("common"))
    )
    sa = sizes.select(F.col(id_col).alias("id_a"), F.col("n_sh").alias("na"))
    sb = sizes.select(F.col(id_col).alias("id_b"), F.col("n_sh").alias("nb"))
    directed = F.array(
        F.struct(F.col("id_a").alias("contained"),
                 F.col("id_b").alias("container"),
                 F.col("na").alias("n_contained")),
        F.struct(F.col("id_b").alias("contained"),
                 F.col("id_a").alias("container"),
                 F.col("nb").alias("n_contained")),
    )
    pairs = (
        common.join(sa, "id_a").join(sb, "id_b")
        .select(F.col("common"), F.explode(directed).alias("d"))
        .select("d.contained", "d.container", "common", "d.n_contained")
        .withColumn(
            "containment",
            F.col("common").cast("double") / F.col("n_contained"))
        .filter(F.col("containment") >= threshold)
    )
    if how == "inner":
        return pairs
    contained = pairs.select(
        F.col("contained").alias(id_col)).distinct()
    return df.join(contained, id_col, "left_anti")


def incremental_lsh_candidates(
    new_sigs: DataFrame, index_sigs: DataFrame, id_col: str,
) -> DataFrame:
    """Incremental near-dup: candidate pairs for a NEW ingest batch
    against an EXISTING signature index, plus new-vs-new — without
    re-signing or re-pairing the corpus.

    The 100 TB reality is not one batch job: a pipeline lands a daily
    drop (GBs) against a corpus whose MinHash signatures (ints, ~100
    bytes/doc) are already materialized.  Re-running the full
    ``lsh_candidate_pairs`` self-join would re-pair corpus-vs-corpus —
    O(corpus) shuffle for pairs already known.  Here the corpus side
    contributes only its band buckets to a join whose OUTPUT is
    bounded by the new batch's collisions, and the corpus-vs-corpus
    quadrant is excluded by construction.

    Both inputs are signature tables (``minhash_signatures`` /
    ``with_row_signatures`` output: id + sig_0..sig_{N-1}); ids must
    be unique across the union (the caller's ingest contract).  Emits
    (id_a, id_b) with id_a < id_b where at least one side is new —
    exactly ``lsh_candidate_pairs(union)`` minus ``lsh_candidate_
    pairs(index)``, pinned by tests/test_llm_ops.py.

    Scale ledger: one exchange keyed (band, band-signature) — the
    corpus side ships band rows once (in a real deployment those are
    bucketed-by-band parquet, making even that exchange-free via
    through_bucketed's layout); the join is bucket-local; no
    corpus-sized groupBy anywhere.
    """
    def buckets(sigs: DataFrame, flag: int) -> DataFrame:
        return _band_buckets(sigs, id_col).withColumn("__new", F.lit(flag))

    both = _persist(buckets(new_sigs, 1).unionByName(buckets(index_sigs, 0)))
    key = ["band"] + [f"v{r}" for r in range(ROWS_PER_BAND)]
    a = both.select(*key, F.col(id_col).alias("id_a"),
                    F.col("__new").alias("__na"))
    b = both.select(*key, F.col(id_col).alias("id_b"),
                    F.col("__new").alias("__nb"))
    return (
        a.join(b, key)
        .filter((F.col("id_a") < F.col("id_b"))
                & ((F.col("__na") == 1) | (F.col("__nb") == 1)))
        .select("id_a", "id_b")
        .distinct()
    )


def keep_best_per_cluster(clusters: DataFrame, quality: DataFrame,
                          id_col: str, quality_col: str) -> DataFrame:
    """Cluster-representative selection: for every near-dup cluster
    (``dedup_cluster_assign`` output), keep the HIGHEST-quality
    member instead of the lowest id — the knob real pipelines turn
    (the canonical copy of a syndicated article is the longest /
    best-scored one, not the one with the smallest key).  Ties break
    to the lowest id, so the min-id policy is the quality=constant
    special case.

    ``quality`` is any ``(id_col, quality_col)`` frame — length,
    Gopher score, surprisal, a model score.  Returns ``(cluster,
    keeper, best_quality, n_docs)``.

    Scale shape: one hash join clusters⋈quality on the id, one
    map-side-combined groupBy(cluster) with a struct-max aggregate —
    no window functions, no per-cluster sort.  The struct orders
    (quality, −id), so the argmax is deterministic inside the
    aggregate itself (ids must be non-negative — checked — since the
    tie-break negates them).
    """
    j = clusters.join(quality, id_col)
    pick = F.max(F.struct(
        F.col(quality_col).alias("q"),
        (-F.col(id_col)).alias("ni"))).alias("_b")
    return (j.groupBy("cluster")
            .agg(pick, F.count(F.lit(1)).alias("n_docs"))
            .select("cluster",
                    (-F.col("_b.ni")).alias("keeper"),
                    F.col("_b.q").alias("best_quality"),
                    "n_docs"))


def cdc_chunks(df: DataFrame, text_col: str, id_col: str,
               g: int = 3, mask_bits: int = 4) -> DataFrame:
    """Content-defined chunking (the storage-dedup CDC recipe applied
    to text): split every document where the rolling ``g``-word-gram
    hash hits ``h % 2^mask_bits == 0`` — so chunk boundaries are a
    function of LOCAL CONTENT, not position.  Insert or delete a word
    and only the chunks around the edit change; every chunk from the
    next content-defined boundary on is bit-identical — where
    ``span_dedup``'s fixed-width spans all shift and nothing
    downstream of the edit deduplicates.  Expected chunk length is
    ~``2^mask_bits`` grams.

    Returns ``(id_col, chunk_idx, n_tokens, chunk_hash, chunk_text)``
    — documents shorter than ``g`` tokens are one whole-doc chunk;
    empty documents emit nothing.

    Beyond the reference (no document model); public technique
    (Muthitacharoen et al., LBFS SOSP'01 content-defined chunking;
    used for sub-document dedup in recent corpus curation).

    Scale shape: chunking is PURE ROW-LOCAL array work (gram hashes →
    boundary filter → slice spans → posexplode) — zero exchanges
    here; downstream consumers groupBy the chunk hash (one
    map-side-combined shuffle, see ``cdc_dup_stats``).  Hashes are
    ``text.portable_hash`` so every boundary decision replays in an
    ANSI-SQL oracle.
    """
    if g < 1:
        raise ValueError("g must be >= 1")
    if mask_bits < 1:
        raise ValueError("mask_bits must be >= 1 (0 cuts everywhere)")
    mask = F.lit(1 << mask_bits)
    # Staged projections, NOT one nested expression: an expression
    # referenced inside a higher-order-function lambda is re-evaluated
    # PER ELEMENT (codegen CSE does not reach into lambdas — the
    # shingles() lesson), so element_at(<full md5 chain>, i) inside
    # the boundary filter would cost O(grams²) hashes per row.  Each
    # stage materializes its array as a column; the next stage's
    # lambdas index a plain attribute.  (CollapseProject keeps the
    # stages separate: the aliases are referenced multiple times from
    # inside lambdas, which blocks inlining.)
    base = df.select(F.col(id_col), tokens(text_col).alias("__toks"))
    hs_df = base.select(
        id_col, "__toks",
        F.transform(shingles(F.col("__toks"), g),
                    portable_hash).alias("__hs"))
    # a window ENDING at token j (1-based) cuts after j; window i
    # covers tokens [i, i+g-1].  Guard n < g: sequence(1, 0) is the
    # DESCENDING [1, 0] in Spark, not empty.
    cuts = F.when(
        F.size(F.col("__hs")) >= 1,
        F.transform(
            F.filter(F.sequence(F.lit(1), F.size(F.col("__hs"))),
                     lambda i: F.element_at(F.col("__hs"), i) % mask == 0),
            lambda i: i + F.lit(g - 1))
    ).otherwise(F.array().cast("array<int>"))
    b_df = hs_df.select(
        id_col, "__toks",
        F.array_distinct(F.concat(
            F.array(F.lit(0)), cuts,
            F.array(F.size(F.col("__toks"))))).alias("__bounds"))
    spans = F.transform(
        F.sequence(F.lit(1), F.size(F.col("__bounds")) - 1),
        lambda k: F.slice(F.col("__toks"),
                          F.element_at(F.col("__bounds"), k) + 1,
                          F.element_at(F.col("__bounds"), k + 1)
                          - F.element_at(F.col("__bounds"), k)))
    out = (b_df.filter(F.size(F.col("__toks")) > 0)
           .select(F.col(id_col),
                   F.posexplode(spans).alias("chunk_idx", "__span")))
    txt = F.concat_ws(" ", F.col("__span"))
    return out.select(
        id_col,
        F.col("chunk_idx").cast("long").alias("chunk_idx"),
        F.size("__span").cast("long").alias("n_tokens"),
        F.md5(txt).alias("chunk_hash"),
        txt.alias("chunk_text"))


def cdc_dup_stats(df: DataFrame, text_col: str, id_col: str,
                  g: int = 3, mask_bits: int = 4) -> DataFrame:
    """Per-document CROSS-document duplication under content-defined
    chunking: what fraction of each document's tokens sits in chunks
    that also appear in at least one OTHER document.  The
    sub-document contamination measure fixed-width spans understate
    after any insertion/deletion (their boundaries shift; CDC's
    re-synchronize).

    Returns ``(id_col, n_chunks, n_tokens, dup_tokens,
    dup_ratio_milli)`` — the ratio in truncating parts-per-thousand,
    integer-exact for oracle replay.

    Shuffle ledger: chunking is row-local (``cdc_chunks``); ONE
    map-side-combined exchange on the chunk hash for the distinct-doc
    count, a hash join back onto the chunk rows (both sides chunk-
    sized), and one groupBy(doc).  A corpus-wide boilerplate chunk is
    one hot aggregation key — absorbed by partial aggregation, the
    same envelope as ``span_dedup``.

    r16 (guide §2.5/§5): the input is ``_widen``ed BEFORE chunking —
    this op's plan already exchanges, so unlike ``cdc_chunks``'s
    pinned ride-the-scan contract there is no zero-exchange property
    to protect, and a narrow scan otherwise serializes the md5-chain
    chunking on 1-2 tasks (joblog: two sequential ~650 ms single-task
    stages per run at sf0.1) — and the chunk frame, projected to the
    three columns this report reads, is persisted so the expensive
    chunking pipeline feeds its two consumers (freq + join side)
    once instead of twice.
    """
    base = _widen(df.select(F.col(id_col), F.col(text_col)))
    ch = _persist(
        cdc_chunks(base, text_col, id_col, g=g, mask_bits=mask_bits)
        .select(F.col(id_col), "n_tokens", "chunk_hash"))
    freq = (ch.groupBy("chunk_hash")
            .agg(F.count_distinct(F.col(id_col)).alias("__nd")))
    j = ch.join(freq, "chunk_hash")
    dup = F.when(F.col("__nd") >= 2, F.col("n_tokens")).otherwise(F.lit(0))
    agg = (j.groupBy(id_col)
           .agg(F.count(F.lit(1)).cast("long").alias("n_chunks"),
                F.sum("n_tokens").cast("long").alias("n_tokens"),
                F.sum(dup).cast("long").alias("dup_tokens")))
    return agg.select(
        id_col, "n_chunks", "n_tokens", "dup_tokens",
        F.expr("CAST(1000 * dup_tokens DIV n_tokens AS LONG)")
        .alias("dup_ratio_milli"))


def cdc_stats_oracle_sql(g: int = 3, mask_bits: int = 4) -> str:
    """DuckDB replay of ``cdc_dup_stats(documents, 'text', 'doc_id')``
    — same portable gram hashes, boundary rule, chunk spans and
    truncating-ppt ratio, so the operator is registration-ready."""
    m = 1 << mask_bits
    phash = ("(('0x' || substr(md5({s}), 1, 14))::BIGINT"
             " % 2147483647)")
    gram = phash.format(
        s=f"array_to_string(w[i:i+{g - 1}], ' ')")
    return f"""
    WITH tok AS (
      SELECT doc_id,
             list_filter(regexp_split_to_array(lower(text),
                         '[^a-z0-9]+'), x -> x <> '') AS w
      FROM documents),
    hb AS (
      SELECT doc_id, w, len(w) AS n,
             CASE WHEN len(w) >= {g}
                  THEN list_transform(
                    generate_series(1, len(w) - {g} + 1),
                    i -> {gram})
                  ELSE [] END AS h
      FROM tok),
    bnd AS (
      SELECT doc_id, w, n,
             list_sort(list_distinct(list_concat(list_concat(
               [0::BIGINT],
               list_transform(
                 list_filter(generate_series(1, len(h)),
                             i -> h[i] % {m} = 0),
                 i -> (i + {g - 1})::BIGINT)),
               [n::BIGINT]))) AS b
      FROM hb),
    chunks AS (
      SELECT doc_id,
             array_to_string(w[(b[k] + 1)::INT:(b[k + 1])::INT],
                             ' ') AS chunk_text,
             (b[k + 1] - b[k])::BIGINT AS n_tokens
      FROM (SELECT doc_id, w, b,
                   unnest(generate_series(1, len(b) - 1)) AS k
            FROM bnd WHERE n > 0)),
    freq AS (
      SELECT md5(chunk_text) AS chunk_hash,
             COUNT(DISTINCT doc_id)::BIGINT AS nd
      FROM chunks GROUP BY 1),
    j AS (
      SELECT c.doc_id, c.n_tokens,
             CASE WHEN f.nd >= 2 THEN c.n_tokens ELSE 0 END AS dup
      FROM chunks c JOIN freq f ON md5(c.chunk_text) = f.chunk_hash)
    SELECT doc_id,
           COUNT(*)::BIGINT AS n_chunks,
           SUM(n_tokens)::BIGINT AS n_tokens,
           SUM(dup)::BIGINT AS dup_tokens,
           (1000 * SUM(dup) // SUM(n_tokens))::BIGINT
             AS dup_ratio_milli
    FROM j GROUP BY 1
    """


# ---------------------------------------------------------------------------
# Edit-distance verification (round 11) — the character-level
# verification stage next to jaccard_verify's set-level one: exact
# Levenshtein over the canonical token surface, computed ONLY for
# candidate pairs.  Catches the "same shingle set, different order /
# small local edits" cases a set-based Jaccard scores identically,
# and grades near-dups by HOW different they are, not just whether
# their shingle sets overlap.
# ---------------------------------------------------------------------------


def edit_verify_pairs(
    df: DataFrame,
    pairs: DataFrame,
    text_col: str,
    id_col: str,
    max_dist_milli: int = 200,
    max_chars: int = 1000,
) -> DataFrame:
    """Exact Levenshtein verification for candidate ``pairs``
    (id_a, id_b): ``(id_a, id_b, lev, len_a, len_b, dist_milli)``
    filtered to ``dist_milli <= max_dist_milli``, where ``dist_milli
    = 1000·lev DIV max(len_a, len_b, 1)`` (truncating — integer-exact
    for oracle replay; two empty texts verify at 0).

    The distance runs over the CANONICAL token surface
    (``concat_ws(' ', tokens(text))``, the dedup family's shared
    ``[a-z0-9]+`` normalization) truncated to ``max_chars``
    characters.  Canonical-surface-first is load-bearing twice: it
    makes case/punctuation/whitespace variants compare as equal, and
    it keeps the strings pure ASCII so DuckDB's BYTE-based
    ``levenshtein`` replays Spark's CHARACTER-based one exactly
    (measured divergence on non-ASCII: 'café' vs 'cafe' is 1 in
    Spark, 2 in DuckDB).

    Scale shape: two hash joins of the candidate-sized pair list
    against the text projection (never corpus×corpus), then the
    distance is row-local JVM work bounded by ``max_chars²`` per
    pair — the cap IS the cost envelope (Levenshtein is O(n·m); an
    uncapped 1 MB outlier pair would cost 10¹² cell updates).

    Reference analogue: none (SURVEY.md §2 — no document model);
    beyond-parity curation machinery beside ``jaccard_verify``.
    """
    if max_chars < 1:
        raise ValueError("max_chars must be >= 1")
    if not 0 <= max_dist_milli <= 1000:
        raise ValueError("max_dist_milli must be in [0, 1000]")
    canon = F.substring(F.concat_ws(" ", tokens(text_col)), 1, max_chars)
    ta = df.select(F.col(id_col).alias("id_a"), canon.alias("__sa"))
    tb = df.select(F.col(id_col).alias("id_b"), canon.alias("__sb"))
    j = (pairs.select("id_a", "id_b")
         .join(ta, "id_a").join(tb, "id_b"))
    v = j.select(
        "id_a", "id_b",
        F.levenshtein("__sa", "__sb").cast("long").alias("lev"),
        F.length("__sa").cast("long").alias("len_a"),
        F.length("__sb").cast("long").alias("len_b"))
    milli = F.expr(
        "CAST(1000 * lev DIV GREATEST(len_a, len_b, 1) AS LONG)")
    return (v.withColumn("dist_milli", milli)
            .filter(F.col("dist_milli") <= max_dist_milli))


def edit_verify_oracle_sql(
    pairs_sql: str,
    max_dist_milli: int = 200,
    max_chars: int = 1000,
    table: str = "documents",
    id_col: str = "doc_id",
    text_col: str = "text",
) -> str:
    """DuckDB replay of ``edit_verify_pairs`` over any candidate
    source: ``pairs_sql`` is a complete SELECT producing (id_a, id_b)
    — e.g. the registered simhash/minhash pair queries' own oracle
    SQL — wrapped as a CTE, so the verification stage replays
    end-to-end on whichever candidate generator feeds it."""
    tok = (f"list_filter(regexp_split_to_array(lower({text_col}), "
           "'[^a-z0-9]+'), x -> x <> '')")
    return f"""
    WITH cand AS ({pairs_sql}),
    t AS (
      SELECT {id_col} AS id,
             substr(array_to_string({tok}, ' '), 1, {max_chars}) AS s
      FROM {table}),
    v AS (
      SELECT c.id_a, c.id_b,
             levenshtein(a.s, b.s)::BIGINT AS lev,
             length(a.s)::BIGINT AS len_a,
             length(b.s)::BIGINT AS len_b
      FROM cand c JOIN t a ON c.id_a = a.id JOIN t b ON c.id_b = b.id)
    SELECT id_a, id_b, lev, len_a, len_b,
           (1000 * lev // greatest(len_a, len_b, 1))::BIGINT
             AS dist_milli
    FROM v
    WHERE (1000 * lev // greatest(len_a, len_b, 1)) <= {max_dist_milli}
    """


def exactsubstr_report(df: DataFrame, text_col: str, id_col: str,
                       min_tokens: int = 8, portable: bool = True,
                       emit_text: bool = False) -> DataFrame:
    """Alignment-free cross-document repeated-substring dedup — the
    ExactSubstr recipe of Lee et al. 2021 (arXiv:2107.06499 §4.1),
    token-granular: every occurrence of a duplicated ``min_tokens``-word
    window that is not the globally FIRST occurrence of that window
    marks its tokens for removal; overlapping marks merge into maximal
    spans, exactly one copy of every duplicated substring survives
    corpus-wide.  This is what ``span_dedup`` (fixed non-overlapping
    chunks) cannot do: a duplicated passage that straddles a chunk
    boundary, or starts mid-chunk, is caught here at every offset.

    Returns per input document (ALL docs, including untouched ones):
    ``(id_col, n_tokens, n_spans, n_removed, kept_md5)`` where
    ``kept_md5`` is the md5 of the surviving tokens joined by single
    spaces (the normalized-token surface — the md5 of the FULL token
    join when nothing was removed), plus ``kept_text`` when
    ``emit_text=True``.  Scalar columns only: driver-oracle ready.

    Scale shape: one sliding-window gram per token position (shingles
    are top-level slice-zips — codegen CSE tokenizes once per row),
    ONE exchange to group occurrences by gram hash (min(struct) +
    count are algebraic, map-side partials absorb boilerplate-gram
    hot keys), one corpus-scale hash join back to occurrences, then
    everything per-document: interval merge via windows PARTITIONED BY
    the doc id (never global), span arrays collected per doc (bounded
    by spans-per-doc), and a row-local higher-order-function rebuild
    — no per-token explode anywhere on the marked side.

    Hashing: ``portable=True`` (default) uses the 31-bit
    ``portable_hash`` the DuckDB oracle replays bit-exactly; at 1e11
    positions (100 TB) birthday collisions over-mark (the conservative
    direction — dedup removes slightly more).  ``portable=False``
    groups on the (xxhash64, crc32) 96-bit pair (the ``span_dedup``
    production setting, ~6e-8 expected corpus-wide collisions) and is
    NOT oracle-replayable.

    Reference analogue: none (SURVEY.md §2 — the reference has no
    document model); beyond-parity LLM-curation machinery beside
    ``span_dedup`` / ``cdc_chunks``.
    """
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2")
    L = min_tokens
    base, occ, knames = _exactsubstr_occ(df, text_col, id_col, L,
                                         portable)
    winners = occ.groupBy(*knames).agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__w"),
        F.count(F.lit(1)).alias("__c"))
    dups = (occ.join(winners, knames)
            .filter((F.col("__c") > 1)
                    & ~((F.col(id_col) == F.col(f"__w.{id_col}"))
                        & (F.col("pos") == F.col("__w.pos"))))
            .select(F.col(id_col), F.col("pos"),
                    (F.col("pos") + F.lit(L - 1)).alias("__end")))
    return _exactsubstr_finalize(base, dups, id_col, emit_text)


def _exactsubstr_occ(df: DataFrame, text_col: str, id_col: str,
                     L: int, portable: bool, persist: bool = True):
    """Shared front half of the ExactSubstr family: the token base
    and the sliding-gram occurrence frame (id, pos, hash key
    column(s)), persisted when it has more than one consumer
    (``persist=False`` for single-consumer callers — the incremental
    path's INDEX side reduces straight to a distinct hash set, and
    materializing a corpus-sized (id, pos, hash) cache for that one
    pass cost ~0.9 s at sf0.1 for nothing, r15)."""
    base = _widen(df.select(F.col(id_col), F.col(text_col))) \
        .select(F.col(id_col), tokens(text_col).alias("__toks"))
    occ = base.select(
        F.col(id_col),
        F.posexplode(shingles(F.col("__toks"), L)).alias("pos", "__g"))
    if portable:
        keys = [portable_hash(F.col("__g")).alias("__h")]
    else:
        keys = [F.xxhash64("__g").alias("__h"),
                F.crc32(F.col("__g")).alias("__h2")]
    occ = occ.select(F.col(id_col), "pos", *keys)
    if persist:
        occ = _persist(occ)
    knames = [c for c in occ.columns if c.startswith("__h")]
    return base, occ, knames


def _exactsubstr_finalize(base: DataFrame, dups: DataFrame,
                          id_col: str, emit_text: bool) -> DataFrame:
    """Shared back half: merge marked intervals (id, pos, __end) into
    maximal spans under doc-partitioned windows and rebuild the
    surviving-token surface row-locally."""
    from pyspark.sql import Window

    wd = Window.partitionBy(id_col).orderBy("pos")
    pme = F.max("__end").over(
        wd.rowsBetween(Window.unboundedPreceding, -1))
    flagged = dups.withColumn(
        "__new", F.when(pme.isNull() | (F.col("pos") > pme + 1),
                        F.lit(1)).otherwise(F.lit(0)))
    isl = F.sum("__new").over(
        wd.rowsBetween(Window.unboundedPreceding, 0))
    spans = (flagged.withColumn("__isl", isl)
             .groupBy(id_col, "__isl")
             .agg(F.min("pos").alias("s0"), F.max("__end").alias("e0")))
    per = (spans.groupBy(id_col)
           .agg(F.array_sort(F.collect_list(F.struct("s0", "e0")))
                .alias("__spans"),
                F.count(F.lit(1)).cast("long").alias("n_spans"),
                F.sum(F.col("e0") - F.col("s0") + 1)
                .cast("long").alias("n_removed")))
    joined = (base.join(per, id_col, "left")
              .withColumn("__spans",
                          F.coalesce("__spans", F.array().cast(
                              "array<struct<s0:int,e0:int>>"))))
    # clamp e0 to the doc end: a window starting at pos always fits
    # by construction, so no clamp is needed — asserted by the
    # hypothesis pin against the python model
    kept = F.filter(
        F.col("__toks"),
        lambda x, i: ~F.exists(
            F.col("__spans"),
            lambda s: (i >= s["s0"]) & (i <= s["e0"])))
    out = joined.select(
        F.col(id_col),
        F.size("__toks").cast("long").alias("n_tokens"),
        F.coalesce("n_spans", F.lit(0).cast("long")).alias("n_spans"),
        F.coalesce("n_removed", F.lit(0).cast("long")).alias("n_removed"),
        F.md5(F.concat_ws(" ", kept)).alias("kept_md5"),
        *([F.concat_ws(" ", kept).alias("kept_text")] if emit_text else []))
    return out


def exactsubstr_oracle_sql(min_tokens: int = 8, table: str = "documents",
                           id_col: str = "doc_id",
                           text_col: str = "text") -> str:
    """DuckDB replay of ``exactsubstr_report(portable=True)``: same
    tokenize / sliding gram / portable-hash pipeline, the same
    min(struct)-winner and marked-interval merge (gaps-and-islands
    over a doc-partitioned window), the same md5 over the surviving
    token join — 31-bit hash collisions replay identically."""
    L = min_tokens
    tok = (f"list_filter(regexp_split_to_array(lower({text_col}), "
           "'[^a-z0-9]+'), x -> x <> '')")
    gram = " || ' ' || ".join(f"w[g+{j}]" for j in range(L))
    ph = f"(('0x' || substr(md5({gram}), 1, 14))::BIGINT % {HASH_P})"
    return f"""
    WITH tok AS (SELECT {id_col} AS id, {tok} AS w FROM {table}),
    occ AS (
      SELECT id, g - 1 AS pos, {ph} AS h
      FROM (SELECT id, w,
                   unnest(generate_series(1, len(w) - {L - 1})) AS g
            FROM tok WHERE len(w) >= {L})),
    win AS (
      SELECT h, min(struct_pack(i := id, p := pos)) AS w0,
             count(*) AS c
      FROM occ GROUP BY h),
    dups AS (
      SELECT o.id, o.pos, o.pos + {L - 1} AS e
      FROM occ o JOIN win ON o.h = win.h
      WHERE win.c > 1
        AND NOT (o.id = win.w0.i AND o.pos = win.w0.p)),
    m AS (
      SELECT id, pos, e,
             max(e) OVER (PARTITION BY id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pme
      FROM dups),
    i AS (
      SELECT id, pos, e,
             sum(CASE WHEN pme IS NULL OR pos > pme + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos) AS isl
      FROM m),
    s AS (
      SELECT id, isl, min(pos) AS s0, max(e) AS e0
      FROM i GROUP BY id, isl),
    per AS (
      SELECT id, count(*)::BIGINT AS n_spans,
             sum(e0 - s0 + 1)::BIGINT AS n_removed
      FROM s GROUP BY id),
    kept AS (
      SELECT t.id,
             coalesce(string_agg(t.w[u.i + 1], ' ' ORDER BY u.i), '')
               AS ktext
      FROM (SELECT id, w, unnest(generate_series(0, len(w) - 1)) AS i
            FROM tok) u
      JOIN tok t ON t.id = u.id
      WHERE NOT EXISTS (SELECT 1 FROM s
                        WHERE s.id = u.id
                          AND u.i BETWEEN s.s0 AND s.e0)
      GROUP BY t.id)
    SELECT t.{id_col}, n_tokens, n_spans, n_removed, kept_md5 FROM (
      SELECT tok.id AS {id_col},
             len(tok.w)::BIGINT AS n_tokens,
             coalesce(per.n_spans, 0)::BIGINT AS n_spans,
             coalesce(per.n_removed, 0)::BIGINT AS n_removed,
             md5(coalesce(kept.ktext, '')) AS kept_md5
      FROM tok
      LEFT JOIN per ON per.id = tok.id
      LEFT JOIN kept ON kept.id = tok.id) t
    """


def exactsubstr_incremental(new_df: DataFrame, index_df: DataFrame,
                            text_col: str, id_col: str,
                            min_tokens: int = 8, portable: bool = True,
                            emit_text: bool = False) -> DataFrame:
    """The daily-ingest form of ``exactsubstr_report`` (the same
    split as ``incremental_lsh_candidates``): dedup a NEW batch
    against an already-accepted INDEX corpus without ever re-marking
    the index.  A new-doc token is marked when its sliding gram
    appears ANYWHERE in the index (the index keeps its copy — it was
    accepted first) or when it is a non-first occurrence within the
    new batch itself.  Equivalently: run the full report over
    index ∪ new with every index id ordered before every new id, and
    keep the new-side rows — the equivalence a test pins exactly.

    Returns the ``exactsubstr_report`` row shape for NEW docs only.

    Scale shape: the index contributes ONE distinct-hash exchange and
    never carries positions (at a steady-state pipeline this set is
    the thing you persist between ingests); the new side pays the
    report's own ledger at batch size.  The index-membership test is
    a semi/anti join pair on the gram hash — the new side streams
    against it, nothing index-sized is re-sorted per batch.
    """
    if min_tokens < 2:
        raise ValueError("min_tokens must be >= 2")
    L = min_tokens
    base, occ, knames = _exactsubstr_occ(new_df, text_col, id_col, L,
                                         portable)
    # persist=False: the index side is consumed exactly once (the
    # distinct-hash reduction below) — no cache, no positions kept
    _, idx_occ, _ = _exactsubstr_occ(index_df, text_col, id_col, L,
                                     portable, persist=False)
    idx = idx_occ.select(*knames).distinct()
    span = lambda d: d.select(  # noqa: E731
        F.col(id_col), F.col("pos"),
        (F.col("pos") + F.lit(L - 1)).alias("__end"))
    in_idx = span(occ.join(idx, knames, "left_semi"))
    fresh = occ.join(idx, knames, "left_anti")
    winners = fresh.groupBy(*knames).agg(
        F.min(F.struct(F.col(id_col), F.col("pos"))).alias("__w"),
        F.count(F.lit(1)).alias("__c"))
    batch_dups = span(
        fresh.join(winners, knames)
        .filter((F.col("__c") > 1)
                & ~((F.col(id_col) == F.col(f"__w.{id_col}"))
                    & (F.col("pos") == F.col("__w.pos")))))
    return _exactsubstr_finalize(base, in_idx.unionByName(batch_dups),
                                 id_col, emit_text)


def exactsubstr_incremental_oracle_sql(
        min_tokens: int = 8, table: str = "documents",
        id_col: str = "doc_id", text_col: str = "text",
        new_pred: str = "doc_id % 5 = 0",
        index_pred: str = "doc_id % 5 <> 0") -> str:
    """DuckDB replay of ``exactsubstr_incremental`` where both sides
    are predicates over one table — index membership by hash, the
    within-batch min-struct winner, and the island merge + rebuild
    replayed over the new side only."""
    L = min_tokens
    tok = (f"list_filter(regexp_split_to_array(lower({text_col}), "
           "'[^a-z0-9]+'), x -> x <> '')")
    gram = " || ' ' || ".join(f"w[g+{j}]" for j in range(L))
    ph = f"(('0x' || substr(md5({gram}), 1, 14))::BIGINT % {HASH_P})"
    return f"""
    WITH tok AS (SELECT {id_col} AS id, ({new_pred}) AS is_new,
                        {tok} AS w
                 FROM {table}
                 WHERE ({new_pred}) OR ({index_pred})),
    occ0 AS (
      SELECT id, is_new, g - 1 AS pos, {ph} AS h
      FROM (SELECT id, is_new, w,
                   unnest(generate_series(1, len(w) - {L - 1})) AS g
            FROM tok WHERE len(w) >= {L})),
    idx AS (SELECT DISTINCT h FROM occ0 WHERE NOT is_new),
    occ AS (SELECT id, pos, h FROM occ0 WHERE is_new),
    fresh AS (SELECT * FROM occ
              WHERE NOT EXISTS (SELECT 1 FROM idx
                                WHERE idx.h = occ.h)),
    win AS (
      SELECT h, min(struct_pack(i := id, p := pos)) AS w0,
             count(*) AS c
      FROM fresh GROUP BY h),
    dups AS (
      SELECT o.id, o.pos, o.pos + {L - 1} AS e
      FROM occ o JOIN idx ON o.h = idx.h
      UNION ALL
      SELECT o.id, o.pos, o.pos + {L - 1} AS e
      FROM fresh o JOIN win ON o.h = win.h
      WHERE win.c > 1
        AND NOT (o.id = win.w0.i AND o.pos = win.w0.p)),
    m AS (
      SELECT id, pos, e,
             max(e) OVER (PARTITION BY id ORDER BY pos
                          ROWS BETWEEN UNBOUNDED PRECEDING
                          AND 1 PRECEDING) AS pme
      FROM dups),
    i AS (
      SELECT id, pos, e,
             sum(CASE WHEN pme IS NULL OR pos > pme + 1
                      THEN 1 ELSE 0 END)
               OVER (PARTITION BY id ORDER BY pos) AS isl
      FROM m),
    s AS (
      SELECT id, isl, min(pos) AS s0, max(e) AS e0
      FROM i GROUP BY id, isl),
    per AS (
      SELECT id, count(*)::BIGINT AS n_spans,
             sum(e0 - s0 + 1)::BIGINT AS n_removed
      FROM s GROUP BY id),
    nt AS (SELECT id, w FROM tok WHERE is_new),
    kept AS (
      SELECT t.id,
             coalesce(string_agg(t.w[u.i + 1], ' ' ORDER BY u.i), '')
               AS ktext
      FROM (SELECT id, w, unnest(generate_series(0, len(w) - 1)) AS i
            FROM nt) u
      JOIN nt t ON t.id = u.id
      WHERE NOT EXISTS (SELECT 1 FROM s
                        WHERE s.id = u.id
                          AND u.i BETWEEN s.s0 AND s.e0)
      GROUP BY t.id)
    SELECT nt.id AS {id_col},
           len(nt.w)::BIGINT AS n_tokens,
           coalesce(per.n_spans, 0)::BIGINT AS n_spans,
           coalesce(per.n_removed, 0)::BIGINT AS n_removed,
           md5(coalesce(kept.ktext, '')) AS kept_md5
    FROM nt
    LEFT JOIN per ON per.id = nt.id
    LEFT JOIN kept ON kept.id = nt.id
    """
