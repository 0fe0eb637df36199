"""Corpus-curation operators for training-data pipelines: deterministic
train/val/test splits, stratified sampling, benchmark decontamination,
sequence packing, and per-group selection.

The reference engine stops at record streams (SURVEY.md §2); these are
the beyond-parity operators every large-scale training pipeline needs
between "deduplicated corpus" and "token shards".  Scale design:

- **split_assign / stratified_sample** — pure Column expressions over
  ``portable_hash``: no shuffle, no RNG state, reproducible across
  engines and re-runs (a re-run after adding data keeps every existing
  row's split — the property random sampling loses).
- **decontaminate** — n-gram overlap against an evaluation set.  The
  eval side of a real pipeline is tiny (benchmarks are MBs, the corpus
  is TBs), so the eval shingle set is broadcast; the train side is
  scanned once, exploded to distinct shingle hashes, and semi-joined.
  Shuffle ledger: one groupBy(train doc) — the broadcast removes the
  shuffle of the join itself.
- **pack_sequences** — greedy token-budget packing within deterministic
  hash shards.  The window (cumulative token sum) is per-shard, so at
  100 TB each shard packs independently after one hash-partition
  shuffle; no global sort, no driver loop.  Shards ≈ output files.
- **topk_per_group** — per-stratum selection via row_number over a
  (group, order) window: one shuffle on the group key; skew-safe when
  groups are balanced (languages, sources), which is the use case.

All hashing goes through text.portable_hash so every operator has an
exactly-equivalent ANSI-SQL formulation for the DuckDB oracles
(plans/curation_queries.py embeds the same constants).
"""

from __future__ import annotations

from pyspark.sql import Column, DataFrame
from pyspark.sql import functions as F

from kafkadirect_spark.functions.dedup import _persist, _widen
from kafkadirect_spark.functions.text import (HASH_P, portable_hash,
                                              shingles, tokens)

# Buckets for split/sampling decisions: fractions are expressed in
# 1/10000ths so oracles compare integers, never floats.
SPLIT_BUCKETS = 10_000


def hash_bucket(c: Column | str, n_buckets: int = SPLIT_BUCKETS,
                salt: str = "") -> Column:
    """Deterministic bucket in [0, n_buckets) from the portable hash of
    a key column (optionally salted so independent decisions — split
    vs. sample — use independent hashes)."""
    col = F.col(c) if isinstance(c, str) else c
    key = F.concat(col.cast("string"), F.lit(salt)) if salt else col.cast("string")
    return portable_hash(key) % n_buckets


def split_assign(df: DataFrame, id_col: str,
                 fractions: dict[str, float],
                 salt: str = "split") -> DataFrame:
    """Label every row with a deterministic train/val/test split.

    ``fractions`` maps split name → fraction; they must sum to ≤ 1 (any
    remainder falls into the last split).  Assignment is
    ``portable_hash(id ∥ salt) % 10000`` against cumulative fraction
    boundaries — stable under re-runs and data growth, content-free
    (id-keyed), and shuffle-free.
    """
    total = sum(fractions.values())
    if total > 1.0 + 1e-9:
        raise ValueError(f"fractions sum to {total} > 1")
    bucket = hash_bucket(id_col, salt=salt)
    expr = None
    cum = 0.0
    names = list(fractions)
    for name in names[:-1]:
        cum += fractions[name]
        cond = bucket < int(round(cum * SPLIT_BUCKETS))
        expr = F.when(cond, F.lit(name)) if expr is None else expr.when(cond, F.lit(name))
    last = F.lit(names[-1])
    expr = last if expr is None else expr.otherwise(last)
    return df.withColumn("split", expr)


def stratified_sample(df: DataFrame, strata_col: Column | str,
                      fractions: dict[str, float], id_col: str,
                      default: float = 0.0,
                      salt: str = "sample") -> DataFrame:
    """Per-stratum deterministic sampling: keep a row iff
    ``hash_bucket(id ∥ salt) < fraction[stratum] · 10000``.

    This is the data-mixing primitive: up/down-weight sources or
    languages to target proportions with zero shuffles and exact
    reproducibility (same ids survive every run).
    """
    strata = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    bucket = hash_bucket(id_col, salt=salt)
    rate = None
    for name, frac in fractions.items():
        cond = strata == name
        lit = F.lit(int(round(frac * SPLIT_BUCKETS)))
        rate = F.when(cond, lit) if rate is None else rate.when(cond, lit)
    rate = rate.otherwise(F.lit(int(round(default * SPLIT_BUCKETS)))) \
        if rate is not None else F.lit(int(round(default * SPLIT_BUCKETS)))
    return df.filter(bucket < rate)


def decontaminate(train: DataFrame, eval_df: DataFrame, text_col: str,
                  id_col: str, n: int = 8) -> DataFrame:
    """Benchmark decontamination: flag training docs sharing any word
    ``n``-gram with the evaluation set.

    Returns ``(id, contaminated)`` for every training doc.  The eval
    shingle-hash set is deduplicated and **broadcast** (eval benchmarks
    are MB-scale against a TB-scale corpus), so the only shuffle is the
    per-train-doc aggregation; the train corpus streams through once.
    """
    def shingle_hashes(df: DataFrame) -> DataFrame:
        # _widen: a single-file scan would serialize the explode+hash
        # stage on one partition (no-op on an already-wide scan)
        return (_widen(df.select(F.col(id_col), F.col(text_col)))
                  .select(F.col(id_col),
                          F.explode(shingles(tokens(text_col), n)).alias("g"))
                  .select(id_col, portable_hash(F.col("g")).alias("gh")))

    eval_hashes = F.broadcast(shingle_hashes(eval_df).select("gh").distinct())
    # broadcast left-semi: the corpus side streams through with NO
    # pre-join shuffle (duplicate grams are fine — the per-doc distinct
    # after the semi-join is the only wide op on the corpus side)
    hits = (shingle_hashes(train).join(eval_hashes, "gh", "left_semi")
            .select(id_col).distinct()
            .withColumn("contaminated", F.lit(True)))
    return (train.select(id_col).join(hits, id_col, "left")
            .select(id_col, F.coalesce("contaminated", F.lit(False))
                    .alias("contaminated")))


def pack_sequences(df: DataFrame, id_col: str, tokens_col: str,
                   budget: int, n_shards: int = 64,
                   salt: str = "shard") -> DataFrame:
    """Greedy token-budget packing: assign each doc to a sequence so
    consecutive docs (by id, within a deterministic hash shard) fill
    ~``budget`` tokens per sequence.

    ``seq_id = floor((cumulative_tokens − doc_tokens) / budget)`` —
    i.e. each doc joins the sequence its START offset falls in, so a
    doc longer than the budget spans boundary(ies) rather than being
    isolated, and an earlier doc whose start lands in the same bucket
    shares that sequence (see the greedy-packing property test).  The
    window is per-shard: one hash shuffle, then each shard packs
    independently — no global sort at any scale.

    Returns ``(id, shard, seq_id, n_tokens)``.
    """
    from pyspark.sql import Window

    shard = hash_bucket(id_col, n_buckets=n_shards, salt=salt)
    w = (Window.partitionBy("shard").orderBy(id_col)
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    # integer `div`, not floating division: cumulative sums can exceed
    # 2^53 at scale, where a double round-trip would misplace boundaries
    return (df.select(F.col(id_col), F.col(tokens_col).alias("n_tokens"))
              .withColumn("shard", shard)
              .withColumn("cum", F.sum("n_tokens").over(w))
              .withColumn("seq_id",
                          F.expr(f"(cum - n_tokens) div CAST({budget} AS BIGINT)"))
              .select(id_col, "shard", "seq_id", "n_tokens"))


def upsample(df: DataFrame, strata_col: Column | str,
             weights: dict[str, float], id_col: str,
             default: float = 1.0, salt: str = "epoch") -> DataFrame:
    """Fractional up/down-sampling by stratum: weight 2.3 emits 2 full
    copies of every row plus a deterministic 30% third copy; weight
    0.4 emits a 40% sample.  The mixing primitive when target
    proportions call for repeating high-quality sources.

    Output is the input plus an ``epoch`` column (0-based copy index);
    downstream shuffles (e.g. sequence packing salted by (id, epoch))
    spread the copies.  Row-local explode — no shuffle; the decision
    hash is salted with the epoch so fractional copies of different
    epochs pick independent row subsets.
    """
    strata = F.col(strata_col) if isinstance(strata_col, str) else strata_col
    w = None
    for name, weight in weights.items():
        lit = F.lit(float(weight))
        w = F.when(strata == name, lit) if w is None else w.when(strata == name, lit)
    w = w.otherwise(F.lit(float(default))) if w is not None else F.lit(float(default))
    n_full = F.floor(w).cast("int")
    frac_buckets = F.round((w - F.floor(w)) * SPLIT_BUCKETS).cast("int")
    epochs = F.sequence(F.lit(0), n_full)  # 0..floor(w) inclusive: last is the fractional copy
    out = df.withColumn("__w_full", n_full) \
            .withColumn("__w_frac", frac_buckets) \
            .withColumn("epoch", F.explode(epochs))
    keep_full = F.col("epoch") < F.col("__w_full")
    id_c = F.col(id_col).cast("string")
    frac_bucket = portable_hash(
        F.concat(id_c, F.lit(salt), F.col("epoch").cast("string"))) % SPLIT_BUCKETS
    keep_frac = (F.col("epoch") == F.col("__w_full")) & (frac_bucket < F.col("__w_frac"))
    return out.filter(keep_full | keep_frac).drop("__w_full", "__w_frac")


def vocab_stats(df: DataFrame, text_col: str, id_col: str,
                top_k: int | None = None) -> DataFrame:
    """Corpus vocabulary statistics: per token, total term frequency
    (``tf``) and document frequency (``df``) — the vocab-build /
    tokenizer-training input.

    One explode + one groupBy(token); ``df`` is a two-phase distinct
    aggregate on (token, doc).  With ``top_k`` the result is ordered
    (tf desc, token) and truncated via TakeOrdered — a per-partition
    top-k then a driver merge of k rows, never a global sort.
    """
    toks = df.select(F.col(id_col),
                     F.explode(tokens(text_col)).alias("token"))
    stats = toks.groupBy("token").agg(
        F.count(F.lit(1)).alias("tf"),
        F.countDistinct(id_col).alias("df"))
    if top_k is not None:
        stats = stats.orderBy(F.col("tf").desc(), F.col("token")).limit(top_k)
    return stats


def boilerplate_ratio(df: DataFrame, text_col: str, id_col: str,
                      n: int = 10, max_doc_freq: int = 2) -> DataFrame:
    """Boilerplate signal per document: the fraction of its distinct
    word ``n``-grams that appear in more than ``max_doc_freq``
    documents (navigation chrome, license headers, templated text).

    Inverted-index shape — explode distinct (doc, gram-hash), count
    docs per gram, join back, aggregate per doc: three key-bounded
    shuffles, no pairwise comparison anywhere.  Returns
    ``(id, n_grams, n_boiler, boiler_ratio)`` for docs with ≥ n
    tokens; a pipeline drops or rewrites docs above a ratio threshold.
    """
    grams = (_widen(df.select(F.col(id_col), F.col(text_col)))
               .select(F.col(id_col),
                       F.explode(shingles(tokens(text_col), n)).alias("g"))
               .select(id_col, portable_hash(F.col("g")).alias("gh"))
               .distinct())
    freq = grams.groupBy("gh").agg(F.countDistinct(id_col).alias("gdf"))
    return (grams.join(freq, "gh")
            .groupBy(id_col)
            .agg(F.count(F.lit(1)).alias("n_grams"),
                 F.sum(F.when(F.col("gdf") > max_doc_freq, 1).otherwise(0))
                  .alias("n_boiler"))
            .select(id_col, "n_grams", "n_boiler",
                    (F.col("n_boiler").cast("double") / F.col("n_grams"))
                    .alias("boiler_ratio")))


def corpus_stats(df: DataFrame, group_col: str, size_col: Column | str,
                 quantiles: tuple[float, ...] = (0.5, 0.9, 0.99)) -> DataFrame:
    """Per-group corpus report: doc count, total/mean size, and
    discrete size percentiles — the dataset card / shard-size-planning
    aggregation.  One shuffle on the group key.

    ``percentile_disc`` (not interpolated): the result is an actual
    value from the data, integer-exact across engines — no
    floating-interpolation drift in the oracle comparison.  The mean is
    reported as ``avg_size_milli`` (mean × 1000, integer division) for
    the same reason: a raw DOUBLE division differs between engines in
    the last ulp, which an exact value-hash comparison flags even
    though the values agree to 15 significant digits.
    """
    size = F.col(size_col) if isinstance(size_col, str) else size_col
    d = df.select(F.col(group_col), size.alias("__sz"))
    aggs = [
        F.count(F.lit(1)).alias("n_docs"),
        F.sum("__sz").alias("total_size"),
        F.expr("CAST((sum(__sz) * CAST(1000 AS BIGINT)) div count(1) "
               "AS BIGINT)").alias("avg_size_milli"),
    ]
    # percentile_disc returns DOUBLE in Spark even over integers;
    # cast back to the size column's own type — the discrete
    # percentile IS a data value, so the cast is lossless and keeps
    # the output dtype identical to the SQL oracle's
    sz_type = d.schema["__sz"].dataType
    for q in quantiles:
        pct = str(int(q * 100))
        aggs.append(F.expr(
            f"percentile_disc({q}) WITHIN GROUP (ORDER BY __sz)"
        ).cast(sz_type).alias(f"p{pct}_size"))
    return d.groupBy(group_col).agg(*aggs)


def topk_per_group(df: DataFrame, group_col: str | list[str],
                   order_col: str, k: int,
                   tiebreak_col: str | None = None,
                   ascending: bool = False,
                   salt_parts: int = 32) -> DataFrame:
    """Top-``k`` rows per group by ``order_col`` (desc by default),
    deterministic via ``tiebreak_col`` — per-language / per-source
    quality selection.  ``group_col`` may be one column or a list.

    Two-phase when ``salt_parts`` > 1: rows are salted into
    ``(group, salt)`` sub-partitions by a deterministic hash, ranked
    within each sub-partition, and only the ≤ k survivors per
    sub-partition are re-ranked per group.  A row in the global top-k
    is necessarily in its sub-partition's top-k, so the result is
    identical to the single-window form — but no task ever sorts more
    than ~1/salt_parts of a stratum.  With a binary stratum like
    language ∈ {en, unknown} the naive window is a two-reducer sort of
    the whole corpus at 100 TB; salted, phase 1 spreads over
    ``2 × salt_parts`` tasks and phase 2 sorts ≤ ``k·salt_parts`` rows
    per group.  ``salt_parts=1`` recovers the single-window plan."""
    from pyspark.sql import Window

    groups = [group_col] if isinstance(group_col, str) else list(group_col)
    order = F.col(order_col).asc() if ascending else F.col(order_col).desc()
    keys = [order] + ([F.col(tiebreak_col).asc()] if tiebreak_col else [])
    src = df
    if salt_parts and salt_parts > 1:
        # deterministic salt: the tiebreak id when given (usually
        # unique → balanced), else the whole row
        salt_on = (F.col(tiebreak_col) if tiebreak_col
                   else F.struct(*[F.col(c) for c in df.columns]))
        w1 = Window.partitionBy(*groups, "__salt").orderBy(*keys)
        src = (df.withColumn(
                   "__salt",
                   F.pmod(F.xxhash64(salt_on), F.lit(salt_parts)))
                 .withColumn("__r1", F.row_number().over(w1))
                 .filter(F.col("__r1") <= k)
                 .drop("__salt", "__r1"))
    w = Window.partitionBy(*groups).orderBy(*keys)
    return (src.withColumn("rank", F.row_number().over(w))
               .filter(F.col("rank") <= k)
               .withColumn("rank", F.col("rank").cast("long")))


def chunk_documents(df: DataFrame, id_col: str, text_col: str,
                    chunk_tokens: int = 64,
                    overlap: int = 16) -> DataFrame:
    """Split each document into overlapping token-window chunks — the
    step between "curated corpus" and "training sequences" when
    documents exceed the model context (every pretraining pipeline
    chunks; the reference has no analogue — its records are opaque
    values, SURVEY.md §1.1).

    Chunk ``i`` covers tokens ``[i·stride, i·stride + chunk_tokens)``
    with ``stride = chunk_tokens − overlap``; the chunk count is
    ``1 + ceil(max(0, n − chunk_tokens) / stride)`` — every token is
    covered, the tail chunk may be short, and no chunk is ever fully
    contained in its predecessor (the naive "while start < n" rule
    emits redundant tail windows that duplicate training data).  A
    document shorter than ``chunk_tokens`` yields exactly one chunk;
    zero-token documents yield none.

    Scale: chunking is a pure per-row explode — no shuffle, no state;
    output order is irrelevant (each chunk carries its own id).  The
    chunk text is surfaced as a full md5 (hashable scalar per the
    gate-output rule), alongside the chunk token count.
    """
    if overlap >= chunk_tokens:
        raise ValueError("overlap must be < chunk_tokens")
    stride = chunk_tokens - overlap
    toks = tokens(text_col)
    n = F.size(toks)
    n_chunks = (F.greatest(
        F.floor((n - chunk_tokens + stride - 1) / F.lit(stride)),
        F.lit(0)).cast("int") + 1)

    def mk_chunk(i):
        chunk = F.slice(toks, i * stride + 1, chunk_tokens)
        return F.struct(
            i.cast("bigint").alias("chunk_id"),
            F.size(chunk).cast("bigint").alias("chunk_len"),
            F.md5(F.concat_ws(" ", chunk)).alias("chunk_hash"))

    chunks = F.when(
        n >= 1, F.transform(F.sequence(F.lit(0), n_chunks - 1), mk_chunk))
    return (
        df.select(F.col(id_col), F.explode(chunks).alias("__c"))
          .select(id_col, "__c.chunk_id", "__c.chunk_len", "__c.chunk_hash")
    )


def importance_scores(df: DataFrame, id_col: str, text_col: str,
                      target: Column, ngram: int = 2,
                      scale: int = 1_000_000,
                      n_buckets: int = 10_000) -> DataFrame:
    """DSIR-style data-selection scores: rank corpus documents by how
    much their n-gram features look like a TARGET domain (Xie et al.,
    "Data Selection for Language Models via Importance Resampling",
    NeurIPS 2023 — public).  Faithful to the paper's feature space,
    n-grams are HASHED into ``n_buckets`` buckets (DSIR uses 10^4);
    each distinct bucket in a document contributes the exact integer
    likelihood ratio ``(scale · df_target(b)) // df_corpus(b)``
    (document frequencies), and the document's score is the BIGINT
    sum.  The classic formulation uses log ratios; logs differ in the
    last ulp across libm builds, so the ratio stays in integer
    arithmetic — cross-engine reproducible, order-free.

    ``target`` is a boolean Column over ``df``'s rows (e.g.
    ``F.col("lang") == "en"``) marking the in-domain subset.

    Scale ledger: the bucket space is BOUNDED, so the frequency table
    is at most ``n_buckets`` rows → broadcast; the exploded
    (doc, bucket) pairs are never shuffled by bucket (the groupBy's
    partial aggregation emits ≤ n_buckets rows per task).  The only
    data-sized exchange is the final groupBy(doc), which map-side
    combines to one row per document.  Strictly better than the
    string-keyed inverted index at any scale.
    """
    buckets = F.array_distinct(F.transform(
        shingles(tokens(text_col), ngram),
        lambda s: portable_hash(s) % n_buckets))
    pairs = _persist(
        df.select(F.col(id_col), target.alias("__t"),
                  F.explode(buckets).alias("__b")))
    freqs = (pairs.groupBy("__b")
             .agg(F.count(F.lit(1)).alias("__df_c"),
                  F.sum(F.col("__t").cast("long")).alias("__df_t")))
    # exact BIGINT division (div), never a double floor — a double
    # round-trip loses integer exactness past 2^53 at corpus scale
    contrib = F.expr(f"CAST({scale} AS BIGINT) * __df_t DIV __df_c")
    return (
        pairs.join(F.broadcast(freqs), "__b")
        .groupBy(id_col)
        .agg(F.sum(contrib).cast("long").alias("score"))
    )


def shuffle_positions(df: DataFrame, id_col: str, seed: str = "shuffle",
                      shards: int = 1024) -> DataFrame:
    """Deterministic global training-shuffle order: every row gets a
    contiguous position ``pos ∈ [1, N]`` in hash order — stable under
    re-runs and executor counts (no RNG state, no zipWithIndex
    partition dependence), reshuffled by changing ``seed``.

    Distributed enumerate, no global sort: rows hash into ``shards``
    uniform shards; each shard ranks locally (the rank window
    partitions on the shard — no single-reducer ORDER BY); shard row
    counts (≤ ``shards`` rows, bounded by construction) become
    cumulative offsets via a tiny window, broadcast back, and
    ``pos = offset(shard) + local rank``.  The induced total order is
    (shard, hash, id) — exactly ``ROW_NUMBER() OVER (ORDER BY shard,
    h, id)``, which the DuckDB oracle replays."""
    from pyspark.sql import Window

    h = hash_bucket(F.concat(F.lit(seed), F.col(id_col).cast("string")),
                    n_buckets=HASH_P)
    rows = df.select(F.col(id_col), h.alias("__h"),
                     (h % shards).alias("__shard"))
    counts = rows.groupBy("__shard").agg(F.count(F.lit(1)).alias("__n"))
    # ≤ `shards` rows: the single-partition running sum is bounded by
    # construction (the same contract as pack_sequences' shard cumsum)
    off = counts.withColumn(
        "__off",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__shard")
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))
    w = Window.partitionBy("__shard").orderBy(F.col("__h").asc(),
                                              F.col(id_col).asc())
    return (rows.withColumn("__r", F.row_number().over(w))
            .join(F.broadcast(off.select("__shard", "__off")), "__shard")
            .select(id_col,
                    (F.col("__off") + F.col("__r")).cast("long").alias("pos")))


def sample_exact_n(df: DataFrame, id_col: str, n: int,
                   seed: str = "sample") -> DataFrame:
    """Exactly-``n`` uniform sample, deterministic under re-runs and
    data layout: the ``n`` smallest rows in salted-hash order.  Plans
    as a distributed top-n (TakeOrdered: per-partition heaps of ``n``,
    merged on the driver) — no global sort, no sampleByFraction
    variance, no RNG state.  Changing ``seed`` redraws the sample."""
    h = hash_bucket(F.concat(F.lit(seed), F.col(id_col).cast("string")),
                    n_buckets=HASH_P)
    return (df.select(F.col(id_col), h.alias("__h"))
            .orderBy(F.col("__h").asc(), F.col(id_col).asc())
            .limit(n)
            .select(id_col))


def sample_exact_n_per_group(df: DataFrame, group_cols: list[str],
                             id_col: str, n: int,
                             seed: str = "sample") -> DataFrame:
    """Exactly-``n`` uniform sample PER GROUP (stratum), deterministic
    under re-runs and data layout: each group's ``n`` smallest rows in
    salted-hash order — the exact-count sibling of
    ``stratified_sample`` (whose per-stratum size is binomial) and the
    grouped sibling of ``sample_exact_n``.  Groups smaller than ``n``
    are returned whole.

    Scale: delegates to the salted two-phase ``topk_per_group``
    (ascending on the sample hash) — rows rank first inside
    ``(stratum, salt)`` sub-partitions (no task sorts more than
    ~1/salt_parts of a stratum, even a corpus-sized one), and only
    the ≤ n survivors per sub-partition re-rank per stratum
    (≤ n·salt_parts rows per group, bounded by construction).  The
    plan-lint suite rejects the naive low-cardinality rank window
    this replaces.  No RNG state, no count-dependent boundaries:
    membership depends only on (seed, id), so the sample is stable as
    the corpus grows — a row enters/leaves only when the group's n-th
    hash boundary moves."""
    if n <= 0:
        raise ValueError("n must be positive")
    h = hash_bucket(F.concat(F.lit(seed), F.col(id_col).cast("string")),
                    n_buckets=HASH_P)
    return (topk_per_group(
        df.select(*group_cols, F.col(id_col), h.alias("__h")),
        group_cols, "__h", k=n, tiebreak_col=id_col, ascending=True)
        .select(*group_cols, id_col))


def term_relevance(df: DataFrame, id_col: str, text_col: str, k: int = 3,
                   scale: int = 1_000_000) -> DataFrame:
    """Top-``k`` most distinguishing terms per document by the exact
    integer relevance ratio ``score_ppm = tf · scale · N // df`` (term
    frequency × inverse document frequency, linear form) — keyword
    extraction / topic tagging over a corpus.  The classic log-idf
    weight is transcendental and drifts across libm builds; the linear
    ratio keeps the entire computation in BIGINT so results are
    hash-exact cross-engine, and idf-monotonicity (rarer term ⇒ higher
    weight at equal tf) is preserved.

    Scale ledger: one explode → groupBy(doc, term) for tf (map-side
    combined), one groupBy(term) over distinct (doc, term) for df
    (vocabulary-sized output), a broadcast one-row N, a hash join
    tf⋈df on term (inverted-index shape, as ngram-Jaccard), and a
    rank window partitioned by doc — high-cardinality, skew-free."""
    from pyspark.sql import Window

    toks = (df.select(F.col(id_col), F.explode(tokens(text_col))
                      .alias("__t")))
    tf = (toks.groupBy(id_col, "__t")
          .agg(F.count(F.lit(1)).alias("__tf")))
    dfreq = (tf.groupBy("__t")
             .agg(F.count(F.lit(1)).alias("__df")))
    n_docs = df.select(F.count(F.lit(1)).alias("__n"))
    scored = (tf.join(dfreq, "__t")
              .join(F.broadcast(n_docs))
              .withColumn("score_ppm",
                          F.expr(f"CAST({scale} AS BIGINT) * __tf * __n"
                                 " DIV __df")))
    w = Window.partitionBy(id_col).orderBy(
        F.col("score_ppm").desc(), F.col("__t").asc())
    return (scored.withColumn("rk", F.row_number().over(w))
            .filter(F.col("rk") <= k)
            .select(F.col(id_col), F.col("__t").alias("term"),
                    F.col("score_ppm"), F.col("rk").cast("long").alias("rk")))


def _check_query_terms(terms: list[str]) -> None:
    """Terms outside the tokenizer alphabet [a-z0-9]+ can never match
    a token (tokens() lowercases and splits on everything else), and
    a quote would corrupt the generated oracle SQL — reject both at
    the API edge, in the engine AND the SQL generator."""
    import re as _re

    bad = [t for t in terms if not _re.fullmatch(r"[a-z0-9]+", t or "")]
    if bad:
        raise ValueError(
            f"terms outside the tokenizer alphabet [a-z0-9]+: {bad}")


def bm25_rank(df: DataFrame, id_col: str, text_col: str,
              query_terms: list[str], k: int = 10,
              k1_ppm: int = 1_200_000, b_ppm: int = 750_000,
              scale: int = 1_000_000) -> DataFrame:
    """Top-``k`` documents for a term query by an integer-exact BM25
    variant — ranked retrieval over the corpus (find the canonical
    source of a memorized string, audit benchmark leakage by query,
    build seed sets for targeted curation).

    Okapi BM25 with two integerization choices so every value is a
    BIGINT/decimal and hash-exact cross-engine (the same policy as
    ``term_relevance`` / ``collocations``):

    - idf is the linear rarity ratio ``scale·N DIV df`` (monotone in
      the classic log idf; the log is dropped, not approximated),
    - the tf-saturation fraction ``tf·(k1+1) / (tf + k1·(1−b+b·dl/
      avgdl))`` runs in ppm fixed point with truncating division —
      ``k1`` and ``b`` are supplied as ppm integers (defaults: the
      textbook k1=1.2, b=0.75), and ``dl/avgdl`` is computed as the
      exact ratio ``scale·dl·N DIV Σdl`` so no intermediate average
      is ever rounded.

    Scale ledger: the corpus is scanned ONCE through a row-local
    projection (doc length + the query-term subset of its tokens —
    the filter runs BEFORE the explode, so only matching occurrences
    are ever exploded); the (doc, term) exchange is ∝ matches, never
    corpus tokens; term stats (|Q| rows) and the corpus stats row
    broadcast back; the final top-k is a TakeOrdered, not a global
    sort.  All products run in decimal(38,0) — idf·sat reaches ~1e23
    at web scale (N=1e11, df=1), past int64.

    Reference analogue: none (SURVEY.md §2 — no document model);
    beyond-parity retrieval beside ``term_relevance``.
    """
    if not query_terms:
        raise ValueError("query_terms must be non-empty")
    if len(set(query_terms)) != len(query_terms):
        raise ValueError("query_terms must be distinct")
    _check_query_terms(query_terms)
    qlit = F.array(*[F.lit(t) for t in query_terms])
    toks = tokens(text_col)
    base = _persist(df.select(
        F.col(id_col),
        F.size(toks).alias("__dl"),
        F.filter(toks, lambda x: F.array_contains(qlit, x)).alias("__q")))
    stats = base.agg(F.count(F.lit(1)).alias("__n"),
                     F.sum("__dl").alias("__sumdl"))
    tf = (base.select(F.col(id_col), "__dl",
                      F.explode("__q").alias("__t"))
          .groupBy(id_col, "__dl", "__t")
          .agg(F.count(F.lit(1)).alias("__tf")))
    dfreq = tf.groupBy("__t").agg(F.count(F.lit(1)).alias("__df"))
    d = "CAST({} AS DECIMAL(38,0))"
    expr = (
        "CAST(("
        f"  ({d.format(scale)} * __n div __df)"          # idf_ppm
        f"  * ({d.format(scale)} * (__tf * {scale + k1_ppm})"
        f"     div (__tf * {scale}"
        f"         + ({d.format(k1_ppm)}"
        f"            * ({scale - b_ppm}"
        f"               + {d.format(b_ppm)}"
        f"                 * ({d.format(scale)} * __dl * __n div __sumdl)"
        f"                 div {scale})"
        f"            div {scale})))"                    # sat_ppm
        f"  div {scale}"
        ") AS DECIMAL(38,0))")
    scored = (tf.join(F.broadcast(dfreq), "__t")
              .join(F.broadcast(stats))
              .withColumn("__s", F.expr(expr)))
    return (scored.groupBy(id_col)
            .agg(F.sum("__s").cast("long").alias("score"),
                 F.count(F.lit(1)).alias("n_terms"))
            .orderBy(F.col("score").desc(), F.col(id_col).asc())
            .limit(k))


def vocab_drift(df: DataFrame, text_col: str, slice_col: str,
                slice_a: str, slice_b: str, k: int = 20,
                min_count: int = 5,
                scale: int = 1_000_000) -> DataFrame:
    """Top-``k`` terms whose usage RATE differs most between two
    corpus slices — the distribution-shift audit between crawls,
    snapshot versions, or sources ("which vocabulary moved between
    last month's ingest and this one?").

    Integer drift statistic (exact cross-engine, house policy): with
    per-slice rates ``r = scale·c DIV N`` (ppm), a term scores
    ``((r_a−r_b)² DIV scale) · (c_a+c_b)`` — the squared rate gap
    weighted by pooled evidence, a monotone surrogate for the
    2-sample chi-square (whose exact form needs c·N products that
    overflow decimal(38,0) at web scale: (c·N)² reaches ~1e52).
    ``min_count`` floors pooled counts so hapaxes can't top the list
    on rounding noise.

    Scale ledger: one scan (slice filter pushed to the parquet scan,
    explode only the two slices' tokens), one vocabulary-keyed
    exchange with map-side partial sums, a register-sized totals agg
    broadcast back, TakeOrdered top-k.  No corpus-sized shuffle.

    Reference analogue: none (SURVEY.md §2 — no document model);
    beyond-parity corpus QA beside ``corpus_profile``.
    """
    if slice_a == slice_b:
        raise ValueError("slice_a and slice_b must differ")
    if "'" in slice_a or "'" in slice_b:
        raise ValueError("slice values must not contain quotes "
                         "(they are embedded in the oracle SQL)")
    sl = F.col(slice_col)
    # persisted: the totals row and the scored output both read this
    # vocabulary-sized table — without the persist each consumer
    # re-scans the corpus (self-review: the ledger says one scan,
    # so make it one scan)
    terms = _persist(
        df.filter(sl.isin([slice_a, slice_b]))
        .select(sl.alias("__sl"),
                F.explode(tokens(text_col)).alias("term"))
        .groupBy("term")
        .agg(F.sum(F.when(F.col("__sl") == slice_a, 1)
                   .otherwise(0)).alias("count_a"),
             F.sum(F.when(F.col("__sl") == slice_b, 1)
                   .otherwise(0)).alias("count_b")))
    totals = terms.agg(F.sum("count_a").alias("__na"),
                       F.sum("count_b").alias("__nb"))
    d = "CAST({} AS DECIMAL(38,0))"
    rate = (f"CAST({d.format(scale)} * {{c}} div __n{{s}} "
            "AS DECIMAL(38,0))")
    return (terms.filter(F.col("count_a") + F.col("count_b")
                         >= min_count)
            .join(F.broadcast(totals))
            .withColumn("rate_a_ppm", F.expr(rate.format(c="count_a",
                                                         s="a")))
            .withColumn("rate_b_ppm", F.expr(rate.format(c="count_b",
                                                         s="b")))
            .withColumn(
                "drift_score",
                F.expr("CAST(((rate_a_ppm - rate_b_ppm)"
                       "      * (rate_a_ppm - rate_b_ppm)"
                       f"     div {scale})"
                       "     * (count_a + count_b) AS DECIMAL(38,0))"))
            .select("term", "count_a", "count_b",
                    F.col("rate_a_ppm").cast("long").alias("rate_a_ppm"),
                    F.col("rate_b_ppm").cast("long").alias("rate_b_ppm"),
                    F.col("drift_score").cast("long").alias("drift_score"))
            .orderBy(F.col("drift_score").desc(), F.col("term").asc())
            .limit(k))


def vocab_drift_sql(slice_col: str, slice_a: str, slice_b: str,
                    k: int = 20, min_count: int = 5,
                    scale: int = 1_000_000) -> str:
    """DuckDB replay of ``vocab_drift`` over the ``documents`` view."""
    if "'" in slice_a or "'" in slice_b:
        raise ValueError("slice values must not contain quotes")
    return f"""
    WITH occ AS (
      SELECT {slice_col} AS sl, unnest(
        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x <> '')) AS term
      FROM documents WHERE {slice_col} IN ('{slice_a}', '{slice_b}')),
    terms AS (
      SELECT term,
             SUM(CASE WHEN sl = '{slice_a}' THEN 1 ELSE 0 END)::BIGINT
               AS count_a,
             SUM(CASE WHEN sl = '{slice_b}' THEN 1 ELSE 0 END)::BIGINT
               AS count_b
      FROM occ GROUP BY 1),
    totals AS (SELECT SUM(count_a)::HUGEINT AS na,
                      SUM(count_b)::HUGEINT AS nb FROM terms),
    scored AS (
      SELECT term, count_a, count_b,
             ({scale}::HUGEINT * count_a // na) AS ra,
             ({scale}::HUGEINT * count_b // nb) AS rb
      FROM terms CROSS JOIN totals
      WHERE count_a + count_b >= {min_count})
    SELECT term, count_a, count_b,
           ra::BIGINT AS rate_a_ppm, rb::BIGINT AS rate_b_ppm,
           (((ra - rb) * (ra - rb) // {scale})
            * (count_a + count_b))::BIGINT AS drift_score
    FROM scored
    ORDER BY drift_score DESC, term ASC LIMIT {k}"""


def bm25_rank_sql(query_terms: list[str], k: int = 10,
                  k1_ppm: int = 1_200_000, b_ppm: int = 750_000,
                  scale: int = 1_000_000,
                  id_col: str = "doc_id") -> str:
    """DuckDB replay of ``bm25_rank`` over the ``documents`` view —
    HUGEINT ``//`` mirrors decimal ``div`` exactly (all values
    positive, both truncate)."""
    _check_query_terms(query_terms)
    terms = "[" + ", ".join(f"'{t}'" for t in query_terms) + "]"
    return f"""
    WITH base AS (
      SELECT {id_col}, len(w) AS dl,
             list_filter(w, x -> list_contains({terms}, x)) AS q
      FROM (SELECT {id_col},
                   list_filter(regexp_split_to_array(lower(text),
                               '[^a-z0-9]+'), x -> x <> '') AS w
            FROM documents)),
    stats AS (SELECT COUNT(*)::HUGEINT AS n,
                     SUM(dl)::HUGEINT AS sumdl FROM base),
    tf AS (SELECT {id_col}, dl, term, COUNT(*)::HUGEINT AS tf
           FROM (SELECT {id_col}, dl, unnest(q) AS term FROM base)
           GROUP BY 1, 2, 3),
    dfreq AS (SELECT term, COUNT(*)::HUGEINT AS df FROM tf GROUP BY 1),
    scored AS (
      SELECT {id_col},
        (({scale}::HUGEINT * n // df)
         * ({scale}::HUGEINT * (tf * {scale + k1_ppm})
            // (tf * {scale}
                + ({k1_ppm}::HUGEINT
                   * ({scale - b_ppm}
                      + {b_ppm}::HUGEINT
                        * ({scale}::HUGEINT * dl * n // sumdl)
                        // {scale})
                   // {scale})))
         // {scale}) AS s
      FROM tf JOIN dfreq USING (term) CROSS JOIN stats)
    SELECT {id_col}, SUM(s)::BIGINT AS score,
           COUNT(*)::BIGINT AS n_terms
    FROM scored GROUP BY 1
    ORDER BY score DESC, {id_col} ASC LIMIT {k}"""


BLOOM_BITS = 1 << 20
BLOOM_K = 3


def bloom_bits(df: DataFrame, text_col: str, n: int = 8,
               m_bits: int = BLOOM_BITS, k: int = BLOOM_K) -> DataFrame:
    """Bloom filter of a corpus's word ``n``-grams as a DataFrame of
    set bit positions: ≤ ``m_bits`` rows ``(i, bit)`` over ``k`` salted
    portable hashes.  Deterministic (no RNG) and replayable in SQL, so
    membership tests are oracle-checkable — unlike an opaque bitmap.

    The point at 100 TB: ``decontaminate`` broadcasts the eval
    shingle-hash set, whose size grows with the eval corpus; the Bloom
    form is CAPPED at m_bits·k rows no matter how big the reference
    set gets, with a known one-sided error (false POSITIVES only —
    flagged-clean docs never slip through, some clean docs are
    over-flagged; the conservative direction for decontamination).
    """
    grams = (df.select(F.explode(shingles(tokens(text_col), n)).alias("g"))
             .select(F.explode(F.array(*[
                 F.struct(F.lit(i).alias("i"),
                          (portable_hash(
                              F.concat(F.lit(f"bloom{i}:"), F.col("g")))
                           % m_bits).alias("bit"))
                 for i in range(k)])).alias("ib")))
    return grams.select("ib.i", "ib.bit").distinct()


def decontaminate_bloom(train: DataFrame, eval_df: DataFrame,
                        text_col: str, id_col: str, n: int = 8,
                        m_bits: int = BLOOM_BITS,
                        k: int = BLOOM_K) -> DataFrame:
    """Benchmark decontamination through a FIXED-SIZE Bloom filter:
    flag training docs having any word n-gram whose ``k`` bloom bits
    are all set by the eval corpus.  Supersets ``decontaminate``'s
    exact flags (never misses a true overlap; may over-flag at the
    filter's false-positive rate — (1−e^{−kn/m})^k, ≈1e-5 per distinct
    gram at the defaults for MB-scale eval sets).

    Scale ledger: the broadcast side is ≤ m_bits·k rows REGARDLESS of
    eval-corpus size.  The k bit probes of a gram stay in ONE row (no
    probe explode), tested by k successive broadcast left-joins — the
    train side is never shuffled before the final per-doc distinct,
    the same envelope as ``decontaminate``.
    """
    bits = bloom_bits(eval_df, text_col, n, m_bits, k)
    probes = (
        _widen(train.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col),
                F.explode(shingles(tokens(text_col), n)).alias("g"))
        .select(id_col, *[
            (portable_hash(F.concat(F.lit(f"bloom{i}:"), F.col("g")))
             % m_bits).alias(f"__b{i}")
            for i in range(k)]))
    member = None
    for i in range(k):
        bi = F.broadcast(
            bits.filter(F.col("i") == i)
                .select(F.col("bit").alias(f"__b{i}"),
                        F.lit(True).alias(f"__m{i}")))
        probes = probes.join(bi, f"__b{i}", "left")
        mi = F.col(f"__m{i}").isNotNull()
        member = mi if member is None else member & mi
    hits = (probes.filter(member)
            .select(id_col).distinct()
            .withColumn("contaminated", F.lit(True)))
    return (train.select(id_col).join(hits, id_col, "left")
            .select(id_col, F.coalesce("contaminated", F.lit(False))
                    .alias("contaminated")))


def weighted_keep(df: DataFrame, id_col: str, weight: Column,
                  salt: str = "wkeep") -> DataFrame:
    """Per-ROW weighted sampling: keep each row with probability
    ``min(1, weight)`` — soft quality filtering (keep probability
    proportional to a quality/importance score) as the generalization
    of ``stratified_sample``'s per-stratum rates.

    Deterministic: the decision is ``hash_bucket(id ∥ salt) <
    floor(weight·10000)`` — id-keyed, rerun-stable, shuffle-free (a
    pure Column filter on the scan).  ``floor`` is explicit on both
    engines: Spark's long-cast truncates but DuckDB's ROUNDS, so the
    oracle contract pins floor."""
    thr = F.floor(F.least(weight, F.lit(1.0)) * SPLIT_BUCKETS).cast("long")
    return df.filter(hash_bucket(id_col, salt=salt) < thr)


def surprisal_scores(df: DataFrame, id_col: str, text_col: str) -> DataFrame:
    """Unigram-LM surprisal quality scores, integer-exact.

    The CCNet/Gopher-style quality gate scores each document by its
    per-token negative log-likelihood under a language model trained on
    the corpus itself — rare-token-heavy gibberish scores high, common
    prose scores low.  This is the unigram version with the logs
    integerized: a token occurring ``c`` times in an ``N``-token corpus
    contributes ``floor(log2 N) − floor(log2 c)`` bits, and
    ``floor(log2 n) = length(bin(n)) − 1`` EXACTLY in integer
    arithmetic (both Spark and DuckDB ship ``bin``), so the score never
    touches libm and replays bit-for-bit in the oracle.  Emits
    ``(id, n_tokens, surprisal_bits)``; rank descending by
    ``surprisal_bits / n_tokens`` to find outliers.

    Reference analogue: none (SURVEY.md §2 — no document model);
    beyond-parity curation machinery.

    Scale ledger: the vocabulary frequency table
    aggregates straight off the exploded occurrences (map-side
    combine bounds its exchange by |vocab| per partition) and joins
    back by token — AQE broadcasts it when it fits, which a real
    vocabulary (~10⁷ rows) does.  The corpus total ``N`` is a 1-row
    aggregate joined by broadcast, never a driver collect.  Final
    groupBy(doc) partial-aggregates map-side, so its exchange carries
    ~|docs| rows.  The previous shape ALSO collapsed occurrences to a
    persisted distinct-(doc, token) frame before the join "to bound
    the exchange" — measured 3.91 s vs 1.11 s best-of-3 at sf0.1 for
    this shape: the (doc, token) exchange + cache materialization
    cost far more than it saved, because with the frequency side
    broadcast the occurrences never shuffle at all (guide §2.4 —
    remove shuffles outright, and §5 — a cache is only worth what its
    recompute costs).
    """
    toks = (
        _widen(df.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tokens(text_col)).alias("__tok"))
    )
    cnt = toks.groupBy("__tok").agg(F.count(F.lit(1)).alias("__c"))
    total = cnt.agg(F.sum("__c").alias("__n"))
    bits = (F.length(F.bin(F.col("__n"))) - F.length(F.bin(F.col("__c"))))
    return (
        toks.join(cnt, "__tok")
        .join(F.broadcast(total))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_tokens"),
             F.sum(bits).cast("long").alias("surprisal_bits"))
    )


def _nb_train(train: DataFrame, text_col: str, label_col: str,
              max_classes: int) -> tuple[DataFrame, dict]:
    """The NB training statistics both scoring shapes share: the
    persisted labeled ``(__cls, __tok, __c)`` table, plus a dict of the
    sorted ``classes``, ``vocab_v`` and the per-class integer
    ``prior``/``denom`` bits.

    NULL labels are filtered before any statistic.  The classes are
    the labels with ≥ 1 token row, and the prior's doc total counts
    only their docs.  ``vocab_v`` is the full trained vocabulary: it
    is part of the smoothing denominator, so a vocabulary cap applied
    afterwards drops token rows, not support.  Raises above
    ``max_classes`` distinct labels (the collect is limited to
    ``max_classes + 1`` rows) and on an empty table."""
    labeled = train.filter(F.col(label_col).isNotNull())
    occ_t = _persist(
        _widen(labeled.select(F.col(label_col).alias("__cls"),
                              F.col(text_col)))
        .select("__cls", F.explode(tokens(text_col)).alias("__tok"))
        .groupBy("__cls", "__tok")
        .agg(F.count(F.lit(1)).alias("__c"))
    )
    cls_rows = (occ_t.groupBy("__cls").agg(F.sum("__c").alias("__n"))
                .limit(max_classes + 1).collect())  # ≤ C+1 rows
    if len(cls_rows) > max_classes:
        raise ValueError(
            f"more than max_classes={max_classes} distinct labels — "
            "NB keeps one column set per class; raise the guard "
            "only if the label space is genuinely that wide")
    if not cls_rows:
        raise ValueError("training frame produced no (class, token) rows")
    n_tok = {r["__cls"]: int(r["__n"]) for r in cls_rows}
    classes = sorted(n_tok)
    vocab_v = occ_t.select("__tok").distinct().count()
    n_docs = {r["__cls"]: int(r["__nd"]) for r in
              labeled.groupBy(F.col(label_col).alias("__cls"))
              .agg(F.count(F.lit(1)).alias("__nd")).collect()
              if r["__cls"] in n_tok}
    total_docs = sum(n_docs.values())

    def flog2(n: int) -> int:
        return n.bit_length() - 1

    return occ_t, {
        "classes": classes,
        "vocab_v": vocab_v,
        "prior": {c: flog2(total_docs) - flog2(n_docs[c]) for c in classes},
        "denom": {c: flog2(n_tok[c] + vocab_v) for c in classes},
    }


def nb_classify(train: DataFrame, score: DataFrame, id_col: str,
                text_col: str, label_col: str,
                max_classes: int = 64) -> DataFrame:
    """Multinomial Naive Bayes text classifier, trained and applied
    distributed, integer-exact.

    The trainable-classifier step of a curation pipeline (fastText-
    style language ID, quality classification from a labeled seed
    set): learn per-class token statistics from ``train``'s
    ``label_col``, score every ``score`` document, predict the
    argmin-bits class.  Laplace(+1)-smoothed multinomial NB with the
    repo's integerized logs — a token with class count ``c`` costs
    ``floor(log2(N_c + V)) − floor(log2(c + 1))`` bits
    (``floor(log2 n) = length(bin(n)) − 1`` exactly, both engines),
    plus a class-prior term ``floor(log2 N_docs) − floor(log2 n_c)``
    — so scores never touch libm and replay bit-for-bit in the
    DuckDB oracle.  Ties break toward the lexicographically smallest
    class.  Returns ``(id_col, pred_label, best_bits)``; documents
    with no in-vocabulary tokens fall back to the prior argmin.

    Label hygiene: NULL-labeled train rows are unlabeled data, not a
    class — they are filtered before ANY statistic.  The candidate
    class set is exactly the labels that produced ≥ 1 (class, token)
    row, and the prior's ``N_docs`` counts only those classes' docs —
    a label whose train docs all tokenize empty contributes neither a
    candidate nor prior mass (it would otherwise score prior-only
    bits and win most argmins).  The oracle mirrors both rules.

    Reference analogue: none (SURVEY.md §2 — no document model);
    beyond-parity curation machinery beside the heuristic
    ``text.lang_guess`` (which this replaces when labels exist).

    Scale ledger: training is ONE exploded exchange over the train
    corpus collapsed map-side to ``(class, token, count)`` (vocab·C
    rows) + a label-only doc-count agg; class totals and the vocab
    size are C-row / 1-row actions (bounded: ``max_classes`` guard).
    The per-class count table is PIVOTED to one vocab-sized wide
    frame, so scoring joins the score corpus's collapsed ``(doc,
    token, count)`` occurrences against it ONCE (AQE broadcasts a
    real vocabulary) — per-class bits are column expressions over
    the wide row, never a C-way row explosion — then one
    groupBy(doc).  Nothing data-sized is collected.
    """
    occ_t, m = _nb_train(train, text_col, label_col, max_classes)
    classes, prior, denom = m["classes"], m["prior"], m["denom"]
    bad = [c for c in classes
           if c is None or c == id_col or c.startswith("__") or "`" in c]
    if bad:
        raise ValueError(
            f"class labels {bad!r} collide with the classifier's "
            f"internal/pivot column namespace (id column {id_col!r}, "
            "the __ prefix, backticks, NULL) — rename or filter them")

    wide = (occ_t.groupBy("__tok")
            .pivot("__cls", classes).agg(F.first("__c")))

    # As in surprisal_scores: score raw occurrences
    # against the broadcast pivot table instead of pre-collapsing to
    # distinct (doc, token) counts — the (doc, token) exchange cost
    # more than it bounded, and the final groupBy(doc) partial-
    # aggregates map-side either way.  Σ over occurrences ≡ Σ k·bits.
    occ = (
        _widen(score.select(F.col(id_col), F.col(text_col)))
        .select(F.col(id_col), F.explode(tokens(text_col))
                .alias("__tok"))
    )

    def bits(c: str):
        cc = F.coalesce(F.col(f"`{c}`"), F.lit(0)).cast("long")
        return (F.lit(denom[c])
                - (F.length(F.bin(cc + 1)) - 1))

    sums = (occ.join(wide, "__tok", "left")
            .groupBy(id_col)
            .agg(*[F.sum(bits(c)).cast("long").alias(f"__b{i}")
                   for i, c in enumerate(classes)]))
    totals = [
        (F.coalesce(F.col(f"__b{i}"), F.lit(0)) + F.lit(prior[c]))
        .cast("long")
        for i, c in enumerate(classes)]
    best = F.least(*[F.struct(t.alias("b"), F.lit(c).alias("c"))
                     for t, c in zip(totals, classes)]) \
        if len(classes) > 1 else F.struct(
            totals[0].alias("b"), F.lit(classes[0]).alias("c"))
    return (score.select(id_col).distinct()
            .join(sums, id_col, "left")
            .select(F.col(id_col),
                    best["c"].alias("pred_label"),
                    best["b"].alias("best_bits")))


def nb_model(train: DataFrame, text_col: str, label_col: str,
             max_classes: int = 64,
             max_vocab: int = 1_000_000) -> dict:
    """Train the NB classifier and COLLECT the model driver-side —
    the "train offline at corpus scale, freeze, score online" shape.

    ``nb_classify`` keeps the vocabulary distributed (the right call
    for batch scoring); a model that ships in a task closure is what
    streaming / row-local scoring needs.  The vocabulary is capped at
    the ``max_vocab`` highest-total-count tokens via a distributed
    TakeOrdered (ties to token ASC) — the same deterministic cap
    contract as ``bpe.word_type_counts``; dropped tail tokens score
    as out-of-vocabulary (count 0), a graceful degradation.  Raises
    if the class space exceeds ``max_classes``.

    Returns a plain dict (classes, vocab size, per-class totals,
    priors/denominators in integer bits, per-class token counts) —
    JSON-serializable, so a model can be persisted and versioned.
    Scoring with an UNCAPPED model is bit-identical to
    ``nb_classify`` (pytest-pinned), including the label-hygiene
    rules (NULL labels filtered; candidate classes and the prior's
    doc total restricted to labels with ≥ 1 token row).
    """
    occ_t, model = _nb_train(train, text_col, label_col, max_classes)
    tok_tot = (occ_t.groupBy("__tok").agg(F.sum("__c").alias("__t"))
               .orderBy(F.col("__t").desc(), F.col("__tok").asc())
               .limit(max_vocab))  # distributed TakeOrdered, never a sort
    kept = occ_t.join(tok_tot.select("__tok"), "__tok")
    counts: dict[str, dict[str, int]] = {}
    for r in kept.collect():  # ≤ max_vocab · C rows — bounded by the cap
        counts.setdefault(r["__cls"], {})[r["__tok"]] = int(r["__c"])
    model["counts"] = {c: counts.get(c, {}) for c in model["classes"]}
    return model


def nb_score_rows(df: DataFrame, model: dict, id_col: str,
                  text_col: str) -> DataFrame:
    """Score rows with a collected ``nb_model`` — ONE stateless
    ``mapInPandas`` pass (model in the task closure), so it applies
    unchanged to a Structured Streaming frame: train offline, score
    the unbounded ingest online (streamed == batch golden in
    test_curation.py).  Same tokenizer, same integer bits, same
    (bits ASC, class ASC) tie-break as ``nb_classify``; returns
    ``(id_col, pred_label, best_bits)``."""
    classes = model["classes"]
    prior, denom = model["prior"], model["denom"]
    counts = model["counts"]
    id_field = df.schema[id_col]
    out_schema = (f"{id_field.name} {id_field.dataType.simpleString()}, "
                  "pred_label string, best_bits long")
    cols = df.select(id_col, text_col)

    def gen(batches):
        import re

        import pandas as pd

        tok_re = re.compile("[^a-z0-9]+")
        fl = int.bit_length

        for pdf in batches:
            preds, bits_out = [], []
            for txt in pdf[text_col]:
                ws = [w for w in
                      tok_re.split(str(txt or "").lower()) if w]
                best = None
                for c in classes:
                    tc = counts[c]
                    b = prior[c]
                    dn = denom[c]
                    for w in ws:
                        b += dn - (fl(tc.get(w, 0) + 1) - 1)
                    if best is None or (b, c) < best:
                        best = (b, c)
                bits_out.append(best[0])
                preds.append(best[1])
            yield pd.DataFrame({id_col: pdf[id_col],
                                "pred_label": preds,
                                "best_bits": pd.Series(bits_out,
                                                       dtype="int64")})

    return cols.mapInPandas(gen, out_schema)


def nb_classify_sql(label_col: str = "lang",
                    train_pred: str = "doc_id % 2 = 0") -> str:
    """DuckDB replay of ``nb_classify(documents[train_pred],
    documents, 'doc_id', 'text', label_col)`` — same smoothed integer
    bits, same (bits ASC, class ASC) argmin, same label hygiene
    (NULL labels filtered; candidate classes and the prior's doc
    total restricted to labels present in the (class, token) stats —
    a token-less class must not become an oracle-only prior-only
    candidate)."""
    toks = ("list_filter(regexp_split_to_array(lower(text), "
            "'[^a-z0-9]+'), x -> x <> '')")
    return f"""
    WITH tr AS (SELECT doc_id, {label_col} AS cls, {toks} AS w
                FROM documents
                WHERE ({train_pred}) AND {label_col} IS NOT NULL),
    tc AS (
      SELECT cls, tok, COUNT(*)::BIGINT AS c
      FROM (SELECT cls, unnest(w) AS tok FROM tr) GROUP BY 1, 2),
    cstat AS (SELECT cls, SUM(c)::BIGINT AS n_tok FROM tc GROUP BY 1),
    v AS (SELECT COUNT(DISTINCT tok)::BIGINT AS v FROM tc),
    cdocs AS (SELECT tr.cls, COUNT(*)::BIGINT AS nd FROM tr
              JOIN (SELECT DISTINCT cls FROM cstat) cc
                ON tr.cls = cc.cls
              GROUP BY 1),
    tot AS (SELECT SUM(nd)::BIGINT AS ndocs FROM cdocs),
    occ AS (
      SELECT doc_id, tok, COUNT(*)::BIGINT AS k
      FROM (SELECT doc_id, unnest({toks}) AS tok FROM documents)
      GROUP BY 1, 2),
    cand AS (
      SELECT o.doc_id, cs.cls,
             SUM(o.k * ((length(bin(cs.n_tok + v.v)) - 1)
                        - (length(bin(COALESCE(tc.c, 0) + 1)) - 1)))
             ::BIGINT AS bits
      FROM occ o CROSS JOIN cstat cs CROSS JOIN v
      LEFT JOIN tc ON tc.cls = cs.cls AND tc.tok = o.tok
      GROUP BY 1, 2),
    prior AS (
      SELECT cd.cls,
             (length(bin(t.ndocs)) - 1) - (length(bin(cd.nd)) - 1) AS pb
      FROM cdocs cd CROSS JOIN tot t),
    scored AS (
      SELECT d.doc_id, p.cls,
             COALESCE(c.bits, 0) + p.pb AS bits
      FROM (SELECT DISTINCT doc_id FROM documents) d
      CROSS JOIN prior p
      LEFT JOIN cand c ON c.doc_id = d.doc_id AND c.cls = p.cls),
    ranked AS (
      SELECT doc_id, cls, bits,
             ROW_NUMBER() OVER (PARTITION BY doc_id
                                ORDER BY bits ASC, cls ASC) AS rn
      FROM scored)
    SELECT doc_id, cls AS pred_label, CAST(bits AS BIGINT) AS best_bits
    FROM ranked WHERE rn = 1
    """


def profile_columns(df: DataFrame, cols: list[str]) -> DataFrame:
    """One-pass per-column data-quality profile: for each named column
    emit ``(col_name, n_rows, n_null, n_distinct, max_len)`` — the
    ingest-validation summary a pipeline checks before committing a new
    corpus drop (distinct exact, null accounting exact, ``max_len`` on
    the string form).

    Reference analogue: none (SURVEY.md §2) — beyond-parity
    data-quality machinery.

    Scale shape: the columns are unpivoted to (col_name, value) rows —
    a |cols|× generate amplification BEFORE the first partial
    aggregate, which immediately collapses each task's output to its
    distinct (col, value) pairs, so the one data-sized exchange carries
    distinct values, never raw rows (the same map-side-dedup shape as
    the Q21 stacked-aggregate rewrite).  A second ≤|distinct|-row
    exchange on col_name finishes.  Running several COUNT(DISTINCT)s
    in one groupBy instead would compile to an Expand with NO partial
    dedup — |cols|× the raw rows through the shuffle.

    Values are compared in string form: exact for integers/strings;
    callers profile float columns at their own risk (engine float
    formatting differs).
    """
    n = len(cols)
    if n == 0:
        raise ValueError("need at least one column")
    exprs: list[Column] = []
    for c in cols:
        exprs += [F.lit(c), F.col(c).cast("string")]
    pairs = df.select(F.stack(F.lit(n), *exprs).alias("col_name", "__val"))
    lvl1 = (pairs.groupBy("col_name", "__val")
            .agg(F.count(F.lit(1)).alias("__cnt")))
    return (lvl1.groupBy("col_name").agg(
        F.sum("__cnt").cast("long").alias("n_rows"),
        F.coalesce(
            F.sum(F.when(F.col("__val").isNull(), F.col("__cnt"))),
            F.lit(0)).cast("long").alias("n_null"),
        F.count("__val").cast("long").alias("n_distinct"),
        F.max(F.length("__val")).cast("long").alias("max_len"),
    ))


def temperature_mix(df: DataFrame, strata_col: str, id_col: str,
                    scale: int = SPLIT_BUCKETS,
                    salt: str = "tempmix") -> DataFrame:
    """Temperature-sampled corpus rebalancing at α = 0.5: downsample
    each stratum to a keep fraction ``sqrt(n_min / n_s)`` so effective
    sizes follow ``n_s^0.5`` — the exponential-smoothing rebalance the
    multilingual-pretraining recipes apply so head languages/sources
    stop drowning the tail (public technique: the XLM/mBERT α-smoothed
    sampling, here materialized as a deterministic row filter).

    α is fixed at 1/2 deliberately: ``pow()`` is libm (last-ulp drift
    across engines flips rows at the threshold), but IEEE-754 ``sqrt``
    is CORRECTLY ROUNDED everywhere, so ``floor(scale · sqrt(n_min /
    n_s))`` is bit-identical in Spark and DuckDB and every keep/drop
    decision replays exactly.  The keep rule is the usual salted hash
    bucket (< threshold), so re-runs and corpus growth keep existing
    decisions stable per id.

    Scale ledger: one strata-sized aggregate (map-side combined), a
    1-row min cross-joined onto the strata frame (scalar-subquery
    shape, strata-sized), and the threshold table broadcast back onto
    the corpus — the corpus itself is never shuffled.
    """
    sizes = df.groupBy(strata_col).agg(F.count(F.lit(1)).alias("__n"))
    ref = sizes.agg(F.min("__n").alias("__nmin"))
    thr = (sizes.join(F.broadcast(ref))
           .select(F.col(strata_col).alias("__stratum"),
                   F.floor(F.lit(scale) * F.sqrt(
                       F.col("__nmin").cast("double") / F.col("__n")))
                   .alias("__thr")))
    # eqNullSafe, not an equi-join: groupBy counts NULL as a stratum,
    # so the threshold join must match it too — a plain join would
    # silently DELETE every NULL-stratum row instead of sampling it
    return (df.join(F.broadcast(thr),
                    F.col(strata_col).eqNullSafe(F.col("__stratum")))
            .filter(hash_bucket(id_col, scale, salt) < F.col("__thr"))
            .drop("__stratum", "__thr"))


def cluster_safe_split(df: DataFrame, id_col: str, pairs: DataFrame,
                       fractions: dict[str, float],
                       salt: str = "split") -> DataFrame:
    """Leakage-safe train/val/test split: every near-dup CLUSTER is
    assigned whole, so no near-duplicate of a training document can
    land in val/test (the contamination mode a plain id-keyed split
    cannot prevent — MinHash-verified near-dups straddling the
    boundary leak training text into evaluation).

    ``pairs`` is any (id_a, id_b) near-dup edge set (LSH candidates,
    verified Jaccard pairs, SimHash pairs); components are labeled
    with their min id and the split decision hashes the CLUSTER id,
    not the row id.  Emits ``(id, cluster, split)`` for every row.

    Scale ledger: connected components over the pair set (bounded by
    near-dup edges, not corpus size) + one corpus-sized left join on
    id; the split itself stays a pure Column expression.  Reference
    analogue: none (SURVEY.md §2) — beyond-parity curation.
    """
    from kafkadirect_spark.functions.dedup import dedup_cluster_assign

    labeled = dedup_cluster_assign(df, pairs, id_col)
    return split_assign(labeled, "cluster", fractions, salt=salt) \
        .select(id_col, "cluster", "split")


def bigram_surprisal_scores(df: DataFrame, id_col: str, text_col: str,
                            lm_df: DataFrame | None = None,
                            backoff_bits: int = 4) -> DataFrame:
    """Bigram-LM surprisal with unigram backoff, integer-exact.

    Extends :func:`surprisal_scores` to first-order context: each
    bigram (w1, w2) in a document contributes its conditional bits
    ``floor(log2 c1) − floor(log2 c2)`` where ``c2`` is the corpus
    count of the bigram and ``c1`` the count of bigrams starting with
    ``w1``.  Bigrams unseen in the LM corpus back off to the unigram
    bits of ``w2`` (``floor(log2 N) − floor(log2 c)``; unseen unigrams
    count as c = 1) plus a fixed ``backoff_bits`` penalty — the
    integerized stupid-backoff (Brants et al. 2007, α = 2^-penalty).
    As with the unigram scorer, ``floor(log2 n) = length(bin(n)) − 1``
    keeps everything in BIGINT; no libm, bit-exact cross-engine.

    ``lm_df`` is the corpus the LM is counted from (default: ``df``
    itself).  Held-out scoring — train the LM on one slice, score
    everything — is how the backoff path is actually exercised; when
    ``lm_df is df`` every scored bigram is by construction seen.

    Emits ``(id, n_bigrams, surprisal_bits)``; documents with < 2
    tokens have no bigrams and are absent (left-join + coalesce on the
    caller side if zero rows are needed).

    Scale ledger: the LM bigram table aggregates to
    ≤ |observed bigrams| rows and joins back by (w1, w2) against the
    RAW per-occurrence bigrams — a plain hash join, AQE-broadcast
    when it fits; prefix counts derive from the bigram table (one
    more vocabulary-sized aggregate, no second corpus pass); the
    unigram backoff table is an ordinary vocabulary-sized join (AQE
    broadcasts it when it fits; a 100 TB corpus's ~10^7-row
    vocabulary may not) and the 1-row total is broadcast.  Final
    groupBy(doc) partial-aggregates map-side (~|docs| exchange rows).
    The previous shape first collapsed occurrences to a distinct
    (doc, w1, w2) count frame "to bound the exchange" — same
    measured loss as the unigram scorer's old shape (see
    surprisal_scores): with the LM side broadcast the occurrences
    never shuffle, so that exchange was pure overhead.  Reference
    analogue: none (SURVEY.md §2 — no document model).
    """
    def _bigrams(frame: DataFrame) -> DataFrame:
        from kafkadirect_spark.functions.text import bigram_structs
        return (_widen(frame.select(F.col(id_col), F.col(text_col)))
                .withColumn("__w", tokens(text_col))
                .select(F.col(id_col),
                        F.explode(bigram_structs("__w")).alias("__b"))
                .select(id_col, "__b.w1", "__b.w2"))

    doc_bi = _bigrams(df)
    lm_src = _bigrams(lm_df if lm_df is not None else df)
    lm2 = _persist(lm_src.groupBy("w1", "w2")
                   .agg(F.count(F.lit(1)).alias("__c2")))
    lm1 = lm2.groupBy("w1").agg(F.sum("__c2").alias("__c1"))
    lm_frame = lm_df if lm_df is not None else df
    uni = (_widen(lm_frame.select(F.col(text_col)))
           .select(F.explode(tokens(text_col)).alias("__u"))
           .groupBy("__u").agg(F.count(F.lit(1)).alias("__c")))
    uni = _persist(uni)
    tot = uni.agg(F.sum("__c").alias("__n"))

    blog = lambda c: F.length(F.bin(c))  # noqa: E731  floor(log2)+1, exact
    bits = F.when(
        F.col("__c2").isNotNull(), blog(F.col("__c1")) - blog(F.col("__c2"))
    ).otherwise(
        blog(F.col("__n")) - blog(F.coalesce(F.col("__c"), F.lit(1)))
        + F.lit(backoff_bits))
    return (
        doc_bi
        .join(lm2, ["w1", "w2"], "left")
        .join(lm1, "w1", "left")
        .join(uni.withColumnRenamed("__u", "w2"), "w2", "left")
        .join(F.broadcast(tot))
        .groupBy(id_col)
        .agg(F.count(F.lit(1)).cast("long").alias("n_bigrams"),
             F.sum(bits).cast("long").alias("surprisal_bits"))
    )


# Gopher quality-rule thresholds (Rae et al. 2021 §A1.1, public), in
# exact integer form: fractions as parts-per-million, mean word length
# ×100.  One place so the oracle SQL and any caller share the numbers.
GOPHER_RULES = {
    "min_words": 50,
    "max_words": 100_000,
    "min_mean_word_len_x100": 300,
    "max_mean_word_len_x100": 1_000,
    "max_dup_2gram_ppm": 200_000,
    "max_dup_3gram_ppm": 180_000,
    "max_top_2gram_ppm": 200_000,
    "min_alpha_word_ppm": 800_000,
    "min_stopword_hits": 2,
}


def gopher_quality(df: DataFrame, id_col: str, text_col: str,
                   rules: dict[str, int] = GOPHER_RULES) -> DataFrame:
    """Gopher-style repetition/quality rules, integer-exact.

    The composite document filter of the Gopher pipeline (Rae et al.
    2021 §A1.1, public): word-count bounds, mean-word-length bounds,
    duplicate-2/3-gram fraction caps, top-2-gram coverage cap, minimum
    alphabetic-word fraction, minimum distinct-stopword hits.  All
    signals are BIGINT — fractions as parts-per-million via exact
    integer division, mean word length ×100 — so every pass/fail
    decision replays bit-for-bit in the oracle; no float thresholds.
    Emits one row per document: every signal plus ``pass_gopher``.

    Scale ledger: the word-level signals are pure Column expressions
    on the scan (zero exchanges); the n-gram repetition signals
    explode to (doc, gram) and aggregate twice — count-per-gram with
    map-side combine, then per-doc max/sum/count — instead of a
    row-local O(|doc|²) array scan, so a 10k-token document costs 10k
    exploded rows, not 10^8 comparisons.  Both aggregates partition
    on doc-dominated keys: skew-free.  Reference analogue: none
    (SURVEY.md §2) — beyond-parity curation.
    """
    from kafkadirect_spark.functions.text import STOPWORDS

    def idiv(num: Column, den: Column) -> Column:
        # exact BIGINT floor division for non-negative operands:
        # (num - num % den) is exactly divisible, quotients here are
        # ≤ 1e6 and numerators ≤ ~1e11 — both far inside 2^53, so the
        # double division is exact; result cast back to long.
        return F.when(den > 0, ((num - num % den) / den).cast("long")) \
            .otherwise(F.lit(0).cast("long"))

    def gram_stats(n: int, pfx: str) -> DataFrame:
        g = (_widen(df.select(F.col(id_col), F.col(text_col)))
             .select(F.col(id_col),
                     F.explode(shingles(tokens(text_col), n)).alias("__g"))
             .groupBy(id_col, "__g")
             .agg(F.count(F.lit(1)).alias("__k")))
        return g.groupBy(id_col).agg(
            F.sum("__k").cast("long").alias(f"__{pfx}_total"),
            F.count(F.lit(1)).cast("long").alias(f"__{pfx}_distinct"),
            F.max("__k").cast("long").alias(f"__{pfx}_max"))

    toks = tokens(text_col)
    # The 3-gram branch needs only total+distinct — both are
    # row-local native array ops (size / array_distinct, codegen'd,
    # NOT lambda HOFs), so its explode + two exchanges are gone.  The
    # 2-gram branch keeps the exploded aggregate because top_2gram_ppm
    # needs the max gram multiplicity, which has no cheap row-local
    # form (a sorted-adjacency fold is an interpreted lambda per gram
    # — the basket_pairs lesson).
    g3 = shingles(toks, 3)
    base = df.select(
        F.col(id_col),
        F.size(toks).cast("long").alias("n_words"),
        F.aggregate(F.transform(toks, F.length),
                    F.lit(0).cast("long"),
                    lambda a, x: a + x).alias("__sum_len"),
        F.size(F.filter(toks, lambda x: x.rlike("[a-z]")))
        .cast("long").alias("__n_alpha"),
        F.size(F.array_intersect(
            toks, F.array(*[F.lit(w) for w in STOPWORDS])))
        .cast("long").alias("stopword_hits"),
        F.greatest(F.size(g3), F.lit(0)).cast("long")
        .alias("__g3_total"),
        F.greatest(F.size(F.array_distinct(g3)), F.lit(0)).cast("long")
        .alias("__g3_distinct"),
    )
    out = (base
           .join(gram_stats(2, "g2"), id_col, "left")
           .na.fill(0))

    m = F.lit(1_000_000)
    out = (out
           .withColumn("mean_word_len_x100",
                       idiv(F.lit(100) * F.col("__sum_len"),
                            F.col("n_words")))
           .withColumn("dup_2gram_ppm",
                       idiv(m * (F.col("__g2_total") - F.col("__g2_distinct")),
                            F.col("__g2_total")))
           .withColumn("dup_3gram_ppm",
                       idiv(m * (F.col("__g3_total") - F.col("__g3_distinct")),
                            F.col("__g3_total")))
           .withColumn("top_2gram_ppm",
                       idiv(m * F.col("__g2_max"), F.col("__g2_total")))
           .withColumn("alpha_word_ppm",
                       idiv(m * F.col("__n_alpha"), F.col("n_words"))))

    r = rules
    passed = (
        (F.col("n_words") >= r["min_words"])
        & (F.col("n_words") <= r["max_words"])
        & (F.col("mean_word_len_x100") >= r["min_mean_word_len_x100"])
        & (F.col("mean_word_len_x100") <= r["max_mean_word_len_x100"])
        & (F.col("dup_2gram_ppm") <= r["max_dup_2gram_ppm"])
        & (F.col("dup_3gram_ppm") <= r["max_dup_3gram_ppm"])
        & (F.col("top_2gram_ppm") <= r["max_top_2gram_ppm"])
        & (F.col("alpha_word_ppm") >= r["min_alpha_word_ppm"])
        & (F.col("stopword_hits") >= r["min_stopword_hits"])
    )
    return out.select(
        id_col, "n_words", "mean_word_len_x100", "dup_2gram_ppm",
        "dup_3gram_ppm", "top_2gram_ppm", "alpha_word_ppm",
        "stopword_hits", passed.alias("pass_gopher"))


def select_token_budget(df: DataFrame, id_col: str, tokens_col: Column | str,
                        budget: int, seed: str = "budget",
                        shards: int = 1024) -> DataFrame:
    """Exact token-budget selection: the maximal prefix of the corpus
    in deterministic salted-hash order whose cumulative token count
    stays ≤ ``budget`` — "give me 500B tokens of this corpus" as a
    reproducible row filter instead of a rate guess.  Because token
    counts are non-negative the prefix property is exact: every kept
    row's cumulative sum fits, every dropped row's would not.  Stable
    under re-runs and executor counts (no RNG, no zipWithIndex);
    changing ``seed`` redraws the ordering.

    Returns ``(id, n_tokens, cum_tokens)`` for the selected rows —
    ``cum_tokens`` is the row's inclusive running total in the global
    order, so callers (and the oracle) can verify the prefix bound.

    Distributed exact global prefix sum, no single-reducer sort: rows
    hash into ``shards`` uniform shards; per-shard token sums (≤
    ``shards`` rows, bounded by construction) become exclusive offsets
    via a tiny window and broadcast back; each shard then runs a local
    cumulative-sum window.  The induced total order is (shard, hash,
    id) — exactly ``SUM(t) OVER (ORDER BY shard, h, id)``, which the
    DuckDB oracle replays.  Same ledger as shuffle_positions: one
    data-sized exchange (the shard window), one bounded aggregate.
    """
    from pyspark.sql import Window

    if budget < 0:
        raise ValueError("budget must be >= 0")
    t = (F.col(tokens_col) if isinstance(tokens_col, str)
         else tokens_col).cast("long")
    h = hash_bucket(F.concat(F.lit(seed), F.col(id_col).cast("string")),
                    n_buckets=HASH_P)
    rows = df.select(F.col(id_col), t.alias("__t"), h.alias("__h"),
                     (h % shards).alias("__shard"))
    sums = rows.groupBy("__shard").agg(F.sum("__t").alias("__n"))
    off = sums.withColumn(
        "__off",
        F.coalesce(
            F.sum("__n").over(
                Window.orderBy("__shard")
                .rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)))
    w = (Window.partitionBy("__shard")
         .orderBy(F.col("__h").asc(), F.col(id_col).asc())
         .rowsBetween(Window.unboundedPreceding, Window.currentRow))
    return (rows
            .join(F.broadcast(off.select("__shard", "__off")), "__shard")
            .withColumn("cum_tokens",
                        (F.col("__off") + F.sum("__t").over(w))
                        .cast("long"))
            .filter(F.col("cum_tokens") <= budget)
            .select(id_col, F.col("__t").alias("n_tokens"), "cum_tokens"))


FINGERPRINT_MOD = (1 << 61) - 1  # Mersenne; keeps the folded sum in BIGINT


def partition_fingerprint(df: DataFrame, cols: list[str],
                          by: list[str] | None = None) -> DataFrame:
    """Order-independent content fingerprint per partition — the data-
    versioning primitive: re-run it after an ingest and any partition
    whose ``(n_rows, fingerprint)`` changed has different CONTENT
    (row order, file layout, and task scheduling cannot move it).

    Each row contributes ``portable_hash(c1 ∥ 0x1f ∥ c2 ∥ …)`` with an
    explicit null marker (so NULL ≠ '' ≠ 'null'); row hashes are
    summed exactly in decimal(38,0) — commutative, so partial sums
    from any partitioning merge — and folded mod 2^61−1 into a
    BIGINT.  Emits ``(*by, n_rows, fingerprint)``; one global row when
    ``by`` is empty.

    Scale ledger: one scan, one map-side-combined aggregate whose
    exchange carries a partial (sum, count) per group per task —
    register-sized, never data-sized.  Collision note: 2^-61 per
    pair under the md5-prefix hash — fine for change DETECTION, not
    an integrity proof.  Reference analogue: none (SURVEY.md §2);
    beyond-parity pipeline operations.
    """
    if not cols:
        raise ValueError("need at least one column to fingerprint")
    by = list(by or [])
    marked = [F.coalesce(F.col(c).cast("string"), F.lit("\x00null"))
              for c in cols]
    row_h = portable_hash(F.concat_ws("\x1f", *marked))
    agg = (df.groupBy(*by) if by else df.groupBy())
    return (agg.agg(
        F.count(F.lit(1)).cast("long").alias("n_rows"),
        F.sum(row_h.cast("decimal(38,0)")).alias("__s"))
        .select(*by, "n_rows",
                (F.col("__s") % FINGERPRINT_MOD)
                .cast("long").alias("fingerprint")))


def fingerprint_diff(old: DataFrame, new: DataFrame,
                     by: list[str],
                     include_unchanged: bool = False) -> DataFrame:
    """Compare two ``partition_fingerprint`` snapshots — the
    incremental-ingest detector: which partitions were ``added``,
    ``removed``, or ``changed`` between two pipeline runs (and so
    which downstream increments must recompute).  ``unchanged``
    partitions are dropped unless ``include_unchanged``.

    Pure composition over two register-sized frames (one row per
    partition each): an eqNullSafe full-outer join on the partition
    keys — NULL is a real partition value and must match itself, the
    same trap ``temperature_mix`` hit — then a status case.  Output:
    ``(*by, status, n_rows_old, n_rows_new, fingerprint_old,
    fingerprint_new)``.

    Reference analogue: none (SURVEY.md §2); beyond-parity
    data-versioning beside ``partition_fingerprint``.
    """
    if not by:
        raise ValueError("need at least one partition key column")
    o = old.select(
        *[F.col(c).alias(f"__o_{c}") for c in by],
        F.col("n_rows").alias("n_rows_old"),
        F.col("fingerprint").alias("fingerprint_old"))
    n = new.select(
        *[F.col(c).alias(f"__n_{c}") for c in by],
        F.col("n_rows").alias("n_rows_new"),
        F.col("fingerprint").alias("fingerprint_new"))
    cond = F.lit(True)
    for c in by:
        cond = cond & F.col(f"__o_{c}").eqNullSafe(F.col(f"__n_{c}"))
    status = (F.when(F.col("n_rows_old").isNull(), F.lit("added"))
              .when(F.col("n_rows_new").isNull(), F.lit("removed"))
              .when((F.col("n_rows_old") != F.col("n_rows_new"))
                    | (F.col("fingerprint_old")
                       != F.col("fingerprint_new")),
                    F.lit("changed"))
              .otherwise(F.lit("unchanged")))
    out = (o.join(n, cond, "full_outer")
           .select(*[F.coalesce(F.col(f"__o_{c}"),
                                F.col(f"__n_{c}")).alias(c)
                     for c in by],
                   status.alias("status"),
                   "n_rows_old", "n_rows_new",
                   "fingerprint_old", "fingerprint_new"))
    if not include_unchanged:
        out = out.filter(F.col("status") != "unchanged")
    return out


def collocations(df: DataFrame, id_col: str, text_col: str,
                 min_count: int = 5, k: int = 20,
                 scale: int = 1_000_000) -> DataFrame:
    """Top-``k`` collocations (bigrams whose words co-occur far more
    than chance) by the exact integer PMI ratio ``score = scale · c₂ ·
    N DIV (c_a · c_b)`` — the corpus-analysis primitive behind
    tokenizer-vocabulary merges and phrase mining.  The classic PMI is
    ``log`` of that ratio; dropping the log preserves the ranking
    exactly (log is monotone) while keeping every value integral, so
    the result is hash-exact cross-engine (the repo's linear-idf
    argument, ``term_relevance``).  ``min_count`` suppresses the
    rare-pair degeneracy PMI is known for (a hapax pair scores N).

    Emits ``(w1, w2, pair_count, score)``, score-descending top-k
    (ties broken by (w1, w2) ascending).

    Scale ledger: one corpus scan explodes to bigrams, collapsed by
    map-side combine to the distinct-bigram table; unigram counts
    derive from the bigram table's two marginals (no second scan —
    summing both slots counts every word occurrence except the two
    ends of each document, the standard bigram-marginal estimator,
    applied identically in the oracle); the 1-row N broadcasts; the
    final top-k is a TakeOrdered over the bigram table, never a
    global sort of the corpus.  The multiply runs in decimal(38,0) —
    c₂·N·scale overflows int64 at web scale.
    """
    from kafkadirect_spark.functions.text import bigram_structs
    pairs = (_widen(df.select(F.col(id_col), F.col(text_col)))
             .withColumn("__w", tokens(text_col))
             .select(F.explode(bigram_structs("__w")).alias("__b"))
             .select("__b.w1", "__b.w2")
             .groupBy("w1", "w2")
             .agg(F.count(F.lit(1)).alias("pair_count")))
    pairs = _persist(pairs)
    ua = pairs.groupBy("w1").agg(F.sum("pair_count").alias("__ca"))
    ub = pairs.groupBy("w2").agg(F.sum("pair_count").alias("__cb"))
    tot = pairs.agg(F.sum("pair_count").alias("__n"))
    d = lambda c: c.cast("decimal(38,0)")  # noqa: E731
    # `div` (integral division), NOT `/`+floor: Spark decimal `/`
    # HALF_UP-rounds to scale 6 BEFORE the floor, so a quotient with
    # fractional part ≥ .9999995 floors one too high — diverging from
    # the oracle's exact HUGEINT `//` (decimal `div` is exact
    # integral division in both engines)
    return (pairs.filter(F.col("pair_count") >= min_count)
            .join(ua, "w1").join(ub, "w2")
            .join(F.broadcast(tot))
            .withColumn("__num", d(F.lit(scale) * F.col("pair_count"))
                        * d(F.col("__n")))
            .withColumn("__den", d(F.col("__ca")) * d(F.col("__cb")))
            .select("w1", "w2",
                    F.col("pair_count").cast("long").alias("pair_count"),
                    F.expr("__num div __den").cast("long").alias("score"))
            .orderBy(F.col("score").desc(), F.col("w1").asc(),
                     F.col("w2").asc())
            .limit(k))


def pack_sequences_bestfit(df: DataFrame, id_col: str, tokens_col: str,
                           budget: int, n_shards: int = 64,
                           salt: str = "shard") -> DataFrame:
    """Best-fit-decreasing token packing — the utilization upgrade
    over :func:`pack_sequences`' greedy order-walk: docs within a
    shard are sorted by token count DESCENDING and each placed into
    the fullest open sequence it still fits (classic BFD, ≤ 11/9·OPT
    + 1 bins); a doc longer than the budget gets a sequence of its
    own.  Unlike :func:`pack_sequences` (which SPLITS a boundary-
    straddling doc across sequences — a different training contract),
    every doc here lands whole in one sequence; the pytest pins BFD's
    sequence count between the theoretical lower bound
    ⌈tokens/budget⌉ and the whole-doc sequential fill it improves on.

    Deterministic: shard assignment is the salted hash, placement
    order is (n_tokens DESC, id ASC), and the fit rule is exact
    integer arithmetic — re-runs reproduce byte-identical packings.

    Scale ledger: one hash Exchange (the same shard shuffle as the
    greedy packer), then each shard packs independently inside one
    ``applyInPandas`` call — bin packing is inherently sequential,
    so the sequential region is bounded to a shard (= corpus /
    n_shards; the knob trades utilization against parallelism).  No
    global sort, no driver state.  Returns
    ``(id, shard, seq_id, n_tokens)``.
    """
    import pandas as pd

    if budget <= 0:
        raise ValueError("budget must be > 0")
    shard = hash_bucket(id_col, n_buckets=n_shards, salt=salt)
    rows = (df.select(F.col(id_col), F.col(tokens_col).cast("long")
                      .alias("n_tokens"))
            .withColumn("shard", shard))
    id_type = dict(rows.dtypes)[id_col]

    def pack(pdf: pd.DataFrame) -> pd.DataFrame:
        pdf = pdf.sort_values(["n_tokens", id_col],
                              ascending=[False, True])
        # open sequences: seq_id -> remaining budget; best-fit scans
        # for the smallest remaining that still fits (ties: lowest id)
        remaining: dict[int, int] = {}
        out = []
        for rid, n in zip(pdf[id_col], pdf["n_tokens"]):
            n = int(n)
            best_seq, best_rem = None, None
            if n <= budget:
                for s, rem in remaining.items():
                    if n <= rem and (best_rem is None or rem < best_rem
                                     or (rem == best_rem and s < best_seq)):
                        best_seq, best_rem = s, rem
            if best_seq is None:
                best_seq = len(remaining)
                remaining[best_seq] = max(budget - n, 0)
            else:
                remaining[best_seq] -= n
            out.append((rid, best_seq, n))
        return pd.DataFrame(
            {id_col: [r[0] for r in out],
             "shard": pdf["shard"].iloc[0] if len(pdf) else 0,
             "seq_id": [r[1] for r in out],
             "n_tokens": [r[2] for r in out]})

    return rows.groupBy("shard").applyInPandas(
        pack, schema=(f"{id_col} {id_type}, shard long, "
                      "seq_id long, n_tokens long"))


# ---------------------------------------------------------------------------
# Vocabulary coverage curve — the dataset-card question
# "what fraction of corpus tokens does a size-k vocabulary cover?",
# answered WITHOUT ranking the vocabulary: ties at the k-th rank all
# carry the same count, so the top-k token sum is an exact function
# of the count-of-counts table (full levels above the boundary plus
# (k − words_above)·boundary_count) — no per-word row_number, no
# global sort, no tie-break needed.
# ---------------------------------------------------------------------------


def vocab_coverage(df: DataFrame, text_col: str,
                   ks: tuple[int, ...] = (100, 1000, 10000)) -> DataFrame:
    """``(k, covered_tokens, total_tokens, vocab_words,
    coverage_milli)`` — for each requested vocabulary size ``k``, the
    exact number of corpus token occurrences covered by the ``k``
    most frequent words (count DESC; the tie order is provably
    irrelevant: tied words contribute the same count, so any k-prefix
    of a tie group sums identically).  ``coverage_milli`` is the
    truncating parts-per-thousand share; ``k`` beyond the vocabulary
    clamps to full coverage.  Empty corpus emits no rows.

    Scale ledger: ONE map-side-combined word-count exchange (the
    vocabulary aggregate every tokenizer pass already pays), then a
    count-of-counts aggregate whose size is the number of DISTINCT
    count values — O(√total_tokens) under any Zipf-ish law, orders of
    magnitude below the vocabulary itself — and the cumulative walk
    is a single-partition window over that bounded frame.  The
    requested ``ks`` ride along as a literal array filtered per level
    row (row-local; no join, no BroadcastNestedLoopJoin).

    Reference analogue: none (SURVEY.md §2 — no document model);
    beyond-parity dataset-card machinery beside ``corpus_stats``.
    """
    from pyspark.sql import Window

    if not ks:
        raise ValueError("ks must be non-empty")
    if any(k < 1 for k in ks):
        raise ValueError("every k must be >= 1")
    if len(set(ks)) != len(ks):
        raise ValueError("ks must be distinct")
    vocab = (df.select(F.explode(tokens(text_col)).alias("__w"))
             .groupBy("__w").agg(F.count(F.lit(1)).alias("__n")))
    lev = (vocab.groupBy("__n")
           .agg(F.count(F.lit(1)).alias("__words"))
           .select("__n", "__words",
                   (F.col("__n") * F.col("__words")).alias("__toks")))
    # cumulative walk over the bounded count-of-counts frame; __n is
    # the group key, so the n-descending order is unambiguous
    w = Window.orderBy(F.col("__n").desc()) \
        .rowsBetween(Window.unboundedPreceding, Window.currentRow)
    full = Window.orderBy(F.lit(1)) \
        .rowsBetween(Window.unboundedPreceding, Window.unboundedFollowing)
    lev = lev.select(
        "__n", "__words", "__toks",
        F.sum("__words").over(w).alias("__cw"),
        F.sum("__toks").over(w).alias("__ct"),
        F.sum("__words").over(full).alias("__vocab"),
        F.sum("__toks").over(full).alias("__total"))
    ks_arr = F.array(*[F.lit(int(k)).cast("long") for k in sorted(ks)])
    # a level row answers every k whose CLAMPED value lands in its
    # span (cw - words, cw]; k beyond the vocabulary clamps to the
    # last level and reports full coverage
    hit = F.filter(
        ks_arr,
        lambda k: (F.least(k, F.col("__vocab")) > F.col("__cw")
                   - F.col("__words"))
        & (F.least(k, F.col("__vocab")) <= F.col("__cw")))
    out = (lev.select("__n", "__words", "__toks", "__cw", "__ct",
                      "__vocab", "__total", F.explode(hit).alias("k"))
           .select(
               "k",
               (F.col("__ct") - F.col("__toks")
                + (F.least(F.col("k"), F.col("__vocab"))
                   - (F.col("__cw") - F.col("__words")))
                * F.col("__n")).cast("long").alias("covered_tokens"),
               F.col("__total").cast("long").alias("total_tokens"),
               F.col("__vocab").cast("long").alias("vocab_words"),
           ))
    return out.withColumn(
        "coverage_milli",
        F.expr("CAST(1000 * covered_tokens DIV total_tokens AS LONG)"))


def vocab_coverage_oracle_sql(ks: tuple[int, ...] = (100, 1000, 10000),
                              table: str = "documents",
                              text_col: str = "text") -> str:
    """DuckDB replay of ``vocab_coverage`` — deliberately the NAIVE
    formulation (rank every word, sum the top k) so the engine's
    count-of-counts shortcut is verified against first principles,
    including the tie-irrelevance argument."""
    tok = (f"list_filter(regexp_split_to_array(lower({text_col}), "
           "'[^a-z0-9]+'), x -> x <> '')")
    arms = "\n    UNION ALL ".join(
        f"SELECT {int(k)}::BIGINT AS k,"
        f" (SELECT COALESCE(SUM(n), 0)::BIGINT FROM ranked"
        f"  WHERE rn <= {int(k)}) AS covered_tokens,"
        f" t.total_tokens, t.vocab_words FROM tot t"
        for k in sorted(ks))
    return f"""
    WITH vocab AS (
      SELECT w, COUNT(*)::BIGINT AS n
      FROM (SELECT unnest({tok}) AS w FROM {table})
      GROUP BY 1),
    ranked AS (
      SELECT n, ROW_NUMBER() OVER (ORDER BY n DESC, w ASC) AS rn
      FROM vocab),
    tot AS (
      SELECT SUM(n)::BIGINT AS total_tokens,
             COUNT(*)::BIGINT AS vocab_words
      FROM vocab)
    SELECT k, covered_tokens, total_tokens, vocab_words,
           (1000 * covered_tokens // total_tokens)::BIGINT
             AS coverage_milli
    FROM ({arms})
    """


# ---------------------------------------------------------------------------
# Weighted sampling — the consumer importance_weights was
# missing: draw a fixed number of weighted samples (data mixing by
# quality score / token count / DSIR weight) deterministically, with
# integer-exact systematic sampling instead of float Gumbel keys, so
# the draw replays bit-for-bit in any engine.
# ---------------------------------------------------------------------------


def sample_weighted_n(df: DataFrame, id_col: str, weight_col: str,
                      n: int, seed: str = "wsample",
                      shards: int = 1024) -> DataFrame:
    """Exactly-``n`` weighted draws, deterministic under re-runs,
    data layout and executor counts: systematic sampling over the
    salted-hash total order.  Rows lay their integer weights end to
    end on a line of total length ``W`` (order = the
    ``shuffle_positions`` total order: (shard, hash, id) — a fixed
    pseudo-random permutation, so adjacent intervals are unrelated
    rows); draw ``k`` (k = 0..n−1) lands at the k-th of ``n`` evenly
    spaced points, and a row is emitted with ``picks`` = the number
    of points inside its interval:

        picks = ceil((cw+w)·n / W) − ceil(cw·n / W)

    (``cw`` = exclusive prefix weight; all integer — the products run
    in DECIMAL(38,0)/HUGEINT).  Σ picks = n EXACTLY; a row heavier
    than W/n can draw more than once (``picks`` > 1 — the
    with-replacement multiplicity systematic sampling gives
    overweight rows); zero-weight rows never draw; negative weights
    raise at execution.  Returns ``(id_col, weight, picks)`` for rows
    with picks ≥ 1.  Changing ``seed`` redraws.

    Scale shape (the shuffle_positions recipe): rows hash into
    ``shards`` uniform shards; per-shard prefix sums use a window
    PARTITIONED on the shard (no single-reducer global sort); shard
    totals (≤ ``shards`` rows, bounded by construction) become
    exclusive offsets + the grand total via a tiny window, broadcast
    back.  One exchange on the shard key, one bounded broadcast —
    nothing data-sized moves unshuffled.

    Reference analogue: none (SURVEY.md §2); beyond-parity curation
    machinery beside ``sample_exact_n`` (uniform) and
    ``importance_weights`` (whose scores are this operator's natural
    weight column).
    """
    return _sample_weighted(df, [], id_col, weight_col, n, seed, shards)


def sample_weighted_oracle_sql(n: int, weight_sql: str,
                               seed: str = "wsample",
                               shards: int = 1024,
                               table: str = "documents",
                               id_col: str = "doc_id") -> str:
    """DuckDB replay of ``sample_weighted_n`` — the same salted hash,
    (shard, hash, id) total order, exclusive prefix sums (one flat
    window: the oracle may globally sort, the ENGINE must not) and
    HUGEINT ceil arithmetic.  (The grand total is named ``grand_w``,
    NOT ``W``: DuckDB identifiers are case-insensitive, so an alias
    ``W`` referenced from the outer query silently resolves to the
    per-row column ``w`` — found the hard way.)"""
    hsql = (f"(('0x' || substr(md5('{seed}' || {id_col}::VARCHAR), "
            "1, 14))::BIGINT % 2147483647)")
    cd = ("(({x}::HUGEINT * " + str(int(n))
          + " + grand_w - 1) // grand_w::HUGEINT)")
    return f"""
    WITH r AS (
      SELECT {id_col}, CAST({weight_sql} AS BIGINT) AS w,
             {hsql} AS h
      FROM {table}),
    c AS (
      SELECT {id_col}, w,
             COALESCE(SUM(w) OVER (
               ORDER BY h % {shards}, h, {id_col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cw,
             SUM(w) OVER () AS grand_w
      FROM r)
    SELECT {id_col}, w AS weight,
           ({cd.format(x='(cw + w)')} - {cd.format(x='cw')})::BIGINT
             AS picks
    FROM c
    WHERE grand_w > 0
      AND ({cd.format(x='(cw + w)')} - {cd.format(x='cw')}) > 0
    """


def sample_weighted_n_per_group(df: DataFrame, group_cols,
                                id_col: str, weight_col: str,
                                n: int, seed: str = "wsample",
                                shards: int = 64) -> DataFrame:
    """Exactly-``n`` weighted draws PER GROUP — the stratified
    data-mixing shape (a fixed token budget per domain/language,
    drawn by document weight): ``sample_weighted_n``'s integer
    systematic sampling run independently inside every stratum.
    Same total order within a group ((shard, hash, id) — a fixed
    pseudo-random permutation), same DECIMAL(38,0) ceil arithmetic;
    Σ picks = n EXACTLY in every group with positive total weight;
    zero-total-weight groups emit nothing; rows with a NULL group
    key are skipped (the groupByKey null-key-skip semantic,
    SURVEY.md §2.4).  Returns ``(group_cols…, id_col, weight,
    picks)`` for rows with picks ≥ 1.  Changing ``seed`` redraws.

    Scale shape: per-(group, shard) prefix sums under a PARTITIONED
    window (no single-reducer sort anywhere — the per-group offset
    table is itself computed under a window partitioned by the
    group); the offsets + per-group totals are ≤ |groups|·``shards``
    rows, broadcast back (the default ``shards`` = 64 keeps that
    ≤ ~64 rows per stratum: strata are corpus slices, not the
    corpus).  One exchange on (group, shard), one bounded broadcast.

    Reference analogue: none (SURVEY.md §2); beyond-parity curation
    machinery beside ``sample_weighted_n`` (global) and
    ``sample_exact_n_per_group`` (uniform per-stratum).
    """
    if isinstance(group_cols, str):
        group_cols = [group_cols]
    group_cols = list(group_cols)
    if not group_cols:
        raise ValueError("group_cols must name at least one column")
    return _sample_weighted(df, group_cols, id_col, weight_col, n, seed,
                            shards)


def _sample_weighted(df: DataFrame, group_cols: list, id_col: str,
                     weight_col: str, n: int, seed: str,
                     shards: int) -> DataFrame:
    """The one systematic-sampling body behind ``sample_weighted_n``
    (no group columns) and ``sample_weighted_n_per_group``: every
    window, aggregate and join is keyed by ``group_cols`` (empty for
    the global draw), and rows with a NULL group key are dropped only
    when there are group columns."""
    from pyspark.sql import Window

    if n < 1:
        raise ValueError("n must be >= 1")
    if shards < 1:
        raise ValueError("shards must be >= 1")
    h = hash_bucket(F.concat(F.lit(seed), F.col(id_col).cast("string")),
                    n_buckets=HASH_P)
    w_checked = F.when(
        F.col(weight_col) < 0,
        F.raise_error(F.concat(F.lit("negative weight for id "),
                               F.col(id_col).cast("string")))
    ).otherwise(F.col(weight_col).cast("long"))
    if group_cols:
        notnull = F.lit(True)
        for g in group_cols:
            notnull = notnull & F.col(g).isNotNull()
        df = df.filter(notnull)
    rows = df.select(*group_cols, F.col(id_col), w_checked.alias("__w"),
                     h.alias("__h"), (h % shards).alias("__shard"))
    stats = rows.groupBy(*group_cols, "__shard").agg(
        F.sum("__w").alias("__sw"))
    # ≤ shards rows per group: the offset window is partitioned on the
    # group (a bounded single-partition window for the global draw —
    # the shuffle_positions/pack_sequences contract).  Distinct names
    # on the broadcast side: `off` shares `rows` in its lineage, and
    # the analyzer's self-join attribute cloning makes a same-named
    # window output ambiguous after the join
    shard_ord = Window.partitionBy(*group_cols).orderBy("__shard")
    off = stats.select(
        *group_cols, "__shard",
        F.coalesce(
            F.sum("__sw").over(
                shard_ord.rowsBetween(Window.unboundedPreceding, -1)),
            F.lit(0)).alias("__shard_off"),
        F.sum("__sw").over(
            shard_ord.rowsBetween(Window.unboundedPreceding,
                                  Window.unboundedFollowing))
        .alias("__grand_w"))
    win = Window.partitionBy(*group_cols, "__shard").orderBy(
        F.col("__h").asc(), F.col(id_col).asc())
    local = rows.withColumn(
        "__cwl",
        F.coalesce(F.sum("__w").over(
            win.rowsBetween(Window.unboundedPreceding, -1)), F.lit(0)))
    j = (local.join(F.broadcast(off), [*group_cols, "__shard"])
         .filter(F.col("__grand_w") > 0)
         .withColumn("__cw", F.col("__shard_off") + F.col("__cwl")))

    def ceil_div(x: str) -> str:
        # ceil(x·n / W) in DECIMAL(38,0): x ≤ W ≤ 2^63, n ≤ 2^31 —
        # the product stays < 10^38; DIV truncates, +W−1 makes ceil
        return (f"CAST((CAST({x} AS DECIMAL(38,0)) * {int(n)} "
                f"+ CAST(__grand_w AS DECIMAL(38,0)) - 1) "
                f"DIV CAST(__grand_w AS DECIMAL(38,0)) AS BIGINT)")

    picks = F.expr(f"{ceil_div('(__cw + __w)')} - {ceil_div('__cw')}")
    return (j.withColumn("picks", picks)
            .filter(F.col("picks") > 0)
            .select(*group_cols, F.col(id_col),
                    F.col("__w").alias("weight"), F.col("picks")))


def sample_weighted_per_group_oracle_sql(
        n: int, weight_sql: str, group_sql: str,
        seed: str = "wsample", shards: int = 64,
        table: str = "documents", id_col: str = "doc_id",
        group_out: str = "grp") -> str:
    """DuckDB replay of ``sample_weighted_n_per_group`` — the same
    salted hash, per-group (shard, hash, id) order, group-partitioned
    exclusive prefix sums and HUGEINT ceil arithmetic; NULL group
    keys skipped.  ``group_sql`` is any scalar expression over
    ``table``; its output column is aliased ``group_out`` (match the
    engine frame's group column name)."""
    hsql = (f"(('0x' || substr(md5('{seed}' || {id_col}::VARCHAR), "
            "1, 14))::BIGINT % 2147483647)")
    cd = ("(({x}::HUGEINT * " + str(int(n))
          + " + grand_w - 1) // grand_w::HUGEINT)")
    return f"""
    WITH r AS (
      SELECT {group_sql} AS g, {id_col},
             CAST({weight_sql} AS BIGINT) AS w, {hsql} AS h
      FROM {table}
      WHERE {group_sql} IS NOT NULL),
    c AS (
      SELECT g, {id_col}, w,
             COALESCE(SUM(w) OVER (
               PARTITION BY g
               ORDER BY h % {shards}, h, {id_col}
               ROWS BETWEEN UNBOUNDED PRECEDING AND 1 PRECEDING),
               0) AS cw,
             SUM(w) OVER (PARTITION BY g) AS grand_w
      FROM r)
    SELECT g AS {group_out}, {id_col}, w AS weight,
           ({cd.format(x='(cw + w)')} - {cd.format(x='cw')})::BIGINT
             AS picks
    FROM c
    WHERE grand_w > 0
      AND ({cd.format(x='(cw + w)')} - {cd.format(x='cw')}) > 0
    """


def contamination_report(train: DataFrame, eval_df: DataFrame,
                         text_col: str, id_col: str,
                         n: int = 8) -> DataFrame:
    """Exact per-EVAL-doc contamination audit — the report
    ``decontaminate``'s boolean flag and ``decontaminate_bloom``'s
    approximate filter cannot give: for every evaluation document,
    how many of its distinct word ``n``-grams appear ANYWHERE in the
    training corpus, and the truncating ratio
    ``contamination_milli = 1000·n_contaminated DIV max(n_grams, 1)``.
    This is the benchmark-leakage number an eval-suite owner reads
    before trusting a score (Brown et al. 2020 §4 measure leakage
    per eval example, not per train doc).

    Returns ``(id_col, n_grams, n_contaminated, contamination_milli)``
    for EVERY eval doc — docs too short for one ``n``-gram report
    (0, 0, 0).

    Scale shape (the decontaminate recipe, direction reversed): the
    eval side is MB-scale by assumption, so its distinct gram-hash
    set BROADCASTS to the train corpus; the corpus streams through
    ONCE via a broadcast semi-join (no corpus-side shuffle), and only
    the HIT hashes (≤ |eval grams| rows by construction) come back to
    be distinct-ed and joined — broadcast again — onto the per-doc
    eval gram table.  One exchange over eval grams, one bounded hit
    exchange, one per-doc aggregate; nothing corpus-sized moves.
    Membership is on ``portable_hash`` of the gram (31-bit), exactly
    replayed by the oracle — collisions can only over-count
    contamination (the conservative direction for a leakage audit).

    Reference analogue: none (SURVEY.md §2 — no document model);
    beyond-parity curation machinery beside ``decontaminate`` /
    ``decontaminate_bloom`` (train-side filters) — this is the
    eval-side report.
    """
    if n < 1:
        raise ValueError("n must be >= 1")
    eg = (_widen(eval_df.select(F.col(id_col), F.col(text_col)))
          .select(F.col(id_col),
                  F.explode(shingles(tokens(text_col), n)).alias("__g"))
          .select(id_col, portable_hash(F.col("__g")).alias("__gh"))
          .distinct())
    eval_hashes = F.broadcast(eg.select("__gh").distinct())
    hits = F.broadcast(
        _widen(train.select(F.col(text_col)))
        .select(F.explode(shingles(tokens(text_col), n)).alias("__g"))
        .select(portable_hash(F.col("__g")).alias("__gh"))
        .join(eval_hashes, "__gh", "left_semi")
        .distinct()
        .withColumn("__hit", F.lit(1)))
    per = (eg.join(hits, "__gh", "left")
           .groupBy(id_col)
           .agg(F.count(F.lit(1)).alias("n_grams"),
                F.sum(F.coalesce(F.col("__hit"), F.lit(0)))
                .cast("long").alias("n_contaminated")))
    base = eval_df.select(F.col(id_col))
    # per is ≤ |eval docs| rows — broadcast under the same MB-scale
    # eval assumption, so the zero-gram backfill join never sorts
    out = (base.join(F.broadcast(per), id_col, "left")
           .select(F.col(id_col),
                   F.coalesce("n_grams", F.lit(0).cast("long"))
                   .alias("n_grams"),
                   F.coalesce("n_contaminated", F.lit(0).cast("long"))
                   .alias("n_contaminated")))
    return out.withColumn(
        "contamination_milli",
        F.expr("CAST(1000 * n_contaminated DIV "
               "greatest(n_grams, 1) AS BIGINT)"))


def contamination_report_oracle_sql(
        n: int = 8, table: str = "documents", id_col: str = "doc_id",
        text_col: str = "text", train_pred: str = "doc_id % 2 = 0",
        eval_pred: str = "doc_id % 2 = 1") -> str:
    """DuckDB replay of ``contamination_report(train, eval)`` where
    both sides are predicates over one table — the same tokenize /
    ``n``-gram / portable-hash pipeline, membership on the hash
    (collisions replay identically), truncating milli ratio."""
    tok = (f"list_filter(regexp_split_to_array(lower({text_col}), "
           "'[^a-z0-9]+'), x -> x <> '')")
    gram = " || ' ' || ".join(f"w[g+{j}]" for j in range(n))
    ph = f"(('0x' || substr(md5({gram}), 1, 14))::BIGINT % 2147483647)"
    return f"""
    WITH tok AS (SELECT {id_col} AS id,
                        ({train_pred}) AS is_train,
                        ({eval_pred}) AS is_eval,
                        {tok} AS w
                 FROM {table}
                 WHERE ({eval_pred}) OR ({train_pred})),
    gh AS (
      SELECT id, is_train, is_eval, {ph} AS h
      FROM (SELECT id, is_train, is_eval, w,
                   unnest(generate_series(1, len(w) - {n - 1})) AS g
            FROM tok WHERE len(w) >= {n})),
    eg AS (SELECT DISTINCT id, h FROM gh WHERE is_eval),
    tg AS (SELECT DISTINCT h FROM gh WHERE is_train),
    per AS (
      SELECT eg.id,
             COUNT(*)::BIGINT AS n_grams,
             COUNT(tg.h)::BIGINT AS n_contaminated
      FROM eg LEFT JOIN tg ON tg.h = eg.h
      GROUP BY eg.id)
    SELECT e.{id_col},
           COALESCE(per.n_grams, 0)::BIGINT AS n_grams,
           COALESCE(per.n_contaminated, 0)::BIGINT AS n_contaminated,
           (1000 * COALESCE(per.n_contaminated, 0)
            // greatest(COALESCE(per.n_grams, 0), 1))::BIGINT
             AS contamination_milli
    FROM (SELECT {id_col} FROM {table} WHERE {eval_pred}) e
    LEFT JOIN per ON per.id = e.{id_col}
    """


def contamination_spans(train: DataFrame, eval_df: DataFrame,
                        text_col: str, id_col: str,
                        n: int = 8) -> DataFrame:
    """Span-level contamination audit — the report
    gram-set membership (``contamination_report``) cannot give: for
    every evaluation document, the LONGEST maximal run of LEAKED
    tokens (tokens covered by at least one training-matched
    ``n``-gram window — adjacent/overlapping hit windows merge, so a
    run may bridge interior windows that did not themselves match;
    it is the marked-token span, not a verbatim-copy length), plus
    the count of maximal leaked spans and the total leaked-token
    mass.
    This is the decontamination measure the GPT-3/PaLM reports use
    (Brown et al. 2020 appendix C; Chowdhery et al. 2022 §8 both
    report leakage by overlapping SPANS, not gram counts): a doc with
    30 scattered leaked grams is noise, a doc with one 300-token
    leaked run is a verbatim test-set copy.

    Returns ``(id_col, n_tokens, n_grams, n_leak_spans,
    max_leak_tokens, leaked_tokens, leak_milli)`` for EVERY eval doc;
    ``leak_milli = 1000·leaked_tokens DIV max(n_tokens, 1)``.  A hit
    at gram position p marks tokens [p, p+n−1]; overlapping or
    adjacent marks merge into maximal spans (the exactsubstr
    gaps-and-islands, same merge rule: positions p, q share a span
    iff q ≤ p + n).

    Scale shape — identical to ``contamination_report``: the
    MB-scale eval side's distinct gram hashes broadcast, the train
    corpus streams through ONE broadcast semi-join with zero
    corpus-side shuffle, and only the bounded hit-hash set comes
    back; the islands windows are all eval-doc-PARTITIONED over hit
    positions (≤ |eval grams| rows).  Hash collisions can only
    over-count leakage — the conservative direction for an audit.
    """
    from pyspark.sql import Window

    if n < 1:
        raise ValueError("n must be >= 1")
    pos = (_widen(eval_df.select(F.col(id_col), F.col(text_col)))
           .select(F.col(id_col),
                   tokens(text_col).alias("__w"))
           # greatest(…, 0): size(NULL) is -1 with ANSI off, while
           # the oracle coalesces a NULL token list to 0 — a
           # NULL-text eval doc must report n_tokens 0 in both
           .select(F.col(id_col),
                   F.greatest(F.size("__w"), F.lit(0))
                   .cast("long").alias("n_tokens"),
                   F.posexplode_outer(shingles(F.col("__w"), n))
                   .alias("__p", "__g"))
           .select(id_col, "n_tokens", "__p",
                   portable_hash(F.col("__g")).alias("__gh")))
    eval_hashes = F.broadcast(
        pos.filter(F.col("__gh").isNotNull()).select("__gh").distinct())
    hits = F.broadcast(
        _widen(train.select(F.col(text_col)))
        .select(F.explode(shingles(tokens(text_col), n)).alias("__g"))
        .select(portable_hash(F.col("__g")).alias("__gh"))
        .join(eval_hashes, "__gh", "left_semi")
        .distinct())
    per = (pos.groupBy(F.col(id_col), F.col("n_tokens"))
           .agg(F.count("__p").cast("long").alias("n_grams")))
    hp = (pos.join(hits, "__gh", "left_semi")
          .select(F.col(id_col), F.col("__p").cast("long").alias("__p")))
    w = Window.partitionBy(id_col).orderBy("__p")
    prev = F.lag("__p").over(w)
    spans = (hp.withColumn(
                 "__new",
                 F.when(prev.isNull() | (F.col("__p") > prev + n), 1)
                 .otherwise(0))
             .withColumn("__isl", F.sum("__new").over(w))
             .groupBy(id_col, "__isl")
             .agg((F.max("__p") - F.min("__p") + n).alias("__len"))
             .groupBy(id_col)
             .agg(F.count(F.lit(1)).cast("long").alias("n_leak_spans"),
                  F.max("__len").cast("long").alias("max_leak_tokens"),
                  F.sum("__len").cast("long").alias("leaked_tokens")))
    zero = F.lit(0).cast("long")
    out = (per.join(F.broadcast(spans), id_col, "left")
           .select(F.col(id_col), "n_tokens", "n_grams",
                   F.coalesce("n_leak_spans", zero).alias("n_leak_spans"),
                   F.coalesce("max_leak_tokens", zero)
                   .alias("max_leak_tokens"),
                   F.coalesce("leaked_tokens", zero)
                   .alias("leaked_tokens")))
    return out.withColumn(
        "leak_milli",
        F.expr("CAST(1000 * leaked_tokens DIV "
               "greatest(n_tokens, 1) AS BIGINT)"))


def contamination_spans_oracle_sql(
        n: int = 8, table: str = "documents", id_col: str = "doc_id",
        text_col: str = "text", train_pred: str = "doc_id % 2 = 0",
        eval_pred: str = "doc_id % 2 = 1") -> str:
    """DuckDB replay of ``contamination_spans(train, eval)`` where
    both sides are predicates over one table: the same tokenize /
    positional ``n``-gram / portable-hash pipeline, hash membership,
    and the gaps-and-islands span merge (1-based positions vs
    Spark's 0-based — span LENGTHS and counts only use position
    differences, so the offset cancels)."""
    tok = (f"list_filter(regexp_split_to_array(lower({text_col}), "
           "'[^a-z0-9]+'), x -> x <> '')")
    gram = " || ' ' || ".join(f"w[g+{j}]" for j in range(n))
    ph = f"(('0x' || substr(md5({gram}), 1, 14))::BIGINT % 2147483647)"
    return f"""
    WITH tok AS (SELECT {id_col} AS id,
                        ({train_pred}) AS is_train,
                        ({eval_pred}) AS is_eval,
                        {tok} AS w
                 FROM {table}
                 WHERE ({eval_pred}) OR ({train_pred})),
    gh AS (
      SELECT id, is_train, is_eval, g AS p, {ph} AS h
      FROM (SELECT id, is_train, is_eval, w,
                   unnest(generate_series(1, len(w) - {n - 1})) AS g
            FROM tok WHERE len(w) >= {n})),
    eg AS (SELECT id, p, h FROM gh WHERE is_eval),
    tg AS (SELECT DISTINCT h FROM gh WHERE is_train),
    hp AS (SELECT eg.id, eg.p FROM eg
           JOIN tg ON tg.h = eg.h),
    isl AS (
      SELECT id, p,
             CASE WHEN lag(p) OVER (PARTITION BY id ORDER BY p)
                       IS NULL
                    OR p > lag(p) OVER (PARTITION BY id ORDER BY p)
                       + {n}
                  THEN 1 ELSE 0 END AS nw
      FROM hp),
    grp AS (
      SELECT id, p,
             SUM(nw) OVER (PARTITION BY id ORDER BY p) AS g
      FROM isl),
    spans AS (
      SELECT id, g, MAX(p) - MIN(p) + {n} AS len
      FROM grp GROUP BY id, g),
    per_s AS (
      SELECT id, COUNT(*)::BIGINT AS n_leak_spans,
             MAX(len)::BIGINT AS max_leak_tokens,
             SUM(len)::BIGINT AS leaked_tokens
      FROM spans GROUP BY id),
    per_g AS (
      SELECT t.id,
             COALESCE(len(t.w), 0)::BIGINT AS n_tokens,
             COALESCE(c.n_grams, 0)::BIGINT AS n_grams
      FROM tok t
      LEFT JOIN (SELECT id, COUNT(*)::BIGINT AS n_grams
                 FROM eg GROUP BY id) c ON c.id = t.id
      WHERE t.is_eval)
    SELECT per_g.id AS {id_col}, per_g.n_tokens, per_g.n_grams,
           COALESCE(per_s.n_leak_spans, 0)::BIGINT AS n_leak_spans,
           COALESCE(per_s.max_leak_tokens, 0)::BIGINT
             AS max_leak_tokens,
           COALESCE(per_s.leaked_tokens, 0)::BIGINT AS leaked_tokens,
           (1000 * COALESCE(per_s.leaked_tokens, 0)
            // greatest(per_g.n_tokens, 1))::BIGINT AS leak_milli
    FROM per_g LEFT JOIN per_s ON per_s.id = per_g.id
    """


def token_waterfill(df: DataFrame, group_col: str,
                    avail_col: Column | str,
                    budget: int) -> DataFrame:
    """Integer water-filling allocation of a global token ``budget``
    across strata — the mixing-budget allocator: every stratum is
    capped at a common level L, strata with less than L contribute
    everything, and L is the largest level the budget affords
    (Σ min(avail_g, L) ≤ budget).  The classic max-min fair
    allocation (Bertsekas & Gallager 1992 §6.5.2), integerized: the
    post-cutoff remainder ``r`` gives one extra token to the ``r``
    first remaining strata in (avail, group) order, so
    ``Σ alloc = min(budget, Σ avail)`` EXACTLY and the result is
    deterministic and oracle-replayable.

    Input: one row per stratum (pre-aggregated — e.g.
    ``docs.groupBy("lang").agg(F.sum(tokens))``); NULL group keys are
    skipped (the groupByKey null-skip semantic).  Returns
    ``(group_col, avail, alloc)``.

    Scale shape: everything runs on the ≤ |strata| aggregate rows —
    the windows order strata by (avail, group) (the bounded
    ``_GLOBAL_WINDOW_OK`` shape: |strata| rows by construction, the
    same envelope as the weighted sampler's offset table).  Nothing
    corpus-sized is touched; compute the per-stratum totals upstream
    with an ordinary aggregation.

    Reference analogue: none (SURVEY.md §2 — no corpus model);
    beyond-parity mixing machinery beside ``temperature_mix`` /
    ``select_token_budget``.
    """
    from pyspark.sql import Window

    if budget < 0:
        raise ValueError("budget must be >= 0")
    a = (F.col(avail_col) if isinstance(avail_col, str)
         else avail_col).cast("long")
    g = (df.filter(F.col(group_col).isNotNull())
         .select(F.col(group_col), a.alias("avail")))
    if g.filter(F.col("avail") < 0).limit(1).count() > 0:
        raise ValueError("avail must be >= 0")
    w = Window.orderBy(F.col("avail").asc(), F.col(group_col).asc())
    ww = w.rowsBetween(Window.unboundedPreceding, 0)
    ranked = (g.withColumn("__i", F.row_number().over(w))
              .withColumn("__pfx", F.sum("avail").over(ww))
              .withColumn("__n", F.count(F.lit(1)).over(
                  w.rowsBetween(Window.unboundedPreceding,
                                Window.unboundedFollowing))))
    # stratum i is FULLY funded iff the budget covers every stratum
    # up to i at its own avail plus the remaining strata at avail_i:
    # pfx_i + (n - i) * avail_i <= budget
    ranked = ranked.withColumn(
        "__full",
        (F.col("__pfx") + (F.col("__n") - F.col("__i"))
         * F.col("avail")) <= F.lit(budget))
    # the cutoff state: tokens already committed to full strata and
    # how many capped strata remain
    agg = ranked.agg(
        F.sum(F.when(F.col("__full"), F.col("avail"))
              .otherwise(F.lit(0))).cast("long").alias("__used"),
        F.sum(F.when(F.col("__full"), F.lit(0)).otherwise(F.lit(1)))
        .cast("long").alias("__m"),
        F.min(F.when(~F.col("__full"), F.col("__i")))
        .alias("__first_capped"))
    out = (ranked.join(F.broadcast(agg))
           .withColumn("__level",
                       F.expr(f"CAST(({budget} - __used) DIV "
                              "greatest(__m, 1) AS LONG)"))
           .withColumn("__rem",
                       F.expr(f"CAST(({budget} - __used) % "
                              "greatest(__m, 1) AS LONG)"))
           .withColumn(
               "alloc",
               F.when(F.col("__full"), F.col("avail"))
               .otherwise(F.least(
                   F.col("avail"),
                   F.col("__level")
                   + F.when(F.col("__i") - F.col("__first_capped")
                            < F.col("__rem"), F.lit(1))
                   .otherwise(F.lit(0))))))
    return out.select(F.col(group_col), F.col("avail"),
                      F.col("alloc").cast("long").alias("alloc"))


def token_waterfill_oracle_sql(budget: int, group_col: str = "lang",
                               avail_sql: str = "sum(n_chars)",
                               table: str = "documents") -> str:
    """DuckDB replay of ``token_waterfill`` over per-``group_col``
    totals of ``avail_sql`` — identical (avail, group) ranking,
    full-funding predicate, truncating level and remainder spread."""
    return f"""
    WITH g AS (
      SELECT {group_col} AS grp, ({avail_sql})::BIGINT AS avail
      FROM {table} WHERE {group_col} IS NOT NULL
      GROUP BY {group_col}),
    r AS (
      SELECT grp, avail,
             row_number() OVER (ORDER BY avail, grp) AS i,
             sum(avail) OVER (ORDER BY avail, grp
                              ROWS BETWEEN UNBOUNDED PRECEDING
                              AND CURRENT ROW) AS pfx,
             count(*) OVER () AS n
      FROM g),
    f AS (
      SELECT *, (pfx + (n - i) * avail) <= {budget} AS is_full
      FROM r),
    a AS (
      SELECT coalesce(sum(CASE WHEN is_full THEN avail END),
                      0)::BIGINT AS used,
             sum(CASE WHEN is_full THEN 0 ELSE 1 END)::BIGINT AS m,
             min(CASE WHEN NOT is_full THEN i END) AS first_capped
      FROM f)
    SELECT f.grp AS {group_col}, f.avail,
           CASE WHEN f.is_full THEN f.avail
                ELSE least(
                  f.avail,
                  ({budget} - a.used) // greatest(a.m, 1)
                  + CASE WHEN f.i - a.first_capped
                              < ({budget} - a.used) % greatest(a.m, 1)
                         THEN 1 ELSE 0 END)
           END::BIGINT AS alloc
    FROM f CROSS JOIN a
    """
