"""Corpus-curation queries (functions/curation.py), oracle-paired.

Every sampling/packing decision routes through text.portable_hash, so
the DuckDB oracles replay the identical arithmetic — splits, survivor
sets, shard assignments and sequence ids are byte-checkable, not just
statistically similar.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkadirect_spark.functions import curation, privacy, text
from kafkadirect_spark.functions.curation import SPLIT_BUCKETS
from kafkadirect_spark.plans.llm_queries import _STOPWORDS_SQL, _TOK
from kafkadirect_spark.plans.queries import query
from kafkadirect_spark.sources.batch import load_table

# DuckDB formulation of hash_bucket(id, salt): salted portable hash
# reduced to buckets.
_BUCKET = ("((('0x' || substr(md5(doc_id::VARCHAR || '{salt}'), 1, 14))::BIGINT"
           f" % 2147483647) % {{n}})")

_BPE_SQL = ("CAST(len(regexp_extract_all(lower(text),"
            " ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT)")

_LANG_SQL = f"""CASE WHEN len({_TOK}) > 0 AND
      CAST(len(list_filter({_TOK}, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
      / len({_TOK}) >= 0.05 THEN 'en' ELSE 'unknown' END"""


@query(
    "sample_split",
    oracle=f"""
    SELECT doc_id,
           CASE WHEN {_BUCKET.format(salt='split', n=SPLIT_BUCKETS)} < 9000 THEN 'train'
                WHEN {_BUCKET.format(salt='split', n=SPLIT_BUCKETS)} < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM documents
    """,
)
def sample_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Deterministic 90/5/5 train/val/test split — hash-keyed, so it is
    stable under re-runs and data growth (no RNG state), and
    shuffle-free (a pure Column expression on the scan)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.split_assign(
        docs, "doc_id", {"train": 0.90, "val": 0.05, "test": 0.05},
    ).select("doc_id", "split")


@query(
    "sample_stratified",
    oracle=f"""
    WITH lang AS (SELECT doc_id, {_LANG_SQL} AS pred_lang FROM documents)
    SELECT doc_id, pred_lang FROM lang
    WHERE {_BUCKET.format(salt='sample', n=SPLIT_BUCKETS)} <
          CASE pred_lang WHEN 'en' THEN 3000 WHEN 'unknown' THEN 500 ELSE 0 END
    """,
)
def sample_stratified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Stratified sampling / data mixing: keep 30% of 'en' docs and 5%
    of 'unknown' ones (per the lang-ID heuristic) — the up/down-weight
    primitive of corpus mixing, deterministic per id, zero shuffles."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.withColumn("pred_lang", text.lang_guess(text.tokens("text")))
    return curation.stratified_sample(
        tagged, "pred_lang", {"en": 0.30, "unknown": 0.05}, "doc_id",
    ).select("doc_id", "pred_lang")


@query(
    "pack_sequences",
    oracle=f"""
    WITH toks AS (
      SELECT doc_id, {_BPE_SQL} AS n_tokens,
             {_BUCKET.format(salt='shard', n=8)} AS shard
      FROM documents
    ),
    packed AS (
      SELECT doc_id, shard, n_tokens,
             SUM(n_tokens) OVER (PARTITION BY shard ORDER BY doc_id
                                 ROWS BETWEEN UNBOUNDED PRECEDING AND CURRENT ROW)
               AS cum
      FROM toks
    )
    SELECT doc_id, shard,
           -- windowed SUM is HUGEINT in DuckDB; cast so the gate's
           -- hasher sees the same BIGINT dtype Spark produces
           CAST((cum - n_tokens) // 1024 AS BIGINT) AS seq_id,
           n_tokens
    FROM packed
    """,
)
def pack_sequences(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Greedy sequence packing into 1024-token budgets within 8
    deterministic hash shards — the corpus→token-shards step.  One
    hash-partition shuffle, then per-shard running sums; no global
    sort.  Shard count scales with the cluster (files out ≈ shards)."""
    docs = load_table(spark, sf_dir, "documents")
    toks = docs.select(
        "doc_id", text.bpe_token_count("text").cast("long").alias("bpe"))
    return curation.pack_sequences(
        toks, "doc_id", "bpe", budget=1024, n_shards=8)


@query(
    "corpus_mix_upsample",
    oracle=f"""
    WITH lang AS (SELECT doc_id, {_LANG_SQL} AS pred_lang FROM documents),
    e AS (
      SELECT doc_id, pred_lang,
             CASE pred_lang WHEN 'en' THEN 2.3 WHEN 'unknown' THEN 0.4
                  ELSE 1.0 END AS w
      FROM lang
    ),
    x AS (
      SELECT doc_id, pred_lang,
             CAST(floor(w) AS INTEGER) AS nf,
             CAST(round((w - floor(w)) * {SPLIT_BUCKETS}) AS INTEGER) AS fb,
             unnest(generate_series(0, CAST(floor(w) AS INTEGER))) AS epoch
      FROM e
    )
    SELECT doc_id, pred_lang, CAST(epoch AS INTEGER) AS epoch
    FROM x
    WHERE epoch < nf
       OR (epoch = nf AND
           ((('0x' || substr(md5(doc_id::VARCHAR || 'epoch' || epoch::VARCHAR), 1, 14))::BIGINT
             % 2147483647) % {SPLIT_BUCKETS}) < fb)
    """,
)
def corpus_mix_upsample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Fractional source mixing: 'en' docs repeated 2.3× (two full
    epochs + a deterministic 30% third), 'unknown' sampled to 0.4× —
    the upsampling half of corpus mixing.  Row-local explode, no
    shuffle; every copy decision replayed by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    tagged = docs.withColumn("pred_lang", text.lang_guess(text.tokens("text")))
    return curation.upsample(
        tagged, "pred_lang", {"en": 2.3, "unknown": 0.4}, "doc_id",
    ).select("doc_id", "pred_lang", "epoch")


@query(
    "vocab_topk",
    oracle=f"""
    WITH tok AS (
      SELECT doc_id, unnest({_TOK}) AS token FROM documents
    )
    SELECT token, COUNT(*) AS tf, COUNT(DISTINCT doc_id) AS df
    FROM tok GROUP BY token
    ORDER BY tf DESC, token LIMIT 100
    """,
)
def vocab_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-100 vocabulary by term frequency with document frequencies —
    the tokenizer-training / vocab-build aggregation.  One token
    shuffle with map-side partials; the top-k is TakeOrdered (no
    global sort)."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.vocab_stats(docs, "text", "doc_id", top_k=100)


@query(
    "boilerplate_flag",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
    g10 AS (
      SELECT DISTINCT doc_id,
             (('0x' || substr(md5(
                w[g]   || ' ' || w[g+1] || ' ' || w[g+2] || ' ' || w[g+3] || ' ' ||
                w[g+4] || ' ' || w[g+5] || ' ' || w[g+6] || ' ' || w[g+7] || ' ' ||
                w[g+8] || ' ' || w[g+9]
             ), 1, 14))::BIGINT % 2147483647) AS gh
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-9)) AS g
            FROM tok WHERE len(w) >= 10)
    ),
    freq AS (SELECT gh, COUNT(DISTINCT doc_id) AS gdf FROM g10 GROUP BY gh)
    SELECT doc_id,
           COUNT(*) AS n_grams,
           CAST(SUM(CASE WHEN gdf > 2 THEN 1 ELSE 0 END) AS BIGINT) AS n_boiler,
           CAST(SUM(CASE WHEN gdf > 2 THEN 1 ELSE 0 END) AS DOUBLE) / COUNT(*)
             AS boiler_ratio
    FROM g10 JOIN freq USING (gh)
    GROUP BY doc_id
    """,
)
def boilerplate_flag(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-doc boilerplate ratio: fraction of the doc's distinct word
    10-grams appearing in >2 documents — the C4-style repeated-span
    signal, computed via the shingle inverted index (no pairwise
    stage); the oracle replays the same 10-gram portable hashes."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.boilerplate_ratio(docs, "text", "doc_id",
                                      n=10, max_doc_freq=2)


@query("pii_scrub", oracle=privacy.synth_pii_scrub_oracle_sql())
def pii_scrub(spark: SparkSession, sf_dir: str) -> DataFrame:
    """PII scrub with integer Luhn validity (functions/privacy.py —
    registered r15 per the r14 plan, retiring `pii_redaction` 1:1
    whose email/SSN/phone claim this strictly extends): per document,
    counts of emails / SSNs / phones / IPv4s / card-SHAPED tokens and
    of Luhn-VALID cards (shape matches are mostly order-id noise; the
    valid ones are what an audit must flag), plus the md5 of the
    scrubbed rendering.  Text is SYNTHESIZED from doc ids
    (deterministic injections whose placement, Luhn check digit and
    redacted form are pure id arithmetic — the Catalyst-side reverse
    Luhn fold computes the check digit), so the DuckDB oracle replays
    counts and the clean-text md5 with NO SQL regex anywhere: a green
    row proves the engine's regexes, scrub order, Luhn fold and
    rendering end to end.  Scale shape: regexp + higher-order
    aggregate expressions inside WholeStageCodegen, ZERO shuffles,
    zero Python — the scrub rides the ingest scan (plan-pinned in
    test_privacy.py).  The real-corpus path is additionally pinned
    against an independent python-`re` model."""
    docs = load_table(spark, sf_dir, "documents")
    synth = privacy.synth_pii_text(docs.select("doc_id"), "doc_id")
    return privacy.pii_scrub(synth, "text", "doc_id")


@query(
    "corpus_stats",
    oracle=f"""
    WITH sz AS (SELECT source, {_BPE_SQL} AS s FROM documents)
    SELECT source,
           COUNT(*) AS n_docs,
           CAST(SUM(s) AS BIGINT) AS total_size,
           CAST((SUM(s) * 1000) // COUNT(*) AS BIGINT) AS avg_size_milli,
           CAST(quantile_disc(s, 0.5) AS BIGINT) AS p50_size,
           CAST(quantile_disc(s, 0.9) AS BIGINT) AS p90_size,
           CAST(quantile_disc(s, 0.99) AS BIGINT) AS p99_size
    FROM sz GROUP BY source
    """,
)
def corpus_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Dataset-card statistics per source: doc counts, token totals,
    mean, and discrete p50/p90/p99 token sizes (integer-exact across
    engines — no interpolation drift).  One shuffle on the source."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select("source",
                        text.bpe_token_count("text").cast("long").alias("bpe"))
    return curation.corpus_stats(sized, "source", "bpe")


@query(
    "quality_topk_per_lang",
    oracle=f"""
    WITH scored AS (
      SELECT doc_id, {_LANG_SQL} AS pred_lang, {_BPE_SQL} AS bpe_tokens
      FROM documents
    ),
    ranked AS (
      SELECT doc_id, pred_lang, bpe_tokens,
             row_number() OVER (PARTITION BY pred_lang
                                ORDER BY bpe_tokens DESC, doc_id) AS rank
      FROM scored
    )
    SELECT doc_id, pred_lang, bpe_tokens, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 5
    """,
)
def quality_topk_per_lang(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-stratum selection: the 5 highest-token-count docs per
    predicted language (deterministic id tiebreak) — the 'take the best
    N per source/language' curation step; one shuffle on the stratum."""
    docs = load_table(spark, sf_dir, "documents")
    scored = docs.select(
        "doc_id",
        text.lang_guess(text.tokens("text")).alias("pred_lang"),
        text.bpe_token_count("text").cast("long").alias("bpe_tokens"))
    return curation.topk_per_group(
        scored, "pred_lang", "bpe_tokens", k=5, tiebreak_col="doc_id")


@query(
    "doc_chunks",
    oracle=f"""
    WITH t AS (SELECT doc_id, {_TOK} AS w FROM documents),
    starts AS (
      SELECT doc_id, w,
             unnest(generate_series(
               0, CAST(greatest((len(w) - 64 + 47)//48, 0) AS INT)))
               AS chunk_id
      FROM t WHERE len(w) >= 1)
    SELECT doc_id,
           CAST(chunk_id AS BIGINT) AS chunk_id,
           CAST(len(w[chunk_id*48+1 : chunk_id*48+64]) AS BIGINT)
             AS chunk_len,
           md5(array_to_string(w[chunk_id*48+1 : chunk_id*48+64], ' '))
             AS chunk_hash
    FROM starts
    """,
)
def doc_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Overlapping token-window chunking (64-token chunks, 16-token
    overlap → stride 48): the corpus→training-sequence explode.  Pure
    per-row codegen, zero shuffles; the oracle replays the identical
    slicing with DuckDB 1-based inclusive list slices."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.chunk_documents(docs, "doc_id", "text",
                                    chunk_tokens=64, overlap=16)


@query(
    "domain_cap",
    oracle="""
    WITH h AS (
      SELECT doc_id, source,
             (('0x' || substr(md5(doc_id::VARCHAR), 1, 14))::BIGINT
              % 2147483647) AS ord
      FROM documents),
    r AS (
      SELECT doc_id, source,
             row_number() OVER (PARTITION BY source
                                ORDER BY ord ASC, doc_id ASC) AS rn
      FROM h)
    SELECT doc_id, source, CAST(rn AS BIGINT) AS rank
    FROM r WHERE rn <= 10
    """,
)
def domain_cap(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-domain document cap (CommonCrawl-style source balancing):
    keep at most 10 docs per source, chosen by deterministic portable
    hash so the kept set is stable under corpus growth.  Routed through
    the two-phase salted topk_per_group — source is low-cardinality, so
    the naive single window would funnel the corpus through ~20
    reducers at 100 TB; the salted plan passes the rank-window lint."""
    docs = (load_table(spark, sf_dir, "documents")
            .select("doc_id", "source",
                    text.portable_hash(F.col("doc_id").cast("string"))
                    .alias("__ord")))
    return (curation.topk_per_group(docs, "source", "__ord", k=10,
                                    tiebreak_col="doc_id", ascending=True)
            .select("doc_id", "source", "rank"))


@query(
    "ngram_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
    bi AS (
      SELECT w[g] || ' ' || w[g+1] AS bigram
      FROM (SELECT w, unnest(generate_series(1, len(w)-1)) AS g
            FROM tok WHERE len(w) >= 2))
    SELECT bigram, COUNT(*) AS n
    FROM bi GROUP BY bigram
    ORDER BY n DESC, bigram ASC
    LIMIT 50
    """,
)
def ngram_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Corpus-level top-50 bigrams — the vocabulary/statistics pass of
    a data-quality audit.  Explode to bigrams (reusing the shingle
    expression, n=2), one hash aggregate, TakeOrderedAndProject on the
    (count desc, bigram asc) total order — never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    bi = docs.select(F.explode(
        text.shingles(text.tokens("text"), 2)).alias("bigram"))
    return (bi.groupBy("bigram").agg(F.count(F.lit(1)).alias("n"))
            .orderBy(F.col("n").desc(), F.col("bigram").asc())
            .limit(50))


@query(
    "importance_weights",
    oracle=f"""
    WITH tok AS (SELECT doc_id, lang, {_TOK} AS w FROM documents),
    pairs AS (
      SELECT DISTINCT doc_id, lang,
             ((('0x' || substr(md5(w[g] || ' ' || w[g+1]), 1, 14))::BIGINT
               % 2147483647) % 10000) AS b
      FROM (SELECT doc_id, lang, w,
                   unnest(generate_series(1, len(w)-1)) AS g
            FROM tok WHERE len(w) >= 2)),
    freqs AS (
      SELECT b, CAST(COUNT(*) AS BIGINT) AS df_c,
             CAST(SUM(CASE WHEN lang = 'en' THEN 1 ELSE 0 END) AS BIGINT)
               AS df_t
      FROM pairs GROUP BY b)
    SELECT p.doc_id,
           CAST(SUM(1000000 * f.df_t // f.df_c) AS BIGINT) AS score
    FROM pairs p JOIN freqs f ON p.b = f.b
    GROUP BY p.doc_id
    ORDER BY score DESC, p.doc_id ASC
    LIMIT 100
    """,
)
def importance_weights(spark: SparkSession, sf_dir: str) -> DataFrame:
    """DSIR-style importance scores against the English subset as the
    target domain: bigrams hash into 10^4 buckets (the paper's feature
    space) and every distinct bucket contributes its exact integer
    likelihood ratio (scale·df_target // df_corpus); documents are
    ranked by the summed score (functions/curation.py
    importance_scores).  The bounded bucket space makes the frequency
    table broadcastable — the exploded pairs are never shuffled by
    feature.  Integer arithmetic end-to-end: no log, no float."""
    docs = load_table(spark, sf_dir, "documents")
    scores = curation.importance_scores(
        docs, "doc_id", "text", target=F.col("lang") == "en", ngram=2)
    return (scores.orderBy(F.col("score").desc(), F.col("doc_id").asc())
            .limit(100))


_BLOOM_BIT = ("((('0x' || substr(md5('bloom' || CAST({i} AS VARCHAR) || ':' "
              "|| {g}), 1, 14))::BIGINT % 2147483647) % 1048576)")


@query(
    "decontaminate_bloom",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
    g8 AS (
      SELECT doc_id,
             w[g]   || ' ' || w[g+1] || ' ' || w[g+2] || ' ' || w[g+3] || ' ' ||
             w[g+4] || ' ' || w[g+5] || ' ' || w[g+6] || ' ' || w[g+7] AS g
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-7)) AS g
            FROM tok WHERE len(w) >= 8)
    ),
    ii AS (SELECT unnest([0, 1, 2]) AS i),
    bits AS (
      SELECT DISTINCT ii.i, {_BLOOM_BIT.format(i='ii.i', g='g8.g')} AS bit
      FROM g8 CROSS JOIN ii WHERE g8.doc_id % 10 = 0),
    grams AS (
      SELECT doc_id, g, ii.i,
             {_BLOOM_BIT.format(i='ii.i', g='g')} AS bit
      FROM g8 CROSS JOIN ii WHERE g8.doc_id % 10 <> 0),
    full_hits AS (
      SELECT doc_id, g FROM grams JOIN bits USING (i, bit)
      GROUP BY doc_id, g HAVING COUNT(*) = 3),
    hits AS (SELECT DISTINCT doc_id FROM full_hits)
    SELECT d.doc_id, (h.doc_id IS NOT NULL) AS contaminated
    FROM documents d LEFT JOIN hits h USING (doc_id)
    WHERE d.doc_id % 10 <> 0
    """,
)
def decontaminate_bloom(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Decontamination through a FIXED-SIZE Bloom filter of the eval
    slice's 8-grams (functions/curation.py decontaminate_bloom): the
    broadcast side is capped at m_bits·k rows no matter how large the
    reference set grows, errs only toward over-flagging (one-sided —
    the conservative direction), and every bit position is replayed in
    the oracle — a probabilistic data structure with an exact
    cross-engine check."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 10 != 0)
    eval_df = docs.filter(F.col("doc_id") % 10 == 0)
    return curation.decontaminate_bloom(train, eval_df, "text", "doc_id",
                                        n=8)


@query(
    "length_weighted_sample",
    oracle=f"""
    SELECT doc_id FROM documents
    WHERE {_BUCKET.format(salt='wkeep', n=SPLIT_BUCKETS)} <
          CAST(floor(LEAST(n_chars / 500.0, 1.0) * {SPLIT_BUCKETS})
               AS BIGINT)
    """,
)
def length_weighted_sample(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-row weighted sampling (functions/curation.py weighted_keep):
    keep probability grows with document length, capped at 1 — the
    soft-filtering primitive (probability ∝ quality score) that hard
    thresholds can't express.  Deterministic per id, zero shuffles,
    every keep decision replayed by the oracle."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.weighted_keep(
        docs, "doc_id", F.col("n_chars") / 500.0).select("doc_id")


@query(
    "doc_surprisal",
    oracle=f"""
    WITH tok AS (SELECT doc_id, unnest({_TOK}) AS tok FROM documents),
    occ AS (SELECT doc_id, tok, COUNT(*) AS k FROM tok GROUP BY 1, 2),
    cnt AS (SELECT tok, CAST(SUM(k) AS BIGINT) AS c FROM occ GROUP BY 1),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM cnt)
    SELECT occ.doc_id, CAST(SUM(occ.k) AS BIGINT) AS n_tokens,
           CAST(SUM(occ.k * (length(bin(tot.n)) - length(bin(cnt.c))))
                AS BIGINT) AS surprisal_bits
    FROM occ JOIN cnt USING (tok) CROSS JOIN tot
    GROUP BY occ.doc_id
    """,
)
def doc_surprisal(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Unigram-LM surprisal quality scores (functions/curation.py:
    surprisal_scores) — CCNet-style perplexity filtering with the logs
    integerized: floor(log2 n) = length(bin(n)) − 1 exactly, so the
    bits replay engine-for-engine with zero libm involvement."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.surprisal_scores(docs, "doc_id", "text")


_PROFILE_COLS = ["doc_id", "lang", "source", "n_chars", "text"]


def _profile_oracle() -> str:
    parts = [
        f"""SELECT '{c}' AS col_name, CAST(COUNT(*) AS BIGINT) AS n_rows,
            CAST(COUNT(*) - COUNT({c}) AS BIGINT) AS n_null,
            CAST(COUNT(DISTINCT {c}) AS BIGINT) AS n_distinct,
            CAST(MAX(LENGTH(CAST({c} AS VARCHAR))) AS BIGINT) AS max_len
        FROM documents"""
        for c in _PROFILE_COLS
    ]
    return " UNION ALL ".join(parts)


@query("corpus_profile", oracle=_profile_oracle())
def corpus_profile(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Ingest-validation column profile (functions/curation.py:
    profile_columns): exact per-column n_rows / n_null / n_distinct /
    max_len in one unpivot + two-level aggregate — the exchange
    carries distinct (col, value) pairs after map-side dedup, never an
    Expand of raw rows."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.profile_columns(docs, _PROFILE_COLS)


@query(
    "temperature_mix",
    oracle=f"""
    WITH sizes AS (SELECT source, COUNT(*) AS n FROM documents GROUP BY 1),
    ref AS (SELECT MIN(n) AS nmin FROM sizes),
    thr AS (
      SELECT source, FLOOR(10000 * sqrt(CAST(nmin AS DOUBLE) / n)) AS t
      FROM sizes CROSS JOIN ref)
    SELECT d.doc_id, d.source
    FROM documents d JOIN thr ON d.source IS NOT DISTINCT FROM thr.source
    WHERE {_BUCKET.format(salt='tempmix', n=10000)} < thr.t
    """,
)
def temperature_mix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """α=0.5 temperature-sampled corpus rebalancing
    (functions/curation.py:temperature_mix): per-source keep fraction
    sqrt(n_min/n_s) — IEEE sqrt is correctly rounded in both engines,
    so every threshold (and therefore every keep/drop) replays
    bit-for-bit; the corpus is filtered via broadcast thresholds,
    never shuffled."""
    docs = load_table(spark, sf_dir, "documents")
    out = curation.temperature_mix(docs, "source", "doc_id")
    return out.select("doc_id", "source")


from kafkadirect_spark.functions.curation import GOPHER_RULES
from kafkadirect_spark.functions.dedup import (lsh_candidate_pairs,
                                               minhash_signatures)
from kafkadirect_spark.plans.llm_queries import _MINHASH_BANDS_CTES

_R = GOPHER_RULES


@query(
    "quality_gopher",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
    base AS (
      SELECT doc_id,
             CAST(len(w) AS BIGINT) AS n_words,
             CAST(COALESCE(list_sum(list_transform(w, x -> len(x))), 0)
                  AS BIGINT) AS sum_len,
             CAST(len(list_filter(w, x -> regexp_matches(x, '[a-z]')))
                  AS BIGINT) AS n_alpha,
             CAST(len(list_filter(list_distinct(w),
                  x -> list_contains({_STOPWORDS_SQL}, x)))
                  AS BIGINT) AS stopword_hits
      FROM tok
    ),
    g2 AS (
      SELECT doc_id, w[g] || ' ' || w[g+1] AS gram
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-1)) AS g
            FROM tok WHERE len(w) >= 2)
    ),
    g2c AS (SELECT doc_id, gram, COUNT(*) AS k FROM g2 GROUP BY 1, 2),
    g2s AS (SELECT doc_id, SUM(k) AS t2, COUNT(*) AS d2, MAX(k) AS m2
            FROM g2c GROUP BY doc_id),
    g3 AS (
      SELECT doc_id, w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS gram
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS g
            FROM tok WHERE len(w) >= 3)
    ),
    g3c AS (SELECT doc_id, gram, COUNT(*) AS k FROM g3 GROUP BY 1, 2),
    g3s AS (SELECT doc_id, SUM(k) AS t3, COUNT(*) AS d3
            FROM g3c GROUP BY doc_id),
    sig AS (
      SELECT b.doc_id, b.n_words,
             CASE WHEN b.n_words > 0
                  THEN 100 * b.sum_len // b.n_words ELSE 0 END
               AS mean_word_len_x100,
             CASE WHEN COALESCE(t2, 0) > 0
                  THEN 1000000 * (t2 - d2) // t2 ELSE 0 END
               AS dup_2gram_ppm,
             CASE WHEN COALESCE(t3, 0) > 0
                  THEN 1000000 * (t3 - d3) // t3 ELSE 0 END
               AS dup_3gram_ppm,
             CASE WHEN COALESCE(t2, 0) > 0
                  THEN 1000000 * m2 // t2 ELSE 0 END
               AS top_2gram_ppm,
             CASE WHEN b.n_words > 0
                  THEN 1000000 * b.n_alpha // b.n_words ELSE 0 END
               AS alpha_word_ppm,
             b.stopword_hits
      FROM base b LEFT JOIN g2s USING (doc_id) LEFT JOIN g3s USING (doc_id)
    )
    SELECT doc_id, n_words,
           CAST(mean_word_len_x100 AS BIGINT) AS mean_word_len_x100,
           CAST(dup_2gram_ppm AS BIGINT) AS dup_2gram_ppm,
           CAST(dup_3gram_ppm AS BIGINT) AS dup_3gram_ppm,
           CAST(top_2gram_ppm AS BIGINT) AS top_2gram_ppm,
           CAST(alpha_word_ppm AS BIGINT) AS alpha_word_ppm,
           stopword_hits,
           (n_words >= {_R['min_words']} AND n_words <= {_R['max_words']}
            AND mean_word_len_x100 >= {_R['min_mean_word_len_x100']}
            AND mean_word_len_x100 <= {_R['max_mean_word_len_x100']}
            AND dup_2gram_ppm <= {_R['max_dup_2gram_ppm']}
            AND dup_3gram_ppm <= {_R['max_dup_3gram_ppm']}
            AND top_2gram_ppm <= {_R['max_top_2gram_ppm']}
            AND alpha_word_ppm >= {_R['min_alpha_word_ppm']}
            AND stopword_hits >= {_R['min_stopword_hits']}) AS pass_gopher
    FROM sig
    """,
)
def quality_gopher(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Gopher repetition/quality rules (functions/curation.py:
    gopher_quality) — the public Rae et al. 2021 §A1.1 composite
    document filter with every signal integerized (ppm fractions,
    ×100 mean length) so pass/fail replays bit-for-bit."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.gopher_quality(docs, "doc_id", "text")


@query(
    "surprisal_bigram",
    oracle="""
    WITH tok AS (SELECT doc_id,
        list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'),
                    x -> x <> '') AS w FROM documents),
    bg AS (
      SELECT doc_id, w[i-1] AS w1, w[i] AS w2
      FROM (SELECT doc_id, w, unnest(generate_series(2, len(w))) AS i
            FROM tok WHERE len(w) >= 2)
    ),
    dk AS (SELECT doc_id, w1, w2, COUNT(*) AS k FROM bg GROUP BY 1, 2, 3),
    lm2 AS (SELECT w1, w2, COUNT(*) AS c2 FROM bg
            WHERE doc_id % 2 = 0 GROUP BY 1, 2),
    lm1 AS (SELECT w1, SUM(c2) AS c1 FROM lm2 GROUP BY w1),
    uni AS (SELECT u, COUNT(*) AS c FROM
              (SELECT unnest(w) AS u FROM tok WHERE doc_id % 2 = 0)
            GROUP BY u),
    tot AS (SELECT CAST(SUM(c) AS BIGINT) AS n FROM uni),
    bits AS (
      SELECT dk.doc_id, dk.k,
             CASE WHEN lm2.c2 IS NOT NULL
                  THEN length(bin(lm1.c1)) - length(bin(lm2.c2))
                  ELSE length(bin(tot.n))
                       - length(bin(COALESCE(uni.c, 1))) + 4 END AS b
      FROM dk
      LEFT JOIN lm2 USING (w1, w2)
      LEFT JOIN lm1 USING (w1)
      LEFT JOIN uni ON dk.w2 = uni.u
      CROSS JOIN tot
    )
    SELECT doc_id, CAST(SUM(k) AS BIGINT) AS n_bigrams,
           CAST(SUM(k * b) AS BIGINT) AS surprisal_bits
    FROM bits GROUP BY doc_id
    """,
)
def surprisal_bigram(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Bigram-LM surprisal with integer stupid-backoff
    (functions/curation.py: bigram_surprisal_scores), held-out form:
    the LM is counted from the even-doc_id half and scores the whole
    corpus, so the unigram-backoff branch (unseen bigrams, +4 bits)
    is actually exercised — the CCNet-style perplexity gate one
    context order up from doc_surprisal."""
    docs = load_table(spark, sf_dir, "documents")
    lm = docs.filter(F.col("doc_id") % 2 == 0)
    return curation.bigram_surprisal_scores(docs, "doc_id", "text",
                                            lm_df=lm, backoff_bits=4)


@query(
    "cluster_split",
    oracle=f"""
    WITH RECURSIVE {_MINHASH_BANDS_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b USING (band, v0, v1, v2, v3)
      WHERE a.doc_id < b.doc_id
    ),
    edges AS (
      SELECT id_a AS u, id_b AS v FROM pairs
      UNION SELECT id_b, id_a FROM pairs
    ),
    reach(u, v) AS (
      SELECT u, v FROM edges
      UNION
      SELECT r.u, e.v FROM reach r JOIN edges e ON r.v = e.u
    ),
    labels AS (
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster
      FROM reach GROUP BY u
    ),
    cl AS (
      SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
      FROM documents d LEFT JOIN labels l USING (doc_id)
    ),
    bkt AS (
      SELECT doc_id, cluster,
             ((('0x' || substr(md5(cluster::VARCHAR || 'split'), 1, 14))::BIGINT
               % 2147483647) % {SPLIT_BUCKETS}) AS b
      FROM cl
    )
    SELECT doc_id, cluster,
           CASE WHEN b < 9000 THEN 'train'
                WHEN b < 9500 THEN 'val'
                ELSE 'test' END AS split
    FROM bkt
    """,
)
def cluster_split(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Leakage-safe split (functions/curation.py: cluster_safe_split):
    MinHash-LSH near-dup components are split as a unit — the hash is
    keyed on the CLUSTER id, so no near-duplicate of a train document
    can reach val/test.  Oracle replays the LSH bands, the
    recursive-CTE component closure, and the salted split hash."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = minhash_signatures(docs, "text", "doc_id", n=3)
    pairs = lsh_candidate_pairs(sigs, "doc_id")
    return curation.cluster_safe_split(
        docs, "doc_id", pairs, {"train": 0.90, "val": 0.05, "test": 0.05})


_H_DOC = ("(('0x' || substr(md5('{seed}' || doc_id::VARCHAR), 1, 14))::BIGINT"
          " % 2147483647)")


@query(
    "token_budget_select",
    oracle=f"""
    WITH h AS (
      SELECT doc_id,
             CAST(len({_TOK}) AS BIGINT) AS n_tokens,
             {_H_DOC.format(seed='budget')} AS hh
      FROM documents),
    cum AS (
      SELECT doc_id, n_tokens,
             CAST(SUM(n_tokens) OVER (
                  ORDER BY hh % 1024, hh, doc_id
                  ROWS UNBOUNDED PRECEDING) AS BIGINT) AS cum_tokens
      FROM h)
    SELECT doc_id, n_tokens, cum_tokens FROM cum
    WHERE cum_tokens <= 15000
    """,
)
def token_budget_select(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact token-budget corpus selection (functions/curation.py:
    select_token_budget): the maximal salted-hash-order prefix with
    ≤ 15k cumulative tokens — "N tokens of this corpus" as an exact,
    reproducible filter.  The engine computes the global prefix sum
    with per-shard windows + broadcast shard offsets (no
    single-reducer sort); the oracle replays the induced order as one
    window."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.select_token_budget(
        docs, "doc_id", F.size(text.tokens("text")), budget=15_000)


@query(
    "partition_fingerprints",
    oracle="""
    SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
           CAST(COUNT(*) AS BIGINT) AS n_rows,
           CAST(SUM(CAST(
                 ('0x' || substr(md5(
                    concat_ws(chr(31),
                      COALESCE(event_id::VARCHAR, chr(0) || 'null'),
                      COALESCE(user_id::VARCHAR, chr(0) || 'null'),
                      COALESCE(event_type, chr(0) || 'null'))
                  ), 1, 14))::BIGINT % 2147483647
               AS HUGEINT)) % 2305843009213693951 AS BIGINT) AS fingerprint
    FROM events
    GROUP BY 1
    """,
)
def partition_fingerprints(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-day content fingerprints of the event log
    (functions/curation.py partition_fingerprint) — the
    data-versioning primitive: any day partition whose (n_rows,
    fingerprint) moved between ingests has different content,
    independent of row order or file layout.  One scan, register-
    sized exchange (partial sum+count per day per task)."""
    from kafkadirect_spark.sources.batch import load_table as _lt

    ev = _lt(spark, sf_dir, "events")
    day = ev.withColumn("day", F.to_date("ts").cast("string"))
    return curation.partition_fingerprint(
        day, ["event_id", "user_id", "event_type"], by=["day"])


@query(
    "collocations_topk",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
    bg AS (
      SELECT w[i-1] AS w1, w[i] AS w2
      FROM (SELECT w, unnest(generate_series(2, len(w))) AS i
            FROM tok WHERE len(w) >= 2)
    ),
    p AS (SELECT w1, w2, COUNT(*) AS pair_count FROM bg GROUP BY 1, 2),
    ua AS (SELECT w1, SUM(pair_count) AS ca FROM p GROUP BY w1),
    ub AS (SELECT w2, SUM(pair_count) AS cb FROM p GROUP BY w2),
    n AS (SELECT SUM(pair_count) AS nn FROM p),
    scored AS (
      SELECT p.w1, p.w2, CAST(p.pair_count AS BIGINT) AS pair_count,
             CAST((1000000::HUGEINT * p.pair_count * n.nn)
                  // (ua.ca::HUGEINT * ub.cb) AS BIGINT) AS score
      FROM p JOIN ua USING (w1) JOIN ub USING (w2) CROSS JOIN n
      WHERE p.pair_count >= 5)
    SELECT w1, w2, pair_count, score FROM scored
    ORDER BY score DESC, w1 ASC, w2 ASC
    LIMIT 20
    """,
)
def collocations_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Top-20 collocations by exact integer PMI ratio
    (functions/curation.py collocations): bigrams co-occurring far
    above chance, min pair count 5 — the phrase-mining / tokenizer-
    vocabulary primitive.  Dropping PMI's log keeps the ranking (log
    is monotone) and every value integral; unigram marginals derive
    from the bigram table (no second corpus scan); the top-k is a
    TakeOrdered, never a global sort."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.collocations(docs, "doc_id", "text",
                                 min_count=5, k=20)


_BM25_TERMS = ["spark", "dup", "window"]


@query(
    "bm25_search",
    oracle=curation.bm25_rank_sql(_BM25_TERMS, k=15),
)
def bm25_search(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Integer-exact BM25 ranked retrieval (curation.bm25_rank): one
    row-local corpus projection (filter-before-explode keeps the
    exchange ∝ matches), broadcast term/corpus stats, TakeOrdered
    top-k.  The query mixes a rare term ('dup', df≈25) with common
    ones so the idf contrast is actually exercised — the rare-term
    docs must outrank pure tf."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.bm25_rank(docs, "doc_id", "text", _BM25_TERMS, k=15)


@query(
    "vocab_drift",
    oracle=curation.vocab_drift_sql("lang", "en", "de", k=20),
)
def vocab_drift(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary drift between two corpus slices
    (curation.vocab_drift): the distribution-shift audit — squared
    ppm rate gap weighted by pooled count, all integer (the exact
    chi-square's c·N products overflow decimal(38,0) at web scale;
    this surrogate is monotone in the same evidence).  One
    slice-filtered scan, one vocabulary exchange, broadcast totals,
    TakeOrdered top-k."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.vocab_drift(docs, "text", "lang", "en", "de", k=20)


_FP_EVENTS = """
      SELECT CAST(CAST(ts AS DATE) AS VARCHAR) AS day,
             CAST(COUNT(*) AS BIGINT) AS n_rows,
             CAST(SUM(CAST(
                   ('0x' || substr(md5(
                      concat_ws(chr(31),
                        COALESCE(event_id::VARCHAR, chr(0) || 'null'),
                        COALESCE(user_id::VARCHAR, chr(0) || 'null'),
                        COALESCE(event_type, chr(0) || 'null'))
                    ), 1, 14))::BIGINT % 2147483647
                 AS HUGEINT)) % 2305843009213693951 AS BIGINT)
               AS fingerprint
      FROM {src} GROUP BY 1"""


@query(
    "partition_diff",
    oracle=f"""
    WITH old_fp AS ({_FP_EVENTS.format(
        src="(SELECT * FROM events "
            "WHERE CAST(ts AS DATE) > DATE '2024-01-01')")}),
    new_fp AS ({_FP_EVENTS.format(
        src="(SELECT event_id, ts, user_id, "
            "CASE WHEN event_id % 101 = 0 THEN 'corrected' "
            "ELSE event_type END AS event_type FROM events "
            "WHERE CAST(ts AS DATE) < DATE '2024-01-30')")})
    SELECT * FROM (
      SELECT COALESCE(o.day, n.day) AS day,
             CASE WHEN o.day IS NULL THEN 'added'
                  WHEN n.day IS NULL THEN 'removed'
                  WHEN o.n_rows <> n.n_rows
                       OR o.fingerprint <> n.fingerprint THEN 'changed'
                  ELSE 'unchanged' END AS status,
             o.n_rows AS n_rows_old, n.n_rows AS n_rows_new,
             o.fingerprint AS fingerprint_old,
             n.fingerprint AS fingerprint_new
      FROM old_fp o FULL OUTER JOIN new_fp n
        ON o.day IS NOT DISTINCT FROM n.day)
    WHERE status <> 'unchanged'
    """,
)
def partition_diff(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Snapshot diff between two ingests (curation.fingerprint_diff
    over partition_fingerprint frames): the old snapshot misses the
    first day (→ 'added'), the new one misses the last (→ 'removed')
    and carries a targeted correction (event_id ≡ 0 mod 101 re-typed
    → those days 'changed' with IDENTICAL row counts, so the
    fingerprint — not the count — is what detects them).  Both
    fingerprint passes are register-sized aggregates; the diff joins
    two ≤30-row frames."""
    from kafkadirect_spark.sources.batch import load_table as _lt

    ev = _lt(spark, sf_dir, "events").withColumn(
        "day", F.to_date("ts").cast("string"))
    cols = ["event_id", "user_id", "event_type"]
    old = curation.partition_fingerprint(
        ev.filter(F.col("day") > "2024-01-01"), cols, by=["day"])
    mutated = (ev.filter(F.col("day") < "2024-01-30")
               .withColumn("event_type",
                           F.when(F.col("event_id") % 101 == 0,
                                  "corrected")
                           .otherwise(F.col("event_type"))))
    new = curation.partition_fingerprint(mutated, cols, by=["day"])
    return curation.fingerprint_diff(old, new, ["day"])


@query(
    "nb_langid",
    oracle=curation.nb_classify_sql(label_col="lang",
                                    train_pred="doc_id % 2 = 0"),
)
def nb_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Trained multinomial Naive Bayes language classifier
    (curation.nb_classify): learn per-language token statistics from
    the even-doc_id half's `lang` labels, predict a language for
    EVERY document — the trainable-classifier curation step (the
    supervised replacement for the heuristic text.lang_guess).
    Laplace-smoothed integer-bits scoring (floor-log2 via bin length)
    replays bit-for-bit in the oracle; ties break to the
    lexicographically smallest class.  Training is one exploded
    map-side-combined exchange collapsed to (class, token, count);
    scoring joins the collapsed score occurrences against the pivoted
    vocab-sized table once, then one groupBy(doc)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    return curation.nb_classify(train, docs, "doc_id", "text", "lang")


_COVERAGE_KS = (10, 100, 1000, 100000)


@query("vocab_coverage",
       oracle=curation.vocab_coverage_oracle_sql(ks=_COVERAGE_KS))
def vocab_coverage(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Vocabulary coverage curve (functions/curation.py
    vocab_coverage — registered r12 per the r11 plan): for each
    vocabulary budget k, the exact share of corpus tokens a top-k
    word vocabulary covers — WITHOUT ranking the vocabulary: the
    count-of-counts table (O(√tokens) rows under Zipf) answers every
    k from its cumulative sums, the ks ride as a literal-array
    filter, and the plan is join-free (pinned by
    test_vocab_coverage_plan_is_bounded).  One word-count exchange,
    register-sized everything after; coverage_milli is truncating so
    the replay is integer-exact.  The oracle is deliberately the
    naive rank-every-word formulation — the shortcut is verified
    against the definition, not against itself."""
    docs = load_table(spark, sf_dir, "documents")
    return curation.vocab_coverage(docs, "text", ks=_COVERAGE_KS)


@query("sample_weighted",
       oracle=curation.sample_weighted_oracle_sql(100, _BPE_SQL))
def sample_weighted(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n weighted sampling (functions/curation.py
    sample_weighted_n — registered r12 per the r11 plan): 100 draws
    over the documents with BPE-ish token counts as weights — the
    data-mixing shape (sample a token budget by length).  Integer
    systematic sampling over the salted-hash total order: per-shard
    prefix sums (no single-reducer global sort), a ≤shards-row
    broadcast of shard offsets, DECIMAL(38,0) ceil arithmetic;
    Σpicks = n exactly and every pick replays bit-for-bit in the
    oracle's HUGEINT walk of the same order."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "doc_id",
        text.bpe_token_count("text").cast("long").alias("w"))
    return curation.sample_weighted_n(sized, "doc_id", "w", 100)


# ---------------------------------------------------------------------------
# Round 13 registrations (pre-scheduled by the r12 plan, oracle
# generators pytest-pinned engine==oracle in round 12).
# ---------------------------------------------------------------------------


@query("contamination_spans",
       oracle=curation.contamination_spans_oracle_sql(n=8))
def contamination_spans(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Span-level contamination audit (functions/curation.py
    contamination_spans, Brown et al. 2020 appendix C / Chowdhery et
    al. 2022 §8 — registered r14 per the r13 plan, retiring
    `contamination_report` 1:1 whose gram-count claim this strictly
    extends): for every evaluation document (odd doc_ids), the
    LONGEST maximal run of tokens covered by training-matched 8-gram
    windows (adjacent/overlapping hits merge — gaps-and-islands on
    eval-doc-partitioned windows), plus span count, leaked-token
    mass, and the truncating leak_milli ratio — a doc with 30
    scattered leaked grams is noise; one 300-token leaked run is a
    verbatim test-set copy.  The train corpus streams through ONE
    broadcast left-semi with ZERO corpus-side shuffles (plan-pinned
    in test_curation.py); the positional span work is eval-sided
    only.  The oracle replays tokenize / positional grams /
    portable-hash membership / island merge in SQL (1-based vs
    0-based positions cancel in span lengths)."""
    docs = load_table(spark, sf_dir, "documents")
    train = docs.filter(F.col("doc_id") % 2 == 0)
    ev = docs.filter(F.col("doc_id") % 2 == 1)
    return curation.contamination_spans(train, ev, "text", "doc_id",
                                        n=8)


@query("sample_weighted_group",
       oracle=curation.sample_weighted_per_group_oracle_sql(
           30, _BPE_SQL, "lang", group_out="lang"))
def sample_weighted_group(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exactly-n weighted draws PER LANGUAGE (functions/curation.py
    sample_weighted_n_per_group — registered r13 per the r12 plan):
    the stratified data-mixing shape (a fixed token budget per
    stratum, drawn by document weight) — 30 BPE-token-weighted draws
    per language via integer systematic sampling run independently
    inside every stratum.  Unlike the global `sample_weighted`
    (allowlisted ≤shards-row offset window), every window here is
    group-PARTITIONED — per-(group, shard) prefix sums, a
    group-partitioned offset table, DECIMAL(38,0) ceil walk;
    Σpicks = 30 per group exactly, hypothesis-pinned vs an
    independent python model and bit-replayed by the oracle's
    HUGEINT walk of the same (shard, hash, id) order."""
    docs = load_table(spark, sf_dir, "documents")
    sized = docs.select(
        "lang", "doc_id",
        text.bpe_token_count("text").cast("long").alias("w"))
    return curation.sample_weighted_n_per_group(
        sized, "lang", "doc_id", "w", 30)


_WATERFILL_BUDGET = 100_000


@query("token_waterfill",
       oracle=curation.token_waterfill_oracle_sql(
           _WATERFILL_BUDGET, group_col="lang"))
def token_waterfill(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Max-min fair integer allocation of a global token budget
    across language strata (functions/curation.py token_waterfill,
    Bertsekas & Gallager 1992 §6.5.2 — registered r13 per the r12
    plan): every stratum capped at a common water level L, strata
    with less contribute everything, L the largest affordable level,
    leftover distributed deterministically — Σalloc =
    min(budget, Σavail) EXACTLY (hypothesis-pinned vs a binary-search
    model).  The allocator runs entirely on the ≤|strata|-row totals
    frame: one map-side-combined per-language sum of n_chars, then
    rank/prefix windows over |strata| rows (allowlisted in
    test_plans._GLOBAL_WINDOW_OK — the bounded-by-construction
    envelope sample_weighted's offset table rides).  The oracle
    replays the level search and the leftover tie-break
    integer-exactly."""
    docs = load_table(spark, sf_dir, "documents")
    totals = docs.groupBy("lang").agg(
        F.sum("n_chars").cast("long").alias("avail"))
    return curation.token_waterfill(totals, "lang", "avail",
                                    budget=_WATERFILL_BUDGET)
