"""Training-data-pipeline queries over documents/embeddings, each
oracle-paired (the SQL replicates the exact same portable-hash
computation, so DuckDB verifies MinHash/SimHash/LSH byte-for-byte).

Registered into the same QUERIES/ORACLE_SQL dicts as plans.queries.
"""

from __future__ import annotations

from pyspark.sql import DataFrame, SparkSession
from pyspark.sql import functions as F

from kafkadirect_spark.functions import bpe, dedup, multimodal, similarity, text
from kafkadirect_spark.functions.dedup import HASH_P, PERMS, ROWS_PER_BAND
from kafkadirect_spark.plans.queries import query
from kafkadirect_spark.sources.batch import load_table

# Shared SQL fragments — the DuckDB formulation of text.portable_hash
# and the tokenize/shingle pipeline (kept textually in sync with
# functions/text.py; the correctness gate is what enforces the sync).

_PHASH = "(('0x' || substr(md5({x}), 1, 14))::BIGINT % 2147483647)"
_TOK = ("list_filter(regexp_split_to_array(lower(text), '[^a-z0-9]+'), "
        "x -> x <> '')")
_STOPWORDS_SQL = "[" + ", ".join(f"'{w}'" for w in text.STOPWORDS) + "]"

_SHINGLES_CTE = f"""
    tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
    sh0 AS (
      SELECT doc_id, w[g] || ' ' || w[g+1] || ' ' || w[g+2] AS shingle
      FROM (SELECT doc_id, w, unnest(generate_series(1, len(w)-2)) AS g
            FROM tok WHERE len(w) >= 3)
    ),
    sh AS (SELECT DISTINCT doc_id, shingle FROM sh0)
"""

_PERMS_VALUES = ", ".join(f"({i}, {a}, {b})" for i, (a, b) in enumerate(PERMS))


@query(
    "dedup_jaccard_prefix",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS common
      FROM sh a JOIN sh b ON a.shingle = b.shingle AND a.doc_id < b.doc_id
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           common * 1.0 / (sa.n + sb.n - common) AS jaccard
    FROM pairs
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE common * 2 >= (sa.n + sb.n - common)
    """,
)
def dedup_jaccard_prefix(spark: SparkSession, sf_dir: str) -> DataFrame:
    """EXACT 3-gram Jaccard pairs >= 0.5 via prefix filtering (Bayardo
    2007 / PPJoin) — UNLIKE dedup_ngram_jaccard, no hot-shingle cap
    and no approximation: the index self-join keys on each set's
    df-ascending PREFIX only (a provably lossless filter — see
    functions/dedup.py jaccard_prefix_pairs), so the oracle here is
    the full UNCAPPED pairwise formulation, scale-naive but
    semantically identical.  Hot boilerplate shingles sort last by
    document frequency and structurally stay out of prefixes — the
    skew the cap existed for can't form join buckets here."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.jaccard_prefix_pairs(docs, "text", "doc_id", n=3,
                                      tau_num=1, tau_den=2)


# CTE chain ending in the banded signatures — shared by the LSH-pairs
# oracle and the duplicate-cluster oracle built on top of them.
_MINHASH_BANDS_CTES = f"""{_SHINGLES_CTE},
    h AS (SELECT doc_id, {_PHASH.format(x='shingle')} AS h FROM sh),
    perms(i, a, b) AS (VALUES {_PERMS_VALUES}),
    sig AS (
      SELECT doc_id, i, MIN((a * h + b) % {HASH_P}) AS v
      FROM h, perms GROUP BY doc_id, i
    ),
    bands AS (
      SELECT doc_id, i // {ROWS_PER_BAND} AS band,
             MAX(CASE WHEN i % {ROWS_PER_BAND} = 0 THEN v END) AS v0,
             MAX(CASE WHEN i % {ROWS_PER_BAND} = 1 THEN v END) AS v1,
             MAX(CASE WHEN i % {ROWS_PER_BAND} = 2 THEN v END) AS v2,
             MAX(CASE WHEN i % {ROWS_PER_BAND} = 3 THEN v END) AS v3
      FROM sig GROUP BY doc_id, i // {ROWS_PER_BAND}
    )"""


# Shared with the graph registrations (the _SIMHASH_PAIRS_ORACLE
# pattern): graph.triangle_stats_oracle_sql /
# local_clustering_oracle_sql compose THIS text as their edge CTE, so
# the registered pair replay and the graph replay can never drift
# apart (byte-identity pinned in tests/test_graph.py).
_MINHASH_PAIRS_ORACLE = f"""
    WITH {_MINHASH_BANDS_CTES}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band, v0, v1, v2, v3)
    WHERE a.doc_id < b.doc_id
    """


@query("dedup_minhash_lsh", oracle=_MINHASH_PAIRS_ORACLE)
def dedup_minhash_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Banded MinHash-LSH candidate pairs (32 hashes, 8 bands × 4) —
    the sub-quadratic 100 TB near-dup path; shuffles only on
    groupBy(doc) and groupBy(band, signature)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3)
    return dedup.lsh_candidate_pairs(sigs, "doc_id")


@query(
    "dedup_clusters",
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
    )
    SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster
    FROM documents d LEFT JOIN labels l USING (doc_id)
    """,
)
def dedup_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Near-dup cluster assignment: MinHash-LSH candidate pairs →
    connected components (min-label propagation) → every document
    labeled with its cluster's canonical keeper id.  The step an
    actual training pipeline runs after candidate generation; the
    oracle computes the same components via a recursive-CTE closure
    (fine at sf0.01; the engine side never materializes the closure)."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    return dedup.dedup_cluster_assign(docs, pairs, "doc_id")


# SimHash CTE chain ending in (doc_id, simhash) — shared by the
# signature oracle and the Hamming-pair oracle built on top of it.
_SIMHASH_CTES = f"""
    tok0 AS (
      SELECT doc_id, unnest({_TOK}) AS tok FROM documents
    ),
    tokd AS (SELECT DISTINCT doc_id, tok FROM tok0),
    hh AS (SELECT doc_id, {_PHASH.format(x='tok')} AS h FROM tokd),
    bits AS (
      SELECT doc_id, j,
             SUM(CASE WHEN (h >> j) & 1 = 1 THEN 1 ELSE -1 END) AS s
      FROM hh, (SELECT unnest(generate_series(0, 31)) AS j) js
      GROUP BY doc_id, j
    ),
    shsig AS (
      SELECT doc_id,
             CAST(SUM(CASE WHEN s > 0 THEN 1::BIGINT << j ELSE 0 END) AS BIGINT)
               AS simhash
      FROM bits GROUP BY doc_id
    )"""


# Shared by dedup_simhash_pairs AND (as the candidate CTE)
# dedup_edit_verified's composed oracle — one definition so the two
# registered replays can never drift apart.
_SIMHASH_PAIRS_ORACLE = f"""
    WITH {_SIMHASH_CTES},
    bands AS (
      SELECT doc_id, simhash, b, (simhash >> (b * 8)) & 255 AS v
      FROM shsig, (SELECT unnest(generate_series(0, 3)) AS b) bs
    )
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b,
           CAST(bit_count(xor(a.simhash, b.simhash)) AS INTEGER) AS hamming
    FROM bands a JOIN bands b USING (b, v)
    WHERE a.doc_id < b.doc_id
      AND bit_count(xor(a.simhash, b.simhash)) <= 3
    """


@query("dedup_simhash_pairs", oracle=_SIMHASH_PAIRS_ORACLE)
def dedup_simhash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SimHash near-dup pairs (Hamming ≤ 3) via 4-byte band buckets —
    pigeonhole makes candidate recall exact for distance < 4; only
    band collisions pay the bit_count verification.  The second
    sub-quadratic near-dup path, fully SQL-replayed."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.simhash_pairs(docs, "text", "doc_id",
                               bits=32, max_hamming=3, n_bands=4)


@query(
    "dedup_verified_pairs",
    oracle=f"""
    WITH {_MINHASH_BANDS_CTES},
    pairs AS (
      SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
      FROM bands a JOIN bands b USING (band, v0, v1, v2, v3)
      WHERE a.doc_id < b.doc_id
    ),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM sh GROUP BY doc_id),
    common AS (
      SELECT p.id_a, p.id_b, COUNT(*) AS c
      FROM pairs p
      JOIN sh a ON a.doc_id = p.id_a
      JOIN sh b ON b.doc_id = p.id_b AND a.shingle = b.shingle
      GROUP BY 1, 2
    )
    SELECT id_a, id_b,
           c * 1.0 / (sa.n + sb.n - c) AS jaccard
    FROM common
    JOIN sizes sa ON id_a = sa.doc_id
    JOIN sizes sb ON id_b = sb.doc_id
    WHERE c * 1.0 / (sa.n + sb.n - c) >= 0.8
    """,
)
def dedup_verified_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """The canonical candidates→verify composition: MinHash-LSH
    candidate pairs, then exact 3-gram Jaccard computed ONLY for the
    candidates (shingle index semi-joined to candidate docs) — the
    production near-dup pipeline stage between bucket generation and
    clustering; work bounded by candidates, never the corpus."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    return dedup.jaccard_verify(docs, pairs, "text", "doc_id",
                                n=3, threshold=0.8)


@query(
    "dedup_edit_verified",
    oracle=dedup.edit_verify_oracle_sql(_SIMHASH_PAIRS_ORACLE,
                                        max_dist_milli=500),
)
def dedup_edit_verified(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact Levenshtein verification of the SimHash candidate pairs
    (functions/dedup.py edit_verify_pairs): the candidates→verify
    composition with the STRONGEST
    verifier — true edit distance over the canonical ASCII token
    surface capped at max_chars (the stated-and-enforced O(n·m) cost
    envelope), emitting the truncating dist_milli = 1000·lev DIV
    max(len_a, len_b, 1).  Two candidate-sized hash joins against the
    text projection, never corpus×corpus; the distance itself is
    row-local JVM work.  The oracle wraps the registered simhash
    query's own oracle SQL as the candidate CTE, so the verification
    stage replays end-to-end on the same generator the driver already
    checks."""
    docs = load_table(spark, sf_dir, "documents")
    cand = dedup.simhash_pairs(docs, "text", "doc_id",
                               bits=32, max_hamming=3, n_bands=4)
    return dedup.edit_verify_pairs(docs, cand, "text", "doc_id",
                                   max_dist_milli=500)


@query(
    "text_langid",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS w FROM documents)
    SELECT doc_id,
           CASE WHEN len(w) > 0 AND
                     CAST(len(list_filter(w, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE) / len(w) >= 0.05
                THEN 'en' ELSE 'unknown' END AS pred_lang
    FROM tok
    """,
)
def text_langid(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Language-ID heuristic (stopword-ratio classifier)."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.select(
        "doc_id", text.lang_guess(text.tokens("text")).alias("pred_lang"))


@query(
    "text_quality",
    oracle=f"""
    WITH tok AS (SELECT doc_id, text, {_TOK} AS w FROM documents)
    SELECT doc_id,
           CAST(len(regexp_extract_all(lower(text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT)
             AS bpe_tokens,
           CASE WHEN length(replace(text, ' ', '')) > 0
                THEN CAST(length(regexp_replace(lower(text), '[a-z0-9 ]', '', 'g')) AS DOUBLE)
                     / length(replace(text, ' ', ''))
                ELSE 0.0 END AS punct_ratio,
           CASE WHEN len(w) > 0 AND length(text) >= 200
                     AND CAST(len(list_filter(w, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE) / len(w) >= 0.02
                THEN true ELSE false END AS keep
    FROM tok
    """,
)
def text_quality(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Quality scoring: BPE-ish token estimate, punctuation ratio, and
    a keep/drop gate (length + stopword-ratio heuristic) — the filter
    stage of a training-data pipeline, as pure column expressions."""
    docs = load_table(spark, sf_dir, "documents")
    w = text.tokens("text")
    keep = (
        (F.size(w) > 0) & (F.length("text") >= 200)
        & (text.stopword_ratio(w) >= 0.02)
    )
    return docs.select(
        "doc_id",
        text.bpe_token_count("text").cast("long").alias("bpe_tokens"),
        text.punct_ratio("text").alias("punct_ratio"),
        keep.alias("keep"),
    )


@query(
    "text_repetition",
    oracle=f"""
    WITH tok AS (SELECT doc_id, {_TOK} AS w FROM documents),
    g AS (
      SELECT doc_id,
             CASE WHEN len(w) >= 2
                  THEN list_transform(generate_series(1, len(w)-1),
                                      i -> w[i] || ' ' || w[i+1])
                  ELSE [] END AS g2,
             CASE WHEN len(w) >= 3
                  THEN list_transform(generate_series(1, len(w)-2),
                                      i -> w[i] || ' ' || w[i+1] || ' ' || w[i+2])
                  ELSE [] END AS g3
      FROM tok
    )
    SELECT doc_id,
           CASE WHEN len(g2) > 0
                THEN 1.0 - CAST(len(list_distinct(g2)) AS DOUBLE) / len(g2)
                ELSE 0.0 END AS rep2,
           CASE WHEN len(g3) > 0
                THEN 1.0 - CAST(len(list_distinct(g3)) AS DOUBLE) / len(g3)
                ELSE 0.0 END AS rep3
    FROM g
    """,
)
def text_repetition(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Within-doc repetition ratios (duplicate 2-gram and 3-gram
    fractions) — the Gopher-style templated-text quality signal, as
    pure array expressions; one scan, no shuffle."""
    docs = load_table(spark, sf_dir, "documents")
    w = text.tokens("text")
    return docs.select(
        "doc_id",
        text.repetition_ratio(w, n=2).alias("rep2"),
        text.repetition_ratio(w, n=3).alias("rep3"))


@query(
    "doc_fingerprint",
    oracle=f"""
    SELECT doc_id,
           MIN({_PHASH.format(x='substr(text, g, 5)')}) AS fp
    FROM (SELECT doc_id, text, unnest(generate_series(1, length(text) - 4)) AS g
          FROM documents WHERE length(text) >= 5)
    GROUP BY doc_id
    """,
)
def doc_fingerprint(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Rolling-hash document fingerprint: min portable hash over
    char-5-grams."""
    docs = load_table(spark, sf_dir, "documents")
    return docs.filter(F.length("text") >= 5).select(
        "doc_id", text.fingerprint("text", k=5).alias("fp"))


@query(
    "doc_winnow",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, g,
             {_PHASH.format(x='substr(text, g, 5)')} AS h
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text)-4)) AS g
            FROM documents WHERE length(text) >= 5)
    ),
    win AS (
      SELECT a.doc_id, a.g AS ws, MIN(b.h) AS fp
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.g BETWEEN a.g AND a.g+3
      WHERE a.g <= (SELECT MAX(g) FROM pos p WHERE p.doc_id = a.doc_id) - 3
      GROUP BY 1, 2
    )
    SELECT DISTINCT doc_id, fp FROM win
    """,
)
def doc_winnow(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Winnowing fingerprints (k=5 char-grams, window w=4): any shared
    substring ≥ 8 chars between docs shares a fingerprint — the
    partial-overlap detector.  Uses the STAGED ``text.winnow_fps``
    form (gram hashes materialized as a projection column before the
    window lambda) — the single-expression ``text.winnow`` re-hashed
    all n grams per window (codegen CSE does not reach into lambdas),
    O(n²) md5s per row, measured 122× slower at sf0.01.  Still
    row-local: two projections + one explode, zero data shuffles —
    the dedup._widen round-robin only fires when the scan has fewer
    files than cores (small-SF fixture; a no-op at 100 TB), spreading
    the hash-heavy map work cluster-wide (5.8× at sf0.1)."""
    docs = load_table(spark, sf_dir, "documents")
    return text.winnow_fps(dedup._widen(docs.select("doc_id", "text")),
                           "text", "doc_id", k=5, w=4)


@query(
    "winnow_overlap_pairs",
    oracle=f"""
    WITH pos AS (
      SELECT doc_id, g,
             {_PHASH.format(x='substr(text, g, 5)')} AS h
      FROM (SELECT doc_id, text, unnest(generate_series(1, length(text)-4)) AS g
            FROM documents WHERE length(text) >= 5)
    ),
    win AS (
      SELECT a.doc_id, a.g AS ws, MIN(b.h) AS fp
      FROM pos a JOIN pos b ON b.doc_id = a.doc_id AND b.g BETWEEN a.g AND a.g+3
      WHERE a.g <= (SELECT MAX(g) FROM pos p WHERE p.doc_id = a.doc_id) - 3
      GROUP BY 1, 2
    ),
    fps0 AS (SELECT DISTINCT doc_id, fp FROM win),
    keep AS (SELECT fp FROM fps0 GROUP BY fp HAVING COUNT(*) <= 50),
    fps AS (SELECT f.doc_id, f.fp FROM fps0 f JOIN keep USING (fp))
    SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS shared_fps
    FROM fps a JOIN fps b ON a.fp = b.fp AND a.doc_id < b.doc_id
    GROUP BY 1, 2
    HAVING COUNT(*) >= 3
    """,
)
def winnow_overlap_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cross-doc partial-overlap pairs: ≥3 shared winnowing
    fingerprints (hot fingerprints capped at df ≤ 50) — detects
    copied spans exact and near-dup hashing miss; inverted-index
    join, never all-pairs."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.winnow_overlap_pairs(docs, "text", "doc_id",
                                      k=5, w=4, min_shared=3,
                                      max_doc_freq=50)


@query(
    "similarity_topk",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    pairs AS (
      SELECT a.vec_id AS vec_id, b.vec_id AS nid,
             list_cosine_similarity(a.e, b.e) AS cos
      FROM v a JOIN v b ON a.vec_id <> b.vec_id
    ),
    ranked AS (
      SELECT vec_id, nid,
             row_number() OVER (PARTITION BY vec_id ORDER BY cos DESC, nid)
               AS rank
      FROM pairs
    )
    SELECT vec_id, nid AS neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def similarity_topk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact brute-force cosine top-3 neighbors — the ANN correctness
    baseline, via the vectorized BLAS-matmul path (ranks output, not
    raw floats, for hash stability)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.cosine_topk_blas(emb, "vec_id", "embedding", k=3)
    return out.withColumn("rank", F.col("rank").cast("long"))


def _ann_oracle_sql(probe_radius: int = 0) -> str:
    """Replicate the hyperplane-LSH ANN in SQL: the frozen Rademacher
    planes are embedded as literal DOUBLE arrays, so DuckDB computes
    the same buckets, candidates, and ranks as the engine.  With
    ``probe_radius`` the probe side also XOR-flips ≤ radius bucket
    bits — the multiprobe variant."""
    planes = similarity._planes(64)
    selects = []
    for t, table in enumerate(planes):
        bits = " + ".join(
            f"(CASE WHEN list_dot_product(e, {[float(c) for c in plane]}"
            f"::DOUBLE[]) >= 0 THEN {2 ** j} ELSE 0 END)"
            for j, plane in enumerate(table)
        )
        selects.append(f"SELECT vec_id, {t} AS tbl, ({bits}) AS bucket FROM v")
    buckets = " UNION ALL ".join(selects)
    probes = " UNION ALL ".join(
        f"SELECT vec_id, tbl, xor(bucket, {m}) AS bucket FROM buckets"
        for m in similarity.probe_buckets(probe_radius)
    )
    return f"""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    buckets AS ({buckets}),
    probes AS ({probes}),
    cand AS (
      SELECT DISTINCT a.vec_id AS pid, b.vec_id AS nid
      FROM probes a JOIN buckets b
        ON a.tbl = b.tbl AND a.bucket = b.bucket AND a.vec_id <> b.vec_id
    ),
    scored AS (
      SELECT pid, nid, list_cosine_similarity(va.e, vb.e) AS cos
      FROM cand JOIN v va ON pid = va.vec_id JOIN v vb ON nid = vb.vec_id
    ),
    ranked AS (
      SELECT pid AS vec_id, nid AS neighbor_id,
             row_number() OVER (PARTITION BY pid ORDER BY cos DESC, nid) AS rank
      FROM scored
    )
    SELECT vec_id, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """


@query(
    "similarity_ann_ivf",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cent AS (SELECT vec_id AS cid, e AS ce FROM v WHERE vec_id % 25 = 0),
    sc AS (
      SELECT v.vec_id, c.cid,
             list_cosine_similarity(v.e, c.ce) AS ccos,
             row_number() OVER (PARTITION BY v.vec_id
                                ORDER BY list_cosine_similarity(v.e, c.ce) DESC,
                                         c.cid) AS pr
      FROM v, cent c
    ),
    assign AS (SELECT vec_id AS nid, cid FROM sc WHERE pr = 1),
    probes AS (SELECT vec_id AS pid, cid FROM sc WHERE pr <= 4),
    cand AS (
      SELECT pid, nid FROM probes JOIN assign USING (cid) WHERE pid <> nid
    ),
    scored AS (
      SELECT pid, nid, list_cosine_similarity(a.e, b.e) AS cos
      FROM cand JOIN v a ON pid = a.vec_id JOIN v b ON nid = b.vec_id
    ),
    ranked AS (
      SELECT pid AS vec_id, nid AS neighbor_id,
             row_number() OVER (PARTITION BY pid ORDER BY cos DESC, nid) AS rank
      FROM scored
    )
    SELECT vec_id, neighbor_id, CAST(rank AS BIGINT) AS rank
    FROM ranked WHERE rank <= 3
    """,
)
def similarity_ann_ivf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """IVF ANN top-3: deterministic coarse quantizer (every 25th
    vector), nprobe=4 — exact cosine only within the probed inverted
    lists.  The second sub-quadratic scale path next to LSH; the
    oracle replays the identical quantizer in SQL."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ivf_topk(emb, "vec_id", "embedding", k=3,
                              centroid_stride=25, nprobe=4)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query("similarity_ann_multiprobe", oracle=_ann_oracle_sql(probe_radius=1))
def similarity_ann_multiprobe(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Multiprobe LSH ANN top-3 (Lv et al., VLDB'07): probes also look
    into buckets one sign-bit away, buying recall on the probe side of
    the bucket join instead of with more stored tables — the knob to
    turn at 100 TB where index state is the expensive part."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.ann_lsh_topk(emb, "vec_id", "embedding", dim=64, k=3,
                                  probe_radius=1)
    return out.withColumn("rank", F.col("rank").cast("long"))


@query(
    "dedup_embedding_cosine",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings)
    SELECT a.vec_id AS id_a, b.vec_id AS id_b
    FROM v a JOIN v b ON a.vec_id < b.vec_id
    WHERE list_cosine_similarity(a.e, b.e) >= 0.45
    """,
)
def dedup_embedding_cosine(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Embedding-cosine near-dup pairs (cosine ≥ 0.45), candidate →
    verify: multiprobe-LSH bucket pairs bound the work sub-quadratically,
    then a JVM-expression exact cosine restores exact semantics on the
    survivors.  No vector ever reaches the driver — the 100 TB shape
    (the exact all-pairs baseline lives in the oracle SQL; radius-1
    multiprobe is verified to reach full recall at this threshold on
    the test embeddings, see tests/test_llm_ops.py)."""
    emb = load_table(spark, sf_dir, "embeddings")
    cand = similarity.lsh_candidate_pairs(
        emb, "vec_id", "embedding", dim=64, probe_radius=1)
    return similarity.cosine_verify_pairs(
        emb, cand, "vec_id", "embedding", threshold=0.45
    ).select("id_a", "id_b")


_KEEP_GATE_SQL = f"""length(text) >= 200 AND len({_TOK}) > 0
      AND CAST(len(list_filter({_TOK}, x -> list_contains({_STOPWORDS_SQL}, x))) AS DOUBLE)
          / len({_TOK}) >= 0.02"""


@query(
    "corpus_curation",
    oracle=f"""
    WITH RECURSIVE
    base0 AS (
      SELECT doc_id, text FROM documents WHERE {_KEEP_GATE_SQL}
    ),
    ex AS (SELECT doc_id, md5(text) AS h FROM base0),
    keepers AS (SELECT MIN(doc_id) AS doc_id FROM ex GROUP BY h),
    base AS (SELECT b.doc_id, b.text FROM base0 b JOIN keepers k USING (doc_id)),
    {_MINHASH_BANDS_CTES.replace("FROM documents", "FROM base")},
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
      SELECT u AS doc_id, LEAST(u, MIN(v)) AS cluster FROM reach GROUP BY u
    )
    SELECT b.doc_id,
           CAST(len(regexp_extract_all(lower(b.text), ' ?[a-z]+| ?[0-9]+| ?[^a-z0-9 ]+')) AS BIGINT)
             AS bpe_tokens
    FROM base b LEFT JOIN labels l USING (doc_id)
    WHERE COALESCE(l.cluster, b.doc_id) = b.doc_id
    """,
)
def corpus_curation(spark: SparkSession, sf_dir: str) -> DataFrame:
    """End-to-end training-corpus curation — the whole pipeline as ONE
    oracle-paired query: quality keep-gate (length + stopword ratio) →
    exact-dedup keeper (min doc id per content hash) → MinHash-LSH
    near-dup clustering keeper (min id of each connected component) →
    surviving docs with their token budget.

    Shuffle ledger at 100 TB: one groupBy(content-hash), one
    groupBy(doc) for signatures, one groupBy(band,sig) for buckets,
    diameter-bounded label-propagation rounds over candidate-pair ids
    only, one semijoin back — no all-pairs stage anywhere."""
    docs = load_table(spark, sf_dir, "documents")
    w = text.tokens("text")
    # kept is persisted: it feeds exact_dedup AND the keeper
    # join's left side, and the gate's tokenize + stopword-ratio pass
    # is the expensive part — without the cache it ran twice
    # (measured 4.05 s → 3.17 s best-of-3 at sf0.1, guide §5 persist
    # rule: reused AND expensive to recompute)
    kept = dedup._persist(docs.filter(
        (F.length("text") >= 200) & (F.size(w) > 0)
        & (text.stopword_ratio(w) >= 0.02)))
    ex = dedup.exact_dedup(kept, "text", "doc_id")
    # three consumers (signatures, cluster assign, survivor join) —
    # persist so the keeper semi-join runs once
    reps = dedup._persist(kept.join(
        ex.select(F.col("keeper").alias("doc_id")), "doc_id"))
    sigs = dedup.minhash_signatures(reps, "text", "doc_id", n=3)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    clusters = dedup.dedup_cluster_assign(reps, pairs, "doc_id")
    survivors = (reps.join(clusters, "doc_id")
                 .filter(F.col("doc_id") == F.col("cluster")))
    return survivors.select(
        "doc_id", text.bpe_token_count("text").cast("long").alias("bpe_tokens"))


@query(
    "embedding_quantize",
    oracle="""
    WITH d AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings),
    s AS (
      SELECT vec_id, x,
             list_max(list_transform(x, v -> abs(v))) AS scale
      FROM d),
    q AS (
      SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(x, v -> 0)
                  ELSE list_transform(
                    x, v -> CAST(floor(v * 127 / scale) AS INT))
             END AS qvec
      FROM s)
    SELECT vec_id, scale, md5(array_to_string(qvec, ',')) AS qvec_md5
    FROM q
    """,
)
def embedding_quantize(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-vector int8 quantization of the embedding store —
    functions/similarity.py:quantize_int8.  Row-local array codegen;
    double-forced arithmetic makes the floor boundary engine-exact.

    The registered query surfaces the quantized vector as an md5 over
    its canonical CSV rendering rather than the raw ArrayType column:
    the correctness gate canonicalizes rows with a pandas sort, which
    cannot hash list cells (repo rule: registered queries emit scalar
    columns only — callers wanting the arrays use quantize_int8
    directly)."""
    emb = load_table(spark, sf_dir, "embeddings")
    q = similarity.quantize_int8(emb, "vec_id", "embedding")
    return q.select(
        "vec_id", "scale",
        F.md5(F.concat_ws(
            ",", F.transform(F.col("qvec"), lambda v: v.cast("string")))
        ).alias("qvec_md5"))


@query(
    "semantic_clusters",
    oracle="""
    WITH v AS (SELECT vec_id, embedding::DOUBLE[] AS e FROM embeddings),
    cents AS (SELECT vec_id AS cid, e AS c FROM v ORDER BY vec_id LIMIT 8),
    scored AS (
      SELECT v.vec_id, cents.cid,
             list_dot_product(v.e, cents.c)
               / (sqrt(list_dot_product(v.e, v.e))
                  * sqrt(list_dot_product(cents.c, cents.c))) AS cos
      FROM v CROSS JOIN cents),
    ranked AS (
      SELECT vec_id, cid,
             row_number() OVER (PARTITION BY vec_id
                                ORDER BY cos DESC, cid ASC) AS rn
      FROM scored)
    SELECT vec_id, CAST(cid AS BIGINT) AS cluster_id
    FROM ranked WHERE rn = 1
    """,
)
def semantic_clusters(spark: SparkSession, sf_dir: str) -> DataFrame:
    """SemDeDup-style semantic cluster assignment
    (functions/similarity.py:assign_clusters): every vector labeled
    with its nearest of k=8 deterministic centroids by cosine.  The
    centroids are embedded as literal arrays so the assignment is a
    zero-shuffle per-row argmax projection; the oracle replays the
    identical sequential-sum cosine with an explicit cross join (the
    oracle may cross join — the ENGINE must not)."""
    emb = load_table(spark, sf_dir, "embeddings")
    return similarity.assign_clusters(emb, "vec_id", "embedding", k=8)


@query(
    "dedup_containment_anti",
    oracle=f"""
    WITH {_SHINGLES_CTE},
    keep AS (SELECT shingle FROM sh GROUP BY shingle HAVING COUNT(*) <= 50),
    shf AS (SELECT sh.doc_id, sh.shingle FROM sh JOIN keep USING (shingle)),
    sizes AS (SELECT doc_id, COUNT(*) AS n FROM shf GROUP BY 1),
    pairs AS (
      SELECT a.doc_id AS id_a, b.doc_id AS id_b, COUNT(*) AS c
      FROM shf a JOIN shf b USING (shingle)
      WHERE a.doc_id < b.doc_id GROUP BY 1, 2
    ),
    contained AS (
      SELECT id_a AS doc_id
      FROM pairs JOIN sizes sa ON sa.doc_id = pairs.id_a
      WHERE CAST(c AS DOUBLE) / sa.n >= 0.3
      UNION
      SELECT id_b
      FROM pairs JOIN sizes sb ON sb.doc_id = pairs.id_b
      WHERE CAST(c AS DOUBLE) / sb.n >= 0.3
    )
    SELECT d.doc_id, d.n_chars FROM documents d
    WHERE d.doc_id NOT IN (SELECT doc_id FROM contained)
    """,
)
def dedup_containment_anti(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Containment SURVIVORS (functions/dedup.py containment_pairs,
    how='anti'): every document NOT subsumed by another at ≥ 0.3
    containment — the "keep only unsubsumed docs" curation shape
    computed from the capped shingle inverted-index intersection
    plus ONE left-anti hash join
    (the contained-id side is the pair table's distinct projection,
    never a second corpus pass)."""
    docs = load_table(spark, sf_dir, "documents")
    out = dedup.containment_pairs(docs, "text", "doc_id",
                                  n=3, threshold=0.3, max_doc_freq=50,
                                  how="anti")
    return out.select("doc_id", "n_chars")


@query(
    "dedup_incremental_lsh",
    oracle=f"""
    WITH {_MINHASH_BANDS_CTES}
    SELECT DISTINCT a.doc_id AS id_a, b.doc_id AS id_b
    FROM bands a JOIN bands b USING (band, v0, v1, v2, v3)
    WHERE a.doc_id < b.doc_id
      AND (a.doc_id % 5 = 0 OR b.doc_id % 5 = 0)
    """,
)
def dedup_incremental_lsh(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ingest dedup (functions/dedup.py:
    incremental_lsh_candidates): docs with doc_id % 5 == 0 play the
    daily drop, the rest the already-signed corpus index; candidates
    where at least one side is new — the corpus-vs-corpus quadrant is
    never re-paired.  Equals lsh_candidate_pairs(all) minus
    lsh_candidate_pairs(index), which is what the oracle replays."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3)
    new = sigs.filter(F.col("doc_id") % 5 == 0)
    index = sigs.filter(F.col("doc_id") % 5 != 0)
    return dedup.incremental_lsh_candidates(new, index, "doc_id")


@query(
    "embedding_random_projection",
    oracle=None,  # filled below — the sign matrix is generated
)
def embedding_random_projection(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Signed random projection (functions/similarity.py:
    random_project): 64-dim float embeddings → 16 integer components
    over the int8-quantized vector — the JL-preserving pre-ANN shrink.
    Row-local codegen, zero shuffles; the ±1 matrix is frozen by seed
    and embedded as literals in both engines.  Gate emits the md5 of
    the projected vector's CSV form (repo rule: scalar columns only)."""
    emb = load_table(spark, sf_dir, "embeddings")
    out = similarity.random_project(emb, "vec_id", "embedding",
                                    out_dim=16, seed=11)
    return out.select(
        "vec_id", "scale",
        F.md5(F.concat_ws(
            ",", F.transform(F.col("yvec"), lambda v: v.cast("string")))
        ).alias("yvec_md5"))


def _random_projection_oracle() -> str:
    signs = similarity.rademacher_matrix(16, 64, seed=11)
    comps = ", ".join(
        f"CAST(list_dot_product(qvec, {row}) AS BIGINT)" for row in signs)
    return f"""
    WITH d AS (
      SELECT vec_id,
             list_transform(embedding, v -> CAST(v AS DOUBLE)) AS x
      FROM embeddings),
    s AS (
      SELECT vec_id, x,
             list_max(list_transform(x, v -> abs(v))) AS scale
      FROM d),
    q AS (
      SELECT vec_id, scale,
             CASE WHEN scale = 0 THEN list_transform(x, v -> 0)
                  ELSE list_transform(
                    x, v -> CAST(floor(v * 127 / scale) AS INT))
             END AS qvec
      FROM s)
    SELECT vec_id, scale,
           md5(array_to_string([{comps}], ',')) AS yvec_md5
    FROM q
    """


from kafkadirect_spark.plans.queries import ORACLE_SQL as _ORACLE_SQL  # noqa: E402

_ORACLE_SQL["embedding_random_projection"] = _random_projection_oracle()


# ---------------------------------------------------------------------------
# BPE tokenizer training (functions/bpe.py) — the "train a tokenizer
# on the corpus" step.  Params small enough that the oracle's
# unrolled recursive-CTE replay stays sub-second at sf0.01.
# ---------------------------------------------------------------------------

_BPE_PARAMS = dict(n_merges=12, min_count=2, max_word_types=4096)


@query(
    "bpe_merges",
    oracle=bpe.merges_oracle_sql(**_BPE_PARAMS),
)
def bpe_merges(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Learn a 12-merge BPE vocabulary from the documents corpus —
    distributed word-type counting (the corpus-scale pass: one
    explode→groupBy with map-side combine, then a TakeOrdered cap),
    exact greedy merge learning over the bounded type table.  The
    oracle replays every round (pair counts → argmax → recursive-CTE
    rewrite) in DuckDB; ties break (count DESC, lhs ASC, rhs ASC)
    in both engines."""
    docs = load_table(spark, sf_dir, "documents")
    return bpe.learn_bpe(docs, "text", **_BPE_PARAMS)


@query(
    "bpe_token_lengths",
    oracle=bpe.encode_lengths_oracle_sql(**_BPE_PARAMS),
)
def bpe_token_lengths(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document token count under the LEARNED tokenizer — the
    exact "how many tokens is my corpus under this vocab" pass (the
    real form of text.bpe_token_count's regex guess).  Train, then
    one mapInPandas encode pass with the merge list in the task
    closure and a per-task word→segmentation memo; inference covers
    out-of-vocabulary words (the cap/min_count floor excludes them
    from training, not from encoding), which the oracle mirrors with
    a full-type-table rewrite chain."""
    docs = load_table(spark, sf_dir, "documents")
    merges = bpe.learn_bpe(docs, "text", **_BPE_PARAMS)
    return (bpe.bpe_encode(docs, "doc_id", "text", merges)
            .select("doc_id", "n_bpe"))


@query(
    "dedup_keep_longest",
    oracle=f"""
    WITH RECURSIVE {{bands}},
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
    members AS (
      SELECT d.doc_id, COALESCE(l.cluster, d.doc_id) AS cluster,
             d.n_chars
      FROM documents d LEFT JOIN labels l USING (doc_id)
    ),
    ranked AS (
      SELECT cluster, doc_id, n_chars,
             ROW_NUMBER() OVER (PARTITION BY cluster
                                ORDER BY n_chars DESC,
                                         doc_id ASC) AS rk,
             COUNT(*) OVER (PARTITION BY cluster) AS n_docs
      FROM members
    )
    SELECT cluster, doc_id AS keeper, n_chars AS best_quality,
           n_docs FROM ranked WHERE rk = 1
    """.format(bands=_MINHASH_BANDS_CTES),
)
def dedup_keep_longest(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Cluster-representative selection (dedup.keep_best_per_cluster):
    near-dup clusters keep their LONGEST member (n_chars), ties to
    the lowest id — the canonical-copy policy real pipelines use
    instead of min-id.  Engine side: struct-max inside the hash
    aggregate (no window, no per-cluster sort); the oracle ranks
    inside each cluster, which is fine at sf0.01."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    clusters = dedup.dedup_cluster_assign(docs, pairs, "doc_id")
    return dedup.keep_best_per_cluster(
        clusters, docs.select("doc_id", "n_chars"), "doc_id", "n_chars")


# ---------------------------------------------------------------------------
# Unigram-LM tokenizer (functions/unigram.py) — the second tokenizer
# family's driver-verified claim: train the
# hard-EM piece inventory, then encode and split into model-input
# chunks.  The oracle replays BOTH Viterbi-EM training rounds and
# the corpus-wide encode in DuckDB (recursive-CTE Viterbi with
# the DP table carried per word — unigram.chunk_oracle_sql).
# ---------------------------------------------------------------------------

from kafkadirect_spark.functions import unigram  # noqa: E402

_UNIGRAM_PARAMS = dict(vocab_size=16, rounds=2, max_piece_len=4,
                       min_count=2, max_word_types=4096, seed_factor=4)


@query(
    "unigram_chunk",
    oracle=unigram.chunk_oracle_sql(budget=32, **_UNIGRAM_PARAMS),
)
def unigram_chunk(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Model-input assembly under the LEARNED unigram-LM tokenizer
    (Kudo 2018 hard-EM variant): train a 16-piece inventory
    (max_piece_len=4 forces real sub-word segmentation — whole 5+
    char words can't survive as single pieces), encode every
    document, split into ≤32-piece chunks, chunks rendered as
    md5-over-CSV per the scalar-columns-only rule.

    Engine: ONE corpus scan (word-type counting), two EM rounds over
    the bounded type table (mapInPandas Viterbi with scores in the
    task closure + one inventory-sized groupBy each), one stateless
    mapInPandas encode pass, row-local slicing.  The oracle replays
    the exact integer bits, Viterbi tie-breaks, pruning and chunk
    slicing — training AND inference — in pure SQL."""
    docs = load_table(spark, sf_dir, "documents")
    model = unigram.learn_unigram(docs, "text", **_UNIGRAM_PARAMS)
    ch = unigram.unigram_chunk(docs, "doc_id", "text", model, budget=32)
    return ch.select(
        "doc_id", "chunk_idx", "n_pieces",
        F.md5(F.concat_ws(",", "pieces")).alias("pieces_md5"))


# ---------------------------------------------------------------------------
# Content-defined chunking (functions/dedup.py cdc_*) — the CDC
# family's driver-verified claim: LBFS-style
# content-defined boundaries make sub-document dedup insertion-proof
# where fixed-width spans all shift after one edit.
# ---------------------------------------------------------------------------


@query("cdc_dup_stats", oracle=dedup.cdc_stats_oracle_sql())
def cdc_dup_stats(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-document cross-document duplication under content-defined
    chunking (functions/dedup.py cdc_dup_stats): chunking is pure
    row-local array staging (zero exchanges), then ONE map-side-
    combined groupBy(chunk_hash), a chunk-sized hash join back and
    one groupBy(doc).  The oracle replays the portable gram hashes,
    the boundary rule, the spans and the truncating-ppt ratio."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.cdc_dup_stats(docs, "text", "doc_id")


# ---------------------------------------------------------------------------
# Tokenizer consumers (functions/tokeval.py) — shared by BOTH
# tokenizer families: sliding-window model-input
# assembly and the per-slice tokenizer-quality report over the
# TRAINED unigram encode.
# ---------------------------------------------------------------------------

from kafkadirect_spark.functions import text as _text  # noqa: E402
from kafkadirect_spark.functions import tokeval  # noqa: E402


@query("windowed_chunks",
       oracle=tokeval.windows_oracle_sql(budget=32, stride=24))
def windowed_chunks(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Sliding-window context assembly (budget 32, stride 24 —
    genuinely overlapping windows, the pretraining/eval shape) over the plain
    token surface: one sequence-transform + explode, zero shuffles;
    amplification is exactly the window count a training run
    consumes.  Token arrays render as md5-over-CSV per the
    scalar-columns-only rule."""
    docs = load_table(spark, sf_dir, "documents")
    enc = docs.select("doc_id", _text.tokens("text").alias("tokens"))
    ch = tokeval.windowed_chunks(enc, "doc_id", "tokens",
                                 budget=32, stride=24)
    return ch.select(
        "doc_id", "chunk_idx", "start", "n_tokens",
        F.md5(F.concat_ws(",", "tokens")).alias("tokens_md5"))


@query("tokenizer_eval",
       oracle=tokeval.unigram_eval_oracle_sql(by="lang",
                                              **_UNIGRAM_PARAMS))
def tokenizer_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-quality report over the TRAINED unigram
    encode (fertility / compression / char-fallback, all integer
    parts-per-thousand): train (two EM rounds over the bounded type
    table), one stateless mapInPandas encode, one equi-join of the
    encode frame onto (doc, slice, word count) and ONE map-side-
    combined aggregate.  The oracle replays training AND encode via
    the unigram module's recursive-CTE Viterbi, then reduces the
    metrics over per-word-TYPE segmentations joined to occurrences."""
    docs = load_table(spark, sf_dir, "documents")
    model = unigram.learn_unigram(docs, "text", **_UNIGRAM_PARAMS)
    enc = unigram.unigram_encode(docs, "doc_id", "text", model)
    return tokeval.tokenizer_eval(docs, enc, "doc_id", "text",
                                  "pieces", by="lang")


from kafkadirect_spark.functions import wordpiece  # noqa: E402

_WP_PARAMS = dict(n_merges=10, min_count=2, max_word_types=4096)


@query("wordpiece_eval",
       oracle=wordpiece.eval_oracle_sql(by="lang", **_WP_PARAMS))
def wordpiece_eval(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Per-language tokenizer-quality report over the TRAINED
    WordPiece encode (functions/wordpiece.py): the THIRD tokenizer
    family driven through the SAME
    tokeval consumer contract the unigram-backed `tokenizer_eval`
    verifies, so the per-slice eval (fertility / compression /
    char-fallback, integer parts-per-thousand) is driver-checked
    against two families.  Training scores merges as the scaled
    integer (pair·10^18) DIV (lhs·rhs) so the argmax replays
    bit-exactly; encode is greedy longest-match with ## continuations
    and whole-word [UNK], one stateless mapInPandas pass with a
    bounded closure vocab — zero shuffles.  The oracle replays train
    (unrolled merge rounds), encode (longest-match walk recursion)
    and the eval reduction entirely in DuckDB SQL."""
    docs = load_table(spark, sf_dir, "documents")
    vocab = wordpiece.wordpiece_vocab(docs, "text", **_WP_PARAMS)
    enc = wordpiece.wordpiece_encode(docs, "doc_id", "text", vocab)
    return tokeval.tokenizer_eval(docs, enc, "doc_id", "text",
                                  "pieces", by="lang")


# ---------------------------------------------------------------------------
# Exact-substring dedup, hybrid retrieval and image media (each oracle
# generator is pytest-pinned engine == oracle).
# ---------------------------------------------------------------------------

from kafkadirect_spark.functions import retrieval  # noqa: E402


@query("dedup_exactsubstr", oracle=dedup.exactsubstr_oracle_sql())
def dedup_exactsubstr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Alignment-free cross-document repeated-substring dedup — the
    ExactSubstr recipe of Lee et al. 2021, arXiv:2107.06499 §4.1
    (functions/dedup.py exactsubstr_report; it subsumes chunk-aligned
    span dedup at the same hash machinery): every
    non-first occurrence of a duplicated 8-token window marks its
    tokens, overlapping marks merge into maximal spans
    (gaps-and-islands, doc-partitioned windows only), exactly one
    copy of every duplicated substring survives corpus-wide.  One
    gram-hash exchange (min+count algebraic aggregate, hot
    boilerplate grams absorbed map-side), a row-local HOF rebuild —
    no per-token explode on the marked side; organic probe
    7.8→5.5→9.5 s across 16× data (sub-linear, SCALE.md).  Emits
    (doc_id, n_tokens, n_spans, n_removed, kept_md5) — the md5 is
    the scalar rendering of the surviving text (registered-surface
    rule).  The oracle replays sliding gram hashes, min-struct winner
    selection, island merge and the kept-token md5."""
    docs = load_table(spark, sf_dir, "documents")
    return dedup.exactsubstr_report(docs, "text", "doc_id")


_RRF_TERMS = ["data", "model", "learning"]


@query("hybrid_rrf",
       oracle=retrieval.hybrid_rank_rrf_oracle_sql(_RRF_TERMS,
                                                   probe_id=7))
def hybrid_rrf(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Hybrid lexical+semantic retrieval fused by reciprocal-rank
    fusion (functions/retrieval.py hybrid_rank_rrf, Cormack & Clarke
    2009): BM25 top-20 for the term
    query ∪ exact cosine top-20 for probe embedding 7, fused as
    rrf_score = Σ scale DIV (c + rank) — fixed-point integers, only
    RANKS cross the arm boundary, fusion touches ≤ 2·topn rows.  The
    BM25 arm composes the registered `bm25_search` machinery
    verbatim (same scalar-subquery broadcast, _BNLJ_OK rationale);
    the cosine arm is TakeOrdered top-n, never a global sort; the one
    rank window sorts the ≤topn-row lexical result (allowlisted in
    test_plans._GLOBAL_WINDOW_OK).  The oracle replays both arms and
    the truncating fusion.  Cross-engine caveat: the
    semantic arm's ranks come from float64 cosine ordering (numpy
    engine-side vs DuckDB list_cosine_similarity) — the RRF integers
    are exact GIVEN equal ranks; near-tied cosines could in principle
    rank differently across engines (not observed on this corpus)."""
    docs = load_table(spark, sf_dir, "documents")
    emb = load_table(spark, sf_dir, "embeddings")
    return retrieval.hybrid_rank_rrf(docs, emb, _RRF_TERMS, probe_id=7)


@query("media_image_features",
       oracle=multimodal.synth_image_features_oracle_sql("bmp"))
def media_image_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL image-container round-trip, driver-verified end to end
    (functions/multimodal.py): deterministic 24-bit BMP payloads are
    SYNTHESIZED executor-side from doc ids (the object-store
    media-source stand-in: scan → batch → encode), then DECODED by
    the real BMP parser (BGR order, 4-byte row padding) and reduced
    to integer features (width, height, channels, truncating
    mean_milli, min/max pixel).  Zero shuffles end to end.  A green
    row proves the encoder, the decoder AND the feature math agree
    with the oracle's from-scratch SQL replay of the gradient
    synthesis + feature arithmetic — the container round-trip itself
    is the claim.  (The P5/PNM twin is driven through
    media_phash_pairs.)  Synthesis, decode and features run in ONE
    Python stage (multimodal.synth_features), so the payload never
    round-trips through the JVM between two chained Python
    stages."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.synth_features(docs.select("doc_id"), "doc_id",
                                     kind="bmp")


@query("media_phash_pairs",
       oracle=multimodal.synth_phash_pairs_oracle_sql(
           kind="pnm", max_hamming=1))
def media_phash_pairs(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Perceptual image near-duplicate pairs over REAL P5 rasters
    (functions/multimodal.py): synthesize genuine PGM payloads from
    doc ids, decode with the real PNM parser, integer-exact 64-bit
    average-hash (8×8 cell means vs global mean), then Hamming-≤1
    pairs via simhash-style byte bands — candidates bucket on the
    hash's 8 BYTES, recall is pigeonhole-EXACT for max_hamming < 8,
    each band collision pays one row-local bit_count(xor).
    Shuffles: one (band, byte) bucket exchange — never all-pairs.
    max_hamming=1 keeps the result driver-sized (≤2 gives 42.7k rows
    at 5k ids).  The oracle replays synthesis → gray → cells →
    threshold bits → halves → bands → bucket pairs → Hamming
    entirely in SQL — a green row proves the perceptual-dedup
    pipeline AND the container round-trip.  Synthesis, decode and
    aHash run in ONE Python stage (multimodal.synth_phash)."""
    docs = load_table(spark, sf_dir, "documents")
    hashes = multimodal.synth_phash(docs.select("doc_id"), "doc_id",
                                    kind="pnm")
    return multimodal.phash_pairs(hashes, "doc_id", max_hamming=1)


# ---------------------------------------------------------------------------
# Audio media, graph triangles and incremental ExactSubstr (each
# oracle generator is pytest-pinned engine == oracle).
# ---------------------------------------------------------------------------

from kafkadirect_spark.functions.graph import (  # noqa: E402
    triangle_stats, triangle_stats_oracle_sql)


@query("media_audio_features",
       oracle=multimodal.synth_audio_features_oracle_sql())
def media_audio_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL audio-container round-trip — the WAV twin of
    `media_image_features` (functions/multimodal.py): deterministic
    PCM16 triangle waves are SYNTHESIZED executor-side from doc ids
    (the object-store media-source stand-in), then DECODED by the
    real RIFF/WAVE parser (chunk walk, fmt/data extraction,
    little-endian int16 samples) and reduced to integer features
    (sample_rate, channels, n_samples, duration_ms, peak, truncating
    mean-square energy, zero crossings over the sign-carrying
    stream).  Zero shuffles end to end.  The oracle replays the
    triangle synthesis + feature arithmetic from scratch — the WAV
    container is exercised on the ENGINE side only, so a green row
    proves the PCM16 encode/decode round-trip bit-exactly.
    Synthesis, decode and features run in ONE Python stage
    (multimodal.synth_features)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.synth_features(docs.select("doc_id"), "doc_id",
                                     kind="wav")


@query("graph_triangles",
       oracle=triangle_stats_oracle_sql(_MINHASH_PAIRS_ORACLE))
def graph_triangles(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Exact triangle census of the REGISTERED MinHash-LSH candidate
    graph (functions/graph.py triangle_stats, Suri & Vassilvitskii
    2011 — over the SELECTIVE LSH
    pair surface; the simhash band graph is 2.4M edges at sf0.1 and
    its wedge join would own the driver's wall): orient every edge
    low→high in the (degree, id) total order, build wedges only at
    the low endpoint (caps per-node out-degree at O(√m) — the
    last-reducer fix), close them with one semi-join.  The structure
    diagnostic for transitive dedup merging: high closure → tight
    copy cliques, low closure → chains of borderline matches that
    over-collapse.  The one-ROW census aggregates are assembled by
    broadcast cross-join (the scalar-subquery shape —
    test_plans._BNLJ_OK).  The oracle composes the registered
    `dedup_minhash_lsh` oracle VERBATIM as its edge CTE (byte-identity
    pinned in test_graph.py) and replays orientation, wedges and
    closure in SQL."""
    docs = load_table(spark, sf_dir, "documents")
    sigs = dedup.minhash_signatures(docs, "text", "doc_id", n=3)
    pairs = dedup.lsh_candidate_pairs(sigs, "doc_id")
    return triangle_stats(pairs)


@query("dedup_exactsubstr_incr",
       oracle=dedup.exactsubstr_incremental_oracle_sql())
def dedup_exactsubstr_incr(spark: SparkSession, sf_dir: str) -> DataFrame:
    """Incremental ExactSubstr — the daily-ingest form of the
    driver-green `dedup_exactsubstr` (functions/dedup.py
    exactsubstr_incremental):
    dedup a NEW batch (every 5th doc) against an already-accepted
    INDEX corpus (the rest) without re-marking the index.  The
    DISTINCT claim over the registered whole-corpus report is the
    index-membership split: a new-doc token is marked when its gram
    appears ANYWHERE in the index (semi-join against the index's
    distinct hash set — the thing a steady-state pipeline persists
    between ingests) or is a non-first occurrence within the batch
    (the report's own min-struct winner rule); pinned equal to the
    full report over index ∪ new restricted to new rows
    (test_llm_ops.py).  The index side pays ONE distinct-hash
    exchange and never carries positions; nothing index-sized
    re-sorts per batch.  The oracle replays membership, winners and
    the island merge over the new side only."""
    docs = load_table(spark, sf_dir, "documents")
    new = docs.filter(F.col("doc_id") % 5 == 0)
    index = docs.filter(F.col("doc_id") % 5 != 0)
    return dedup.exactsubstr_incremental(new, index, "text", "doc_id")


# ---------------------------------------------------------------------------
# Video media (the oracle generator is pytest-pinned
# engine == oracle).
# ---------------------------------------------------------------------------


@query("media_video_features",
       oracle=multimodal.synth_video_features_oracle_sql())
def media_video_features(spark: SparkSession, sf_dir: str) -> DataFrame:
    """REAL video-container round-trip — the YUV4MPEG2 leg that
    completes the driver-verified image (BMP/PNM) / audio (WAV) /
    video triad (functions/multimodal.py): deterministic
    luma-gradient frame stacks with a mid-stream +96 jump are
    SYNTHESIZED executor-side from doc ids (the object-store
    media-source stand-in), ENCODED
    through the real y4m writer (header tags, FRAME markers, planar
    luma), DECODED back by the real parser, and reduced to integer
    features — dims, frame count, fps, duration_ms, mean luma, and
    the scene-cut localization (largest inter-frame mean-luma delta
    + the first frame achieving it).  Zero shuffles end to end.  The
    oracle replays the gradient synthesis + feature arithmetic from
    scratch — the y4m container is exercised on the ENGINE side
    only, so a green row proves the encode/decode round-trip
    bit-exactly including the cut frame.  Synthesis, encode, decode
    and features run in ONE Python stage
    (multimodal.synth_features)."""
    docs = load_table(spark, sf_dir, "documents")
    return multimodal.synth_features(docs.select("doc_id"), "doc_id",
                                     kind="y4m")
